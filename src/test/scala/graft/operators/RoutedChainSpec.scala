package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Stage-by-stage pins for the q218 routed chain: every arm of the
  * content-type switch routes, the byte-domain payloads survive the
  * WARC+HTTP stack intact, and off-route columns stay NULL. */
class RoutedChainSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("routed chain: arms route, counts account for the 404 gate") {
    // localCheckpoint: the fixture's staged construction must not be
    // inlined into the chain's optimization (see the q218 scaladoc)
    val recs = Multimodal.routedRecords(spark, dir).localCheckpoint()
    val bodies = Warc.warcBodiesBytes(recs, "doc_id", "rec_bin")
    val pages = Http.httpPayloads(bodies, "doc_id", "body",
      keep = Seq("target_uri"),
      keepTypes = Seq("text/html", "image/png", "audio/wav", "application/pdf"))
    val routed = Multimodal.routePayloads(pages, "doc_id",
      keep = Seq("target_uri")).cache()
    val n = graft.sources.Tables.documents(spark, dir).count()
    val got = routed.groupBy(col("route")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val ids = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id")).collect().map(_.getLong(0))
    def expect(m4: Int): Long =
      ids.count(id => id % 4 == m4 && id % 5 != 1).toLong
    assert(got.getOrElse("text", 0L) == expect(0), s"text: $got")
    assert(got.getOrElse("image", 0L) == expect(1), s"image: $got")
    assert(got.getOrElse("media", 0L) == expect(2), s"media: $got")
    assert(got.getOrElse("other", 0L) == expect(3), s"other: $got")
    assert(got.values.sum == ids.count(_ % 5 != 1).toLong)
    // spot-pin one row per arm (indexes by name — keep cols shift)
    val ix = routed.columns.zipWithIndex.toMap
    val img = routed.filter(col("route") === "image").orderBy(col("doc_id"))
      .limit(1).collect().head
    val id = img.getLong(0)
    assert(img.getString(ix("format")) == "png" &&
      img.getInt(ix("width")) == (id % 1021 + 1).toInt, s"png dims: $img")
    assert(img.isNullAt(ix("n_text")), "off-route NULL")
    val med = routed.filter(col("route") === "media").orderBy(col("doc_id"))
      .limit(1).collect().head
    assert(med.getString(ix("format")) == "wav")
    assert(med.getInt(ix("sample_rate")) ==
      (8000 + (med.getLong(0) % 8) * 4000).toInt)
    routed.unpersist()
  }
}
