package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.mr.{Jobs, MultiScriptCorpus}
import graft.mr.Aggregators.TopK

/** Sources and sinks (SURVEY §2.1 / §2.12) + the typed Aggregator fast
  * path.
  */
class GraftIOSpec extends SparkSpec {

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graftio_$name").toString

  test("region-partitioned JSON sink: n files, content-defined placement + per-region key sort (reducer.py:141-150)") {
    import spark.implicits._
    val df = Seq("mm" -> 5, "aa" -> 1, "bb" -> 2, "cc" -> 3, "mm" -> 4).toDF("k", "v")
    val out = tmp("regions")
    GraftIO.writeRegionJson(df, "k", 2, out)
    val parts = new java.io.File(out).listFiles()
      .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
    assert(parts.length == 2)
    // reference golden (test_partition.py:31-41): with n=2, bb → region 1
    // (partition 0), {aa, cc, mm, mm} → region 2 (partition 1), each
    // region sorted by key (mapper.py:133-134)
    val p0 = scala.io.Source.fromFile(parts(0), "UTF-8").getLines().toSeq
    val p1 = scala.io.Source.fromFile(parts(1), "UTF-8").getLines().toSeq
    assert(p0.forall(_.contains("\"bb\"")) && p0.size == 1)
    val keys1 = p1.map(l => "\"k\":\"(\\w+)\"".r.findFirstMatchIn(l).get.group(1))
    assert(keys1 == Seq("aa", "cc", "mm", "mm"), s"region 2 must be key-sorted: $keys1")
  }

  test("region JSON round-trip: readRegionJson merges all regions (yamr.py:63-78)") {
    import spark.implicits._
    val df = Seq("mm" -> 5, "aa" -> 1, "bb" -> 2, "cc" -> 3, "mm" -> 4).toDF("k", "v")
    val out = tmp("regions_rt")
    GraftIO.writeRegionJson(df, "k", 3, out)
    val back = GraftIO.readRegionJson(spark, out, 3)
    assert(back.count() == df.count())
    assert(back.select(col("k"), col("v").cast("int")).collect().map(r =>
      (r.getString(0), r.getInt(1))).toSet ==
      Set("mm" -> 5, "aa" -> 1, "bb" -> 2, "cc" -> 3, "mm" -> 4))
    // a missing region must be loud, not silently fewer rows
    intercept[Exception] { GraftIO.readRegionJson(spark, out, 4).count() }
  }

  test("streaming file source: readStream over events aggregates with batch parity") {
    import org.apache.spark.sql.functions._
    val stream = graft.streaming.Streams.eventsStream(spark, sf001)
    assert(stream.isStreaming)
    val agg = graft.streaming.Streams.tumblingCounts(stream)
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName(s"file_src_${System.nanoTime()}")
      .start()
    try {
      q.processAllAvailable()
      // append mode only emits windows closed by the watermark; the last
      // 30 min of event-time stays open — compare against the batch
      // result restricted to the emitted windows
      val got = spark.table(q.name)
        .select("win_start", "event_type", "n", "sum_value")
        .collect().map(_.toSeq).toSet
      val batch = graft.SparkEntry.queries("q48_window_tumbling")(spark, sf001)
        .collect().map(_.toSeq).toSet
      assert(got.nonEmpty && got.subsetOf(batch),
        s"streamed windows must match batch: ${got.size} of ${batch.size}")
    } finally q.stop()
  }

  test("chunk-as-record scan: whole file delivered as one string (mapper.py:74-84)") {
    val path = "/root/reference/alice"
    import spark.implicits._
    for (corpus <- MultiScriptCorpus.path +: Seq(path).filter(new java.io.File(_).exists())) {
      val chunks = GraftIO.readChunks(spark, corpus).collect()
      assert(chunks.length == 1, corpus)
      val text = new String(Files.readAllBytes(java.nio.file.Paths.get(corpus)), "UTF-8")
      assert(chunks(0)._2 == text, corpus)
      // chunk-scan word count == line-scan word count (a token never spans
      // a line break)
      val viaChunks = Jobs.wordCount(GraftIO.readChunks(spark, corpus).map(_._2)).collect().toMap
      val viaLines = Jobs.wordCount(GraftIO.readText(spark, corpus)).collect().toMap
      assert(viaChunks.nonEmpty && viaChunks == viaLines, corpus)
    }
  }

  test("readText: a 5 MB file scans as at least one split per core") {
    val f = Paths.get(tmp("split5mb"), "corpus.txt")
    val rng = new scala.util.Random(5)
    val lines = Seq.fill(110000)(Seq.fill(8)(rng.alphanumeric.take(5).mkString).mkString(" "))
    Files.write(f, lines.mkString("", "\n", "\n").getBytes(UTF_8))
    assert(Files.size(f) > 5000000)
    val ds = GraftIO.readText(spark, f.toString)
    assert(ds.rdd.getNumPartitions >= spark.sparkContext.defaultParallelism)
    assert(ds.count() == lines.size)
  }

  test("readText: the same lines as spark.read.textFile on hostile files") {
    val dir = Paths.get(tmp("lines"))
    def file(name: String, bytes: Array[Byte]): String = {
      val f = dir.resolve(name); Files.write(f, bytes); f.toString
    }
    // truncated 2-, 3- and 4-byte sequences, invalid lead bytes, an
    // overlong NUL and an encoded surrogate
    val malformed = Seq[Int]('o', 'k', '\n', 0xC3, '(', ' ', 0xE2, 0x82, '\n', 0xF0, 0x9F,
      '\n', 0xFF, 0xC0, 0x80, ' ', 0xED, 0xA0, 0x80, 'x').map(_.toByte).toArray
    val two = dir.resolve("two"); Files.createDirectories(two)
    Files.write(two.resolve("a.txt"), "a 1\nb 2\n".getBytes(UTF_8))
    Files.write(two.resolve("b.txt"), "b 2\r\nc 3".getBytes(UTF_8))
    val paths = Seq(
      file("crlf.txt", "x y\r\n\r\nz\r\n".getBytes(UTF_8)),
      file("cr.txt", "x\ry\r\rz".getBytes(UTF_8)),
      file("no_final_newline.txt", "ab\ncd é".getBytes(UTF_8)),
      file("malformed.txt", malformed),
      file("empty.txt", Array.emptyByteArray),
      two.toString)
    for (p <- paths) {
      val got = GraftIO.readText(spark, p).collect().toSeq.sorted
      val want = spark.read.textFile(p).collect().toSeq.sorted
      assert(got == want, p)
    }
    assert(GraftIO.readText(spark, two.toString).count() == 4)
    assert(GraftIO.readText(spark, paths(3)).collect().exists(_.contains('\uFFFD')))
  }

  test("typed Aggregator fast path: top-k with a mergeable buffer") {
    import spark.implicits._
    val ds = Tables.orders(spark, sf001)
      .select(col("o_custkey"), col("o_totalprice")).as[(Long, Double)]
    val top2 = TopK(2).summarize(identity).toColumn
    val t = ds.groupByKey(_._1).mapValues(_._2).agg(top2).collect().toMap
    val naive = ds.collect().groupBy(_._1).map { case (k, vs) =>
      k -> vs.map(_._2).sorted(Ordering[Double].reverse).take(2).toSeq
    }
    assert(t == naive)

    // binary-insert path at larger k, with duplicates and both insert
    // directions (reduce order and merge order)
    val rng = new scala.util.Random(7)
    val vals = Seq.fill(500)(rng.nextInt(100).toDouble)
    val top = TopK(50)
    val viaReduce = vals.foldLeft(top.zero)(top.add)
    val halves = vals.splitAt(250)
    val viaMerge = top.merge(
      halves._1.foldLeft(top.zero)(top.add),
      halves._2.foldLeft(top.zero)(top.add))
    val want = vals.sorted(Ordering[Double].reverse).take(50)
    assert(viaReduce == want && viaMerge == want)
  }
}
