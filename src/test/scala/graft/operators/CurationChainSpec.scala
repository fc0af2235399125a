package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.Tables

class CurationChainSpec extends SparkSpec {

  test("q93 composition: eval excluded, decontaminated, deduped, quotas exact") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf001)
    val out = graft.SparkEntry.queries("q93_curation_chain")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.nonEmpty)
    // one row per surviving doc
    assert(out.map(_._1).distinct.length == out.length)
    // the eval split never reaches the epoch
    assert(out.forall(_._1 % 97 != 0))
    // every output doc survives EXACT decontamination of the gated corpus
    // (the two-phase bloom+confirm must equal exact semantics — the
    // no-false-negative law composed through the chain)
    val toks = graft.functions.TextFunctions.tokens(col("text"))
    val en = Seq("the", "a", "and", "of", "to", "is", "in")
    val stopCnt = size(filter(toks, t => array_contains(array(en.map(lit): _*), t)))
    val gated = docs
      .withColumn("n_tokens", size(toks))
      .withColumn("sr", stopCnt.cast("double") / col("n_tokens"))
      .filter(col("lang") === "en" && col("n_tokens").between(20, 1000) &&
        col("sr") > 0.02)
      .filter(col("doc_id") % 97 =!= 0)
    val exactClean = DataPrep.decontaminate(
        gated.select(col("doc_id"), col("text")),
        docs.filter(col("doc_id") % 97 === 0).select(col("doc_id"), col("text")),
        "doc_id", "text", n = 4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out.forall(r => exactClean.contains(r._1)),
      s"chain kept a doc exact decontamination would drop")
    // near-dup representatives only: every output doc is its own cluster
    // rep over the cleaned corpus
    val clean = gated.join(
      exactClean.toSeq.toDF("doc_id"), Seq("doc_id"), "left_semi")
    val reps = Curation.clusterAssignments(
        clean.select(col("doc_id"), col("text")), threshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.forall(r => reps(r._1) == r._1),
      "chain emitted a non-representative near-duplicate")
    // per-source copies land within the q91 quota arithmetic: totals are
    // exact integers and the epoch is non-trivial
    val bySource = out.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    assert(bySource.values.sum > 0 && bySource.size > 1)
    // deterministic: rerun is bit-identical
    val again = graft.SparkEntry.queries("q93_curation_chain")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(again.toSeq == out.toSeq)
  }

  test("q93c crawl ingest: malformed/blocked/ads/non-en docs never reach the epoch") {
    val docs = Tables.documents(spark, sf001)
    val out = graft.SparkEntry.queries("q93c_crawl_chain")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.nonEmpty)
    assert(out.map(_._1).distinct.length == out.length)
    // WARC-malformed rotations dropped at parse
    assert(out.forall(r => r._1 % 13 != 0 && r._1 % 11 != 0),
      "a malformed WARC record leaked into the epoch")
    // path gate: /ads paths dropped
    assert(out.forall(_._1 % 7 != 0), "an /ads doc leaked past the path gate")
    // host gate: the blocked source's host never appears
    val blocked = docs.agg(min(col("source"))).collect().head.getString(0)
    assert(out.forall(_._2 != blocked), s"blocked host $blocked leaked")
    // language gate: every surviving doc was PREDICTED en by the stored
    // model (subset check: survivors ⊆ predicted-en of the ingested set)
    val model = LangId.langIdModel(
      docs.filter(col("doc_id") % 2 === 0), "text", "lang")
    val ingested = docs
      .filter(col("doc_id") % 13 =!= 0 && col("doc_id") % 11 =!= 0)
      .select(col("doc_id"),
        graft.functions.NfcNormalize(
          Extraction.htmlText(Warc.crawlHtml())).as("text"))
    val predEn = LangId.langIdScore(ingested, "doc_id", "text", model)
      .filter(col("pred_lang") === "en")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out.forall(r => predEn.contains(r._1)),
      "a doc the stored model did not predict en reached the epoch")
    // deterministic: rerun is bit-identical
    val again = graft.SparkEntry.queries("q93c_crawl_chain")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(again.toSeq == out.toSeq)
  }

  /** Runs `query` at sf0.001 with an IterProbe that records every
    * `stage_*` tap (forcing the frame with a count when `force`), and
    * returns the taps in firing order with the query's rows. */
  private def probed(query: String, force: Boolean): (Seq[(String, Long)], Seq[Row]) = {
    val taps = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    val rows = graft.IterProbe.during { (name, _, df) =>
      if (name.startsWith("stage_"))
        taps += (name.stripPrefix("stage_") -> (if (force) df.count() else -1L))
    } {
      graft.SparkEntry.queries(query)(spark, sf001).collect().toSeq
    }
    // the probe is gone with the call: a later tap reaches nobody
    val before = taps.size
    graft.IterProbe.stage("after_probe", spark.emptyDataFrame)
    assert(taps.size == before, s"a tap after the probed call was recorded: $taps")
    (taps.toSeq, rows)
  }

  /** q51's stages: the chain's near dedup calls `clusterAssignments`. */
  private val q51Stages = Seq("shingle_persist", "exact_collapse", "canonical_ids",
    "minhash_candidates", "jaccard_confirm", "connected_components", "expand_labels")

  private val chainStages = Seq("quality_gate", "decontaminate") ++ q51Stages ++
    Seq("near_dedup", "paragraph_dedup", "span_dedup", "epoch_mix")

  test("stage hook: q93d taps its stages in chain order, forced frames leave the rows unchanged") {
    val (taps, rows) = probed("q93d_crawl_chain_http", force = true)
    assert(taps.map(_._1) == Seq("warc_parse", "http_gate", "main_nfc",
      "host_gate", "path_gate", "langid_gate") ++ chainStages, taps.toString)
    assert(taps.forall(_._2 > 0), s"an empty stage: $taps")
    val plain = graft.SparkEntry.queries("q93d_crawl_chain_http")(spark, sf001)
      .collect().toSeq
    assert(rows.nonEmpty && rows == plain)
  }

  test("stage hook: q93b (spanK = 4) taps span_dedup between paragraph dedup and the mix") {
    val (taps, rows) = probed("q93b_curation_chain_span", force = false)
    assert(taps.map(_._1) == chainStages, taps.toString)
    assert(rows.nonEmpty)
  }
}
