package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SimpleMode

/** Dumps physical plans under the session Bench measures with.
  *
  * Usage: `runMain graft.PlanDump [sfDir] [q1,q2,...]` — the query list
  * defaults to the representative queries PLANS.md audits (and then
  * closes with the stored-index q97 probe). Output goes to stdout: one
  * `# session:` header line with the config the dump ran under, then one
  * `===== <name> =====` section per plan.
  *
  * Besides each query's final frame, every [[IterProbe]] tap the query
  * fires while it is built is dumped as `<query>_iter_<tap>_<k>`: the
  * loop iterations of pageRank/HITS/BPE/unigram, captured before their
  * localCheckpoint, and the `stage_*` boundaries of q51's
  * `clusterAssignments` and of the curation chains (both checkpoint
  * eagerly, so the final frame alone shows only the post-checkpoint
  * plan).
  */
object PlanDump {
  private val audited = Seq(
    "q01_agg_pricing", "q02_filter_project", "q03_join_inner",
    "q12_sort_limit", "q37_dedup_minhash", "q40_ann_bruteforce",
    "q59_grouping_sets", "q60_salted_join", "q63_seq_packing",
    "q65_embed_quantize", "q77_custom_topk_plan", "q79_decontaminate",
    "q82_rarity_scoring", "q51_dedup_pipeline", "q88_paragraph_dedup",
    "q89_decontaminate_bloom", "q90_cms_heavy_hitters",
    "q91_epoch_mix", "q92_gk_quantiles", "q62_source_quota",
    "q93_curation_chain", "q94_gk_stored_shards", "q95_substring_dedup",
    "q96_bigram_lm_score", "q97_phrase_search", "q100_profile",
    "q101_weighted_sample", "q102_zorder_values", "q103_kmeans_step",
    "q104_embed_covariance", "q105_embed_abtt", "q106_corpus_overlap",
    "q107_zorder_rank", "q108_image_header", "q109_moments_stored_shards",
    "q110_zorder3_values", "q111_ivf_append", "q112_pq_adc",
    "q113_bm25_topk", "q114_textrank", "q115_corpus_diff",
    "q116_ivfadc", "q117_linear_probe", "q118_ivf_diagnostics",
    "q119_frequent_grams", "q120_overlap_matrix", "q121_bm25_append",
    "q122_funnel", "q123_trailing_distinct", "q124_incremental_prefix",
    "q125_mg_heavy_hitters", "q126_jl_projection", "q127_skew_advisor",
    "q128_embedding_drift", "q129_boolean_retrieval", "q130_hybrid_rrf",
    "q131_media_header", "q132_kmv_set_algebra", "q133_normalized_dedup",
    "q134_filter_cascade", "q135_ingest_anomaly", "q136_integrity_audit",
    "q137_frequent_values", "q138_column_correlation", "q139_negative_sampling",
    "q140_quality_drift", "q141_temperature_mix", "q142_banding_calculator",
    "q143_memorization_audit", "q144_trailing_loop",
    "q145_correlation_shard_fold", "q146_ivfadc_append",
    "q147_pagerank_sinks", "q148_gopher_quality", "q149_domain_cap",
    "q150_sequence_packing", "q151_cluster_representative",
    "q152_stratified_split", "q154_vocab_coverage", "q155_token_budget",
    // round 12 (q156* and q51b are eager-driver like q69/q153 — excluded)
    "q148b_gopher_full", "q157_dsir_score", "q158_rendezvous_shard",
    "q159_containment_pairs", "q152b_stratified_interleaved",
    "q160_c4_clean", "q161_quality_classifier",
    // q162 is eager-driver (iterative persist/count loop) — excluded
    "q163_export_manifest", "q164_encoding_audit",
    "q165_source_concentration", "q166_readability",
    // round 13 (q169's model learn collects pins — still lazy-plannable)
    "q167_url_dedup", "q168_host_profile", "q169_langid_ngram",
    // round 14
    "q169b_langid_shard_fold", "q170_host_gate", "q170b_host_gate_ledger",
    "q155b_token_budget_bpe", "q171_html_extract", "q172_chunk_text",
    "q173_nfc_normalize", "q174_path_prefix_gate", "q175_gate_agreement",
    "q176_tokenizer_fertility", "q168b_host_profile_fold",
    "q175b_gate_kappa",
    // round 15 (q93c/q156d/q156e/q178 collect pins or run driver EM
    // loops before planning — lazy-plannable but expensive to explain;
    // the stateless/scan-class additions are audited here)
    "q177_warc_parse", "q169c_langid_margin",
    // round 15 link-graph family (q186 and q192 are eager-driver —
    // checkpointed loops like q162 — excluded; q186's per-iteration
    // plan is q147's, already pinned, and q192's is a keyed self-join)
    "q184_link_extract", "q185_host_linkgraph", "q187_anchor_topk",
    "q188_http_parse", "q188b_http_chain",
    "q189_page_meta", "q190_canonical_dedup", "q191_crawl_frontier",
    "q193_sitemap_parse", "q194_host_blocklist",
    "q194b_blocklist_roundtrip", "q196_cdc_chunks",
    "q197_main_content", "q198_feed_parse", "q199_chunk_store_dedup",
    "q200_crawl_diff", "q201_robots_sitemaps", "q202_discovery_merge",
    // round 16 (the file round-trips q177b/q195/q203/q203b and the
    // checkpointed q207 are eager-driver — excluded; the
    // stateless/scan/agg-class additions are audited here)
    "q204_http_chunked", "q205_charset_transcode",
    "q206_robots_crawl_delay", "q206b_frontier_delay",
    "q208_discovery_admit", "q210_frontier_admit",
    "q211_recrawl_schedule", "q212_content_encoding",
    "q213_meta_charset", "q214_robots_fetch_policy",
    // round 17 (q182* and q214b are eager-driver — collected local
    // relations / checkpointed doubling — excluded)
    "q211b_recrawl_conditional", "q215_snapshot_admit",
    "q216_revalidate_merge", "q217_retry_after")

  private def explain(name: String, df: DataFrame): Unit = {
    println(s"===== $name =====")
    println(df.queryExecution.explainString(SimpleMode))
    println()
  }

  /** The config the dump runs under: master and every `spark.sql.*`
    * setting except the (per-run) warehouse location. */
  private def sessionLine(spark: SparkSession): String =
    spark.conf.getAll.toSeq
      .filter { case (k, _) =>
        (k.startsWith("spark.sql.") && k != "spark.sql.warehouse.dir") ||
          k == "spark.master" }
      .sorted.map { case (k, v) => s"$k=$v" }.mkString("# session: ", " ", "")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = args.lift(1).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val unknown = names.getOrElse(Nil).filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    // a fresh warehouse per run: an in-memory catalog forgets the stored
    // probe's tables, so a leftover table dir would fail the next write
    val warehouse = java.nio.file.Files.createTempDirectory("graft_plandump_wh")
    warehouse.toFile.deleteOnExit() // empty again once the probe drops its tables
    val spark = GraftSession.local("graft-plandump",
      Map("spark.sql.warehouse.dir" -> warehouse.toString))
    spark.sparkContext.setLogLevel("ERROR")
    println(sessionLine(spark))
    names.getOrElse(audited).foreach { name =>
      IterProbe.during((tap, k, frame) => explain(s"${name}_iter_${tap}_$k", frame)) {
        explain(name, SparkEntry.queries(name)(spark, sfDir))
      }
    }
    if (names.isEmpty) dumpStoredPhraseProbe(spark, sfDir)
    spark.stop()
  }

  /** The q97 PRODUCTION path (stored bucketed gram index + token table,
    * `phraseHitsStored`) — the declared q97 is the inline oracle form, so
    * the plan PLANS.md actually audits for the 100 TB story is this one:
    * it must show SelectedBucketsCount pruning on both stored scans and
    * no third (corpus) scan. Executed (not just explained) because bucket
    * pruning is only visible in the AQE-finalized plan.
    */
  private def dumpStoredPhraseProbe(spark: SparkSession, sfDir: String): Unit = {
    println("===== q97_phrase_search_stored (production probe) =====")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    val docs = sources.Tables.load(spark, sfDir, "documents")
    plans.ScaleOps.writeBucketed(
      operators.TextAnalysis.gramIndex(docs, "doc_id", "text", k = 3),
      "gh", 8, "plandump_gram_idx")
    plans.ScaleOps.writeBucketed(
      operators.TextAnalysis.tokenTable(docs, "doc_id", "text"),
      "doc_id", 8, "plandump_tokens")
    val probe = operators.TextAnalysis.phraseHitsStored(
      spark, "plandump_gram_idx", "plandump_tokens", "doc_id",
      Seq("join part filter", "the vector customer spark", "sort merge join"), k = 3)
    probe.collect() // finalize AQE so SelectedBucketsCount is visible
    println(probe.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head)
    spark.sql("DROP TABLE IF EXISTS plandump_gram_idx")
    spark.sql("DROP TABLE IF EXISTS plandump_tokens")
  }
}
