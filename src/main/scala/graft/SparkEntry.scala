package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Curation, CurationChain, DataPrep, Dedup, Extraction, Feeds, Graph, HostQuality, Http, LangId, LinkGraph, MainContent, MapReduceParity, Multimodal, PageMeta, Pii, Profiler, Redirects, Relational, Robots, Similarity, Sitemaps, Sketches, Snapshots, SqlSurface, TextAnalysis, Unigram, UrlOps, Warc, Windows}
import graft.plans.{ScaleOps, TopKPerKey}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates every declared operator of the engine (SURVEY.md §2 inventory)
  * as named queries plus, where ANSI-SQL-expressible, a DuckDB oracle query
  * over the same parquet tables. Column names match between the Spark result
  * and the oracle (the driver sorts columns by name before hashing).
  */
object SparkEntry {
  /** The single source of truth for the declared-operator inventory.
    * Public so SparkEntrySpec derives its invariants from the same list —
    * a hardcoded mirror desynchronized once (r13) and never will again. */
  def registry: Seq[GraftQuery] =
    Relational.all ++ TextAnalysis.all ++ Dedup.all ++ Similarity.all ++
      Multimodal.all ++ Sketches.all ++ MapReduceParity.all ++ Windows.all ++
      Curation.all ++ CurationChain.all ++ SqlSurface.all ++ ScaleOps.all ++
      TopKPerKey.all ++ DataPrep.all ++ Profiler.all ++ Graph.all ++
      UrlOps.all ++ LangId.all ++ Extraction.all ++ Warc.all ++
      Unigram.all ++ Pii.all ++ Robots.all ++ LinkGraph.all ++ Http.all ++
      PageMeta.all ++ Redirects.all ++ Sitemaps.all ++ HostQuality.all ++
      MainContent.all ++ Feeds.all ++ Snapshots.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.all.head.run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. A
    * fitted query's oracle is here once it has run in this JVM — Verify
    * runs all queries first, so its dump has them. */
  def oracleSql: Map[String, String] =
    registry.flatMap(q =>
      q.oracle.map(sql => q.name -> OracleSql.materializeCtes(sql.trim))).toMap
}
