package graft

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared engine operator: a Spark implementation plus (when the
  * semantics are ANSI-SQL-expressible) a DuckDB oracle query over the same
  * parquet tables. Non-SQL-expressible ops (LSH, sketches, streaming) omit
  * the oracle and get the driver's weaker rows-only check.
  *
  * A [[GraftQuery.fitted]] query's oracle embeds constants its own run
  * derives (fitted KMeans centroids, BM25 statistics, rank boundaries) as
  * literals, so its `oracle` is the SQL of its latest run in this JVM and
  * None before the first. Verify runs every query before it dumps
  * oracle_sql.json, so the dump has them.
  */
final class GraftQuery private (
    val name: String,
    val run: (SparkSession, String) => DataFrame,
    latestOracle: () => Option[String],
    val fitted: Boolean) {
  def oracle: Option[String] = latestOracle()
}

object GraftQuery {
  def apply(name: String, run: (SparkSession, String) => DataFrame,
      oracle: Option[String]): GraftQuery =
    new GraftQuery(name, run, () => oracle, fitted = false)

  /** A query whose run returns its result together with the oracle SQL
    * fitted to that run; the query keeps the latest one. */
  def fitted(name: String)(
      fit: (SparkSession, String) => (DataFrame, String)): GraftQuery = {
    val latest = new AtomicReference[Option[String]](None)
    new GraftQuery(name, (s, dir) => {
      val (df, sql) = fit(s, dir)
      latest.set(Some(sql))
      df
    }, () => latest.get, fitted = true)
  }
}
