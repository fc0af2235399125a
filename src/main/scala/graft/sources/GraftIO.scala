package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.YamrPartition

/** Sources and sinks beyond the driver's parquet tables (SURVEY §2.1 /
  * §2.12).
  *
  * The reference's entire I/O surface is: chunked text scan (one DFS chunk
  * per map task, yamr mapper.py:74-80) and a JSON-array-per-region sink
  * (reducer.py:141-150). Spark equivalents are declared here; csv, json,
  * parquet and orc go through `spark.read` / `df.write` directly.
  */
object GraftIO {

  // ---- sources ------------------------------------------------------

  /** Line-oriented text scan with splits >= cores, like one map task per
    * chunk (mapper.py:74-80) spread over every worker. Hadoop's input
    * format is asked for `defaultParallelism` splits: the file source
    * sizes its splits from session settings only (`spark.sql.files.*`),
    * and its 4 MB open-cost floor cuts a 5 MB file into 4 MB + 1 MB.
    * Changing those settings would move every other scan. Lines, line
    * endings and UTF-8 decoding are those of `spark.read.textFile`.
    */
  def readText(s: SparkSession, path: String): Dataset[String] =
    s.createDataset(s.sparkContext.textFile(path, s.sparkContext.defaultParallelism))(
      Encoders.STRING)

  /** Chunk-as-one-record scan — exact parity with the reference's map
    * input contract (whole chunk delivered as a single string,
    * fake_fs.py:10-19 / mapper.py:74-84). Only for small-corpus parity
    * jobs; the 100 TB path is line/columnar scans.
    */
  def readChunks(s: SparkSession, path: String): Dataset[(String, String)] = {
    import s.implicits._
    s.sparkContext.wholeTextFiles(path).toDS()
  }

  // ---- sinks --------------------------------------------------------

  /** Region-partitioned JSON sink — the reference's result layout: output
    * placed by the byte-exact yamr key hash into `n` files, one JSON doc
    * per record (reducer.py:141-150 writes region files keyed by the yamr
    * hash; job_tracker.py:249-256 enumerates them 1..n).
    *
    * Note `repartition(n, expr)` would murmur3-hash the expression value —
    * direct partition-id placement needs a custom RDD `Partitioner` (the
    * Spark surface for content-defined placement).
    */
  def writeRegionJson(df: DataFrame, keyCol: String, n: Int, path: String): Unit = {
    val spark = df.sparkSession
    // null keys normalize to "" (region 0 via BigInteger(1, []) = 0):
    // deterministic placement, and the within-partition String sort never
    // sees null (the reference would crash on int('', 16))
    val keyed = df
      .select(coalesce(col(keyCol).cast("string"), lit("")).as("__k"),
        to_json(struct(df.columns.toIndexedSeq.map(col): _*)).as("__j"))
      .rdd.map(r => (r.getString(0), r.getString(1)))
    // repartitionAndSortWithinPartitions: content-defined placement AND
    // the reference's per-region key sort (mapper.py:133-134) in one
    // shuffle — the sorted-reduce-input contract made visible
    val placed = keyed
      .repartitionAndSortWithinPartitions(new org.apache.spark.Partitioner {
        override def numPartitions: Int = n
        override def getPartition(key: Any): Int =
          if (key == null) 0 // deterministic placement; reference would crash
          else YamrPartition.compute(
            org.apache.spark.unsafe.types.UTF8String.fromString(key.toString), n)
      })
      .values
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    placed.saveAsTextFile(path)
  }

  /** Run-unique fixture round-trip scope (VERDICT r15 next #1 / ADVICE
    * r16): a query that writes a file fixture and re-reads it must never
    * share a path across concurrent executions — `mode("overwrite")` is
    * delete-then-write, not atomic, so a concurrent run on the same SF
    * dir can race a reader mid-scan (the q182 flaky-hash class: counts
    * survive, the md5 fold doesn't). `f` writes + reads under a
    * per-invocation UUID dir; the result is EAGERLY materialized
    * (`localCheckpoint`) so the dir is deleted before the DataFrame is
    * handed back — no path escapes the call, and repeated bench reps
    * leave no temp accumulation. */
  def roundTrip(prefix: String)(f: String => DataFrame): DataFrame = {
    // temp root relative to the working directory (ADVICE r16: a
    // hardcoded /root/repo broke any other checkout), made absolute so
    // Spark path resolution can't re-anchor it
    val dir = new java.io.File(
      new java.io.File("target/tmp").getAbsoluteFile,
      s"${prefix}_${java.util.UUID.randomUUID}")
    try f(dir.getPath).localCheckpoint()
    finally deleteRecursively(dir)
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRecursively)
    f.delete(); ()
  }

  /** Client-side result retrieval: enumerate the `n` region files written
    * by [[writeRegionJson]] (the reference's job_tracker.py:249-256 result
    * listing), decode each JSON doc, and merge into one DataFrame
    * (yamr.py:63-78 fetch-all-regions → decode → concatenate). Listing the
    * regions explicitly — rather than a `part-*` glob — keeps the contract
    * loud: a missing region file is an error, not silently fewer rows.
    */
  def readRegionJson(s: SparkSession, path: String, n: Int): DataFrame = {
    val parts = (0 until n).map(i => f"$path/part-$i%05d")
    s.read.json(parts: _*)
  }
}
