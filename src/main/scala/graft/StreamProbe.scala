package graft

import org.apache.spark.sql.functions._

/** Streaming scale probe (VERDICT r5 #8): the StreamingSpec suite pins
  * SEMANTICS on MemoryStream-sized inputs; this main gives the streaming
  * layer a measured throughput datapoint on a real file source.
  *
  * Pipeline under test: file-source corpus stream → watermarked exact
  * content dedup (`dropDuplicatesWithinWatermark` on an md5 digest, the
  * streaming form of q35) → 5-minute tumbling counts per source — i.e.
  * chained stateful operators, the shape an ingestion-side curation
  * stream actually runs. Event times are synthesized deterministically
  * from doc_id (spread over one hour) and the input is written
  * range-partitioned by ts, so files arrive roughly in event-time order
  * and the watermark behaves as it would on a live source.
  *
  * Reports rows/s over the whole run plus per-operator state rows and
  * state memory from the engine's own progress metrics — the numbers
  * that decide whether state stays watermark-bounded at scale.
  *
  * Usage: runMain graft.StreamProbe [srcDir] [copies] [filesPerTrigger]
  * Prints one JSON line.
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val copies = args.lift(1).flatMap(_.toIntOption).getOrElse(10)
    val filesPerTrigger = args.lift(2).flatMap(_.toIntOption).getOrElse(5)
    val spark = GraftSession.local("graft-streamprobe")

    val corpusDir = ScaleProbe.scaledDocsDir(spark, src, copies)
    // keyed by source like the corpus it is derived from
    val base = ScaleProbe.scratchDir(
      s"streamprobe_${new java.io.File(src).getName}_x$copies")
    val inDir = s"$base/in"
    val ckDir = s"$base/ck"

    if (!new java.io.File(s"$inDir/_SUCCESS").exists) {
      val docs = graft.sources.Tables.load(spark, corpusDir, "documents")
      // deterministic event time: docs spread over one hour by doc_id
      val withTs = docs.withColumn("ts",
        timestamp_seconds(lit(1700000000L) + pmod(col("doc_id"), lit(3600L))))
      // range-partitioned by ts → part files arrive in event-time order,
      // so the watermark advances smoothly instead of discarding half the
      // corpus as late (which would make throughput meaningless)
      withTs.repartitionByRange(50, col("ts"))
        .write.mode("overwrite").parquet(inDir)
    }
    // fresh checkpoint per run: this probe measures cold processing
    // throughput, not recovery (StreamingSpec covers recovery semantics)
    val ckFile = new java.io.File(ckDir)
    if (ckFile.exists) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles.foreach(rm)
        f.delete(); ()
      }
      rm(ckFile)
    }

    val schema = spark.read.parquet(inDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger)
      .parquet(inDir)

    // chained stateful operators: watermarked content dedup feeding a
    // tumbling windowed aggregation (both states watermark-bounded)
    val deduped = stream
      .withWatermark("ts", "10 minutes")
      .withColumn("h", md5(col("text")))
      .dropDuplicatesWithinWatermark("h")
    val counts = deduped
      .groupBy(window(col("ts"), "5 minutes").as("w"), col("source"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))

    val nInput = spark.read.parquet(inDir).count()
    val t0 = System.nanoTime()
    val q = counts.writeStream
      .outputMode("append")
      .format("noop")
      .option("checkpointLocation", ckDir)
      .start()
    q.processAllAvailable()
    val wall = (System.nanoTime() - t0) / 1e9

    // engine-reported metrics: rows ingested per batch, state store rows
    // and bytes per stateful operator (dedup + window agg)
    val progresses = q.recentProgress.toSeq
    val inputRows = progresses.map(_.numInputRows).sum
    val batches = progresses.count(_.numInputRows > 0)
    val lastState = progresses.reverse.find(_.stateOperators.nonEmpty)
      .map(_.stateOperators.toSeq).getOrElse(Seq.empty)
    val stateJson = lastState.map { s =>
      s"""{"op":"${s.operatorName}","rows":${s.numRowsTotal},"mem_bytes":${s.memoryUsedBytes}}"""
    }.mkString("[", ",", "]")
    q.stop()

    val rps = if (wall > 0) inputRows / wall else 0.0
    println(s"""{"metric":"stream_probe","copies":$copies,"n_input":$nInput,"rows_ingested":$inputRows,"batches":$batches,"files_per_trigger":$filesPerTrigger,"wall_sec":$wall,"rows_per_sec":$rps,"state":$stateJson,"src":"$src"}""")
    spark.stop()
  }
}
