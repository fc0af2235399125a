package graft

import org.apache.spark.sql.SparkSession

/** Word-count throughput probe against the reference-pipeline simulation
  * (`tools/ref_pipeline.py`): runs `Jobs.wordCount` (reference-parity
  * Unicode tokenizer) on a corpus file and prints the median-of-3 warm
  * wall time plus the distinct/total token counts the simulation also
  * reports, so the two pipelines can be cross-checked for identical
  * output while being timed. Feeds THROUGHPUT.md.
  */
object ThroughputBench {

  /** Per-expression MB/s for the ingest hot-path expressions (VERDICT
    * r16 next #7): the 100 TB cost driver is the PER-BYTE rate of
    * dechunk / gunzip / inflate / transcode / htmlText /
    * warcParseBytes, so a regression there should show in one cheap
    * row, not a decade probe. Input: the documents text inflated to
    * ~32 KB rows × `mult` copies, per-expression fixture CACHED (the
    * build is excluded from the timed pass), rate = input MB over the
    * median of `reps` timed full-evaluation passes (an md5/length agg
    * forces every byte through the expression). Returns
    * `(name, input_mb, median_sec)` rows. */
  def exprRates(spark: SparkSession, sfDir: String, mult: Int,
      reps: Int): Seq[(String, Double, Double)] = {
    import org.apache.spark.sql.{Column, DataFrame}
    import org.apache.spark.sql.functions._
    import graft.functions.{DechunkBody, DeflateBytes, GunzipBytes,
      GzipBytes, InflateBytes}
    // cached once: every per-expression fixture (and the pageMb agg)
    // derives from this lineage — uncached it would recompute the
    // parquet read + 400x repeat + crossJoin ~8 times (code-review r17)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
      .crossJoin(spark.range(mult.toLong).select(col("id").as("__m")))
      .select(substring(concat(repeat(col("text"), 400), lit(" café é")),
        1, 32768).as("t"))
      .cache()
    def timed(input: DataFrame, c: Column,
        mbOverride: Double = -1): (Double, Double) = {
      val in = input.cache()
      // decode expressions are denominated in the DECOMPRESSED (page)
      // bytes they yield — the honest ingest rate — via mbOverride;
      // everything else in its input bytes
      val mb = if (mbOverride > 0) mbOverride
        else in.agg(sum(length(col(in.columns.head))))
          .collect()(0).getLong(0) / 1e6
      def pass(): Double = {
        val t0 = System.nanoTime()
        in.select(c.as("__o")).agg(count(col("__o")), sum(length(col("__o"))))
          .collect()
        (System.nanoTime() - t0) / 1e9
      }
      pass() // warm-up (JIT + codegen)
      val med = Bench.median((1 to reps).map(_ => pass()))
      in.unpersist()
      (mb, med)
    }
    val cs = 4096
    val chunked = docs.select(concat(aggregate(
      sequence(lit(0), (ceil(length(col("t")) / lit(cs)) - 1).cast("int")),
      lit(""),
      (acc, i) => {
        val part = col("t").substr(i * lit(cs) + 1, lit(cs))
        concat(acc, lower(conv(length(part).cast("string"), 10, 16)),
          lit("\r\n"), part, lit("\r\n"))
      }), lit("0\r\n\r\n")).as("b"))
    val pageMb = docs.agg(sum(length(encode(col("t"), "UTF-8"))))
      .collect()(0).getLong(0) / 1e6
    val gz = docs.select(GzipBytes(encode(col("t"), "UTF-8")).as("b"))
    val zl = docs.select(DeflateBytes(encode(col("t"), "UTF-8")).as("b"))
    val transport = docs.select(
      decode(encode(col("t"), "UTF-8"), "ISO-8859-1").as("b"))
    val html = docs.select(concat(
      lit("<html><head><title>x</title><style>p{}</style></head><body><p>"),
      col("t"), lit("</p><script>var x=1;</script></body></html>")).as("b"))
    val warc = docs.select(encode(concat(
      lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: r\r\n"),
      lit("WARC-Target-URI: http://x/\r\nContent-Length: "),
      length(encode(col("t"), "UTF-8")).cast("string"),
      lit("\r\n\r\n"), col("t"), lit("\r\n\r\n")), "UTF-8").as("b"))
    try Seq(
      ("dechunk", timed(chunked, DechunkBody(col("b")))),
      ("gunzip_bytes", timed(gz, GunzipBytes(col("b")), pageMb)),
      ("inflate_bytes", timed(zl, InflateBytes(col("b")), pageMb)),
      ("transcode_utf8", timed(transport,
        graft.operators.Http.transcode(col("b"), lit("utf-8")))),
      ("html_text", timed(html, graft.operators.Extraction.htmlText(col("b")))),
      // r19: the q93d/q197 main-content block selection, native one-pass
      // walk vs the retained HOF/regex reference composition (strip
      // inlined into the reference expression so both rows cover the
      // identical strip→split→select pipeline end to end)
      ("main_content", timed(html,
        graft.functions.MainContentExtract(col("b"), 30, 50).getField("text"))),
      ("main_content_ref", timed(html, expr(
        "array_join(transform(" + graft.operators.MainContent.keptExpr(
          "regexp_replace(b, '(?is)<script\\\\b[^>]*>.*?</script>" +
            "|<style\\\\b[^>]*>.*?</style>', ' ')", 30, 50) +
          ", x -> x.t), ' ')"))),
      ("warc_parse_bytes", {
        val in = warc.cache()
        val mb = in.agg(sum(length(col("b")))).collect()(0).getLong(0) / 1e6
        def pass(): Double = {
          val t0 = System.nanoTime()
          graft.operators.Warc.warcParseBytes(
              in.withColumn("id", monotonically_increasing_id()), "id", "b")
            .agg(count(col("body_md5")), sum(col("body_len"))).collect()
          (System.nanoTime() - t0) / 1e9
        }
        pass()
        val med = Bench.median((1 to reps).map(_ => pass()))
        in.unpersist()
        (mb, med)
      })
    ).map { case (n, (mb, sec)) => (n, mb, sec) }
    finally docs.unpersist()
  }

  def main(args: Array[String]): Unit = {
    // `maxtemp <corpus>` switches to the reference's second job
    // (max_year_temp vs tools/ref_maxtemp_pipeline.py); `exprs [sfDir]`
    // prints the per-expression ingest MB/s rows; default is the
    // word-count flagship (vs tools/ref_pipeline.py)
    val (job, path) = args.toSeq match {
      case Seq("exprs", p) => ("exprs", p)
      case Seq("exprs") => ("exprs", "/root/testdata/sf0.01")
      case Seq("maxtemp", p) => ("maxtemp", p)
      case Seq("maxtemp") => ("maxtemp", "/tmp/temp_x1.json")
      case Seq(p) => ("wordcount", p)
      case _ => ("wordcount", "/root/reference/onegin")
    }
    val spark = GraftSession.local("graft-throughput")
    import spark.implicits._

    if (job == "exprs") {
      val mult = sys.env.getOrElse("SPARK_GRAFT_EXPR_MULT", "10").toInt
      exprRates(spark, path, mult, reps = 3).foreach {
        case (name, mb, sec) =>
          println(f"graft expr $name%-18s ${mb}%9.1f MB  ${sec}%7.3f s  " +
            f"${mb / sec}%8.1f MB/s")
      }
    } else if (job == "maxtemp") {
      def run(): (Long, Double, Double) = {
        val t0 = System.nanoTime()
        val corpus = spark.read.textFile(path)
        val maxes = graft.mr.Jobs.maxYearTemp(corpus).cache()
        val years = maxes.count()
        val chk = maxes.map(_._2).reduce(_ + _)
        val dt = (System.nanoTime() - t0) / 1e9
        maxes.unpersist()
        (years, chk, dt)
      }
      run() // warm-up
      val runs = (1 to 3).map(_ => run())
      val (years, chk, _) = runs.head
      val med = runs.map(_._3).sorted.apply(1)
      println(f"graft maxtemp $path: $med%.3fs, $years years, sum_of_max $chk%.1f")
    } else {
      def run(): (Long, Long, Double) = {
        val t0 = System.nanoTime()
        val corpus = spark.read.textFile(path)
        val counts = graft.mr.Jobs.wordCount(corpus).cache()
        val distinct = counts.count()
        val total = counts.map(_._2).reduce(_ + _)
        val dt = (System.nanoTime() - t0) / 1e9
        counts.unpersist()
        (distinct, total, dt)
      }
      run() // warm-up: JIT + codegen, same policy as the r1 measurement
      val runs = (1 to 3).map(_ => run())
      val (distinct, total, _) = runs.head
      val med = runs.map(_._3).sorted.apply(1)
      println(f"graft wordcount $path: $med%.3fs, $distinct distinct words, $total tokens")
    }
    spark.stop()
  }
}
