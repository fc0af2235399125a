package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._

import graft.{GraftSession, PerfStages, SparkEntry}
import graft.functions.{DechunkBody, MainContentExtract, NfcNormalize}
import graft.functions.TextFunctions.{hash60Seeded, shingles, tokens}
import graft.mr.{Jobs, MapReduce}
import graft.operators.{CurationChain, DataPrep, Graph, TextAnalysis, Warc}
import graft.sources.{GraftIO, Tables}

/** JVM side of the benchmark. One process: set up a GraftSession from
  * JVM start, run `--warmup` passes that are checked but not measured,
  * then submit passes one after another (a closed loop with one client)
  * until `--seconds` have passed. With `--trace 1`, `--warmup-traced`
  * unmeasured traced passes follow the warm-up, and the loop alternates
  * untraced and traced passes, so both sample the same stretch of the
  * JVM's warm-up curve. Every pass's results are digested after its clock
  * stops; run.py compares the digests with expectations it computes
  * independently. Writes one JSON document to `--out`.
  *
  * Usage: PerfMain --workload W --data DIR --work DIR --out FILE
  *   --seconds S --trace 0|1 --warmup N --warmup-traced N --min-passes N
  *   --cores N --src DIR --regions R
  */
object PerfMain {

  /** Counts a traced pass records besides its spans (summed over passes). */
  type Counters = mutable.Map[String, Double]

  trait Workload {
    /** result name -> (declared query whose DuckDB oracle checks it,
      * input directory relative to `--data`) */
    def oracleQueries: Map[String, (String, String)] = Map.empty
    /** Runs one pass up to the results in the client's hands; the returned
      * thunk digests them and is called after the pass clock stops. */
    def pass(spark: SparkSession): () => Seq[(String, String)]
    def tracedPass(spark: SparkSession, t: PerfTrace, c: Counters): () => Seq[(String, String)]
    /** native expressions timed on this workload's inputs (traced run) */
    def expressions: Seq[String] = Nil
    /** the call the traced run adds after its passes, if any */
    def extra: Option[Extra] = None
  }

  /** A call a traced run adds after its passes, over inputs generated
    * alongside the workload's own: one unmeasured cold call, then one
    * traced call. It measures a layer whose own workload is not one of
    * the benchmark's record; its results are those whose oracle input
    * directory is not the workload's own. */
  final case class Extra(cold: SparkSession => () => Seq[(String, String)],
      traced: (SparkSession, PerfTrace, Counters) => () => Seq[(String, String)])

  def digest(cols: Seq[String], rows: Iterable[Row]): String = {
    val order = cols.zipWithIndex.sortBy(_._1).map(_._2)
    val md = MessageDigest.getInstance("MD5")
    var sum = 0L
    rows.foreach { r =>
      val line = order.map(i => field(r.get(i))).mkString("\u001f")
      sum += java.nio.ByteBuffer.wrap(md.digest(line.getBytes(UTF_8))).getLong
    }
    f"$sum%016x/${rows.size}/${cols.sorted.mkString(",")}"
  }

  /** Canonical text of one value; run.py's `field` is the same function. */
  private def field(v: Any): String = v match {
    case null => "\\N"
    case d: Double => f"d${java.lang.Double.doubleToLongBits(d)}%016x"
    case f: Float => field(f.toDouble)
    case b: Boolean => b.toString
    case n @ (_: Long | _: Int | _: Short | _: Byte) => n.toString
    case s: String => s
    case other => throw new IllegalArgumentException(
      s"no canonical form for ${other.getClass}: $other")
  }

  def digestOf(df: DataFrame, rows: Array[Row]): String =
    digest(df.columns.toIndexedSeq, rows)

  // ------------------------------------------------------------ mr_jobs
  final class MrJobs(data: String, work: String, regions: Int) extends Workload {
    private val corpus = s"$data/corpus.txt"
    private val temps = s"$data/temps.txt"
    private val sinkDir = new File(work, "regions").getAbsolutePath
    override val oracleQueries = Map("q155b" -> ("q155b_token_budget_bpe", "loops"),
      "q147" -> ("q147_pagerank_sinks", "loops"))

    /** The loops layer is measured on this workload's traced run: q155b
      * and q147 over the inputs generated alongside (text_loops' make-up). */
    private val loops = new TextLoops(s"$data/loops")
    override val extra = Some(Extra(loops.pass, (s, t, c) =>
      t.span("call.text_loops", "perfbench")(loops.tracedPass(s, t, c))))

    private def general(spark: SparkSession, lines: org.apache.spark.sql.Dataset[String]) = {
      import spark.implicits._
      // the no-combiner contract: every (word, 1) pair is shuffled
      MapReduce.mapReduce(lines)((l: String) => Jobs.tokenize(l).map(_ -> 1L),
        (k: String, vs: Iterator[Long]) => Iterator(k -> vs.sum)).toDF("word", "count")
    }

    private def checks(counted: (DataFrame, Array[Row]), gen: (DataFrame, Array[Row]),
        maxes: (DataFrame, Array[Row]))(): Seq[(String, String)] = {
      // region placement read straight from the sink's files: region i is
      // part-i, one JSON document per line
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val placed = (0 until regions).flatMap { i =>
        Files.readAllLines(Paths.get(f"$sinkDir/part-$i%05d"), UTF_8).asScala.map { l =>
          val n = mapper.readTree(l)
          Row(n.get("count").asLong, i, n.get("word").asText)
        }
      }
      Seq("word_count" -> digestOf(counted._1, counted._2),
        "word_regions" -> digest(Seq("count", "region", "word"), placed),
        "word_count_general" -> digestOf(gen._1, gen._2),
        "max_temp" -> digestOf(maxes._1, maxes._2))
    }

    def pass(spark: SparkSession): () => Seq[(String, String)] = {
      val lines = GraftIO.readText(spark, corpus)
      GraftIO.writeRegionJson(Jobs.wordCount(lines).toDF("word", "count"), "word",
        regions, sinkDir)
      val back = GraftIO.readRegionJson(spark, sinkDir, regions)
      val counted = (back, back.collect())
      val g = general(spark, lines)
      val gen = (g, g.collect())
      val m = Jobs.maxYearTemp(GraftIO.readText(spark, temps)).toDF("year", "max")
      checks(counted, gen, (m, m.collect()))
    }

    def tracedPass(spark: SparkSession, t: PerfTrace, c: Counters): () => Seq[(String, String)] = {
      val lines = t.span("sources.read", "GraftIO") {
        val l = GraftIO.readText(spark, corpus).persist(); l.count(); l
      }
      val wc = t.span("mr.word_count", "Jobs") {
        Jobs.wordCount(lines).toDF("word", "count").localCheckpoint()
      }
      t.span("sink.write_region_json", "GraftIO") {
        GraftIO.writeRegionJson(wc, "word", regions, sinkDir)
      }
      c("sink.bytes") += (0 until regions).map(i => new File(f"$sinkDir/part-$i%05d").length).sum
      val counted = t.span("sink.read_region_json", "GraftIO") {
        val b = GraftIO.readRegionJson(spark, sinkDir, regions); (b, b.collect())
      }
      // every token is one (word, 1) map-output record
      c("mr.map_records") += counted._2.map(_.getAs[Long]("count")).sum
      val gen = t.span("mr.word_count_general", "MapReduce") {
        val g = general(spark, lines); (g, g.collect())
      }
      val tl = t.span("sources.read", "GraftIO") {
        val l = GraftIO.readText(spark, temps).persist(); l.count(); l
      }
      val maxes = t.span("mr.max_temp", "Jobs") {
        val m = Jobs.maxYearTemp(tl).toDF("year", "max"); (m, m.collect())
      }
      lines.unpersist(); tl.unpersist()
      checks(counted, gen, maxes)
    }
  }

  // --------------------------------------------------------- near_dedup
  final class NearDedup(data: String) extends Workload {
    override val oracleQueries = Map("q51" -> ("q51_dedup_pipeline", "."),
      "q93d" -> ("q93d_crawl_chain_http", "chain"))
    override val expressions = ingestExpressions

    def pass(spark: SparkSession): () => Seq[(String, String)] = {
      val df = SparkEntry.queries("q51_dedup_pipeline")(spark, data)
      val rows = df.collect()
      () => Seq("q51" -> digestOf(df, rows))
    }

    /** q51's own stage graph (`Curation.stageTimings`: the stages of
      * `clusterAssignments`, each persisted and forced), one child span
      * per stage on the program's own clock. The stage profile does not
      * return the labels, so q51 computes them again for the check, after
      * the pass clock has stopped and outside every span. */
    def tracedPass(spark: SparkSession, t: PerfTrace, c: Counters): () => Seq[(String, String)] = {
      t.span("curation.cluster_assignments", "Curation") {
        var at = t.nowMs
        for ((stage, sec, rows) <- PerfStages.q51(Tables.documents(spark, data))) {
          t.addSpan("curation." + q51StageSpans.getOrElse(stage, stage), "Curation",
            at, at + sec * 1e3)
          at += sec * 1e3
          if (stage == "minhash_candidates") c("curation.candidate_pairs") += rows
          if (stage == "jaccard_confirm") c("curation.verified_pairs") += rows
        }
      }
      () => pass(spark)()
    }

    /** The chain layer is measured on this workload's traced run: q93d
      * over the documents generated alongside (crawl_chain's make-up). */
    override val extra = Some(Extra(chainPass(_, s"$data/chain"),
      (s, t, _) => tracedChain(s, t, s"$data/chain")))
  }

  /** `Curation.stageTimings` stage -> span name under `curation.` */
  val q51StageSpans = Map("exact_collapse" -> "collapse", "canonical_ids" -> "canonical_ids",
    "shingle_persist" -> "shingles", "minhash_candidates" -> "candidates",
    "jaccard_confirm" -> "verify", "connected_components" -> "components",
    "expand_labels" -> "expand_labels")

  def chainPass(spark: SparkSession, dir: String): () => Seq[(String, String)] = {
    val df = SparkEntry.queries("q93d_crawl_chain_http")(spark, dir)
    val rows = df.collect()
    () => Seq("q93d" -> digestOf(df, rows))
  }

  /** The chain is one call into the program; its jobs are split by the
    * module at their call sites (CurationChain, Curation, LangId, ...). */
  def tracedChain(spark: SparkSession, t: PerfTrace, dir: String): () => Seq[(String, String)] = {
    val (df, rows) = t.span("chain.crawl_chain_http", "CurationChain") {
      val d = CurationChain.crawlChainHttp(Tables.documents(spark, dir),
        targetDocs = 500L, spanK = 4).orderBy(col("doc_id"))
      (d, d.collect())
    }
    () => Seq("q93d" -> digestOf(df, rows))
  }

  // -------------------------------------------------------- crawl_chain
  final class CrawlChain(data: String) extends Workload {
    override val oracleQueries = Map("q93d" -> ("q93d_crawl_chain_http", "."))
    override val expressions = ingestExpressions

    def pass(spark: SparkSession): () => Seq[(String, String)] = chainPass(spark, data)

    def tracedPass(spark: SparkSession, t: PerfTrace, c: Counters): () => Seq[(String, String)] =
      tracedChain(spark, t, data)
  }

  // --------------------------------------------------------- text_loops
  final class TextLoops(data: String) extends Workload {
    override val oracleQueries = Map("q155b" -> ("q155b_token_budget_bpe", "."),
      "q147" -> ("q147_pagerank_sinks", "."))
    val bpeSteps = 8
    val pagerankIters = 3

    def pass(spark: SparkSession): () => Seq[(String, String)] = {
      val a = SparkEntry.queries("q155b_token_budget_bpe")(spark, data)
      val ar = a.collect()
      val b = SparkEntry.queries("q147_pagerank_sinks")(spark, data)
      val br = b.collect()
      () => Seq("q155b" -> digestOf(a, ar), "q147" -> digestOf(b, br))
    }

    /** q155b and q147 recomposed from their public calls so the loops get
      * their own spans; both results still go through the oracles. The
      * BPE learn loop and the PageRank iterations run eagerly inside
      * their calls. */
    def tracedPass(spark: SparkSession, t: PerfTrace, c: Counters): () => Seq[(String, String)] = {
      val docs = Tables.documents(spark, data)
      val enc = t.span("loops.bpe", "TextAnalysis") {
        TextAnalysis.bpeEncode(docs, "doc_id", "text", steps = bpeSteps)
          .select(col("doc_id"), col("n_bpe_tokens")).localCheckpoint()
      }
      val (a, ar) = t.span("operators.token_budget", "DataPrep") {
        val q = DataPrep.tokenBudgetSelect(
            docs.select(col("doc_id"), col("source")).join(enc, Seq("doc_id")),
            "source", "doc_id", "n_bpe_tokens", budgetTokens = 3000L)
          .select(col("doc_id"), col("source"), col("n_bpe_tokens"), col("cum_tokens"))
          .orderBy(col("doc_id"))
        (q, q.collect())
      }
      val (edges, n) = t.span("sources.read", "Tables") {
        val e = Tables.lineitem(spark, data)
          .select(concat(lit("o"), col("l_orderkey").cast("string")).as("src"),
            concat(lit("p"), col("l_partkey").cast("string")).as("dst"))
          .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
          .localCheckpoint()
        (e, e.select(col("src").as("node")).union(e.select(col("dst"))).distinct().count())
      }
      val (b, br) = t.span("loops.pagerank", "Graph") {
        val r = Graph.pageRank(edges, iters = pagerankIters, damping = 0.85, nNodes = n,
            handleSinks = true)
          .orderBy(col("rank").desc, col("node")).limit(20)
        (r, r.collect())
      }
      c("loops.iterations") += bpeSteps + pagerankIters
      () => Seq("q155b" -> digestOf(a, ar), "q147" -> digestOf(b, br))
    }
  }

  // ------------------------------------------------ native expressions
  val ingestExpressions = Seq("warc_parse_bytes", "dechunk", "main_content", "nfc",
    "word_shingles_hash")
  private val htmlHead = "<html><head><script>var x = '<b>no</b>';</script>" +
    "<STYLE>p{}</STYLE></head><body><p>"
  private val htmlTail = "</p><div>café &#65;&amp;B</div></body></html>"
  private val CRLF = "\r\n"

  /** MB/s of each named native expression over the workload's own
    * documents, wrapped the way the crawl chain wraps them (HTML page,
    * chunked HTTP body, WARC record) and repeated to ~4 MB per fixture.
    * Median of three timed passes after one warm-up; MB = input bytes. */
  def exprRates(spark: SparkSession, data: String, names: Seq[String]): Map[String, Double] = {
    if (names.isEmpty) return Map.empty
    val docs = Tables.documents(spark, data).select(col("doc_id"), col("source"), col("text"))
    val textBytes = docs.agg(sum(octet_length(col("text")))).first().getLong(0)
    val k = math.max(1L, (4e6 / textBytes).toLong)
    val text = docs.crossJoin(spark.range(k).toDF("rep"))
      .select((col("doc_id") * k + col("rep")).as("id"), col("source"), col("text"))
    val html = concat(lit(htmlHead), col("text"), lit(htmlTail))
    def timed(input: DataFrame, force: DataFrame => DataFrame): Double = {
      val in = input.cache()
      val mb = in.agg(sum(octet_length(col("b")))).first().getLong(0) / 1e6
      def once(): Double = {
        val t0 = System.nanoTime(); force(in).collect(); (System.nanoTime() - t0) / 1e9
      }
      once()
      val med = Seq(once(), once(), once()).sorted.apply(1)
      in.unpersist()
      mb / med
    }
    def project(c: Column)(in: DataFrame) =
      in.select(c.as("o")).agg(count(col("o")), sum(length(col("o"))))
    val h = col("h")
    val chunked = {
      val c1 = substring(h, 1, 7)
      val c2 = h.substr(lit(8), length(h))
      concat(lower(conv(length(c1).cast("string"), 10, 16)), lit(";x=1" + CRLF), c1, lit(CRLF),
        lower(conv(length(c2).cast("string"), 10, 16)), lit(CRLF), c2, lit(CRLF),
        lit("0" + CRLF + CRLF))
    }
    names.map { n =>
      n -> (n match {
        case "warc_parse_bytes" =>
          val msg = concat(lit("HTTP/1.1 200 OK" + CRLF + "Content-Type: text/html" + CRLF +
            "Content-Length: "), length(html).cast("string"), lit(CRLF + CRLF), html)
          val rec = concat(lit("WARC/1.0" + CRLF + "WARC-Type: response" + CRLF +
              "WARC-Target-URI: http://"), col("source"), lit(".example.com/doc/"),
            col("id").cast("string"), lit(CRLF + "Content-Length: "),
            octet_length(msg).cast("string"), lit(CRLF + CRLF), msg, lit(CRLF + CRLF))
          timed(text.select(col("id"), encode(rec, "UTF-8").as("b")), in =>
            Warc.warcParseBytes(in, "id", "b").agg(count(col("body_md5")), sum(col("body_len"))))
        case "dechunk" =>
          timed(text.select(html.as("h")).select(chunked.as("b")), project(DechunkBody(col("b"))))
        case "main_content" =>
          timed(text.select(html.as("b")), project(MainContentExtract(col("b"), 30, 50).getField("text")))
        case "nfc" =>
          timed(text.select(MainContentExtract(html, 30, 50).getField("text").as("b")),
            project(NfcNormalize(col("b"))))
        case "word_shingles_hash" =>
          timed(text.select(col("text").as("b")), in =>
            in.select(explode(shingles(tokens(col("b")))).as("s"))
              .agg(min(hash60Seeded(lit(0), col("s"))), (1 until 8).map(i =>
                min(hash60Seeded(lit(i), col("s")))): _*))
      })
    }.toMap
  }

  // ------------------------------------------------------------ session
  /** Builds the session (extension injection included); returns it with
    * the seconds from JVM start to built and the seconds of a warm-up
    * query through the injected `yamr_partition`/`md5_hash60` functions
    * and one shuffle. */
  def startSession(cores: Int, work: String): (SparkSession, Double, Double) = {
    val s = GraftSession.builder("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    val built = System.currentTimeMillis()
    val start = (built - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    s.sql("SELECT yamr_partition(CAST(id AS STRING), 7) AS p, " +
      "MIN(md5_hash60(CAST(id AS STRING))) AS h FROM range(20000) GROUP BY 1").collect()
    (s, start, (System.currentTimeMillis() - built) / 1e3)
  }

  def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  final case class Pass(wall: Double, cpu: Double, digests: Seq[(String, String)], error: String)

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** One timed pass: wall and process CPU up to the results in hand. */
  def timedPass(f: => () => Seq[(String, String)]): Pass = {
    val c0 = osBean.getProcessCpuTime
    val t0 = System.nanoTime()
    try {
      val check = f
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (osBean.getProcessCpuTime - c0) / 1e9
      Pass(wall, cpu, check(), null)
    } catch {
      case e: Exception =>
        Pass((System.nanoTime() - t0) / 1e9, (osBean.getProcessCpuTime - c0) / 1e9, Nil,
          e.toString.take(500))
    }
  }

  /** Passes until `seconds` have passed and at least `min` were made,
    * ending on a whole multiple of `group` passes. */
  def loop(seconds: Double, min: Int, group: Int = 1)(one: Int => Pass): Seq[Pass] = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    val out = mutable.ArrayBuffer.empty[Pass]
    while (out.size < min || out.size % group != 0 || System.nanoTime() < end)
      out += one(out.size)
    out.toSeq
  }

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val (work, cores) = (o("work"), o("cores").toInt)
    val (spark, startS, warmupS) = startSession(cores, work)
    val out = mutable.LinkedHashMap[String, Any](
      "session_start_s" -> startS, "session_warmup_s" -> warmupS)
    val data = o("data")
    val seconds = o("seconds").toDouble
    val minPasses = o("min-passes").toInt
    val traced = o("trace") == "1"
    val workload: Workload = o("workload") match {
      case "mr_jobs" => new MrJobs(data, work, o("regions").toInt)
      case "near_dedup" => new NearDedup(data)
      case "crawl_chain" => new CrawlChain(data)
      case "text_loops" => new TextLoops(data)
    }

    def untracedPass(): Pass = timedPass(workload.pass(spark))
    out("warmup_passes") = (0 until o("warmup").toInt).map(_ => untracedPass())

    if (!traced) out("passes") = loop(seconds, minPasses)(_ => untracedPass())
    else {
      val repoModules = allFiles(new File(o("src"))).map(_.getName)
        .filter(_.endsWith(".scala")).map(_.stripSuffix(".scala")).toSet
      val t = new PerfTrace(spark, repoModules)
      val counters: Counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      def tracedPass(i: Int) = {
        t.traceId = i
        timedPass(t.span("pass." + o("workload"), "perfbench") {
          val c0 = CodeGenerator.compileTime
          val check = workload.tracedPass(spark, t, counters)
          counters("spark.codegen_ns") += CodeGenerator.compileTime - c0
          check
        })
      }
      // traced passes force outputs at span boundaries, which compiles
      // plans the untraced passes never ran: warm those up as well
      out("warmup_traced_passes") = (0 until o("warmup-traced").toInt).map(tracedPass)
      t.reset()
      counters.clear()
      // at least two of each: a traced pass of near_dedup also recomputes
      // q51 for its check, and the run must end within the command's limit
      val (even, odd) = loop(seconds, 4, group = 2) { i =>
        if (i % 2 == 0) untracedPass() else tracedPass(i / 2)
      }.zipWithIndex.partition(_._2 % 2 == 0)
      val tpasses = odd.map(_._1)
      out("passes") = even.map(_._1)
      out("traced_passes") = tpasses
      workload.extra.foreach { e =>
        val cold = timedPass(e.cold(spark))
        t.traceId = tpasses.size
        out("extra_passes") = Seq(cold, timedPass(e.traced(spark, t, counters)))
      }
      val jobs = t.attribute()
      t.close()
      out("per_layer") = PerfLayers.metrics(t, jobs, tpasses.size, counters) ++
        exprRates(spark, data, workload.expressions).map { case (n, v) => s"functions.$n.mb_per_s" -> v }
      Files.write(Paths.get(o("out") + ".trace.json"), Json(t.report(jobs)).getBytes(UTF_8))
    }
    // an untraced run makes no extra call, so checks none of its results
    out("oracle_sql") = workload.oracleQueries.collect { case (r, (q, dir))
        if traced || dir == "." =>
      r -> Map("sql" -> SparkEntry.oracleSql.getOrElse(q, sys.error(s"no oracle for $q")),
        "dir" -> dir)
    }
    out("spark_conf") = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k == "spark.master" }
    out("heap_max_mb") = Runtime.getRuntime.maxMemory / 1048576.0
    out("cores") = cores
    stopSession(spark)
    out("peak_rss_mb") = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(-1.0)
    Files.write(Paths.get(o("out")), Json(out).getBytes(UTF_8))
  }

  private def allFiles(d: File): Seq[File] =
    Option(d.listFiles).fold(Seq.empty[File])(_.toSeq.flatMap(f =>
      if (f.isDirectory) allFiles(f) else Seq(f)))

  /** Minimal JSON writer for the run document. */
  object Json {
    def apply(v: Any): String = v match {
      case null => "null"
      case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
        case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case n @ (_: Int | _: Long) => n.toString
      case b: Boolean => b.toString
      case p: Pass => apply(mutable.LinkedHashMap("wall_s" -> p.wall, "cpu_s" -> p.cpu,
        "digests" -> p.digests.toMap, "error" -> p.error))
      case m: scala.collection.Map[_, _] =>
        m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
      case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    }
  }
}
