package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Benchmark main: times every declared query at SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line (driver contract). A warm-up action runs first so
  * session/codegen/file-index startup cost isn't charged to whichever
  * query happens to run first; queries run in name order.
  *
  * Timed action (round 7): a `noop`-sink write, NOT `.count()`. Counting
  * lets the optimizer prune everything the count doesn't need — for a
  * query whose tail is an aggregation, that deletes the aggregate
  * expressions themselves (q92's GK summaries degenerated to a DISTINCT
  * over the group keys; q01/q43/q55 lost their aggregate arithmetic) and
  * EliminateSorts drops terminal ORDER BYs. The noop sink materializes
  * every output row and column through the unmodified physical plan —
  * the honest end-to-end cost. Bench JSONs carry `"action":"noop"` so
  * rounds measured under the old pruned action (r2–r6) are
  * distinguishable from r7+ — compare r7 numbers against the r7-
  * regenerated BENCH_BASELINE.txt, not against r6 artifacts.
  *
  * Self-validation (VERDICT r5 #1 — three rounds of committed bench JSONs
  * carried contention-inflated entries that were indistinguishable from
  * regressions after the fact):
  *   - machine-health metadata is recorded per run: /proc/loadavg before
  *     and after, and a per-query process-CPU/wall ratio (external
  *     contention steals cores, so wall grows while our CPU doesn't —
  *     the ratio drops);
  *   - each query's median is compared against a committed quiet-machine
  *     baseline (BENCH_BASELINE.txt, regenerated via
  *     SPARK_GRAFT_BENCH_BASELINE_WRITE); anything above
  *     SUSPECT_FACTOR× baseline is re-run once after a cooldown and the
  *     better median kept (contention only ever inflates);
  *   - entries still above the threshold are named in a "suspect" list,
  *     so a contaminated artifact declares itself instead of masquerading
  *     as a regression.
  */
object Bench {

  /** Parse a baseline table: one `name seconds` pair per line, `#`
    * comments and blank lines ignored. Malformed lines are skipped
    * loudly rather than failing the bench (a stale baseline must not
    * block measurement).
    */
  def parseBaseline(lines: Iterator[String]): Map[String, Double] =
    lines.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).flatMap { l =>
      l.split("\\s+") match {
        case Array(name, num) => num.toDoubleOption.map(name -> _)
        case _ =>
          System.err.println(s"[bench] baseline line skipped: $l"); None
      }
    }.toMap

  /** The core count a baseline was measured at: the first `cpus=N` on
    * one of its `#` header lines. */
  def baselineCpus(lines: Seq[String]): Option[Int] =
    lines.iterator.map(_.trim).filter(_.startsWith("#"))
      .flatMap("""\bcpus=(\d+)""".r.findFirstMatchIn(_)).map(_.group(1).toInt).nextOption()

  /** The baseline's medians if it was measured at `cpus` cores, else
    * none (said on stderr): a pin from another core count would mark
    * healthy queries suspect. */
  def baselineAt(lines: Seq[String], cpus: Int): Map[String, Double] =
    baselineCpus(lines) match {
      case Some(`cpus`) => parseBaseline(lines.iterator)
      case other =>
        System.err.println(s"[bench] baseline ${other.fold("names no core count")(c => s"is for cpus=$c")}; " +
          s"this run has cpus=$cpus: no suspect analysis")
        Map.empty
    }

  def median(times: Seq[Double]): Double = times.sorted.apply(times.length / 2)

  /** Inflated relative to the quiet baseline? Sub-threshold absolute
    * times are never suspect: a 0.1s query at 0.22s is scheduler noise,
    * not contamination worth a re-run.
    */
  def isSuspect(med: Double, base: Option[Double], factor: Double,
                minAbs: Double): Boolean =
    base.exists(b => med > b * factor && med - b > minAbs)

  /** Where the full per-query JSON goes: `requested` (the
    * `SPARK_GRAFT_BENCH_FULL` path) or cwd-relative `BENCH_FULL_c<cpus>.json`,
    * so a run at one core count never overwrites another's. A filtered
    * run writes the `_FILTERED` sibling of that path instead, so it can
    * never clobber the latest full per-query record. */
  def recordPath(requested: Option[String], filtered: Boolean, cpus: Int): String = {
    val full = requested.getOrElse(s"BENCH_FULL_c$cpus.json")
    if (filtered) full.replaceFirst("(\\.[^./]*)?$", "_FILTERED$1") else full
  }

  /** The full JSON's `codegen` field: per query, the Janino seconds and
    * the classes compiled during its first measured pass. */
  def codegenJson(rows: Seq[(String, Double, Long)]): String =
    rows.map { case (n, sec, classes) => "\"" + n + "\":{\"janino_s\":" +
      String.format(java.util.Locale.ROOT, "%.4f", Double.box(sec)) + s",\"classes\":$classes}"
    }.mkString("{", ",", "}")

  private def loadavg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
      .split("\\s+").take(3).mkString(" ")
    catch { case _: Throwable => "unavailable" }

  private val osBean =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => Some(b)
      case _ => None
    }
  private def processCpuNanos(): Long = osBean.map(_.getProcessCpuTime).getOrElse(-1L)

  val SUSPECT_FACTOR = 2.0
  val SUSPECT_MIN_ABS_SEC = 0.3
  val COOLDOWN_MS = 8000
  // Escalating-cooldown retries for inflated entries. Round 8's driver
  // bench failed on three queries that re-measured fine on an idle
  // machine (q67 16.0s under load, 4.3s idle — code unchanged since
  // round 7): a single 8s cooldown is shorter than typical co-tenant
  // bursts, so one loaded minute turned into a red round. Three retries
  // at 8s/24s/72s give ~100s for transient load to drain while a real
  // plan regression still fails every attempt and exits nonzero.
  val MAX_RETRIES = 3
  val COOLDOWN_ESCALATION = 3

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // GraftExtensions (the top-k strategy and rule, the SQL functions)
    // comes with the factory session, so q77 plans as under Verify
    val spark = GraftSession.local("graft-bench")
    val cpus = GraftSession.cpus

    val loadBefore = loadavg()

    // quiet-machine reference medians; absent file, or one measured at
    // another core count → no suspect analysis (first run on a new
    // machine), matching file → every entry checked.
    // cwd-relative, so a checkout anywhere reads its own baseline
    val baseline: Map[String, Double] =
      (sys.env.get("SPARK_GRAFT_BENCH_BASELINE").toSeq :+ "BENCH_BASELINE.txt")
        .map(new java.io.File(_)).find(_.exists) match {
        case None => Map.empty
        case Some(f) =>
          // explicit UTF-8: the forked JVM's default charset follows the
          // launcher locale (POSIX => US-ASCII), where a single non-ASCII
          // byte in a baseline COMMENT throws MalformedInputException and
          // kills the whole bench instead of skipping a line (r11)
          val src = scala.io.Source.fromFile(f)(scala.io.Codec.UTF8)
          try baselineAt(src.getLines().toSeq, cpus) finally src.close()
      }

    // warm-up: touch every table + JIT the scan/agg and the lambda-heavy
    // tokenize/explode codegen paths (first execution otherwise pays ~3s
    // of whole-stage-codegen compilation on whichever query runs first)
    import org.apache.spark.sql.functions._
    var warmedUp = true
    try {
      graft.sources.Tables.lineitem(spark, sfDir).count()
      graft.sources.Tables.events(spark, sfDir).count()
      graft.sources.Tables.embeddings(spark, sfDir).count()
      graft.sources.Tables.documents(spark, sfDir)
        .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("w"))
        .groupBy(col("w")).count().count()
    } catch { case e: Throwable =>
      // a broken warm-up must not kill the bench — per-query error
      // handling below reports what actually fails
      warmedUp = false
      System.err.println(s"[bench] warm-up failed: ${e.getMessage}")
    }

    val failures = scala.collection.mutable.ArrayBuffer.empty[String]

    // optional comma-separated query filter for targeted re-measurement
    // (regression triage without paying for the whole tail)
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").map(_.trim).toSet)
    def selected(name: String): Boolean = only.forall(_.contains(name))

    // The IVF index build (KMeans fit) is a one-time amortized cost, not
    // query latency: run q41b once up front so the fitted model lands in
    // Similarity's index cache, report that as *_build, and let the timed
    // loop below measure the probe-only path like any other query.
    // Median-of-reps isn't available for the build (the fit caches), so
    // its contention defense is the retry loop: clear the quantizer cache
    // and re-fit after an escalating cooldown while the single-shot time
    // stays over the suspect threshold (round 8: 11.2s under co-tenant
    // load vs 5.4s baseline with nothing in the build path changed).
    val ivfBuild: Option[Double] = if (!selected("q41b_ann_ivf")) None else {
      def buildOnce(): Option[Double] = {
        val t0 = System.nanoTime()
        try {
          SparkEntry.queries("q41b_ann_ivf")(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          Some((System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] q41b index build FAILED: ${e.getMessage}")
          None
        }
      }
      var best = buildOnce()
      var attempt = 0
      var cooldown = COOLDOWN_MS.toLong
      while (best.exists(t => isSuspect(t, baseline.get("q41b_ann_ivf_build"),
          SUSPECT_FACTOR, SUSPECT_MIN_ABS_SEC)) && attempt < MAX_RETRIES) {
        attempt += 1
        System.err.println(s"[bench] q41b build inflated vs baseline, " +
          s"retry $attempt/$MAX_RETRIES after ${cooldown / 1000}s cooldown")
        Thread.sleep(cooldown)
        cooldown *= COOLDOWN_ESCALATION
        graft.operators.Similarity.clearIvfIndexCache()
        best = (best.toSeq ++ buildOnce().toSeq).minOption
      }
      // the round is a failure only when NO attempt produced a valid
      // measurement: a retry attempt that throws transiently must not red
      // a run whose initial (merely inflated) build succeeded (ADVICE r9)
      if (best.isEmpty) failures += "q41b_ann_ivf_build"
      best // the cache is warm again after the last re-fit: the timed
           // loop below still measures the probe-only path
    }

    // median of 3 runs per query: single-shot timing can't separate a
    // systematic plan regression from one-off JIT/GC noise (VERDICT r2 #5)
    val reps = math.max(1,
      sys.env.get("SPARK_GRAFT_BENCH_REPS").flatMap(_.toIntOption).getOrElse(3))

    /** One measured pass over a query: reps wall-clock timings, the
      * process-CPU/wall ratio across the successful reps, and the Janino
      * seconds and classes compiled across all reps. Returns None if
      * every rep failed (the failure list already names it).
      */
    def measure(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
                recordFailure: Boolean): Option[(Double, Double, (Double, Long))] = {
      val (janino0, classes0) = (CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
      val times = scala.collection.mutable.ArrayBuffer.empty[Double]
      var cpuNs = 0L
      var wallNs = 0L
      var failed = false
      var i = 0
      while (i < reps && !failed) {
        val c0 = processCpuNanos()
        val t0 = System.nanoTime()
        try {
          // full materialization — see the scaladoc's noop-vs-count note
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          // only successful reps count toward the median: a fast exception
          // must not make a broken query look fast (ADVICE r3)
          val dt = System.nanoTime() - t0
          times += dt / 1e9
          wallNs += dt
          if (c0 >= 0) cpuNs += processCpuNanos() - c0
        } catch { case e: Throwable =>
          failed = true
          if (recordFailure) failures += name
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        }
        i += 1
      }
      if (times.isEmpty) None
      else Some((Bench.median(times.toSeq),
        if (wallNs > 0 && cpuNs > 0) cpuNs.toDouble / wallNs else -1.0,
        ((CodeGenerator.compileTime - janino0) / 1e9,
          CodegenMetrics.METRIC_COMPILATION_TIME.getCount - classes0)))
    }

    val firstPass = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => selected(name) }
      .flatMap { case (name, fn) =>
        measure(name, fn, recordFailure = true).map(name -> _)
      }

    // contention defense: anything >SUSPECT_FACTOR× its quiet baseline is
    // re-measured after an escalating cooldown (up to MAX_RETRIES times);
    // keep the BEST median seen (external load only ever inflates wall
    // time, so min is the honest estimate). A query that recovers below
    // the threshold on any attempt stops retrying.
    val inflated = firstPass.collect {
      case (name, (med, _, _)) if isSuspect(med, baseline.get(name),
        SUSPECT_FACTOR, SUSPECT_MIN_ABS_SEC) => name
    }
    val reruns = scala.collection.mutable.Map.empty[String, (Double, Double)]
    var pending = inflated.toSeq
    var attempt = 0
    var cooldown = COOLDOWN_MS.toLong
    while (pending.nonEmpty && attempt < MAX_RETRIES) {
      attempt += 1
      System.err.println(s"[bench] ${pending.size} inflated vs baseline, " +
        s"retry $attempt/$MAX_RETRIES after ${cooldown / 1000}s cooldown: " +
        pending.mkString(","))
      Thread.sleep(cooldown)
      cooldown *= COOLDOWN_ESCALATION
      pending = pending.filter { name =>
        measure(name, SparkEntry.queries(name), recordFailure = false) match {
          case Some((med, ratio, _)) =>
            if (reruns.get(name).forall(_._1 > med)) reruns(name) = (med, ratio)
            // retry again only while still over the threshold
            isSuspect(reruns(name)._1, baseline.get(name),
              SUSPECT_FACTOR, SUSPECT_MIN_ABS_SEC)
          case None => false // measurement failure already reported
        }
      }
    }

    val results = firstPass.map { case (name, (med, ratio, _)) =>
      reruns.get(name) match {
        case Some((med2, ratio2)) if med2 < med => (name, med2, ratio2)
        case _ => (name, med, ratio)
      }
    } ++ ivfBuild.map(t => ("q41b_ann_ivf_build", t, -1.0))

    // still inflated after the re-run → named loudly, never silently kept
    val suspect = results.collect {
      case (name, med, _) if isSuspect(med, baseline.get(name),
        SUSPECT_FACTOR, SUSPECT_MIN_ABS_SEC) => name
    }

    // optional baseline regeneration (quiet machine only — caller's
    // responsibility, but loadavg is recorded in the header for audit)
    sys.env.get("SPARK_GRAFT_BENCH_BASELINE_WRITE").foreach { path =>
      val w = new java.io.PrintWriter(path)
      try {
        w.println(s"# quiet-machine bench medians, reps=$reps, cpus=$cpus, sf=$sfDir")
        w.println(s"# loadavg at start: $loadBefore")
        results.foreach { case (name, med, _) =>
          // Locale.ROOT: a comma-decimal default locale would write a
          // baseline parseBaseline silently discards (ADVICE r6 #2)
          w.println(name + " " + String.format(java.util.Locale.ROOT, "%.4f", Double.box(med)))
        }
      } finally w.close()
      System.err.println(s"[bench] baseline written to $path")
    }

    val loadAfter = loadavg()
    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val ratios = results.collect { case (k, _, r) if r >= 0 =>
      // Locale.ROOT keeps the emitted JSON valid on comma-decimal locales
      "\"" + k + "\":" + String.format(java.util.Locale.ROOT, "%.2f", Double.box(r))
    }.mkString("{", ",", "}")
    val fq = failures.map("\"" + _ + "\"").mkString("[", ",", "]")
    val sus = suspect.map("\"" + _ + "\"").mkString("[", ",", "]")
    val rr = inflated.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    val cg = codegenJson(firstPass.map { case (name, (_, _, (sec, n))) => (name, sec, n) })
    // reps/warmup/build-split metadata makes cross-round bench JSONs
    // self-describing, so comparisons can refuse apples-to-oranges
    // (r2 single-shot vs r3 median-of-3 was silently incomparable);
    // loadavg/cpu_wall/suspect make a contaminated run distinguishable
    // from a regression AFTER the fact (VERDICT r3/r4/r5)
    val jsonLine = s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,"warmup":$warmedUp,"action":"noop","build_keys":["q41b_ann_ivf_build"],"loadavg_before":"$loadBefore","loadavg_after":"$loadAfter","baseline_entries":${baseline.size},"rerun":$rr,"suspect":$sus,"suspect_fail":${suspect.nonEmpty},"cpu_wall":$ratios,"queries":$qs,"codegen":$cg,"failed":$fq,"cpus":$cpus,"sf":"$sfDir"}"""
    println(jsonLine)
    // also persist the full line: the driver's committed BENCH_r{N}.json
    // truncates to a ~2KB tail, which dropped the per-query history for
    // the alphabetic head of the suite from every round artifact
    // (VERDICT r9 what's-wrong #1) — BENCH_FULL_c<cpus>.json is overwritten per
    // FULL run and committed each round so the complete map survives.
    // Filtered runs (SPARK_GRAFT_BENCH_ONLY) go to a separate file so
    // they can never clobber the latest full per-query record
    // (VERDICT r18 what's-wrong #2).
    val fullPath = recordPath(sys.env.get("SPARK_GRAFT_BENCH_FULL"),
      filtered = only.isDefined, cpus)
    try {
      val w = new java.io.PrintWriter(fullPath)
      try w.println(jsonLine) finally w.close()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $fullPath: ${e.getMessage}")
    }
    // FINAL stdout line: a compact summary that survives the driver's
    // ~2KB tail capture. The full line above grew past 15KB at 259
    // queries, so the driver's captured tail arrived mid-line and
    // unparseable — rounds 17/18 lost their entire per-query comparison
    // (VERDICT r18 what's-wrong #1). The per-query map lives in
    // BENCH_FULL_c<cpus>.json (referenced by per_query_file); the measurement
    // itself — queries, reps, action, methodology — is unchanged.
    val summaryLine = s"""{"metric":"total","value":$total,"unit":"sec","n":${results.size},"reps":$reps,"warmup":$warmedUp,"action":"noop","loadavg_before":"$loadBefore","loadavg_after":"$loadAfter","rerun":$rr,"suspect":$sus,"suspect_fail":${suspect.nonEmpty},"failed":$fq,"cpus":$cpus,"sf":"$sfDir","per_query_file":"$fullPath"}"""
    println(summaryLine)
    spark.stop()
    // a query still >SUSPECT_FACTOR× its quiet baseline AFTER the cooldown
    // re-run is a red bench, not a footnote (VERDICT r7 #8): with the
    // honest noop action and a coherent baseline, survivors mean either a
    // real regression or a machine too loaded to measure on — both must
    // fail loudly. The JSON line above is printed first either way, so the
    // caller still gets the full self-describing result.
    if (suspect.nonEmpty) {
      System.err.println(s"[bench] FAILING: still-inflated after re-run: ${suspect.mkString(",")}")
      sys.exit(3)
    }
  }
}
