package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine: every main builds its session
  * here, so Bench, Verify, PlanDump and the probes run under one config.
  *
  * Replaces the reference's hand-rolled control plane (yamr
  * job_tracker.py:120-276 scheduler + worker.py heartbeats) with Spark's
  * scheduler/shuffle/fault-tolerance. Local sessions use [[cpus]] cores
  * and as many shuffle partitions; on a real cluster the same code runs
  * unchanged — AQE re-plans partition counts at runtime, so
  * `spark.sql.shuffle.partitions` is only the pre-AQE upper bound.
  */
object GraftSession {

  /** Local core count: `SPARK_GRAFT_CPUS` when set (a positive integer,
    * anything else fails loudly), else every processor the JVM sees. The
    * one place the variable is read. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS") match {
    case Some(v) => v.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
    case None => Runtime.getRuntime.availableProcessors
  }

  /** Entries of Spark's generated-class cache (`spark.sql.codegen.cache.maxEntries`,
    * default 100), sized so a warm call compiles nothing. The cache is
    * keyed by class loader as well as source, and local mode compiles
    * about 30 of q51's 71–72 classes twice (driver and executor
    * threads): one q51 call needs 101–103 entries, and at the default
    * every warm call recompiled 38–54 of them. Measured at `local[4]`,
    * q51, its stage graph and the q93d chain together hold about 350
    * entries in one JVM; Guava splits the cap over 4 segments that evict
    * on their own, so the cap leaves over 3× that. The cache is
    * JVM-global and sized once, from the session active when code is
    * first generated: this takes effect only if a session from
    * [[builder]] comes first. */
  val codegenCacheEntries = 1200

  def builder(appName: String = "graft"): SparkSession.Builder =
    SparkSession
      .builder()
      .appName(appName)
      .config("spark.sql.codegen.cache.maxEntries", codegenCacheEntries.toString)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")

  /** The local session every main runs under: `local[cpus]` on top of
    * [[builder]]; `conf` adds settings a main needs beyond it. */
  def local(appName: String = "graft",
      conf: Map[String, String] = Map.empty): SparkSession = {
    val s = conf.foldLeft(builder(appName).master(s"local[$cpus]")) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
