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

  def builder(appName: String = "graft"): SparkSession.Builder =
    SparkSession
      .builder()
      .appName(appName)
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
