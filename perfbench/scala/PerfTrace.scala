package perfbench

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Benchmark-side tracing: spans around calls into the program's layers,
  * plus a SparkListener that attributes every Spark job to the span whose
  * job group launched it and to the repo module (source file) at its call
  * site. Nothing inside the program is instrumented.
  *
  * Times are epoch milliseconds (the listener's clock); spans and jobs
  * stay in memory until [[report]] hands them over at the end of the run.
  */
final class PerfTrace(spark: SparkSession, repoModules: Set[String]) {
  private val sc = spark.sparkContext
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  final class Span(val id: Int, val parent: Int, val trace: Int,
      val name: String, val module: String, val start: Double) {
    var end: Double = Double.NaN
    def wall: Double = (end - start) / 1e3
    def layer: String = name.takeWhile(_ != '.')
  }

  final case class Stage(tasks: Int, runMs: Long, cpuNs: Long, gcMs: Long,
      shuffleWrite: Long, shuffleWriteRecords: Long, shuffleRead: Long,
      spill: Long, inputBytes: Long)

  final class Job(val id: Int, val group: String, val callSite: String,
      val start: Double, val stageIds: Seq[Int]) {
    @volatile var end: Double = Double.NaN
    val stages = ArrayBuffer.empty[Stage]
    /** Filled by [[attribute]] once the listener bus has drained. */
    var span: Span = _
    var module: String = _
  }

  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  /** Spans opened under the same trace id belong to one benchmark job. */
  var traceId = 0

  private val jobs = TrieMap.empty[Int, Job]
  private val stageOwner = TrieMap.empty[Int, Int]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      // the result stage is created last; its details are the job's long
      // call site (one stack frame per line)
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
      jobs.put(e.jobId, new Job(e.jobId, group, site, e.time.toDouble, e.stageIds))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val id = e.stageInfo.stageId
      // a stage can be listed by several jobs; it runs for the newest
      // running job that lists it
      jobs.values.filter(j => j.end.isNaN && j.stageIds.contains(id))
        .maxByOption(_.id).foreach(j => stageOwner.put(id, j.id))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      for (jid <- stageOwner.get(i.stageId); j <- jobs.get(jid) if m != null)
        j.stages.synchronized {
          j.stages += Stage(i.numTasks, m.executorRunTime, m.executorCpuTime,
            m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
            m.shuffleWriteMetrics.recordsWritten,
            m.shuffleReadMetrics.totalBytesRead,
            m.memoryBytesSpilled + m.diskBytesSpilled,
            m.inputMetrics.bytesRead)
        }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }
  sc.addSparkListener(listener)

  /** Runs `f` as a span named `layer.function`; `module` is the program
    * object called. The caller forces `f`'s output inside the span, so
    * the span's time is its own work. */
  def span[A](name: String, module: String)(f: => A): A = {
    val s = new Span(spans.size, stack.headOption.fold(-1)(_.id), traceId,
      name, module, nowMs)
    spans += s
    stack = s :: stack
    sc.setJobGroup(s"perfspan-${s.id}", name)
    try f
    finally {
      s.end = nowMs
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(s"perfspan-${p.id}", p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Records a finished span under the innermost open span, for a stage
    * the program timed itself (its jobs carry the enclosing span's job
    * group; [[attribute]] moves them here by start time). */
  def addSpan(name: String, module: String, start: Double, end: Double): Unit = {
    val s = new Span(spans.size, stack.headOption.fold(-1)(_.id), traceId, name, module, start)
    s.end = end
    spans += s
  }

  /** Waits for the listener bus, then maps each job to a span and module. */
  def attribute(): Seq[Job] = {
    drainListenerBus()
    val all = jobs.values.toSeq.sortBy(_.id)
    for (j <- all) {
      j.span = Option(j.group).filter(_.startsWith("perfspan-"))
        .map(g => spans(g.stripPrefix("perfspan-").toInt))
        .orElse(spans.filter(s => s.start <= j.start && j.start <= s.end)
          .maxByOption(_.start))
        .map(s => innermost(s, j.start))
        .orNull
      // first frame in a repo source file; jobs forced by the benchmark's
      // own files or launched from pool threads (broadcasts) go to the
      // module of the span that caused them
      j.module = PerfTrace.frameFile.findAllMatchIn(j.callSite).map(_.group(1))
        .find(repoModules).getOrElse(Option(j.span).fold("other")(_.module))
    }
    all
  }

  /** The deepest span under `s` (following children) open at time `at`. */
  private def innermost(s: Span, at: Double): Span =
    spans.find(c => c.parent == s.id && c.start <= at && at <= c.end)
      .fold(s)(innermost(_, at))

  private def drainListenerBus(): Unit = {
    // LiveListenerBus.waitUntilEmpty is spark-private in Scala but public
    // in bytecode; without it the last events may still be queued
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** Forgets every span and job recorded so far (unmeasured passes). */
  def reset(): Unit = {
    drainListenerBus()
    spans.clear()
    jobs.clear()
    stageOwner.clear()
  }

  def close(): Unit = sc.removeSparkListener(listener)

  /** Spans with their self time (wall minus the union of their
    * children), and jobs with their attribution, for the trace file. */
  def report(all: Seq[Job]): Map[String, Seq[Map[String, Any]]] = {
    val children = spans.groupBy(_.parent)
    Map(
      "spans" -> spans.toSeq.map { s =>
        val covered = PerfTrace.union(children.getOrElse(s.id, Nil).map(c => (c.start, c.end)).toSeq)
        Map("id" -> s.id, "parent" -> s.parent, "trace" -> s.trace, "name" -> s.name,
          "module" -> s.module, "start_ms" -> s.start, "end_ms" -> s.end,
          "wall_s" -> s.wall, "self_s" -> (s.wall - covered / 1e3))
      },
      "jobs" -> all.map { j =>
        val st = j.stages.synchronized(j.stages.toList)
        Map("id" -> j.id, "span" -> Option(j.span).fold(-1)(_.id), "module" -> j.module,
          "start_ms" -> j.start, "end_ms" -> j.end, "stages" -> st.size,
          "tasks" -> st.map(_.tasks).sum, "exec_run_s" -> st.map(_.runMs).sum / 1e3,
          "shuffle_write_bytes" -> st.map(_.shuffleWrite).sum)
      })
  }
}

object PerfTrace {
  private val frameFile = """\(([A-Za-z0-9_]+)\.scala:\d+\)""".r

  /** Total length of the union of [start, end] intervals. */
  def union(iv: Seq[(Double, Double)]): Double = {
    var total, curS, curE = 0.0
    var open = false
    for ((s, e) <- iv.filter(x => !x._2.isNaN).sortBy(_._1)) {
      if (open && s <= curE) curE = math.max(curE, e)
      else {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      }
    }
    if (open) total += curE - curS
    total
  }
}
