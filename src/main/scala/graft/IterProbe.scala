package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The one stage-tap hook. Operators call [[tap]] with (name, index,
  * frame) where a plan is otherwise invisible from the final frame:
  *
  *   - loop iterations (pageRank/HITS/BPE/unigram) tap each iteration's
  *     frame BEFORE its localCheckpoint, so a mid-loop plan shows which
  *     side arrives pre-partitioned instead of the 13-line final frame
  *     over checkpointed RDDs;
  *   - q51's `clusterAssignments` and the curation chains tap every
  *     stage boundary through [[stage]] as `stage_<name>` (index 0),
  *     right where they create that stage's frame.
  *
  * A probe is installed for one call with [[during]] and sees only the
  * taps fired on the calling thread inside it (every query is built on
  * its caller's thread); with none installed a tap is one `ThreadLocal`
  * read. PlanDump explains every tapped frame; [[stageTimings]] forces
  * and times the stage frames. A probe may force a stage frame (counting
  * it only moves work the query would run anyway), but it must only
  * EXPLAIN a loop frame: forcing one mid-loop would execute the
  * iteration twice.
  */
object IterProbe {
  type Probe = (String, Int, DataFrame) => Unit

  // plain, not inheritable: a Spark pool thread created during the call
  // must not inherit the caller's probe
  private val current = new ThreadLocal[Probe]

  def tap(name: String, iter: Int, df: DataFrame): Unit = {
    val p = current.get
    if (p != null) p(name, iter, df)
  }

  /** A stage boundary: taps `stage_<name>` and returns `df` unchanged. */
  def stage(name: String, df: DataFrame): DataFrame = {
    tap(s"stage_$name", 0, df)
    df
  }

  /** Runs `body` with `probe` seeing this thread's taps; the probe is
    * gone when `body` returns or throws (an enclosing probe, if any, is
    * restored). */
  def during[A](probe: Probe)(body: => A): A = {
    val outer = current.get
    current.set(probe)
    try body
    finally if (outer == null) current.remove() else current.set(outer)
  }

  /** (stage, seconds, rows) of every `stage_*` tap `body` fires, in
    * firing order. Each stage frame is persisted (unless already stored)
    * and counted, so a stage's seconds are its own cost — the wall time
    * since the previous boundary, or since `body` started for the first —
    * not its ancestors' recompute. What was persisted here is released
    * when `body` ends. Loop taps are ignored. */
  def stageTimings(body: => Any): Seq[(String, Double, Long)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Long)]
    val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var at = System.nanoTime()
    try during({ (name, _, df) =>
        if (name.startsWith("stage_")) {
          if (df.storageLevel == StorageLevel.NONE) { df.persist(); held += df }
          val rows = df.count()
          val now = System.nanoTime()
          out += ((name.stripPrefix("stage_"), (now - at) / 1e9, rows))
          at = now
        }
      })(body)
    finally held.foreach(_.unpersist())
    out.toSeq
  }
}
