package graft

import org.apache.spark.sql.DataFrame

/** The one stage-tap hook. Operators call [[tap]] with (name, index,
  * frame) where a plan is otherwise invisible from the final frame:
  *
  *   - loop iterations (pageRank/HITS/BPE/unigram) tap each iteration's
  *     frame BEFORE its localCheckpoint, so a mid-loop plan shows which
  *     side arrives pre-partitioned instead of the 13-line final frame
  *     over checkpointed RDDs;
  *   - the curation chains tap every stage boundary as `stage_<name>`
  *     (index 0), right where the chain creates that stage's frame.
  *
  * `probe` is None except under a diagnostic main (PlanDump explains
  * every tapped frame; ScaleProbe `stages` counts the chain stages) — a
  * None check per tap, no cost in Bench/Verify. A probe may force a stage
  * frame (counting it only moves work the chain would run anyway), but it
  * must only EXPLAIN a loop frame: forcing one mid-loop would execute the
  * iteration twice.
  */
object IterProbe {
  @volatile var probe: Option[(String, Int, DataFrame) => Unit] = None

  def tap(name: String, iter: Int, df: DataFrame): Unit =
    probe.foreach(_(name, iter, df))
}
