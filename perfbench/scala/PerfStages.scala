package graft

import org.apache.spark.sql.DataFrame

/** The benchmark's one entry into a package-private diagnostic:
  * `Curation.stageTimings` runs q51's `clusterAssignments` stage graph
  * (exact-duplicate collapse, one shared shingle cache, canonical-only
  * banding, verification and connected components) with each stage
  * persisted and forced, and reports (stage, seconds, rows) in order. */
object PerfStages {
  def q51(docs: DataFrame): Seq[(String, Double, Long)] =
    operators.Curation.stageTimings(docs, threshold = 0.5)
}
