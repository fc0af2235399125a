package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites run
  * sequentially under sbt's forked test JVM).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf001 = "/root/testdata/sf0.001"
}

object SparkSpec {
  /** The engine's own session ([[GraftSession.builder]]: AQE, UTC,
    * `GraftExtensions`, the sized codegen cache) with the core count and
    * shuffle partitions pinned at 4, so plans and partition-dependent
    * results do not vary with the host. */
  lazy val session: SparkSession = {
    val s = GraftSession.builder("graft-test")
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
