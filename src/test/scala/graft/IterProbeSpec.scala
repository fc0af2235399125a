package graft

import org.apache.spark.storage.StorageLevel

class IterProbeSpec extends SparkSpec {

  private def recording() = {
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    val probe: IterProbe.Probe = (name, _, _) => seen += name
    (seen, probe)
  }

  test("during: a probe sees the taps inside its body, and none after it returns or throws") {
    val df = spark.range(1).toDF()
    val (seen, probe) = recording()
    val out = IterProbe.during(probe) {
      IterProbe.tap("loop", 3, df)
      IterProbe.stage("a", df)
    }
    assert(out eq df)
    IterProbe.stage("after_return", df)
    intercept[IllegalStateException] {
      IterProbe.during(probe) {
        IterProbe.stage("b", df)
        throw new IllegalStateException("body failed")
      }
    }
    IterProbe.stage("after_throw", df)
    assert(seen == Seq("loop", "stage_a", "stage_b"))
  }

  test("during: a probe sees only its own thread's taps, and a nested probe restores the outer") {
    val df = spark.range(1).toDF()
    val (outer, outerProbe) = recording()
    val (inner, innerProbe) = recording()
    IterProbe.during(outerProbe) {
      val other = new Thread(() => IterProbe.stage("other_thread", df))
      other.start(); other.join()
      IterProbe.during(innerProbe)(IterProbe.stage("inner", df))
      IterProbe.stage("outer", df)
    }
    assert(outer == Seq("stage_outer"))
    assert(inner == Seq("stage_inner"))
  }

  test("stageTimings: stage taps in firing order, loop taps ignored, only its own persists released") {
    val fresh = spark.range(10).toDF("id")
    val stored = spark.range(7).toDF("id").persist()
    try {
      var persistedDuring = StorageLevel.NONE
      val stages = IterProbe.stageTimings {
        IterProbe.stage("fresh", fresh)
        persistedDuring = fresh.storageLevel
        IterProbe.tap("pagerank", 0, fresh)
        IterProbe.stage("stored", stored)
      }
      assert(stages.map(s => (s._1, s._3)) == Seq("fresh" -> 10L, "stored" -> 7L))
      assert(stages.forall(_._2 >= 0.0))
      assert(persistedDuring != StorageLevel.NONE, "a stage frame is persisted while the body runs")
      assert(fresh.storageLevel == StorageLevel.NONE, "the timer's persist outlived the body")
      assert(stored.storageLevel != StorageLevel.NONE, "the caller's persist was released")
    } finally stored.unpersist()
  }
}
