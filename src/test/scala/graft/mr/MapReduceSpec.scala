package graft.mr

import org.apache.spark.ShuffleDependency
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.execution.AppendColumnsExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec

import graft.SparkSpec

/** `MapReduce.mapReduceByKey` against a plain Scala `groupMapReduce`, and
  * the shape of the combiner it runs.
  */
class MapReduceSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import MapReduceSpec._

  test("mapReduceByKey == fold: >128 distinct keys per partition, several partitions") {
    import spark.implicits._
    val rng = new scala.util.Random(17)
    val lines = Seq.fill(3000)(Seq.fill(10)("w" + rng.nextInt(2000)).mkString(" "))
    val ds = lines.toDS().repartition(5)
    val perPart = ds.rdd.mapPartitions(it => Iterator(it.flatMap(_.split(" ")).toSet.size))
      .collect()
    assert(perPart.length == 5 && perPart.forall(_ > 128), perPart.mkString(","))
    val got = MapReduce.mapReduceByKey(ds)((l: String) => words(l),
      (a: Long, b: Long) => a + b).collect()
    assert(got.map(_._1).distinct.length == got.length, "one row per key")
    assert(got.toMap == lines.flatMap(words).groupMapReduce(_._1)(_._2)(_ + _))
  }

  test("mapReduceByKey == fold: int keys and a max combine, single-value keys kept") {
    import spark.implicits._
    val rng = new scala.util.Random(23)
    val pairs = Seq.fill(5000)((rng.nextInt(400), rng.nextGaussian() * 30)) :+ (999 -> -7.5)
    val got = MapReduce.mapReduceByKey(pairs.toDS().repartition(3))(
      (p: (Int, Double)) => Iterator.single(p),
      (a: Double, b: Double) => math.max(a, b)).collect().toMap
    assert(got == pairs.groupMapReduce(_._1)(_._2)(math.max))
    assert(got(999) == -7.5)
  }

  test("mapReduceByKey: empty input gives no rows") {
    import spark.implicits._
    val got = MapReduce.mapReduceByKey(Seq.empty[String].toDS())((l: String) => words(l),
      (a: Long, b: Long) => a + b).collect()
    assert(got.isEmpty)
  }

  test("mapReduceByKey: a null key is one group of its own") {
    import spark.implicits._
    val lines = Seq("a b", "", "a", "c", "", "") // "" maps to the null key
    val got = MapReduce.mapReduceByKey(lines.toDS().repartition(2))(
      (l: String) => if (l.isEmpty) Seq((null: String) -> 1L) else words(l),
      (a: Long, b: Long) => a + b).collect()
    assert(got.toMap == Map((null: String) -> 3L, "a" -> 2L, "b" -> 1L, "c" -> 1L))
    assert(got.length == 4)
  }

  test("word count runs one map-side-combining shuffle, no ObjectHashAggregate") {
    import spark.implicits._
    val wc = Jobs.wordCount(Seq("a b a", "c a").toDS())
    assert(wc.collect().toMap == Map("a" -> 3L, "b" -> 1L, "c" -> 1L))
    val plan = wc.queryExecution.executedPlan
    assert(collect(plan) { case a: ObjectHashAggregateExec => a }.isEmpty, plan.toString)
    assert(!plan.toString.contains("ReduceAggregator"), plan.toString)
    def shuffles(rdd: RDD[_]): Seq[ShuffleDependency[_, _, _]] =
      rdd.dependencies.flatMap {
        case s: ShuffleDependency[_, _, _] => s +: shuffles(s.rdd)
        case d => shuffles(d.rdd)
      }
    val deps = shuffles(wc.queryExecution.toRdd)
    assert(deps.length == 1 && deps.head.mapSideCombine && deps.head.aggregator.isDefined)
  }

  test("word count reduces into spark.sql.shuffle.partitions from readText's per-core splits") {
    val f = java.nio.file.Files.createTempFile("graft_wc_splits", ".txt")
    f.toFile.deleteOnExit()
    val rng = new scala.util.Random(29)
    java.nio.file.Files.write(f, Seq.fill(20000)(Seq.fill(8)("w" + rng.nextInt(3000))
      .mkString(" ")).mkString("", "\n", "\n").getBytes("UTF-8"))
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    spark.conf.set(key, "7")
    try {
      val wc = Jobs.wordCount(graft.sources.GraftIO.readText(spark, f.toString))
      val deps = shuffles(wc.queryExecution.toRdd)
      assert(deps.length == 1 && deps.head.mapSideCombine)
      assert(deps.head.partitioner.numPartitions == 7)
      assert(deps.head.rdd.getNumPartitions >= spark.sparkContext.defaultParallelism)
      assert(wc.collect().map(_._2).sum == 160000L)
    } finally spark.conf.set(key, before)
  }

  test("mapReduce groups by the key columns: no AppendColumns; null and product keys") {
    import spark.implicits._
    val lines = Seq("a b a", "c a", "", "b", "")
    val out = MapReduce.mapReduce(lines.toDS())(
      (l: String) => if (l.isEmpty) Seq((null: String) -> 1L) else words(l),
      (k: String, vs: Iterator[Long]) => Iterator(k -> vs.sum))
    assert(out.collect().toMap == Map("a" -> 3L, "b" -> 2L, "c" -> 1L, (null: String) -> 2L))
    val plan = out.queryExecution.executedPlan
    assert(collect(plan) { case a: AppendColumnsExec => a }.isEmpty, plan.toString)
    assert(!plan.toString.contains("AppendColumns"), plan.toString)
    val byTuple = MapReduce.mapReduce(lines.toDS())(
      (l: String) => words(l).map { case (w, n) => (w, w.length) -> n },
      (k: (String, Int), vs: Iterator[Long]) => Iterator(k -> vs.sum))
    assert(byTuple.collect().toMap == Map(("a", 1) -> 3L, ("b", 1) -> 2L, ("c", 1) -> 1L))
    val byCase = MapReduce.mapReduce(lines.toDS())(
      (l: String) => words(l).map { case (w, n) => Word(w, w.length) -> n },
      (k: Word, vs: Iterator[Long]) => Iterator(k.text -> vs.sum))
    assert(byCase.collect().toMap == Map("a" -> 3L, "b" -> 2L, "c" -> 1L))
    assert(!byCase.queryExecution.executedPlan.toString.contains("AppendColumns"))
  }
}

object MapReduceSpec {
  case class Word(text: String, length: Int)

  def shuffles(rdd: RDD[_]): Seq[ShuffleDependency[_, _, _]] =
    rdd.dependencies.flatMap {
      case s: ShuffleDependency[_, _, _] => s +: shuffles(s.rdd)
      case d => shuffles(d.rdd)
    }

  // in the companion, so the closures that call it do not capture the suite
  def words(line: String): Seq[(String, Long)] =
    line.split(" ").toSeq.filter(_.nonEmpty).map(_ -> 1L)
}
