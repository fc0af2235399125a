package graft.plans

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec

class TopKPerKeySpec extends SparkSpec {

  private def orders() = graft.sources.Tables.orders(spark, sf001)
    .select(col("o_custkey"), col("o_totalprice"), col("o_orderkey"))

  test("GraftExtensions registers the strategy and its rule once; topK and q77 add none") {
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    // (planner strategies, optimizer-batch slots): the rule is injected
    // into both operator-optimization batches
    def registered() = (
      state.planner.strategies.count(_.isInstanceOf[TopKPerKeyStrategy]),
      state.optimizer.batches.map(_.rules.count(_ == PushFilterThroughTopK)).sum)
    val before = registered()
    TopKPerKey.topK(orders(), Seq(col("o_custkey")), Seq(col("o_totalprice").desc), 1).collect()
    val q77 = graft.SparkEntry.queries("q77_custom_topk_plan")(spark, sf001)
    assert(q77.collect().nonEmpty)
    assert(before == (1, 2) && registered() == before, s"before $before, after ${registered()}")
    val plan = q77.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKeyExec [partial=true") &&
      plan.contains("TopKPerKeyExec [partial=false"), plan)
  }

  test("custom plan matches the window row_number form row-for-row") {
    val custom = TopKPerKey.topK(orders(), Seq(col("o_custkey")),
      Seq(col("o_totalprice").desc, col("o_orderkey")), 3)
      .orderBy(col("o_custkey"), col("o_totalprice").desc, col("o_orderkey"))
      .collect()
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val window = orders().withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3).drop("rn")
      .orderBy(col("o_custkey"), col("o_totalprice").desc, col("o_orderkey"))
      .collect()
    assert(custom.length == window.length && custom.sameElements(window),
      s"custom=${custom.length} rows, window=${window.length} rows")
  }

  test("ties at the k boundary resolve by the declared tie-break columns") {
    import spark.implicits._
    // key 1: three rows share value 5 — tie-break col picks ids 10, 11
    val df = Seq((1L, 5.0, 10L), (1L, 5.0, 11L), (1L, 5.0, 12L), (1L, 9.0, 13L),
      (2L, 1.0, 20L)).toDF("k", "v", "id")
    val got = TopKPerKey.topK(df, Seq(col("k")), Seq(col("v").desc, col("id")), 2)
      .orderBy(col("k"), col("v").desc, col("id"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 9.0, 13L), (1L, 5.0, 10L), (2L, 1.0, 20L)), s"$got")
  }

  test("plans as partial + final passes with the exchange between them") {
    val df = TopKPerKey.topK(orders(), Seq(col("o_custkey")),
      Seq(col("o_totalprice").desc), 3)
    // materialize FIRST so the assertion reads the plan AQE actually ran
    // (the driver's Bench/Verify sessions run with AQE on)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val partialIdx = plan.indexOf("TopKPerKeyExec [partial=true")
    val finalIdx = plan.indexOf("TopKPerKeyExec [partial=false")
    val exchangeIdx = plan.indexOf("Exchange hashpartitioning(o_custkey")
    assert(finalIdx >= 0 && partialIdx >= 0 && exchangeIdx >= 0, plan)
    // tree prints parent-first: final above exchange above partial
    assert(finalIdx < exchangeIdx && exchangeIdx < partialIdx,
      s"final@$finalIdx exchange@$exchangeIdx partial@$partialIdx\n$plan")
  }

  test("global top-k (no keys) returns exactly k rows total, not k per partition") {
    // repartition wide so a per-partition bug would overshoot k
    val df = orders().repartition(8)
    val got = TopKPerKey.topK(df, Seq.empty, Seq(col("o_totalprice").desc), 5)
      .orderBy(col("o_totalprice").desc).collect()
    val expect = orders().orderBy(col("o_totalprice").desc).limit(5).collect()
    assert(got.length == 5 && got.sameElements(expect),
      s"got ${got.length} rows: ${got.mkString("; ")}")
  }

  test("metrics: partial pass reports the rows it kept out of the shuffle") {
    import spark.implicits._
    val df = spark.range(1000).select((col("id") % 5).as("k"), col("id").as("v"))
      .repartition(4)
    val topped = TopKPerKey.topK(df, Seq(col("k")), Seq(col("v").desc), 3)
    // collect() (not count()) so the SAME QueryExecution's plan runs —
    // count() plans a separate query and would leave these metrics at 0
    assert(topped.collect().length == 15)
    // descend through AQE wrappers: query stages are leaves to collect(),
    // their actual fragments hang off .plan / .executedPlan
    def allNodes(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.SparkPlan] =
      p +: (p.children ++ (p match {
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case _ => Nil
      })).flatMap(allNodes)
    val execs = allNodes(topped.queryExecution.executedPlan)
      .collect { case t: TopKPerKeyExec => t }
    assert(execs.map(_.partial).sorted == Seq(false, true), s"execs=$execs")
    val partialM = execs.find(_.partial).get.metrics
    val finalM = execs.find(!_.partial).get.metrics
    // 1000 rows, ≤ 4 partitions × 5 keys × 3 kept map-side → most pruned
    assert(partialM("numPrunedRows").value >= 900, partialM.toString)
    assert(finalM("numOutputRows").value == 15, finalM.toString)
    assert(finalM("numKeys").value == 5, finalM.toString)
  }

  test("key filters push through the node to the parquet scan") {
    val filtered = TopKPerKey.topK(orders(), Seq(col("o_custkey")),
      Seq(col("o_totalprice").desc), 3)
      .filter(col("o_custkey") === 7L)
    // the rule moves the Filter below TopKPerKeyNode; stock pushdown then
    // carries it into the scan as a pushed filter
    val physical = filtered.queryExecution.executedPlan.toString
    assert(physical.contains("EqualTo(o_custkey,7)"), physical)
    // and the result is still the full per-key top-k for that key
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc)
    val expect = orders().filter(col("o_custkey") === 7L)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3).count()
    assert(filtered.count() == expect && expect > 0, s"got ${filtered.count()}, want $expect")
  }

  test("non-key filters stay above the node (they would change the result below it)") {
    val df = TopKPerKey.topK(orders(), Seq(col("o_custkey")),
      Seq(col("o_totalprice").desc), 3)
      .filter(col("o_totalprice") > 100000.0)
    val optimized = df.queryExecution.optimizedPlan.toString
    // Filter must appear ABOVE the custom node in the optimized tree
    val fIdx = optimized.indexOf("Filter")
    val tIdx = optimized.indexOf("TopKPerKeyNode")
    assert(fIdx >= 0 && tIdx >= 0 && fIdx < tIdx, optimized)
    // semantics: prune AFTER top-k, never reaching into other rows
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc)
    val expect = orders().withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3).drop("rn")
      .filter(col("o_totalprice") > 100000.0).count()
    assert(df.count() == expect)
  }
}
