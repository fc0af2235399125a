package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeSet, Expression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Sort, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.functions.{col, count, explode, lit}
import org.apache.spark.sql.graftbridge

import graft.{GraftQuery, OracleSql}
import graft.sources.Tables

/** Top-k-per-key as a WHOLE-OPERATOR Catalyst extension — the (c)-level
  * custom-operator path (logical node + planner strategy + physical
  * operator + optimizer rule, registered by [[graft.GraftExtensions]]),
  * demonstrated on the one operator where the built-in plan is
  * structurally wasteful at scale.
  *
  * The window form (q09: row_number ≤ k) SORTS every partition and keeps
  * whole groups in memory; the typed-Aggregator form (q45b) fixes the
  * state bound but pays serialization at the typed boundary. This
  * operator keeps a bounded k-row binary heap per key in raw UnsafeRow
  * form, in BOTH a map-side (partial) and a post-shuffle (final) pass —
  * the shuffle carries at most k rows per (key, input partition), the
  * same partial→final contract as Spark's own hash aggregates. At 100 TB
  * that is the difference between shuffling the fact table and shuffling
  * k rows per key per map task.
  *
  * The reference has no top-k operator at all (its only ordering is the
  * per-region key sort, yamr mapper.py:133-134); this is SURVEY §2.14
  * extension-set machinery built the way SURVEY §7.4 prescribes for
  * whole-operator semantics.
  */
object TopKPerKey {

  /** The k first rows of each key group under `order` (give `.desc`
    * columns for largest-first). Empty `keys` = global top-k. Output
    * columns = input columns; row order within the result is not
    * defined (order downstream).
    *
    * Spark 4's public `Column` is a lazy ColumnNode wrapper whose inner
    * `UnresolvedAttribute`s are only resolved at Dataset-API
    * boundaries — embedding `expressionOf(col)` directly in a custom
    * logical node leaves them unresolved (and drags non-serializable
    * sql.internal sort markers into the task closure). So we resolve
    * THROUGH the Dataset API: a throwaway `select` analyzes the keys, a
    * throwaway `sortWithinPartitions` analyzes the ordering, and both
    * yield real catalyst expressions bound (by exprId) to this df's
    * analyzed output — serializable and optimizer-visible.
    */
  def topK(df: DataFrame, keys: Seq[Column], order: Seq[Column], k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(order.nonEmpty, "top-k needs at least one ordering column")
    val s = df.sparkSession
    val keyExprs: Seq[Expression] =
      if (keys.isEmpty) Nil
      else df.select(keys: _*).queryExecution.analyzed match {
        case Project(projectList, _) => projectList.map {
          case Alias(child, _) => child
          case e => e
        }
        case other =>
          throw new IllegalStateException(s"key resolution produced ${other.nodeName}")
      }
    val sortOrder: Seq[SortOrder] =
      df.sortWithinPartitions(order: _*).queryExecution.analyzed.collectFirst {
        case srt: Sort => srt.order
      }.getOrElse(throw new IllegalStateException("order resolution produced no Sort"))
    graftbridge.dataFrameOf(s,
      TopKPerKeyNode(keyExprs, sortOrder, k, df.queryExecution.analyzed))
  }

  // ---------------------------------------------------------------- q77
  // The custom operator as a declared query: 2 highest-price lineitems
  // per supplier, deterministic tie-break. The oracle is the equivalent
  // window form — the custom plan must reproduce it row-for-row.
  private val q77 = GraftQuery(
    "q77_custom_topk_plan",
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_suppkey"), col("l_extendedprice"),
          col("l_orderkey"), col("l_linenumber"))
      topK(li, Seq(col("l_suppkey")),
        Seq(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber")), 2)
        .orderBy(col("l_suppkey"), col("l_extendedprice").desc,
          col("l_orderkey"), col("l_linenumber"))
    },
    Some("""
      SELECT l_suppkey, l_extendedprice, l_orderkey, l_linenumber FROM (
        SELECT l_suppkey, l_extendedprice, l_orderkey, l_linenumber,
               ROW_NUMBER() OVER (PARTITION BY l_suppkey
                 ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
        FROM lineitem) t
      WHERE rn <= 2
      ORDER BY l_suppkey, l_extendedprice DESC, l_orderkey, l_linenumber"""))

  // ---------------------------------------------------------------- q77b
  // Global top-k through the same operator (keys = none): each partition
  // emits its k best (partial pass), the final pass runs under AllTuples
  // — at 100 TB the shuffle is k rows per map task, where the naive
  // ORDER BY ... LIMIT k oracle form sorts every partition fully.
  private val q77b = GraftQuery(
    "q77b_global_topk",
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      topK(li, Seq.empty,
        Seq(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber")), 10)
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
    },
    Some("""
      SELECT l_orderkey, l_linenumber, l_extendedprice
      FROM lineitem
      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
      LIMIT 10"""))

  // ---------------------------------------------------------------- q87
  // Heavy hitters per source: top-3 most frequent tokens of each source,
  // THROUGH the custom operator — downstream of a real aggregation, so
  // the partial pass runs over the hash-agg output and the node composes
  // with exchanges like any built-in (the agg partitions by
  // (source, word); the final top-k pass re-clusters by source alone).
  private val q87 = GraftQuery(
    "q87_heavy_hitters",
    (s, dir) => {
      val counts = Tables.documents(s, dir)
        .select(col("source"),
          explode(graft.functions.TextFunctions.tokens(col("text"))).as("word"))
        .groupBy(col("source"), col("word"))
        .agg(count(lit(1)).as("cnt"))
      topK(counts, Seq(col("source")),
        Seq(col("cnt").desc, col("word")), 3)
        .orderBy(col("source"), col("cnt").desc, col("word"))
    },
    Some(s"""
      WITH tok AS (SELECT source, unnest(${OracleSql.tokens("text")}) AS word
                   FROM documents),
      counts AS (SELECT source, word, CAST(COUNT(*) AS BIGINT) AS cnt
                 FROM tok GROUP BY source, word)
      SELECT source, word, cnt FROM (
        SELECT source, word, cnt,
               ROW_NUMBER() OVER (PARTITION BY source
                 ORDER BY cnt DESC, word) AS rn
        FROM counts) t
      WHERE rn <= 3
      ORDER BY source, cnt DESC, word"""))

  val all: Seq[GraftQuery] = Seq(q77, q77b, q87)
}

/** Logical marker node: the k first rows per `keys` group under
  * `sortOrder`. Pure pass-through schema, so column pruning and filter
  * pushdown below it stay available to the optimizer.
  */
case class TopKPerKeyNode(
    keys: Seq[Expression],
    sortOrder: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyNode =
    copy(child = newChild)
}

/** Plans the logical node as partial (pre-shuffle) + final (post-shuffle)
  * physical passes — the hash-aggregate contract applied to top-k: the
  * partial pass bounds what each map task emits to k rows per key, the
  * final pass requires clustering on the keys (EnsureRequirements inserts
  * the hash exchange) and merges.
  */
class TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyNode(keys, sortOrder, k, child) =>
      val mapSide = TopKPerKeyExec(keys, sortOrder, k, partial = true, planLater(child))
      TopKPerKeyExec(keys, sortOrder, k, partial = false, mapSide) :: Nil
    case _ => Nil
  }
}

/** Bounded-heap top-k per key over raw UnsafeRows: O(k) state per key,
  * no partition sort, no typed-boundary serialization. `partial = true`
  * accepts any child distribution (map-side prune); the final pass
  * demands `ClusteredDistribution(keys)`.
  */
case class TopKPerKeyExec(
    keys: Seq[Expression],
    sortOrder: Seq[SortOrder],
    k: Int,
    partial: Boolean,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning

  // standard observability contract: these surface in the Spark UI / AQE
  // plan like the built-in operators' metrics. numPrunedRows is THE
  // number that justifies the operator at scale — rows the partial pass
  // kept out of the shuffle.
  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numKeys" -> SQLMetrics.createMetric(sparkContext, "number of distinct keys seen"),
    "numPrunedRows" -> SQLMetrics.createMetric(sparkContext,
      if (partial) "rows pruned before shuffle" else "rows pruned in final merge"))

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    // global top-k (no keys): the final merge must see every partial
    // survivor in ONE place, or each partition would emit its own "top k"
    else if (keys.isEmpty) AllTuples :: Nil
    else ClusteredDistribution(keys) :: Nil
  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)

  // stable explain rendering (and the plan-assertion anchor in tests)
  override def simpleString(maxFields: Int): String =
    s"TopKPerKeyExec [partial=$partial, k=$k, " +
      s"keys=${keys.mkString(", ")}, order=${sortOrder.mkString(", ")}]"

  override protected def doExecute(): RDD[InternalRow] = {
    val kLocal = k
    val keyExprs = keys
    val so = sortOrder
    val attrs = child.output
    val outRows = longMetric("numOutputRows")
    val keysSeen = longMetric("numKeys")
    val pruned = longMetric("numPrunedRows")
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(keyExprs, attrs)
      // "first k under sortOrder" = the k SMALLEST under this ordering; a
      // max-heap on it keeps the current worst on top for O(log k) evict
      val ord = RowOrdering.create(so, attrs)
      val heaps = scala.collection.mutable.HashMap
        .empty[UnsafeRow, scala.collection.mutable.PriorityQueue[InternalRow]]
      while (iter.hasNext) {
        val row = iter.next()
        val key = keyProj(row) // reused buffer — copy only on first insert
        val heap = heaps.getOrElse(key, {
          val h = scala.collection.mutable.PriorityQueue.empty[InternalRow](ord)
          heaps.put(key.copy(), h)
          keysSeen += 1
          h
        })
        if (heap.size < kLocal) heap.enqueue(row.copy())
        else {
          pruned += 1
          if (ord.compare(row, heap.head) < 0) {
            heap.dequeue()
            heap.enqueue(row.copy())
          }
        }
      }
      heaps.valuesIterator.flatMap(_.dequeueAll.reverseIterator)
        .map { r => outRows += 1; r }
    }
  }
}

/** Filters on key columns commute with per-key top-k (dropping whole
  * groups never changes the survivors of other groups), so push them
  * below the node — from there the stock rules continue pushing them to
  * the scan. Without this the custom node is a pushdown fence.
  */
object PushFilterThroughTopK extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, t: TopKPerKeyNode)
        if cond.deterministic &&
          cond.references.subsetOf(AttributeSet(t.keys.flatMap(_.references))) =>
      t.copy(child = Filter(cond, t.child))
  }
}
