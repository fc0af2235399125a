package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftQuery, OracleSql}
import graft.sources.Tables

/** Iterative graph analytics as engine ops (ABSENT in the reference —
  * SURVEY §2 has no iterative surface at all): weighted PageRank on an
  * edge list, and TextRank (Mihalcea & Tarau 2004) — PageRank over the
  * word co-occurrence graph — as the corpus-curation application
  * (keyword/centrality extraction; the same loop runs host-graph
  * centrality for web-corpus selection when edges are links, the
  * Common Crawl ranking use).
  *
  * Determinism discipline (the q103 exact-sum scheme, applied per
  * iteration): rank mass entering a node is summed as floor(x * 2^40)
  * LONGs, so the per-iteration aggregation is exact and
  * order-independent, and every double op around it has a fixed
  * left-assoc order — the whole k-iteration computation replays
  * bit-identically in the unrolled DuckDB oracle (q114). No
  * transcendentals anywhere.
  *
  * Scale: state per iteration is one (node, rank) frame; each step is
  * edges ⋈ ranks on src (both sides partitioned by the join key — at
  * fixed partitioning the shuffle is edges-sized, the Pregel shape)
  * followed by one hash-agg on dst. k iterations = k such steps;
  * nothing driver-side but the node count. Dangling nodes: callers
  * pass symmetric edges for undirected graphs (TextRank does), so
  * every node has out-weight; directed link graphs pass
  * `handleSinks = true` to redistribute dangling mass exactly
  * (q147) instead of silently draining it.
  */
object Graph {

  private val SCALE = 1099511627776.0 // 2^40 — lossless for these magnitudes

  /** Weighted PageRank over `edges` (src, dst, w: long); returns (node,
    * rank). `nNodes` is the rank-mass denominator (pass the graph's node
    * count — one driver long). Every node appearing as a src must have
    * positive out-weight; nodes only ever seen as dst still receive and
    * hold mass.
    *
    * `handleSinks` (VERDICT r10 next #7): with the default `false`, a
    * directed sink's mass silently drains each iteration (fine for
    * TextRank's symmetric graphs, where sinks cannot exist); with
    * `true`, each iteration redistributes the sinks' total mass equally
    * to every node IN THE SAME 2^40 integer scheme — the sink sum is an
    * exact LONG fold of floor-scaled ranks and the per-node share is an
    * integer `div` (both engines truncate non-negative identically), so
    * the sink-handling run replays bit-for-bit in an unrolled oracle
    * (q147) just like the plain one (q114). This is the standard
    * dangling-mass completion (Page et al. 1999 §2.5) that makes
    * host-graph centrality safe by default on link graphs.
    */
  def pageRank(edges: DataFrame, iters: Int, damping: Double,
      nNodes: Long, handleSinks: Boolean = false): DataFrame = {
    require(iters >= 0 && damping > 0.0 && damping < 1.0 && nNodes > 0,
      s"need iters >= 0, 0 < damping < 1, nNodes > 0; got $iters, $damping, $nNodes")
    // Materialize the loop-invariant frames ONCE with an eager
    // localCheckpoint — BOTH a physical materialization and a LOGICAL
    // lineage cut. Without the cut each iteration re-derives the edge
    // list from its upstream lineage and the final plan re-scans the
    // corpus ~10× per iteration (caught in the round-10 PLANS.md audit:
    // 28 file scans for 3 iterations); and with persist alone the
    // LOGICAL plan still embeds one corpus-subtree copy per iteration
    // level for Catalyst to re-analyze — linear here, EXPONENTIAL in
    // the two-frame HITS loop below (measured: 35 s of driver planning
    // + heap OOM by half-step 6 on a 900-edge graph). Per-iteration
    // state is one node-sized LogicalRDD; superseded checkpoint RDDs
    // are dropped by the context cleaner. In a production run the
    // checkpointed blocks land in MEMORY_AND_DISK; edges at
    // 100 TB-corpus vocab scale are the co-occurrence aggregate,
    // orders smaller than the corpus itself.
    val e = edges.select(col("src"), col("dst"), col("w")).localCheckpoint()
    val outW = e.groupBy(col("src")).agg(sum(col("w")).as("ow"))
    // pre-hash the loop-invariant edge frame on its per-iteration join
    // key (optimization r18, guide §2.4 — the hits eBySrc discipline):
    // LogicalRDD preserves the partitioning, so each iteration's
    // edges ⋈ ranks join exchanges only the node-sized rank frame, not
    // the edge list — one edge-sized shuffle per iteration removed
    val withOw = e.join(outW, "src").repartition(col("src")).localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst"))).distinct().localCheckpoint()
    // loop-invariant sink set: nodes that never appear as a src
    val sinks = if (handleSinks)
      Some(nodes.join(e.select(col("src").as("node")).distinct(),
        Seq("node"), "left_anti").localCheckpoint())
    else None
    var ranks = nodes.withColumn("rank", lit(1.0 / nNodes))
    val base = lit((1.0 - damping) / nNodes)
    val nodeType = nodes.schema("node").dataType
    for (it <- 0 until iters) {
      val edgeContrib = withOw
        .join(ranks.withColumnRenamed("node", "src"), "src")
        // fixed op order: ((rank * w) / ow) scaled to an exact LONG, so
        // the incoming-mass sum is order-independent
        .select(col("dst").as("node"),
          floor(((col("rank") * col("w").cast("double")) /
            col("ow").cast("double")) * lit(SCALE)).cast("long").as("c"))
      val nextPlan = (sinks match {
        case Some(sk) =>
          // exact sink mass, FUSED into the per-node contribution agg
          // (VERDICT r14 next #6 — the sink fold was a second
          // aggregation job per iteration): sink ranks ride the same
          // union as edge contributions under a (NULL node, is_sink)
          // grouping key, so ONE edge-sized hash-agg produces both the
          // per-node mass and the global sink mass. The agg is
          // checkpointed (node-sized) and the single sink row is a
          // bounded 1-row driver read off the materialized blocks (the
          // hits `t` discipline); per-node share by LONG integer
          // division — non-negative, truncates identically in any
          // engine, so the q147 oracle replays unchanged.
          val sinkContrib = sk.join(ranks, Seq("node"))
            .select(lit(null).cast(nodeType).as("node"),
              floor(col("rank") * lit(SCALE)).cast("long").as("c"))
          val contribAllPlan = edgeContrib
            .withColumn("is_sink", lit(false))
            .unionByName(sinkContrib.withColumn("is_sink", lit(true)))
            .groupBy(col("node"), col("is_sink"))
            .agg(sum(col("c")).as("cs"))
          graft.IterProbe.tap("pagerank_contrib", it, contribAllPlan)
          val contribAll = contribAllPlan.localCheckpoint()
          val scs = contribAll.filter(col("is_sink"))
            .select(col("cs")).collect()
            .headOption.map(_.getLong(0)).getOrElse(0L)
          val share = scs / nNodes // LONG div, scs >= 0: == SQL `div`
          nodes.join(contribAll.filter(!col("is_sink"))
              .select(col("node"), col("cs")), Seq("node"), "left")
            .select(col("node"),
              (base + lit(damping) *
                ((coalesce(col("cs"), lit(0L)) + lit(share)).cast("double") /
                  lit(SCALE))).as("rank"))
        case None =>
          val contrib = edgeContrib.groupBy(col("node"))
            .agg(sum(col("c")).as("cs"))
          nodes.join(contrib, Seq("node"), "left")
            .select(col("node"),
              (base + lit(damping) *
                (coalesce(col("cs"), lit(0L)).cast("double") / lit(SCALE)))
                .as("rank"))
      })
      graft.IterProbe.tap("pagerank", it, nextPlan)
      ranks = nextPlan.localCheckpoint() // eager: materialize + LOGICAL lineage cut
    }
    // the returned frame is a materialized node-sized LogicalRDD,
    // self-contained; superseded iteration blocks are context-cleaned
    ranks
  }

  /** Adjacent-token pairs (a, b), one row per position — the shared
    * extraction BOTH graph builders derive from, so the q114 and q162
    * graphs are provably built from the same tokenize/explode pipeline
    * (code-review r12: previously two verbatim copies to keep in sync).
    * Self-pairs dropped. */
  private def adjacentPairs(docs: DataFrame, textCol: String): DataFrame = {
    val toks = docs.select(graft.functions.TextFunctions.tokens(col(textCol)).as("t"))
      .filter(size(col("t")) >= 2)
    toks.select(
      explode(sequence(lit(1), size(col("t")) - 1)).as("i"), col("t"))
      .select(element_at(col("t"), col("i")).as("a"),
        element_at(col("t"), col("i") + 1).as("b"))
      .filter(col("a") =!= col("b"))
  }

  /** Word co-occurrence edges from adjacent token pairs, symmetric
    * (undirected TextRank graph): (src, dst, w = pair count). Self-pairs
    * dropped. One explode + one hash-agg over the corpus. */
  def coocEdges(docs: DataFrame, textCol: String): DataFrame = {
    val pairs = adjacentPairs(docs, textCol)
    pairs.select(col("a").as("src"), col("b").as("dst"))
      .union(pairs.select(col("b").as("src"), col("a").as("dst")))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
  }

  /** TextRank keywords: PageRank over [[coocEdges]], top-k by (rank
    * DESC, term) via sort+limit. The vocabulary node count is one
    * driver-side long (bounded: it is the corpus vocabulary). */
  def textRank(docs: DataFrame, textCol: String, iters: Int,
      damping: Double, k: Int): DataFrame = {
    val e = coocEdges(docs, textCol)
    val n = e.select(col("src").as("node")).union(e.select(col("dst")))
      .distinct().count()
    pageRank(e, iters, damping, n)
      .orderBy(col("rank").desc, col("node"))
      .limit(k)
      .select(col("node").as("term"), col("rank"))
  }

  // ---------------------------------------------------------------- q114
  // Declared TextRank query: 3 unrolled PageRank iterations over the
  // corpus co-occurrence graph, rank doubles hash-compared. The oracle
  // needs NO generated literals: the graph, the node count, and every
  // iteration replay from the data with the same fixed-order arithmetic
  // (damping as a quoted literal, incoming mass as exact floor-scaled
  // BIGINT sums).
  private[operators] val DAMP = 0.85
  private[operators] val ITERS = 3

  private def unrolledOracle(k: Int): String = {
    val d = OracleSql.double(DAMP)
    val iterCtes = (1 to ITERS).map { i =>
      s"""it$i AS (
         |  SELECT n.node,
         |         ((${OracleSql.double(1.0 - DAMP)} / nn.n) + $d * (CAST(COALESCE(c.cs, 0) AS DOUBLE) / 1099511627776.0)) AS rank
         |  FROM nodes n CROSS JOIN nn
         |  LEFT JOIN (
         |    SELECT e.dst AS node,
         |           SUM(CAST(FLOOR(((r.rank * CAST(e.w AS DOUBLE)) / CAST(o.ow AS DOUBLE)) * 1099511627776.0) AS BIGINT)) AS cs
         |    FROM edges e JOIN outw o ON e.src = o.src
         |                 JOIN it${i - 1} r ON e.src = r.node
         |    GROUP BY e.dst) c ON n.node = c.node)""".stripMargin
    }
    s"""WITH toks AS (SELECT ${OracleSql.tokens("text")} AS t
       |              FROM documents),
       |occ AS (SELECT t, unnest(range(1, len(t))) AS i FROM toks WHERE len(t) >= 2),
       |pr AS (SELECT t[i] AS a, t[i+1] AS b FROM occ WHERE t[i] <> t[i+1]),
       |sym AS (SELECT a AS src, b AS dst FROM pr UNION ALL SELECT b, a FROM pr),
       |edges AS (SELECT src, dst, COUNT(*) AS w FROM sym GROUP BY src, dst),
       |outw AS (SELECT src, SUM(w) AS ow FROM edges GROUP BY src),
       |nodes AS (SELECT DISTINCT src AS node FROM edges UNION SELECT DISTINCT dst FROM edges),
       |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
       |it0 AS (SELECT node, (CAST(1.0 AS DOUBLE) / nn.n) AS rank FROM nodes CROSS JOIN nn),
       |${iterCtes.mkString(",\n")}
       |SELECT node AS term, rank FROM it$ITERS
       |ORDER BY rank DESC, node
       |LIMIT $k""".stripMargin
  }

  private val q114 = GraftQuery(
    "q114_textrank",
    (s, dir) => textRank(Tables.documents(s, dir), "text",
      iters = ITERS, damping = DAMP, k = 20),
    Some(unrolledOracle(20)))

  // ---------------------------------------------------------------- q147
  // Sink-handling PageRank on a DIRECTED graph that actually has sinks:
  // the order→part bipartite graph from lineitem ('o<orderkey>' →
  // 'p<partkey>', w = line count). Every part node is a sink — without
  // redistribution ~all mass drains by iteration 2, so the query is a
  // non-vacuous exercise of the dangling-mass path. The oracle unrolls
  // the same 3 iterations with the sink CTEs: exact LONG sink-mass
  // folds, integer-div per-node share, identical double op order —
  // rank doubles hash-compare bit-for-bit, the q114 discipline.
  /** The unrolled sink-handling replay over a caller-supplied edge list:
    * `prefixCtes` (possibly empty, each ending in `,`) come first, then
    * `edgesBody` must produce `(src, dst, w)`, and the chain ends in the
    * top-k rank selection. ONE home for the bit-exact iteration
    * arithmetic — q147 and the link-graph host centrality (q186) both
    * call this, so the two oracles can never drift apart. */
  private[operators] def sinkOracleOver(prefixCtes: String,
      edgesBody: String, k: Int): String = {
    val d = OracleSql.double(DAMP)
    val iterCtes = (1 to ITERS).map { i =>
      s"""s$i AS (
         |  SELECT COALESCE(SUM(CAST(FLOOR(r.rank * 1099511627776.0) AS BIGINT)), 0) AS scs
         |  FROM it${i - 1} r JOIN sinks s ON r.node = s.node),
         |it$i AS (
         |  SELECT n.node,
         |         ((${OracleSql.double(1.0 - DAMP)} / nn.n) + $d * (CAST(COALESCE(c.cs, 0) + (SELECT scs // (SELECT n FROM nni) FROM s$i) AS DOUBLE) / 1099511627776.0)) AS rank
         |  FROM nodes n CROSS JOIN nn
         |  LEFT JOIN (
         |    SELECT e.dst AS node,
         |           SUM(CAST(FLOOR(((r.rank * CAST(e.w AS DOUBLE)) / CAST(o.ow AS DOUBLE)) * 1099511627776.0) AS BIGINT)) AS cs
         |    FROM edges e JOIN outw o ON e.src = o.src
         |                 JOIN it${i - 1} r ON e.src = r.node
         |    GROUP BY e.dst) c ON n.node = c.node)""".stripMargin
    }
    s"""WITH ${prefixCtes}edges AS ($edgesBody),
       |outw AS (SELECT src, SUM(w) AS ow FROM edges GROUP BY src),
       |nodes AS (SELECT DISTINCT src AS node FROM edges UNION SELECT DISTINCT dst FROM edges),
       |nni AS (SELECT COUNT(*) AS n FROM nodes),
       |nn AS (SELECT CAST(n AS DOUBLE) AS n FROM nni),
       |sinks AS (SELECT node FROM nodes WHERE node NOT IN (SELECT DISTINCT src FROM edges)),
       |it0 AS (SELECT node, (CAST(1.0 AS DOUBLE) / nn.n) AS rank FROM nodes CROSS JOIN nn),
       |${iterCtes.mkString(",\n")}
       |SELECT node, rank FROM it$ITERS
       |ORDER BY rank DESC, node
       |LIMIT $k""".stripMargin
  }

  private def sinkOracle(k: Int): String = sinkOracleOver("",
    """SELECT 'o' || CAST(l_orderkey AS VARCHAR) AS src,
      |       'p' || CAST(l_partkey AS VARCHAR) AS dst,
      |       COUNT(*) AS w
      |FROM lineitem GROUP BY 1, 2""".stripMargin, k)

  private val q147 = GraftQuery(
    "q147_pagerank_sinks",
    (s, dir) => {
      // checkpoint the edge aggregate ONCE: the node-count action below
      // and pageRank's own loop-invariant checkpoints then all read the
      // materialized blocks instead of re-running the lineitem shuffle
      // (it ran twice before — r15 plan audit)
      val edges = Tables.lineitem(s, dir)
        .select(concat(lit("o"), col("l_orderkey").cast("string")).as("src"),
          concat(lit("p"), col("l_partkey").cast("string")).as("dst"))
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
        .localCheckpoint()
      val n = edges.select(col("src").as("node"))
        .union(edges.select(col("dst"))).distinct().count()
      pageRank(edges, iters = ITERS, damping = DAMP, nNodes = n,
        handleSinks = true)
        .orderBy(col("rank").desc, col("node"))
        .limit(20)
    },
    Some(sinkOracle(20)))

  // ---------------------------------------------------------------- q162
  /** HITS hubs & authorities (Kleinberg 1999) — the OTHER classic link
    * centrality, complementing [[pageRank]]: a hub points at good
    * authorities, an authority is pointed at by good hubs. Weighted,
    * k synchronous iterations, L1-normalized each half-step (the
    * common variant; Kleinberg's L2 needs Σx² — whose exact form
    * overflows any fixed-point LONG — while L1 keeps the whole
    * computation in the house exact scheme: contributions enter as
    * floor(score·w·2^40) LONGs, the per-node fold and the global total
    * are exact order-independent LONG sums, and the normalized score
    * is ONE IEEE division of two exact longs. Every double therefore
    * replays bit-identically in the unrolled oracle, the q114
    * discipline.)
    *
    * Scale: per half-step state is one (node, score) frame; each
    * half-step is edges ⋈ scores on one endpoint + a hash-agg on the
    * other — the Pregel shape, shuffle bounded by the edge list.
    * Fixed-point headroom: needs max out/in WEIGHT per node · 2^40
    * < 2^63 (Σ score = 1 after normalization), i.e. per-node adjacent
    * weight ≤ ~8.4e6 — true for vocabulary graphs at any corpus size
    * (weights are counts per node PAIR normalized by the L1 step each
    * round); cap or pre-scale edge weights beyond that. */
  def hits(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e0 = edges.select(col("src"), col("dst"), col("w"))
    // Two partitioning-pinned edge copies, LOGICAL lineage cut by an
    // eager localCheckpoint: each half-step joins on one endpoint, and
    // a copy pre-hashed on its join key (LogicalRDD preserves the
    // partitioning) elides the edge-sized exchange in EVERY half-step —
    // only the node-sized score frame shuffles per step. The checkpoint
    // (not persist) is load-bearing: with persist alone every
    // half-step's LOGICAL plan still embeds the full upstream tree via
    // both `nodes` and the previous scores, DOUBLING per half-step —
    // 2^(2·iters) copies of the corpus-scan subtree for Catalyst to
    // re-analyze (measured: 35 s of pure driver planning + a heap OOM
    // by half-step 6 on a 900-edge graph). Cache substitution happens
    // at physical planning; analysis cost it cannot save.
    val eBySrc = e0.repartition(col("src")).localCheckpoint()
    val eByDst = e0.repartition(col("dst")).localCheckpoint()
    val nodes = eBySrc.select(col("src").as("node"))
      .union(eBySrc.select(col("dst"))).distinct().localCheckpoint()
    val n = nodes.count()
    require(n > 0, "hits needs a non-empty edge list")
    // half-step: fold floor(score·w·2^40) into the opposite endpoint,
    // L1-normalize by the exact LONG total
    def halfStep(scores: DataFrame, from: String, to: String): DataFrame = {
      val eSide = if (from == "src") eBySrc else eByDst
      val raw = eSide
        .join(scores.withColumnRenamed("node", from), from)
        .select(col(to).as("node"),
          floor((col("s") * col("w").cast("double")) * lit(SCALE))
            .cast("long").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("cr"))
        .persist()
      // exact LONG total as ONE driver scalar (the nNodes discipline);
      // fetching it materializes `raw`, so the half-step join+agg
      // executes exactly once
      val t = Option(raw.agg(sum(col("cr")).as("t")).first().get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      require(t > 0,
        s"hits: degenerate half-step ($from->$to) — L1 total is $t; " +
          "all fixed-point contributions underflowed or the edge join " +
          "produced no rows. Refusing to emit NaN scores.")
      // eager checkpoint = materialize + lineage cut in one step; the
      // per-step state is a node-sized LogicalRDD, so every downstream
      // plan stays constant-size no matter the iteration count
      val outPlan = nodes.join(raw, Seq("node"), "left")
        .select(col("node"),
          (coalesce(col("cr"), lit(0L)).cast("double") /
            lit(t.toDouble)).as("s"))
      graft.IterProbe.tap(s"hits_$from$to", 0, outPlan)
      val out = outPlan.localCheckpoint()
      raw.unpersist()
      out
    }
    var hub = nodes.withColumn("s", lit(1.0 / n))
    var auth: DataFrame = null
    for (_ <- 0 until iters) {
      val a = halfStep(hub, "src", "dst")
      auth = a
      hub = halfStep(a, "dst", "src")
    }
    // all inputs are materialized LogicalRDDs — the final three-way
    // node-sized join is a constant-size plan, cheap to execute lazily
    nodes
      .join(auth.withColumnRenamed("s", "auth"), Seq("node"), "left")
      .join(hub.withColumnRenamed("s", "hub"), Seq("node"), "left")
      .select(col("node"), coalesce(col("auth"), lit(0.0)).as("auth"),
        coalesce(col("hub"), lit(0.0)).as("hub"))
  }

  // Declared HITS query: 3 iterations over the DIRECTED bigram graph
  // (a → b for adjacent tokens, w = pair count — direction matters:
  // words that precede many words are hubs, words that follow are
  // authorities; the symmetric q114 graph would collapse the two).
  // Every CTE is AS MATERIALIZED: DuckDB 1.x inlines each *reference*
  // to a plain CTE, so a 6-half-step cascade where each ar$i/hr$i is
  // read by both its total and its normalize step re-evaluates the
  // corpus tokenize+edge build ~3^6 times (measured: >45 min at
  // sf0.001 vs 0.7 s materialized, identical rows — the round-12
  // gate-killer). Same discipline as the BPE oracle (TextAnalysis).
  private def hitsOracle(k: Int): String = {
    val steps = (1 to ITERS).flatMap { i =>
      Seq(
        s"""ar$i AS MATERIALIZED (SELECT e.dst AS node,
           |               CAST(SUM(CAST(FLOOR((r.s * CAST(e.w AS DOUBLE)) * 1099511627776.0) AS BIGINT)) AS BIGINT) AS cr
           |        FROM edges e JOIN h${i - 1} r ON e.src = r.node GROUP BY e.dst)""".stripMargin,
        s"at$i AS MATERIALIZED (SELECT CAST(SUM(cr) AS BIGINT) AS t FROM ar$i)",
        s"""a$i AS MATERIALIZED (SELECT n.node,
           |              (CAST(COALESCE(ar.cr, 0) AS DOUBLE) / CAST((SELECT t FROM at$i) AS DOUBLE)) AS s
           |       FROM nodes n LEFT JOIN ar$i ar ON n.node = ar.node)""".stripMargin,
        s"""hr$i AS MATERIALIZED (SELECT e.src AS node,
           |               CAST(SUM(CAST(FLOOR((a.s * CAST(e.w AS DOUBLE)) * 1099511627776.0) AS BIGINT)) AS BIGINT) AS cr
           |        FROM edges e JOIN a$i a ON e.dst = a.node GROUP BY e.src)""".stripMargin,
        s"ht$i AS MATERIALIZED (SELECT CAST(SUM(cr) AS BIGINT) AS t FROM hr$i)",
        s"""h$i AS MATERIALIZED (SELECT n.node,
           |              (CAST(COALESCE(hr.cr, 0) AS DOUBLE) / CAST((SELECT t FROM ht$i) AS DOUBLE)) AS s
           |       FROM nodes n LEFT JOIN hr$i hr ON n.node = hr.node)""".stripMargin)
    }
    s"""WITH toks AS MATERIALIZED (SELECT ${OracleSql.tokens("text")} AS t
       |              FROM documents),
       |occ AS MATERIALIZED (SELECT t, unnest(range(1, len(t))) AS i FROM toks WHERE len(t) >= 2),
       |pr AS MATERIALIZED (SELECT t[i] AS a, t[i+1] AS b FROM occ WHERE t[i] <> t[i+1]),
       |edges AS MATERIALIZED (SELECT a AS src, b AS dst, COUNT(*) AS w FROM pr GROUP BY a, b),
       |nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges UNION SELECT DISTINCT dst FROM edges),
       |nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
       |h0 AS MATERIALIZED (SELECT node, (CAST(1.0 AS DOUBLE) / nn.n) AS s FROM nodes CROSS JOIN nn),
       |${steps.mkString(",\n")}
       |SELECT n.node, COALESCE(a.s, CAST(0.0 AS DOUBLE)) AS auth,
       |       COALESCE(h.s, CAST(0.0 AS DOUBLE)) AS hub
       |FROM nodes n LEFT JOIN a$ITERS a ON n.node = a.node
       |             LEFT JOIN h$ITERS h ON n.node = h.node
       |ORDER BY auth DESC, n.node
       |LIMIT $k""".stripMargin
  }

  /** Directed adjacent-token bigram edges: (a → b, w = count) —
    * [[adjacentPairs]] aggregated WITHOUT the symmetrization step
    * [[coocEdges]] adds. */
  def bigramDiEdges(docs: DataFrame, textCol: String): DataFrame =
    adjacentPairs(docs, textCol)
      .select(col("a").as("src"), col("b").as("dst"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))

  private val q162 = GraftQuery(
    "q162_hits",
    (s, dir) => hits(bigramDiEdges(Tables.documents(s, dir), "text"),
      iters = ITERS)
      .orderBy(col("auth").desc, col("node"))
      .limit(20),
    Some(hitsOracle(20)))

  val all: Seq[GraftQuery] = Seq(q114, q147, q162)
}
