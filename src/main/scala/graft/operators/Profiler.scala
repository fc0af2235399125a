package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.GraftQuery
import graft.sources.Tables

/** One-pass table profiler — the "what is in this corpus" scan a team
  * runs before pointing a pipeline at 100 TB of parquet: per column, row
  * count, null count, distinct cardinality, min/max, and mean formatted
  * length, in long format (one row per column).
  *
  * Scale design: the product path ([[profile]]) is ONE partial-aggregated
  * scan computing every per-column statistic as a plain (non-distinct)
  * aggregate — cardinalities are HLL estimates (`approx_count_distinct`,
  * rsd 1%), NOT `countDistinct`, because mixing several DISTINCT
  * aggregates in one agg makes `RewriteDistinctAggregates` Expand every
  * row (ncols+1)× before shuffling (the q43 lesson, Sketches.scala:23) —
  * at the target scale that turns one 100 TB pass into a 600 TB shuffle.
  * The long-format pivot afterwards explodes a SINGLE aggregated row,
  * which costs nothing. Reference frame: yamr exposes no profiling
  * surface at all (SURVEY §2.13 — its control plane reports task state,
  * not data state); this is part of the §2.14 extension mandate.
  */
object Profiler {

  /** Per-column stats over `cols` in one scan. Output one row per column:
    * (col_name, n_rows, n_nulls, n_distinct_est, min_val, max_val,
    * avg_len). min/max compare in the column's native type and are cast
    * to string only for the long-format output; avg_len is the mean
    * length of the value's string form, exact-decimal-rounded so the
    * number is aggregation-order-independent.
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val aggs = cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"__cnt_$c"),
        approx_count_distinct(col(c), 0.01).as(s"__ad_$c"),
        min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c"),
        // one IEEE double division over exact integer sum/count — bit-
        // identical in any engine, no decimal-intermediate rounding edge
        (sum(length(col(c).cast("string"))).cast("double") /
          count(col(c)).cast("double")).as(s"__avg_$c"))
    }
    val wide = df.agg(count(lit(1)).as("__n"), aggs: _*)
    wide.select(explode(array(cols.map { c =>
      struct(
        lit(c).as("col_name"),
        col("__n").as("n_rows"),
        (col("__n") - col(s"__cnt_$c")).as("n_nulls"),
        col(s"__ad_$c").as("n_distinct_est"),
        col(s"__min_$c").as("min_val"),
        col(s"__max_$c").as("max_val"),
        col(s"__avg_$c").as("avg_len"))
    }: _*)).as("p")).select("p.*")
  }

  /** Exact per-column distinct counts — one pruned single-column scan per
    * column (each plans as a two-phase agg on the value, no Expand). This
    * is the measurement harness for the estimate law, not the product
    * path: at 100 TB you run [[profile]] once; you run this only for the
    * columns whose exact cardinality you actually need.
    */
  def exactDistincts(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.map { c =>
      df.select(col(c)).agg(countDistinct(col(c)).as("n_distinct"))
        .select(lit(c).as("col_name"), col("n_distinct"))
    }.reduce(_.union(_))

  // --------------------------------------------------------------- q100
  // Declared profiler query over every documents column, oracled in the
  // q43 error-law style: the exact values (counts, nulls, exact distinct,
  // min/max, avg_len) compare value-for-value, and the HLL cardinality
  // estimate is pinned as a within-5% boolean against the exact count
  // (rsd 1% → ~5-sigma headroom), so the estimator itself is under test
  // without asking two engines to agree on register arithmetic.
  private val docCols = Seq("doc_id", "lang", "n_chars", "source", "text")

  private def oracleCol(c: String): String =
    s"""SELECT '$c' AS col_name,
       |       COUNT(*) AS n_rows,
       |       COUNT(*) - COUNT($c) AS n_nulls,
       |       CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
       |       TRUE AS distinct_within_5pct,
       |       CAST(MIN($c) AS VARCHAR) AS min_val,
       |       CAST(MAX($c) AS VARCHAR) AS max_val,
       |       CAST(SUM(LENGTH(CAST($c AS VARCHAR))) AS DOUBLE)
       |            / CAST(COUNT($c) AS DOUBLE) AS avg_len
       |FROM documents""".stripMargin

  private val q100 = GraftQuery(
    "q100_profile",
    (s, dir) => {
      // RAW accessor, not Tables.documents: the widening repartition
      // exists for CPU-heavy per-row pipelines; a profiler is scan-bound,
      // and paying the full-text exchange once per sub-scan (the main
      // pass + five exact-distinct scans) tripled the measured cost
      val docs = Tables.load(s, dir, "documents")
      profile(docs, docCols)
        .join(exactDistincts(docs, docCols), Seq("col_name"))
        .select(
          col("col_name"), col("n_rows"), col("n_nulls"), col("n_distinct"),
          (abs(col("n_distinct_est") - col("n_distinct")) <=
            col("n_distinct") * lit(0.05)).as("distinct_within_5pct"),
          col("min_val"), col("max_val"), col("avg_len"))
        .orderBy(col("col_name"))
    },
    Some(docCols.map(oracleCol).mkString("", "\nUNION ALL\n",
      "\nORDER BY col_name")))

  // --------------------------------------------------------------- q136
  // Referential-integrity audit: per foreign-key edge, child row count,
  // orphan count (child keys with no parent), and basis-point orphan
  // rate — the warehouse-QA pass that catches a broken ingest join
  // BEFORE a downstream training query silently inner-joins the
  // orphans away. Each edge is one left-anti join on the key: orphan
  // counting shuffles only keys, the parent side broadcasts when small
  // (dims) or shuffles hash-keyed when not (AQE decides), and nulls in
  // the child key count as orphans of record (a null FK can never
  // join — the audit's job is to say so, not drop it).
  //
  // Orphan rate is integer basis points (orphans·10000 DIV n_child) so
  // the row replays with no float division.

  /** One audit row per (edge name, child df, child key, parent df,
    * parent key). */
  def integrityAudit(edges: Seq[(String, DataFrame, String, DataFrame, String)]): DataFrame = {
    require(edges.nonEmpty, "audit needs at least one FK edge")
    edges.map { case (name, child, ck, parent, pk) =>
      val orphans = child.select(col(ck).as("__k"))
        .join(parent.select(col(pk).as("__k")).distinct(),
          Seq("__k"), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
      val total = child.agg(count(lit(1)).as("n_child"))
      total.crossJoin(orphans)
        .select(lit(name).as("fk_edge"), col("n_child"), col("n_orphans"),
          expr("n_orphans * 10000L DIV n_child").as("orphan_bp"))
    }.reduce(_ unionAll _)
  }

  private val q136 = GraftQuery(
    "q136_integrity_audit",
    (s, dir) => {
      integrityAudit(Seq(
        ("lineitem.l_orderkey->orders", Tables.lineitem(s, dir), "l_orderkey",
          Tables.load(s, dir, "orders"), "o_orderkey"),
        ("orders.o_custkey->customer", Tables.load(s, dir, "orders"), "o_custkey",
          Tables.load(s, dir, "customer"), "c_custkey"),
        ("customer.c_nationkey->nation", Tables.load(s, dir, "customer"), "c_nationkey",
          Tables.load(s, dir, "nation"), "n_nationkey"),
        ("events.user_id->customer", Tables.events(s, dir), "user_id",
          Tables.load(s, dir, "customer"), "c_custkey")))
        .orderBy(col("fk_edge"))
    },
    Some("""
      WITH e AS (
        SELECT 'lineitem.l_orderkey->orders' AS fk_edge,
               (SELECT COUNT(*) FROM lineitem) AS n_child,
               (SELECT COUNT(*) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM orders o
                                  WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
        UNION ALL
        SELECT 'orders.o_custkey->customer',
               (SELECT COUNT(*) FROM orders),
               (SELECT COUNT(*) FROM orders r
                WHERE NOT EXISTS (SELECT 1 FROM customer c
                                  WHERE c.c_custkey = r.o_custkey))
        UNION ALL
        SELECT 'customer.c_nationkey->nation',
               (SELECT COUNT(*) FROM customer),
               (SELECT COUNT(*) FROM customer c
                WHERE NOT EXISTS (SELECT 1 FROM nation n
                                  WHERE n.n_nationkey = c.c_nationkey))
        UNION ALL
        SELECT 'events.user_id->customer',
               (SELECT COUNT(*) FROM events),
               (SELECT COUNT(*) FROM events v
                WHERE NOT EXISTS (SELECT 1 FROM customer c
                                  WHERE c.c_custkey = v.user_id)))
      SELECT fk_edge, n_child, n_orphans,
             (n_orphans * 10000) // n_child AS orphan_bp
      FROM e
      ORDER BY fk_edge"""))

  // --------------------------------------------------------------- q137
  // Per-column frequent values — the "top values per column" panel of a
  // data profiler, computed for EVERY requested column in ONE scan: one
  // agg holds one Misra–Gries summary per column (O(k) state each), so
  // profiling 20 columns of a 100 TB table costs one pass, not 20
  // top-k shuffles. The q125 law-oracle scheme applies per column
  // (summary content is merge-order-dependent; the worst-case laws are
  // not): the exact per-column top-10 (calibration side) is checked
  // against its column's summary via le_exact / within_err / found /
  // err_bound / n_exact booleans, all TRUE under every merge order.
  def frequentValues(df: DataFrame, cols: Seq[String], k: Int,
      topPerCol: Int): DataFrame = {
    require(cols.nonEmpty && cols.size <= 32, "1..32 profiled columns")
    val mg = graft.mr.Aggregators.MisraGries(k).state
    val states = df.agg(
      mg(xxhash64(col(cols.head))).as(s"st_${cols.head}"),
      cols.tail.map(c => mg(xxhash64(col(c))).as(s"st_$c")) :+
        count(lit(1)).as("n_rows"): _*)
    val tops = cols.map { c =>
      df.groupBy(col(c)).agg(count(lit(1)).as("cnt"))
        .select(lit(c).as("col_name"), col(c).cast("string").as("value"),
          xxhash64(col(c)).as("h"), col("cnt"))
        // tie-break on the STRING form (the output column) so the top-k
        // cut matches the oracle's ORDER BY value exactly
        .orderBy(col("cnt").desc, col("value")).limit(topPerCol)
    }.reduce(_ unionAll _)
    val st = cols.tail.foldLeft(
      when(col("col_name") === cols.head, col(s"st_${cols.head}"))) {
      (w, c) => w.when(col("col_name") === c, col(s"st_$c"))
    }
    def mgCount(stc: Column): Column =
      aggregate(sequence(lit(1), element_at(stc, 3).cast("int")),
        lit(-1L),
        (acc, i) => when(element_at(stc, (lit(2) + i * lit(2)).cast("int")) === col("h"),
          element_at(stc, (lit(3) + i * lit(2)).cast("int"))).otherwise(acc))
    tops.crossJoin(broadcast(states))
      .withColumn("__st", st)
      .withColumn("__c", mgCount(col("__st")))
      .select(col("col_name"), col("value"), col("cnt"),
        (col("__c") < lit(0L) || col("__c") <= col("cnt")).as("le_exact"),
        (col("cnt") <= greatest(col("__c"), lit(0L)) + element_at(col("__st"), 2))
          .as("within_err"),
        (col("__c") > lit(0L) || col("cnt") <= element_at(col("__st"), 2)).as("found"),
        (element_at(col("__st"), 2) * lit(k + 1L) <= element_at(col("__st"), 1))
          .as("err_bound"),
        (element_at(col("__st"), 1) === col("n_rows")).as("n_exact"))
      .orderBy(col("col_name"), col("cnt").desc, col("value"))
  }

  private val q137 = GraftQuery(
    "q137_frequent_values",
    (s, dir) => frequentValues(Tables.lineitem(s, dir),
      Seq("l_partkey", "l_suppkey", "l_returnflag"), k = 127, topPerCol = 10),
    Some("""
      WITH t AS (
        SELECT 'l_partkey' AS col_name, CAST(l_partkey AS VARCHAR) AS value,
               COUNT(*) AS cnt
        FROM lineitem GROUP BY l_partkey
        ORDER BY cnt DESC, value LIMIT 10),
      u AS (
        SELECT 'l_suppkey', CAST(l_suppkey AS VARCHAR), COUNT(*) AS cnt
        FROM lineitem GROUP BY l_suppkey
        ORDER BY cnt DESC, CAST(l_suppkey AS VARCHAR) LIMIT 10),
      v AS (
        SELECT 'l_returnflag', l_returnflag, COUNT(*) AS cnt
        FROM lineitem GROUP BY l_returnflag
        ORDER BY cnt DESC, l_returnflag LIMIT 10),
      allt AS (SELECT * FROM t UNION ALL SELECT * FROM u UNION ALL SELECT * FROM v)
      SELECT col_name, value, cnt,
             TRUE AS le_exact, TRUE AS within_err, TRUE AS found,
             TRUE AS err_bound, TRUE AS n_exact
      FROM allt
      ORDER BY col_name, cnt DESC, value"""))

  // --------------------------------------------------------------- q138
  // Exact column-correlation audit: pairwise covariance NUMERATORS of
  // numeric columns as exact scaled integers — the profiler's "which
  // columns move together" panel with zero float drift: every term is
  // ⌊x·2²⁰⌋ summed exactly (per-pair products in DECIMAL(38,0) /
  // HUGEINT), the covariance numerator n·Σab − Σa·Σb is pure integer
  // arithmetic, and the sign verdict replays bit-for-bit. ONE scan
  // computes all pair sums as plain aggregates (no Expand, no custom
  // buffer — d(d+1)/2 sum columns); the 38-digit bound holds for
  // n ≲ 10⁷ rows at |x| ≤ 10⁵ — per-shard profile scale; bigger
  // corpora fold per-shard sums ([[correlationShardSums]] — they are
  // plain additive integers, pinned by q145).
  //
  // Output representation (VERDICT r10 #1): the 128-bit values s_ab and
  // cov_num exceed 2^53 on real data, and any consumer bridge that
  // passes DECIMAL(38,0) through a float64 (duckdb→pandas does) silently
  // corrupts them — so the audit emits each as an exact (hi, lo) LONG
  // pair with lo = v mod 2^40 ∈ [0, 2^40) and hi = (v − lo) / 2^40,
  // reassembling exactly as hi·2^40 + lo; the sign verdict and all
  // arithmetic stay 128-bit-exact internally. hi itself fits int64
  // while |v| < 2^103 ≈ 1.0e31 (amply true at declared-query scale,
  // |hi| ≲ 6·10¹² there) and the emission RAISES past that bound
  // rather than wrapping — see [[hiLo]].

  private val corrM = 1099511627776L // 2^40 — the product scale 2^20·2^20

  private def corrD(c: Column): Column = c.cast("decimal(38,0)")

  /** Exact floor-div decomposition of a DECIMAL(38,0) value into int64-
    * safe (hi, lo): lo = pmod(v, 2^40) is non-negative, v − lo is exactly
    * divisible by 2^40, so the quotient is exact under any integer
    * division semantics — the pair survives any float64 bridge.
    *
    * Validity bound, enforced LOUDLY: hi fits int64 only while
    * |v| < 2^63·2^40 ≈ 1.0e31. Inside that range the pair is exact; at
    * or beyond it the expression raises instead of letting the
    * decimal→long cast wrap two's-complement silently (code-review r11:
    * the covariance numerator can reach ~1e36 at the upper corner of
    * the documented n ≲ 10⁷, |x| ≤ 10⁵ envelope — shard smaller or
    * drop the input scale there; the DuckDB oracle's HUGEINT→BIGINT
    * cast throws at the same boundary, so both engines fail, neither
    * corrupts). */
  private def hiLo(v: Column, legitNull: Column, n: Column, hiAs: String,
      loAs: String): Seq[(Column, String)] = {
    val m = corrD(lit(corrM))
    val lo = pmod(v, m)
    val hiD = (v - lo) / m
    // Under non-ANSI Spark a decimal(38,0) overflow in the upstream
    // product (s_ab·n or Σa·Σb) yields NULL before this guard ever sees
    // a value — so a null v with NON-NULL input sums and n > 0 rows IS
    // the overflow signal, and the panel must raise, not emit silent
    // NULL hi/lo (code-review r11: the "fails loudly, never corrupts"
    // contract). But a null INPUT sum is a legitimate all-NULL profiled
    // column (sum skips nulls) — the oracle emits NULL hi/lo there, and
    // so must we (code-review r12: the r11 guard misdiagnosed all-NULL
    // columns as overflow). n = 0 (empty input) passes through too.
    val hi = when(legitNull, lit(null).cast("long"))
      .when(v.isNull && n > lit(0L),
        raise_error(lit(s"correlation $hiAs is NULL with n > 0 — " +
          "decimal(38,0) overflow upstream (non-ANSI mode returns NULL " +
          "past ~1e38): shard smaller or reduce the input scale")))
      .when(abs(hiD) > lit(Long.MaxValue),
        raise_error(concat(lit(s"correlation $hiAs overflows int64: "),
          v.cast("string"))))
      .otherwise(hiD.cast("long"))
    Seq(hi -> hiAs, lo.cast("long") -> loAs)
  }

  private def corrPairs(cols: Seq[String]): Seq[(String, String)] =
    for { i <- cols.indices; j <- cols.indices if i < j } yield (cols(i), cols(j))

  /** Shared tail over a ONE-ROW frame of folded sums (columns `n`,
    * `s_<c>` LONG, `s_<a>_<b>` DECIMAL(38,0)): explode to the pair
    * panel with int64-safe (hi, lo) product/covariance columns. */
  private def correlationTail(row: DataFrame, cols: Seq[String]): DataFrame = {
    val out = corrPairs(cols).map { case (a, b) =>
      val sAb = corrD(col(s"s_${a}_$b"))
      val covNum = sAb * col("n") - corrD(col(s"s_$a")) * col(s"s_$b")
      // any contributing SUM null = a legitimately all-NULL profiled
      // column (an all-null column nulls its plain sum AND every pair
      // sum it touches) — emit NULL like the oracle, never raise
      val inNull = col(s"s_$a").isNull || col(s"s_$b").isNull ||
        col(s"s_${a}_$b").isNull
      val parts =
        hiLo(sAb, inNull, col("n").cast("long"), "s_ab_hi", "s_ab_lo") ++
          hiLo(covNum, inNull, col("n").cast("long"), "cov_hi", "cov_lo")
      struct(Seq(lit(a).as("col_a"), lit(b).as("col_b"), col("n"),
        col(s"s_$a").as("s_a"), col(s"s_$b").as("s_b")) ++
        parts.map { case (c, name) => c.as(name) } :+
        (sAb * col("n") > corrD(col(s"s_$a")) * col(s"s_$b")).as("corr_positive"): _*)
    }
    row.select(explode(array(out: _*)).as("r"))
      .select(col("r.col_a"), col("r.col_b"), col("r.n"), col("r.s_a"),
        col("r.s_b"), col("r.s_ab_hi"), col("r.s_ab_lo"), col("r.cov_hi"),
        col("r.cov_lo"), col("r.corr_positive"))
      .orderBy(col("col_a"), col("col_b"))
  }

  private def corrSumAggs(cols: Seq[String]): Seq[Column] =
    cols.map(c => sum(col(s"e_$c")).as(s"s_$c")) ++
      corrPairs(cols).map { case (a, b) =>
        sum(corrD(col(s"e_$a")) * col(s"e_$b")).as(s"s_${a}_$b") } :+
      count(lit(1)).as("n")

  private def corrScaled(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2 && cols.size <= 12, "2..12 numeric columns")
    df.select(cols.map(c =>
      floor(col(c).cast("double") * lit(1048576.0)).cast("long").as(s"e_$c")): _*)
  }

  def columnCorrelation(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = corrSumAggs(cols)
    correlationTail(corrScaled(df, cols).agg(aggs.head, aggs.tail: _*), cols)
  }

  /** Per-shard correlation sum states — the persistable form of the
    * audit (the q94/q109 stored-fold discipline applied to q138): one
    * row per shard of plain additive integers (n, Σe_c, Σe_a·e_b), a
    * few hundred bytes each, written per day/partition and folded by
    * [[correlationFromSums]] without re-touching history. Sharding is
    * hash-deterministic on `idCol`. */
  def correlationShardSums(df: DataFrame, cols: Seq[String], idCol: Column,
      shards: Int): DataFrame = {
    require(shards >= 1, s"shards must be positive, got $shards")
    require(cols.size >= 2 && cols.size <= 12, "2..12 numeric columns")
    val scaled = df.select(pmod(xxhash64(idCol), lit(shards)).as("shard") +:
      cols.map(c =>
        floor(col(c).cast("double") * lit(1048576.0)).cast("long").as(s"e_$c")): _*)
    val aggs = corrSumAggs(cols)
    scaled.groupBy(col("shard")).agg(aggs.head, aggs.tail: _*)
  }

  /** Fold STORED shard sums (as emitted by [[correlationShardSums]]) and
    * run the identical pair-panel tail: because every accumulated term
    * is an exact integer, fold(shards) ≡ one-pass(union) bit for bit —
    * q145 pins it against q138's own oracle. */
  def correlationFromSums(sums: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs =
      cols.map(c => sum(col(s"s_$c")).as(s"s_$c")) ++
        corrPairs(cols).map { case (a, b) =>
          sum(col(s"s_${a}_$b")).cast("decimal(38,0)").as(s"s_${a}_$b") } :+
        sum(col("n")).as("n")
    correlationTail(sums.agg(aggs.head, aggs.tail: _*), cols)
  }

  private val q138 = GraftQuery(
    "q138_column_correlation",
    (s, dir) => columnCorrelation(Tables.lineitem(s, dir),
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")),
    Some("""
      WITH e AS (SELECT CAST(floor(CAST(l_quantity AS DOUBLE) * 1048576.0) AS BIGINT) AS q,
                        CAST(floor(CAST(l_extendedprice AS DOUBLE) * 1048576.0) AS BIGINT) AS p,
                        CAST(floor(CAST(l_discount AS DOUBLE) * 1048576.0) AS BIGINT) AS d,
                        CAST(floor(CAST(l_tax AS DOUBLE) * 1048576.0) AS BIGINT) AS x
                 FROM lineitem),
      m AS (SELECT COUNT(*) AS n,
                   CAST(SUM(q) AS BIGINT) AS sq, CAST(SUM(p) AS BIGINT) AS sp,
                   CAST(SUM(d) AS BIGINT) AS sd, CAST(SUM(x) AS BIGINT) AS sx,
                   SUM(CAST(q AS HUGEINT) * p) AS sqp, SUM(CAST(q AS HUGEINT) * d) AS sqd,
                   SUM(CAST(q AS HUGEINT) * x) AS sqx, SUM(CAST(p AS HUGEINT) * d) AS spd,
                   SUM(CAST(p AS HUGEINT) * x) AS spx, SUM(CAST(d AS HUGEINT) * x) AS sdx
            FROM e)
      SELECT col_a, col_b, n, s_a, s_b,
             CAST((s_ab - ((s_ab % 1099511627776 + 1099511627776) % 1099511627776)) // 1099511627776 AS BIGINT) AS s_ab_hi,
             CAST((s_ab % 1099511627776 + 1099511627776) % 1099511627776 AS BIGINT) AS s_ab_lo,
             CAST((cov_num - ((cov_num % 1099511627776 + 1099511627776) % 1099511627776)) // 1099511627776 AS BIGINT) AS cov_hi,
             CAST((cov_num % 1099511627776 + 1099511627776) % 1099511627776 AS BIGINT) AS cov_lo,
             cov_num > 0 AS corr_positive
      FROM (
        SELECT col_a, col_b, n, s_a, s_b, s_ab,
               s_ab * n - CAST(s_a AS HUGEINT) * s_b AS cov_num
        FROM (
          SELECT 'l_discount' AS col_a, 'l_tax' AS col_b, n, sd AS s_a, sx AS s_b, sdx AS s_ab FROM m
          UNION ALL
          SELECT 'l_extendedprice', 'l_discount', n, sp, sd, spd FROM m
          UNION ALL
          SELECT 'l_extendedprice', 'l_tax', n, sp, sx, spx FROM m
          UNION ALL
          SELECT 'l_quantity', 'l_discount', n, sq, sd, sqd FROM m
          UNION ALL
          SELECT 'l_quantity', 'l_extendedprice', n, sq, sp, sqp FROM m
          UNION ALL
          SELECT 'l_quantity', 'l_tax', n, sq, sx, sqx FROM m))
      ORDER BY col_a, col_b"""))

  // --------------------------------------------------------------- q145
  // The correlation STORED-shard fold (VERDICT r10 missing #2): per-shard
  // sum rows persist → fold by plain SUM → identical pair-panel tail.
  // Exact integer sums make the fold indistinguishable from the single
  // pass, so the oracle IS q138's — same 6 rows, same hash. This brings
  // the q138 surface up to the q94/q109/q123/q125 stored-fold standard:
  // a 100 TB corpus refreshes its correlation panel from KB-sized shard
  // states, history never re-scanned.
  private val corrCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  private val q145 = GraftQuery(
    "q145_correlation_shard_fold",
    (s, dir) => correlationFromSums(
      correlationShardSums(Tables.lineitem(s, dir), corrCols,
        xxhash64(col("l_orderkey"), col("l_linenumber")), shards = 16),
      corrCols),
    q138.oracle)

  // --------------------------------------------------------------- q164
  /** Encoding-damage audit — the ingest-time check a crawl pipeline
    * runs before any text op trusts the bytes: per-document counts of
    * (a) U+FFFD replacement characters (a decoder already gave up),
    * (b) control characters outside \t\n\r (C0 strays, DEL, and the
    * C1 block — the classic sign of a mislabeled 8-bit charset),
    * (c) the 'Ã' mojibake signature (UTF-8 bytes decoded as
    * Latin-1/cp1252 — every such double-decode of a non-ASCII char
    * surfaces an 'Ã' or 'Â'). All exact integer `regexp_count`s in ONE
    * stateless scan projection (the q160 shape: no explode, no
    * shuffle); `ok` demands zero replacement/control damage and a
    * mojibake rate ≤ 1/1000 chars (isolated legitimate 'Ã' words —
    * e.g. Portuguese — stay under it; double-decoded text blows past). */
  def encodingAudit(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val x = col(textCol)
    docs.select(col(idCol),
      length(x).cast("long").as("n_chars"),
      regexp_count(x, lit("�")).cast("long").as("n_replacement"),
      regexp_count(x, lit("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F-\\x9F]"))
        .cast("long").as("n_control"),
      regexp_count(x, lit("[ÃÂ]")).cast("long").as("n_mojibake"))
      .withColumn("ok",
        col("n_replacement") === 0L && col("n_control") === 0L &&
          col("n_mojibake") * 1000L <= col("n_chars"))
      .orderBy(col(idCol))
  }

  private val q164 = GraftQuery(
    "q164_encoding_audit",
    (s, dir) => encodingAudit(Tables.documents(s, dir), "doc_id", "text"),
    Some("""
      SELECT doc_id,
             CAST(len(text) AS BIGINT) AS n_chars,
             CAST(len(regexp_extract_all(text, '\x{FFFD}')) AS BIGINT) AS n_replacement,
             CAST(len(regexp_extract_all(text, '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F-\x9F]')) AS BIGINT) AS n_control,
             CAST(len(regexp_extract_all(text, '[\x{C3}\x{C2}]')) AS BIGINT) AS n_mojibake,
             (len(regexp_extract_all(text, '\x{FFFD}')) = 0
              AND len(regexp_extract_all(text, '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F-\x9F]')) = 0
              AND len(regexp_extract_all(text, '[\x{C3}\x{C2}]')) * 1000 <= len(text)) AS ok
      FROM documents
      ORDER BY doc_id"""))

  // --------------------------------------------------------------- q165
  /** Source-concentration audit (Herfindahl–Hirschman index over a
    * grouping key — source, domain, language): the "is this corpus
    * secretly one website" check a mix designer runs before trusting
    * per-source quotas. Entirely EXACT integer arithmetic in parts-per-
    * million: share_ppm = (docs·10^6) div total (truncating div —
    * identical for non-negative operands in any engine), HHI =
    * Σ share_ppm² (bounded by (Σ share_ppm)² ≤ 10^12, so the LONG sum
    * cannot overflow at ANY key cardinality), effective source count =
    * 10^12 div HHI (the standard 1/HHI equivalent-equal-sources
    * reading, NULL-guarded when every share truncates to zero). No
    * doubles anywhere — order-independent and replayable bit-for-bit.
    *
    * Scale: one partial-agged groupBy on the key + two one-row
    * broadcast scalars; per-key output, no window, no sort (the
    * declared query orders for presentation only). Caveat: docs·10^6
    * needs ≤ 9.2e12 docs per key — beyond any single web domain.
    */
  def sourceConcentration(docs: DataFrame, keyCol: String): DataFrame =
    sourceConcentrationFromCounts(sourceCounts(docs, keyCol))

  /** Stored-shard form of [[sourceConcentration]]: per-shard (k, docs)
    * counts — the natural per-day/per-trigger ingest artifact — fold to
    * the EXACT batch verdict by summing counts per key before the ppm
    * arithmetic (counts are order-independent LONG sums, and every
    * downstream value is a pure integer function of the folded counts).
    * The q94/q145 stored-fold discipline applied to concentration
    * monitoring: a crawl pipeline persists per-ingest counts and gets
    * the corpus-level HHI without re-scanning any document. */
  def sourceConcentrationFromCounts(counts: DataFrame): DataFrame = {
    // eager localCheckpoint (not persist) on the folded per-key frame:
    // it is referenced by both broadcast scalars AND the output, and
    // without materialization each reference recomputes upstream (for
    // the inline form, 3 corpus scans for one query). localCheckpoint
    // blocks are reclaimed by the context cleaner once the returned
    // frame is unreferenced — a bare persist here would leak one cached
    // frame per call (code-review r12), which matters for the
    // per-trigger monitoring use this fold form is built for.
    // Per-key-sized — cacheable at any key cardinality that fits a
    // groupBy.
    val folded = counts.groupBy(col("k")).agg(sum(col("docs")).as("docs"))
      .localCheckpoint()
    val tot = folded.agg(sum(col("docs")).as("t"),
      count(lit(1)).as("n_sources"))
    val per = folded.crossJoin(broadcast(tot))
      .select(col("k"), col("docs"), col("t"), col("n_sources"),
        expr("(docs * 1000000L) div t").as("share_ppm"))
    val summary = per.agg(
      sum(col("share_ppm") * col("share_ppm")).as("hhi_ppm2"))
    per.crossJoin(broadcast(summary))
      .select(col("k"), col("docs"), col("share_ppm"),
        col("t").as("n_docs"), col("n_sources"), col("hhi_ppm2"),
        when(col("hhi_ppm2") === 0L, lit(null).cast("long"))
          .otherwise(expr("1000000000000L div hhi_ppm2"))
          .as("effective_sources"))
  }

  /** Per-shard (k, docs) counts for [[sourceConcentrationFromCounts]]. */
  def sourceCounts(docs: DataFrame, keyCol: String): DataFrame =
    docs.groupBy(col(keyCol).as("k")).agg(count(lit(1)).as("docs"))

  private val q165 = GraftQuery(
    "q165_source_concentration",
    (s, dir) => sourceConcentration(Tables.documents(s, dir), "source")
      .orderBy(col("k")),
    Some("""
      WITH c AS (SELECT source AS k, COUNT(*) AS docs FROM documents GROUP BY source),
      t AS (SELECT CAST(SUM(docs) AS BIGINT) AS t, CAST(COUNT(*) AS BIGINT) AS n_sources FROM c),
      p AS (SELECT k, CAST(docs AS BIGINT) AS docs, t.t, t.n_sources,
                   CAST((docs * 1000000) // t.t AS BIGINT) AS share_ppm
            FROM c CROSS JOIN t),
      s AS (SELECT CAST(SUM(share_ppm * share_ppm) AS BIGINT) AS hhi_ppm2 FROM p)
      SELECT k, docs, share_ppm, t AS n_docs, n_sources, s.hhi_ppm2,
             CASE WHEN s.hhi_ppm2 = 0 THEN NULL
                  ELSE CAST(1000000000000 // s.hhi_ppm2 AS BIGINT) END AS effective_sources
      FROM p CROSS JOIN s
      ORDER BY k"""))

  // Stored-fold declaration of q165: three ingest shards (doc_id mod 3 —
  // an arbitrary, reproducible split), per-shard counts persisted as the
  // artifact, folded without touching documents again. The oracle
  // replays the same three-shard fold; results must equal q165's inline
  // form value-for-value (and do — both are pure integer functions of
  // the folded counts).
  private val q165b = GraftQuery(
    "q165b_source_concentration_fold",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val shards = (0 to 2).map(r =>
        sourceCounts(docs.filter(pmod(col("doc_id"), lit(3)) === r), "source"))
      sourceConcentrationFromCounts(shards.reduce(_ unionByName _))
        .orderBy(col("k"))
    },
    Some("""
      WITH sh AS (SELECT source AS k, COUNT(*) AS docs, doc_id % 3 AS r
                  FROM documents GROUP BY source, doc_id % 3),
      c AS (SELECT k, CAST(SUM(docs) AS BIGINT) AS docs FROM sh GROUP BY k),
      t AS (SELECT CAST(SUM(docs) AS BIGINT) AS t, CAST(COUNT(*) AS BIGINT) AS n_sources FROM c),
      p AS (SELECT k, docs, t.t, t.n_sources,
                   CAST((docs * 1000000) // t.t AS BIGINT) AS share_ppm
            FROM c CROSS JOIN t),
      s AS (SELECT CAST(SUM(share_ppm * share_ppm) AS BIGINT) AS hhi_ppm2 FROM p)
      SELECT k, docs, share_ppm, t AS n_docs, n_sources, s.hhi_ppm2,
             CASE WHEN s.hhi_ppm2 = 0 THEN NULL
                  ELSE CAST(1000000000000 // s.hhi_ppm2 AS BIGINT) END AS effective_sources
      FROM p CROSS JOIN s
      ORDER BY k"""))

  val all: Seq[GraftQuery] =
    Seq(q100, q136, q137, q138, q145, q164, q165, q165b)
}
