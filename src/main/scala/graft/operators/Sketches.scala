package graft.operators

import org.apache.spark.sql.functions._

import graft.{GraftQuery, OracleSql}
import graft.mr.Aggregators.{Cms, Gk, Hll, MisraGries}
import graft.sources.Tables

/** Approximate/sketch aggregates (SURVEY §2.14): HLL++ distinct counts and
  * approximate percentiles — the constant-memory alternatives to exact
  * distinct/percentile shuffles at 100 TB. The estimates themselves are
  * engine-specific (DuckDB's HLL ≠ Spark's HLL++ by construction), so the
  * oracle checks the error LAW instead of the estimate: each query emits
  * the exact statistics plus a boolean derived from Spark's deterministic
  * estimate ("within 5% of exact"), and the DuckDB oracle replays the
  * exact statistics with `TRUE` literals for the booleans. A drifting
  * estimate flips the boolean and fails the hash match — full oracle
  * coverage without pretending the sketches agree bit-for-bit. The raw
  * estimate-producing paths stay separately asserted in ScalaTest
  * (SketchesSpec / AggregatorsSpec error + merge laws).
  */
object Sketches {

  // Plan note (round 7, found when the bench action stopped count-pruning
  // aggregates): mixing the two countDistincts with the object-aggregate
  // percentile/HLL family in ONE agg makes RewriteDistinctAggregates
  // Expand every row 3× and forces the whole thing onto the slow
  // object/sort aggregation path — 29 s at sf0.1 vs ~11 s split. The
  // distinct pair and the non-distinct sketch family now aggregate
  // separately over the same scan and join on the 3-row group keys
  // (AQE broadcasts); output is value-identical, oracle unchanged.
  private val q43 = GraftQuery(
    "q43_approx_sketches",
    (s, dir) => {
      val p = col("l_extendedprice").cast("double")
      val base = Tables.lineitemWide(s, dir)
      val exact = base.groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_orderkey")).as("n_orders"))
      // Rank-arithmetic exact percentile RE-EXAMINED AND REJECTED, round
      // 19 (VERDICT r18 next #4 hypothesized the imperative
      // `percentile(...)` value-map aggregate owned q43's ~4.7 s):
      // replacing it with distinct-value counts + a per-group cumulative
      // window + Percentile.getPercentile replayed in column space
      // measured 4.72 → 5.59/5.77 s at sf0.1/local[32] (oracle-identical,
      // bit-equal doubles, partial_percentile gone from the plan). The
      // map aggregate was NOT the owner: q44 (the two countDistincts
      // alone) costs 1.36 s, so q43's bulk is the four constant-state
      // sketch updates (approx_count_distinct rsd=0.01 ×2 +
      // percentile_approx ×2 — per-row imperative updates that ARE the
      // declared estimates) which no rank rewrite touches; the rank form
      // only added a counts exchange + a 3-partition window + two joins.
      // Reverted to the aggregate form.
      val sketch = base.groupBy(col("l_returnflag"))
        .agg(
          // rsd = 1%: the default 5% rsd makes a 5%-error law a coin flip
          // (one sigma); at 1% the law holds with ~5-sigma headroom while
          // the sketch stays constant-memory (2^14 registers)
          approx_count_distinct(col("l_partkey"), 0.01).as("ap"),
          approx_count_distinct(col("l_orderkey"), 0.01).as("ao"),
          percentile_approx(p, lit(0.5), lit(1000)).as("p50a"),
          percentile_approx(p, lit(0.95), lit(1000)).as("p95a"),
          // one exact-percentile collection for both bounds, not two
          expr("percentile(CAST(l_extendedprice AS DOUBLE), array(0.5D, 0.95D))").as("pe"))
      exact.join(sketch, Seq("l_returnflag"))
        .select(
          col("l_returnflag"), col("n_parts"), col("n_orders"),
          (abs(col("ap") - col("n_parts")) <= col("n_parts") * lit(0.05))
            .as("parts_within_5pct"),
          (abs(col("ao") - col("n_orders")) <= col("n_orders") * lit(0.05))
            .as("orders_within_5pct"),
          (abs(col("p50a") - element_at(col("pe"), 1)) <= element_at(col("pe"), 1) * lit(0.05))
            .as("p50_within_5pct"),
          (abs(col("p95a") - element_at(col("pe"), 2)) <= element_at(col("pe"), 2) * lit(0.05))
            .as("p95_within_5pct"))
        .orderBy(col("l_returnflag"))
    },
    Some("""
      SELECT l_returnflag,
             CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
             CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
             TRUE AS parts_within_5pct,
             TRUE AS orders_within_5pct,
             TRUE AS p50_within_5pct,
             TRUE AS p95_within_5pct
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""))

  // Exact counterpart (oracle-checked) so the sketch error is measurable.
  private val q44 = GraftQuery(
    "q44_exact_distinct",
    (s, dir) =>
      Tables.lineitemWide(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_orderkey")).as("n_orders"))
        .orderBy(col("l_returnflag")),
    Some("""
      SELECT l_returnflag,
             COUNT(DISTINCT l_partkey) AS n_parts,
             COUNT(DISTINCT l_orderkey) AS n_orders
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""))

  // Mergeable-state HLL counterpart (SURVEY §2.14 "custom aggregate only
  // if mergeable sketch state must be exported"): same estimates family as
  // q43, but through the engine's own Aggregator whose register state can
  // be persisted per shard and folded incrementally — asserted in
  // AggregatorsSpec (merge law + ≤5% error). Oracle = the same error-law
  // scheme as q43: exact count + a within-5% boolean from the estimate.
  //
  // Plan shape (VERDICT r9 what's-wrong #2): putting the HLL udaf and
  // `countDistinct` in ONE agg made Spark's distinct-rewrite key the
  // partial HLL by (l_returnflag, l_partkey) — a fresh 2^p-register
  // Array[Int] allocated and encoder-serialized PER DISTINCT PAIR (~60k
  // 16 KB buffers at sf0.1) before the real per-flag merge. Dedup first
  // instead: `count(*)` over the deduped pairs IS the exact distinct, and
  // HLL over deduped values is register-identical (the sketch is
  // duplicate-insensitive), so the second agg holds one buffer per flag
  // per task. Same output, same oracle; measured 6.2 s -> ~2.5 s at sf0.1.
  private val q67 = GraftQuery(
    "q67_hll_mergeable",
    (s, dir) => {
      val hll = Hll(12).column(Hll.estimate)
      Tables.lineitemWide(s, dir)
        .groupBy(col("l_returnflag"), col("l_partkey")).agg(Map.empty[String, String])
        .groupBy(col("l_returnflag"))
        .agg(hll(xxhash64(col("l_partkey"))).as("est"),
          count(lit(1)).as("n_parts"))
        .select(col("l_returnflag"), col("n_parts"),
          (abs(col("est") - col("n_parts")) <= col("n_parts") * lit(0.05))
            .as("parts_within_5pct"))
        .orderBy(col("l_returnflag"))
    },
    Some("""
      SELECT l_returnflag,
             CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
             TRUE AS parts_within_5pct
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""))

  // ---------------------------------------------------------------- q90
  // Mergeable Count-Min sketch over the corpus token stream — the
  // frequency sibling of q67's HLL. Three laws hash-pinned via the q43
  // error-law scheme (exact values + TRUE booleans in the oracle):
  //   ge_exact    — CMS never undercounts (one-sided error, structural);
  //   within_eps  — overcount ≤ (2e/w)·N. The TEXTBOOK bound is (e/w)·N
  //                 at probability 1−e^(−d) per item (~3.6% aggregate
  //                 failure odds over 40 rows on ARBITRARY data); the
  //                 oracle hash-pins the boolean as always-TRUE, so the
  //                 pinned bound is doubled to make a spurious flip
  //                 after a testdata regeneration vanishingly unlikely
  //                 (ADVICE r6 #4) while still catching a broken sketch
  //                 (a real defect overcounts by orders of magnitude).
  //                 RE-PIN PROCEDURE if a regeneration ever flips it
  //                 anyway: confirm ge_exact still holds and the
  //                 observed overcount is plausible for d×w (print
  //                 est−cnt vs (e/w)·N), then widen the multiplier here
  //                 AND in nothing else — the oracle side is literal
  //                 TRUE and needs no change;
  //   merge_exact — the element-wise SUM of per-source states equals the
  //                 global state, so estimates agree exactly — the
  //                 incremental-refresh law, in the ORACLE rather than
  //                 only a unit test.
  // Estimates are read out of the broadcast state COLUMN with
  // element_at + least over the same Kirsch–Mitzenmacher indices the
  // aggregator wrote — whole-stage-codegen column arithmetic, no UDF, no
  // driver-side lookup table.
  private val q90 = GraftQuery(
    "q90_cms_heavy_hitters",
    (s, dir) => {
      val d = 7; val w = 2048
      import graft.functions.TextFunctions.tokens
      val cms = Cms(d, w).state
      val toks = Tables.documents(s, dir)
        .select(col("source"), explode(tokens(col("text"))).as("w"))
        .withColumn("h", xxhash64(col("w")))
      val globalSt = toks.agg(cms(col("h")).as("gst"))
      // per-source sketches folded with zip_with(+) — the persisted-shard
      // merge path, expressed as a column fold over collect_list
      val mergedSt = toks.groupBy(col("source")).agg(cms(col("h")).as("st"))
        .agg(collect_list(col("st")).as("sts"))
        .select(aggregate(col("sts"),
          array_repeat(lit(0L), d * w),
          (acc, st) => zip_with(acc, st, _ + _)).as("mst"))
      val total = toks.agg(count(lit(1)).as("n"))
      val top = toks.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("w")).limit(40)
      def est(st: org.apache.spark.sql.Column) = least(
        (0 until d).map { i =>
          val h1 = shiftrightunsigned(col("h"), 32)
          val h2 = col("h").bitwiseAND(lit(0xFFFFFFFFL))
          element_at(st, (pmod(h1 + lit(i.toLong) * h2, lit(w.toLong)) +
            lit(i.toLong * w) + lit(1L)).cast("int"))
        }: _*)
      top.withColumn("h", xxhash64(col("w")))
        .crossJoin(broadcast(globalSt))
        .crossJoin(broadcast(mergedSt))
        .crossJoin(broadcast(total))
        .select(col("w"), col("cnt"),
          (est(col("gst")) >= col("cnt")).as("ge_exact"),
          (est(col("gst")) <= col("cnt") +
            ceil(lit(2.0 * math.E / w) * col("n")).cast("bigint")).as("within_eps"),
          (est(col("mst")) === est(col("gst"))).as("merge_exact"))
        .orderBy(col("cnt").desc, col("w"))
    },
    Some(s"""
      WITH toks AS (SELECT unnest(${OracleSql.tokens("text")}) AS w
                    FROM documents)
      SELECT w, COUNT(*) AS cnt,
             TRUE AS ge_exact, TRUE AS within_eps, TRUE AS merge_exact
      FROM toks
      GROUP BY w
      ORDER BY cnt DESC, w
      LIMIT 40"""))

  // ---------------------------------------------------------------- q92
  // Mergeable GK quantile summaries (the quantile leg of the sketch
  // triad), error-law-oracled like q43/q67: per group, the GK p50/p95
  // value must lie between the exact (q−2ε) and (q+2ε) percentiles
  // (ε = 0.01; the extra ε absorbs interpolation at the rank boundary).
  // The estimates are deterministic for fixed data, so a drifting
  // summary flips a boolean and fails the hash.
  private val q92 = GraftQuery(
    "q92_gk_quantiles",
    (s, dir) => {
      val gk50 = Gk().column(Gk.quantile(0.50))
      val gk95 = Gk().column(Gk.quantile(0.95))
      val p = col("l_extendedprice").cast("double")
      Tables.lineitemWide(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          gk50(p).as("g50"), gk95(p).as("g95"),
          // ONE exact-percentile collection for all four bounds — four
          // separate percentile() calls each collected the group's full
          // value set again (r7 plan audit under the honest bench action)
          expr("percentile(CAST(l_extendedprice AS DOUBLE), array(0.48D, 0.52D, 0.93D, 0.97D))")
            .as("pe"))
        .select(col("l_returnflag"), col("n"),
          col("g50").between(element_at(col("pe"), 1), element_at(col("pe"), 2))
            .as("p50_within_eps"),
          col("g95").between(element_at(col("pe"), 3), element_at(col("pe"), 4))
            .as("p95_within_eps"))
        .orderBy(col("l_returnflag"))
    },
    Some("""
      SELECT l_returnflag, COUNT(*) AS n,
             TRUE AS p50_within_eps,
             TRUE AS p95_within_eps
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""))

  // ---------------------------------------------------------------- q94
  // The STORED-shard GK path as a declared query (round 7): per-
  // (group, shard) summaries exported as serialized bytes — exactly what
  // a per-day parquet shard table carries — then folded per group by the
  // merge aggregator WITHOUT re-touching rows. The law is q92's, but it
  // now pins the serialize → bytes → merge path end to end: the merged
  // estimate must land between the exact (q∓2ε) percentiles, with a
  // second ε for the summed-ε merge guarantee (16 shards × GK merge).
  // Shards are md5-deterministic, so the estimate — and the hash — are
  // stable under any partitioning.
  //
  // PIN NOTE (q90-style): the oracle's `n_shards` is the literal 16,
  // which assumes every (group, shard) cell is populated — safe while
  // each l_returnflag group has ≳100 rows (P(empty shard) ≈
  // groups·16·(15/16)^rows ≈ 0 at both SFs, ~2k+ rows/group). If a
  // future testdata regeneration shrinks lineitem enough to flip it,
  // re-pin by replacing the literal with the replayed
  // COUNT(DISTINCT shard) over the same md5 arithmetic.
  private val q94 = GraftQuery(
    "q94_gk_stored_shards",
    (s, dir) => {
      val gk = Gk(0.01)
      val gkState = gk.state
      val gk50m = gk.fold(Gk.quantile(0.50))
      val gk95m = gk.fold(Gk.quantile(0.95))
      val p = col("l_extendedprice").cast("double")
      val li = Tables.lineitemWide(s, dir)
      // 16 deterministic shards per group — the per-day/per-partition
      // summary table a real deployment persists
      val shards = li
        .withColumn("shard",
          pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(16)))
        .groupBy(col("l_returnflag"), col("shard"))
        .agg(gkState(p).as("st"), count(lit(1)).as("n"))
      val merged = shards.groupBy(col("l_returnflag"))
        .agg(gk50m(col("st")).as("g50"), gk95m(col("st")).as("g95"),
          sum(col("n")).as("n"), count(lit(1)).as("n_shards"))
      val bounds = li.groupBy(col("l_returnflag"))
        .agg(expr(
          "percentile(CAST(l_extendedprice AS DOUBLE), array(0.47D, 0.53D, 0.92D, 0.98D))")
          .as("pe"))
      merged.join(bounds, Seq("l_returnflag"))
        .select(col("l_returnflag"), col("n"), col("n_shards"),
          col("g50").between(element_at(col("pe"), 1), element_at(col("pe"), 2))
            .as("p50_within_eps"),
          col("g95").between(element_at(col("pe"), 3), element_at(col("pe"), 4))
            .as("p95_within_eps"))
        .orderBy(col("l_returnflag"))
    },
    Some("""
      SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(16 AS BIGINT) AS n_shards,
             TRUE AS p50_within_eps,
             TRUE AS p95_within_eps
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""))

  // ---------------------------------------------------------------- q123
  // Trailing-window distinct users from STORED daily HLL states — the
  // time-series form of the stored-shard fold: one state per day
  // persists at ingest, and "distinct users over the last 7 days, per
  // day" folds 7 KB-sized register sets per output row instead of
  // re-scanning a week of events. Window fold is distributed (each day's
  // state explodes to the ≤7 windows it covers, then a register-max
  // fold per window, finished by the HLL estimate — the distinct leg the
  // GK/CMS stored folds already had). Oracle = the
  // q43 error-law scheme: exact trailing distincts value-matched, the
  // fold's estimate pinned within 5%.
  def dailyUserStates(events: org.apache.spark.sql.DataFrame, p: Int = 14) = {
    val st = Hll(p).state
    events
      .select(expr("CAST((unix_timestamp(ts) - pmod(unix_timestamp(ts), 86400)) / 86400 AS BIGINT)")
        .as("day"), xxhash64(col("user_id")).as("h"))
      .groupBy(col("day")).agg(st(col("h")).as("state"))
  }

  /** (day, est) trailing `windowDays`-day distinct estimate per present
    * day, folded from stored daily states. */
  def trailingDistinct(states: org.apache.spark.sql.DataFrame,
      windowDays: Int, p: Int = 14): org.apache.spark.sql.DataFrame = {
    val mg = Hll(p).fold(Hll.estimate)
    val days = states.select(col("day").as("win_day"))
    states
      .select(col("day"), col("state"),
        explode(sequence(col("day"), col("day") + lit(windowDays - 1))).as("win_day"))
      .join(days.distinct(), "win_day") // only windows anchored on present days
      .groupBy(col("win_day")).agg(mg(col("state")).as("est"))
  }

  // ---------------------------------------------------------------- q125
  // Misra–Gries heavy hitters WITHOUT a candidate set — the discovery
  // step q90 presumes: CMS estimates any item's count but something must
  // first say WHICH items matter, and at 100 TB the exact top-k that
  // supplied q90's candidates is itself a full token-keyed shuffle. One
  // MG pass finds every token with frequency > n/(k+1) using k counters
  // per partition and one KB-sized mergeable state total.
  //
  // Oracle scheme: the summary CONTENT is merge-order-dependent (Spark's
  // partial-merge order is nondeterministic), but MG's guarantees are
  // WORST-CASE laws that hold under every order — so the query outputs
  // only exact-replayable values (token, exact count, stream length) and
  // law booleans, never raw summary state:
  //   le_exact     — a summary count never exceeds the true count;
  //   within_err   — true <= summary count (0 if absent) + E;
  //   found        — every token with true count > E is in the summary
  //                  (E <= n/(k+1), so all heavy hitters are found);
  //   err_bound    — E·(k+1) <= n (structural);
  //   n_exact      — the summary's folded stream length equals COUNT(*)
  //                  (integer sum — deterministic and exact);
  //   fold_*       — the same found/within laws against a summary FOLDED
  //                  from stored per-source states (the incremental path),
  //                  whose error law survives folding by the mergeable-
  //                  summaries theorem.
  private val q125 = GraftQuery(
    "q125_mg_heavy_hitters",
    (s, dir) => {
      val k = 255
      import graft.functions.TextFunctions.tokens
      val mg = MisraGries(k).state
      val mgFold = MisraGries(k).foldState
      // bigrams, not unigrams: the synthetic vocabulary is ~31 words —
      // smaller than any useful k, which would never exercise eviction
      // in the declared plan; the ~950-bigram space does, while the top
      // bigrams stay far above the n/(k+1) error so the found-law is
      // non-vacuous
      val toks = Tables.documents(s, dir)
        .select(col("source"),
          explode(graft.functions.WordNGrams(tokens(col("text")), 2)).as("w"))
        .withColumn("h", xxhash64(col("w")))
      val globalSt = toks.agg(mg(col("h")).as("st"))
      // per-source states persisted then folded — the stored-shard path,
      // expressed in-plan exactly like q90's merged CMS
      val foldedSt = toks.groupBy(col("source")).agg(mg(col("h")).as("pst"))
        .agg(mgFold(col("pst")).as("fst"))
      val total = toks.agg(count(lit(1)).as("n"))
      val top = toks.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("w")).limit(40)
      // summary lookup as a bounded column fold over the state array
      // (1-based element_at: [1]=n, [2]=err, [3]=size, item i at 2+2i/3+2i)
      def mgCount(st: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        aggregate(sequence(lit(1), element_at(st, 3).cast("int")),
          lit(-1L),
          (acc, i) => when(element_at(st, (lit(2) + i * lit(2)).cast("int")) === col("h"),
            element_at(st, (lit(3) + i * lit(2)).cast("int"))).otherwise(acc))
      top.withColumn("h", xxhash64(col("w")))
        .crossJoin(broadcast(globalSt))
        .crossJoin(broadcast(foldedSt))
        .crossJoin(broadcast(total))
        .withColumn("c_g", mgCount(col("st")))
        .withColumn("c_f", mgCount(col("fst")))
        .select(col("w"), col("cnt"), col("n"),
          (col("c_g") < lit(0L) || col("c_g") <= col("cnt")).as("le_exact"),
          (col("cnt") <= greatest(col("c_g"), lit(0L)) + element_at(col("st"), 2))
            .as("within_err"),
          (col("c_g") > lit(0L) || col("cnt") <= element_at(col("st"), 2)).as("found"),
          (element_at(col("st"), 2) * lit(k + 1L) <= element_at(col("st"), 1)).as("err_bound"),
          (element_at(col("st"), 1) === col("n")).as("n_exact"),
          (col("cnt") <= greatest(col("c_f"), lit(0L)) + element_at(col("fst"), 2))
            .as("fold_within_err"),
          (col("c_f") > lit(0L) || col("cnt") <= element_at(col("fst"), 2)).as("fold_found"))
        .orderBy(col("cnt").desc, col("w"))
    },
    Some(s"""
      WITH t AS (SELECT ${OracleSql.tokens("text")} AS t
                 FROM documents),
      toks AS (SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS w
               FROM t WHERE len(t) >= 2),
      n AS (SELECT COUNT(*) AS n FROM toks)
      SELECT w, COUNT(*) AS cnt, (SELECT n FROM n) AS n,
             TRUE AS le_exact, TRUE AS within_err, TRUE AS found,
             TRUE AS err_bound, TRUE AS n_exact,
             TRUE AS fold_within_err, TRUE AS fold_found
      FROM toks
      GROUP BY w
      ORDER BY cnt DESC, w
      LIMIT 40"""))

  private val q123 = GraftQuery(
    "q123_trailing_distinct",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      val est = trailingDistinct(dailyUserStates(ev), windowDays = 7)
      // exact side: each day joins the events of its trailing week
      val days = est.select(col("win_day"))
      val exact = ev.select(
          expr("CAST((unix_timestamp(ts) - pmod(unix_timestamp(ts), 86400)) / 86400 AS BIGINT)")
            .as("day"), col("user_id"))
        .join(broadcast(days),
          col("day") <= col("win_day") && col("day") >= col("win_day") - 6)
        .groupBy(col("win_day")).agg(countDistinct(col("user_id")).as("n_exact"))
      exact.join(est, "win_day")
        .select(col("win_day"), col("n_exact"),
          (abs(col("est") - col("n_exact")) <= col("n_exact") * lit(0.05))
            .as("within_5pct"))
        .orderBy(col("win_day"))
    },
    Some("""
      WITH sec AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS e FROM events),
      ev AS (SELECT user_id, (e - ((e % 86400) + 86400) % 86400) // 86400 AS day FROM sec),
      days AS (SELECT DISTINCT day AS win_day FROM ev)
      SELECT win_day,
             (SELECT COUNT(DISTINCT user_id) FROM ev
              WHERE ev.day <= days.win_day AND ev.day >= days.win_day - 6) AS n_exact,
             TRUE AS within_5pct
      FROM days
      ORDER BY win_day"""))

  val all: Seq[GraftQuery] = Seq(q43, q44, q67, q90, q92, q94, q123, q125)
}
