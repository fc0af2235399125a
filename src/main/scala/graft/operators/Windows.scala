package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftQuery
import graft.sources.Tables

/** Event-time window aggregations over `events` in BATCH form — tumbling,
  * sliding, and session windows via the same `window()`/`session_window()`
  * functions Structured Streaming uses, so the streaming layer's tumbling
  * form (graft.streaming.Streams) is batch-parity-tested against these
  * oracle-checked results (SURVEY §7.2 step 6).
  *
  * Window starts are emitted as epoch-second BIGINTs (boundaries are whole
  * seconds; avoids timestamp-precision mismatches with the oracle).
  * Value sums go through DECIMAL(18,2) as everywhere else.
  */
object Windows {

  // ---------------------------------------------------------------- q48
  // Tumbling 1-hour windows per event_type.
  private val q48 = GraftQuery(
    "q48_window_tumbling",
    (s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        .select(unix_timestamp(col("w.start")).as("win_start"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy(col("win_start"), col("event_type")),
    Some("""
      SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS win_start,
             event_type, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events
      GROUP BY 1, 2
      ORDER BY win_start, event_type"""))

  // ---------------------------------------------------------------- q49
  // Sliding windows: 10 minutes long, sliding every 5 — each event lands
  // in 2 windows (Spark's window() duplicates rows; the oracle unnests the
  // two candidate starts explicitly).
  private val q49 = GraftQuery(
    "q49_window_sliding",
    (s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"))
        .agg(count(lit(1)).as("n"))
        .select(unix_timestamp(col("w.start")).as("win_start"), col("n"))
        .orderBy(col("win_start")),
    Some("""
      SELECT s AS win_start, COUNT(*) AS n
      FROM (SELECT CAST(floor(epoch(ts) / 300) * 300 - 300 * k AS BIGINT) AS s,
                   epoch(ts) AS t
            FROM events CROSS JOIN range(0, 2) r(k)) w
      WHERE t < s + 600 AND t >= s
      GROUP BY s
      ORDER BY s"""))

  // ---------------------------------------------------------------- q50
  // Session windows per user with a 30-minute inactivity gap
  // (session_window(); oracle = classic gaps-and-islands).
  private val q50 = GraftQuery(
    "q50_window_session",
    (s, dir) =>
      Tables.events(s, dir)
        .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        .select(col("user_id"),
          unix_timestamp(col("w.start")).as("session_start"),
          col("n_events"), col("sum_value"))
        .orderBy(col("user_id"), col("session_start")),
    Some("""
      WITH marked AS (
        SELECT user_id, ts, value,
               CASE WHEN epoch(ts) - epoch(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts))
                         >= 1800 OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events),
      sessions AS (
        SELECT user_id, ts, value,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM marked)
      SELECT user_id,
             CAST(floor(epoch(MIN(ts))) AS BIGINT) AS session_start,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM sessions
      GROUP BY user_id, session_id
      ORDER BY user_id, session_start"""))

  // ---------------------------------------------------------------- q52
  // RANGE window frame (value-range, not row-count): per user, activity
  // in the trailing 10 minutes of event time. Frame membership depends
  // only on the ordering value, so ties cannot perturb the result.
  private val q52 = GraftQuery(
    "q52_window_range_frame",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("epoch_s"))
        .rangeBetween(-600L, 0L)
      Tables.events(s, dir)
        .withColumn("epoch_s", unix_timestamp(col("ts")))
        .withColumn("n_10m", count(lit(1)).over(w))
        .withColumn("sum_10m",
          sum(col("value").cast("decimal(18,2)")).over(w).cast("double"))
        .select(col("user_id"), col("event_id"), col("n_10m"), col("sum_10m"))
        .orderBy(col("user_id"), col("event_id"))
    },
    Some("""
      SELECT user_id, event_id,
             COUNT(*) OVER w AS n_10m,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_10m
      FROM (SELECT user_id, event_id, value,
                   CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s
            FROM events) e
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_s
                   RANGE BETWEEN 600 PRECEDING AND CURRENT ROW)
      ORDER BY user_id, event_id"""))

  // ---------------------------------------------------------------- q54
  // Batch form of the stream-stream interval join (Streams.
  // clickPurchaseJoin runs the same plan under watermarks): conversion
  // attribution — purchases within 20 minutes after a same-user click.
  private val q54 = GraftQuery(
    "q54_interval_join",
    (s, dir) =>
      graft.streaming.Streams.clickPurchaseJoin(Tables.events(s, dir))
        .orderBy(col("click_id"), col("purchase_id")),
    Some("""
      SELECT c.event_id AS click_id, p.event_id AS purchase_id,
             c.user_id, p.value AS purchase_value
      FROM (SELECT * FROM events WHERE event_type = 'click') c
      JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        ON c.user_id = p.user_id
       AND p.ts >= c.ts
       AND p.ts <= c.ts + INTERVAL 20 MINUTE
      ORDER BY click_id, purchase_id"""))

  // ---------------------------------------------------------------- q68
  // The ranking-function family beyond row_number (q09): percent_rank,
  // cume_dist, ntile, first/nth_value — per-group distribution positions
  // over a total order (unique tie-break on o_orderkey, so every function
  // is deterministic). percent_rank/cume_dist are exact small-integer
  // ratios — identical doubles in both engines.
  private val q68 = GraftQuery(
    "q68_window_rank_family",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      // value functions need the FULL-partition frame: the default running
      // frame would leave nth_value(2) NULL on each partition's first row
      // (rank functions must keep the default ordering frame)
      val wf = w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
      Tables.orders(s, dir)
        .withColumn("pr", percent_rank().over(w))
        .withColumn("cd", cume_dist().over(w))
        .withColumn("quartile", ntile(4).over(w))
        .withColumn("cheapest", first_value(col("o_orderkey")).over(wf))
        .withColumn("second_cheapest", nth_value(col("o_orderkey"), 2).over(wf))
        .select(col("o_orderpriority"), col("o_orderkey"), col("pr"),
          col("cd"), col("quartile"), col("cheapest"), col("second_cheapest"))
        .orderBy(col("o_orderpriority"), col("o_orderkey"))
    },
    Some("""
      SELECT o_orderpriority, o_orderkey,
             percent_rank() OVER w AS pr,
             cume_dist() OVER w AS cd,
             CAST(ntile(4) OVER w AS INT) AS quartile,
             first_value(o_orderkey) OVER wf AS cheapest,
             nth_value(o_orderkey, 2) OVER wf AS second_cheapest
      FROM orders
      WINDOW w AS (PARTITION BY o_orderpriority
                   ORDER BY o_totalprice, o_orderkey),
             wf AS (PARTITION BY o_orderpriority
                    ORDER BY o_totalprice, o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      ORDER BY o_orderpriority, o_orderkey"""))

  // ---------------------------------------------------------------- q69
  // Exact percentiles by rank selection: the value at ceil(p·n) in the
  // group's total order under (value, l_orderkey, l_linenumber). Index
  // arithmetic is pure integers ((p·100·n + 99) DIV 100), so there is no
  // float-boundary risk, and — unlike interpolating percentile
  // functions — the answer is always an actual data value, computed
  // identically in any engine.
  //
  // The naive shape (the oracle's window form) hash-partitions by
  // l_returnflag and SORTS EVERY GROUP IN ONE TASK — with 3 groups at
  // 100 TB that is one task sorting ~33 TB, the worst skew in the repo.
  // So the implementation is two-pass HISTOGRAM RANK SELECTION instead:
  //   pass 1: per-(group, value-bucket) counts — a partial-aggregating
  //           hash-agg, ≤ groups×1024 result rows, collected (bounded by
  //           the group-count guard, same discipline as the hybrid-CC
  //           collect);
  //   driver: cumulative counts locate each target rank's bucket and its
  //           rank WITHIN that bucket;
  //   pass 2: sort ONLY the hit buckets (a filter that prunes everything
  //           else at the scan) and pick the local-rank row.
  // Nothing ever sorts more than one bucket (~n/1024 rows; degenerate
  // all-equal-values data collapses to one bucket = the naive cost, no
  // worse). Bucketing is floor((v-lo)/width): monotone in v under IEEE
  // (same lo, width > 0), so bucket order is value order and any
  // float rounding at a boundary only moves WHERE the split is, never
  // the selected row.
  //
  // EAGERNESS CAVEAT (ADVICE r5): unlike every other declared query,
  // CONSTRUCTING this DataFrame runs the two driver-side passes (stats +
  // histogram collects) — the final plan embeds their results as
  // literals, which is the whole point of rank selection. Plan/column
  // inspection of q69 therefore costs two cluster jobs; anything that
  // only needs the schema should describe it statically instead of
  // building the query.
  private val q69 = GraftQuery(
    "q69_exact_percentile_rank",
    (s, dir) => {
      val targets = Seq("p50" -> 50, "p95" -> 95)
      val nBuckets = 1024
      val li = Tables.lineitem(s, dir).select(col("l_returnflag"),
        col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
      val stats = li.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), min(col("l_extendedprice")).as("lo"),
          max(col("l_extendedprice")).as("hi"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      require(stats.length <= 64,
        s"histogram rank selection presumes few large groups (got ${stats.length}); " +
          "use the window form when groups are many (they parallelize by group)")
      val width = stats.map { case (f, _, lo, hi) =>
        f -> (if (hi > lo) (hi - lo) / nBuckets else 1.0)
      }.toMap
      def bucketCol = least(lit(nBuckets - 1), floor(
        (col("l_extendedprice") - coalesce(stats.toIndexedSeq.map { case (f, _, lo, _) =>
          when(col("l_returnflag") === f, lit(lo))
        }: _*)) / coalesce(stats.toIndexedSeq.map { case (f, _, _, _) =>
          when(col("l_returnflag") === f, lit(width(f)))
        }: _*)).cast("long"))
      val hist = li.select(col("l_returnflag"), bucketCol.as("b"))
        .groupBy(col("l_returnflag"), col("b")).agg(count(lit(1)).as("c"))
        .collect().map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).toMap
      // driver: locate (bucket, local rank) for every (group, percentile)
      val hits: Seq[(String, Long, String, Long)] = for {
        (f, n, _, _) <- stats.toSeq
        (label, p) <- targets
      } yield {
        val rank = (p * n + 99) / 100
        var cum = 0L; var b = 0L
        while (b < nBuckets && cum + hist.getOrElse((f, b), 0L) < rank) {
          cum += hist.getOrElse((f, b), 0L); b += 1
        }
        (f, b, label, rank - cum)
      }
      import s.implicits._
      val hitDf = hits.toDF("l_returnflag", "b", "pct", "local_rank")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_returnflag"), col("b"))
        .orderBy(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
      val hitBuckets = hits.map { case (f, b, _, _) => (f, b) }.distinct
      li.select(col("l_returnflag"), col("l_extendedprice"),
          col("l_orderkey"), col("l_linenumber"), bucketCol.as("b"))
        .filter(hitBuckets.map { case (f, b) =>
          col("l_returnflag") === f && col("b") === b
        }.reduce(_ || _))
        .withColumn("rn", row_number().over(w))
        .join(broadcast(hitDf),
          Seq("l_returnflag", "b"), "inner")
        .filter(col("rn") === col("local_rank"))
        .select(col("l_returnflag"), col("pct"), col("l_extendedprice").as("value"))
        .orderBy(col("l_returnflag"), col("pct"))
    },
    Some("""
      WITH ranked AS (
        SELECT l_returnflag, l_extendedprice,
               ROW_NUMBER() OVER (PARTITION BY l_returnflag
                 ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
               COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        FROM lineitem)
      SELECT l_returnflag,
             unnest(list_filter([CASE WHEN rn = (50 * n + 99) // 100 THEN 'p50' END,
                                 CASE WHEN rn = (95 * n + 99) // 100 THEN 'p95' END],
                                x -> x IS NOT NULL)) AS pct,
             l_extendedprice AS value
      FROM ranked
      ORDER BY l_returnflag, pct"""))

  // ---------------------------------------------------------------- q73
  // Cohort retention: users grouped by first-seen week, counted in each
  // subsequent week — the temporal self-alignment pattern (engagement /
  // data-freshness dashboards). Weeks are epoch-integer buckets
  // (floordiv(epoch, 604800)), so bucketing is engine-agnostic — no
  // calendar week-start semantics to disagree on. Shape: one distinct (user,
  // week) pass, a tiny per-user min, a broadcastable self-join, one
  // final hash-agg — no window over the whole history.
  private val q73 = GraftQuery(
    "q73_cohort_retention",
    (s, dir) => {
      // FLOOR division, not DIV: truncate-toward-zero would make the
      // pre-1970 (negative-epoch) weeks one bucket wide-of-true and put
      // epoch 0 in a 2-weeks-minus-1s bucket. Both engines' integer
      // division truncates (Spark DIV and DuckDB's BIGINT `//` alike), so
      // BOTH sides spell out floor via the positive-mod identity
      // floordiv(x, m) = (x - pmod(x, m)) / m, keeping the arithmetic
      // integer-exact. (Sub-second truncation still assumes whole-second
      // timestamps, which the events table guarantees.)
      val weeks = Tables.events(s, dir)
        .select(col("user_id"),
          expr("CAST((unix_timestamp(ts) - pmod(unix_timestamp(ts), 604800)) / 604800 AS BIGINT)")
            .as("wk"))
        .distinct()
      val first = weeks.groupBy(col("user_id")).agg(min(col("wk")).as("cohort"))
      weeks.join(first, "user_id")
        .withColumn("wk_offset", (col("wk") - col("cohort")).cast("int"))
        .filter(col("wk_offset") <= 3)
        .groupBy(col("cohort"), col("wk_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("cohort"), col("wk_offset"))
    },
    Some("""
      WITH sec AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS e FROM events),
      weeks AS (SELECT DISTINCT user_id,
                       (e - ((e % 604800) + 604800) % 604800) // 604800 AS wk
                FROM sec),
      first AS (SELECT user_id, MIN(wk) AS cohort FROM weeks GROUP BY user_id)
      SELECT cohort, CAST(wk - cohort AS INT) AS wk_offset,
             COUNT(DISTINCT weeks.user_id) AS n_users
      FROM weeks JOIN first ON weeks.user_id = first.user_id
      WHERE wk - cohort <= 3
      GROUP BY cohort, wk - cohort
      ORDER BY cohort, wk_offset"""))

  // ---------------------------------------------------------------- q122
  // Ordered funnel (view → click → purchase within 24h of the first
  // view): the classic product-analytics sequence query, shaped for
  // scale as STAGED MIN-TIMESTAMP aggregations — per step one hash-agg
  // of "earliest qualifying event per user" joined forward into the
  // next step's filter — instead of per-user event-sequence windows (no
  // per-user sort, no whole-history window; each stage's state is one
  // timestamp per surviving user). Epoch-integer comparisons only, so
  // both engines agree bit-for-bit; rates are exact-count divisions.
  def funnel(events: DataFrame, steps: Seq[String],
      windowSec: Long): DataFrame = {
    require(steps.size >= 2, "a funnel needs at least 2 steps")
    val ev = events.select(col("user_id"), col("event_type"),
      expr("CAST(unix_timestamp(ts) AS BIGINT)").as("e"))
    // each stage persists and counts (the count doubles as the funnel
    // metric AND the materialization barrier), then the predecessor
    // drops — the q114 lesson: without the cut, stage s's action
    // re-executes stages 1..s−1 and the lineage grows with S
    var reached = ev.filter(col("event_type") === steps.head)
      .groupBy(col("user_id")).agg(min(col("e")).as("t0"))
      .withColumn("t", col("t0"))
      .persist()
    var counts = Seq(steps.head -> reached.count())
    for (step <- steps.tail) {
      val next = ev.filter(col("event_type") === step)
        .join(reached, "user_id")
        .filter(col("e") > col("t") && col("e") <= col("t0") + lit(windowSec))
        .groupBy(col("user_id"), col("t0")).agg(min(col("e")).as("t"))
        .persist()
      counts :+= (step -> next.count())
      reached.unpersist()
      reached = next
    }
    reached.unpersist()
    val n1 = counts.head._2
    import events.sparkSession.implicits._
    counts.zipWithIndex.map { case ((name, n), i) =>
      (i + 1, name, n, n.toDouble / n1)
    }.toDF("step", "event_type", "n_users", "conv_from_first")
      .orderBy(col("step"))
  }

  private val q122 = GraftQuery(
    "q122_funnel",
    (s, dir) => funnel(Tables.events(s, dir),
      Seq("view", "click", "purchase"), windowSec = 86400L),
    Some("""
      WITH ev AS (SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS e
                  FROM events),
      s1 AS (SELECT user_id, MIN(e) AS t0, MIN(e) AS t FROM ev
             WHERE event_type = 'view' GROUP BY user_id),
      s2 AS (SELECT ev.user_id, s1.t0, MIN(ev.e) AS t
             FROM ev JOIN s1 ON ev.user_id = s1.user_id
             WHERE ev.event_type = 'click' AND ev.e > s1.t AND ev.e <= s1.t0 + 86400
             GROUP BY ev.user_id, s1.t0),
      s3 AS (SELECT ev.user_id, s2.t0, MIN(ev.e) AS t
             FROM ev JOIN s2 ON ev.user_id = s2.user_id
             WHERE ev.event_type = 'purchase' AND ev.e > s2.t AND ev.e <= s2.t0 + 86400
             GROUP BY ev.user_id, s2.t0),
      c AS (SELECT (SELECT COUNT(*) FROM s1) AS n1,
                   (SELECT COUNT(*) FROM s2) AS n2,
                   (SELECT COUNT(*) FROM s3) AS n3)
      SELECT 1 AS step, 'view' AS event_type, n1 AS n_users,
             CAST(n1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS conv_from_first FROM c
      UNION ALL
      SELECT 2, 'click', n2, CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE) FROM c
      UNION ALL
      SELECT 3, 'purchase', n3, CAST(n3 AS DOUBLE) / CAST(n1 AS DOUBLE) FROM c
      ORDER BY step"""))

  // --------------------------------------------------------------- q135
  // Ingest anomaly detection: per (event_type, day) counts with a
  // trailing-week baseline and an integer-exact spike verdict — the
  // monitoring gate an ingestion pipeline runs daily ("did crawl volume
  // for this source jump > 2× its trailing week?") before anomalous
  // data reaches training. The daily-count aggregation reduces the
  // corpus FIRST (one partial-agged hash-agg); the trailing window then
  // runs over days×types rows — thousands, not billions — with a RANGE
  // frame on the integer day so calendar gaps (zero-event days) widen
  // the denominator window correctly rather than silently sliding over
  // them (a ROWS frame would).
  //
  // Verdict arithmetic is pure integers (n·7 > 2·prev7_sum), replayable
  // with no float boundary; days with an incomplete trailing week
  // (fewer than 7 PRESENT days in range — corpus edges) report
  // spike = false rather than comparing against a short baseline.
  /** The verdict stage over an already-aggregated (event_type, day, n)
    * daily table — shared by the batch form below and the streaming
    * ingest (whose daily counts come from a streaming aggregation and
    * persist; StreamingSpec pins streamed == batch counts and
    * therefore verdicts). */
  def anomalyFromDaily(daily: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("day"))
      .rangeBetween(-7, -1)
    daily
      .withColumn("prev7", coalesce(sum(col("n")).over(w), lit(0L)))
      .withColumn("n_prev_days", count(lit(1)).over(w))
      .withColumn("spike",
        col("n_prev_days") === 7 && col("n") * lit(7L) > col("prev7") * lit(2L))
  }

  def ingestAnomaly(events: DataFrame): DataFrame =
    anomalyFromDaily(events
      .select(col("event_type"),
        expr("CAST((unix_timestamp(ts) - pmod(unix_timestamp(ts), 86400)) / 86400 AS BIGINT)")
          .as("day"))
      .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("n")))

  private val q135 = GraftQuery(
    "q135_ingest_anomaly",
    (s, dir) => ingestAnomaly(Tables.events(s, dir))
      .orderBy(col("event_type"), col("day")),
    Some("""
      WITH sec AS (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS e FROM events),
      daily AS (SELECT event_type,
                       (e - ((e % 86400) + 86400) % 86400) // 86400 AS day,
                       COUNT(*) AS n
                FROM sec GROUP BY 1, 2)
      SELECT event_type, day, n,
             CAST(COALESCE(SUM(n) OVER w, 0) AS BIGINT) AS prev7,
             COUNT(*) OVER w AS n_prev_days,
             (COUNT(*) OVER w = 7 AND n * 7 > COALESCE(SUM(n) OVER w, 0) * 2) AS spike
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING)
      ORDER BY event_type, day"""))

  // ------------------------------------------------- q153 winsorization
  // Exact outlier clipping for a numeric column: the p_lo / p_hi cut
  // VALUES located by q69's histogram rank selection (one stats agg +
  // one 1024-bucket histogram agg + one hit-bucket-pruned sort — never
  // a global sort), then one accounting scan with the cuts as plan
  // literals. Exact ranks, exact counts — the robust-scaling /
  // outlier-trim step a feature pipeline runs before normalization,
  // with the same q69 eagerness caveat (constructing the frame runs
  // the bounded driver passes). [[winsorizeClip]] is the stateless
  // apply form.
  def winsorizeStats(df: DataFrame, valueCol: String,
      orderCols: Seq[String], pLo: Int, pHi: Int): DataFrame = {
    require(pLo >= 1 && pHi <= 100 && pLo < pHi,
      s"need 1 <= pLo < pHi <= 100, got ($pLo, $pHi)")
    val nBuckets = 1024
    val v = col(valueCol)
    val srt = (v +: orderCols.map(col)).toIndexedSeq
    val st = df.agg(count(lit(1)).as("n"), min(v).as("lo"), max(v).as("hi"))
      .head()
    val (n, lo, hi) = (st.getLong(0), st.getDouble(1), st.getDouble(2))
    require(n > 0, "winsorizeStats needs a non-empty input")
    val width = if (hi > lo) (hi - lo) / nBuckets else 1.0
    val bucketCol = least(lit(nBuckets - 1),
      floor((v - lit(lo)) / lit(width)).cast("long"))
    val histo = df.select(bucketCol.as("b")).groupBy(col("b"))
      .agg(count(lit(1)).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def locate(rank: Long): (Long, Long) = {
      var cum = 0L; var b = 0L
      while (b < nBuckets && cum + histo.getOrElse(b, 0L) < rank) {
        cum += histo.getOrElse(b, 0L); b += 1
      }
      (b, rank - cum)
    }
    val rLo = (pLo.toLong * n + 99) / 100
    val rHi = (pHi.toLong * n + 99) / 100
    val (bLo, lrLo) = locate(rLo)
    val (bHi, lrHi) = locate(rHi)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__b")).orderBy(srt: _*)
    // Keyed by (bucket, localRank), not bucket alone: when both cuts land
    // in the SAME histogram bucket (bLo == bHi with different local ranks
    // — routine for outlier-skewed data, where one extreme max pushes
    // almost all mass into bucket 0) a bucket-only map collapses the two
    // rows on the duplicate key and the surviving cut depends on collect
    // order (code-review r11).
    val cuts = df.withColumn("__b", bucketCol)
      .filter(col("__b") === bLo || col("__b") === bHi)
      .withColumn("__rn", row_number().over(w))
      .filter((col("__b") === bLo && col("__rn") === lrLo) ||
        (col("__b") === bHi && col("__rn") === lrHi))
      .select(col("__b"), col("__rn"), v.as("cut"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong) -> r.getDouble(2)).toMap
    val (loCut, hiCut) = (cuts((bLo, lrLo)), cuts((bHi, lrHi)))
    df.agg(
      lit(loCut).as("lo_cut"), lit(hiCut).as("hi_cut"),
      sum(when(v < lit(loCut), 1L).otherwise(0L)).as("n_below"),
      sum(when(v > lit(hiCut), 1L).otherwise(0L)).as("n_above"),
      count(lit(1)).as("n"))
  }

  /** Stateless clamp to precomputed winsorization cuts — runs inside any
    * scan's codegen span, stream-safe. */
  def winsorizeClip(v: org.apache.spark.sql.Column, loCut: Double,
      hiCut: Double): org.apache.spark.sql.Column =
    greatest(least(v, lit(hiCut)), lit(loCut))

  private val q153 = GraftQuery(
    "q153_winsorize",
    (s, dir) => winsorizeStats(
      Tables.lineitem(s, dir)
        .select(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber")),
      "l_extendedprice", Seq("l_orderkey", "l_linenumber"), pLo = 1, pHi = 99),
    Some("""
      WITH ranked AS (
        SELECT l_extendedprice AS v,
               ROW_NUMBER() OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
               COUNT(*) OVER () AS n
        FROM lineitem),
      cuts AS (SELECT MIN(CASE WHEN rn = (1 * n + 99) // 100 THEN v END) AS lo_cut,
                      MIN(CASE WHEN rn = (99 * n + 99) // 100 THEN v END) AS hi_cut,
                      CAST(MAX(n) AS BIGINT) AS n
               FROM ranked)
      SELECT lo_cut, hi_cut,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
              WHERE l_extendedprice < (SELECT lo_cut FROM cuts)) AS n_below,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
              WHERE l_extendedprice > (SELECT hi_cut FROM cuts)) AS n_above,
             n
      FROM cuts"""))

  val all: Seq[GraftQuery] = Seq(q48, q49, q50, q52, q54, q68, q69, q73, q122,
    q135, q153)
}
