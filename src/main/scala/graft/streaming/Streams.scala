package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming layer (ABSENT in the reference — strictly batch,
  * SURVEY §2.10).
  *
  * [[tumblingCounts]] and [[sessionCounts]] group like the oracle-checked
  * batch q48 and q50 in [[graft.operators.Windows]]; StreamingSpec asserts
  * tumbling batch parity on the events table and the session gap rule.
  * The other transforms name their batch form in their own scaladoc.
  * Watermark/late-data semantics and custom state are asserted with
  * `MemoryStream` (see StreamingSpec). At scale these run unchanged on a
  * Kafka/file source: state lives in the state store, watermarks bound it.
  */
object Streams {

  final case class Event(
      event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class UserRunning(user_id: Long, n_events: Long, sum_value: Double)

  /** Tumbling 1-hour counts/sums per event_type, 30-min watermark: late
    * rows beyond the watermark are dropped, finalized windows emit once
    * (append mode).
    */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(unix_timestamp(col("w.start")).as("win_start"),
        col("event_type"), col("n"), col("sum_value"))

  /** Session windows (30-min gap) per user, watermarked. */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), unix_timestamp(col("w.start")).as("session_start"),
        col("n_events"))

  /** Custom stateful operator: running per-user totals via
    * flatMapGroupsWithState (the Spark form of the reference's per-key
    * reduce contract, generalized to unbounded streams with explicit
    * state; reducer.py:131-139 is the batch special case).
    */
  def runningUserTotals(events: Dataset[Event]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserRunning, UserRunning](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, batch: Iterator[Event], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(userId, 0L, 0.0))
          var n = prev.n_events
          var s = prev.sum_value
          batch.foreach { e => n += 1; s += e.value }
          val next = UserRunning(userId, n, s)
          state.update(next)
          Iterator(next)
      }
  }

  final case class FunnelEvent(user_id: Long, event_type: String,
      ts: java.sql.Timestamp)
  final case class FunnelProgress(user_id: Long, reached: Int, t0: Long)

  /** Streaming ordered funnel — the streaming form of the batch
    * `Windows.funnel` (q122): per user, how far through `steps` within
    * `windowSec` of the FIRST head-step event. Out-of-order-SAFE: state
    * buffers the user's step-typed events (nothing else) and every
    * trigger re-derives the earliest-chain from the buffered set, so the
    * final answer is independent of arrival order — the same chain the
    * batch operator computes. Update mode: each trigger emits the user's
    * current `reached` (consumers keep the max / latest). State is
    * bounded two ways: only step-typed events buffer (a funnel's steps,
    * not the whole stream), and an event-time timeout `windowSec` past
    * the newest buffered event drops the user once the watermark proves
    * the funnel window closed.
    */
  def funnelStream(events: DataFrame, steps: Seq[String], windowSec: Long,
      lateness: String = "30 minutes"): Dataset[FunnelProgress] = {
    import events.sparkSession.implicits._
    val stepSet = steps.toSet
    events.select(col("user_id"), col("event_type"), col("ts"))
      // `lateness` bounds how out-of-order arrival may be (events later
      // than the watermark drop BEFORE reaching the state function —
      // standard flatMapGroupsWithState late-data semantics); within the
      // bound, the buffered-chain replay makes arrival order irrelevant
      .withWatermark("ts", lateness)
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[(String, Long)], FunnelProgress](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, batch: Iterator[FunnelEvent],
         state: GroupState[List[(String, Long)]]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val fresh = batch
              .filter(e => stepSet.contains(e.event_type))
              .map(e => (e.event_type, e.ts.getTime / 1000)).toList
            val buf = (state.getOption.getOrElse(Nil) ++ fresh).distinct
            if (buf.isEmpty) Iterator.empty
            else {
              state.update(buf)
              // replay the batch operator's earliest-chain on the buffer
              val byStep = steps.map(s =>
                buf.collect { case (t, e) if t == s => e }.sorted)
              val t0 = byStep.head.headOption
              var reached = 0
              var t = t0
              if (t0.isDefined) {
                reached = 1
                var i = 1
                var going = true
                while (i < steps.size && going) {
                  byStep(i).find(e => e > t.get && e <= t0.get + windowSec) match {
                    case Some(e) => reached += 1; t = Some(e); i += 1
                    case None => going = false
                  }
                }
              }
              val horizon = (buf.map(_._2).max + windowSec) * 1000L
              state.setTimeoutTimestamp(
                math.max(horizon, state.getCurrentWatermarkMs + 1000L))
              if (t0.isDefined) Iterator.single(FunnelProgress(uid, reached, t0.get))
              else Iterator.empty
            }
          }
      }
  }

  /** Stream-stream interval join: each click joined to the same user's
    * purchases within the following 20 minutes (conversion attribution).
    * Both sides carry watermarks so the join state is bounded — Spark
    * evicts click state once no purchase can still arrive for it.
    */
  def clickPurchaseJoin(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "30 minutes")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"), col("value").as("purchase_value"))
      .withWatermark("p_ts", "30 minutes")
    clicks.join(purchases,
      expr("""c_user = p_user AND
              p_ts >= c_ts AND
              p_ts <= c_ts + interval 20 minutes"""))
      .select(col("click_id"), col("purchase_id"), col("c_user").as("user_id"),
        col("purchase_value"))
  }

  /** Left-outer variant: clicks with no purchase in their 20-minute
    * window are still emitted (null purchase columns) — but only once the
    * watermark proves no matching purchase can arrive, which is what
    * makes outer stream-stream joins sound.
    */
  def clickPurchaseJoinOuter(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "30 minutes")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"), col("value").as("purchase_value"))
      .withWatermark("p_ts", "30 minutes")
    clicks.join(purchases,
      expr("""c_user = p_user AND
              p_ts >= c_ts AND
              p_ts <= c_ts + interval 20 minutes"""),
      "left_outer")
      .select(col("click_id"), col("purchase_id"), col("c_user").as("user_id"),
        col("purchase_value"))
  }

  /** Streaming exact dedup: drops repeated event_ids, with the watermark
    * bounding how long each id is remembered in the state store — the
    * streaming form of the exact-dedup batch operator (Dedup q35) and the
    * standard ingestion-side dedup for at-least-once sources.
    */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming INCREMENTAL dedup against a static corpus: documents
    * arriving on a stream are admitted only if their content hash is
    * absent from the (static, broadcastable-or-bucketed) corpus hash
    * table AND unseen within the stream's own watermark — the streaming
    * form of the batch q81 admission gate, i.e. ingestion-side dedup for
    * a continuously-growing training set. Stream-static joins never
    * hold corpus state in the state store; only the within-stream
    * dedup's hash set is stateful, and the watermark bounds it.
    */
  def incrementalDedupStream(docs: DataFrame, corpusHashes: DataFrame): DataFrame =
    docs
      .withColumn("h", md5(col("text")))
      .join(corpusHashes, Seq("h"), "left_anti")
      .withWatermark("ts", "30 minutes")
      .dropDuplicatesWithinWatermark("h")

  /** Streaming PPS admission: admit ~1 row per `step` weight units at
    * ingest, weight-proportionally, by laying each micro-batch along the
    * per-group systematic-sampling line where the previous batch ended —
    * the streaming form of batch `weightedSystematicSample` (q101), built
    * on [[graft.operators.DataPrep.ppsAdmitBatch]] the way the bloom gate
    * wraps batch decontamination. Deterministic (md5 order, integer
    * arithmetic, no RNG), so replaying the same batches admits the same
    * rows.
    *
    * The consumed-weight line is O(groups) driver state (groups are
    * sources — bounded); at scale it would persist in a small table
    * updated transactionally with the sink inside the same foreachBatch
    * (exactly-once for idempotent sinks, the standard foreachBatch
    * contract). Batch/stream parity + cross-batch line continuity are
    * pinned in StreamingSpec.
    */
  final class PpsAdmission(groupCol: String, idCol: String,
      weightCol: String, step: Long) extends Serializable {
    @volatile private var line: Map[String, Long] = Map.empty
    /** Current per-group consumed-weight line (for persistence/tests). */
    def totals: Map[String, Long] = line
    /** Admit one micro-batch and advance the line; call from
      * foreachBatch, passing the admitted rows on to the sink. */
    def admit(batch: DataFrame): DataFrame = synchronized {
      val admitted = graft.operators.DataPrep.ppsAdmitBatch(
        batch, line, groupCol, idCol, weightCol, step)
      val inc = graft.operators.DataPrep.ppsGroupTotals(batch, groupCol, weightCol)
      line = inc.foldLeft(line) { case (m, (g, w)) =>
        m.updated(g, m.getOrElse(g, 0L) + w)
      }
      admitted
    }
  }

  /** Reads the parquet events table as a bounded stream (file source) —
    * used by tests and as the template for a production file/Kafka source.
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // the file source needs a DIRECTORY; select just the events table via
    // glob filter (new files matching it would stream in incrementally)
    val raw = spark.readStream
      .schema(graft.sources.Tables.load(spark, dir, "events").schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    // same ts canonicalization as the batch accessor (NANOS-as-long and
    // TIMESTAMP_NTZ shapes both land on TimestampType) — a watermark
    // requires TimestampType, and batch/stream parity requires sameness
    graft.sources.Tables.normalizeTs(raw)
  }

  /** The crawl-epoch revalidation LOOP (VERDICT r17 next #5): the
    * three round-17 state folds — snapshot admission
    * ([[graft.operators.Snapshots.snapshotAdmitBatch]], q215),
    * revalidation merge
    * ([[graft.operators.Snapshots.revalidateMerge]], q216), and
    * Retry-After backoff ([[graft.operators.Http.hostBackoff]] /
    * `frontierBackoffGate`, q217) — advancing TOGETHER per trigger in
    * the [[PpsAdmission]] foreachBatch discipline. Per batch of fetch
    * responses, in order:
    *
    *   1. GATE: hosts still under backoff (established by EARLIER
    *      batches only) defer their rows — a deferred response is a
    *      fetch the polite crawler would not have made, so it updates
    *      nothing, not even backoff;
    *   2. REVALIDATE: admitted responses merge into the validator
    *      state (304 keep / 200 replace+clear / failure no-op);
    *   3. OBSERVE: successful merges (revalidated | replaced) feed the
    *      snapshot fold as re-observations, so the epoch close
    *      classifies added/removed/changed/unchanged over exactly the
    *      urls the loop actually confirmed;
    *   4. BACK OFF: admitted 429/503 responses with a parseable
    *      Retry-After extend the host backoff table for later batches.
    *
    * Responses schema: `(url, host, status, content_md5, etag,
    * last_modified, fetch_day, msg, fetch_ts)`. All three states are
    * key-partitioned joins sized by state/batch, never a corpus scan
    * (the q215/q216/q217 shapes verbatim); at scale each state
    * persists per trigger inside the same foreachBatch transaction,
    * and the DataFrame vars here would re-read those tables (the
    * driver holds PLANS, not rows). Fold laws pinned in StreamingSpec
    * (throttle-free fold-order invariance; deferral semantics) and
    * end-to-end against the q220 oracle. */
  final class CrawlEpochLoop(initialState: DataFrame) extends Serializable {
    import graft.operators.{Http, Snapshots}

    @volatile private var validators: DataFrame = initialState.select(
      col("url"), col("content_md5"), col("last_fetch"), col("etag"),
      col("last_modified"))
    @volatile private var snap: DataFrame = Snapshots.snapshotInit(initialState)
    @volatile private var backoff: DataFrame = {
      val s = initialState.sparkSession
      s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("host",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("backoff_until",
            org.apache.spark.sql.types.TimestampType))))
    }

    /** Fold one response batch at `asOf`; returns the gated batch
      * (with its `deferred` flags) for observability/sinks. */
    def step(responses: DataFrame, asOf: String): DataFrame = synchronized {
      val gated = Http.frontierBackoffGate(responses, backoff, "host", asOf)
      val admitted = gated.filter(!col("deferred"))
      val merged = Snapshots.revalidateMerge(validators, admitted)
      // Optimization r18 note: checkpointing the three states per step
      // (the graph-loop rule) was tried and REVERTED — it collapses
      // q220's plan from 130 Exchanges / 48 scans to 12 / 2, but the
      // nine eager state-sized jobs cost ~2× the duplicated lazy work
      // at sf0.1 (4.6 → 9.2–10.7 s measured); the lazy compound plan
      // executes as ONE fused action. On a long-running production
      // loop (many triggers) the state MUST be cut — there the
      // foreachBatch sink boundary does it per trigger.
      validators = merged.select(col("url"), col("content_md5"),
        col("last_fetch"), col("etag"), col("last_modified"))
      snap = Snapshots.snapshotAdmitBatch(snap,
        merged.filter(col("outcome").isin("revalidated", "replaced"))
          .select(col("url"), col("content_md5"),
            col("last_fetch").as("fetch_day")))
      backoff = backoff
        .unionByName(Http.hostBackoff(admitted, "host", "status", "msg",
          "fetch_ts"))
        .groupBy(col("host"))
        .agg(max(col("backoff_until")).as("backoff_until"))
      gated
    }

    def validatorState: DataFrame = validators
    /** Close the epoch: `(url, class)` over the loop's observations. */
    def close(): DataFrame = Snapshots.snapshotClose(snap)
  }
}
