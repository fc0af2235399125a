package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.Tables

object StreamingSpec {
  /** Cross-restart sink buffer for the checkpoint-recovery test. */
  val ckptSeen: scala.collection.mutable.ArrayBuffer[Streams.UserRunning] =
    scala.collection.mutable.ArrayBuffer.empty
}

/** Streaming-layer semantics: batch parity against the oracle-checked
  * Windows queries, watermark late-data dropping, and custom state.
  */
class StreamingSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("tumbling window: streaming result == batch result on events table") {
    val batch = Windows_q48_batch()
    val stream = Streams.tumblingCounts(Tables.events(spark, sf001))
    // running the same transform in batch mode must equal the oracle query
    val a = batch.collect().map(_.toSeq).toSet
    val b = stream.collect().map(_.toSeq).toSet
    assert(a == b)
  }

  private def Windows_q48_batch() =
    graft.SparkEntry.queries("q48_window_tumbling")(spark, sf001)

  test("MemoryStream: watermark drops late rows in append mode") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "event_type", "value")
    val agg = Streams.tumblingCounts(df)
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName(s"wm_test_${System.nanoTime()}")
      .start()
    val name = q.name
    try {
      // batch 1: events in hour 10 and hour 12 → watermark advances to 11:30
      mem.addData(
        (ts("2024-01-01 10:05:00"), "click", 1.0),
        (ts("2024-01-01 10:15:00"), "click", 2.0),
        (ts("2024-01-01 12:00:00"), "click", 3.0))
      q.processAllAvailable()
      // batch 2: a LATE row for hour 10 (before watermark) must be dropped,
      // and hour-10's finalized window must have emitted without it
      mem.addData((ts("2024-01-01 10:30:00"), "click", 100.0))
      q.processAllAvailable()
      // advance watermark far enough to close everything
      mem.addData((ts("2024-01-01 15:00:00"), "click", 4.0))
      q.processAllAvailable()
      val rows = spark.table(name)
        .select(col("win_start"), col("n"), col("sum_value"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val hour10 = ts("2024-01-01 10:00:00").getTime / 1000
      assert(rows.contains((hour10, 2L, 3.0)),
        s"hour-10 window must close with 2 rows (late row dropped): $rows")
    } finally q.stop()
  }

  test("session windows merge events within gap, split beyond it") {
    import spark.implicits._
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1.0),
      (1L, ts("2024-01-01 10:10:00"), 2.0), // same session (10 min gap)
      (1L, ts("2024-01-01 11:30:00"), 3.0), // new session (>30 min)
      (2L, ts("2024-01-01 10:00:00"), 4.0)
    ).toDF("user_id", "ts", "value")
    // the watermark is a no-op on a batch frame
    val got = Streams.sessionCounts(events)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val t10 = ts("2024-01-01 10:00:00").getTime / 1000
    val t1130 = ts("2024-01-01 11:30:00").getTime / 1000
    assert(got == Set((1L, t10, 2L), (1L, t1130, 1L), (2L, t10, 1L)))
  }

  test("streaming dedup: repeated event_ids across batches emit once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Double)]
    val df = mem.toDF().toDF("event_id", "ts", "value")
    val q = Streams.dedupStream(df).writeStream.outputMode("append")
      .format("memory").queryName(s"dedup_test_${System.nanoTime()}")
      .start()
    try {
      mem.addData((1L, ts("2024-01-01 10:00:00"), 1.0), (2L, ts("2024-01-01 10:01:00"), 2.0))
      q.processAllAvailable()
      // same ids again (at-least-once redelivery) + one new id
      mem.addData((1L, ts("2024-01-01 10:02:00"), 1.0), (3L, ts("2024-01-01 10:03:00"), 3.0))
      q.processAllAvailable()
      val ids = spark.table(q.name).select("event_id").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L), s"got ${ids.toSeq}")
    } finally q.stop()
  }

  test("streaming CMS: incrementally aggregated sketch state == batch state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val d = 5; val w = 256
    val cms = graft.mr.Aggregators.Cms(d, w).state
    val values = (1L to 300L).map(i => i % 37) // skewed repeats
    val mem = MemoryStream[Long]
    val q = mem.toDF().toDF("v")
      .select(xxhash64(col("v")).as("h"))
      .agg(cms(col("h")).as("st"))
      .writeStream.outputMode("complete")
      .format("memory").queryName(s"cms_stream_${System.nanoTime()}")
      .start()
    try {
      // three micro-batches — the state store must carry the partial
      // sketch across triggers exactly (counter sums are exact merges)
      values.grouped(100).foreach { chunk =>
        mem.addData(chunk); q.processAllAvailable()
      }
      val streamed = spark.table(q.name).collect()(0).getSeq[Long](0)
      val batch = values.toDF("v").select(xxhash64(col("v")).as("h"))
        .agg(cms(col("h")).as("st")).collect()(0).getSeq[Long](0)
      assert(streamed == batch, "streaming CMS state diverged from batch state")
    } finally q.stop()
  }

  test("streaming HLL and GK sketches accumulate across triggers like batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.mr.Aggregators.{Gk, Hll}
    val hll = Hll(12).column(Hll.estimate)
    val gk = Gk().column(Gk.quantile(0.5))
    val values = (1L to 400L).map(i => i % 97)
    val mem = MemoryStream[Long]
    val q = mem.toDF().toDF("v")
      .select(xxhash64(col("v")).as("h"), col("v").cast("double").as("d"))
      .agg(hll(col("h")).as("distinct_est"), gk(col("d")).as("p50"))
      .writeStream.outputMode("complete")
      .format("memory").queryName(s"sketch_stream_${System.nanoTime()}")
      .start()
    try {
      values.grouped(150).foreach { chunk =>
        mem.addData(chunk); q.processAllAvailable()
      }
      val row = spark.table(q.name).collect()(0)
      val batch = values.toDF("v")
        .select(xxhash64(col("v")).as("h"), col("v").cast("double").as("d"))
        .agg(hll(col("h")).as("distinct_est"), gk(col("d")).as("p50"))
        .collect()(0)
      // HLL registers fold deterministically (max) → identical estimate;
      // GK summaries are order-sensitive in their sampled cut points, so
      // the streamed estimate must satisfy the same rank bound, not
      // bit-equality
      assert(row.getLong(0) === batch.getLong(0),
        "streaming HLL estimate diverged from batch")
      val sorted = values.map(_.toDouble).sorted
      val (lo, hi) = (sorted((0.48 * sorted.size).toInt),
        sorted(math.min(sorted.size - 1, (0.52 * sorted.size).toInt)))
      assert(row.getDouble(1) >= lo && row.getDouble(1) <= hi,
        s"streaming GK p50 ${row.getDouble(1)} outside [$lo, $hi]")
    } finally q.stop()
  }

  test("streaming incremental dedup: corpus dupes and within-stream dupes both drop") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq("existing doc one", "existing doc two").toDF("text")
      .select(md5(col("text")).as("h"))
    val mem = MemoryStream[(Long, Timestamp, String)]
    val df = mem.toDF().toDF("doc_id", "ts", "text")
    val q = Streams.incrementalDedupStream(df, corpus)
      .writeStream.outputMode("append")
      .format("memory").queryName(s"incdedup_test_${System.nanoTime()}")
      .start()
    try {
      mem.addData(
        (1L, ts("2024-01-01 10:00:00"), "existing doc one"), // corpus dup → drop
        (2L, ts("2024-01-01 10:01:00"), "fresh doc a"))      // admit
      q.processAllAvailable()
      mem.addData(
        (3L, ts("2024-01-01 10:02:00"), "fresh doc a"),      // stream dup → drop
        (4L, ts("2024-01-01 10:03:00"), "fresh doc b"),      // admit
        (5L, ts("2024-01-01 10:04:00"), "existing doc two")) // corpus dup → drop
      q.processAllAvailable()
      val ids = spark.table(q.name).select("doc_id").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(2L, 4L), s"got ${ids.toSeq}")
    } finally q.stop()
  }

  test("stateless data-prep ops (hash sample + redaction) give identical results over a stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (1L, "mail me at a@b.com"), (2L, "code 123456 plain"), (3L, "nothing"),
      (10L, "x@y.org and 98765432"), (20L, "clean text"), (30L, "id 4444 4444"))
    val mem = MemoryStream[(Long, String)]
    val df = mem.toDF().toDF("doc_id", "text")
    val q = df.filter(graft.operators.DataPrep.sampleKeep(col("doc_id"), mod = 2))
      .select(col("doc_id"), graft.operators.DataPrep.redact(col("text")).as("red"))
      .writeStream.outputMode("append")
      .format("memory").queryName(s"prep_test_${System.nanoTime()}")
      .start()
    try {
      mem.addData(docs.take(3): _*)
      q.processAllAvailable()
      mem.addData(docs.drop(3): _*) // incremental arrival must not change fates
      q.processAllAvailable()
      val streamed = spark.table(q.name).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      val batch = docs.toDF("doc_id", "text")
        .filter(graft.operators.DataPrep.sampleKeep(col("doc_id"), mod = 2))
        .select(col("doc_id"), graft.operators.DataPrep.redact(col("text")).as("red"))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(streamed == batch, s"stream=$streamed batch=$batch")
      assert(streamed.nonEmpty && streamed.size < docs.size, "a strict sample")
      assert(streamed.forall { case (_, t) => !t.contains("@") })
    } finally q.stop()
  }

  test("host + path gates are stateless: streamed kept set == batch kept set") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // stream-static broadcast anti joins: the stored block rules are the
    // static side, so the gates apply per-trigger with zero state — the
    // ingestion-time shape a crawl pipeline runs them in
    val docs = Seq(
      (1L, "https://spam.bad.com/x"), (2L, "https://good.com/a"),
      (3L, "no-scheme"), (4L, "https://ok.com/ads/banner"),
      (5L, "https://ok.com/article"), (6L, "https://good.com/ads/fine"))
    val bl = Seq("v:spam.bad.com" -> "spam").toDF("host_key", "rule")
    val rules = Seq(("v:ok.com", "/ads", "ads"))
      .toDF("host_key", "path_prefix", "rule")
    val mem = MemoryStream[(Long, String)]
    val df = mem.toDF().toDF("doc_id", "url")
    val gated = graft.operators.UrlOps.pathPrefixGate(
      graft.operators.UrlOps.hostGate(df, "url", bl), "url", rules)
    val q = gated.select(col("doc_id"))
      .writeStream.outputMode("append")
      .format("memory").queryName(s"gate_test_${System.nanoTime()}")
      .start()
    try {
      mem.addData(docs.take(3): _*)
      q.processAllAvailable()
      mem.addData(docs.drop(3): _*)
      q.processAllAvailable()
      val streamed = spark.table(q.name).collect().map(_.getLong(0)).toSet
      val batch = graft.operators.UrlOps.pathPrefixGate(
          graft.operators.UrlOps.hostGate(
            docs.toDF("doc_id", "url"), "url", bl), "url", rules)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      assert(streamed == batch, s"stream=$streamed batch=$batch")
      assert(streamed == Set(2L, 5L, 6L), streamed.toString)
    } finally q.stop()
  }

  test("streaming bloom decontamination: stateless admit gate == batch kept set") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // eval split and sizing exactly as q89; the blob is built in BATCH
    // and enters the streaming plan as a constant literal
    val docs = graft.sources.Tables.documents(spark, sf001)
      .select(col("doc_id"), col("text"))
    val train = docs.filter(col("doc_id") % 97 =!= 0)
    val evalSet = docs.filter(col("doc_id") % 97 === 0)
    val bf = graft.operators.DataPrep.evalGramBloom(evalSet, "doc_id", "text",
      n = 4, expectedItems = 100000L, numBits = 1600000L).get
    val batchKept = graft.operators.DataPrep.decontaminateBloom(train, evalSet,
        "doc_id", "text", n = 4, expectedItems = 100000L, numBits = 1600000L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // the per-row predicate equals the explode/distinct batch form
    val predKept = train
      .filter(graft.operators.DataPrep.bloomAdmit(col("text"), bf, n = 4))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(predKept == batchKept)
    assert(batchKept.size < train.count(), "the gate must actually drop docs")
    // the same predicate over a STREAM, fed across two triggers
    val rows = train.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text")
      .filter(graft.operators.DataPrep.bloomAdmit(col("text"), bf, n = 4))
      .select("doc_id")
      .writeStream.outputMode("append")
      .format("memory").queryName(s"bloom_gate_${System.nanoTime()}")
      .start()
    try {
      val (first, second) = rows.splitAt(rows.size / 2)
      mem.addData(first: _*)
      q.processAllAvailable()
      mem.addData(second: _*) // arrival order must not change any fate
      q.processAllAvailable()
      val streamed = spark.table(q.name).collect().map(_.getLong(0)).toSet
      assert(streamed == batchKept,
        s"stream/batch diverge: only-stream=${streamed -- batchKept} only-batch=${batchKept -- streamed}")
    } finally q.stop()
  }

  test("streaming PPS admission: foreachBatch gate == chained batch replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(31)
    val batches = (0 until 3).map { b =>
      (1 to 120).map(i => (b * 1000L + i, s"s${i % 3}", rnd.nextInt(600).toLong))
    }
    val step = 1000L

    // reference: the batch operator chained by hand over the same split
    var line = Map.empty[String, Long]
    val replay = scala.collection.mutable.Set.empty[Long]
    batches.foreach { rows =>
      val df = rows.toDF("doc_id", "source", "n_chars")
      replay ++= graft.operators.DataPrep.ppsAdmitBatch(df, line,
        "source", "doc_id", "n_chars", step)
        .select("doc_id").collect().map(_.getLong(0))
      val inc = graft.operators.DataPrep.ppsGroupTotals(df, "source", "n_chars")
      line = inc.foldLeft(line) { case (m, (g, w)) =>
        m.updated(g, m.getOrElse(g, 0L) + w) }
    }

    val pps = new Streams.PpsAdmission("source", "doc_id", "n_chars", step)
    val admitted = scala.collection.mutable.Set.empty[Long]
    val mem = MemoryStream[(Long, String, Long)]
    val q = mem.toDF().toDF("doc_id", "source", "n_chars")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        admitted ++= pps.admit(batch).select("doc_id")
          .collect().map(_.getLong(0))
        ()
      }
      .start()
    try {
      batches.foreach { rows => // one micro-batch per arrival wave
        mem.addData(rows: _*)
        q.processAllAvailable()
      }
      assert(admitted.toSet == replay.toSet,
        s"only-stream=${admitted -- replay} only-replay=${replay -- admitted}")
      assert(pps.totals == line, "consumed-weight line diverged")
      assert(admitted.nonEmpty && admitted.size < batches.map(_.size).sum,
        "a strict weight-proportional sample")
    } finally q.stop()
  }

  test("streaming funnel: out-of-order arrival converges to the batch chain") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val steps = Seq("view", "click", "purchase")
    val W = 3600L
    // u1 completes all three; u2 stalls after click; u3's purchase is
    // OUTSIDE the 1h window of the first view; u4 clicks before any view
    val evs = Seq(
      (1L, "view", t(0)), (1L, "click", t(5)), (1L, "purchase", t(10)),
      (2L, "view", t(0)), (2L, "click", t(20)),
      (3L, "view", t(0)), (3L, "click", t(5)), (3L, "purchase", t(59)),
      (4L, "click", t(1)), (4L, "view", t(30)))
    // note: u3's purchase at :59 IS within the hour; move it out via a
    // view-anchored check — use windowSec small enough: W=1800 (30min)
    val W2 = 1800L

    // driver ground truth: the q122 earliest-chain per user
    def truth(rows: Seq[(Long, String, Timestamp)]): Map[Long, Int] =
      rows.groupBy(_._1).flatMap { case (u, rs) =>
        val byStep = steps.map(s =>
          rs.filter(_._2 == s).map(_._3.getTime / 1000).sorted)
        byStep.head.headOption.map { t0 =>
          var reached = 1
          var t = t0
          var i = 1
          var going = true
          while (i < steps.size && going) {
            byStep(i).find(e => e > t && e <= t0 + W2) match {
              case Some(e) => reached += 1; t = e; i += 1
              case None => going = false
            }
          }
          u -> reached
        }
      }

    val mem = MemoryStream[(Long, String, Timestamp)]
    val q = Streams.funnelStream(
        mem.toDF().toDF("user_id", "event_type", "ts"), steps, W2,
        lateness = "2 hours") // scramble freely: nothing is late
      .writeStream.outputMode("update")
      .format("memory").queryName(s"funnel_${System.nanoTime()}")
      .start()
    try {
      // deliberately scrambled arrival: later events first, the
      // chain-anchoring views last
      val scrambled = evs.sortBy { case (u, et, ts) => (-ts.getTime, u) }
      val (a, b) = scrambled.splitAt(scrambled.size / 2)
      mem.addData(a: _*); q.processAllAvailable()
      mem.addData(b: _*); q.processAllAvailable()
      val finalReached = spark.table(q.name)
        .groupBy(col("user_id")).agg(max(col("reached")).as("r"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val expect = truth(evs)
      assert(finalReached == expect, s"stream=$finalReached truth=$expect")
      // the scramble actually exercised order-independence: a view
      // arrived after its user's click in stream order
      assert(expect(4L) == 1, "u4's pre-view click must not count")
      assert(expect(1L) == 3 && expect(2L) == 2)
    } finally q.stop()
  }

  test("image header decode is stateless: identical (format, w, h) over a stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // real headers, byte-built: a PNG IHDR, a GIF screen descriptor, junk
    def be32(v: Int) = Array[Byte]((v >>> 24).toByte, (v >>> 16).toByte,
      (v >>> 8).toByte, v.toByte)
    val png = Array[Byte](0x89.toByte, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A) ++
      be32(13) ++ "IHDR".getBytes ++ be32(640) ++ be32(480) ++
      Array[Byte](8, 6, 0, 0, 0)
    val gif = "GIF89a".getBytes ++ Array[Byte](0x40, 0x01, 0xF0.toByte, 0x00) ++ // 320x240 LE
      Array[Byte](0x00, 0x00, 0x00)
    val junk = Array[Byte](1, 2, 3, 4, 5)
    val rows = Seq((1L, png), (2L, gif), (3L, junk))
    def decode(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("ih", graft.functions.ImageHeader(col("payload")))
      .select(col("id"), col("ih.format"), col("ih.width"), col("ih.height"),
        col("ih.valid"))
    val batch = decode(rows.toDF("id", "payload"))
      .collect().map(_.toSeq).toSet
    val mem = MemoryStream[(Long, Array[Byte])]
    val q = decode(mem.toDF().toDF("id", "payload"))
      .writeStream.outputMode("append")
      .format("memory").queryName(s"imghdr_${System.nanoTime()}")
      .start()
    try {
      mem.addData(rows.take(2): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(2): _*)
      q.processAllAvailable()
      val streamed = spark.table(q.name).collect().map(_.toSeq).toSet
      assert(streamed == batch, s"stream=$streamed batch=$batch")
      assert(batch.exists(r => r(1) == "png" && r(2) == 640 && r(3) == 480))
      assert(batch.exists(r => r(1) == "gif" && r(2) == 320 && r(3) == 240))
    } finally q.stop()
  }

  test("all-but-the-top is stateless: identical values over a stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val emb = graft.sources.Tables.embeddings(spark, sf001)
    // mean + direction derived in BATCH (driver artifacts), applied as
    // plan literals — the q105 claim under test is that the corpus pass
    // itself carries no state and so applies unchanged to a stream
    val mean = graft.operators.Similarity.meanVector(emb, 64)
    val (u, _) = graft.operators.Similarity.pcaTopComponent(
      graft.operators.Similarity.covarianceMatrix(emb, 64))
    val batch = graft.operators.Similarity.allButTheTop(emb, mean, u)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val rows = emb.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = graft.operators.Similarity.allButTheTop(
        mem.toDF().toDF("vec_id", "embedding"), mean, u)
      .writeStream.outputMode("append")
      .format("memory").queryName(s"abtt_${System.nanoTime()}")
      .start()
    try {
      val (first, second) = rows.splitAt(rows.size / 2)
      mem.addData(first: _*)
      q.processAllAvailable()
      mem.addData(second: _*)
      q.processAllAvailable()
      val streamed = spark.table(q.name).collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
      assert(streamed == batch, "stream/batch values diverge")
    } finally q.stop()
  }

  test("stream-stream interval join: purchase within 20min of click joins, later one does not") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val df = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = Streams.clickPurchaseJoin(df).writeStream.outputMode("append")
      .format("memory").queryName(s"ssj_test_${System.nanoTime()}")
      .start()
    try {
      mem.addData(
        (1L, ts("2024-01-01 10:00:00"), 7L, "click", 0.0),
        (2L, ts("2024-01-01 10:05:00"), 7L, "purchase", 9.5), // within 20m → joins
        (3L, ts("2024-01-01 11:00:00"), 7L, "purchase", 4.0), // 60m later → no
        (4L, ts("2024-01-01 10:06:00"), 8L, "purchase", 1.0)) // other user → no
      q.processAllAvailable()
      // advance both watermarks so all joinable state resolves
      mem.addData((9L, ts("2024-01-01 13:00:00"), 7L, "click", 0.0))
      q.processAllAvailable()
      val rows = spark.table(q.name)
        .select("click_id", "purchase_id", "user_id", "purchase_value")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(rows == Set((1L, 2L, 7L, 9.5)), s"got $rows")
    } finally q.stop()
  }

  test("left-outer stream join: unmatched click emits with nulls once watermark closes its window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val df = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = Streams.clickPurchaseJoinOuter(df).writeStream.outputMode("append")
      .format("memory").queryName(s"ssjo_test_${System.nanoTime()}")
      .start()
    try {
      mem.addData(
        (1L, ts("2024-01-01 10:00:00"), 7L, "click", 0.0),     // will match
        (2L, ts("2024-01-01 10:05:00"), 7L, "purchase", 9.5),
        (3L, ts("2024-01-01 10:00:00"), 8L, "click", 0.0))     // never matches
      q.processAllAvailable()
      // push watermark far past click 3's window end + both watermarks
      mem.addData(
        (8L, ts("2024-01-01 14:00:00"), 9L, "click", 0.0),
        (9L, ts("2024-01-01 14:00:00"), 9L, "purchase", 1.0))
      q.processAllAvailable()
      mem.addData(
        (10L, ts("2024-01-01 18:00:00"), 9L, "click", 0.0),
        (11L, ts("2024-01-01 18:00:00"), 9L, "purchase", 1.0))
      q.processAllAvailable()
      val rows = spark.table(q.name)
        .select("click_id", "purchase_id")
        .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
      assert(rows(1L) == 2L, s"matched click must join: $rows")
      assert(rows.get(3L).contains(-1L), s"unmatched click must emit with null purchase: $rows")
    } finally q.stop()
  }

  test("checkpoint recovery: stateful query resumes accumulated state after restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // memory sink can't recover from a checkpoint; foreachBatch can
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val mem = MemoryStream[Streams.Event]
    StreamingSpec.ckptSeen.clear()
    def start() =
      Streams.runningUserTotals(mem.toDS()).writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[Streams.UserRunning], _: Long) =>
          val rows = batch.collect()
          StreamingSpec.ckptSeen.synchronized {
            StreamingSpec.ckptSeen ++= rows
          }
          ()
        }
        .start()

    val q1 = start()
    mem.addData(
      Streams.Event(1, ts("2024-01-01 10:00:00"), 5L, "click", 2.0),
      Streams.Event(2, ts("2024-01-01 10:01:00"), 5L, "click", 3.0))
    q1.processAllAvailable()
    q1.stop()

    // restart from the same checkpoint: state (n=2, sum=5.0) must survive
    val q2 = start()
    try {
      mem.addData(Streams.Event(3, ts("2024-01-01 10:02:00"), 5L, "click", 10.0))
      q2.processAllAvailable()
      val rows = StreamingSpec.ckptSeen.synchronized(StreamingSpec.ckptSeen.toList)
      assert(rows.nonEmpty, "restarted query must emit")
      val last = rows.maxBy(_.n_events)
      assert(last == Streams.UserRunning(5L, 3L, 15.0),
        s"state must carry across restart: ${rows.mkString(",")}")
    } finally q2.stop()
  }

  test("flatMapGroupsWithState: running totals accumulate across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.Event]
    val out = Streams.runningUserTotals(mem.toDS())
    val q = out.writeStream.outputMode("update")
      .format("memory").queryName(s"state_test_${System.nanoTime()}")
      .start()
    try {
      mem.addData(
        Streams.Event(1, ts("2024-01-01 10:00:00"), 7L, "click", 1.0),
        Streams.Event(2, ts("2024-01-01 10:01:00"), 7L, "click", 2.0))
      q.processAllAvailable()
      mem.addData(Streams.Event(3, ts("2024-01-01 10:02:00"), 7L, "click", 4.0))
      q.processAllAvailable()
      val rows = spark.table(q.name).as[Streams.UserRunning].collect()
      val last = rows.maxBy(_.n_events)
      assert(last == Streams.UserRunning(7L, 3L, 7.0))
    } finally q.stop()
  }

  test("streaming ingest anomaly: streamed daily counts feed the same verdicts as batch") {
    // the streaming form of q135: the corpus-reducing stage (daily
    // counts per type) runs as a streaming aggregation; the trailing
    // verdict is a batch query over the persisted daily table (tiny).
    // Streamed counts must equal batch counts EXACTLY, and therefore
    // the verdicts must too.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = (0 until 12).flatMap { d =>
      val n = if (d == 10) 40 else 8 // spike on day 10
      (0 until n).map(i =>
        (ts(f"2024-03-${d + 1}%02d 08:00:${i % 60}%02d"), "view"))
    }
    val mem = MemoryStream[(Timestamp, String)]
    val daily = scala.collection.mutable.Map.empty[(String, Long), Long]
    val q = mem.toDF().toDF("ts", "event_type")
      .withWatermark("ts", "0 seconds")
      .groupBy(col("event_type"),
        expr("CAST((unix_timestamp(ts) - pmod(unix_timestamp(ts), 86400)) / 86400 AS BIGINT)")
          .as("day"))
      .agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.collect().foreach(r =>
          daily((r.getString(0), r.getLong(1))) = r.getLong(2))
      }
      .start()
    try {
      rows.grouped(40).foreach { chunk => mem.addData(chunk); q.processAllAvailable() }
    } finally q.stop()
    val batchCounts = rows.toDF("ts", "event_type")
      .groupBy(col("event_type"),
        expr("CAST((unix_timestamp(ts) - pmod(unix_timestamp(ts), 86400)) / 86400 AS BIGINT)")
          .as("day"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(daily.toMap == batchCounts, "streamed daily counts diverged from batch")
    // verdicts over the streamed table == q135 over the raw events
    val streamedVerdicts = graft.operators.Windows.anomalyFromDaily(
      daily.toSeq.map { case ((t, d), n) => (t, d, n) }
        .toDF("event_type", "day", "n"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getBoolean(5)).toMap
    val batchVerdicts = graft.operators.Windows.ingestAnomaly(
      rows.toDF("ts", "event_type"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getBoolean(5)).toMap
    assert(streamedVerdicts == batchVerdicts)
    assert(batchVerdicts.values.count(identity) == 1,
      "exactly the planted spike day must flag")
  }

  test("streaming quality drift: per-trigger sum shards fold to the batch verdicts") {
    // the streaming form of q140 (VERDICT r10 stretch #8): each
    // micro-batch emits per-(source, batch) ADDITIVE counter rows which
    // foreachBatch persists (here: collects); the drift verdicts come
    // from qualityDriftFromSums over the stored shards — exact integer
    // folds, so streamed == batch bit-for-bit, never re-scanning history.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mkDoc = (n: Int) => Seq.fill(n)("the word").mkString(" ")
    // source A drifts long in batch 2; B stays flat; rows interleave
    val rows = (0 until 120).map { i =>
      val src = if (i % 2 == 0) "A" else "B"
      val batch = (i / 40).toLong
      val len = if (src == "A" && batch == 2L) 40 else 5
      (src, batch, mkDoc(len))
    }
    val shards = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long, Long, Long)]
    val mem = MemoryStream[(String, Long, String)]
    val q = mem.toDF().toDF("source", "batch", "text")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.operators.TextAnalysis.qualityBatchSums(b, col("batch"))
          .collect().foreach(r => shards +=
            ((r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      }
      .start()
    try {
      // trigger boundaries deliberately SPLIT batches, so several shard
      // rows accumulate per (source, batch) and the fold is non-trivial
      rows.grouped(25).foreach { chunk => mem.addData(chunk); q.processAllAvailable() }
    } finally q.stop()
    assert(shards.size > rows.map(r => (r._1, r._2)).distinct.size,
      "trigger split must produce multiple shard rows per key")
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5), r.getBoolean(6)))
    val streamed = graft.operators.TextAnalysis.qualityDriftFromSums(
      shards.toSeq.toDF("source", "batch", "n_docs", "sum_tokens", "sum_stop"))
      .collect().map(key).toMap
    val batch = graft.operators.TextAnalysis.qualityDrift(
      rows.toDF("source", "batch", "text"), col("batch"))
      .collect().map(key).toMap
    assert(streamed == batch, "streamed verdicts diverged from batch")
    // the planted drift flags, and only it
    assert(batch(("A", 2L))._4, "planted long batch must flag len_drift")
    assert(batch.count(_._2._4) == 1 ||
      batch.filterNot(_._1 == ("A", 2L)).forall(e => !e._2._4 || e._1._1 == "A"),
      s"unexpected drift flags: $batch")
  }

  test("streaming domain-cap admission: quota laws hold across triggers; one batch == domainCap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val k = 7
    // big domain overflows the cap mid-stream; tiny never reaches it
    val rows = ((1 to 20).map(i => (i.toLong, "big")) ++
      (21 to 24).map(i => (i.toLong, "tiny"))).sortBy(_._1)
    val admitted = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    var consumed = Map.empty[String, Long]
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "source")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val adm = graft.operators.DataPrep.capAdmitBatch(
          b, consumed, "source", "doc_id", k)
        val got = adm.select("doc_id", "source").collect()
          .map(r => (r.getLong(0), r.getString(1)))
        admitted ++= got
        consumed = graft.operators.DataPrep.domainCounts(adm, "source")
          .foldLeft(consumed) { case (m, (s, n)) => m + (s -> (m.getOrElse(s, 0L) + n)) }
      }
      .start()
    try {
      rows.grouped(5).foreach { chunk => mem.addData(chunk); q.processAllAvailable() }
    } finally q.stop()
    val bySrc = admitted.groupBy(_._2).view.mapValues(_.length).toMap
    // exactly k when >= k arrive, all of them when fewer
    assert(bySrc == Map("big" -> 7, "tiny" -> 4), s"$bySrc")
    assert(admitted.distinct.size == admitted.size, "no double admission")
    // sequential driver replay of the same batch sequence is identical
    var c2 = Map.empty[String, Long]
    val replay = rows.grouped(5).flatMap { chunk =>
      val admDf = graft.operators.DataPrep.capAdmitBatch(
        chunk.toDF("doc_id", "source"), c2, "source", "doc_id", k)
      val adm = admDf.select("doc_id", "source").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      c2 = graft.operators.DataPrep.domainCounts(admDf, "source")
        .foldLeft(c2) { case (m, (s, n)) => m + (s -> (m.getOrElse(s, 0L) + n)) }
      adm
    }.toSeq
    assert(replay.toSet == admitted.toSet, "streamed != sequential replay")
    // bridging law: ONE batch with an empty map IS the batch-form cap
    val one = graft.operators.DataPrep.capAdmitBatch(
      rows.toDF("doc_id", "source"), Map.empty[String, Long],
      "source", "doc_id", k)
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val batchForm = graft.operators.DataPrep.domainCap(
      rows.toDF("doc_id", "source"), "source", "doc_id", k)
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(one == batchForm, "single-batch admission must equal domainCap")
    // the map overload refuses raw (non-domainKey-encoded) keys loudly —
    // they would silently read as 0 consumed (ADVICE r11)
    val ex = intercept[IllegalArgumentException] {
      graft.operators.DataPrep.capAdmitBatch(
        rows.toDF("doc_id", "source"), Map("big" -> 3L), "source", "doc_id", k)
    }
    assert(ex.getMessage.contains("domainKey"), ex.getMessage)
  }

  test("stored-table domain-cap admission: stored == map == batch domainCap; no map literal in the plan") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val k = 7
    val rows = ((1 to 20).map(i => (i.toLong, Option("big"))) ++
      (21 to 24).map(i => (i.toLong, Option("tiny"))) ++
      (25 to 28).map(i => (i.toLong, None: Option[String]))).sortBy(_._1)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    // sequential replay of the batch sequence through the STORED form,
    // state advanced with foldDomainCounts (never collected)
    var state = Seq.empty[(String, Long)].toDF("domain_key", "consumed")
    var storedAdmitted = Set.empty[Long]
    var consumedMap = Map.empty[String, Long]
    var mapAdmitted = Set.empty[Long]
    rows.grouped(5).foreach { chunk =>
      val b = chunk.toDF("doc_id", "source")
      val admS = graft.operators.DataPrep.capAdmitBatch(
        b, state, "source", "doc_id", k)
      storedAdmitted ++= ids(admS)
      state = graft.operators.DataPrep.foldDomainCounts(state, admS, "source")
        .localCheckpoint() // the stored-artifact discipline: state persists
      val admM = graft.operators.DataPrep.capAdmitBatch(
        b, consumedMap, "source", "doc_id", k)
      mapAdmitted ++= ids(admM)
      consumedMap = graft.operators.DataPrep.domainCounts(admM, "source")
        .foldLeft(consumedMap) { case (m, (s, n)) =>
          m + (s -> (m.getOrElse(s, 0L) + n)) }
    }
    assert(storedAdmitted == mapAdmitted, "stored form diverged from map form")
    // one batch with empty state IS domainCap
    val oneShot = ids(graft.operators.DataPrep.capAdmitBatch(
      rows.toDF("doc_id", "source"), state.limit(0), "source", "doc_id", k))
    val batchForm = ids(graft.operators.DataPrep.domainCap(
      rows.toDF("doc_id", "source"), "source", "doc_id", k))
    assert(oneShot == batchForm, "single-batch stored admission must equal domainCap")
    // quota law incl. the NULL domain
    val bySrc = rows.filter(r => storedAdmitted(r._1)).groupBy(_._2)
      .view.mapValues(_.size).toMap
    assert(bySrc == Map(Option("big") -> 7, Option("tiny") -> 4, None -> 4), s"$bySrc")
    // scale shape: the stored form's plan carries NO map-type literal —
    // consumed state arrives via join, never as an O(domains) broadcast
    // task-binary literal (VERDICT r11 what's-wrong #1)
    val planned = graft.operators.DataPrep.capAdmitBatch(
      rows.toDF("doc_id", "source"), state, "source", "doc_id", k)
    val mapLits = planned.queryExecution.optimizedPlan.collect {
      case p => p.expressions.flatMap(_.collect {
        case l: org.apache.spark.sql.catalyst.expressions.Literal
          if l.dataType.isInstanceOf[org.apache.spark.sql.types.MapType] => l
      })
    }.flatten
    assert(mapLits.isEmpty, s"stored form must not embed a map literal: $mapLits")
    // duplicate-shard state: a multi-row-per-domain state pile (the
    // "parquet shard per trigger" pattern read back WITHOUT folding)
    // must behave as its fold — no join fan-out, no partial-count
    // over-admission (r12 review)
    val dupState = state.unionByName(state) // every domain_key twice, half the count each
      .withColumn("consumed", col("consumed") / 2)
      .select(col("domain_key"), col("consumed").cast("long").as("consumed"))
    val viaDup = ids(graft.operators.DataPrep.capAdmitBatch(
      rows.toDF("doc_id", "source"), dupState, "source", "doc_id", k))
    val viaFold = ids(graft.operators.DataPrep.capAdmitBatch(
      rows.toDF("doc_id", "source"),
      dupState.groupBy("domain_key").agg(sum("consumed").as("consumed")),
      "source", "doc_id", k))
    assert(viaDup == viaFold,
      s"sharded state must equal its fold: $viaDup vs $viaFold")
  }

  test("tokenBudgetAdmitBatch: chained batches == one-shot tokenBudgetSelect over the concatenated line") {
    import spark.implicits._
    // two groups; doc token lengths chosen so the budget crossing lands
    // mid-batch for A and in a later batch for B
    val rows = ((1 to 18).map(i => (i.toLong, "A", 40L)) ++
      (19 to 30).map(i => (i.toLong, "B", 25L))).sortBy(_._1)
    val budget = 300L
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    // chained: every batch is laid on the line (full-batch totals advance
    // the base, admitted or not — selection semantics)
    var base = Map.empty[String, Long]
    var admitted = Set.empty[Long]
    rows.grouped(7).foreach { chunk =>
      val b = chunk.toDF("doc_id", "grp", "n_tokens")
      admitted ++= ids(graft.operators.DataPrep.tokenBudgetAdmitBatch(
        b, base, "grp", "doc_id", "n_tokens", budget))
      base = graft.operators.DataPrep.ppsGroupTotals(b, "grp", "n_tokens")
        .foldLeft(base) { case (m, (g, t)) => m + (g -> (m.getOrElse(g, 0L) + t)) }
    }
    // independent driver-side replay of the concatenated line: batches in
    // arrival order, docs within a batch in (md5(id), id) order, one
    // running total per group, keep iff the doc STARTS before the budget
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val line = scala.collection.mutable.Map.empty[String, Long]
    val expect = rows.grouped(7).flatMap { chunk =>
      chunk.sortBy { case (id, _, _) => (md5hex(id.toString), id) }
        .flatMap { case (id, g, t) =>
          val start = line.getOrElse(g, 0L)
          line(g) = start + t
          if (start < budget) Some(id) else None
        }
    }.toSet
    assert(admitted == expect, s"chained ${admitted.toSeq.sorted} != " +
      s"reference ${expect.toSeq.sorted}")
    // bridging law: ONE batch with an empty base IS tokenBudgetSelect
    val one = ids(graft.operators.DataPrep.tokenBudgetAdmitBatch(
      rows.toDF("doc_id", "grp", "n_tokens"), Map.empty,
      "grp", "doc_id", "n_tokens", budget))
    val sel = ids(graft.operators.DataPrep.tokenBudgetSelect(
      rows.toDF("doc_id", "grp", "n_tokens"), "grp", "doc_id",
      "n_tokens", budget))
    assert(one == sel, "single-batch admission must equal tokenBudgetSelect")
    // budget law: admitted token totals land in [budget, budget + max_doc)
    // for each group whose line crossed it
    val tokByGrp = rows.filter(r => admitted(r._1)).groupBy(_._2)
      .view.mapValues(_.map(_._3).sum).toMap
    assert(tokByGrp("A") >= budget && tokByGrp("A") < budget + 40L, s"$tokByGrp")
    assert(tokByGrp("B") >= budget && tokByGrp("B") < budget + 25L, s"$tokByGrp")
  }

  test("stratifiedAdmitBatch: chained batches == one-shot stratifiedInterleaved; exact allocation at every prefix") {
    import spark.implicits._
    val rows = ((1 to 23).map(i => (i.toLong, "A")) ++
      (24 to 40).map(i => (i.toLong, "B"))).sortBy(_._1)
    val pct = 10
    def evalIds(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("split") === "eval")
        .select("doc_id").collect().map(_.getLong(0)).toSet
    // chained: frozen stratum counts advance by full-batch totals
    var base = Map.empty[String, Long]
    var chained = Set.empty[Long]
    val prefixCounts = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    rows.grouped(9).foreach { chunk =>
      val b = chunk.toDF("doc_id", "src")
      chained ++= evalIds(graft.operators.DataPrep.stratifiedAdmitBatch(
        b, base, "src", "doc_id", pct))
      base = graft.operators.DataPrep.ppsGroupTotals(
        b.withColumn("one", lit(1L)), "src", "one")
        .foldLeft(base) { case (m, (g, t)) => m + (g -> (m.getOrElse(g, 0L) + t)) }
      // exact-allocation-at-every-prefix: after EVERY batch each
      // stratum's cumulative eval count is exactly floor(rank*pct/100)
      // base keys carry the domainKey encoding ("v:"+stratum)
      prefixCounts += ((base.getOrElse("v:A", 0L), base.getOrElse("v:B", 0L)))
      val evalByStratum = rows.filter(r => chained(r._1)).groupBy(_._2)
        .view.mapValues(_.size.toLong).toMap
      assert(evalByStratum.getOrElse("A", 0L) ==
        base.getOrElse("v:A", 0L) * pct / 100, s"A at $base: $evalByStratum")
      assert(evalByStratum.getOrElse("B", 0L) ==
        base.getOrElse("v:B", 0L) * pct / 100, s"B at $base: $evalByStratum")
    }
    // chained == one-shot over the concatenated line (batches in arrival
    // order, (md5(id), id) order within a batch): replay driver-side
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val rank = scala.collection.mutable.Map.empty[String, Long]
    val expect = rows.grouped(9).flatMap { chunk =>
      chunk.sortBy { case (id, _) => (md5hex(id.toString), id) }
        .flatMap { case (id, g) =>
          val r = rank.getOrElse(g, 0L) + 1L
          rank(g) = r
          if (r * pct / 100 > (r - 1) * pct / 100) Some(id) else None
        }
    }.toSet
    assert(chained == expect, s"chained ${chained.toSeq.sorted} != " +
      s"reference ${expect.toSeq.sorted}")
    // bridging law: ONE batch with an empty base IS stratifiedInterleaved
    val one = evalIds(graft.operators.DataPrep.stratifiedAdmitBatch(
      rows.toDF("doc_id", "src"), Map.empty, "src", "doc_id", pct))
    val batch = evalIds(graft.operators.DataPrep.stratifiedInterleaved(
      rows.toDF("doc_id", "src"), "src", "doc_id", pct))
    assert(one == batch, "single-batch admission must equal stratifiedInterleaved")
  }

  test("admit frozen base: NULL group's line advances across batches (r12 review — it used to reset to 0 per batch)") {
    import spark.implicits._
    // all docs in the NULL group; budget 100, 40 tokens each => exactly
    // the first 3 docs along the CONCATENATED line admit (starts
    // 0/40/80); with the null-key reset bug every batch re-read base 0
    // and admitted 3 more forever
    val rows = (1 to 12).map(i => (i.toLong, Option.empty[String], 40L))
    var base = Map.empty[String, Long]
    var admitted = Set.empty[Long]
    rows.grouped(4).foreach { chunk =>
      val b = chunk.toDF("doc_id", "grp", "n_tokens")
      admitted ++= graft.operators.DataPrep.tokenBudgetAdmitBatch(
        b, base, "grp", "doc_id", "n_tokens", 100L)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      base = graft.operators.DataPrep.ppsGroupTotals(b, "grp", "n_tokens")
        .foldLeft(base) { case (m, (g, t)) =>
          m + (g -> (m.getOrElse(g, 0L) + t)) }
    }
    // the NULL group keys as "n" (collision-free domainKey encoding,
    // r13: a group literally named "null" can no longer share its line)
    assert(base == Map("n" -> 480L), s"$base")
    assert(admitted.size == 3,
      s"null group must admit exactly 3 across batches, got ${admitted.toSeq.sorted}")
    // stratified at 25% over batches of 3: eval fires at GLOBAL ranks
    // 4/8/12 => 3 evals; the reset bug saw only local ranks 1..3 per
    // batch (no step) and emitted ZERO evals
    var sbase = Map.empty[String, Long]
    var evals = Set.empty[Long]
    rows.map(r => (r._1, r._2)).grouped(3).foreach { chunk =>
      val b = chunk.toDF("doc_id", "src")
      evals ++= graft.operators.DataPrep.stratifiedAdmitBatch(
        b, sbase, "src", "doc_id", 25)
        .filter(col("split") === "eval")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      sbase = graft.operators.DataPrep.ppsGroupTotals(
        b.withColumn("one", lit(1L)), "src", "one")
        .foldLeft(sbase) { case (m, (g, t)) =>
          m + (g -> (m.getOrElse(g, 0L) + t)) }
    }
    assert(evals.size == 3,
      s"null stratum at 25% over 12 docs => exactly 3 eval, got ${evals.toSeq.sorted}")
  }

  test("streaming MG heavy hitters: per-trigger states fold to a law-true corpus summary") {
    // the ingest pattern for q125's stored states: each micro-batch emits
    // ONE MG state row (foreachBatch persists it); the corpus heavy
    // hitters come from folding stored states with the MG fold.
    // The fold's worst-case laws must hold vs the exact counts of
    // everything streamed — the same guarantee chain as the batch path,
    // crossing trigger boundaries.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val k = 31
    val mg = graft.mr.Aggregators.MisraGries(k)
    val mgState = mg.state
    // Zipf-ish item stream: item i ~ N/(i+1) occurrences, shuffled
    val rnd = new scala.util.Random(5)
    val items = rnd.shuffle(
      (0 until 300).flatMap(i => Seq.fill(3000 / (i + 1))(i.toLong)))
    val states = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
    val mem = MemoryStream[Long]
    // each micro-batch aggregates to ONE state row which foreachBatch
    // "persists" (here: collects) — the shard-per-trigger ingest shape
    val q = mem.toDF().toDF("h")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.agg(mgState(col("h")).as("st"))
          .collect().foreach(r => states += r.getSeq[Long](0))
      }
      .start()
    try {
      items.grouped(2500).foreach { day =>
        mem.addData(day); q.processAllAvailable()
      }
      assert(states.size >= 2, "test must actually cross trigger boundaries")
      val mgFold = mg.folding(mg.store)
      val folded = mgFold.finish(states.foldLeft(mgFold.zero)(mgFold.reduce))
      val n = folded(0); val err = folded(1); val size = folded(2).toInt
      assert(n == items.size.toLong, "folded stream length must be exact")
      assert(err * (k + 1) <= n)
      val counts = (0 until size).map(i => folded(3 + 2 * i) -> folded(4 + 2 * i)).toMap
      val exact = items.groupBy(identity).view.mapValues(_.size.toLong)
      exact.foreach { case (h, cnt) =>
        val c = counts.getOrElse(h, 0L)
        assert(c <= cnt && cnt <= c + err)
        if (cnt > err) assert(counts.contains(h),
          s"heavy hitter $h (count $cnt > err $err) lost across trigger boundaries")
      }
    } finally q.stop()
  }

  test("discovery admission: chained state folds == one-shot discoveryMerge (any split, any order)") {
    import graft.operators.LinkGraph
    import spark.implicits._
    val rnd = new scala.util.Random(61)
    val channels = Seq("sitemap", "feed", "link")
    val seeds = (1 to 400).map { i =>
      // collisions by construction: ~80 distinct resources, spelling
      // variants the canonicalization must fold cross-batch
      val k = rnd.nextInt(80)
      val url = if (i % 7 == 0) s"HTTPS://WWW.h$k.Example.COM:443/p/$k"
        else s"https://h$k.example.com/p/$k"
      (url, channels(rnd.nextInt(3)))
    }
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))
    val oneShot = LinkGraph.discoveryMerge(seeds.toDF("url", "channel"))
      .collect().map(key).toSet

    // three uneven batches, folded in arrival order
    val batches = Seq(seeds.take(50), seeds.slice(50, 290), seeds.drop(290))
    var state = LinkGraph.discoveryState(batches.head.toDF("url", "channel"))
    batches.tail.foreach { b =>
      state = LinkGraph.discoveryMergeState(state,
        LinkGraph.discoveryState(b.toDF("url", "channel")))
        .localCheckpoint() // the stored-table boundary between polls
    }
    val chained = LinkGraph.discoveryResolve(state).collect().map(key).toSet
    assert(chained == oneShot,
      s"only-chained=${chained -- oneShot} only-oneshot=${oneShot -- chained}")

    // commutativity: reversed arrival order reaches the same state
    var rev = LinkGraph.discoveryState(batches.last.toDF("url", "channel"))
    batches.reverse.tail.foreach { b =>
      rev = LinkGraph.discoveryMergeState(rev,
        LinkGraph.discoveryState(b.toDF("url", "channel")))
    }
    val reversed = LinkGraph.discoveryResolve(rev).collect().map(key).toSet
    assert(reversed == oneShot, "fold order must not matter")
  }

  test("crawl epoch loop: throttle-free fold order is irrelevant; deferral replays") {
    import spark.implicits._
    val crlf = "\r\n"
    def msg(status: Int, ra: String): String = {
      val line = status match {
        case 200 => "HTTP/1.1 200 OK"
        case 304 => "HTTP/1.1 304 Not Modified"
        case 429 => "HTTP/1.1 429 Too Many Requests"
        case _ => "HTTP/1.1 503 Service Unavailable"
      }
      line + crlf + ra + "Content-Length: 0" + crlf + crlf
    }
    val d = java.sql.Date.valueOf(_: String)
    val tts = java.sql.Timestamp.valueOf(_: String)
    val init = Seq(
      ("u1", "m1", d("2026-01-01"), Some("\"s1\""), Option.empty[String]),
      ("u2", "m2", d("2026-01-02"), None, Some("Mon, 01 Sep 2025 00:00:00 GMT")),
      ("u3", "m3", d("2026-01-03"), Some("\"s3\""), None),
      ("u4", "m4", d("2026-01-04"), None, None))
      .toDF("url", "content_md5", "last_fetch", "etag", "last_modified")
    def resp(url: String, host: String, st: Int, md5v: Option[String],
        etag: Option[String], day: String, ra: String = "") =
      (url, host, st, md5v, etag, Option.empty[String], d(day),
        msg(st, ra), tts(day + " 12:00:00"))
    val cols = Seq("url", "host", "status", "content_md5", "etag",
      "last_modified", "fetch_day", "msg", "fetch_ts")
    // throttle-free batches, disjoint urls: any fold order closes equal
    val b1 = Seq(resp("u1", "a.com", 200, Some("m1b"), Some("\"e1\""), "2026-02-01"))
      .toDF(cols: _*)
    val b2 = Seq(resp("u2", "b.com", 304, None, None, "2026-02-02"))
      .toDF(cols: _*)
    val b3 = Seq(resp("u3", "c.com", 503, None, None, "2026-02-03"))
      .toDF(cols: _*)
    def run(batches: Seq[(org.apache.spark.sql.DataFrame, String)]) = {
      val loop = new Streams.CrawlEpochLoop(init)
      batches.foreach { case (b, asOf) => loop.step(b, asOf) }
      loop.close().join(loop.validatorState, Seq("url"))
        .orderBy(col("url")).collect().map(_.toString).toSeq
    }
    val fwd = run(Seq(b1 -> "2026-02-01 12:00:00", b2 -> "2026-02-02 12:00:00",
      b3 -> "2026-02-03 12:00:00"))
    val rev = run(Seq(b3 -> "2026-02-03 12:00:00", b2 -> "2026-02-02 12:00:00",
      b1 -> "2026-02-01 12:00:00"))
    assert(fwd == rev, s"fold order changed the close:\n$fwd\n$rev")
    // expected close: u1 changed, u2 unchanged, u3/u4 never confirmed
    val classes = fwd.mkString("\n")
    assert(classes.contains("u1,changed") && classes.contains("u2,unchanged")
      && classes.contains("u3,removed") && classes.contains("u4,removed"),
      classes)

    // deferral: a 429 w/ Retry-After in batch 1 defers the SAME host's
    // batch-2 response (state untouched), and a later batch past the
    // backoff window is admitted again
    val t1 = Seq(resp("u1", "a.com", 429, None, None, "2026-02-01",
      ra = "Retry-After: 90000" + crlf)).toDF(cols: _*)
    val t2 = Seq(resp("u2", "a.com", 200, Some("m2b"), None, "2026-02-02"))
      .toDF(cols: _*)
    val t3 = Seq(resp("u3", "a.com", 304, None, None, "2026-02-03"))
      .toDF(cols: _*)
    val loop = new Streams.CrawlEpochLoop(init)
    val g1 = loop.step(t1, "2026-02-01 12:00:00")
    assert(g1.filter(col("deferred")).count() == 0, "no backoff yet")
    val g2 = loop.step(t2, "2026-02-02 12:00:00")
    assert(g2.filter(col("deferred")).count() == 1,
      "batch-2 row of the throttled host must defer")
    val g3 = loop.step(t3, "2026-02-03 12:00:00")
    assert(g3.filter(col("deferred")).count() == 0,
      "25h backoff expired by batch 3")
    val st = loop.validatorState.orderBy(col("url")).collect()
    assert(st(1).getString(1) == "m2", "deferred 200 must NOT replace content")
    assert(st(2).getDate(2).toString == "2026-02-03",
      "re-admitted 304 refreshes last_fetch")
  }
}
