package graft.mr

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.mr.Aggregators._

/** Algebraic + accuracy properties of the mergeable summaries. */
class AggregatorsSpec extends SparkSpec {

  private def hashesOf(vs: Seq[Long]): Seq[Long] = {
    // any well-mixed 64-bit hash works; use the same xxhash64 the query
    // applies, hashed in ONE job (keeps the test and query aligned)
    import spark.implicits._
    vs.toDF("x").select(xxhash64(col("x"))).as[Long].collect().toSeq
  }

  test("HLL merge law: sketch(A ++ B) == merge(sketch(A), sketch(B)) register-for-register") {
    val hll = Hll(12)
    import spark.implicits._
    val hashes = spark.range(0, 20000).toDF("x")
      .select(xxhash64(col("x"))).as[Long].collect()
    val (a, b) = hashes.splitAt(hashes.length / 3)
    val sa = a.foldLeft(hll.zero)(hll.add)
    val sb = b.foldLeft(hll.zero)(hll.add)
    val whole = hashes.foldLeft(hll.zero)(hll.add)
    val merged = hll.merge(sa, sb)
    assert(merged.sameElements(whole))
    // idempotent re-merge of a shard must not change the estimate
    assert(Hll.estimate(hll.merge(merged.clone(), sb)) == Hll.estimate(merged))
  }

  test("HLL estimate within 5% of exact on the declared query") {
    // q67 emits (group, exact n_parts, within_5pct) — the boolean IS the
    // error law (computed from the udaf estimate inside the query), and
    // n_parts must agree with an independently computed exact count
    val rows = graft.SparkEntry.queries("q67_hll_mergeable")(spark, sf001)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    val exact = graft.sources.Tables.lineitem(spark, sf001)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.keySet == exact.keySet)
    exact.foreach { case (k, n) =>
      val (nParts, within) = rows(k)
      assert(nParts == n, s"$k: exact col $nParts != $n")
      assert(within, s"$k: HLL estimate drifted beyond 5% of $n")
    }
  }

  test("exported shard sketches fold to the same estimate as one global sketch") {
    import spark.implicits._
    val hll = Hll(12)
    // shard the events table by type, export one sketch row per shard —
    // the per-day/per-partition persistence pattern — then merge
    // driver-side and compare against sketching everything at once
    val ev = graft.sources.Tables.events(spark, sf001)
      .select(col("event_type"), xxhash64(col("user_id")).as("h"))
    val shardStates = ev.groupBy(col("event_type")).agg(hll.state(col("h")).as("state"))
      .collect().map(r => hll.load(r.getAs[Array[Byte]]("state")))
    val folded = shardStates.reduce(hll.merge)
    val whole = ev.select(col("h")).as[Long].collect().foldLeft(hll.zero)(hll.add)
    assert(Hll.estimate(folded) == Hll.estimate(whole))
    // and the estimate itself is sane vs the exact distinct-user count
    val exact = graft.sources.Tables.events(spark, sf001)
      .select(countDistinct(col("user_id"))).collect()(0).getLong(0)
    val err = math.abs(Hll.estimate(folded) - exact).toDouble / exact
    assert(err <= 0.05, s"est=${Hll.estimate(folded)} exact=$exact")
  }

  test("HllMergeAggregator folds stored states distributed == driver fold") {
    import spark.implicits._
    val hll = Hll(12)
    val mergeAgg = hll.fold(Hll.estimate)
    val ev = graft.sources.Tables.events(spark, sf001)
      .select(col("event_type"), xxhash64(col("user_id")).as("h"))
    val states = ev.groupBy(col("event_type")).agg(hll.state(col("h")).as("state"))
    // distributed fold via the aggregator == driver-side register fold
    val viaAgg = states.agg(mergeAgg(col("state")).as("est")).head.getLong(0)
    val viaDriver = Hll.estimate(
      states.collect().map(r => hll.load(r.getAs[Array[Byte]]("state"))).reduce(hll.merge))
    assert(viaAgg == viaDriver)
    // null states contribute nothing
    val withNull = states.select(col("state"))
      .unionByName(Seq(Tuple1(null: Array[Byte])).toDF("state"))
    assert(withNull.agg(mergeAgg(col("state"))).head.getLong(0) == viaAgg)
  }

  test("HLL merge rejects mixed-precision states loudly") {
    intercept[IllegalArgumentException] {
      Hll(12).merge(Hll(12).zero, Hll(13).zero)
    }
  }

  test("HLL small-range correction counts tiny sets near-exactly") {
    val hll = Hll(12)
    val est = Hll.estimate(hashesOf(1L to 100L).foldLeft(hll.zero)(hll.add))
    assert(math.abs(est - 100) <= 2, s"got $est")
  }

  /** Zipf-ish stream: item i (1..40) appears 500/i times. */
  private def cmsStream: Seq[Long] =
    (1 to 40).flatMap(i => Seq.fill(500 / i)(i.toLong))

  test("CMS never undercounts and stays within (e/w)*N of exact") {
    val d = 7; val w = 2048
    val hashes = hashesOf(cmsStream)
    val exact = cmsStream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val cms = Cms(d, w)
    val st = hashes.foldLeft(cms.zero)(cms.add)
    val bound = math.ceil(math.E / w * hashes.size).toLong
    exact.foreach { case (item, n) =>
      val est = cms.estimate(st, hashesOf(Seq(item)).head)
      assert(est >= n, s"CMS undercounted item $item: $est < $n")
      assert(est <= n + bound, s"CMS overcounted item $item beyond bound: $est > $n + $bound")
    }
  }

  test("CMS merge law: sketch(A ++ B) == merge(sketch(A), sketch(B)) counter-for-counter") {
    val d = 5; val w = 256
    val (a, b) = cmsStream.splitAt(cmsStream.size / 3)
    val cms = Cms(d, w)
    def sk(xs: Seq[Long]) = hashesOf(xs).foldLeft(cms.zero)(cms.add)
    val whole = sk(cmsStream)
    val folded = cms.merge(sk(a), sk(b))
    assert(whole.toSeq == folded.toSeq)
  }

  test("CMS merge rejects mixed-geometry states loudly") {
    intercept[IllegalArgumentException] {
      Cms(5, 256).merge(Cms(5, 256).zero, Cms(7, 256).zero)
    }
  }

  test("GK quantile summary: rank error within epsilon on a known stream") {
    val gk = Gk(relErr = 0.01)
    // deterministic non-uniform stream of 10k values in [0, 100)
    val xs = (0 until 10000).map(i => (i * i % 9973) % 100 * 1.0)
    val est = Gk.quantile(0.5)(xs.foldLeft(gk.zero)(gk.add))
    val sorted = xs.sorted
    // value's rank must be within eps*n of the true median rank
    val lo = sorted((0.49 * xs.size).toInt)
    val hi = sorted(math.min(xs.size - 1, (0.51 * xs.size).toInt))
    assert(est >= lo && est <= hi, s"median est $est outside [$lo, $hi]")
  }

  test("GK shard summaries merged give a bounded-error global quantile") {
    val gk = Gk(relErr = 0.01)
    val xs = (0 until 12000).map(i => (i * 37 % 10007) * 1.0)
    // three shards, aggregated independently (per-partition state), merged
    val merged = xs.grouped(4000)
      .map(sh => sh.foldLeft(gk.zero)(gk.add))
      .reduce(gk.merge)
    val est = Gk.quantile(0.95)(merged)
    val sorted = xs.sorted
    val lo = sorted((0.92 * xs.size).toInt)
    val hi = sorted(math.min(xs.size - 1, (0.98 * xs.size).toInt))
    assert(est >= lo && est <= hi, s"merged p95 est $est outside [$lo, $hi]")
  }

  test("GK summary of an empty stream reports NaN, not a crash") {
    assert(Gk.quantile(0.5)(Gk().zero).isNaN)
  }

  test("GK stored form: serialize -> parquet-shaped bytes -> merge equals direct") {
    val gk = Gk(relErr = 0.01)
    val xs = (0 until 12000).map(i => (i * 37 % 10007) * 1.0)
    // shard summaries exported as bytes (what a parquet round-trip carries)
    val shardBytes = xs.grouped(3000)
      .map(sh => gk.store(sh.foldLeft(gk.zero)(gk.add))).toSeq
    assert(shardBytes.forall(b => b.length > 0 && b.length < 64 * 1024),
      s"summary blobs must stay KB-sized, got ${shardBytes.map(_.length)}")
    // a stored summary is already compressed: the fold's merge, which
    // compresses both sides, leaves it as it was
    shardBytes.map(gk.load).foreach(st => assert(st.compress().sampled.sameElements(st.sampled)))
    val mergeAgg = gk.folding(Gk.quantile(0.95))
    val est = mergeAgg.finish(shardBytes.foldLeft(mergeAgg.zero)(mergeAgg.reduce))
    // same bounded-error law as the direct merged aggregation
    val sorted = xs.sorted
    val lo = sorted((0.92 * xs.size).toInt)
    val hi = sorted(math.min(xs.size - 1, (0.98 * xs.size).toInt))
    assert(est >= lo && est <= hi, s"stored-form p95 est $est outside [$lo, $hi]")
    // null shard rows (empty parquet partitions) are skipped, not fatal:
    // only-null input leaves the summary empty (NaN), real bytes still merge
    assert(mergeAgg.finish(mergeAgg.reduce(mergeAgg.zero, null)).isNaN)
    val withNull = mergeAgg.reduce(
      shardBytes.foldLeft(mergeAgg.zero)(mergeAgg.reduce), null)
    assert(!mergeAgg.finish(withNull).isNaN)
  }

  test("CMS stored form: CmsMergeAggregator over state rows equals one global sketch") {
    val d = 5; val w = 256
    val cms = Cms(d, w)
    val hashes = (0 until 20000).map(i => (i * 2654435761L) % 500)
    val global = hashes.foldLeft(cms.zero)(cms.add)
    val shardStates = hashes.grouped(5000)
      .map(sh => cms.store(sh.foldLeft(cms.zero)(cms.add))).toSeq
    val mergeAgg = cms.folding(cms.store)
    val folded = shardStates.foldLeft(mergeAgg.zero)(mergeAgg.reduce)
    assert(folded.toSeq == global.toSeq,
      "folding stored shard states must be counter-for-counter exact")
    // geometry mismatch fails loudly
    val bad = Cms(d, w * 2).zero
    intercept[IllegalArgumentException](mergeAgg.reduce(mergeAgg.zero, bad))
  }

  // ---- Misra–Gries frequent-items summary ------------------------------

  /** Zipf-ish synthetic stream: item i appears ~N/(i+1) times, shuffled
    * deterministically so partition splits are adversarial-ish rather
    * than sorted runs. */
  private def zipfStream(nItems: Int, scale: Int, seed: Int): Seq[Long] = {
    val xs = (0 until nItems).flatMap(i => Seq.fill(scale / (i + 1))(i.toLong))
    val rnd = new scala.util.Random(seed)
    rnd.shuffle(xs)
  }

  test("MG laws hold under arbitrary merge splits (worst-case, not probabilistic)") {
    val k = 31
    val mg = MisraGries(k)
    val stream = zipfStream(nItems = 500, scale = 4000, seed = 7)
    val exact = stream.groupBy(identity).map { case (h, g) => h -> g.size.toLong }
    for (nSplits <- Seq(1, 2, 7)) {
      val rnd = new scala.util.Random(nSplits)
      val parts = stream.groupBy(_ => rnd.nextInt(nSplits)).values.toSeq
      val merged = parts.map(p => p.foldLeft(mg.zero)(mg.add))
        .reduce(mg.merge)
      val st = mg.store(merged)
      val n = st(0); val err = st(1); val size = st(2).toInt
      assert(n == stream.size.toLong, "folded stream length must be exact")
      assert(size <= k, s"summary must hold <= $k items, got $size")
      assert(err * (k + 1) <= n, s"error $err must stay <= n/(k+1) = ${n / (k + 1)}")
      val counts = (0 until size).map(i => st(3 + 2 * i) -> st(4 + 2 * i)).toMap
      exact.foreach { case (h, cnt) =>
        val c = counts.getOrElse(h, 0L)
        assert(c <= cnt, s"summary count $c overestimates exact $cnt for $h")
        assert(cnt <= c + err, s"exact $cnt for $h exceeds summary $c + err $err")
        if (cnt > err) assert(counts.contains(h),
          s"heavy hitter $h (count $cnt > err $err) missing from summary")
      }
    }
  }

  test("MG stored form: MgMergeAggregator over state rows keeps the same laws") {
    val k = 31
    val mg = MisraGries(k)
    val stream = zipfStream(nItems = 300, scale = 3000, seed = 13)
    val exact = stream.groupBy(identity).map { case (h, g) => h -> g.size.toLong }
    val shardStates = stream.grouped(700)
      .map(sh => mg.store(sh.foldLeft(mg.zero)(mg.add))).toSeq
    assert(shardStates.forall(_.length <= 4 + 2 * k),
      "stored MG states must stay O(k) longs")
    assert(shardStates.forall(_.last == k.toLong),
      "stored MG states carry their k as the trailing header element")
    val mergeAgg = mg.folding(mg.store)
    // null shard rows (empty parquet partitions) are skipped, not fatal
    val folded = mergeAgg.finish(
      mergeAgg.reduce(shardStates.foldLeft(mergeAgg.zero)(mergeAgg.reduce), null))
    val n = folded(0); val err = folded(1); val size = folded(2).toInt
    assert(n == stream.size.toLong)
    assert(err * (k + 1) <= n)
    val counts = (0 until size).map(i => folded(3 + 2 * i) -> folded(4 + 2 * i)).toMap
    exact.foreach { case (h, cnt) =>
      val c = counts.getOrElse(h, 0L)
      assert(c <= cnt && cnt <= c + err)
      if (cnt > err) assert(counts.contains(h))
    }
    // malformed / k-mismatched stored state fails loudly
    intercept[IllegalArgumentException](
      mergeAgg.reduce(mergeAgg.zero, Seq(0L, 0L, 999L)))
    val mg64 = MisraGries(64)
    val big = mg64.store((0L until 64L).foldLeft(mg64.zero)(mg64.add))
    intercept[IllegalArgumentException](mergeAgg.reduce(mergeAgg.zero, big))
    // a cross-k state holding FEWER than k items must also refuse — the
    // stored trailing k catches what the size check cannot (ADVICE r10)
    val sparse = mg64.store((0L until 5L).foldLeft(mg64.zero)(mg64.add))
    assert(sparse(2) == 5L, "sanity: 5 items, well under both ks")
    intercept[IllegalArgumentException](mergeAgg.reduce(mergeAgg.zero, sparse))
  }

  // ---- KMV bottom-k distinct sketch ------------------------------------

  test("KMV state is canonical: identical under any split/merge order, distinct, ascending") {
    val k = 16
    val mk = MinK(k)
    val stream = zipfStream(nItems = 200, scale = 1500, seed = 3)
      .map(h => h * 0x9E3779B97F4A7C15L & 0xFFFFFFFFFFFFFL) // spread, nonneg
    val whole = stream.foldLeft(mk.zero)(mk.add)
    for (nSplits <- Seq(2, 5, 9)) {
      val rnd = new scala.util.Random(nSplits)
      val parts = stream.groupBy(_ => rnd.nextInt(nSplits)).values.toSeq
      val merged = parts.map(p => p.foldLeft(mk.zero)(mk.add))
        .reduce(mk.merge)
      assert(merged == whole,
        s"KMV state must be split-order-independent (splits=$nSplits)")
    }
    assert(whole == whole.distinct && whole == whole.sorted && whole.size <= k)
    // ground truth: k smallest distinct values of the set
    assert(whole == stream.distinct.sorted.take(k))
  }

  test("KMV estimator: exact below k, within 4/sqrt(k) above; duplicates ignored") {
    val k = 64
    val mk = MinK(k)
    // fewer distincts than k: the state IS the set
    val small = (1L to 40L).map(x => x * 0x9E3779B97F4A7C15L & 0xFFFFFFFFFFFFFL)
    val smallState = (small ++ small).foldLeft(mk.zero)(mk.add)
    assert(smallState.size == 40, "sketch must hold the whole small set exactly")
    // many distincts: (k-1) * 2^60 / h_k within 4 standard errors
    val n = 20000
    val big = (1L to n.toLong).map(x =>
      // multiply into the full 60-bit hash space the estimator assumes
      (x * 0x9E3779B97F4A7C15L) & ((1L << 60) - 1))
    val st = big.foldLeft(mk.zero)(mk.add)
    assert(st.size == k)
    val est = (k - 1).toDouble * math.pow(2.0, 60) / st.last.toDouble
    val tol = 4.0 / math.sqrt(k.toDouble) * n
    assert(math.abs(est - n) <= tol, s"KMV est $est vs exact $n (tol $tol)")
  }

  test("declared q125 booleans are all true on sf0.001") {
    val rows = graft.SparkEntry.queries("q125_mg_heavy_hitters")(spark, sf001).collect()
    // sf0.001's vocabulary is smaller than the top-40 limit — every
    // distinct token appears, which also exercises the summary-holds-all
    // case (vocab < k)
    assert(rows.nonEmpty && rows.length <= 40)
    rows.foreach { r =>
      (3 until r.length).foreach(i =>
        assert(r.getBoolean(i), s"law column $i false for token ${r.getString(0)}"))
    }
  }

  // ---- the fold contract, once per family with a stored form -----------

  /** Folds `shards`' stored states with and without a NULL row between
    * them, and folds `foreign` — a state of another geometry. */
  private def foldLaw[IN, S, ST: TypeTag](f: StoredSummary[IN, S, ST],
      shards: Seq[Seq[IN]], foreign: Option[ST]): Unit = {
    val fold = f.folding(f.store)
    val states = shards.map(sh => f.store(sh.foldLeft(f.zero)(f.add)))
    def folded(sts: Seq[ST]): Seq[Any] = fold.finish(sts.foldLeft(fold.zero)(fold.reduce)) match {
      case a: Array[_] => a.toSeq
      case other: Seq[_] => other
    }
    val withNull = states.take(1) ++ Seq(null.asInstanceOf[ST]) ++ states.drop(1)
    assert(folded(withNull) == folded(states), s"$f: a NULL state row changed the fold")
    foreign.foreach { st =>
      intercept[IllegalArgumentException](fold.reduce(fold.zero, st))
    }
  }

  test("fold law: a NULL state row folds to nothing and a foreign geometry fails loudly") {
    val hashes = (1L to 3000L).map(_ * 0x9E3779B97F4A7C15L)
    val hashShards = hashes.grouped(1000).toSeq
    val doubles = hashes.map(h => (h >>> 44).toDouble).grouped(1000).toSeq
    val vectors = hashes.map(h => Seq(h % 7, h % 11, h % 13).map(_ / 16.0)).grouped(1000).toSeq
    def stateOf[IN, S, ST](f: StoredSummary[IN, S, ST], xs: Seq[IN]): ST =
      f.store(xs.foldLeft(f.zero)(f.add))
    foldLaw(Hll(12), hashShards, Some(stateOf(Hll(13), hashes)))
    foldLaw(Cms(5, 256), hashShards, Some(stateOf(Cms(7, 256), hashes)))
    foldLaw(Cms(5, 256), hashShards, Some(stateOf(Cms(5, 512), hashes)))
    foldLaw(MisraGries(31), hashShards, Some(stateOf(MisraGries(32), hashes.take(5))))
    foldLaw(Moments(3), vectors, Some(stateOf(Moments(4), Seq(Seq(1.0, 2.0, 3.0, 4.0)))))
    foldLaw(Gk(0.01), doubles, None)
  }

  test("sketch aggregators are declared only in mr/Aggregators.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"no $root under ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(root)
    val sources = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map((p: Path) => root.relativize(p).toString -> Files.readString(p))
    finally walk.close()
    val home = "graft/mr/Aggregators.scala"
    assert(sources.exists(_._1 == home))
    val declared = sources.collect {
      case (f, text) if f != home && text.contains("extends Aggregator[") => f
    }
    assert(declared.isEmpty, s"Aggregator classes outside $home: $declared")
    val built = sources.collect {
      case (f, text) if text.contains("new graft.mr.Aggregators.") => f
    }
    assert(built.isEmpty, s"aggregators built by class name instead of from a family: $built")
  }
}
