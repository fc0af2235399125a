package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.TextFunctions._

/** Operator-level behavior tests on synthetic micro-data: the properties
  * the sf-scale oracle cannot see (near-dup detection on planted
  * duplicates, LSH recall on clustered vectors, sketch error bounds).
  */
class OperatorsSpec extends SparkSpec {

  test("entry flagship query returns rows (driver smoke contract)") {
    assert(graft.SparkEntry.entry(spark).count() > 0)
  }

  test("grouping sets ((a),(b),()) emits per-flag, per-status, and grand-total groups") {
    val li = graft.sources.Tables.lineitem(spark, sf001)
    val rows = graft.SparkEntry.queries("q59_grouping_sets")(spark, sf001).collect()
    val nRf = li.select("l_returnflag").distinct().count()
    val nLs = li.select("l_linestatus").distinct().count()
    assert(rows.length == nRf + nLs + 1)
    val total = rows.filter(r => r.getString(0) == "(all)" && r.getString(1) == "(all)")
    assert(total.length == 1 && total(0).getAs[Long]("cnt") == li.count())
    // grouping() flags identify which set each row came from
    assert(rows.forall { r =>
      val (gRf, gLs) = (r.getAs[Int]("g_rf"), r.getAs[Int]("g_ls"))
      (gRf == 0 && gLs == 1 && r.getString(1) == "(all)") ||
        (gRf == 1 && gLs == 0 && r.getString(0) == "(all)") ||
        (gRf == 1 && gLs == 1)
    })
  }

  test("minhash banding finds planted near-duplicates") {
    import spark.implicits._
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 57).map(i => s"tok$i").mkString(" ") + " xx yy zz"
    val other = (1 to 60).map(i => s"other$i").mkString(" ")
    val docs = Seq((0L, base), (1L, nearDup), (2L, other)).toDF("doc_id", "text")

    // same banding pipeline as q37
    val sh = docs.select(col("doc_id"), explode(shingles(tokens(col("text")))).as("s"))
    val hashed = sh
      .withColumn("i", explode(sequence(lit(0), lit(7))))
      .withColumn("h", hash60Seeded(col("i"), col("s")))
    val minh = hashed.groupBy(col("doc_id"), col("i")).agg(min(col("h")).as("mh"))
    val bands = minh
      .withColumn("band", floor(col("i") / 2).cast("int"))
      .groupBy(col("doc_id"), col("band"))
      .agg(array_join(transform(array_sort(collect_list(struct(col("i"), col("mh")))),
        x => x.getField("mh").cast("string")), ",").as("sig"))
    val pairs = bands.alias("a")
      .join(bands.alias("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)), s"expected planted near-dup pair, got $pairs")
    assert(!pairs.exists { case (a, b) => b == 2L || a == 2L },
      "unrelated doc must not collide")
  }

  test("simhash: near-identical docs have small hamming distance") {
    import spark.implicits._
    val base = (1 to 50).map(i => s"tok$i").mkString(" ")
    val near = (1 to 48).map(i => s"tok$i").mkString(" ") + " aa bb"
    val far = (1 to 50).map(i => s"zzz$i").mkString(" ")
    val docs = Seq((0L, base), (1L, near), (2L, far)).toDF("doc_id", "text")
    val sig = docs
      .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("tok"))
      .withColumn("h", hash60(col("tok")))
      .withColumn("b", explode(sequence(lit(0), lit(31))))
      .withColumn("vote", when(expr("(shiftright(h, b) & 1)") === 1, lit(1)).otherwise(lit(-1)))
      .groupBy(col("doc_id"), col("b")).agg(sum(col("vote")).as("v"))
      .groupBy(col("doc_id"))
      .agg(sum(when(col("v") > 0, expr("shiftleft(CAST(1 AS BIGINT), b)"))
        .otherwise(lit(0L))).as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sig(0L), sig(1L)) < hamming(sig(0L), sig(2L)),
      s"near pair must be closer: ${sig.toSeq}")
    assert(hamming(sig(0L), sig(1L)) <= 8)
  }

  test("LSH ANN: high recall on clustered vectors") {
    import spark.implicits._
    val dim = 64
    val rnd = new scala.util.Random(7)
    // 20 well-separated centroids, 20 members each with small jitter
    val rows = for {
      c <- 0 until 20
      m <- 0 until 20
    } yield {
      val centroid = Array.tabulate(dim)(j =>
        math.sin(c * 131.7 + j * 7.3) * 10.0)
      val v = centroid.map(x => (x + rnd.nextGaussian() * 0.05).toFloat)
      ((c * 20 + m).toLong, v)
    }
    val df = rows.toDF("vec_id", "embedding")
    val e = Similarity.withLshBucket(
      df.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("norm", sqrt(Similarity.dot(col("v"), col("v")))),
      nPlanes = 8, dim = dim)
    // members of the same cluster must share their LSH bucket far more
    // often than random (same-cluster cosine ≈ 1)
    val buckets = e.select(col("vec_id"), col("bucket"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sameBucket = (0 until 20).count { c =>
      val bs = (0 until 20).map(m => buckets((c * 20 + m).toLong))
      bs.distinct.size == 1
    }
    assert(sameBucket >= 18, s"only $sameBucket/20 clusters bucket-coherent")
  }

  test("approx_count_distinct within 5% of exact on lineitem") {
    val li = graft.sources.Tables.lineitem(spark, sf001)
    val row = li.agg(
      approx_count_distinct(col("l_partkey")).as("a"),
      countDistinct(col("l_partkey")).as("e")).collect()(0)
    val (a, e) = (row.getLong(0).toDouble, row.getLong(1).toDouble)
    assert(math.abs(a - e) / e < 0.05, s"approx=$a exact=$e")
  }

  test("multimodal imageTable embeds real headers the decoder round-trips") {
    import spark.implicits._
    val media = Multimodal.imageTable(spark, sf001)
    val feats = Multimodal.extractFeatures(media)
      .filter(col("doc_id") < 60 && pmod(col("doc_id"), lit(13)) =!= 0)
      .collect()
    assert(feats.nonEmpty)
    feats.foreach { f =>
      val fmtIdx = (f.doc_id % 4).toInt
      val expected = Seq("png", "jpeg", "gif", "unknown")(fmtIdx)
      assert(f.format == expected, s"doc ${f.doc_id}: $f")
      if (fmtIdx < 3) {
        assert(f.valid, s"doc ${f.doc_id} should decode: $f")
        assert(f.width == 1 + (f.doc_id % 1021).toInt)
        assert(f.height == 1 + (f.doc_id % 763).toInt)
      } else assert(!f.valid && f.width == -1 && f.height == -1)
    }
    // the truncation case breaks every container mid-header
    val trunc = Multimodal.extractFeatures(
      media.filter(pmod(col("doc_id"), lit(13)) === 0).limit(8)).collect()
    trunc.foreach(f => assert(!f.valid && f.n_bytes <= 7, s"$f"))
  }

  test("exact dedup: planted duplicates collapse to one representative") {
    import spark.implicits._
    val docs = Seq((1L, "same text"), (2L, "same text"), (3L, "unique")).toDF("doc_id", "text")
    val groups = docs.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keep"), count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(groups == Set((1L, 2L), (3L, 1L)))
  }

  test("Pipeline facade operators accept caller-chosen column names") {
    import spark.implicits._
    val docs = Seq((10L, "a b a b a b a b"), (11L, "p q r s t u v w"))
      .toDF("my_id", "body")
    val rep = TextAnalysis.repetitionSignals(docs, "my_id", "body")
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    // "a b" ×4 of 7 bigrams, 2 distinct tokens of 8
    assert(rep(10L)._1 == 8 && math.abs(rep(10L)._2 - 0.25) < 1e-12)
    assert(math.abs(rep(10L)._3 - 4.0 / 7) < 1e-12 && math.abs(rep(10L)._4 - (1 - 2.0 / 7)) < 1e-12)
    assert(rep(11L)._3 == 1.0 / 7 && rep(11L)._4 == 0.0)

    val train = Seq((1L, "p q r s"), (2L, "u v w x")).toDF("my_id", "body")
    val eval_ = Seq((9L, "q r")).toDF("my_id", "body")
    val kept = DataPrep.decontaminate(train, eval_, "my_id", "body", n = 2)
      .select("my_id").as[Long].collect().toSet
    assert(kept == Set(2L), s"doc 1 shares the 2-gram 'q r' with eval; got $kept")

    val mix = DataPrep.mixWeights(
      Seq(("a", "one two three four"), ("b", "one two three four five six seven eight nine"))
        .toDF("grp", "body"), "grp", "body")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(mix("a")._1 == 4 && mix("b")._1 == 9)
    assert(math.abs(mix("a")._2 - 0.4) < 1e-9 && math.abs(mix("b")._2 - 0.6) < 1e-9)
  }

  test("rarity scoring matches hand-computed corpus statistics for one document") {
    val rows = graft.SparkEntry.queries("q82_rarity_scoring")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    val texts = graft.sources.Tables.load(spark, sf001, "documents")
      .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1))
    def toks(t: String) = "\\W+".r.split(t.toLowerCase).filter(_.nonEmpty).toSeq
    val corpus = texts.flatMap { case (_, t) => toks(t) }
    val freq = corpus.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = corpus.length.toLong
    val (id0, nt0, avgP0, avgR0) = rows.head
    val t0 = toks(texts.toMap.apply(id0))
    assert(nt0 == t0.size)
    // same fold order (token position) and same per-token exact divisions
    val avgP = t0.map(w => freq(w).toDouble / n).sum / t0.size
    val avgR = t0.map(w => n.toDouble / freq(w)).sum / t0.size
    assert(math.abs(avgP0 - avgP) < 1e-12 && math.abs(avgR0 - avgR) < 1e-9,
      s"avg_p $avgP0 vs $avgP, avg_rarity $avgR0 vs $avgR")
  }

  test("minCount vocab pre-prune: pruned vocabulary still scores, consistently (VERDICT r7)") {
    import spark.implicits._
    // 'rare*' words occur once each (pruned at minCount=2); the rest
    // repeat. Both scorers must keep scoring with the PRUNED tables used
    // consistently: renormalized p=c/n for rarity, pruned V in the
    // add-one smoothing denominator for the bigram LM.
    val docs = Seq(
      (1L, "alpha beta alpha beta rareone"),
      (2L, "alpha gamma raretwo gamma beta"),
      (3L, "rarethree rarefour")).toDF("doc_id", "text")
    def toks(t: String) = "\\W+".r.split(t.toLowerCase).filter(_.nonEmpty).toSeq
    val texts = Seq(1L -> "alpha beta alpha beta rareone",
      2L -> "alpha gamma raretwo gamma beta", 3L -> "rarethree rarefour")
    val freqAll = texts.flatMap(t => toks(t._2)).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    val m = 2L
    val freqP = freqAll.filter(_._2 >= m)
    val nP = freqP.values.sum

    val rar = TextAnalysis.rarityScores(docs, "doc_id", "text", minCount = m)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(!rar.contains(3L), "a doc with no surviving tokens must drop out")
    texts.take(2).foreach { case (id, t) =>
      val kept = toks(t).filter(freqP.contains)
      val (nt, avgP, avgR) = rar(id)
      assert(nt == kept.size)
      val eP = kept.map(w => freqP(w).toDouble / nP).sum / kept.size
      val eR = kept.map(w => nP.toDouble / freqP(w)).sum / kept.size
      assert(math.abs(avgP - eP) < 1e-12 && math.abs(avgR - eR) < 1e-9,
        s"doc $id: avg_p $avgP vs $eP, avg_rarity $avgR vs $eR")
    }

    val bigAll = texts.flatMap(t => toks(t._2).sliding(2).filter(_.size == 2).map(_.mkString(" ")))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val vP = freqP.size.toLong
    val lm = TextAnalysis.bigramLmScores(docs, "doc_id", "text", minCount = m)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    texts.take(2).foreach { case (id, t) =>
      // bigrams whose HISTORY word survives the prune are scored; the
      // smoothing denominator is c1 + V over the pruned vocabulary
      val terms = toks(t).sliding(2).filter(_.size == 2).toSeq
        .filter(p => freqP.contains(p.head))
        .map(p => (bigAll(p.mkString(" ")) + 1).toDouble / (freqP(p.head) + vP))
      val (nb, score) = lm(id)
      assert(nb == terms.size)
      assert(math.abs(score - terms.sum / terms.size) < 1e-12,
        s"doc $id: lm_score $score vs ${terms.sum / terms.size}")
    }

    intercept[IllegalArgumentException] {
      TextAnalysis.rarityScores(docs, "doc_id", "text", minCount = 0L)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.bigramLmScores(docs, "doc_id", "text", minCount = -1L)
    }
  }

  test("bigram LM scoring: predictable text outranks token soup; hand-check one doc") {
    import spark.implicits._
    // planted corpus: doc 1 repeats one transition (high conditional
    // probability); doc 2 uses each transition once over a wide vocab
    val repeatA = (1 to 20).map(_ => "alpha beta").mkString(" ")
    val soup = (1 to 40).map(i => s"w$i").mkString(" ")
    val planted = Seq((1L, repeatA), (2L, soup), (3L, "solo")).toDF("doc_id", "text")
    val got = TextAnalysis.bigramLmScores(planted, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toMap2
    assert(!got.contains(3L), "a <2-token doc must emit no row")
    assert(got(1L)._1 == 39 && got(2L)._1 == 39)
    assert(got(1L)._2 > got(2L)._2 * 5,
      s"repetitive text must far outrank token soup: ${got(1L)._2} vs ${got(2L)._2}")
    // hand-computed smoothed terms on the real corpus for one document
    val rows = graft.SparkEntry.queries("q96_bigram_lm_score")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    val texts = graft.sources.Tables.load(spark, sf001, "documents")
      .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1))
    def toks(t: String) = "\\W+".r.split(t.toLowerCase).filter(_.nonEmpty).toSeq
    val uni = texts.flatMap { case (_, t) => toks(t) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val big = texts.flatMap { case (_, t) => toks(t).sliding(2).filter(_.size == 2).map(_.mkString(" ")) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val v = uni.size.toLong
    val (id0, nb0, s0) = rows.head
    val t0 = toks(texts.toMap.apply(id0))
    assert(nb0 == t0.size - 1)
    val expect = t0.sliding(2).filter(_.size == 2).map { p =>
      (big(p.mkString(" ")) + 1).toDouble / (uni(p.head) + v)
    }.sum / (t0.size - 1)
    assert(math.abs(s0 - expect) < 1e-12, s"lm_score $s0 vs $expect")
  }

  private implicit class PairRows(rows: Array[(Long, Long, Double)]) {
    def toMap2: Map[Long, (Long, Double)] =
      rows.map(r => r._1 -> ((r._2, r._3))).toMap
  }

  test("phrase search: planted overlaps + zero-hit phrases + stored-index round-trip") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta alpha beta gamma"), // phrase twice, overlapping tail
      (2L, "beta gamma delta"),                        // phrase absent (no alpha)
      (3L, "alpha beta")                               // shorter than the phrase
    ).toDF("doc_id", "text")
    val k = 2
    val phrase = Seq("alpha beta gamma")
    val idx = TextAnalysis.gramIndex(docs, "doc_id", "text", k)
    val hits = TextAnalysis.phraseHits(docs, idx, "doc_id", "text", phrase, k)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    assert(hits == Set(("alpha beta gamma", 1L, 1), ("alpha beta gamma", 1L, 5)))
    // zero-hit phrase emits nothing; sub-k phrase is rejected loudly
    assert(TextAnalysis.phraseHits(docs, idx, "doc_id", "text",
      Seq("delta delta delta"), k).count() == 0)
    intercept[IllegalArgumentException](
      TextAnalysis.phraseHits(docs, idx, "doc_id", "text", Seq("alpha"), k))
    // the index survives a parquet round-trip (the stored-artifact path)
    val dir = java.nio.file.Files.createTempDirectory("graft_gramidx").toString
    idx.write.mode("overwrite").parquet(dir)
    val stored = TextAnalysis.phraseHits(docs, spark.read.parquet(dir),
        "doc_id", "text", phrase, k)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    assert(stored == hits)
  }

  test("histogram rank selection equals the single-task window form") {
    val got = graft.SparkEntry.queries("q69_exact_percentile_rank")(spark, sf001)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSeq
    // the naive form the implementation deliberately avoids (it sorts
    // each whole group in one task) — kept here as the semantic pin
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_returnflag"))
      .orderBy(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
    val expect = graft.sources.Tables.lineitem(spark, sf001)
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("l_returnflag"))))
      .select(col("l_returnflag"), col("l_extendedprice"),
        explode(filter(array(
          when(col("rn") === expr("(50 * n + 99) DIV 100"), lit("p50")),
          when(col("rn") === expr("(95 * n + 99) DIV 100"), lit("p95"))),
          x => x.isNotNull)).as("pct"))
      .select(col("l_returnflag"), col("pct"), col("l_extendedprice"))
      .orderBy(col("l_returnflag"), col("pct"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSeq
    assert(got == expect, s"got=$got\nexpect=$expect")
  }

  test("incremental dedup admits exactly the batch minus hash/banding collisions") {
    import spark.implicits._
    val survivors = graft.SparkEntry.queries("q81_incremental_dedup")(spark, sf001)
      .collect().map(_.getLong(0)).toSet
    assert(survivors.forall(_ % 10 == 9), "only new-batch docs in the output")
    // independent recomputation from the DECLARED q37 surface + md5
    val bands = graft.SparkEntry.queries("q37_dedup_minhash")(spark, sf001)
    val corpusBands = bands.filter(col("doc_id") % 10 =!= 9)
      .select(col("band"), col("sig")).distinct()
    val nearReject = bands.filter(col("doc_id") % 10 === 9)
      .join(corpusBands, Seq("band", "sig"), "left_semi")
      .select("doc_id").as[Long].collect().toSet
    val hashes = graft.sources.Tables.load(spark, sf001, "documents")
      .select(col("doc_id"), md5(col("text")).as("h"))
    val corpusH = hashes.filter(col("doc_id") % 10 =!= 9).select("h").distinct()
    val exactReject = hashes.filter(col("doc_id") % 10 === 9)
      .join(corpusH, Seq("h"), "left_semi").select("doc_id").as[Long].collect().toSet
    val batch = hashes.filter(col("doc_id") % 10 === 9)
      .select("doc_id").as[Long].collect().toSet
    assert(survivors == batch -- nearReject -- exactReject,
      s"survivors=${survivors.size} batch=${batch.size} near=${nearReject.size} exact=${exactReject.size}")
  }

  test("repetition signals match a hand-computed document and stay in [0,1]") {
    val rows = graft.SparkEntry.queries("q78_repetition_signals")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, n, ttr, top, dup) =>
      assert(n >= 2 && ttr > 0 && ttr <= 1 && top > 0 && top <= 1 && dup >= 0 && dup < 1, s"doc $id")
    }
    // independent scala recomputation for one document
    val (id0, n0, ttr0, top0, dup0) = rows.head
    val text = graft.sources.Tables.load(spark, sf001, "documents")
      .filter(col("doc_id") === id0).select("text").collect().head.getString(0)
    val toks = "\\W+".r.split(text.toLowerCase).filter(_.nonEmpty).toSeq
    val bigrams = toks.sliding(2).map(_.mkString(" ")).toSeq
    val counts = bigrams.groupBy(identity).view.mapValues(_.size).toMap
    assert(n0 == toks.size)
    assert(math.abs(ttr0 - toks.distinct.size.toDouble / toks.size) < 1e-12)
    assert(math.abs(top0 - counts.values.max.toDouble / bigrams.size) < 1e-12)
    assert(math.abs(dup0 - (1.0 - counts.size.toDouble / bigrams.size)) < 1e-12)
  }

  test("ingestAnomaly: spike fires only on a >2x-of-trailing-week day with a full baseline") {
    import spark.implicits._
    // 14 consecutive days of 10 events, then one day of 50 (spike),
    // then 3 more flat days — all one event_type
    def day(d: Int, n: Int) = (0 until n).map(i =>
      (java.sql.Timestamp.valueOf(f"2024-02-${d + 1}%02d 12:00:${i % 60}%02d"), "view"))
    val rows = (0 until 14).flatMap(day(_, 10)) ++ day(14, 50) ++
      (15 until 18).flatMap(day(_, 10))
    val ev = rows.toDF("ts", "event_type")
    val got = Windows.ingestAnomaly(ev)
      .orderBy(col("day"))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5)))
    assert(got.length == 18)
    // first 7 days: incomplete baseline => never spike
    got.take(7).foreach { case (_, _, _, nPrev, spike) =>
      assert(nPrev < 7 && !spike)
    }
    // the spike day: full baseline of 70, 50*7 > 140 => fires
    val spikeDay = got(14)
    assert(spikeDay._2 == 50L && spikeDay._3 == 70L && spikeDay._4 == 7L && spikeDay._5,
      s"spike row $spikeDay")
    // every other full-baseline day stays quiet (incl. days following
    // the spike, whose baseline now contains it)
    got.zipWithIndex.filter { case (g, i) => i != 14 && g._4 == 7L }
      .foreach { case (g, i) => assert(!g._5, s"false spike at index $i: $g") }
  }

  test("winsorizeStats: exact rank cuts and clip accounting on a known sequence") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = (1 to 100).map(i => (i.toDouble, i.toLong, i)).toDF("v", "k1", "k2")
    val r = graft.operators.Windows.winsorizeStats(df, "v", Seq("k1", "k2"),
      pLo = 10, pHi = 90).head()
    // rank convention (p*n+99)/100: rLo = 10 -> value 10, rHi = 90 -> 90
    assert(r.getDouble(0) == 10.0 && r.getDouble(1) == 90.0, r.toString)
    assert(r.getLong(2) == 9 && r.getLong(3) == 10 && r.getLong(4) == 100,
      r.toString)
    // the clamp form respects the cuts
    val clipped = df.select(graft.operators.Windows
      .winsorizeClip(col("v"), 10.0, 90.0).as("c"))
      .agg(min("c"), max("c")).head()
    assert(clipped.getDouble(0) == 10.0 && clipped.getDouble(1) == 90.0)
    // skewed data: everything in one bucket still selects exactly
    val skew = ((1 to 99).map(_ => 5.0) ++ Seq(1000000.0)).zipWithIndex
      .map { case (v, i) => (v, i.toLong, i) }.toDF("v", "k1", "k2")
    val s = graft.operators.Windows.winsorizeStats(skew, "v", Seq("k1", "k2"),
      pLo = 1, pHi = 99).head()
    assert(s.getDouble(0) == 5.0 && s.getDouble(1) == 5.0 &&
      s.getLong(2) == 0 && s.getLong(3) == 1, s.toString)
  }

  test("winsorizeStats: both cuts in ONE bucket with DIFFERENT values (ADVICE r11)") {
    import spark.implicits._
    // one extreme max pushes values 1..99 all into histogram bucket 0
    // (width ~976), so bLo == bHi with lrLo=10 != lrHi=90 — a cuts map
    // keyed by bucket alone collapses the two rows and loCut == hiCut
    // nondeterministically; the (bucket, localRank) key must recover
    // the exact rank-10 and rank-90 values
    val df = ((1 to 99).map(_.toDouble) :+ 1000000.0).zipWithIndex
      .map { case (v, i) => (v, i.toLong, i) }.toDF("v", "k1", "k2")
    val r = graft.operators.Windows.winsorizeStats(df, "v", Seq("k1", "k2"),
      pLo = 10, pHi = 90).head()
    assert(r.getDouble(0) == 10.0 && r.getDouble(1) == 90.0,
      s"cuts must differ inside one bucket: $r")
    assert(r.getLong(2) == 9 && r.getLong(3) == 10 && r.getLong(4) == 100,
      r.toString)
  }

  test("vocabCoverage: exact crossing arithmetic on a hand-computed histogram") {
    import spark.implicits._
    // counts: aa=5, bb=3, cc=3, dd=1 -> total 12
    val text = (Seq.fill(5)("aa") ++ Seq.fill(3)("bb") ++ Seq.fill(3)("cc") ++
      Seq("dd")).mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis
      .vocabCoverage(docs, "text", Seq(50, 90, 100))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // 50%: need 6 -> aa(5) + 1 word of count 3 = vocab 2, covered 8
    assert(got(50) == ((2L, 8L, 12L)), s"${got(50)}")
    // 90%: need ceil(10.8) = 11 -> aa + both count-3 words = vocab 3, covered 11
    assert(got(90) == ((3L, 11L, 12L)), s"${got(90)}")
    // 100%: the whole vocabulary
    assert(got(100) == ((4L, 12L, 12L)), s"${got(100)}")
  }

  test("gopherQuality: each gate fires on its planted violation, clean doc keeps") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val words = (0 until 60).map(i =>
      s"word${('a' + i % 26).toChar}${('a' + i / 26).toChar}")
    val clean = words.mkString(" ") // 60 distinct alpha tokens, len 5-7
    val short = "tiny doc here" // fails ok_len
    val loops = Seq.fill(30)("again again").mkString(" ") // one bigram dominates
    val nums = (0 until 60).map(i => s"$i").mkString(" ") // all-numeric tokens
    val docs = Seq((1L, clean), (2L, short), (3L, loops), (4L, nums))
      .toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.gopherQuality(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(4), r.getBoolean(5), r.getBoolean(6),
          r.getBoolean(7), r.getBoolean(8), r.getBoolean(9)))).toMap
    // (n_tokens, top_bigram, ok_len, ok_word_len, ok_alpha, ok_repeat, keep)
    val c = got(1L)
    assert(c._1 == 60L && c._3 && c._4 && c._5 && c._6 && c._7, s"clean: $c")
    assert(!got(2L)._3 && !got(2L)._7, "short doc must fail the length gate")
    val l = got(3L)
    // "again again ... again": 60 tokens, the bigram "again again"
    // occupies every adjacent pair -> 59 occurrences >> 18% of 59
    assert(l._1 == 60L && l._2 == 59L && !l._6 && !l._7, s"loops: $l")
    assert(!got(4L)._5 && !got(4L)._7, "numeric doc must fail the alpha gate")
  }

  test("gopherQualityFull: symbol/bullet/ellipsis-line/stop-word gates fire on planted violations (VERDICT r11 #4)") {
    import spark.implicits._
    // 58 distinct 4-letter alpha words + 'the' + 'have': 60 tokens,
    // mean word length ~4, 2 stop words, no repetition — passes all 8
    val base = (0 until 58).map(i =>
      s"w${('a' + i % 26).toChar}${('a' + i / 26).toChar}q")
    val clean = (base ++ Seq("the", "have")).mkString(" ")
    // many '#' symbols: 7*10 > 60 tokens -> ok_symbol fails, tokens unchanged
    val hashy = clean + " # # # # # # #"
    // mid-line ellipses (NOT line-ending): 7 of them trip the symbol cap
    val dotty = base.take(29).mkString(" ") + " ... ... ... ... ... ... ... " +
      (base.drop(29) ++ Seq("the", "have")).mkString(" ") + " end"
    // 10 lines, all bullet-led: 10*10 > 9*10 -> ok_bullet fails
    val bullets = (0 until 10).map(i =>
      "- " + (base.slice(i * 5, i * 5 + 4) ++ Seq(if (i == 0) "the" else "have"))
        .mkString(" ")).mkString("\n")
    // 10 lines, 4 ellipsis-ended: 4*10 > 3*10 -> ok_ellipsis_lines fails
    val trailing = (0 until 10).map(i =>
      (base.slice(i * 5, i * 5 + 5).mkString(" ")) +
        (if (i < 4) " the..." else " have")).mkString("\n")
    // stop-word-free: 60 distinct alpha words, none on the 8-word list
    val stopless = ((0 until 58).map(i =>
      s"z${('a' + i % 26).toChar}${('a' + i / 26).toChar}k") ++
      Seq("zzzp", "zzzq")).mkString(" ")
    val docs = Seq((1L, clean), (2L, hashy), (3L, dotty), (4L, bullets),
      (5L, trailing), (6L, stopless)).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis
      .gopherQualityFull(docs, "doc_id", "text")
      .collect().map { r =>
        r.getLong(0) -> (Map(
          "ok_len" -> r.getBoolean(11), "ok_word_len" -> r.getBoolean(12),
          "ok_alpha" -> r.getBoolean(13), "ok_repeat" -> r.getBoolean(14),
          "ok_symbol" -> r.getBoolean(15), "ok_bullet" -> r.getBoolean(16),
          "ok_ellipsis_lines" -> r.getBoolean(17), "ok_stop" -> r.getBoolean(18),
          "keep" -> r.getBoolean(19)),
          (r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
            r.getLong(8), r.getLong(9)))
      }.toMap
    def gates(id: Long) = got(id)._1
    // clean doc passes every gate
    assert(gates(1L).values.forall(identity), s"clean: ${got(1L)}")
    // each planted violation fails EXACTLY its gate (and keep)
    for ((id, bad) <- Seq(2L -> "ok_symbol", 3L -> "ok_symbol",
      4L -> "ok_bullet", 5L -> "ok_ellipsis_lines", 6L -> "ok_stop")) {
      val g = gates(id)
      assert(!g(bad) && !g("keep"), s"doc $id must fail $bad: $g")
      assert(g.filterNot(e => e._1 == bad || e._1 == "keep").values
        .forall(identity), s"doc $id must fail ONLY $bad: $g")
    }
    // counter sanity: (n_hash, n_ellipsis, n_lines, n_bullet, n_ell_lines, n_stop)
    assert(got(2L)._2._1 == 7L, s"n_hash: ${got(2L)}")
    assert(got(3L)._2._2 == 7L, s"n_ellipsis: ${got(3L)}")
    assert(got(4L)._2._3 == 10L && got(4L)._2._4 == 10L, s"bullets: ${got(4L)}")
    assert(got(5L)._2._5 == 4L, s"ellipsis lines: ${got(5L)}")
    assert(got(6L)._2._6 == 0L && got(1L)._2._6 == 2L, s"n_stop: ${got(6L)}")
  }

  test("linearQualityScore: exact margin vs a driver replay; stored sparse weights round-trip value-identical") {
    import spark.implicits._
    val docs = Seq((1L, "good good words here"), (2L, "bad stuff"),
      (3L, "good bad good")).toDF("doc_id", "text")
    // hand-built dense weights over the 64-bucket space
    val wmap = (0 until 64).map(b => b.toLong -> ((b % 7).toLong - 3L)).toMap
    val wdf = wmap.toSeq.toDF("bkt", "w")
    val got = graft.operators.TextAnalysis
      .linearQualityScore(docs, "doc_id", "text", wdf, bias = 2L,
        buckets = 64, scale = 10L)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))).toMap
    // driver replay: same md5 bucket, unigrams + bigrams, LONG arithmetic
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def bkt(g: String): Long = java.lang.Long.parseLong(md5hex(g).take(6), 16) % 64L
    for ((id, text) <- Seq(1L -> "good good words here", 2L -> "bad stuff",
      3L -> "good bad good")) {
      val t = text.split("\\W+").filter(_.nonEmpty).map(_.toLowerCase)
      val feats = t ++ t.sliding(2).filter(_.length == 2).map(_.mkString(" "))
      val margin = 2L + feats.map(g => wmap(bkt(g))).sum
      assert(got(id)._1 == feats.length.toLong, s"n_feats doc $id: ${got(id)}")
      assert(got(id)._2 == margin, s"margin doc $id: got ${got(id)._2}, want $margin")
      assert(got(id)._3 == margin.toDouble / (feats.length.toLong * 10L).toDouble,
        s"score doc $id")
      assert(got(id)._4 == (margin > 0L), s"keep doc $id")
    }
    // stored-artifact law: sparse weights (zeros pruned) through a parquet
    // round-trip score value-identically — absent buckets default to 0
    val dir = java.nio.file.Files.createTempDirectory("graft_linw").toString
    wdf.filter(col("w") =!= 0L).write.mode("overwrite").parquet(dir)
    val stored = graft.operators.TextAnalysis
      .linearQualityScore(docs, "doc_id", "text",
        spark.read.parquet(dir), bias = 2L, buckets = 64, scale = 10L)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))).toMap
    assert(stored == got, s"stored-sparse must equal dense: $stored vs $got")
  }

  test("c4Clean: each C4 rule fires on its planted violation, clean doc keeps") {
    import spark.implicits._
    // clean: 3 lines, each ≥5 words ending in terminal punct; ≥3 sentences
    val clean = "one two three four five six.\n" +
      "seven eight nine ten eleven!\ntwelve thirteen fourteen fifteen sixteen?"
    // no line survives: too few words / no terminal punct / javascript line
    val shortLines = "one two three.\nfour five six\nseven javascript eight nine ten."
    // only 2 sentences even though lines are retained
    val twoSent = "one two three four five six.\nseven eight nine ten eleven twelve."
    val lorem = clean + "\nthis page has Lorem Ipsum filler inside it okay."
    val curly = clean + "\nalpha beta gamma { delta epsilon zeta."
    val blocked = clean + "\nalpha beta casino gamma delta epsilon."
    val docs = Seq((1L, clean), (2L, shortLines), (3L, twoSent),
      (4L, lorem), (5L, curly), (6L, blocked)).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis
      .c4Clean(docs, "doc_id", "text", blocklist = Seq("casino", "lottery"))
      .collect().map { r =>
        r.getLong(0) -> Map(
          "has_lorem" -> r.getBoolean(4), "has_curly" -> r.getBoolean(5),
          "has_blocked" -> r.getBoolean(6), "ok_lines" -> r.getBoolean(7),
          "ok_sentences" -> r.getBoolean(8), "keep" -> r.getBoolean(9))
      }.toMap
    assert(got(1L).apply("keep") && got(1L).apply("ok_lines") &&
      got(1L).apply("ok_sentences"), s"clean: ${got(1L)}")
    assert(!got(2L).apply("ok_lines") && !got(2L).apply("keep"), s"${got(2L)}")
    assert(!got(3L).apply("ok_sentences") && !got(3L).apply("keep"), s"${got(3L)}")
    assert(got(4L).apply("has_lorem") && !got(4L).apply("keep"), s"${got(4L)}")
    assert(got(5L).apply("has_curly") && !got(5L).apply("keep"), s"${got(5L)}")
    assert(got(6L).apply("has_blocked") && !got(6L).apply("keep"), s"${got(6L)}")
    // each violation doc fails ONLY its rule (rules independent)
    for ((id, bad) <- Seq(4L -> "has_lorem", 5L -> "has_curly", 6L -> "has_blocked")) {
      val g = got(id)
      assert(g("ok_lines") && g("ok_sentences") &&
        g.filter(e => e._1.startsWith("has_") && e._1 != bad).values
          .forall(v => !v), s"doc $id must trip ONLY $bad: $g")
    }
    // blocklist is word-grained, not substring: 'casinos' must NOT match…
    val sub = Seq((7L, clean + "\nalpha beta casinos gamma delta epsilon."))
      .toDF("doc_id", "text")
    val g7 = graft.operators.TextAnalysis
      .c4Clean(sub, "doc_id", "text", blocklist = Seq("casino"))
      .collect().head
    assert(!g7.getBoolean(6) && g7.getBoolean(9), s"substring must not block: $g7")
    // sentences are terminal-mark RUNS: one-line spam ending in an
    // ellipsis ("..." = ONE boundary, not 3) must fail the 3-sentence
    // gate even though its single line is retained (r12 review fix)
    val spam = Seq((8L, "click here now buy this today..."))
      .toDF("doc_id", "text")
    val g8 = graft.operators.TextAnalysis
      .c4Clean(spam, "doc_id", "text").collect().head
    assert(g8.getLong(3) == 1L && g8.getBoolean(7) && !g8.getBoolean(8) &&
      !g8.getBoolean(9), s"ellipsis spam must fail the sentence gate: $g8")
  }

  test("bpeMerges: hand-computed merge sequence with ties and greedy run application") {
    import spark.implicits._
    // words: aaaa x3, bb x1
    val docs = Seq((1L, "aaaa aaaa"), (2L, "aaaa bb")).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.bpeMerges(docs, "text", steps = 5)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    // step 1: (a,a) 9 — three (a,a) pairs per 'aaaa', x3 words
    // step 2: greedy left-to-right turned aaaa into [aa, aa, </w>], so
    //   (aa,aa) and (aa,</w>) tie at 3; '</w>' < 'aa' breaks to (aa,</w>)
    // step 3: [aa, aa</w>] -> (aa, aa</w>) 3
    // step 4: only bb's pairs remain, (b,b) and (b,</w>) tie at 1 ->
    //   (b,</w>)
    // step 5: [b, b</w>] -> (b, b</w>) 1
    assert(got.toSeq == Seq(
      (1, "a", "a", "aa", 9L),
      (2, "aa", "</w>", "aa</w>", 3L),
      (3, "aa", "aa</w>", "aaaa</w>", 3L),
      (4, "b", "</w>", "b</w>", 1L),
      (5, "b", "b</w>", "bb</w>", 1L)), got.toSeq.toString)
    // odd run: greedy application on 'aaaaa' must produce [aa, aa, a]
    // (merge offsets 0 and 2 of the 4-match run), so step 2's pair space
    // is {(aa,aa), (aa,a), (a,</w>)} and the tie at 1 breaks to (a,</w>)
    // — a naive textual replace would leave a different symbol sequence
    // and a different step-2 argmax
    val run = graft.operators.TextAnalysis.bpeMerges(
      Seq((1L, "aaaaa")).toDF("doc_id", "text"), "text", steps = 2)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(4)))
    assert(run.toSeq == Seq((1, "a", "a", 4L), (2, "a", "</w>", 1L)),
      run.toSeq.toString)
    // the segmentation view renders the post-merge vocab
    val seg = graft.operators.TextAnalysis.bpeSegment(docs, "text", steps = 5)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getString(2))))
      .toMap
    assert(seg == Map("aaaa" -> ((3L, "aaaa</w>")), "bb" -> ((1L, "bb</w>"))),
      seg.toString)
  }

  test("stored BPE artifact: stored == learned, parquet round-trip, pin refusals (VERDICT r14 #5)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = Seq((1L, "aaaa aaaa cd"), (2L, "aaaa bb cd cd"))
      .toDF("doc_id", "text")
    val ta = graft.operators.TextAnalysis
    val artifact = ta.bpeVocabArtifact(docs, "text", steps = 4)
    // stored segmentation == learned segmentation, bit-for-bit
    val learned = ta.bpeSegment(docs, "text", steps = 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    val stored = ta.bpeSegmentStored(artifact)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    assert(stored == learned)
    // stored encode == learned encode
    val encL = ta.bpeEncode(docs, "doc_id", "text", steps = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val encS = ta.bpeEncodeStored(docs, "doc_id", "text", artifact)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(encS == encL)
    // parquet round-trip: the artifact IS the stored state
    val dir = java.nio.file.Files.createTempDirectory("bpe_vocab").toString
    artifact.write.mode("overwrite").parquet(dir)
    val reread = spark.read.parquet(dir)
    assert(ta.bpeSegmentStored(reread)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .toSeq == learned, "parquet round-trip changed the segmentation")
    // pin refusals: empty artifact, mixed steps pins
    val e1 = intercept[IllegalArgumentException] {
      ta.bpeSegmentStored(artifact.filter(lit(false)))
    }
    assert(e1.getMessage.contains("empty"), e1.getMessage)
    val other = ta.bpeVocabArtifact(docs, "text", steps = 2)
    val e2 = intercept[IllegalArgumentException] {
      ta.bpeEncodeStored(docs, "doc_id", "text", artifact.unionByName(other))
    }
    assert(e2.getMessage.contains("mixed bpe_steps"), e2.getMessage)
  }

  test("BPE-denominated token budget: kept totals satisfy the budget law per group") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // q155b composition: bpeEncode counts feed tokenBudgetSelect — the
    // kept set per source must start under budget and cross it (unless
    // the source runs dry), in BPE tokens, not whitespace tokens
    val docs = (1 to 24).map(i => (i.toLong,
      if (i % 2 == 0) "a" else "b",
      Seq.fill(1 + i % 4)("abab cd").mkString(" "))) // 2-8 words/doc
      .toDF("doc_id", "source", "text")
    val enc = graft.operators.TextAnalysis
      .bpeEncode(docs, "doc_id", "text", steps = 2)
      .select(col("doc_id"), col("n_bpe_tokens"))
    val budget = 40L
    val kept = graft.operators.DataPrep.tokenBudgetSelect(
        docs.select(col("doc_id"), col("source")).join(enc, Seq("doc_id")),
        "source", "doc_id", "n_bpe_tokens", budget)
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getLong(2), r.getLong(3)))
    assert(kept.nonEmpty)
    kept.groupBy(_._2).foreach { case (src, rows) =>
      rows.foreach { case (id, _, n, cum) =>
        assert(cum - n < budget, s"doc $id of $src starts at ${cum - n}") }
      assert(rows.map(_._3).sum >= budget,
        s"$src kept under budget despite more docs available")
    }
    // BPE counts are the real denomination: with 2 merges every word is
    // still multi-symbol, so the BPE budget admits FEWER docs than the
    // same numeric budget in whitespace tokens would
    val wsKept = graft.operators.DataPrep.tokenBudgetSelect(
        docs.select(col("doc_id"), col("source"),
          size(graft.functions.TextFunctions.tokens(col("text")))
            .cast("long").as("n_tokens")),
        "source", "doc_id", "n_tokens", budget)
      .collect()
    assert(kept.length < wsKept.length,
      s"BPE budget kept ${kept.length} >= whitespace ${wsKept.length}")
  }

  test("pairwiseKappa: hand-computed value, perfect/inverse agreement, undefined case") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // a=40 both-keep, b=10, c=10, d=40 -> po=0.8, pe=0.5, kappa=0.6 exact
    val flags = ((1 to 40).map(_ => (true, true)) ++
      (1 to 10).map(_ => (true, false)) ++
      (1 to 10).map(_ => (false, true)) ++
      (1 to 40).map(_ => (false, false))).toDF("x", "y")
    val got = graft.operators.TextAnalysis.pairwiseKappa(flags,
      Seq(("x", "y", "x", "y"))).collect().head
    assert(got.getLong(2) == 100L && got.getLong(3) == 80L)
    assert(got.getDouble(4) == 0.6, got.getDouble(4).toString)
    // perfect agreement -> 1.0; perfect disagreement -> kappa < 0
    val perfect = Seq((true, true), (false, false), (true, true))
      .toDF("x", "y")
    assert(graft.operators.TextAnalysis.pairwiseKappa(perfect,
      Seq(("x", "y", "x", "y"))).collect().head.getDouble(4) == 1.0)
    val inverse = Seq((true, false), (false, true)).toDF("x", "y")
    assert(graft.operators.TextAnalysis.pairwiseKappa(inverse,
      Seq(("x", "y", "x", "y"))).collect().head.getDouble(4) < 0)
    // both raters constant -> pe = 1 -> kappa undefined -> NULL
    val const = Seq((true, true), (true, true)).toDF("x", "y")
    assert(graft.operators.TextAnalysis.pairwiseKappa(const,
      Seq(("x", "y", "x", "y"))).collect().head.isNullAt(4))
    // duplicate (labelA, labelB) pairs refuse LOUDLY with the offender
    // named, not as a downstream ambiguous-alias AnalysisException
    // (ADVICE r14)
    val dup = intercept[IllegalArgumentException] {
      graft.operators.TextAnalysis.pairwiseKappa(flags,
        Seq(("x", "y", "x", "y"), ("x", "y", "y", "x")))
    }
    assert(dup.getMessage.contains("duplicate gate pair") &&
      dup.getMessage.contains("x/y"), dup.getMessage)
  }

  test("dsirScore: target-like docs rank above novel docs; bit-identical under repartitioning") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // targets (ids 97, 194 — the %97 convention) speak in 'alpha beta'
    // bigrams; raw doc 1 mimics them, raw doc 2 is all-novel bigrams
    val target = Seq.fill(20)("alpha beta").mkString(" ")
    val mimic = Seq.fill(10)("alpha beta").mkString(" ")
    val novel = (0 until 20).map(i => s"w$i").mkString(" ")
    val docs = Seq((97L, target), (194L, target), (1L, mimic), (2L, novel))
      .toDF("doc_id", "text")
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.operators.TextAnalysis.dsirScore(df, "doc_id", "text",
        isTarget = col("doc_id") % 97 === 0)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val got = run(docs)
    val byId = got.map(g => g._1 -> g).toMap
    // every doc with >= 1 bigram appears; gram counts are exact
    assert(got.length == 4 && byId(1L)._2 == 19L && byId(2L)._2 == 19L,
      got.toSeq.toString)
    // the mimic's buckets carry high target mass -> higher mean ratio
    assert(byId(1L)._3 > byId(2L)._3,
      s"target-like doc must outscore novel doc: ${byId(1L)} vs ${byId(2L)}")
    assert(byId(2L)._3 < 1.0,
      s"all-novel doc must score below the neutral ratio: ${byId(2L)}")
    // the bucket-ordered fold makes the double BIT-identical on rerun
    // and repartition (partial-agg ordering can never change a ULP)
    val re = run(docs.repartition(7))
    assert(re.map(g => (g._1, g._2,
      java.lang.Double.doubleToLongBits(g._3))).toSet ==
      got.map(g => (g._1, g._2,
        java.lang.Double.doubleToLongBits(g._3))).toSet,
      "repartitioning changed a score bit")
    // stored form: scoring the learn corpus against its own ratio table
    // (through a parquet round-trip) is VALUE-identical to the inline
    // form, and an all-unseen-bucket batch gets the exact smoothed
    // default, not dropped rows
    val dir = java.nio.file.Files.createTempDirectory("dsir_ratio").toString
    graft.operators.TextAnalysis.dsirRatioTable(docs, "doc_id", "text",
      isTarget = col("doc_id") % 97 === 0)
      .write.mode("overwrite").parquet(dir)
    val stored = spark.read.parquet(dir)
    val viaStore = graft.operators.TextAnalysis.dsirScoreStored(
      docs, "doc_id", "text", stored)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSet
    assert(viaStore == got.map(g => (g._1, g._2,
      java.lang.Double.doubleToLongBits(g._3))).toSet,
      "stored scoring of the learn corpus diverged from inline")
    val unseen = graft.operators.TextAnalysis.dsirScoreStored(
      Seq((9L, "zq zr")).toDF("doc_id", "text"), "doc_id", "text", stored)
      .head()
    val hd = stored.select(col("nt"), col("nr")).head()
    val rDef = (1.0 / (hd.getLong(0) + 4096L).toDouble) /
      (1.0 / (hd.getLong(1) + 4096L).toDouble)
    assert(unseen.getLong(1) == 1L &&
      java.lang.Double.doubleToLongBits(unseen.getDouble(2)) ==
        java.lang.Double.doubleToLongBits(rDef),
      s"unseen bucket must score the exact smoothed default: $unseen vs $rDef")
    // the artifact records its bucket count; a scorer run at a different
    // count must refuse loudly, not silently mis-hash (r12 advice)
    assert(stored.columns.contains("buckets"),
      "ratio table must persist its bucket count")
    val mism = intercept[IllegalArgumentException] {
      graft.operators.TextAnalysis.dsirScoreStored(
        docs, "doc_id", "text", stored, buckets = 8192)
    }
    assert(mism.getMessage.contains("buckets=4096"),
      s"mismatch message should name the stored count: ${mism.getMessage}")
  }

  test("readability: hand-computed centi-integer FK grade and reading ease on planted text") {
    import spark.implicits._
    // "the cat sat. the dog ran!" -> 6 words, 2 sentences, 6 vowel
    // groups. True FK = 0.39*3 + 11.8*1 - 15.59 = -2.62; the declared
    // centi-integer form: (39*6) div 2 + (1180*6) div 6 - 1559
    //                   = 117 + 1180 - 1559 = -262 — exact here since
    // both divisions are integral.
    val docs = Seq(
      (1L, "the cat sat. the dog ran!"),
      (2L, "zzz qqq"), // zero vowel groups, zero sentences (floored to 1)
      (3L, "")         // zero words -> filtered out
    ).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis
      .readability(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    assert(!got.contains(3L), "empty doc must be filtered")
    val (w, s2, sy, fk, ease) = got(1L)
    assert((w, s2, sy) == (6L, 2L, 6L), s"counters: ${got(1L)}")
    assert(fk == -262L, s"fk=$fk")
    assert(ease == 20683L - (10150L * 6) / (100 * 2) - (8460L * 6) / 6,
      s"ease=$ease")
    // vowel-free text: syllable term vanishes, sentence floor holds
    val (w2, s22, sy2, fk2, _) = got(2L)
    assert((w2, s22, sy2) == (2L, 1L, 0L))
    assert(fk2 == 39L * 2 - 1559L, s"fk2=$fk2")
  }

  test("BpeMergeApply == retained aggregate-fold reference (r19 native swap)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // adversarial symbol arrays: overlapping l==r runs, match at start/
    // end, no match, single symbol, the </w> marker, multi-byte symbols
    val arrays = Seq(
      Seq("a", "a", "a", "a", "</w>"),
      Seq("a", "b", "a", "b", "a", "</w>"),
      Seq("ab", "c", "ab", "c"),
      Seq("x"), Seq("a", "b"), Seq("b", "a"),
      Seq("世", "界", "世", "界", "</w>"),
      Seq("q", "r", "s", "t", "u", "v"))
    val pairs = Seq(("a", "a"), ("a", "b"), ("b", "a"), ("ab", "c"),
      ("世", "界"), ("</w>", "a"), ("t", "u"))
    val df = arrays.toDF("s")
    for ((l, r) <- pairs) {
      val out = df.select(
        graft.functions.BpeMergeApply(col("s"), l, r).as("n"),
        TextAnalysis.bpeMergeApplyReference(col("s"), l, r).as("ref"))
        .collect()
      out.foreach { row =>
        assert(row.getSeq[String](0) == row.getSeq[String](1),
          s"pair ($l,$r): ${row.getSeq[String](0)} != ${row.getSeq[String](1)}")
      }
    }
    // non-vacuity: at least one pair merges an overlapping run greedily
    val greedy = df.select(graft.functions.BpeMergeApply(col("s"), "a", "a"))
      .collect()(0).getSeq[String](0)
    assert(greedy == Seq("aa", "aa", "</w>"))
  }
}
