package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class DedupSpec extends SparkSpec {

  test("containmentPairs: a boilerplate superset scores ~1 containment while jaccard stays low") {
    import spark.implicits._
    // A's 12 tokens (10 shingles) are a strict prefix of B, which wraps
    // them in 28 extra tokens: containment(A in B) = 1.0, jaccard ~ 10/36
    val core = (0 until 12).map(i => s"core$i").mkString(" ")
    val wrap = (0 until 28).map(i => s"wrap$i").mkString(" ")
    val other = (0 until 12).map(i => s"alien$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("contain").toString
    Seq((1L, core, "en", "a", core.length.toLong),
      (2L, core + " " + wrap, "en", "a", (core + wrap).length.toLong + 1),
      (3L, other, "en", "a", other.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.SparkEntry.queries("q159_containment_pairs")(spark, dir)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))))
    // only the (1, 2) pair shares shingles
    assert(got.map(_._1).toSeq == Seq((1L, 2L)), got.toSeq.toString)
    val (contA, contB, cont) = got.head._2
    assert(contA == 1.0, s"A fully contained in B: $contA")
    assert(contB < 0.3 && cont == 1.0, s"($contB, $cont)")
    // jaccard on the same corpus stays far below the containment signal
    val jac = graft.SparkEntry.queries("q36_dedup_ngram_jaccard")(spark, dir)
      .collect().map(r => r.getDouble(2)).max
    assert(jac < 0.3, s"jaccard must miss the superset pair: $jac")
  }

  test("paragraph dedup drops cross-doc boilerplate, keeps order, counts both sides") {
    import spark.implicits._
    val docs = Seq(
      (1L, "intro one\nSHARED BOILERPLATE\nbody a"),
      (2L, "intro two\nSHARED BOILERPLATE\nbody b"),
      (3L, "unique только\nsolo text"),
      (4L, "SHARED BOILERPLATE")).toDF("doc_id", "text")
    val got = Dedup.paragraphDedup(docs, "doc_id", "text", "\n", maxDf = 1L)
      .orderBy(col("doc_id"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got === Array(
      (1L, "intro one\nbody a", 2L, 1L),
      (2L, "intro two\nbody b", 2L, 1L),
      (3L, "unique только\nsolo text", 2L, 0L),
      // every paragraph dropped → empty text, not a missing row
      (4L, "", 0L, 1L)))
  }

  test("paragraph dedup at maxDf=2 keeps a twice-shared paragraph") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a\nB"), (2L, "c\nB"), (3L, "d")).toDF("doc_id", "text")
    val got = Dedup.paragraphDedup(docs, "doc_id", "text", "\n", maxDf = 2L)
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got === Seq((1L, "a\nB"), (2L, "c\nB"), (3L, "d")))
  }

  test("bloom decontamination: no misses ever; generous sizing matches exact") {
    import spark.implicits._
    val vocab = Array("alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
      "golf", "hotel", "india", "juliet", "kilo", "lima")
    def text(seed: Int) =
      (0 until 30).map(i => vocab((seed * 7 + i * 3) % vocab.length)).mkString(" ")
    val evalDocs = Seq((100L, text(1)), (101L, text(2))).toDF("doc_id", "text")
    // train: 10 clean docs + 3 docs embedding an eval 4-gram verbatim
    val leak = text(1).split(" ").slice(5, 9).mkString(" ")
    val train = (
      (0 until 10).map(i => (i.toLong, text(10 + i))) ++
        Seq((20L, s"zulu yankee $leak xray whiskey"),
          (21L, s"victor uniform $leak tango sierra"),
          (22L, s"romeo quebec $leak papa oscar"))).toDF("doc_id", "text")
    val exactKept = DataPrep.decontaminate(train, evalDocs, "doc_id", "text", 4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // generous sizing: FP probability ~0 → bloom == exact
    val bloomKept = DataPrep.decontaminateBloom(train, evalDocs, "doc_id", "text",
        4, expectedItems = 10000L, numBits = 160000L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(bloomKept === exactKept)
    // aggressive sizing (64 bits for ~54 grams): false positives WILL
    // over-drop, but the one-sided law still holds — nothing
    // exact-contaminated survives
    val tinyKept = DataPrep.decontaminateBloom(train, evalDocs, "doc_id", "text",
        4, expectedItems = 54L, numBits = 64L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(tinyKept.subsetOf(exactKept),
      s"bloom kept a doc exact decontamination drops: ${tinyKept -- exactKept}")
  }

  test("bloom decontamination with a gram-free eval set is a no-op like the exact form") {
    import spark.implicits._
    val train = Seq((1L, "alpha bravo charlie delta echo")).toDF("doc_id", "text")
    val emptyEval = Seq((9L, "ab")).toDF("doc_id", "text") // < n tokens → no grams
    val kept = DataPrep.decontaminateBloom(train, emptyEval, "doc_id", "text",
        4, expectedItems = 100L, numBits = 1024L)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(kept === Seq(1L))
  }

  test("paragraph dedup with an unreachable maxDf is the identity on paragraph content") {
    import spark.implicits._
    // generated docs: deterministic pseudo-random paragraph counts and
    // contents, including repeated paragraphs ACROSS docs — with maxDf
    // beyond the corpus size nothing drops, so reassembly must
    // reconstruct every document byte-for-byte (order + delimiter)
    val docs = (1 to 60).map { i =>
      val nPars = 1 + (i * 7) % 5
      val pars = (0 until nPars).map(p => s"para ${(i + p) % 13} body ${(i * p) % 7}")
      (i.toLong, pars.mkString("\n"))
    }.toDF("doc_id", "text")
    val got = Dedup.paragraphDedup(docs, "doc_id", "text", "\n", maxDf = 1000000L)
      .select(col("doc_id"), col("clean_text"), col("n_dropped"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq.sortBy(_._1)
    val expected = docs.collect().map(r => (r.getLong(0), r.getString(1), 0L)).toSeq.sortBy(_._1)
    assert(got === expected)
  }

  test("paragraph dedup ignores empty/whitespace paragraphs entirely") {
    import spark.implicits._
    // the blank line appears in both docs but is never counted or kept
    val docs = Seq((1L, "x\n\ny"), (2L, "z\n\nw")).toDF("doc_id", "text")
    val got = Dedup.paragraphDedup(docs, "doc_id", "text", "\n", maxDf = 1L)
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === Seq((1L, "x\ny", 2L, 0L), (2L, "z\nw", 2L, 0L)))
  }

  test("substring dedup: keep-first span semantics, coverage union, short docs untouched") {
    import spark.implicits._
    val k = 4
    val shared = (1 to 6).map(i => s"s$i").mkString(" ")        // 6-token shared run
    val docs = Seq(
      // doc 1 holds the corpus-wide FIRST occurrence of the shared run
      (1L, s"a1 a2 $shared a3 a4"),
      // doc 2 repeats it mid-document → its copy must vanish entirely
      (2L, s"b1 b2 b3 $shared b4"),
      // doc 3: within-document repetition — second copy dropped, first kept
      (3L, s"c1 r1 r2 r3 r4 c2 r1 r2 r3 r4 c3"),
      // doc 4: shorter than k → no spans, fully kept
      (4L, "tiny doc here")).toDF("doc_id", "text")
    val got = Dedup.substringDedup(docs, "doc_id", "text", k = k)
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toMap2
    // doc 1: first occurrence — nothing dropped
    assert(got(1L) == (10L, 10L, 0L))
    // doc 2: exactly the 6 shared tokens dropped (coverage union of the
    // three overlapping flagged 4-grams), 4 of its own kept
    assert(got(2L) == (10L, 4L, 6L))
    // doc 3: the second r1..r4 run dropped, first kept
    assert(got(3L) == (11L, 7L, 4L))
    // doc 4: < k tokens, untouched
    assert(got(4L) == (3L, 3L, 0L))
    // md5 reconstruction: doc 2's survivors are its non-shared tokens
    val m = Dedup.substringDedup(docs, "doc_id", "text", k = k)
      .filter(col("doc_id") === 2L).select("clean_md5").head().getString(0)
    val expected = java.security.MessageDigest.getInstance("MD5")
      .digest("b1 b2 b3 b4".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(m == expected)
  }

  test("substringDedupText emits the text whose md5 substringDedup reports") {
    val docs = graft.sources.Tables.documents(spark, sf001)
      .select(col("doc_id"), col("text"))
    val digests = Dedup.substringDedup(docs, "doc_id", "text", k = 4)
    val texts = Dedup.substringDedupText(docs, "doc_id", "text", k = 4)
    val joined = digests.join(texts, "doc_id")
    assert(joined.count() == docs.count())
    // same coverage stats and clean_md5 == md5(clean_text), row for row
    val bad = joined.filter(
      digests("n_kept") =!= texts("n_kept") ||
      digests("n_dropped") =!= texts("n_dropped") ||
      col("clean_md5") =!= md5(col("clean_text")))
    assert(bad.count() == 0, bad.limit(5).collect().mkString("\n"))
    // the corpus actually exercises dropping at k=4 (q93b's pin)
    assert(texts.filter(col("n_dropped") > 0).count() > 0)
  }

  test("fuzzy decontamination: exact eval copy drops, disjoint and tiny docs survive") {
    import spark.implicits._
    val evalText = "alpha bravo charlie delta echo foxtrot golf hotel india juliett"
    val evalSet = Seq((970L, evalText)).toDF("doc_id", "text")
    val train = Seq(
      (1L, evalText),                                  // exact copy: all bands collide, J=1.0
      (2L, "nothing in common with anything at all here"), // disjoint
      (3L, "tiny doc")                                 // < 3 tokens: no shingles, no bands
    ).toDF("doc_id", "text")
    val kept = Dedup.decontaminateFuzzy(train, evalSet, "doc_id", "text", 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L))
    val pairs = Dedup.fuzzyContaminatedPairs(train, evalSet, "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq == Seq((1L, 970L, 1.0)))
  }

  test("fuzzy decontamination: the exact-Jaccard confirm rejects sub-threshold band collisions") {
    import spark.implicits._
    val evalText = "alpha bravo charlie delta echo foxtrot golf hotel india juliett"
    val evalSet = Seq((970L, evalText)).toDF("doc_id", "text")
    // a strict near-dup: eval text minus its last token → J = 7/8 < 1.0.
    // Whether its bands collide is fixed by the pinned md5 hash family
    // (q37 oracle), but EITHER path must keep it at threshold 1.0 —
    // no candidate, or candidate rejected by the confirm.
    val near = Seq((5L, "alpha bravo charlie delta echo foxtrot golf hotel india"))
      .toDF("doc_id", "text")
    val keptStrict = Dedup.decontaminateFuzzy(near, evalSet, "doc_id", "text", 1.0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptStrict == Set(5L))
    // at 0.5 the same doc IS a confirmed near-dup (J = 0.875): this pins
    // that banding actually surfaces it as a candidate
    val pairs = Dedup.fuzzyContaminatedPairs(near, evalSet, "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq == Seq((5L, 970L, 0.875)))
  }

  test("fuzzy decontamination on the corpus: every reported pair meets the threshold") {
    val docs = graft.sources.Tables.documents(spark, sf001)
      .select(col("doc_id"), col("text"))
    val train = docs.filter(col("doc_id") % 97 =!= 0)
    val evalSet = docs.filter(col("doc_id") % 97 === 0)
    val pairs = Dedup.fuzzyContaminatedPairs(train, evalSet, "doc_id", "text", 0.5)
      .collect()
    assert(pairs.nonEmpty, "the sf0.001 corpus must contain near-dups of eval docs")
    assert(pairs.forall(_.getDouble(2) >= 0.5))
    val droppedIds = pairs.map(_.getLong(0)).toSet
    val kept = Dedup.decontaminateFuzzy(train, evalSet, "doc_id", "text", 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val trainIds = train.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == trainIds -- droppedIds)
  }

  test("corpus overlap: shard-merged HLL state == whole-corpus state; laws hold") {
    import org.apache.spark.sql.functions._
    val hll = graft.mr.Aggregators.Hll(14)
    val docs = graft.sources.Tables.documents(spark, sf001)
    val a = docs.filter(col("doc_id") % 2 === 0)
    val b = docs.filter(col("doc_id") % 2 =!= 0)
    // mergeability: sketching a disjoint split and folding the states is
    // REGISTER-IDENTICAL to sketching the whole corpus (max is
    // associative/commutative/idempotent) — the property that lets
    // per-shard sketches persist and refresh incrementally
    val whole = Dedup.shingleHllState(docs)
    val merged = hll.store(hll.merge(
      hll.load(Dedup.shingleHllState(a)),
      hll.load(Dedup.shingleHllState(b))))
    assert(merged.sameElements(whole))
    // estimate law on the union path used by q106
    val (ea, eb, eu) = Dedup.overlapEstimates(
      Dedup.shingleHllState(a), Dedup.shingleHllState(b))
    val exact = docs
      .select(graft.functions.TextFunctions.tokens(col("text")).as("t"))
      .select(explode(graft.functions.TextFunctions.shingles(col("t"))).as("s"))
      .agg(countDistinct(col("s"))).head().getLong(0)
    assert(math.abs(eu - exact) <= exact * 0.05, s"est=$eu exact=$exact")
    assert(ea <= eu + 1 && eb <= eu + 1) // union dominates (register max)
  }

  test("dedupNormalized collapses case/punct/whitespace variants; distinct content stays apart") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val variants = Seq(
      "Hello,  World! 42", "hello world", "HELLO\tWORLD?", " hello   world. ",
      "goodbye world")
    val norm = variants.toDF("text")
      .select(graft.functions.TextFunctions.dedupNormalized(col("text")))
      .as[String].collect()
    assert(norm.take(4).toSet == Set("hello world"),
      s"all four variants must canonicalize identically, got ${norm.take(4).toSeq}")
    assert(norm(4) == "goodbye world")
    // non-Latin letters SURVIVE canonicalization (ADVICE r10): distinct
    // zh/cyrillic/accented docs must not all collapse to ""
    val multi = Seq("你好，世界！ 42", "Привет, мир!", "Café  Déjà-vu 7",
      "你好，世界！ 43")
      .toDF("text")
      .select(graft.functions.TextFunctions.dedupNormalized(col("text")))
      .as[String].collect()
    assert(multi(0) == "你好世界" && multi(1) == "привет мир" &&
      multi(2) == "café déjàvu",
      s"unicode letters must be kept: ${multi.toSeq}")
    assert(multi(0) == multi(3), "digit-tail variants of the zh doc collapse")
    assert(multi.toSet.size == 3, "distinct multilingual content stays apart")
    // the declared query's collapse law: every group holds exactly the
    // three constructed variants
    val rows = graft.SparkEntry.queries("q133_normalized_dedup")(spark, sf001)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) == 3L, s"group ${r.getString(0)}: n_copies ${r.getLong(2)}")
      assert(r.getLong(3) == 3L, s"group ${r.getString(0)}: variants ${r.getLong(3)}")
    }
  }

  test("bestOfGroup picks the total-order argmax per group; q151 keeps the longest variant") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // ties on score break by id ASC — total order, deterministic winner
    val rows = Seq(("g1", 1L, 5L), ("g1", 2L, 9L), ("g1", 3L, 9L),
      ("g2", 4L, 1L), ("g3", 5L, 0L))
      .toDF("g", "id", "score")
    val got = Dedup.bestOfGroup(rows, col("g"),
      Seq(col("score").desc, col("id")))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map("g1" -> ((2L, 9L)), "g2" -> ((4L, 1L)), "g3" -> ((5L, 0L))))
    // declared q151 law: every cluster keeps its punctuation-tailed
    // variant (strictly longest) with all 3 members accounted
    val reps = graft.SparkEntry.queries("q151_cluster_representative")(spark, sf001)
      .collect()
    assert(reps.nonEmpty)
    reps.foreach { r =>
      assert(r.getLong(1) >= 2000000000L,
        s"cluster ${r.getString(0)}: rep ${r.getLong(1)} is not the tailed variant")
      assert(r.getLong(3) == 3L, s"cluster ${r.getString(0)}: ${r.getLong(3)} members")
    }
  }

  private implicit class RowsToMap(rows: Array[(Long, Long, Long, Long)]) {
    def toMap2: Map[Long, (Long, Long, Long)] =
      rows.map(r => r._1 -> ((r._2, r._3, r._4))).toMap
  }
}
