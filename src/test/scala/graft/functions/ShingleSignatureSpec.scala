package graft.functions

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.functions.TextFunctions._

/** Differential laws for the per-document near-dedup kernel: each native
  * result must equal its reference composition, on the sf0.01 corpus and
  * on hostile input (short, empty and null text, repeated shingles,
  * malformed UTF-8, non-ASCII case-folding letters), and codegen'd and
  * interpreted evaluation must agree.
  */
class ShingleSignatureSpec extends SparkSpec {

  /** The sf0.01 corpus, beside the suite's sf0.001 one. */
  private val sf01 = new java.io.File(new java.io.File(sf001).getParentFile, "sf0.01").getPath

  /** Texts that stress the tokenizer and the hash inputs. */
  private val hostileTexts: Seq[String] = Seq(
    null, "", "   ", "one", "two words", "a b c", "a a a a a a a",
    "x y z x y z x y z", "Stra\u017Fe stra\u017Fe STRASSE \u017Fo \u017Fo \u017Fo",
    "\u212Aelvin \u212Aelvin kelvin KELVIN k k k", "\u0130stanbul \u0130 i I \u0131 i\u0307 x",
    "café naïve résumé über über", "😀 emoji 😀 words here")

  /** Malformed UTF-8 (lone continuation, truncated sequences, overlongs)
    * as strings via `cast(binary as string)`, which keeps the raw bytes. */
  private val malformed: Seq[Array[Byte]] = Seq(
    Array(0x80, 0x61, 0x20, 0x62, 0x20, 0x63),
    Array(0x61, 0x20, 0xC3, 0x20, 0x62, 0x20, 0x63, 0x20, 0x64),
    Array(0xE2, 0x82, 0x20, 0x78, 0x20, 0x79, 0x20, 0x7A),
    Array(0xC0, 0xAF, 0x20, 0xFF, 0x20, 0xFE, 0x20, 0x71),
    Array(0xED, 0xA0, 0x80, 0x20, 0x70, 0x20, 0x71, 0x20, 0x72)).map(_.map(_.toByte))

  /** (id, sh) over the corpus plus the hostile texts, through the
    * engine's tokenizer and shingler; repartitioned so the projections
    * above it are not folded into a local relation by the optimizer. */
  private def textShingles(): DataFrame = {
    import spark.implicits._
    val corpus = graft.sources.Tables.load(spark, sf01, "documents")
      .select(col("doc_id").as("id"), col("text"))
    val hostile = hostileTexts.zipWithIndex.map { case (t, i) => (-1L - i, t) }
      .toDF("id", "text")
    val bad = spark.createDataFrame(
        spark.sparkContext.parallelize(malformed.zipWithIndex.map { case (b, i) =>
          Row(-100L - i, b) }),
        StructType(Seq(StructField("id", LongType), StructField("b", BinaryType))))
      .select(col("id"), col("b").cast("string").as("text"))
    corpus.unionByName(hostile).unionByName(bad).repartition(3)
      .select(col("id"), shingles(tokens(col("text"))).as("sh"))
  }

  /** Raw shingle arrays the shingler never emits: repeated elements, null
    * elements, malformed UTF-8 elements, empty and null arrays. */
  private def rawArrays(): DataFrame = {
    val arrays: Seq[Seq[Array[Byte]]] = Seq(
      Seq("a b c", "a b c", "d e f"), Seq("a b c", "d e f", "d e f", "d e f"),
      Seq("x", null, "y"), Seq(null), Seq.empty, null,
      Seq("\u017F", "s", "\u212A", "k", "\u0130", "i")
    ).map(a => if (a == null) null else a.map(s => if (s == null) null else s.getBytes("UTF-8"))) ++
      Seq(malformed, malformed.take(2) ++ malformed.take(2))
    spark.createDataFrame(
        spark.sparkContext.parallelize(arrays.zipWithIndex.map { case (a, i) =>
          Row(i.toLong, a) }),
        StructType(Seq(StructField("id", LongType),
          StructField("bs", ArrayType(BinaryType)))))
      .repartition(2)
      .select(col("id"), transform(col("bs"), b => b.cast("string")).as("sh"))
  }

  /** The reference composition: explode → seeded hash60 (the pure
    * conv(substring(md5)) builtin form) → min per seed → band strings. */
  private def minhashReference(df: DataFrame): DataFrame = {
    val hashed = df.select(col("id"), explode(col("sh")).as("s"))
      .select(col("id") +: (0 until 8).map(i =>
        hash60Reference(concat(lit(i).cast("string"), lit(":"), col("s"))).as(s"h$i")): _*)
    hashed.groupBy(col("id"))
      .agg(min(col("h0")).as("m0"), (1 until 8).map(i => min(col(s"h$i")).as(s"m$i")): _*)
      .filter(col("m0").isNotNull)
      .select(col("id"), array((0 until 4).map(b =>
        concat(col(s"m${2 * b}"), lit(","), col(s"m${2 * b + 1}"))): _*).as("ref"))
  }

  private def assertMinhashMatches(df: DataFrame, what: String): Unit = {
    val nat = df.select(col("id"), MinHashBands(col("sh")).as("fast"))
    val joined = nat.join(minhashReference(df), Seq("id"), "full_outer")
    val bad = joined.filter(not(col("fast") <=> col("ref"))).collect()
    assert(bad.isEmpty, s"$what: ${bad.take(5).mkString("; ")}")
    // non-vacuity: some rows have signatures, some have none
    assert(joined.filter(col("fast").isNotNull).count() > 0)
  }

  test("minhash_bands == explode → hash60Seeded → min on corpus and hostile text") {
    val df = textShingles().cache()
    try {
      assertMinhashMatches(df, "text")
      // documents without shingles (short, empty, null) have NO signature
      val noSig = df.filter(col("id").between(-5L, -1L))
        .select(MinHashBands(col("sh")).as("m")).collect()
      assert(noSig.length == 5 && noSig.forall(_.isNullAt(0)), noSig.mkString(","))
    } finally df.unpersist()
  }

  test("minhash_bands == reference on raw arrays: repeats, nulls, malformed UTF-8") {
    assertMinhashMatches(rawArrays(), "raw")
  }

  test("shingle_keys == array_sort(transform(xxhash64)) on text and raw arrays") {
    for ((df, what) <- Seq(textShingles() -> "text", rawArrays() -> "raw")) {
      val bad = df.select(col("id"), ShingleKeys(col("sh")).as("fast"),
          array_sort(transform(col("sh"), s => xxhash64(s))).as("ref"))
        .filter(not(col("fast") <=> col("ref"))).collect()
      assert(bad.isEmpty, s"$what: ${bad.take(5).mkString("; ")}")
    }
  }

  /** The replaced verification form: per-pair row count of the
    * (doc, xxhash64(shingle)) equi-join. Pairs with no common key have
    * no row. */
  private def overlapReference(df: DataFrame, pairs: DataFrame): DataFrame = {
    val kept = df.select(col("id"), explode(col("sh")).as("s"))
      .select(col("id"), xxhash64(col("s")).as("sk"))
    pairs
      .join(kept.select(col("id").as("da"), col("sk")), "da")
      .join(kept.select(col("id").as("db2"), col("sk").as("sk2")),
        col("db") === col("db2") && col("sk") === col("sk2"))
      .groupBy(col("da"), col("db")).agg(count(lit(1)).as("ref"))
  }

  private def overlapNative(df: DataFrame, pairs: DataFrame): DataFrame = {
    val k = df.select(col("id"), ShingleKeys(col("sh")).as("k"))
    pairs
      .join(k.select(col("id").as("da"), col("k").as("ka")), "da")
      .join(k.select(col("id").as("db"), col("k").as("kb")), "db")
      .select(col("da"), col("db"), SortedKeyOverlap(col("ka"), col("kb")).as("fast"))
  }

  private def assertOverlapMatches(df: DataFrame, pairs: DataFrame, what: String): Unit = {
    val joined = overlapNative(df, pairs)
      .join(overlapReference(df, pairs), Seq("da", "db"), "full_outer")
      // a NULL key array (null text) shares nothing: the join form has no row
      .select(col("da"), col("db"), coalesce(col("fast"), lit(0L)).as("fast"),
        coalesce(col("ref"), lit(0L)).as("ref"))
    val bad = joined.filter(not(col("fast") <=> col("ref"))).collect()
    assert(bad.isEmpty, s"$what: ${bad.take(5).mkString("; ")}")
    assert(joined.filter(col("ref") > 0).count() > 0, s"$what: no overlapping pair")
  }

  test("sorted_key_overlap == the (db, xxhash64) join count, multiplicity included") {
    import spark.implicits._
    val text = textShingles().cache()
    try {
      // planted-duplicate candidate pairs of the corpus plus neighbours
      // and every hostile pairing
      val docs = graft.sources.Tables.load(spark, sf01, "documents")
      val cands = graft.operators.Curation.minhashCandidates(docs)
      val ids = text.select("id").as[Long].collect().sorted
      val extra = (ids.zip(ids.drop(1)) ++ (for (a <- ids if a < 0; b <- ids if b < 0) yield (a, b)))
        .toSeq.toDF("da", "db")
      assertOverlapMatches(text, cands.unionByName(extra).distinct(), "text")
    } finally text.unpersist()
    val raw = rawArrays()
    val rawPairs = (for (a <- 0L to 8L; b <- 0L to 8L) yield (a, b)).toDF("da", "db")
    assertOverlapMatches(raw, rawPairs, "raw")
    // a key repeated 2× on one side and 3× on the other counts 6, plus 1
    // for the shared 9
    assert(SortedKeyOverlap.compute(
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array(1L, 5L, 5L, 9L)),
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array(5L, 5L, 5L, 9L))) == 7L)
  }

  test("codegen and interpreted evaluation agree for all three expressions") {
    val df = textShingles()
      .unionByName(rawArrays().withColumn("id", col("id") + 1000000L)).cache()
    def run(mode: String): Seq[Row] = {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      spark.conf.set("spark.sql.codegen.wholeStage", (mode == "CODEGEN_ONLY").toString)
      try {
        val k = ShingleKeys(col("sh"))
        df.select(col("id"), MinHashBands(col("sh")).as("m"), k.as("k"),
            SortedKeyOverlap(k, k).as("self"))
          .orderBy(col("id")).collect().toSeq
      } finally {
        spark.conf.unset("spark.sql.codegen.factoryMode")
        spark.conf.unset("spark.sql.codegen.wholeStage")
      }
    }
    try {
      val compiled = run("CODEGEN_ONLY")
      val interpreted = run("NO_CODEGEN")
      assert(compiled.nonEmpty && compiled == interpreted)
    } finally df.unpersist()
  }
}
