package graft

/** The extensions class makes the engine's custom expressions callable
  * from SQL on every [[GraftSession]] session, the shared test session
  * included.
  */
class GraftExtensionsSpec extends SparkSpec {

  test("yamr_partition and md5_hash60 registered via SparkSessionExtensions are callable from SQL") {
    val rows = spark.sql(
      "SELECT yamr_partition('aa', 3) AS p1, yamr_partition('moasold', 3) AS p2, yamr_partition('bbsa', 4) AS p3")
      .collect()(0)
    // reference goldens, tests/test_partition.py:43-47
    assert(rows.getInt(0) == 2 && rows.getInt(1) == 1 && rows.getInt(2) == 1)
    // md5_hash60 must equal its hex-string reference form
    val h = spark.sql(
      """SELECT md5_hash60('hello') AS fast,
                CAST(conv(substring(md5('hello'), 1, 15), 16, 10) AS BIGINT) AS slow""")
      .collect()(0)
    assert(h.getLong(0) == h.getLong(1))
    val v = spark.sql(
      "SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d, " +
        "squared_distance(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS sq")
      .collect()(0)
    assert(v.getDouble(0) == 11.0 && v.getDouble(1) == 8.0, v.toString)
    val t = spark.sql(
      "SELECT word_shingles(array('a','b','a','b'), 2) AS sh, " +
        "word_ngrams(array('a','b','a','b'), 2) AS ng")
      .collect()(0)
    assert(t.getSeq[String](0) == Seq("a b", "b a"), t.toString)
    assert(t.getSeq[String](1) == Seq("a b", "b a", "a b"), t.toString)
    // image_header parses real container headers from SQL (GIF fixture:
    // 'GIF89a' + w=7 LE + h=3 LE)
    val ih = spark.sql(
      "SELECT image_header(unhex('474946383961070003000000')).format AS f, " +
        "image_header(unhex('474946383961070003000000')).width AS w, " +
        "image_header(unhex('474946383961070003000000')).height AS h, " +
        "image_header(unhex('00')).valid AS inv")
      .collect()(0)
    assert(ih.getString(0) == "gif" && ih.getInt(1) == 7 && ih.getInt(2) == 3
      && !ih.getBoolean(3), ih.toString)
    // media_header from SQL (WAV fixture: RIFF....WAVE + fmt chunk,
    // mono 8000 Hz 16-bit PCM — same bytes as MediaHeaderSpec's)
    val wavHex = "52494646" + "24000000" + "57415645" + // RIFF size WAVE
      "666d7420" + "10000000" + // 'fmt ' size=16
      "0100" + "0100" + "401f0000" + "803e0000" + "0200" + "1000" // PCM mono 8000Hz 16b
    val mh = spark.sql(
      s"SELECT media_header(unhex('$wavHex')).format AS f, " +
        s"media_header(unhex('$wavHex')).sample_rate AS r, " +
        s"media_header(unhex('$wavHex')).channels AS c, " +
        s"media_header(unhex('$wavHex')).valid AS ok, " +
        "media_header(unhex('00')).format AS unk")
      .collect()(0)
    assert(mh.getString(0) == "wav" && mh.getInt(1) == 8000 &&
      mh.getInt(2) == 1 && mh.getBoolean(3) && mh.getString(4) == "unknown",
      mh.toString)
    // nfc_normalize from SQL: decomposed e+U+0301 composes to U+00E9
    // (same builtin name as DuckDB, so oracles replay the identical SQL)
    // NOTE: Spark SQL's chr() is ASCII-only (wraps mod 256), unlike
    // DuckDB's code-point chr() -- embed the combining mark directly
    val nf = spark.sql(
      "SELECT nfc_normalize('cafe\u0301') AS n, " +
        "length(nfc_normalize('cafe\u0301')) AS l, " +
        "nfc_normalize(CAST(NULL AS STRING)) AS z")
      .collect()(0)
    assert(nf.getString(0) == "café" && nf.getInt(1) == 4
      && nf.isNullAt(2), nf.toString)
    // boundary_bucket from SQL: foldable array literal compiles into
    // the codegen'd binary search; strictly-below count semantics
    val bb = spark.sql(
      "SELECT boundary_bucket(0.1, array(0.5d, 1.5d, 2.5d)) AS b0, " +
        "boundary_bucket(1.0, array(0.5d, 1.5d, 2.5d)) AS b1, " +
        "boundary_bucket(9, array(0.5d, 1.5d, 2.5d)) AS b3, " +
        "boundary_bucket(1.5, array(0.5, 1.5, 2.5)) AS bdec")
      .collect()(0)
    assert(bb.getInt(0) == 0 && bb.getInt(1) == 1 && bb.getInt(2) == 3 &&
      bb.getInt(3) == 1, bb.toString)
    // a non-foldable boundaries argument must refuse loudly
    val err = intercept[Exception](spark.sql(
      "SELECT boundary_bucket(1.0, array(CAST(id AS DOUBLE))) FROM range(3)").collect())
    assert(err.getMessage.contains("foldable"), err.getMessage)
    // bloom_filter_agg + might_contain: the scalar-subquery SQL form of
    // bloom decontamination. Membership is guaranteed true (a bloom has
    // no false negatives); '9999' at 8192 bits / 100 items is a
    // deterministic non-member under Spark's fixed bloom hashing.
    // The probed value is a COLUMN (one-row VALUES), not a literal:
    // a foldable probe constant-folds to a negative long literal and
    // Spark's BloomFilterMightContain then generates
    // `mightContainLong((Long)-74347...L)`, which Janino rejects
    // ("java.lang.Long is not an rvalue") and silently falls back to
    // interpreter mode — the very fallback CodegenFallbackSpec pins
    // against. Production q89 always probes a column, never a literal.
    val b = spark.sql(
      """SELECT might_contain(
                  (SELECT bloom_filter_agg(xxhash64(CAST(id AS STRING)), 100L, 8192L) FROM range(50)),
                  xxhash64(probe))   AS member,
                might_contain(
                  (SELECT bloom_filter_agg(xxhash64(CAST(id AS STRING)), 100L, 8192L) FROM range(50)),
                  xxhash64(probe2)) AS nonmember
         FROM VALUES ('7', '9999') AS t(probe, probe2)""")
      .collect()(0)
    assert(b.getBoolean(0), "bloom missed a member — violates no-false-negative law")
    assert(!b.getBoolean(1), "planted non-member unexpectedly hit (re-pick the probe)")
  }

  test("every function GraftExtensions registers resolves on the shared session") {
    val names = Seq("yamr_partition", "md5_hash60", "image_header", "media_header",
      "gzip_bytes", "gunzip_bytes", "deflate_bytes", "inflate_bytes", "dechunk_body",
      "nfc_normalize", "dot_product", "squared_distance", "word_shingles", "word_ngrams",
      "boundary_bucket", "bloom_filter_agg", "might_contain")
    assert(names.distinct.size == 17)
    val missing = names.filterNot(spark.catalog.functionExists)
    assert(missing.isEmpty, s"not registered: $missing")
  }
}
