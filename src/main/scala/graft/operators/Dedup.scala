package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.{GraftQuery, OracleSql}
import graft.functions.{MinHashBands, ShingleKeys, SortedKeyOverlap}
import graft.functions.TextFunctions._
import graft.mr.Aggregators.Hll
import graft.sources.Tables

/** Deduplication operators for large-scale corpus curation: exact
  * (content-hash groupBy), MinHash+LSH near-dup, SimHash, and exact n-gram
  * Jaccard. The reference has no dedup of any kind (its closest mechanism
  * is group-by-key, yamr reducer.py:131-139); these are the SURVEY §2.14
  * extension set.
  *
  * Scale design (100 TB):
  *   - Exact dedup is one hash-agg shuffle on a 16-byte digest — the
  *     minimum possible; AQE coalesces the post-agg partitions.
  *   - MinHash: per-doc signature cost is linear (shingles × k hashes in
  *     one native fold per document, [[docSignatures]]; no shingle rows,
  *     no signature groupBy); candidate generation joins on (band,
  *     signature) buckets, so the shuffle carries only (doc, band-sig)
  *     pairs — never the O(n²) pair space.
  *   - SimHash: 32-bit signatures; near-dup candidates via 8-bit band
  *     equality (pigeonhole for hamming ≤ 3), verified by bit_count(xor).
  *   - Exact Jaccard is the small-scale oracle/calibration path; at scale
  *     the shingle-frequency skew makes the shingle self-join explode, so
  *     MinHash banding is the production path.
  */
object Dedup {

  /** Distinct (doc_id, shingle) pairs. The token array is materialized as
    * a projected column BEFORE shingling: composing `shingles(tokens(c))`
    * inline re-evaluates the tokenizer for every shingle element inside
    * the transform lambda (no CSE across lambda boundaries — O(tokens²)
    * per document, observed 5× re-tokenization in the physical plan).
    */
  private def shingleRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("t"))
      .select(col("doc_id"), explode(shingles(col("t"))).as("s"))

  /** The token list `t` of every document, keyed by `key`, as a
    * derived table. */
  private def docTokens(key: String): String =
    s"(SELECT $key, ${OracleSql.tokens("text")} AS t FROM documents) tt"

  /** `name(key, s)`: the distinct shingles of each `src` row's token list
    * `t`, rows with fewer than 3 tokens dropped — the DuckDB form of
    * [[shingleRows]]. */
  private def shingleCte(name: String, key: String, src: String,
      materialized: Boolean = false): String = {
    val m = if (materialized) "MATERIALIZED " else ""
    s"""$name AS $m(SELECT $key, unnest(sh) AS s
       |       FROM (SELECT $key, ${OracleSql.shingles("t")} AS sh
       |             FROM $src
       |             WHERE len(t) >= 3) s0)""".stripMargin
  }

  private val shingleSql = shingleCte("sh", "doc_id", docTokens("doc_id"))

  // ---------------------------------------------------------------- q35
  // Exact dedup: md5 content-hash groups with canonical representative
  // (min doc_id) and copy count.
  private val q35 = GraftQuery(
    "q35_dedup_exact",
    (s, dir) =>
      Tables.documents(s, dir)
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy(col("content_hash")),
    Some("""
      SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      FROM documents
      GROUP BY md5(text)
      ORDER BY content_hash"""))

  // ------------------------------------------------- df-cap hygiene
  // A shingle appearing in k documents contributes ~k² rows to exact
  // pair generation, so boilerplate shingles (headers, license text)
  // blow the q36 pair space up superlinearly at scale. Shingles with
  // document frequency above the cap carry ~no Jaccard signal and are
  // dropped before pairing. The cap scales with corpus size (1% of docs,
  // floor 100) so genuinely common boilerplate is always dropped while
  // small corpora keep everything. The cap applies ONLY to this exact
  // all-pairs path — the q51 pipeline's verification join is bounded by
  // its LSH candidate list and counts intersections uncapped (a capped
  // verification silently failed to merge clusters larger than the cap;
  // ADVICE r3).
  //
  // BLIND SPOT (documented, by construction): a duplicate CLUSTER larger
  // than the cap has every shared shingle above the cap, so its pairs
  // lose ALL kept overlap and score 0 here — they do NOT merely score
  // lower. MinHash banding (q37/q51) keeps all shingles and still
  // collides such clusters in every band; this capped exact path is the
  // pairwise calibration tool, not the cluster-discovery path.
  // Denominator sizes stay exact (counted over ALL shingles), so kept
  // scores are a lower bound of true Jaccard; the cap is mirrored in the
  // q36 oracle.

  /** df-cap for a corpus of `nDocs` documents: 1% of docs, floor 100,
    * CEILING 10k — the ceiling is what keeps the worst case bounded at
    * any corpus size (an uncapped 1% of 1B docs would admit a 10M-doc
    * shingle and its 5×10¹³ pair explosion; with the ceiling no shingle
    * ever contributes more than C(10k, 2) ≈ 5×10⁷ pairs). Identical at
    * every tested SF and probe scale (all ≤ 1M docs).
    */
  private[operators] def dfCap(nDocs: Long): Long =
    math.max(100L, math.min(10000L, nDocs / 100L))

  /** The same cap as a DuckDB scalar subquery over `documents`. */
  private[operators] val dfCapSql =
    "greatest(100, least(10000, (SELECT COUNT(*) // 100 FROM documents)))"

  // ---------------------------------------------------------------- q36
  // Exact n-gram Jaccard similarity: top-20 most similar pairs. The
  // calibration oracle for the MinHash path (df-cap rationale above).
  /** The full exact-Jaccard pair frame (sorted desc), shared by q36's
    * top-20 and q142's banding calibration. */
  private def jaccardPairs(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    commonPairFrame(s, dir)
      .select(col("da"), col("db"),
        (col("c").cast("double") / (col("na") + col("nb") - col("c"))).as("jaccard"))
      .orderBy(col("jaccard").desc, col("da"), col("db"))

  /** Exact CONTAINMENT pair frame — the directional overlap measure
    * Jaccard hides: containment(A in B) = |A∩B| / |A| is ~1 when B is A
    * plus boilerplate (header/footer wrapping, quote-expansion), a case
    * where Jaccard |A∩B|/|A∪B| stays low because the union is inflated
    * by the wrapper. Broder 1997 treats both; near-dup pipelines gate on
    * resemblance OR containment. Same bounded machinery as
    * [[jaccardPairs]] (df-capped grouped explosion, never a self-join);
    * the tail emits both directions plus their max. */
  private def containmentPairs(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    commonPairFrame(s, dir)
      .select(col("da"), col("db"),
        (col("c").cast("double") / col("na")).as("cont_a"),
        (col("c").cast("double") / col("nb")).as("cont_b"),
        greatest(col("c").cast("double") / col("na"),
          col("c").cast("double") / col("nb")).as("cont"))
      .orderBy(col("cont").desc, col("da"), col("db"))

  /** Shared (da, db, c, na, nb) exact-overlap frame over df-capped
    * shingles — the common core of [[jaccardPairs]] / [[containmentPairs]]. */
  private def commonPairFrame(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
      val sh = shingleRows(Tables.documents(s, dir))
      val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      // cap from the RAW scan's count — zero-column, no widen shuffle
      val cap = dfCap(Tables.load(s, dir, "documents").count())
      // pair generation by grouped explosion, not a self-join: one
      // groupBy on the 64-bit shingle hash (small shuffle keys; collision
      // probability at 1e6 distinct shingles ~1e-7, perturbing one pair
      // count if it ever hits) collects each eligible shingle's ≤cap doc
      // list and explodes the sorted list's C(k,2) ordered pairs
      // directly. Same pair multiset as the kept⋈kept self-join, but
      // each surviving (sk, doc) row is shuffled once for the collect.
      val hashed = sh.select(col("doc_id"), xxhash64(col("s")).as("sk"))
      // df-cap BEFORE collect_list, not after: a count aggregate partial-
      // aggregates map-side (tiny shuffle rows) and the semi-join drops
      // boilerplate shingles before any list buffer exists — a shingle
      // shared by 10M docs costs one counter, never a 10M-element
      // aggregation buffer (ADVICE r4). The extra tokenize→shingle pass
      // this costs is a stateless scan; the thing it buys is bounded
      // (≤cap) per-group state at any corpus size.
      val eligible = hashed.groupBy(col("sk")).agg(count(lit(1)).as("df"))
        .filter(col("df").between(2, cap))
        .select(col("sk"))
      val docLists = hashed.join(eligible, Seq("sk"), "left_semi")
        .groupBy(col("sk")).agg(collect_list(col("doc_id")).as("ds"))
        .select(array_sort(col("ds")).as("ds"))
      val common = docLists
        // native C(k,2) pair explosion (graft.functions.OrderedPairs) —
        // one compiled double loop per shingle instead of nested
        // interpreted lambdas over the ≤cap-element doc lists
        .select(explode(graft.functions.OrderedPairs(col("ds"))).as("p"))
        .select(col("p.da").as("da"), col("p.db").as("db"))
        .groupBy(col("da"), col("db"))
        .agg(count(lit(1)).as("c"))
      common
        .join(sizes.select(col("doc_id").as("da"), col("n").as("na")), "da")
        .join(sizes.select(col("doc_id").as("db"), col("n").as("nb")), "db")
  }

  private val q36 = GraftQuery(
    "q36_dedup_ngram_jaccard",
    (s, dir) => jaccardPairs(s, dir).limit(20),
    Some(s"""
      WITH $shingleSql,
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      rare AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= $dfCapSql),
      kept AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
      common AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS c
                 FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
                 GROUP BY a.doc_id, b.doc_id)
      SELECT da, db, CAST(c AS DOUBLE) / (na.n + nb.n - c) AS jaccard
      FROM common
      JOIN sizes na ON na.doc_id = da
      JOIN sizes nb ON nb.doc_id = db
      ORDER BY jaccard DESC, da, db
      LIMIT 20"""))

  private val q159 = GraftQuery(
    "q159_containment_pairs",
    (s, dir) => containmentPairs(s, dir).limit(20),
    Some(s"""
      WITH $shingleSql,
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      rare AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= $dfCapSql),
      kept AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
      common AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS c
                 FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
                 GROUP BY a.doc_id, b.doc_id)
      SELECT da, db,
             CAST(c AS DOUBLE) / na.n AS cont_a,
             CAST(c AS DOUBLE) / nb.n AS cont_b,
             GREATEST(CAST(c AS DOUBLE) / na.n, CAST(c AS DOUBLE) / nb.n) AS cont
      FROM common
      JOIN sizes na ON na.doc_id = da
      JOIN sizes nb ON nb.doc_id = db
      ORDER BY cont DESC, da, db
      LIMIT 20"""))

  // ---------------------------------------------------------------- q37
  // MinHash signatures + LSH banding: k=8 hash functions (md5-derived,
  // engine-reproducible), b=4 bands × r=2 rows. Output is the banded
  // signature table — joining it to itself on (band, sig) yields candidate
  // pairs in O(collisions), the scale path for near-dedup.
  /** One row per document — the near-dedup summary every MinHash path
    * reads, built by one projection over the document's tokens (no
    * shingle explode, no groupBy):
    *   - `dg`: the exact-collapse digest, md5 of the space-joined tokens,
    *     or a per-document `uniq:<doc_id>` key when the document has
    *     fewer than 3 tokens (no shingles, so no band rows: banding never
    *     merges it, and a collapse on `dg` must not either);
    *   - `n`: the distinct-shingle count;
    *   - `sigs`: the 4 band signatures ([[graft.functions.MinHashBands]]),
    *     NULL when the document has no shingles (fewer than 3 tokens,
    *     empty or null text) — it then has no band rows at all;
    *   - `keys`: the shingles' sorted 64-bit keys
    *     ([[graft.functions.ShingleKeys]]), the verification form.
    * `doc_id` is the document key and must be unique.
    */
  private[operators] def docSignatures(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("t"))
      .select(col("doc_id"),
        when(size(col("t")) >= 3, md5(concat_ws(" ", col("t"))))
          .otherwise(concat(lit("uniq:"), col("doc_id").cast("string"))).as("dg"),
        shingles(col("t")).as("sh"))
      .select(col("doc_id"), col("dg"), size(col("sh")).as("n"),
        MinHashBands(col("sh")).as("sigs"), ShingleKeys(col("sh")).as("keys"))

  /** (doc_id, band, sig) rows of a [[docSignatures]] table: band j is the
    * position of its signature, so a document without shingles (NULL
    * `sigs`) yields no rows. */
  private[operators] def bandRowsOf(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), posexplode(col("sigs")).as(Seq("band", "sig")))

  /** (a, b, jaccard) of the pairs in `pairs` whose exact shingle Jaccard
    * ≥ threshold, where each row carries both documents' [[docSignatures]]
    * count and keys as `na`/`ka` and `nb`/`kb`. The common-shingle count
    * is the multiset intersection of the two sorted key arrays
    * ([[graft.functions.SortedKeyOverlap]]) — the row count of the
    * per-shingle (doc, xxhash64) equi-join it replaces, 64-bit collisions
    * included; pairs sharing no key are dropped, as that join produced no
    * row for them.
    */
  private[operators] def keyJaccard(pairs: DataFrame, a: String, b: String,
      threshold: Double): DataFrame =
    pairs.select(col(a), col(b), col("na"), col("nb"),
        SortedKeyOverlap(col("ka"), col("kb")).as("c"))
      .filter(col("c") > 0)
      .select(col(a), col(b),
        (col("c").cast("double") / (col("na") + col("nb") - col("c"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** (doc_id, band, sig) LSH band signatures: k=8 minhashes, b=4 bands ×
    * r=2 rows, one native fold per document ([[docSignatures]]).
    */
  def bandSigs(docs: DataFrame): DataFrame = bandRowsOf(docSignatures(docs))

  /** The near-dup oracle's LSH half, written once: `sh → hashed → minh →
    * bands(doc_id, band, sig)`, the DuckDB replay of [[docSignatures]] →
    * [[bandRowsOf]] over `src`'s (doc_id, t) token lists. q37, q81, q99,
    * q51/q51b and the q93 chains replay it; `materialized` marks every CTE
    * `AS MATERIALIZED` (the q93 cascade's convention). */
  private[operators] def lshBandsSql(src: String,
      materialized: Boolean = false): String = {
    val m = if (materialized) "MATERIALIZED " else ""
    s"""${shingleCte("sh", "doc_id", src, materialized)},
       |hashed AS $m(SELECT doc_id, i,
       |                  ${OracleSql.hash60("CAST(i AS VARCHAR) || ':' || s")} AS h
       |           FROM sh CROSS JOIN range(0, 8) r(i)),
       |minh AS $m(SELECT doc_id, i, MIN(h) AS mh FROM hashed GROUP BY doc_id, i),
       |bands AS $m(SELECT doc_id, CAST(i // 2 AS INT) AS band,
       |                 string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS sig
       |          FROM minh GROUP BY doc_id, i // 2)""".stripMargin
  }

  /** The near-dup oracle's verify half, over [[lshBandsSql]]'s `sh` and
    * `bands`: `cand → sizes → common → edges(da, db)`, the band-collision
    * pairs whose exact shingle Jaccard is at least `threshold` — the
    * replay of Curation's candidate and verify stages. */
  private[operators] def lshEdgesSql(threshold: Double,
      materialized: Boolean = false): String = {
    val m = if (materialized) "MATERIALIZED " else ""
    s"""cand AS $m(SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |         FROM bands a JOIN bands b
       |           ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
       |sizes AS $m(SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       |common AS $m(SELECT da, db, COUNT(*) AS c
       |           FROM cand JOIN sh a ON a.doc_id = da
       |                     JOIN sh b ON b.doc_id = db AND a.s = b.s
       |           GROUP BY da, db),
       |edges AS $m(SELECT da, db FROM common
       |          JOIN sizes na ON na.doc_id = da JOIN sizes nb ON nb.doc_id = db
       |          WHERE CAST(c AS DOUBLE) / (na.n + nb.n - c) >= $threshold)""".stripMargin
  }

  /** [[lshBandsSql]] over every document. */
  private[operators] val bandSql = lshBandsSql(docTokens("doc_id"))

  private val q37 = GraftQuery(
    "q37_dedup_minhash",
    (s, dir) => bandSigs(Tables.documents(s, dir))
      .orderBy(col("doc_id"), col("band")),
    Some(s"""
      WITH $bandSql
      SELECT doc_id, band, sig FROM bands ORDER BY doc_id, band"""))

  // ---------------------------------------------------------------- q38
  // SimHash: 32-bit signature from token-hash bit votes (sign of the
  // per-bit ±1 sum over distinct tokens).
  private val q38 = GraftQuery(
    "q38_dedup_simhash",
    (s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("tok"))
        .withColumn("h", hash60(col("tok")))
      toks
        .withColumn("b", explode(sequence(lit(0), lit(31))))
        .withColumn("vote", when(expr("(shiftright(h, b) & 1)") === 1, lit(1)).otherwise(lit(-1)))
        .groupBy(col("doc_id"), col("b"))
        .agg(sum(col("vote")).as("v"))
        .groupBy(col("doc_id"))
        .agg(sum(when(col("v") > 0, expr("shiftleft(CAST(1 AS BIGINT), b)"))
          .otherwise(lit(0L))).as("simhash"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH toks AS (SELECT doc_id, unnest(list_distinct(
                      ${OracleSql.tokens("text")})) AS tok
                    FROM documents),
      hashed AS (SELECT doc_id, ${OracleSql.hash60("tok")} AS h FROM toks),
      votes AS (SELECT doc_id, b,
                       SUM(CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END) AS v
                FROM hashed CROSS JOIN range(0, 32) r(b)
                GROUP BY doc_id, b)
      SELECT doc_id,
             CAST(SUM(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
      FROM votes
      GROUP BY doc_id
      ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q70
  // Edit-distance similarity on short strings (the title/URL-dedup
  // companion to shingle Jaccard): Levenshtein over 40-char prefixes for
  // a bounded candidate set, closest 20 pairs. Integer distances →
  // bit-exact across engines. Scale path: edit distance is only ever
  // computed on SHORT fields over candidate pairs (length-band + prefix
  // bucketing bounds the pair space, same discipline as LSH); the full
  // cross-pair form here is the deliberate small-subset calibration.
  private val q70 = GraftQuery(
    "q70_edit_distance",
    (s, dir) => {
      val d = Tables.documents(s, dir).filter(col("doc_id") < 60)
        .select(col("doc_id"), substring(col("text"), 1, 40).as("p"))
      d.alias("a").join(d.alias("b"), col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
          levenshtein(col("a.p"), col("b.p")).as("dist"))
        .orderBy(col("dist"), col("da"), col("db"))
        .limit(20)
    },
    Some("""
      WITH d AS (SELECT doc_id, substr(text, 1, 40) AS p
                 FROM documents WHERE doc_id < 60)
      SELECT a.doc_id AS da, b.doc_id AS db,
             CAST(levenshtein(a.p, b.p) AS INT) AS dist
      FROM d a JOIN d b ON a.doc_id < b.doc_id
      ORDER BY dist, da, db
      LIMIT 20"""))

  // ---------------------------------------------------------------- q81
  // Incremental dedup: admit a NEW batch of documents (doc_id % 10 = 9)
  // against the EXISTING corpus (the rest) without re-clustering the
  // corpus — the standard shape for continuously-growing training sets.
  // A new doc is rejected if (a) its exact content hash exists in the
  // corpus, or (b) any of its 4 LSH band signatures collides with a
  // corpus doc's (the q37 banding, so ~Jaccard ≥ 0.5 near-dups gate).
  //
  // Shape at 100 TB: in production the corpus side of both joins is a
  // STORED signature table (hashes and band sigs persist as corpus
  // metadata; here they are derived inline because the harness is
  // stateless). Both rejections are anti-joins on short keys — 16-byte
  // content hashes, (band, sig) strings — where the batch side is the
  // small one; the corpus text is never reshuffled, only its key
  // columns. Admission is per-doc with no batch-internal state, so the
  // batch pipeline parallelizes by scan split.
  /** Incremental admission against STORED corpus signatures — the
    * production shape for a continuously-growing corpus: content hashes
    * (`h`) and band signatures (`band`, `sig`) persist as metadata
    * tables, so admission derives signatures ONLY for the batch and the
    * corpus text is never read. Store the tables bucketed by their join
    * keys and the corpus side joins with no exchange at all
    * (ScaleOpsSpec asserts this on a bucketed signature table). REJECT
    * sets, not admit sets: a batch doc too short to shingle has no band
    * rows, and must be admitted (no near-dup evidence), which an
    * admit-side semi-join would silently drop.
    */
  def incrementalDedupStored(batch: DataFrame, corpusHashes: DataFrame,
      corpusBands: DataFrame): DataFrame = {
    val exactReject = batch.select(col("doc_id"), md5(col("text")).as("h"))
      .join(corpusHashes.select("h"), Seq("h"), "left_semi").select(col("doc_id"))
    val nearReject = bandSigs(batch)
      .join(corpusBands.select("band", "sig"), Seq("band", "sig"), "left_semi")
      .select(col("doc_id")).distinct()
    batch.join(exactReject, Seq("doc_id"), "left_anti")
      .join(nearReject, Seq("doc_id"), "left_anti")
  }

  /** [[incrementalDedupStored]] with the signature tables derived inline
    * from the corpus text (the stateless-harness form).
    */
  def incrementalDedup(batch: DataFrame, corpus: DataFrame): DataFrame =
    incrementalDedupStored(batch,
      corpus.select(md5(col("text")).as("h")).distinct(),
      bandSigs(corpus).select(col("band"), col("sig")).distinct())

  private val q81 = GraftQuery(
    "q81_incremental_dedup",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val isNew = col("doc_id") % 10 === 9
      incrementalDedup(docs.filter(isNew), docs.filter(!isNew))
        .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH $bandSql,
      exact_reject AS (
        SELECT DISTINCT b.doc_id
        FROM documents b JOIN documents c ON md5(b.text) = md5(c.text)
        WHERE b.doc_id % 10 = 9 AND c.doc_id % 10 <> 9),
      near_reject AS (
        SELECT DISTINCT b.doc_id
        FROM bands b JOIN bands c ON b.band = c.band AND b.sig = c.sig
        WHERE b.doc_id % 10 = 9 AND c.doc_id % 10 <> 9)
      SELECT doc_id, source, lang, n_chars
      FROM documents
      WHERE doc_id % 10 = 9
        AND doc_id NOT IN (SELECT doc_id FROM exact_reject)
        AND doc_id NOT IN (SELECT doc_id FROM near_reject)
      ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q99
  // Fuzzy (near-duplicate) decontamination: the fourth member of the
  // decontamination family (exact q79, bloom q89, two-phase q98 — all in
  // DataPrep). Exact-gram overlap misses PARAPHRASED leakage — an eval
  // item lightly reworded into a training doc shares near-identical
  // shingle sets but not necessarily any verbatim n-gram run — so
  // production pipelines pair the exact pass with a near-dup pass
  // against the eval suite. A train doc drops when (a) any of its 4 LSH
  // band signatures collides with an eval doc's (the q37 banding, so
  // ~Jaccard ≥ 0.5 candidates surface) AND (b) exact shingle Jaccard
  // against that eval doc confirms ≥ `threshold` (banding alone
  // over-drops at its collision-probability tail; the confirm is
  // UNCAPPED, the q51 discipline — a df-capped confirm would silently
  // admit heavily-duplicated leakage).
  //
  // Shape at 100 TB: eval band signatures broadcast (eval suites are
  // small by definition); candidate pairs are band-bucket collisions,
  // never a train×eval cross; the exact-Jaccard confirm touches only
  // candidate docs' shingles — the eval side shrinks to candidate eval
  // docs before its broadcast, the train side is a semi-join-confined
  // scan. The corpus text is never reshuffled; shingle strings cross
  // the wire only inside the candidate-confined confirm broadcast.
  /** The contaminated train ids with their best-matching eval doc and
    * exact Jaccard (the audit/report form; [[decontaminateFuzzy]] is the
    * corpus-filter form). `threshold` compares against exact shingle
    * Jaccard computed over ALL shingles of the candidate docs.
    */
  def fuzzyContaminatedPairs(train: DataFrame, eval_ : DataFrame,
      idCol: String, textCol: String, threshold: Double): DataFrame = {
    val trainD = train.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    val evalD = eval_.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    val trainS = docSignatures(trainD)
    val evalS = docSignatures(evalD)
    val cands = bandRowsOf(trainS)
      .join(broadcast(bandRowsOf(evalS)
        .select(col("doc_id").as("eval_id"), col("band"), col("sig"))),
        Seq("band", "sig"))
      .select(col("doc_id"), col("eval_id")).distinct()
    // the confirm counts common shingle keys per candidate pair over the
    // two documents' key arrays — one row per document, never a
    // per-shingle row; the eval side is candidate-confined before its
    // broadcast
    val evalK = evalS.select(col("doc_id").as("eval_id"), col("n").as("nb"),
        col("keys").as("kb"))
      .join(cands.select("eval_id").distinct(), Seq("eval_id"), "left_semi")
    keyJaccard(cands
        .join(trainS.select(col("doc_id"), col("n").as("na"), col("keys").as("ka")), "doc_id")
        .join(broadcast(evalK), "eval_id"),
      "doc_id", "eval_id", threshold)
  }

  /** Near-duplicate decontamination — [[fuzzyContaminatedPairs]] as a
    * corpus filter: the kept training rows. Complements DataPrep's
    * verbatim-overlap forms; a complete admission gate runs both (the
    * exact pass catches short verbatim quotes below banding's Jaccard
    * floor, this pass catches paraphrases with no verbatim 4-gram).
    */
  def decontaminateFuzzy(train: DataFrame, eval_ : DataFrame, idCol: String,
      textCol: String, threshold: Double = 0.5): DataFrame =
    train.join(
      fuzzyContaminatedPairs(train, eval_, idCol, textCol, threshold)
        .select(col("doc_id").as(idCol)).distinct(),
      Seq(idCol), "left_anti")

  private val q99 = GraftQuery(
    "q99_decontaminate_fuzzy",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      decontaminateFuzzy(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", threshold = 0.5)
        .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH $bandSql,
      cands AS (SELECT DISTINCT tb.doc_id, eb.doc_id AS eval_id
                FROM bands tb JOIN bands eb ON tb.band = eb.band AND tb.sig = eb.sig
                WHERE tb.doc_id % 97 <> 0 AND eb.doc_id % 97 = 0),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      common AS (SELECT cd.doc_id, cd.eval_id, COUNT(*) AS c
                 FROM cands cd
                 JOIN sh a ON a.doc_id = cd.doc_id
                 JOIN sh b ON b.doc_id = cd.eval_id AND b.s = a.s
                 GROUP BY cd.doc_id, cd.eval_id),
      dropped AS (SELECT DISTINCT common.doc_id
                  FROM common
                  JOIN sizes sa ON sa.doc_id = common.doc_id
                  JOIN sizes sb ON sb.doc_id = common.eval_id
                  WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5)
      SELECT doc_id, source, lang, n_chars
      FROM documents
      WHERE doc_id % 97 <> 0
        AND doc_id NOT IN (SELECT doc_id FROM dropped)
      ORDER BY doc_id"""))

  /** Paragraph-level exact dedup (the RefinedWeb/CCNet "line dedup"
    * curation step): remove every paragraph whose document frequency
    * exceeds `maxDf` — boilerplate (nav bars, licence headers, cookie
    * banners) repeats across documents while real prose doesn't — and
    * reassemble each document from its surviving paragraphs in original
    * order. Output: (id, clean_text, n_kept, n_dropped); documents with
    * no non-empty paragraphs produce no row.
    *
    * Scale design: paragraph frequency is one hash-agg on an 8-byte
    * paragraph hash (partial-agged count-distinct, never paragraph
    * text); the violator set is boilerplate-sized (≪ corpus, same
    * broadcast-ability reasoning as decontamination — left to AQE, not
    * forced, since its cardinality is data-dependent); the only
    * corpus-text shuffle is the per-document reassembly groupBy, which
    * any reconstruction inherently pays.
    */
  def paragraphDedup(docs: DataFrame, idCol: String, textCol: String,
      delim: String, maxDf: Long): DataFrame = {
    val pars = docs.select(col(idCol),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(delim)))
          .as(Seq("pos", "par")))
      .filter(length(trim(col("par"))) > 0)
      .withColumn("ph", xxhash64(col("par")))
    val frequent = pars.groupBy(col("ph"))
      .agg(count_distinct(col(idCol)).as("df"))
      .filter(col("df") > maxDf)
      .select(col("ph"), lit(true).as("dup"))
    pars.join(frequent, Seq("ph"), "left")
      .groupBy(col(idCol))
      .agg(
        // collect_list skips nulls, so dropped paragraphs vanish before
        // the sort; pos is unique per doc → array_sort on the struct's
        // leading field makes reassembly order deterministic
        concat_ws(delim, transform(
          array_sort(collect_list(when(col("dup").isNull,
            struct(col("pos"), col("par"))))),
          x => x("par"))).as("clean_text"),
        count(when(col("dup").isNull, 1)).as("n_kept"),
        count(when(col("dup").isNotNull, 1)).as("n_dropped"))
  }

  // ---------------------------------------------------------------- q88
  // Paragraph dedup as a declared query. The driver corpus is a flat
  // token stream (no newlines), so the query first renders deterministic
  // paragraphs — 20-token chunks joined by '\n' (the q84 chunking shape)
  // — then deduplicates at maxDf = 1: any paragraph appearing in 2+ docs
  // is boilerplate. The planted near-dup pairs share prefix chunks, so
  // the drop set is non-trivial (~50 distinct paragraphs at sf0.01).
  private val q88 = GraftQuery(
    "q88_paragraph_dedup",
    (s, dir) => {
      val toks = tokens(col("text"))
      val nch = ceil(size(col("t")) / lit(20.0)).cast("int")
      val para = Tables.documents(s, dir)
        .select(col("doc_id"), toks.as("t"))
        .filter(size(col("t")) >= 1) // sequence(1,0) throws; 0-token docs have no paragraphs
        .select(col("doc_id"),
          concat_ws("\n", transform(sequence(lit(1), nch),
            i => concat_ws(" ", slice(col("t"), (i - 1) * 20 + 1, lit(20))))).as("text2"))
      paragraphDedup(para, "doc_id", "text2", "\n", maxDf = 1L)
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH t AS (SELECT doc_id, ${OracleSql.tokens("text")} AS toks
                 FROM documents),
      d2 AS (SELECT doc_id,
                    array_to_string(list_transform(
                      range(1, CAST(ceil(len(toks) / 20.0) AS BIGINT) + 1),
                      i -> array_to_string(toks[(i-1)*20+1 : i*20], ' ')), chr(10)) AS text2
             FROM t WHERE len(toks) >= 1),
      pars AS (SELECT doc_id, i, par
               FROM (SELECT doc_id,
                            generate_subscripts(string_split(text2, chr(10)), 1) AS i,
                            unnest(string_split(text2, chr(10))) AS par
                     FROM d2)
               WHERE trim(par) <> ''),
      freq AS (SELECT par, COUNT(DISTINCT doc_id) AS df FROM pars GROUP BY par),
      flagged AS (SELECT p.doc_id, p.i, p.par, f.df > 1 AS dup
                  FROM pars p JOIN freq f USING (par))
      SELECT doc_id,
             coalesce(string_agg(CASE WHEN NOT dup THEN par END, chr(10) ORDER BY i), '') AS clean_text,
             CAST(COUNT(*) FILTER (WHERE NOT dup) AS BIGINT) AS n_kept,
             CAST(COUNT(*) FILTER (WHERE dup) AS BIGINT) AS n_dropped
      FROM flagged
      GROUP BY doc_id
      ORDER BY doc_id"""))

  /** Exact repeated-SUBSTRING dedup (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better"): remove every token
    * span of length `k` that occurs more than once in the corpus,
    * KEEPING the corpus-wide first occurrence (minimum (doc, position)).
    * Unlike [[paragraphDedup]], repeated spans need not align to any
    * paragraph/line boundary — this catches templated boilerplate,
    * quoted reuse, and within-document repetition that line dedup
    * misses. Output: (id, n_tokens, n_kept, n_dropped, clean_md5) — the
    * md5 of the surviving tokens joined by spaces proves byte-identical
    * reconstruction across engines without emitting text.
    *
    * Scale design, stage by stage: positional k-gram hashes are one
    * projection (8-byte hash + two longs per token position — the gram
    * STRINGS never shuffle); duplicate-span detection is one hash-agg on
    * the gram hash (partial-agged count + min-(doc,pos) struct);
    * flagged-span coverage is a DIFFERENCE ARRAY — +1 at span start, −1
    * past span end, one cumulative-sum window per document ordered by
    * position — so overlap resolution is O(tokens) with per-DOC windows
    * that parallelize across the corpus (a document is KBs; no global or
    * per-group sort anywhere). Reassembly is the same inherent
    * per-document groupBy as q88. Spark joins spans on xxhash64 (the
    * q79 pattern: a collision can only FALSE-POSITIVE a drop, ~1e-9 at
    * corpus gram counts, never leak a duplicate through); the oracle
    * replays df over the raw gram strings.
    */
  def substringDedup(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    substringCoverage(docs, idCol, textCol, k)
      .select(col(idCol),
        col("__sc").getField("n_tokens").as("n_tokens"),
        col("__sc").getField("n_kept").as("n_kept"),
        col("__sc").getField("n_dropped").as("n_dropped"),
        md5(col("__sc").getField("clean_text")).as("clean_md5"))

  /** [[substringDedup]] emitting the surviving TEXT (tokens joined by
    * single spaces), not just its md5 — the product form a training
    * pipeline feeds downstream (VERDICT r7 #4); `clean_md5` over the same
    * rows is exactly `md5(clean_text)`. Same coverage semantics,
    * reassembly, and costs; the only difference is that the reassembled
    * string ships instead of its digest. Output: (id, clean_text,
    * n_tokens, n_kept, n_dropped).
    */
  def substringDedupText(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    substringCoverage(docs, idCol, textCol, k)
      .select(col(idCol),
        col("__sc").getField("clean_text").as("clean_text"),
        col("__sc").getField("n_tokens").as("n_tokens"),
        col("__sc").getField("n_kept").as("n_kept"),
        col("__sc").getField("n_dropped").as("n_dropped"))

  /** Shared span-coverage core of [[substringDedup]] /
    * [[substringDedupText]]: one row per document with a
    * `__sc = (n_tokens, n_kept, n_dropped, clean_text)` struct.
    *
    * Optimization r19 (guide §2.3/§2.4, VERDICT r18 next #3): coverage
    * resolution used to materialize one row per TOKEN POSITION
    * (posexplode), join the flagged-span difference array on (id, p),
    * run a per-document cumulative-sum window, and REBUILD documents
    * with collect_list + array_sort — two corpus-tokens-sized exchanges,
    * a window sort, and an ObjectHashAggregate. Coverage is a
    * per-document question, so the flagged span STARTS are now
    * aggregated per document (flagged-spans-sized, the smallest frame in
    * the pipeline) and folded over the token array by the native
    * [[graft.functions.SpanCoverage]] expression — same difference-array
    * cumsum, zero per-token rows. Equivalence pinned by
    * SpanCoverageSpec's law against the retained window/collect_list
    * reference and by the unchanged q95/q93b oracle replays.
    */
  private def substringCoverage(docs: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame = {
    require(k >= 2, s"span length k must be >= 2, got $k")
    val toked = docs
      .select(col(idCol), tokens(col(textCol)).as("t"))
      .filter(size(col("t")) >= 1)
    // positional k-grams: pos 1 .. n-k+1 (docs shorter than k emit none)
    val occ = toked
      .select(col(idCol), col("t"),
        explode(when(size(col("t")) >= k,
            sequence(lit(1), size(col("t")) - lit(k - 1)))
          .otherwise(array().cast("array<int>"))).as("pos"))
      .select(col(idCol), col("pos"),
        xxhash64(concat_ws(" ", slice(col("t"), col("pos"), lit(k)))).as("gh"))
    val firstOcc = occ.groupBy(col("gh"))
      .agg(count(lit(1)).as("c"),
        min(struct(col(idCol), col("pos"))).as("f"))
      .filter(col("c") > 1)
      .select(col("gh"), col("f")(idCol).as("__fid"), col("f")("pos").as("__fpos"))
    val flagged = occ.join(firstOcc, Seq("gh"))
      .filter(!(col(idCol) === col("__fid") && col("pos") === col("__fpos")))
      .select(col(idCol), col("pos"))
    // flagged non-first span starts, one small row per affected doc
    val spanStarts = flagged.groupBy(col(idCol))
      .agg(collect_list(col("pos")).as("__ss"))
    toked.join(spanStarts, Seq(idCol), "left")
      .select(col(idCol),
        graft.functions.SpanCoverage(col("t"),
          coalesce(col("__ss"), array().cast("array<int>")), k).as("__sc"))
  }

  /** RETAINED pre-r19 coverage pipeline (positional explode + difference
    * array + per-doc cumsum window + collect_list rebuild) — the
    * reference composition SpanCoverageSpec pins the native
    * [[graft.functions.SpanCoverage]] fold against, bit for bit. Not on
    * any query path. Output: (id, clean_text, n_tokens, n_kept,
    * n_dropped), the [[substringDedupText]] contract. */
  private[graft] def substringDedupTextReference(docs: DataFrame,
      idCol: String, textCol: String, k: Int): DataFrame = {
    require(k >= 2, s"span length k must be >= 2, got $k")
    val toked = docs
      .select(col(idCol), tokens(col(textCol)).as("t"))
      .filter(size(col("t")) >= 1)
    val occ = toked
      .select(col(idCol), col("t"),
        explode(when(size(col("t")) >= k,
            sequence(lit(1), size(col("t")) - lit(k - 1)))
          .otherwise(array().cast("array<int>"))).as("pos"))
      .select(col(idCol), col("pos"),
        xxhash64(concat_ws(" ", slice(col("t"), col("pos"), lit(k)))).as("gh"))
    val firstOcc = occ.groupBy(col("gh"))
      .agg(count(lit(1)).as("c"),
        min(struct(col(idCol), col("pos"))).as("f"))
      .filter(col("c") > 1)
      .select(col("gh"), col("f")(idCol).as("__fid"), col("f")("pos").as("__fpos"))
    val flagged = occ.join(firstOcc, Seq("gh"))
      .filter(!(col(idCol) === col("__fid") && col("pos") === col("__fpos")))
      .select(col(idCol), col("pos"))
    val deltas = flagged.select(col(idCol), col("pos").as("p"), lit(1).as("d"))
      .union(flagged.select(col(idCol), (col("pos") + k).as("p"), lit(-1).as("d")))
      .groupBy(col(idCol), col("p")).agg(sum(col("d")).as("d"))
    val tokPos = toked
      .select(col(idCol), posexplode(col("t")).as(Seq("i0", "tok")))
      .select(col(idCol), (col("i0") + 1).as("p"), col("tok"))
    val covW = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("p"))
    tokPos.join(deltas, Seq(idCol, "p"), "left")
      .withColumn("cum", sum(coalesce(col("d"), lit(0L))).over(covW))
      .groupBy(col(idCol))
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("cum") <= 0,
            struct(col("p"), col("tok"))))),
          x => x("tok"))).as("clean_text"),
        count(lit(1)).as("n_tokens"),
        count(when(col("cum") <= 0, 1)).as("n_kept"),
        count(when(col("cum") > 0, 1)).as("n_dropped"))
  }

  // ---------------------------------------------------------------- q95
  // Substring dedup as a declared query: k = 20 token spans over the
  // corpus. The planted near-dup pairs share long runs, so the flagged
  // set is substantial; keep-first means exactly one copy of every
  // repeated span survives corpus-wide. The oracle replays positional
  // grams over RAW strings, keep-first by (doc_id, pos), the difference-
  // array coverage cumsum, and the md5 of the reassembled survivors.
  private val q95 = {
    val K = 20
    GraftQuery(
      "q95_substring_dedup",
      (s, dir) => substringDedup(Tables.documents(s, dir), "doc_id", "text", k = K)
        .orderBy(col("doc_id")),
      Some(s"""
        WITH toked AS (SELECT doc_id, ${OracleSql.tokens("text")} AS t
                       FROM documents),
        nonempty AS (SELECT doc_id, t FROM toked WHERE len(t) >= 1),
        occ AS (SELECT doc_id, i AS pos,
                       array_to_string(t[i:i+$K-1], ' ') AS g
                FROM (SELECT doc_id, t, unnest(range(1, len(t) - $K + 2)) AS i
                      FROM nonempty WHERE len(t) >= $K)),
        occ2 AS (SELECT doc_id, pos,
                        COUNT(*) OVER (PARTITION BY g) AS c,
                        ROW_NUMBER() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
                 FROM occ),
        flagged AS (SELECT doc_id, pos FROM occ2 WHERE c > 1 AND rn > 1),
        deltas AS (SELECT doc_id, p, SUM(d) AS d FROM (
                     SELECT doc_id, pos AS p, 1 AS d FROM flagged
                     UNION ALL
                     SELECT doc_id, pos + $K AS p, -1 AS d FROM flagged)
                   GROUP BY doc_id, p),
        tokpos AS (SELECT doc_id, generate_subscripts(t, 1) AS p, unnest(t) AS tok
                   FROM nonempty),
        covered AS (SELECT tp.doc_id, tp.p, tp.tok,
                           SUM(COALESCE(dl.d, 0)) OVER (PARTITION BY tp.doc_id
                                                        ORDER BY tp.p) AS cum
                    FROM tokpos tp LEFT JOIN deltas dl
                      ON tp.doc_id = dl.doc_id AND tp.p = dl.p)
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) FILTER (WHERE cum <= 0) AS BIGINT) AS n_kept,
               CAST(COUNT(*) FILTER (WHERE cum > 0) AS BIGINT) AS n_dropped,
               md5(COALESCE(string_agg(CASE WHEN cum <= 0 THEN tok END, ' ' ORDER BY p), '')) AS clean_md5
        FROM covered
        GROUP BY doc_id
        ORDER BY doc_id"""))
  }

  // --------------------------------------------------------------- q106
  // Cross-corpus overlap triage: BEFORE running a full cross-corpus
  // dedup between two 100 TB crawls, estimate how much their shingle
  // sets overlap from two constant-size mergeable HLL states (the q67
  // sketch family applied to the dedup question). Each corpus is
  // sketched once — per-shard states persist and fold, so refreshing a
  // crawl's sketch after an append never re-reads history — and the
  // union estimate comes from a register-wise max on the driver;
  // intersection/Jaccard by inclusion-exclusion. The decision this
  // feeds ("skip the cross-dedup / run it / run it banded") needs ~%
  // accuracy, exactly what p=14 (0.8% rsd) gives for KB of state.
  private val shingleHll = Hll(14)

  /** One corpus's shingle-set HLL registers (serialized). */
  def shingleHllState(docs: DataFrame): Array[Byte] =
    shingleRows(docs).select(xxhash64(col("s")).as("h"))
      .agg(shingleHll.state(col("h")).as("state")).head().getAs[Array[Byte]](0)

  /** (estA, estB, estUnion) from two serialized states — driver-side
    * register math, no data touched. */
  def overlapEstimates(a: Array[Byte], b: Array[Byte]): (Long, Long, Long) = {
    val ra = shingleHll.load(a)
    val rb = shingleHll.load(b)
    val union = shingleHll.merge(ra.clone(), rb) // merge mutates its first arg
    (Hll.estimate(ra), Hll.estimate(rb), Hll.estimate(union))
  }

  // Declared query: two overlapping splits of the documents table
  // (A = ids not divisible by 3, B = odd ids — sharing every id ∤6).
  // Exact distinct-shingle counts and the exact Jaccard compare
  // value-for-value; the HLL estimates (deterministic registers) are
  // pinned as error-law booleans: counts within 5% (6σ at 0.8% rsd),
  // the inclusion-exclusion Jaccard within 0.05 absolute.
  private val q106 = GraftQuery(
    "q106_corpus_overlap",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val aDocs = docs.filter(col("doc_id") % 3 =!= 0)
      val bDocs = docs.filter(col("doc_id") % 2 =!= 0)
      val (ea, eb, eu) = overlapEstimates(
        shingleHllState(aDocs), shingleHllState(bDocs))
      val ei = ea + eb - eu
      val nA = shingleRows(aDocs).agg(countDistinct(col("s")).as("n_a"))
      val nB = shingleRows(bDocs).agg(countDistinct(col("s")).as("n_b"))
      val nU = shingleRows(aDocs).select(col("s"))
        .union(shingleRows(bDocs).select(col("s")))
        .agg(countDistinct(col("s")).as("n_union"))
      nA.crossJoin(nB).crossJoin(nU)
        .select(
          col("n_a"), col("n_b"), col("n_union"),
          (col("n_a") + col("n_b") - col("n_union")).as("n_inter"),
          ((col("n_a") + col("n_b") - col("n_union")).cast("double") /
            col("n_union").cast("double")).as("jaccard"),
          (abs(lit(ea) - col("n_a")) <= col("n_a") * lit(0.05)).as("a_within_5pct"),
          (abs(lit(eb) - col("n_b")) <= col("n_b") * lit(0.05)).as("b_within_5pct"),
          (abs(lit(eu) - col("n_union")) <= col("n_union") * lit(0.05)).as("union_within_5pct"),
          (abs(lit(ei.toDouble / eu.toDouble) -
            (col("n_a") + col("n_b") - col("n_union")).cast("double") /
              col("n_union").cast("double")) <= lit(0.05)).as("jaccard_within_05"))
    },
    Some(s"""
      WITH tt AS (SELECT doc_id, ${OracleSql.tokens("text")} AS t
                  FROM documents),
      sh AS (SELECT doc_id, unnest(${OracleSql.shingles("t")}) AS s
             FROM tt WHERE len(t) >= 3),
      a AS (SELECT DISTINCT s FROM sh WHERE doc_id % 3 <> 0),
      b AS (SELECT DISTINCT s FROM sh WHERE doc_id % 2 <> 0),
      u AS (SELECT s FROM a UNION SELECT s FROM b),
      c AS (SELECT (SELECT COUNT(*) FROM a) AS n_a,
                   (SELECT COUNT(*) FROM b) AS n_b,
                   (SELECT COUNT(*) FROM u) AS n_union)
      SELECT n_a, n_b, n_union,
             CAST(n_a + n_b - n_union AS BIGINT) AS n_inter,
             CAST(n_a + n_b - n_union AS DOUBLE) / CAST(n_union AS DOUBLE) AS jaccard,
             TRUE AS a_within_5pct,
             TRUE AS b_within_5pct,
             TRUE AS union_within_5pct,
             TRUE AS jaccard_within_05
      FROM c"""))

  // --------------------------------------------------------------- q120
  // N-corpus overlap MATRIX — q106 generalized from one pair to every
  // pair of sources in one pass: ONE scan builds a constant-size HLL
  // shingle sketch PER SOURCE (grouped aggregation of the same state
  // aggregator), then all N(N−1)/2 pairwise union/intersection/Jaccard
  // estimates are driver-side register math on KB states. This is the
  // planning input for a multi-source merge: which corpus PAIRS need a
  // cross-dedup at all, before any O(pairs × corpus) work launches.
  // The declared query carries the exact pairwise truth beside the
  // estimates (exact side = one distinct-(source, shingle) frame + one
  // self-join keyed by shingle), estimate quality pinned by the q106
  // error laws per pair.

  /** One serialized HLL shingle state per group — a single grouped scan. */
  def shingleHllStatesByGroup(docs: DataFrame, groupCol: String): Map[String, Array[Byte]] =
    shingleRowsWithGroup(docs, groupCol)
      .select(col(groupCol), xxhash64(col("s")).as("h"))
      .groupBy(col(groupCol)).agg(shingleHll.state(col("h")).as("state"))
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap

  /** Pairwise (a, b, estA, estB, estUnion) for every unordered group
    * pair — driver register math over the per-group states. */
  def overlapMatrix(states: Map[String, Array[Byte]]): Seq[(String, String, Long, Long, Long)] = {
    val keys = states.keys.toSeq.sorted
    for {
      i <- keys.indices; j <- (i + 1) until keys.size
    } yield {
      val (a, b) = (keys(i), keys(j))
      val (ea, eb, eu) = overlapEstimates(states(a), states(b))
      (a, b, ea, eb, eu)
    }
  }

  private val q120 = GraftQuery(
    "q120_overlap_matrix",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val est = overlapMatrix(shingleHllStatesByGroup(docs, "source"))
      import s.implicits._
      val estDf = est.map { case (a, b, ea, eb, eu) =>
        (a, b, ea, eb, eu, ea + eb - eu) }
        .toDF("src_a", "src_b", "est_a", "est_b", "est_union", "est_inter")
      // exact side: distinct (source, shingle) once, per-source counts +
      // a shingle-keyed self-join for pairwise intersections
      val ss = shingleRowsWithGroup(docs, "source").distinct()
      val perSrc = ss.groupBy(col("source")).agg(count(lit(1)).as("n"))
      val inter = ss.toDF("sa", "s").join(ss.toDF("sb", "s"), "s")
        .filter(col("sa") < col("sb"))
        .groupBy(col("sa"), col("sb")).agg(count(lit(1)).as("n_inter"))
      inter
        .join(perSrc.select(col("source").as("sa"), col("n").as("n_a")), "sa")
        .join(perSrc.select(col("source").as("sb"), col("n").as("n_b")), "sb")
        .join(estDf, col("sa") === col("src_a") && col("sb") === col("src_b"))
        .select(col("sa"), col("sb"), col("n_a"), col("n_b"), col("n_inter"),
          (col("n_inter").cast("double") /
            (col("n_a") + col("n_b") - col("n_inter")).cast("double")).as("jaccard"),
          (abs(col("est_a") - col("n_a")) <= col("n_a") * lit(0.05)).as("a_within_5pct"),
          (abs(col("est_b") - col("n_b")) <= col("n_b") * lit(0.05)).as("b_within_5pct"),
          (abs(col("est_union") - (col("n_a") + col("n_b") - col("n_inter")))
            <= (col("n_a") + col("n_b") - col("n_inter")) * lit(0.05)).as("union_within_5pct"),
          (abs(col("est_inter").cast("double") / col("est_union").cast("double")
            - col("n_inter").cast("double") /
              (col("n_a") + col("n_b") - col("n_inter")).cast("double"))
            <= lit(0.05)).as("jaccard_within_05"))
        .orderBy(col("sa"), col("sb"))
    },
    Some(s"""
      WITH tt AS (SELECT source, ${OracleSql.tokens("text")} AS t
                  FROM documents),
      sh AS (SELECT DISTINCT source, unnest(${OracleSql.shingles("t")}) AS s
             FROM tt WHERE len(t) >= 3),
      per AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY source),
      inter AS (SELECT a.source AS sa, b.source AS sb, COUNT(*) AS n_inter
                FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
                GROUP BY a.source, b.source)
      SELECT sa, sb, pa.n AS n_a, pb.n AS n_b, n_inter,
             CAST(n_inter AS DOUBLE) / CAST(pa.n + pb.n - n_inter AS DOUBLE) AS jaccard,
             TRUE AS a_within_5pct,
             TRUE AS b_within_5pct,
             TRUE AS union_within_5pct,
             TRUE AS jaccard_within_05
      FROM inter
      JOIN per pa ON pa.source = sa
      JOIN per pb ON pb.source = sb
      ORDER BY sa, sb"""))

  /** [[shingleRows]] with the grouping column carried through. */
  private def shingleRowsWithGroup(docs: DataFrame, groupCol: String): DataFrame =
    docs.select(col(groupCol), tokens(col("text")).as("t"))
      .select(col(groupCol), explode(shingles(col("t"))).as("s"))

  // --------------------------------------------------------------- q132
  // KMV (bottom-k) set algebra over per-source shingle sets — the
  // sharper sibling of the HLL overlap triage (q106/q120): a KMV state
  // is the k SMALLEST distinct hashes, a CANONICAL function of the set
  // (no register/merge-order dependence), so union, intersection and
  // Jaccard estimates are deterministic numbers an external engine
  // replays EXACTLY (`ORDER BY h LIMIT k` + the same arithmetic) — the
  // estimates themselves are hash-compared, not just error-law
  // booleans. Intersection comes from sketch membership (Beyer et al.
  // 2007), not inclusion-exclusion, so its error does not inherit the
  // union's.
  //
  // Estimator: est_union = (k−1)·2⁶⁰/h₍ₖ₎; when the combined sketch
  // holds fewer than k values it IS the union (exact). m = members of
  // the combined bottom-k present in both sides; est_inter =
  // m·est_union/k_eff, est_jaccard = m/k_eff.
  //
  // Scale shape: one tokenize pass builds every source's state
  // (partial-agged bounded buffers, one O(k) array per task); the
  // N(N−1)/2 pair comparisons are column arithmetic over k-long arrays
  // on a frame of N² tiny rows — data is never touched again. The
  // exact distinct counts beside the estimates are CALIBRATION (same
  // scope split as q90/q120).
  private val q132 = {
    val k = 256
    GraftQuery(
      "q132_kmv_set_algebra",
      (s, dir) => {
        val mink = graft.mr.Aggregators.MinK(k).column(identity)
        val sh = shingleRowsWithGroup(Tables.documents(s, dir), "source")
          .select(col("source"),
            graft.functions.TextFunctions.hash60(col("s")).as("h"))
        val states = sh.groupBy(col("source"))
          .agg(mink(col("h")).as("st"), countDistinct(col("h")).as("n_exact"))
        val a = states.select(col("source").as("sa"), col("st").as("sta"),
          col("n_exact").as("na"))
        val b = states.select(col("source").as("sb"), col("st").as("stb"),
          col("n_exact").as("nb"))
        val pairs = a.crossJoin(b).filter(col("sa") < col("sb"))
        val dsh = sh.distinct()
        val inter = dsh.as("x").join(dsh.as("y"), col("x.h") === col("y.h"))
          .filter(col("x.source") < col("y.source"))
          .groupBy(col("x.source").as("sa"), col("y.source").as("sb"))
          .agg(count(lit(1)).as("i_exact"))
        val withComb = pairs
          .withColumn("comb",
            slice(array_sort(array_distinct(concat(col("sta"), col("stb")))), 1, k))
          .withColumn("k_eff", least(size(col("comb")), lit(k)))
          .withColumn("hk",
            when(size(col("comb")) >= k, element_at(col("comb"), k)))
          .withColumn("m", size(filter(col("comb"),
            x => array_contains(col("sta"), x) && array_contains(col("stb"), x))))
          .withColumn("est_union",
            when(size(col("comb")) < k, size(col("comb")).cast("double"))
              .otherwise(lit((k - 1).toDouble) * lit(1.152921504606846976E18)
                / col("hk").cast("double")))
        withComb.join(inter, Seq("sa", "sb"), "left")
          .withColumn("i_exact", coalesce(col("i_exact"), lit(0L)))
          .select(col("sa"), col("sb"), col("na"), col("nb"),
            (col("na") + col("nb") - col("i_exact")).as("u_exact"), col("i_exact"),
            col("m").cast("long").as("m"),
            col("est_union"),
            (col("m").cast("double") * col("est_union") / col("k_eff").cast("double"))
              .as("est_inter"),
            (col("m").cast("double") / col("k_eff").cast("double")).as("est_jaccard"))
          .orderBy(col("sa"), col("sb"))
      },
      Some(s"""
        WITH ${shingleCte("shsrc", "source", docTokens("source"))},
        h AS (SELECT DISTINCT source,
                     ${OracleSql.hash60("s")} AS h
              FROM shsrc),
        st AS (SELECT source, list_slice(list_sort(list(h)), 1, 256) AS st,
                      COUNT(*) AS n_exact
               FROM h GROUP BY source),
        pairs AS (SELECT a.source AS sa, b.source AS sb,
                         a.st AS sta, b.st AS stb,
                         a.n_exact AS na, b.n_exact AS nb
                  FROM st a JOIN st b ON a.source < b.source),
        inter AS (SELECT x.source AS sa, y.source AS sb, COUNT(*) AS i_exact
                  FROM h x JOIN h y ON x.h = y.h AND x.source < y.source
                  GROUP BY x.source, y.source),
        comb AS (SELECT *,
                        list_slice(list_sort(list_distinct(sta || stb)), 1, 256) AS cmb
                 FROM pairs),
        est AS (SELECT *,
                       least(len(cmb), 256) AS k_eff,
                       len(list_filter(cmb, x -> list_contains(sta, x)
                                               AND list_contains(stb, x))) AS m,
                       CASE WHEN len(cmb) < 256 THEN CAST(len(cmb) AS DOUBLE)
                            ELSE CAST(255 AS DOUBLE) * 1152921504606846976.0
                                 / CAST(cmb[256] AS DOUBLE) END AS est_union
                FROM comb)
        SELECT sa, sb, na, nb,
               CAST(na + nb - COALESCE(i_exact, 0) AS BIGINT) AS u_exact,
               CAST(COALESCE(i_exact, 0) AS BIGINT) AS i_exact,
               CAST(m AS BIGINT) AS m,
               est_union,
               CAST(m AS DOUBLE) * est_union / CAST(k_eff AS DOUBLE) AS est_inter,
               CAST(m AS DOUBLE) / CAST(k_eff AS DOUBLE) AS est_jaccard
        FROM est LEFT JOIN inter USING (sa, sb)
        ORDER BY sa, sb"""))
  }

  // --------------------------------------------------------------- q133
  // Normalization-aware exact dedup (the CCNet-shaped pre-dedup
  // canonicalization): crawl text repeats with case/punctuation/
  // whitespace noise that byte-exact dedup (q35) cannot collapse.
  // [[graft.functions.TextFunctions.dedupNormalized]] maps all such
  // variants to one canonical string; dedup then groups by
  // md5(canonical). The test corpus is already clean, so the declared
  // query SYNTHESIZES the noise in-plan (the q108/q131 construction
  // discipline): three deterministic variants per document — original,
  // UPPERCASED, punctuation-tailed — which raw dedup sees as three
  // distinct contents and normalized dedup must collapse to one group
  // of three raw variants each. The oracle replays both the variant
  // construction and the normalization regex chain.
  //
  // Scale shape: identical to q35 — the normalization is a stateless
  // scalar chain inside the scan's codegen span, and the dedup is one
  // hash-agg on a 16-byte digest. n_raw_variants rides the same agg.
  private val q133 = GraftQuery(
    "q133_normalized_dedup",
    (s, dir) => {
      val base = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val noisy = base
        .unionAll(base.select((col("doc_id") + lit(1000000000L)).as("doc_id"),
          upper(col("text")).as("text")))
        .unionAll(base.select((col("doc_id") + lit(2000000000L)).as("doc_id"),
          concat(col("text"), lit(" !! 42")).as("text")))
      noisy
        .groupBy(md5(graft.functions.TextFunctions.dedupNormalized(col("text")))
          .as("norm_hash"))
        .agg(min(col("doc_id")).as("keep_id"),
          count(lit(1)).as("n_copies"),
          countDistinct(md5(col("text"))).as("n_raw_variants"))
        .orderBy(col("norm_hash"))
    },
    Some("""
      WITH noisy AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000000, upper(text) FROM documents
        UNION ALL
        SELECT doc_id + 2000000000, text || ' !! 42' FROM documents)
      SELECT md5(trim(regexp_replace(regexp_replace(regexp_replace(lower(text), '\s+', ' ', 'g'),
                                                    '[^\p{L} ]', '', 'g'),
                                     ' +', ' ', 'g'))) AS norm_hash,
             MIN(doc_id) AS keep_id,
             COUNT(*) AS n_copies,
             CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_raw_variants
      FROM noisy
      GROUP BY norm_hash
      ORDER BY norm_hash"""))

  // --------------------------------------------------------------- q142
  // LSH banding design calculator, calibrated on the corpus's OWN
  // strongest near-dup pairs: for each candidate (b bands × r rows)
  // configuration, the collision probability 1 − (1 − s^r)^b at the
  // exact Jaccard of the top-10 q36 pairs — "which banding catches THIS
  // corpus's duplicates" answered before committing a full banding
  // pass. Both engines build the power chains as IDENTICAL left-assoc
  // multiplication trees (no pow(), whose rounding is libm-dependent),
  // so every probability — and the caught verdict — hash-matches.
  //
  // Scale: the pair side is q36's bounded calibration path (df-capped);
  // the configs are six literal rows; the product is 60 rows of pure
  // column arithmetic.
  private val q142 = {
    val configs = Seq((2, 4), (4, 2), (4, 4), (8, 2), (8, 4), (16, 2))
    def pw(x: Column, n: Int): Column =
      (1 until n).foldLeft(x)((a, _) => a * x)
    def pwSql(x: String, n: Int): String =
      (1 until n).foldLeft(x)((a, _) => s"($a * $x)")
    GraftQuery(
      "q142_banding_calculator",
      (s, dir) => {
        // optimization r18 (guide §2.4): materialize the 10 calibration
        // pairs ONCE — the six per-config branches previously embedded
        // the FULL q36 shingle self-join each (48 scans / 144 Exchanges
        // in the before plan; 6 scans / small after), for 10 rows of
        // pure column arithmetic per branch
        val pairs = jaccardPairs(s, dir).limit(10).localCheckpoint()
        configs.map { case (b, r) =>
          val p = lit(1.0) - pw(lit(1.0) - pw(col("jaccard"), r), b)
          pairs.select(col("da"), col("db"), col("jaccard"),
            lit(b).as("b"), lit(r).as("r"), p.as("p_collide"),
            (p >= lit(0.9)).as("caught"))
        }.reduce(_ unionAll _)
          .orderBy(col("b"), col("r"), col("da"), col("db"))
      },
      Some(s"""
        WITH $shingleSql,
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        rare AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= $dfCapSql),
        kept AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
        common AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS c
                   FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
                   GROUP BY a.doc_id, b.doc_id),
        pairs AS (SELECT da, db, CAST(c AS DOUBLE) / (na.n + nb.n - c) AS jaccard
                  FROM common
                  JOIN sizes na ON na.doc_id = da
                  JOIN sizes nb ON nb.doc_id = db
                  ORDER BY jaccard DESC, da, db
                  LIMIT 10)
        ${configs.map { case (b, r) =>
          val p = s"1.0 - ${pwSql(s"(1.0 - ${pwSql("jaccard", r)})", b)}"
          s"""SELECT da, db, jaccard, $b AS b, $r AS r,
             $p AS p_collide, ($p) >= 0.9 AS caught
             FROM pairs"""
        }.mkString("\nUNION ALL\n")}
        ORDER BY b, r, da, db"""))
  }

  // ---------------------------------------------------------------- q151
  // Duplicate-cluster representative selection — keep-BEST, not
  // keep-first: production dedup keeps the highest-quality member of
  // each cluster (longest/cleanest variant), not the smallest id. The
  // selection runs through the engine's own TopKPerKeyExec (k = 1
  // bounded heap per group, partial → final — never a per-group sort),
  // with a total deterministic order (score desc, id asc) so the
  // representative is a pure function of the cluster. The declared
  // query reuses q133's synthesized noisy corpus: groups are the
  // normalized-dedup clusters, score = raw text length — the
  // punctuation-tailed variant is strictly longest, so every cluster's
  // winner is decided, and the oracle replays selection + membership
  // count as a window.

  /** Best row of each group by `order` (must be total for determinism):
    * TopKPerKey k=1 — the argmax-per-group primitive. */
  def bestOfGroup(df: DataFrame, group: Column,
      order: Seq[Column]): DataFrame =
    graft.plans.TopKPerKey.topK(df, Seq(group), order, k = 1)

  private val q151 = GraftQuery(
    "q151_cluster_representative",
    (s, dir) => {
      val base = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val noisy = base
        .unionAll(base.select((col("doc_id") + lit(1000000000L)).as("doc_id"),
          upper(col("text")).as("text")))
        .unionAll(base.select((col("doc_id") + lit(2000000000L)).as("doc_id"),
          concat(col("text"), lit(" !! 42")).as("text")))
      // optimization r18 (guide §2.4): materialize the normalized keys
      // once — `norm` feeds BOTH the top-1 heap and the membership
      // count, and lazily each side re-ran the 3×-corpus scan and the
      // three-regex dedupNormalized chain (12 scans in the before plan)
      val norm = noisy.select(
        md5(graft.functions.TextFunctions.dedupNormalized(col("text")))
          .as("norm_hash"),
        col("doc_id"), length(col("text")).cast("long").as("l"))
        .localCheckpoint()
      val reps = bestOfGroup(norm, col("norm_hash"),
        Seq(col("l").desc, col("doc_id")))
      val counts = norm.groupBy(col("norm_hash"))
        .agg(count(lit(1)).as("n_members"))
      reps.join(counts, "norm_hash")
        .select(col("norm_hash"), col("doc_id").as("rep_id"),
          col("l").as("rep_len"), col("n_members"))
        .orderBy(col("norm_hash"))
    },
    Some("""
      WITH noisy AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000000, upper(text) FROM documents
        UNION ALL
        SELECT doc_id + 2000000000, text || ' !! 42' FROM documents),
      norm AS (SELECT md5(trim(regexp_replace(regexp_replace(regexp_replace(lower(text), '\s+', ' ', 'g'),
                                              '[^\p{L} ]', '', 'g'),
                               ' +', ' ', 'g'))) AS norm_hash,
                      doc_id, CAST(len(text) AS BIGINT) AS l
               FROM noisy),
      ranked AS (SELECT norm_hash, doc_id, l,
                        ROW_NUMBER() OVER (PARTITION BY norm_hash
                          ORDER BY l DESC, doc_id) AS r
                 FROM norm),
      counts AS (SELECT norm_hash, COUNT(*) AS n_members FROM norm GROUP BY norm_hash)
      SELECT r.norm_hash AS norm_hash, doc_id AS rep_id, l AS rep_len, n_members
      FROM ranked r JOIN counts USING (norm_hash)
      WHERE r.r = 1
      ORDER BY norm_hash"""))

  val all: Seq[GraftQuery] = Seq(q35, q36, q37, q38, q70, q81, q88, q95, q99,
    q106, q120, q132, q133, q142, q151, q159)
}
