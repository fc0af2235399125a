package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftQuery, OracleSql}
import graft.functions.TextFunctions._
import graft.sources.Tables

/** Text-analysis operators over the `documents` table: word count (the
  * reference's flagship job, yamr map_libs/word_count.py), per-document
  * token statistics, stopword-based language ID, quality scoring, and
  * content fingerprinting.
  *
  * Everything is a pure column expression (WholeStageCodegen end-to-end);
  * per-document work is embarrassingly parallel — no shuffle except the
  * final corpus-level aggregations, which benefit from map-side partial agg.
  */
object TextAnalysis {

  // Stopword marker sets for the heuristic language classifier. Scoring is
  // count-of-markers; argmax with alphabetical tie-break; 'und' when no
  // marker appears. Deterministic and ANSI-SQL-mirrorable by construction.
  private val stopwords: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "en" -> Seq("the", "a", "and", "of", "to", "is", "in"),
    "es" -> Seq("el", "la", "los", "las", "es", "y"),
    "fr" -> Seq("le", "les", "et", "est", "une"),
    "zh" -> Seq("de5", "shi4", "le5"))

  private def markerCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => array_contains(array(words.map(lit): _*), t)))

  private def sqlMarkerCount(words: Seq[String]): String =
    s"len(list_filter(t, x -> list_contains([${words.map(w => s"'$w'").mkString(",")}], x)))"

  // ---------------------------------------------------------------- q30
  // Word count over the corpus — the reference's flagship query
  // (word_count.py:3-23 map + :26-66 reduce), as scan → split → explode →
  // hash-agg with map-side combine (which the reference lacks, SURVEY §2.4).
  private val q30 = GraftQuery(
    "q30_wordcount",
    (s, dir) =>
      Tables.documents(s, dir)
        .select(explode(tokens(col("text"))).as("word"))
        .groupBy(col("word"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("word")),
    Some(s"""
      SELECT w AS word, COUNT(*) AS cnt
      FROM (SELECT unnest(${OracleSql.tokens("text")}) AS w
            FROM documents) t
      GROUP BY w
      ORDER BY w"""))

  // ---------------------------------------------------------------- q31
  // Per-document token statistics (token counting: whitespace tokens +
  // BPE-ish subword estimate).
  private val q31 = GraftQuery(
    "q31_token_stats",
    (s, dir) => {
      val toks = tokens(col("text"))
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          length(col("text")).as("n_chars_actual"),
          size(toks).as("n_tokens"),
          size(array_distinct(toks)).as("n_uniq_tokens"),
          subwordCount(col("text")).as("n_subword_tokens"),
          (aggregate(transform(toks, t => length(t)), lit(0),
            (a, x) => a + x).cast("double") / size(toks)).as("avg_token_len"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      SELECT doc_id,
             CAST(length(text) AS INT) AS n_chars_actual,
             CAST(len(t) AS INT) AS n_tokens,
             CAST(len(list_distinct(t)) AS INT) AS n_uniq_tokens,
             CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS INT) AS n_subword_tokens,
             CAST(list_reduce(list_prepend(0, list_transform(t, x -> length(x))), (a,b) -> a+b) AS DOUBLE) / len(t) AS avg_token_len
      FROM (SELECT doc_id, text,
                   ${OracleSql.tokens("text")} AS t
            FROM documents) d
      ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q32
  // Heuristic language ID: stopword-marker counts, argmax with
  // alphabetical tie-break.
  private val q32 = GraftQuery(
    "q32_lang_id",
    (s, dir) => {
      val withToks = Tables.documents(s, dir)
        .withColumn("t", tokens(col("text")))
      val counted = stopwords.foldLeft(withToks) { case (df, (lang, words)) =>
        df.withColumn(s"c_$lang", markerCount(col("t"), words))
      }
      val Seq(de, en, es, fr, zh) = stopwords.map { case (l, _) => col(s"c_$l") }
      counted
        .withColumn("pred_lang",
          when(greatest(de, en, es, fr, zh) === 0, lit("und"))
            .when(de >= en && de >= es && de >= fr && de >= zh, lit("de"))
            .when(en >= es && en >= fr && en >= zh, lit("en"))
            .when(es >= fr && es >= zh, lit("es"))
            .when(fr >= zh, lit("fr"))
            .otherwise(lit("zh")))
        .select(col("doc_id"), col("lang").as("labeled_lang"), col("pred_lang"),
          de.cast("int").as("c_de"), en.cast("int").as("c_en"),
          es.cast("int").as("c_es"), fr.cast("int").as("c_fr"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      SELECT doc_id, lang AS labeled_lang,
             CASE WHEN greatest(c_de, c_en, c_es, c_fr, c_zh) = 0 THEN 'und'
                  WHEN c_de >= c_en AND c_de >= c_es AND c_de >= c_fr AND c_de >= c_zh THEN 'de'
                  WHEN c_en >= c_es AND c_en >= c_fr AND c_en >= c_zh THEN 'en'
                  WHEN c_es >= c_fr AND c_es >= c_zh THEN 'es'
                  WHEN c_fr >= c_zh THEN 'fr'
                  ELSE 'zh' END AS pred_lang,
             CAST(c_de AS INT) AS c_de, CAST(c_en AS INT) AS c_en,
             CAST(c_es AS INT) AS c_es, CAST(c_fr AS INT) AS c_fr
      FROM (SELECT doc_id, lang,
                   ${sqlMarkerCount(stopwords(0)._2)} AS c_de,
                   ${sqlMarkerCount(stopwords(1)._2)} AS c_en,
                   ${sqlMarkerCount(stopwords(2)._2)} AS c_es,
                   ${sqlMarkerCount(stopwords(3)._2)} AS c_fr,
                   ${sqlMarkerCount(stopwords(4)._2)} AS c_zh
            FROM (SELECT doc_id, lang,
                         ${OracleSql.tokens("text")} AS t
                  FROM documents) d) c
      ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q33
  // Quality scoring: length / punctuation / stopword-ratio heuristics and
  // a keep/drop gate — the standard pretraining-corpus filter shape.
  private val q33 = GraftQuery(
    "q33_quality_score",
    (s, dir) => {
      val toks = tokens(col("text"))
      val nTok = size(toks)
      val stopCnt = markerCount(toks, stopwords(1)._2) // en markers
      val punctCnt = size(regexp_extract_all(col("text"), lit("[.,!?;:]"), lit(0)))
      val nChars = length(col("text"))
      val stopRatio = stopCnt.cast("double") / nTok
      val punctRatio = punctCnt.cast("double") / nChars
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          nTok.as("n_tokens"),
          stopRatio.as("stop_ratio"),
          punctRatio.as("punct_ratio"),
          (stopRatio * lit(2.0) + (lit(1.0) - punctRatio)).as("quality_score"),
          when(nTok >= 20 && nTok <= 1000 && stopRatio > 0.02, lit(1))
            .otherwise(lit(0)).as("keep"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      SELECT doc_id,
             CAST(len(t) AS INT) AS n_tokens,
             CAST(len(list_filter(t, x -> list_contains(['the','a','and','of','to','is','in'], x))) AS DOUBLE) / len(t) AS stop_ratio,
             CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) / length(text) AS punct_ratio,
             (CAST(len(list_filter(t, x -> list_contains(['the','a','and','of','to','is','in'], x))) AS DOUBLE) / len(t)) * 2.0
               + (1.0 - CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) / length(text)) AS quality_score,
             CASE WHEN len(t) BETWEEN 20 AND 1000
                   AND CAST(len(list_filter(t, x -> list_contains(['the','a','and','of','to','is','in'], x))) AS DOUBLE) / len(t) > 0.02
                  THEN 1 ELSE 0 END AS keep
      FROM (SELECT doc_id, text,
                   ${OracleSql.tokens("text")} AS t
            FROM documents) d
      ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q34
  // Document fingerprinting: md5 content hash of whitespace-normalized
  // text + a polynomial rolling hash (both engine-reproducible).
  private val q34 = GraftQuery(
    "q34_fingerprint",
    (s, dir) =>
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          md5(normalized(col("text"))).as("fp_md5"),
          rollingFingerprint(col("text")).as("fp_roll"))
        .orderBy(col("doc_id")),
    Some("""
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp_md5,
             list_reduce(
               list_prepend(0::BIGINT,
                 list_transform(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ''),
                                x -> ascii(x)::BIGINT)),
               (a, b) -> (a * 31 + b) % 1000000007) AS fp_roll
      FROM documents
      ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q78
  // Repetition signals per document (Gopher-style quality rules, Rae et
  // al. 2021 §A1.1: fraction of tokens in the most frequent n-gram,
  // duplicate-n-gram fraction): type-token ratio, top-bigram fraction,
  // duplicate-bigram fraction. Per-document explode → two hash-aggs,
  // both partial-aggregating map-side; no corpus-level state, so the
  // scan parallelism IS the parallelism at any corpus size.
  /** Per-document repetition signals over `textCol`, keyed by `idCol`:
    * (id, n_tokens, type_token_ratio, top_bigram_frac, dup_bigram_frac).
    * Documents with fewer than 2 tokens have no bigrams and are omitted.
    */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df
      .select(col(idCol).as("__id"), tokens(col(textCol)).as("t"))
      .filter(size(col("t")) >= 2)
    val bg = toks.select(col("__id"), size(col("t")).as("n"),
      size(array_distinct(col("t"))).as("nd"),
      explode(graft.functions.WordNGrams(col("t"), 2)).as("g"))
    val cnt = bg.groupBy(col("__id"), col("n"), col("nd"), col("g"))
      .agg(count(lit(1)).as("c"))
    cnt.groupBy(col("__id"), col("n"), col("nd"))
      .agg(max(col("c")).as("mx"), sum(col("c")).as("tot"), count(lit(1)).as("dq"))
      .select(col("__id").as(idCol), col("n").as("n_tokens"),
        (col("nd").cast("double") / col("n")).as("type_token_ratio"),
        (col("mx").cast("double") / col("tot")).as("top_bigram_frac"),
        (lit(1.0) - col("dq").cast("double") / col("tot")).as("dup_bigram_frac"))
  }

  private val q78 = GraftQuery(
    "q78_repetition_signals",
    (s, dir) => repetitionSignals(Tables.documents(s, dir), "doc_id", "text")
      .orderBy(col("doc_id")),
    Some(s"""
      WITH toks AS (SELECT doc_id, ${OracleSql.tokens("text")} AS t
                    FROM documents),
      bg AS (SELECT doc_id, len(t) AS n, len(list_distinct(t)) AS nd,
                    list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]) AS b
             FROM toks WHERE len(t) >= 2),
      cnt AS (SELECT doc_id, n, nd, g, COUNT(*) AS c
              FROM (SELECT doc_id, n, nd, unnest(b) AS g FROM bg) e
              GROUP BY doc_id, n, nd, g),
      agg AS (SELECT doc_id, any_value(n) AS n, any_value(nd) AS nd,
                     MAX(c) AS mx, CAST(SUM(c) AS BIGINT) AS tot, COUNT(*) AS dq
              FROM cnt GROUP BY doc_id)
      SELECT doc_id, n AS n_tokens,
             CAST(nd AS DOUBLE) / n AS type_token_ratio,
             CAST(mx AS DOUBLE) / tot AS top_bigram_frac,
             1.0 - CAST(dq AS DOUBLE) / tot AS dup_bigram_frac
      FROM agg ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q82
  // Corpus-statistics rarity scoring: per-document mean token probability
  // (c_w / N over the whole corpus) and mean inverse frequency (N / c_w,
  // the idf-like rarity signal) — the surprisal-style quality filter
  // family, formulated WITHOUT transcendentals: ln differs by ULPs
  // between Java's Math.log and DuckDB's libm, while ratios of exact
  // integer counts are bit-identical doubles in both engines. Per-doc
  // sums are SEQUENTIAL FOLDS over position-sorted score lists (FP
  // addition is order-sensitive; partial aggregation order is not
  // deterministic, a fold over a sorted array is).
  //
  // Shape at 100 TB: the token-frequency table is vocabulary-sized —
  // broadcastable for natural language, and the broadcast is PINNED
  // below rather than left to AQE stats: if the runtime estimate
  // misjudged (or vocab explodes on code/URL-heavy corpora), the
  // fallback would be a full shuffle of every token occurrence on a
  // Zipf-skewed key, which is the one plan this operator must never
  // run. Corpora whose vocabulary genuinely cannot fit in one executor
  // should pre-prune freq (e.g. min-count filter) before scoring —
  // rare-beyond-threshold tokens carry no usable frequency signal
  // anyway. One posexplode + broadcast join + one per-doc collect
  // bounded by document length; no corpus-wide state beyond the freq
  // dimension.
  /** Corpus-statistics rarity scores per document: mean token probability
    * and mean inverse frequency (idf-like). Per-doc sums are sequential
    * folds over position-sorted lists — deterministic at any parallelism.
    * `minCount` > 1 pre-prunes the broadcast vocabulary (the Heaps-law OOM
    * mitigation).
    */
  def rarityScores(df: DataFrame, idCol: String, textCol: String,
      minCount: Long = 1L): DataFrame = {
    require(minCount >= 1L, s"minCount must be >= 1, got $minCount")
    val toks = df
      .select(col(idCol).as("__id"), posexplode(tokens(col(textCol))).as(Seq("pos", "w")))
    // minCount > 1 is the documented broadcast-cliff mitigation (VERDICT
    // r7): on a Heaps-law-exploded vocabulary (code/URL-heavy corpora) the
    // pinned broadcast below would OOM; pre-pruning drops tokens with
    // corpus frequency < minCount BEFORE the broadcast and renormalizes
    // probabilities over the pruned universe (p = c/n with n = Σ pruned c;
    // tokens outside it are excluded from scoring, and a document with no
    // surviving tokens drops out). The declared q82 pins minCount=1 —
    // identical to the historical behavior, so its oracle is unchanged.
    val freq = toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= minCount)
    val tot = freq.agg(sum(col("c")).as("n"))
    toks.join(broadcast(freq), "w").crossJoin(broadcast(tot))
      .select(col("__id"), col("pos"),
        (col("c").cast("double") / col("n")).as("p"),
        (col("n").cast("double") / col("c")).as("r"))
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_tokens"),
        (aggregate(array_sort(collect_list(struct(col("pos"), col("p")))),
          lit(0.0), (acc, x) => acc + x.getField("p")) / count(lit(1))).as("avg_p"),
        (aggregate(array_sort(collect_list(struct(col("pos"), col("r")))),
          lit(0.0), (acc, x) => acc + x.getField("r")) / count(lit(1))).as("avg_rarity"))
      .withColumnRenamed("__id", idCol)
  }

  private val q82 = GraftQuery(
    "q82_rarity_scoring",
    (s, dir) => rarityScores(Tables.documents(s, dir), "doc_id", "text")
      .select(col("doc_id"), col("n_tokens"), col("avg_p"), col("avg_rarity"))
      .orderBy(col("doc_id")),
    Some(s"""
      WITH tk AS (SELECT doc_id, generate_subscripts(t, 1) AS pos, unnest(t) AS w
                  FROM (SELECT doc_id, ${OracleSql.tokens("text")} AS t
                        FROM documents) d),
      freq AS (SELECT w, COUNT(*) AS c FROM tk GROUP BY w),
      tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tk),
      scored AS (SELECT doc_id, pos,
                        CAST(c AS DOUBLE) / n AS p,
                        CAST(n AS DOUBLE) / c AS r
                 FROM tk JOIN freq USING (w) CROSS JOIN tot)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(p ORDER BY pos)),
                         (s, x) -> s + x) / COUNT(*) AS avg_p,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(r ORDER BY pos)),
                         (s, x) -> s + x) / COUNT(*) AS avg_rarity
      FROM scored
      GROUP BY doc_id
      ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q96
  // Statistical bigram-LM quality scoring (the CCNet-shaped LM filter,
  // round 7): score each document by its mean smoothed bigram transition
  // probability under a language model fit on the corpus itself —
  // term(w1 w2) = (c(w1 w2) + 1) / (c(w1) + V), add-one smoothing over
  // vocabulary V. Predictable prose scores high; token soup, boilerplate
  // fragments, and wrong-language text score low. This is q82's rarity
  // family upgraded from unigram statistics to CONDITIONAL structure —
  // and like q82 it is formulated without transcendentals (mean
  // probability, not mean log-prob): every term is one IEEE division of
  // exact integer counts, and per-doc sums are sequential folds over
  // position-sorted lists, so Spark and DuckDB produce bit-identical
  // doubles at any parallelism.
  //
  // Shape at 100 TB: the unigram table is vocabulary-sized (broadcast,
  // pinned — q82's reasoning); the bigram count table is larger (Heaps-
  // law-ish, still ≪ corpus) and joins on an 8-byte xxhash64 key via
  // shuffle with partial-agged counts — never on gram strings. One
  // posexplode + two count aggs + two joins + one per-doc bounded
  // collect. Collisions on the 64-bit bigram key could only nudge a
  // count (~1e-9), the q79 trade, and the oracle joins raw strings.
  /** Per-document mean smoothed bigram transition probability under the
    * corpus's own bigram LM — the statistical LM quality filter. Output:
    * (id, n_bigrams, lm_score); documents with < 2 tokens emit no row.
    * `minCount` > 1 pre-prunes the broadcast unigram vocabulary.
    */
  def bigramLmScores(df: DataFrame, idCol: String, textCol: String,
      minCount: Long = 1L): DataFrame = {
    require(minCount >= 1L, s"minCount must be >= 1, got $minCount")
    val base = df
      .select(col(idCol).as("__id"), tokens(col(textCol)).as("t"))
      .filter(size(col("t")) >= 2)
    val bi = base
      .select(col("__id"),
        explode(sequence(lit(1), size(col("t")) - 1)).as("pos"),
        col("t"))
      .select(col("__id"), col("pos"),
        xxhash64(element_at(col("t"), col("pos"))).as("w1h"),
        xxhash64(concat_ws(" ",
          element_at(col("t"), col("pos")),
          element_at(col("t"), col("pos") + 1))).as("bh"))
    // minCount > 1 prunes the pinned unigram broadcast BEFORE it ships
    // (the documented vocab-explosion mitigation — VERDICT r7): bigrams
    // whose history word falls below minCount are excluded from scoring,
    // and the add-one smoothing denominator uses the PRUNED vocabulary
    // size V consistently. The declared q96 pins minCount=1 — identical to
    // the historical behavior, so its oracle is unchanged.
    val uni = df
      .select(explode(tokens(col(textCol))).as("w"))
      .groupBy(xxhash64(col("w")).as("w1h")).agg(count(lit(1)).as("c1"))
      .filter(col("c1") >= minCount)
    val vocab = uni.agg(count(lit(1)).as("v"))
    val big = bi.groupBy(col("bh")).agg(count(lit(1)).as("c2"))
    bi.join(big, "bh")
      .join(broadcast(uni), "w1h")
      .crossJoin(broadcast(vocab))
      .select(col("__id"), col("pos"),
        ((col("c2") + 1).cast("double") / (col("c1") + col("v")).cast("double"))
          .as("term"))
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_bigrams"),
        (aggregate(array_sort(collect_list(struct(col("pos"), col("term")))),
          lit(0.0), (acc, x) => acc + x.getField("term")) / count(lit(1)))
          .as("lm_score"))
      .withColumnRenamed("__id", idCol)
  }

  private val q96 = GraftQuery(
    "q96_bigram_lm_score",
    (s, dir) => bigramLmScores(Tables.documents(s, dir), "doc_id", "text")
      .select(col("doc_id"), col("n_bigrams"), col("lm_score"))
      .orderBy(col("doc_id")),
    Some(s"""
      WITH tk AS (SELECT doc_id, t
                  FROM (SELECT doc_id, ${OracleSql.tokens("text")} AS t
                        FROM documents) d),
      uni AS (SELECT w, COUNT(*) AS c1
              FROM (SELECT unnest(t) AS w FROM tk) GROUP BY w),
      vocab AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM uni),
      bi AS (SELECT doc_id, i AS pos, t[i] AS w1, t[i] || ' ' || t[i+1] AS b
             FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
                   FROM tk WHERE len(t) >= 2)),
      big AS (SELECT b, COUNT(*) AS c2 FROM bi GROUP BY b),
      scored AS (SELECT doc_id, pos,
                        CAST(c2 + 1 AS DOUBLE) / CAST(c1 + v AS DOUBLE) AS term
                 FROM bi JOIN big USING (b)
                         JOIN uni ON bi.w1 = uni.w
                         CROSS JOIN vocab)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(term ORDER BY pos)),
                         (s, x) -> s + x) / COUNT(*) AS lm_score
      FROM scored
      GROUP BY doc_id
      ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q97
  // Phrase provenance search (round 7): find every (doc, position) where
  // an exact token phrase occurs — the contamination-forensics query
  // ("which training documents contain this benchmark sentence, and
  // where") that decontamination's set-level drop cannot answer.
  //
  // Shape at 100 TB (VERDICT r7 #1 — the probe must be O(candidates),
  // not a corpus scan): TWO stored artifacts — [[gramIndex]] (positional
  // k-gram hashes, one row per token position) persisted bucketed+sorted
  // by `gh`, and [[tokenTable]] (the verification side) persisted
  // bucketed+sorted by id — the q81/ivfAssignments stored-index split.
  // A probe computes its phrase-gram hashes ON THE DRIVER (same xxhash64,
  // seed 42) and pushes them into the index scan as literal IN filters,
  // so bucket pruning (SelectedBucketsCount) and parquet min/max
  // row-group skipping fire; the candidate doc ids (bounded — that is
  // the probe's own premise, guarded loudly) are pushed the same way
  // into the token-table scan, so full-phrase verification touches
  // candidate buckets only. Neither side ever re-scans or re-tokenizes
  // the corpus. Phrases shorter than k are rejected loudly (no index
  // key). Plan shape is asserted in PhraseIndexSpec; probe latency vs
  // corpus size is measured by ScaleProbe mode "phrase".
  /** (gh, id, pos) positional k-gram index rows — persist bucketed by
    * `gh` and probe with [[phraseHitsStored]] (or [[phraseHits]] inline).
    */
  def gramIndex(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    tokenTable(docs, idCol, textCol)
      .filter(size(col("t")) >= k)
      .select(col(idCol),
        explode(sequence(lit(1), size(col("t")) - lit(k - 1))).as("pos"),
        col("t"))
      .select(col(idCol), col("pos"),
        xxhash64(concat_ws(" ", slice(col("t"), col("pos"), lit(k)))).as("gh"))

  /** (id, t) token arrays per document — the phrase-verification
    * artifact. Persist bucketed+sorted by `idCol` next to the gram
    * index; [[phraseHitsStored]] prunes its scan to candidate buckets.
    */
  def tokenTable(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), tokens(col(textCol)).as("t"))

  /** Driver-side evaluation of Spark's `xxhash64` over one string (seed
    * 42, identical value to the SQL function — asserted in
    * PhraseIndexSpec). Lets a probe push its phrase-gram hashes into the
    * stored-index scan as literals instead of a join, which is what lets
    * bucket pruning and row-group skipping fire.
    */
  private[graft] def xxhash64Literal(s: String): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64(
      Seq(org.apache.spark.sql.catalyst.expressions.Literal.create(
        s, org.apache.spark.sql.types.StringType)), 42L)
      .eval(org.apache.spark.sql.catalyst.InternalRow.empty).asInstanceOf[Long]

  /** Phrase side of a probe: (phrase, ptoks, m, gh) rows (gh computed on
    * the driver) plus the distinct first-gram hash literals to push into
    * the index scan.
    */
  private def phraseFrame(spark: SparkSession, phrases: Seq[String],
      k: Int): (DataFrame, Seq[Long]) = {
    import spark.implicits._
    val ptoks = phrases.map(p => p -> p.toLowerCase.split("\\W+").filter(_.nonEmpty).toSeq)
    ptoks.foreach { case (p, t) =>
      require(t.size >= k, s"phrase '$p' has ${t.size} tokens; index key needs >= $k")
    }
    val rows = ptoks.map { case (p, t) => (p, t, xxhash64Literal(t.take(k).mkString(" "))) }
    val pdf = rows.toDF("phrase", "ptoks", "gh")
      .select(col("phrase"), col("ptoks"), size(col("ptoks")).as("m"), col("gh"))
    (pdf, rows.map(_._3).distinct)
  }

  /** Full-phrase confirmation of index candidates by slice equality
    * against the candidates' token arrays (shared by the inline and
    * stored probes — value identity between them is by construction).
    */
  private def verifyCandidates(cands: DataFrame, toks: DataFrame,
      idCol: String): DataFrame =
    cands.join(toks, idCol)
      .filter(col("pos") + col("m") - 1 <= size(col("t")) &&
        expr("slice(t, pos, m)") === col("ptoks"))
      .select(col("phrase"), col(idCol), col("pos").cast("int").as("pos"))

  /** Every (phrase, id, pos) occurrence of each phrase, via a positional
    * gram `index` built by [[gramIndex]] with the same `k` — the INLINE
    * form (index and verification derived from `docs` in-plan; the
    * oracle-checkable declared query). The production path against
    * stored artifacts is [[phraseHitsStored]].
    */
  def phraseHits(docs: DataFrame, index: DataFrame, idCol: String,
      textCol: String, phrases: Seq[String], k: Int): DataFrame = {
    val (pdf, hashes) = phraseFrame(docs.sparkSession, phrases, k)
    val cands = index.filter(col("gh").isin(hashes: _*)).join(broadcast(pdf), "gh")
    verifyCandidates(cands, tokenTable(docs, idCol, textCol), idCol)
  }

  /** Phrase probe against STORED artifacts — the production provenance
    * path. `indexTable` is [[gramIndex]] persisted bucketed+sorted by
    * `gh`; `tokensTable` is [[tokenTable]] persisted bucketed+sorted by
    * `idCol` (`ScaleOps.writeBucketed`). Phrase-gram hashes go into the
    * index scan as literal IN filters → bucket pruning + min/max
    * skipping; candidate ids (a bounded driver fold — candidate count IS
    * what the probe's O(candidates) cost is measured in, and the
    * `maxCandidateDocs` guard fails loudly if a phrase's first gram is
    * too common for that premise) go into the token-table scan the same
    * way, so verification reads candidate buckets only. Value-identical
    * to [[phraseHits]] over the same corpus (asserted in
    * PhraseIndexSpec); per-probe cost is O(candidates), independent of
    * corpus size (measured flat by ScaleProbe mode "phrase").
    *
    * Probe sessions should set
    * `spark.sql.sources.bucketing.autoBucketedScan.enabled=false`:
    * Spark's DisableUnnecessaryBucketedScan rule only values bucketing
    * for exchange elimination, so it silently turns the bucketed read —
    * and with it bucket-file pruning — back into a plain file scan here
    * (row-group min/max skipping survives either way, file-level pruning
    * only with the rule off).
    */
  def phraseHitsStored(spark: SparkSession, indexTable: String,
      tokensTable: String, idCol: String, phrases: Seq[String], k: Int,
      maxCandidateDocs: Int = 1000000): DataFrame = {
    val (pdf, hashes) = phraseFrame(spark, phrases, k)
    val cands = spark.table(indexTable).filter(col("gh").isin(hashes: _*))
      .join(broadcast(pdf), "gh")
    val candIds = cands.select(col(idCol)).distinct()
      .limit(maxCandidateDocs + 1).collect().map(_.get(0))
    require(candIds.length <= maxCandidateDocs,
      s"phrase probe found > $maxCandidateDocs candidate docs — a first " +
        "k-gram this common breaks the O(candidates) premise; raise k " +
        "(longer index grams) or maxCandidateDocs")
    val toks =
      if (candIds.isEmpty) spark.table(tokensTable).limit(0)
      else spark.table(tokensTable).filter(col(idCol).isin(candIds: _*))
    verifyCandidates(cands, toks, idCol)
  }

  private val q97 = {
    // one k-length phrase (pure index hit), one longer phrase (exercises
    // the continuation verification), one absent phrase (must emit zero
    // rows in both engines) — all from the driver corpus's vocabulary
    val phrases = Seq("join part filter", "the vector customer spark", "sort merge join")
    GraftQuery(
      "q97_phrase_search",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        phraseHits(docs, gramIndex(docs, "doc_id", "text", k = 3),
            "doc_id", "text", phrases, k = 3)
          .orderBy(col("phrase"), col("doc_id"), col("pos"))
      },
      Some(s"""
        WITH t AS (SELECT doc_id, ${OracleSql.tokens("text")} AS t
                   FROM documents),
        phrases(phrase) AS (VALUES ('join part filter'), ('the vector customer spark'), ('sort merge join')),
        pt AS (SELECT phrase, ${OracleSql.tokens("phrase")} AS p
               FROM phrases),
        occ AS (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM t),
        hits AS (SELECT ph.phrase, o.doc_id, o.i AS pos
                 FROM occ o CROSS JOIN pt ph
                 WHERE o.i + len(ph.p) - 1 <= len(o.t)
                   AND o.t[o.i : o.i + len(ph.p) - 1] = ph.p)
        SELECT phrase, doc_id, CAST(pos AS INT) AS pos
        FROM hits
        ORDER BY phrase, doc_id, pos"""))
  }

  // ----------------------------------------------------------- q113 BM25
  // BM25 ranked retrieval (Robertson & Walker 1994; the Okapi weighting,
  // public formula) — quality-weighted lookup over a training corpus:
  // "which documents best match these terms" for curation triage,
  // targeted decontamination, and eval-set provenance. Same architecture
  // as q97's phrase search: postings are a STORED term-bucketed artifact;
  // a probe touches only the query terms' buckets, never the corpus.
  //
  // Oracle parity without ln() drift: idf/avgdl and the k1/b constants
  // are computed ON THE DRIVER (bounded: one 2-long stats row + one df
  // row per query term) and injected as QUOTED double literals into both
  // the Spark plan and the generated DuckDB SQL — no transcendental is
  // evaluated by either engine. Per-doc scoring then pivots the (bounded,
  // fixed) query terms into columns and sums them LEFT-ASSOC, so the
  // score double is bit-identical across engines (a SUM over terms would
  // be aggregation-order-dependent). Scores are hash-compared, not just
  // rank-compared.

  /** (term, id, tf) postings — persist bucketed+sorted by `term`
    * ([[graft.plans.ScaleOps.writeBucketed]]) so a probe's literal IN
    * prunes to the query terms' buckets. */
  def bm25Postings(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    tokenTable(docs, idCol, textCol)
      .select(col(idCol), explode(col("t")).as("term"))
      .groupBy(col("term"), col(idCol))
      .agg(count(lit(1)).as("tf"))

  /** (id, dl) document lengths — persist bucketed by `idCol` (the q97
    * token-table discipline) so candidate-id pushdown prunes the read. */
  def bm25DocLengths(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    tokenTable(docs, idCol, textCol)
      .select(col(idCol), size(col("t")).cast("long").as("dl"))

  /** Corpus constants a production deployment persists beside the index:
    * doc count, total token count, and per-query-term document
    * frequencies (df only for the probe's terms — O(terms) driver state).
    */
  final case class Bm25Stats(n: Long, sumDl: Long, df: Map[String, Long]) {
    def avgdl: Double = sumDl.toDouble / n
    def idf(term: String): Double = {
      val d = df.getOrElse(term, 0L).toDouble
      math.log(1.0 + (n - d + 0.5) / (d + 0.5))
    }
  }

  /** Derive [[Bm25Stats]] from lengths + postings frames (stored or
    * inline). The df scan is pruned to the term literals when `postings`
    * is the bucketed stored table. */
  def bm25Stats(lengths: DataFrame, postings: DataFrame,
      terms: Seq[String]): Bm25Stats = {
    val s = lengths.agg(count(lit(1)).as("n"), sum(col("dl")).as("s")).head()
    val df = postings.filter(col("term").isin(terms: _*))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    Bm25Stats(s.getLong(0), s.getLong(1), df)
  }

  /** Score candidates (docs holding >= 1 query term) and keep the global
    * top-k by (score DESC, id) — candidates come from the postings only,
    * so the work is O(postings of the query terms), not O(corpus). */
  private def bm25Rank(postings: DataFrame, lengths: DataFrame, idCol: String,
      terms: Seq[String], stats: Bm25Stats, k: Int, k1: Double, b: Double): DataFrame = {
    val pivoted = postings.filter(col("term").isin(terms: _*))
      .groupBy(col(idCol))
      .agg(max(when(col("term") === terms.head, col("tf"))).as("tf0"),
        terms.tail.zipWithIndex.map { case (t, i) =>
          max(when(col("term") === t, col("tf"))).as(s"tf${i + 1}")
        }: _*)
    val score = terms.indices.map { i =>
      val tf = col(s"tf$i").cast("double")
      coalesce(lit(stats.idf(terms(i))) * ((tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * (col("dl").cast("double") / lit(stats.avgdl))))),
        lit(0.0))
    }.reduceLeft(_ + _)
    // global top-k via sort+limit (TakeOrderedAndProject: per-partition
    // heaps, never a single-task full sort); the rank window then runs
    // over k rows only
    val topk = pivoted.join(lengths, idCol)
      .withColumn("score", score)
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col(idCol))
    topk.withColumn("rank", row_number().over(w).cast("int"))
      .select(col(idCol), col("rank"), col("score"))
  }

  /** INLINE BM25 top-k (index derived in-plan; the oracle-checked
    * declared form). Production path: [[bm25TopKStored]]. */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty && terms.size <= 32,
      s"1..32 query terms (got ${terms.size}): terms pivot to columns")
    val postings = bm25Postings(docs, idCol, textCol)
    val lengths = bm25DocLengths(docs, idCol, textCol)
    bm25Rank(postings, lengths, idCol, terms,
      bm25Stats(lengths, postings, terms), k, k1, b)
  }

  /** BM25 probe against STORED artifacts: `postingsTable` =
    * [[bm25Postings]] bucketed+sorted by term, `lengthsTable` =
    * [[bm25DocLengths]] bucketed by id, `stats` persisted (or re-derived
    * via [[bm25Stats]] — df's scan prunes to the term buckets). Term
    * literals prune the postings read; candidate ids (bounded, loudly
    * guarded — same premise as phraseHitsStored) prune the lengths read.
    * Value-identical to [[bm25TopK]] over the same corpus (Bm25Spec).
    * Set `spark.sql.sources.bucketing.autoBucketedScan.enabled=false` in
    * probe sessions — see [[phraseHitsStored]]'s caveat.
    */
  def bm25TopKStored(spark: SparkSession, postingsTable: String,
      lengthsTable: String, idCol: String, terms: Seq[String], stats: Bm25Stats,
      k: Int, k1: Double = 1.2, b: Double = 0.75,
      maxCandidateDocs: Int = 1000000): DataFrame = {
    require(terms.nonEmpty && terms.size <= 32,
      s"1..32 query terms (got ${terms.size}): terms pivot to columns")
    val postings = spark.table(postingsTable).filter(col("term").isin(terms: _*))
    val candIds = postings.select(col(idCol)).distinct()
      .limit(maxCandidateDocs + 1).collect().map(_.get(0))
    require(candIds.length <= maxCandidateDocs,
      s"BM25 probe found > $maxCandidateDocs candidate docs — a query " +
        "term this common breaks the O(postings) premise; drop stopword-" +
        "frequency terms or raise maxCandidateDocs")
    val lengths =
      if (candIds.isEmpty) spark.table(lengthsTable).limit(0)
      else spark.table(lengthsTable).filter(col(idCol).isin(candIds: _*))
    bm25Rank(postings, lengths, idCol, terms, stats, k, k1, b)
  }

  /** The BM25 WITH-cascade up to a `ranked` CTE — shared by the q113
    * oracle and the q130 RRF-fusion oracle. */
  private def bm25OracleCtes(terms: Seq[String], stats: Bm25Stats,
      k1: Double, b: Double): String = {
    import OracleSql.double
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      s"MAX(CASE WHEN term = '$t' THEN tf END) AS tf$i" }
    val scoreExpr = terms.indices.map { i =>
      s"COALESCE(${double(stats.idf(terms(i)))} * ((CAST(tf$i AS DOUBLE) * ${double(k1 + 1.0)}) / " +
        s"(CAST(tf$i AS DOUBLE) + ${double(k1)} * (${double(1.0 - b)} + ${double(b)} * (CAST(dl AS DOUBLE) / ${double(stats.avgdl)})))), CAST('0.0' AS DOUBLE))"
    }.reduceLeft((a, b2) => s"($a + $b2)")
    s"""t AS (SELECT doc_id, ${OracleSql.tokens("text")} AS t
       |           FROM documents),
       |l AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM t),
       |tok AS (SELECT doc_id, unnest(t) AS term FROM t),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
       |       WHERE term IN (${terms.map(t => s"'$t'").mkString(", ")})
       |       GROUP BY doc_id, term),
       |piv AS (SELECT doc_id, ${tfCols.mkString(", ")} FROM tf GROUP BY doc_id),
       |sc AS (SELECT piv.doc_id, $scoreExpr AS score
       |       FROM piv JOIN l ON piv.doc_id = l.doc_id),
       |ranked AS (SELECT doc_id, score,
       |                  ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank
       |           FROM sc)""".stripMargin
  }

  private def bm25Oracle(terms: Seq[String], stats: Bm25Stats, k: Int,
      k1: Double, b: Double): String =
    s"""WITH ${bm25OracleCtes(terms, stats, k1, b)}
       |SELECT doc_id, CAST(rank AS INT) AS rank, score FROM ranked
       |WHERE rank <= $k
       |ORDER BY rank""".stripMargin

  private val q113 = {
    // mixed-df terms from the driver vocabulary: common, mid, rare — the
    // shape a real triage probe has
    val terms = Seq("spark", "vector", "customer", "partition")
    GraftQuery.fitted("q113_bm25_topk") { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val postings = bm25Postings(docs, "doc_id", "text")
      val lengths = bm25DocLengths(docs, "doc_id", "text")
      val stats = bm25Stats(lengths, postings, terms)
      (bm25Rank(postings, lengths, "doc_id", terms, stats,
        k = 20, k1 = 1.2, b = 0.75)
        .orderBy(col("rank")),
        bm25Oracle(terms, stats, k = 20, k1 = 1.2, b = 0.75))
    }
  }

  // ------------------------------------------------------ q119 freq grams
  // Frequent k-gram mining: the corpus-wide top-K repeated token spans
  // with document frequency and occurrence counts — the TRIAGE step
  // before substring dedup (q95): what boilerplate exists, how wide it
  // spreads, and therefore what k/threshold the removal pass should use.
  // Scale: explode k-grams → (gram, doc) hash-agg → gram hash-agg — both
  // partial-aggregated, shuffle keyed by the gram string (the wordcount
  // shape; heavy grams are exactly what partial agg absorbs) — then
  // global top-K via sort+limit (TakeOrderedAndProject).
  def frequentGrams(docs: DataFrame, idCol: String, textCol: String,
      k: Int, topK: Int): DataFrame = {
    val grams = tokenTable(docs, idCol, textCol)
      .filter(size(col("t")) >= k)
      .select(col(idCol),
        explode(sequence(lit(1), size(col("t")) - lit(k - 1))).as("pos"), col("t"))
      .select(col(idCol), concat_ws(" ", slice(col("t"), col("pos"), lit(k))).as("gram"))
    grams.groupBy(col("gram"), col(idCol)).agg(count(lit(1)).as("occ"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("n_docs"), sum(col("occ")).as("n_occ"))
      .orderBy(col("n_occ").desc, col("gram"))
      .limit(topK)
  }

  private val q119 = GraftQuery(
    "q119_frequent_grams",
    (s, dir) => frequentGrams(Tables.documents(s, dir), "doc_id", "text",
      k = 4, topK = 25),
    Some(s"""
      WITH t AS (SELECT doc_id, ${OracleSql.tokens("text")} AS t
                 FROM documents),
      occ AS (SELECT doc_id, t, unnest(range(1, len(t) - 2)) AS i
              FROM t WHERE len(t) >= 4),
      g AS (SELECT doc_id, array_to_string(t[i : i + 3], ' ') AS gram FROM occ),
      per AS (SELECT gram, doc_id, COUNT(*) AS occ FROM g GROUP BY gram, doc_id),
      agg AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS n_docs,
                     CAST(SUM(occ) AS BIGINT) AS n_occ
              FROM per GROUP BY gram)
      SELECT gram, n_docs, n_occ FROM agg
      ORDER BY n_occ DESC, gram
      LIMIT 25"""))

  // ------------------------------------------------------ q121 BM25 append
  // Incremental BM25 index maintenance — the q111/q81 stored-artifact
  // append discipline applied to retrieval: postings rows are a pure
  // per-doc function, so indexing a NEW batch emits only the batch's
  // (term, id, tf) rows (append straight into the bucketed postings
  // table) and lengths likewise; the corpus constants fold ADDITIVELY
  // (n and sumDl by sum, df by per-term sum). Append-then-probe is
  // therefore EXACTLY rebuild-then-probe on the union — not an
  // approximation law like ANN recall, an identity — which is what the
  // declared query hash-pins: it scores the union via base + appended
  // artifacts and the oracle recomputes the whole index from scratch.

  /** Fold a new batch's constants into stored ones (additive). */
  def bm25StatsMerge(base: Bm25Stats, inc: Bm25Stats): Bm25Stats =
    Bm25Stats(base.n + inc.n, base.sumDl + inc.sumDl,
      (base.df.keySet ++ inc.df.keySet).map(t =>
        t -> (base.df.getOrElse(t, 0L) + inc.df.getOrElse(t, 0L))).toMap)

  private val q121 = {
    val terms = Seq("spark", "vector", "customer", "partition")
    GraftQuery.fitted("q121_bm25_append") { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val base = docs.filter(col("doc_id") % 10 < 8)
      val batch = docs.filter(col("doc_id") % 10 >= 8)
      // index each side independently (what a stored table + an append
      // write produce), union the ARTIFACTS, fold the constants
      val postings = bm25Postings(base, "doc_id", "text")
        .unionByName(bm25Postings(batch, "doc_id", "text"))
      val lengths = bm25DocLengths(base, "doc_id", "text")
        .unionByName(bm25DocLengths(batch, "doc_id", "text"))
      val stats = bm25StatsMerge(
        bm25Stats(bm25DocLengths(base, "doc_id", "text"),
          bm25Postings(base, "doc_id", "text"), terms),
        bm25Stats(bm25DocLengths(batch, "doc_id", "text"),
          bm25Postings(batch, "doc_id", "text"), terms))
      (bm25Rank(postings, lengths, "doc_id", terms, stats, 20, 1.2, 0.75)
        .orderBy(col("rank")),
        bm25Oracle(terms, stats, k = 20, 1.2, 0.75))
    }
  }

  // --------------------------------------------------- q129 boolean query
  // Boolean retrieval (AND / AND-NOT) over the SAME stored term-bucketed
  // postings BM25 probes — the filterable counterpart to ranked
  // retrieval: "every doc containing all of these terms and none of
  // those", the shape of targeted decontamination sweeps and eval-set
  // provenance lookups. Work is O(postings of the query terms): the
  // must-terms hash-agg counts distinct term hits per doc (a doc
  // qualifies when it hits all |must|), the not-terms side prunes by
  // left-anti join — never a corpus scan when the postings are the
  // stored bucketed artifact (term-literal pushdown, the q97/q113
  // discipline).
  def booleanRetrieve(postings: DataFrame, idCol: String,
      must: Seq[String], mustNot: Seq[String]): DataFrame = {
    require(must.nonEmpty, "boolean retrieval needs at least one must-term")
    val hits = postings.filter(col("term").isin(must: _*))
      .groupBy(col(idCol))
      .agg(countDistinct(col("term")).as("n_terms"),
        sum(col("tf")).as("tf_total"))
      .filter(col("n_terms") === must.size)
    val out =
      if (mustNot.isEmpty) hits
      else hits.join(
        postings.filter(col("term").isin(mustNot: _*)).select(col(idCol)).distinct(),
        Seq(idCol), "left_anti")
    out.select(col(idCol), col("tf_total"))
  }

  private val q129 = GraftQuery(
    "q129_boolean_retrieval",
    (s, dir) => {
      val postings = bm25Postings(Tables.documents(s, dir), "doc_id", "text")
      booleanRetrieve(postings, "doc_id",
        must = Seq("spark", "vector"), mustNot = Seq("dup"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH t AS (SELECT doc_id, ${OracleSql.tokens("text")} AS t
                 FROM documents),
      tok AS (SELECT doc_id, unnest(t) AS term FROM t),
      tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
             WHERE term IN ('spark', 'vector')
             GROUP BY doc_id, term),
      hit AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS tf_total
              FROM tf GROUP BY doc_id
              HAVING COUNT(DISTINCT term) = 2)
      SELECT doc_id, tf_total FROM hit
      WHERE doc_id NOT IN (SELECT DISTINCT doc_id FROM tok WHERE term = 'dup')
      ORDER BY doc_id"""))

  // ------------------------------------------------------ q130 hybrid RRF
  // Hybrid retrieval: reciprocal-rank fusion (Cormack, Clarke & Buettcher
  // 2009) of the BM25 term ranking (q113) with the embedding-cosine
  // ranking (q40's brute-force shape as the calibration side; the
  // production ANN side is any of q41/q41b/q116 — RRF only consumes
  // ranks, so the fusion is retrieval-method-agnostic). This is the
  // standard RAG/retrieval-quality shape: lexical and semantic evidence
  // fused without score calibration, rrf = Σ 1/(60 + rank).
  //
  // Exactness: ranks are integers; each 1/(60+rank) is ONE double
  // division and the fusion adds exactly two terms in fixed order —
  // bit-identical in DuckDB. Scale shape: both sides are top-k
  // (TakeOrderedAndProject, per-partition heaps), the fusion joins two
  // k-row frames — driver-free, corpus never materializes pairwise.
  private val q130 = {
    val terms = Seq("spark", "vector", "customer", "partition")
    val qVec = 0L
    val kEach = 30
    val kOut = 15
    GraftQuery.fitted("q130_hybrid_rrf") { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val postings = bm25Postings(docs, "doc_id", "text")
      val lengths = bm25DocLengths(docs, "doc_id", "text")
      val stats = bm25Stats(lengths, postings, terms)
      val bm = bm25Rank(postings, lengths, "doc_id", terms, stats,
        kEach, 1.2, 0.75).select(col("doc_id"), col("rank").as("br"))
      val e = Similarity.vecs(Tables.embeddings(s, dir))
      val qv = e.filter(col("vec_id") === qVec)
        .select(col("v").as("qv"), col("norm").as("qn"))
      val scored = e.filter(col("vec_id") =!= qVec).crossJoin(broadcast(qv))
        .select(col("vec_id"),
          (Similarity.dot(col("qv"), col("v")) / (col("qn") * col("norm"))).as("cos"))
      val annTop = scored.orderBy(col("cos").desc, col("vec_id")).limit(kEach)
      val ann = annTop.withColumn("ar", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("cos").desc, col("vec_id"))))
        .select(col("vec_id").as("doc_id"), col("ar"))
      val fused = bm.join(ann, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          coalesce(col("br"), lit(0)).cast("int").as("bm25_rank"),
          coalesce(col("ar"), lit(0)).cast("int").as("ann_rank"),
          (when(col("br").isNotNull, lit(1.0) / (lit(60) + col("br")))
            .otherwise(lit(0.0)) +
            when(col("ar").isNotNull, lit(1.0) / (lit(60) + col("ar")))
              .otherwise(lit(0.0))).as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id")).limit(kOut)
      (fused.withColumn("rrf_rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("rrf").desc, col("doc_id"))).cast("int"))
        .orderBy(col("rrf_rank")),
        rrfOracle(terms, stats, qVec, kEach, kOut))
    }
  }

  /** q130's oracle, pinned with the run's own stats. */
  private def rrfOracle(terms: Seq[String], stats: Bm25Stats, qVec: Long,
      kEach: Int, kOut: Int): String =
    s"""WITH ${bm25OracleCtes(terms, stats, 1.2, 0.75)},
       |bmtop AS (SELECT doc_id, rank AS br FROM ranked WHERE rank <= $kEach),
       |${graft.operators.Similarity.sqlVecs},
       |q AS (SELECT v AS qv, norm AS qn FROM e WHERE vec_id = $qVec),
       |scored AS (SELECT e.vec_id,
       |                  ${graft.operators.Similarity.sqlDot("qv", "e.v")} / (qn * e.norm) AS cos
       |           FROM e, q WHERE e.vec_id <> $qVec),
       |anntop AS (SELECT vec_id AS doc_id, ar FROM (
       |             SELECT vec_id, ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id) AS ar
       |             FROM scored) WHERE ar <= $kEach),
       |fused AS (SELECT COALESCE(b.doc_id, a.doc_id) AS doc_id,
       |                 CAST(COALESCE(b.br, 0) AS INT) AS bm25_rank,
       |                 CAST(COALESCE(a.ar, 0) AS INT) AS ann_rank,
       |                 (CASE WHEN b.br IS NULL THEN 0.0 ELSE 1.0 / (60 + b.br) END
       |                  + CASE WHEN a.ar IS NULL THEN 0.0 ELSE 1.0 / (60 + a.ar) END) AS rrf
       |          FROM bmtop b FULL OUTER JOIN anntop a ON b.doc_id = a.doc_id)
       |SELECT doc_id, bm25_rank, ann_rank, rrf,
       |       CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS INT) AS rrf_rank
       |FROM fused
       |ORDER BY rrf DESC, doc_id
       |LIMIT $kOut""".stripMargin

  // ---------------------------------------------------- q140 quality drift
  // Per-source quality drift across ingest batches — the FineWeb-style
  // per-crawl monitoring question ("did source X's text get shorter /
  // lose stopword density in the latest batches?") answered with exact
  // integer sums and cross-multiplied verdicts, no float boundary. A
  // batch whose mean token count or stopword count deviates more than
  // 25% RELATIVELY from its source's overall mean is flagged; the
  // source totals come from summing the batch rows (tiny), so the
  // corpus is scanned ONCE. `batchExpr` is any deterministic batch id
  // (production: crawl date; here doc_id DIV 50 — the synthetic corpus
  // has no time column).
  /** Per-(source, batch) additive quality sums — the persistable stage
    * of [[qualityDrift]]: plain integer counters, so per-trigger shard
    * rows written by a stream fold by SUM into exactly the one-pass
    * sums (StreamingSpec pins streamed == batch verdict parity, the
    * q135 pattern). */
  def qualityBatchSums(docs: DataFrame,
      batchExpr: org.apache.spark.sql.Column): DataFrame = {
    val t = tokens(col("text"))
    docs
      .select(col("source"), batchExpr.cast("long").as("batch"),
        size(t).cast("long").as("nt"),
        size(filter(t, w => w.isin("the", "a", "and", "of", "to", "is", "in")))
          .cast("long").as("ns"))
      .groupBy(col("source"), col("batch"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("sum_tokens"),
        sum(col("ns")).as("sum_stop"))
  }

  /** Drift verdicts from STORED sum rows (as emitted by
    * [[qualityBatchSums]], possibly several shard rows per (source,
    * batch) — one per trigger/day): fold by SUM, derive source totals,
    * cross-multiply. History is never re-scanned; the input is
    * O(sources × batches) counter rows. */
  def qualityDriftFromSums(sums: DataFrame): DataFrame = {
    val perBatch = sums.groupBy(col("source"), col("batch"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("sum_tokens")).as("sum_tokens"),
        sum(col("sum_stop")).as("sum_stop"))
    val perSource = perBatch.groupBy(col("source"))
      .agg(sum(col("n_docs")).as("N"), sum(col("sum_tokens")).as("ST"),
        sum(col("sum_stop")).as("SS"))
    perBatch.join(perSource, "source")
      .select(col("source"), col("batch"), col("n_docs"),
        col("sum_tokens"), col("sum_stop"),
        (abs(col("sum_tokens") * col("N") - col("ST") * col("n_docs")) * lit(4L)
          > col("ST") * col("n_docs")).as("len_drift"),
        (abs(col("sum_stop") * col("N") - col("SS") * col("n_docs")) * lit(4L)
          > col("SS") * col("n_docs")).as("stop_drift"))
  }

  def qualityDrift(docs: DataFrame, batchExpr: org.apache.spark.sql.Column): DataFrame =
    qualityDriftFromSums(qualityBatchSums(docs, batchExpr))

  private val q140 = GraftQuery(
    "q140_quality_drift",
    (s, dir) => qualityDrift(Tables.documents(s, dir),
      expr("doc_id DIV 50")).orderBy(col("source"), col("batch")),
    Some(s"""
      WITH d AS (SELECT source, doc_id // 50 AS batch,
                        ${OracleSql.tokens("text")} AS t
                 FROM documents),
      pb AS (SELECT source, batch, COUNT(*) AS n_docs,
                    CAST(SUM(len(t)) AS BIGINT) AS sum_tokens,
                    CAST(SUM(len(list_filter(t, x -> list_contains(['the','a','and','of','to','is','in'], x)))) AS BIGINT) AS sum_stop
             FROM d GROUP BY source, batch),
      ps AS (SELECT source, CAST(SUM(n_docs) AS BIGINT) AS N,
                    CAST(SUM(sum_tokens) AS BIGINT) AS ST,
                    CAST(SUM(sum_stop) AS BIGINT) AS SS
             FROM pb GROUP BY source)
      SELECT pb.source AS source, batch, n_docs, sum_tokens, sum_stop,
             ABS(sum_tokens * N - ST * n_docs) * 4 > ST * n_docs AS len_drift,
             ABS(sum_stop * N - SS * n_docs) * 4 > SS * n_docs AS stop_drift
      FROM pb JOIN ps ON pb.source = ps.source
      ORDER BY pb.source, batch"""))

  // ------------------------------------------------------ q144 loop detect
  // Trailing-loop detection for generated text: the longest r such that
  // the document's last r tokens exactly repeat the r tokens before
  // them — the signature of a generation loop ("... the end the end the
  // end"). Pure per-row column arithmetic (bounded r ≤ 20 slice
  // comparisons per document, no shuffle at all before the presentation
  // sort), so it runs inline in any generation-QA scan; pair with q143's
  // memorization rate for the two standard model-output checks.
  def trailingLoop(docs: DataFrame, idCol: String, textCol: String,
      maxR: Int = 20): DataFrame = {
    val t = graft.functions.TextFunctions.tokens(col(textCol))
    docs
      .select(col(idCol), t.as("__t"))
      .withColumn("__n", size(col("__t")))
      .withColumn("loop_len",
        aggregate(
          filter(sequence(lit(1), lit(maxR)),
            // the bound guard must gate the slice itself: slice() rejects
            // start 0, which r > n/2 would produce on short documents
            r => when(r * lit(2) <= col("__n"),
              slice(col("__t"), col("__n") - r * 2 + 1, r) ===
                slice(col("__t"), col("__n") - r + 1, r)).otherwise(lit(false))),
          lit(0), (a, x) => greatest(a, x)))
      .select(col(idCol), col("__n").as("n_tokens"), col("loop_len"),
        (col("loop_len") >= 2).as("has_loop"))
  }

  private val q144 = GraftQuery(
    "q144_trailing_loop",
    (s, dir) => trailingLoop(Tables.documents(s, dir), "doc_id", "text")
      .orderBy(col("doc_id")),
    Some(s"""
      WITH t AS (SELECT doc_id,
                        ${OracleSql.tokens("text")} AS t
                 FROM documents),
      m AS (SELECT doc_id, len(t) AS n,
                   COALESCE(list_max(list_filter(range(1, 21),
                     r -> 2*r <= len(t)
                          AND t[len(t) - 2*r + 1 : len(t) - r] = t[len(t) - r + 1 : len(t)])),
                     0) AS loop_len
            FROM t)
      SELECT doc_id, CAST(n AS INT) AS n_tokens, CAST(loop_len AS INT) AS loop_len,
             loop_len >= 2 AS has_loop
      FROM m
      ORDER BY doc_id"""))

  // ------------------------------------------------- q148 gopher rules
  // Gopher-style repetition + lexical quality gates (Rae et al. 2021,
  // Table A1 shape): per document — token count window, mean word
  // length window, alphabetic-word fraction floor, and the repetition
  // signal (most-frequent-bigram occupancy cap). Every gate is an
  // exact integer cross-multiplication over per-doc counters, so the
  // keep verdict replays bit-for-bit — the float-free discipline q134's
  // cascade uses, applied to the standard pre-training filter set.
  //
  // Scale: the per-doc counters are stateless column math inside the
  // scan; the one non-local signal (top-bigram count) is a (doc, gram)
  // hash-agg + per-doc max — the wordcount shuffle class (q119), keys
  // die at the per-doc reduce. ONE scan: the counters ride the gram
  // aggregation as grouping keys (a few extra longs per gram row)
  // instead of a second tokenize branch joined back — the join form
  // re-scanned and re-tokenized the corpus once per side (code-review
  // r11); explode_outer keeps gram-free docs in the flow, so no outer
  // join is needed either. Compose with q134's cascade for the
  // attribution ledger.
  def gopherQuality(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = tokens(col(textCol))
    docs
      .select(col(idCol), t.as("__t"))
      .select(col(idCol),
        size(col("__t")).cast("long").as("n_tokens"),
        aggregate(col("__t"), lit(0L), (a, x) => a + length(x)).as("sum_chars"),
        size(filter(col("__t"), x => x.rlike("^[a-z]+$"))).cast("long").as("n_alpha"),
        graft.functions.WordNGrams(col("__t"), 2).as("__g"))
      .select(col(idCol), col("n_tokens"), col("sum_chars"), col("n_alpha"),
        explode_outer(col("__g")).as("g"))
      .groupBy(col(idCol), col("n_tokens"), col("sum_chars"), col("n_alpha"),
        col("g"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col(idCol), col("n_tokens"), col("sum_chars"), col("n_alpha"))
      .agg(coalesce(max(when(col("g").isNotNull, col("c"))), lit(0L))
        .as("top_bigram"))
      .withColumn("ok_len",
        col("n_tokens") >= 50L && col("n_tokens") <= 100000L)
      .withColumn("ok_word_len",
        col("sum_chars") >= col("n_tokens") * 3L &&
          col("sum_chars") <= col("n_tokens") * 10L)
      .withColumn("ok_alpha", col("n_alpha") * 10L >= col("n_tokens") * 8L)
      .withColumn("ok_repeat",
        col("top_bigram") * 100L <=
          greatest(col("n_tokens") - 1L, lit(1L)) * 18L)
      .withColumn("keep",
        col("ok_len") && col("ok_word_len") && col("ok_alpha") && col("ok_repeat"))
      .orderBy(col(idCol))
  }

  /** COMPLETE Gopher gate set (Rae et al. 2021, Table A1) — the four
    * [[gopherQuality]] gates plus the three practitioners toggle next
    * (VERDICT r11 missing #4): symbol-to-word ratio (hash and ellipsis
    * each capped at 0.1 of tokens), bullet / ellipsis LINE fractions
    * (≤ 90% of lines may start with a bullet; ≤ 30% may end with an
    * ellipsis), and stop-word presence (≥ 2 distinct words of the
    * paper's 8-word list {the, be, to, of, and, that, have, with}).
    * Every new gate is the same exact integer cross-multiplication
    * discipline — counters are stateless column math inside the scan
    * (one `split(text, '\n')` for the line pair, one array_intersect
    * against the 8-word literal for stop words), ride the (doc, gram)
    * hash-agg as grouping keys like the original four, and the keep
    * verdict replays bit-for-bit. */
  def gopherQualityFull(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val t = tokens(col(textCol))
    val stops = array(Seq("the", "be", "to", "of", "and", "that", "have",
      "with").map(lit): _*)
    val x = col("__x")
    val lines = split(x, "\n")
    docs
      .select(col(idCol), col(textCol).as("__x"), t.as("__t"))
      .select(col(idCol),
        size(col("__t")).cast("long").as("n_tokens"),
        aggregate(col("__t"), lit(0L), (a, c) => a + length(c)).as("sum_chars"),
        size(filter(col("__t"), c => c.rlike("^[a-z]+$"))).cast("long")
          .as("n_alpha"),
        regexp_count(x, lit("#")).cast("long").as("n_hash"),
        regexp_count(x, lit("(\\.\\.\\.|…)")).cast("long").as("n_ellipsis"),
        size(lines).cast("long").as("n_lines"),
        size(filter(lines, l => l.rlike("^\\s*[•\\-*]"))).cast("long")
          .as("n_bullet_lines"),
        size(filter(lines, l => l.rlike("(\\.\\.\\.|…)\\s*$"))).cast("long")
          .as("n_ellipsis_lines"),
        size(array_intersect(array_distinct(col("__t")), stops)).cast("long")
          .as("n_stop"),
        graft.functions.WordNGrams(col("__t"), 2).as("__g"))
      .select(col(idCol), col("n_tokens"), col("sum_chars"), col("n_alpha"),
        col("n_hash"), col("n_ellipsis"), col("n_lines"),
        col("n_bullet_lines"), col("n_ellipsis_lines"), col("n_stop"),
        explode_outer(col("__g")).as("g"))
      .groupBy(col(idCol), col("n_tokens"), col("sum_chars"), col("n_alpha"),
        col("n_hash"), col("n_ellipsis"), col("n_lines"),
        col("n_bullet_lines"), col("n_ellipsis_lines"), col("n_stop"),
        col("g"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col(idCol), col("n_tokens"), col("sum_chars"), col("n_alpha"),
        col("n_hash"), col("n_ellipsis"), col("n_lines"),
        col("n_bullet_lines"), col("n_ellipsis_lines"), col("n_stop"))
      .agg(coalesce(max(when(col("g").isNotNull, col("c"))), lit(0L))
        .as("top_bigram"))
      .withColumn("ok_len",
        col("n_tokens") >= 50L && col("n_tokens") <= 100000L)
      .withColumn("ok_word_len",
        col("sum_chars") >= col("n_tokens") * 3L &&
          col("sum_chars") <= col("n_tokens") * 10L)
      .withColumn("ok_alpha", col("n_alpha") * 10L >= col("n_tokens") * 8L)
      .withColumn("ok_repeat",
        col("top_bigram") * 100L <=
          greatest(col("n_tokens") - 1L, lit(1L)) * 18L)
      .withColumn("ok_symbol",
        col("n_hash") * 10L <= col("n_tokens") &&
          col("n_ellipsis") * 10L <= col("n_tokens"))
      .withColumn("ok_bullet",
        col("n_bullet_lines") * 10L <= col("n_lines") * 9L)
      .withColumn("ok_ellipsis_lines",
        col("n_ellipsis_lines") * 10L <= col("n_lines") * 3L)
      .withColumn("ok_stop", col("n_stop") >= 2L)
      .withColumn("keep",
        col("ok_len") && col("ok_word_len") && col("ok_alpha") &&
          col("ok_repeat") && col("ok_symbol") && col("ok_bullet") &&
          col("ok_ellipsis_lines") && col("ok_stop"))
      .orderBy(col(idCol))
  }

  private val q148b = GraftQuery(
    "q148b_gopher_full",
    (s, dir) => gopherQualityFull(Tables.documents(s, dir), "doc_id", "text"),
    Some(s"""
      WITH t AS (SELECT doc_id, text,
                        ${OracleSql.tokens("text")} AS t
                 FROM documents),
      base AS (SELECT doc_id,
                      CAST(len(t) AS BIGINT) AS n_tokens,
                      CAST(COALESCE(list_sum(list_transform(t, x -> len(x))), 0) AS BIGINT) AS sum_chars,
                      CAST(len(list_filter(t, x -> regexp_matches(x, '^[a-z]+$$'))) AS BIGINT) AS n_alpha,
                      CAST(len(regexp_extract_all(text, '#')) AS BIGINT) AS n_hash,
                      CAST(len(regexp_extract_all(text, '(\\.\\.\\.|…)')) AS BIGINT) AS n_ellipsis,
                      CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
                      CAST(len(list_filter(string_split(text, chr(10)),
                        l -> regexp_matches(l, '^\\s*[•\\-*]'))) AS BIGINT) AS n_bullet_lines,
                      CAST(len(list_filter(string_split(text, chr(10)),
                        l -> regexp_matches(l, '(\\.\\.\\.|…)\\s*$$'))) AS BIGINT) AS n_ellipsis_lines,
                      CAST(len(list_intersect(list_distinct(t),
                        ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'])) AS BIGINT) AS n_stop,
                      t
               FROM t),
      grams AS (SELECT doc_id, unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS g
                FROM t WHERE len(t) >= 2),
      top AS (SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_bigram
              FROM (SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY doc_id, g)
              GROUP BY doc_id),
      m AS (SELECT b.*, COALESCE(top.top_bigram, 0) AS top_bigram
            FROM base b LEFT JOIN top ON b.doc_id = top.doc_id)
      SELECT doc_id, n_tokens, sum_chars, n_alpha, n_hash, n_ellipsis,
             n_lines, n_bullet_lines, n_ellipsis_lines, n_stop, top_bigram,
             (n_tokens >= 50 AND n_tokens <= 100000) AS ok_len,
             (sum_chars >= n_tokens * 3 AND sum_chars <= n_tokens * 10) AS ok_word_len,
             (n_alpha * 10 >= n_tokens * 8) AS ok_alpha,
             (top_bigram * 100 <= GREATEST(n_tokens - 1, 1) * 18) AS ok_repeat,
             (n_hash * 10 <= n_tokens AND n_ellipsis * 10 <= n_tokens) AS ok_symbol,
             (n_bullet_lines * 10 <= n_lines * 9) AS ok_bullet,
             (n_ellipsis_lines * 10 <= n_lines * 3) AS ok_ellipsis_lines,
             (n_stop >= 2) AS ok_stop,
             ((n_tokens >= 50 AND n_tokens <= 100000)
              AND (sum_chars >= n_tokens * 3 AND sum_chars <= n_tokens * 10)
              AND (n_alpha * 10 >= n_tokens * 8)
              AND (top_bigram * 100 <= GREATEST(n_tokens - 1, 1) * 18)
              AND (n_hash * 10 <= n_tokens AND n_ellipsis * 10 <= n_tokens)
              AND (n_bullet_lines * 10 <= n_lines * 9)
              AND (n_ellipsis_lines * 10 <= n_lines * 3)
              AND (n_stop >= 2)) AS keep
      FROM m
      ORDER BY doc_id"""))

  private val q148 = GraftQuery(
    "q148_gopher_quality",
    (s, dir) => gopherQuality(Tables.documents(s, dir), "doc_id", "text"),
    Some(s"""
      WITH t AS (SELECT doc_id,
                        ${OracleSql.tokens("text")} AS t
                 FROM documents),
      base AS (SELECT doc_id,
                      CAST(len(t) AS BIGINT) AS n_tokens,
                      CAST(list_sum(list_transform(t, x -> len(x))) AS BIGINT) AS sum_chars,
                      CAST(len(list_filter(t, x -> regexp_matches(x, '^[a-z]+$$'))) AS BIGINT) AS n_alpha,
                      t
               FROM t),
      grams AS (SELECT doc_id, unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS g
                FROM t WHERE len(t) >= 2),
      top AS (SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_bigram
              FROM (SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY doc_id, g)
              GROUP BY doc_id),
      m AS (SELECT b.doc_id, n_tokens, COALESCE(sum_chars, 0) AS sum_chars,
                   n_alpha, COALESCE(top.top_bigram, 0) AS top_bigram
            FROM base b LEFT JOIN top ON b.doc_id = top.doc_id)
      SELECT doc_id, n_tokens, sum_chars, n_alpha, top_bigram,
             (n_tokens >= 50 AND n_tokens <= 100000) AS ok_len,
             (sum_chars >= n_tokens * 3 AND sum_chars <= n_tokens * 10) AS ok_word_len,
             (n_alpha * 10 >= n_tokens * 8) AS ok_alpha,
             (top_bigram * 100 <= GREATEST(n_tokens - 1, 1) * 18) AS ok_repeat,
             ((n_tokens >= 50 AND n_tokens <= 100000)
              AND (sum_chars >= n_tokens * 3 AND sum_chars <= n_tokens * 10)
              AND (n_alpha * 10 >= n_tokens * 8)
              AND (top_bigram * 100 <= GREATEST(n_tokens - 1, 1) * 18)) AS keep
      FROM m
      ORDER BY doc_id"""))

  // ------------------------------------------------ q157 DSIR importance
  // Data Selection via Importance Resampling (Xie et al. 2023) made
  // engine-exact: score every raw document by how target-like its
  // hashed-bigram feature distribution is. Bucket counts over the
  // TARGET and RAW corpora (one exploded-gram hash-agg with conditional
  // sums), add-1-smoothed probability ratio per bucket — computed as a
  // FIXED expression tree of exact-LONG casts and IEEE divisions, never
  // an overflow-prone cross-product — and the per-doc score as the mean
  // bucket ratio weighted by the doc's feature counts. The q96
  // discipline keeps it bit-reproducible without transcendentals: DSIR's
  // log-sum is replaced by the mean ratio (same target-likeness ranking
  // family, no ln), and the double summation is a BUCKET-ORDERED fold
  // over a collected per-doc array, so partial-agg ordering can never
  // change a ULP in either engine.
  //
  // Scale: features never leave (doc, bucket) grain — the B-bucket ratio
  // table (4096 rows) broadcasts; the per-doc fold array holds at most
  // min(doc_grams, B) entries. One corpus tokenize, two hash-aggs, one
  // broadcast join. The target predicate is a column (here the house
  // eval-split convention doc_id % 97 = 0); production callers pass
  // their curated-target membership instead.
  /** Add-1-smoothed DSIR bucket ratio ((ct+1)/(NT+B)) / ((cr+1)/(NR+B))
    * — the module's bit-exactness contract lives in this ONE expression:
    * three IEEE divisions of exact longs in a fixed order (the naive
    * cross-multiplied form (ct+1)·(NR+B) overflows LONG at web-corpus
    * gram counts). Single definition so the spec-pinned stored ≡ inline
    * law is true by construction (code-review r12: previously three
    * hand-synchronized copies). */
  private def dsirRatioExpr(ct: Column, cr: Column, nt: Column,
      nr: Column, buckets: Int): Column =
    ((ct + lit(1L)).cast("double") / (nt + lit(buckets.toLong)).cast("double")) /
      ((cr + lit(1L)).cast("double") / (nr + lit(buckets.toLong)).cast("double"))

  def dsirScore(docs: DataFrame, idCol: String, textCol: String,
      isTarget: Column, buckets: Int = 4096): DataFrame = {
    require(buckets >= 2 && buckets <= (1 << 20),
      s"buckets in [2, 2^20], got $buckets")
    val feats = docs
      .select(col(idCol), isTarget.as("__t"),
        explode(graft.functions.WordNGrams(tokens(col(textCol)), 2)).as("g"))
      .select(col(idCol), col("__t"),
        pmod(conv(substring(md5(col("g")), 1, 6), 16, 10).cast("long"),
          lit(buckets.toLong)).as("bkt"))
    // ONE corpus tokenize: everything below reads this (doc, bucket)
    // frame — without the checkpoint, the bucket-count branch, the
    // totals branch, and the per-doc branch each re-run the
    // scan+explode lineage (a 3× corpus tokenize, visible in the plan)
    val dc = feats.groupBy(col(idCol), col("__t"), col("bkt"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val cc = dc.groupBy(col("bkt"))
      .agg(sum(when(col("__t"), col("cnt")).otherwise(0L)).as("ct"),
        sum(when(!col("__t"), col("cnt")).otherwise(0L)).as("cr"))
    val tot = cc.agg(sum(col("ct")).as("nt"), sum(col("cr")).as("nr"))
    // ratio = ((ct+1)/(NT+B)) / ((cr+1)/(NR+B)) — three IEEE divisions
    // of exact longs in a fixed order; the naive cross-multiplied form
    // (ct+1)*(NR+B) overflows LONG at web-corpus gram counts
    val ratio = cc.crossJoin(broadcast(tot))
      .select(col("bkt"),
        dsirRatioExpr(col("ct"), col("cr"), col("nt"), col("nr"),
          buckets).as("r"))
    dc.join(broadcast(ratio), Seq("bkt"))
      .groupBy(col(idCol))
      .agg(sum(col("cnt")).as("n_grams"),
        collect_list(struct(col("bkt"),
          (col("cnt").cast("double") * col("r")).as("v"))).as("__l"))
      .select(col(idCol), col("n_grams"),
        (aggregate(array_sort(col("__l")), lit(0.0d),
          (a, e) => a + e.getField("v")) /
          col("n_grams").cast("double")).as("dsir_score"))
      .orderBy(col(idCol))
  }

  /** The learning half of [[dsirScore]] as a STORED artifact: the
    * (bkt, r, nt, nr) ratio table — persist it once (B rows, KB) and
    * score every incoming batch with [[dsirScoreStored]] without ever
    * re-reading the target/raw corpora (the q121 stored-state
    * discipline). nt/nr ride every row so the table is self-contained:
    * the scorer derives the unseen-bucket default ratio from them. */
  def dsirRatioTable(docs: DataFrame, idCol: String, textCol: String,
      isTarget: Column, buckets: Int = 4096): DataFrame = {
    require(buckets >= 2 && buckets <= (1 << 20),
      s"buckets in [2, 2^20], got $buckets")
    val feats = docs
      .select(col(idCol), isTarget.as("__t"),
        explode(graft.functions.WordNGrams(tokens(col(textCol)), 2)).as("g"))
      .select(col("__t"),
        pmod(conv(substring(md5(col("g")), 1, 6), 16, 10).cast("long"),
          lit(buckets.toLong)).as("bkt"))
    val cc = feats.groupBy(col("bkt"))
      .agg(sum(when(col("__t"), 1L).otherwise(0L)).as("ct"),
        sum(when(!col("__t"), 1L).otherwise(0L)).as("cr"))
      .localCheckpoint()
    val tot = cc.agg(sum(col("ct")).as("nt"), sum(col("cr")).as("nr"))
    // `buckets` rides every row so the artifact records the hash space
    // it was learned in — dsirScoreStored require()s it matches (a
    // scorer run at a different bucket count would hash batch grams
    // into the wrong space and silently score most grams with the
    // unseen-bucket default; r12 advice: refuse loudly).
    cc.crossJoin(broadcast(tot))
      .select(col("bkt"),
        dsirRatioExpr(col("ct"), col("cr"), col("nt"), col("nr"),
          buckets).as("r"),
        col("nt"), col("nr"), lit(buckets).as("buckets"))
  }

  /** Score a NEW batch against a persisted [[dsirRatioTable]]: one
    * batch tokenize + one broadcast join — corpora never re-read. A
    * batch gram can hash to a bucket absent from the table (zero count
    * in BOTH corpora at learn time); the add-1-smoothed ratio for such
    * a bucket is ((0+1)/(NT+B))/((0+1)/(NR+B)), derived from the
    * table's own nt/nr in the same IEEE shape, so stored scoring of
    * the learn corpus is value-identical to [[dsirScore]] and unseen
    * buckets are handled exactly, not dropped (spec-pinned through a
    * parquet round-trip; q157b pins the cross-corpus + default path). */
  def dsirScoreStored(batch: DataFrame, idCol: String, textCol: String,
      ratio: DataFrame, buckets: Int = 4096): DataFrame = {
    val hdRows = ratio.select(col("nt"), col("nr"),
      // pre-r13 artifacts lack the buckets column; treat them as
      // learned at the scorer's value (the only possibility then)
      if (ratio.columns.contains("buckets")) col("buckets")
      else lit(buckets)).limit(1).collect()
    require(hdRows.nonEmpty, "dsirScoreStored: ratio table is empty — " +
      "dsirRatioTable over a learn corpus with no >= 2-token documents " +
      "produces no buckets; rebuild the stored artifact (r12 review: " +
      "refuse loudly, not NoSuchElementException)")
    val hd = hdRows.head
    val (nt, nr) = (hd.getLong(0), hd.getLong(1))
    require(hd.getInt(2) == buckets,
      s"dsirScoreStored: ratio table was learned with buckets=${hd.getInt(2)} " +
        s"but the scorer was called with buckets=$buckets — batch grams " +
        "would hash into the wrong bucket space and silently score with " +
        "the unseen-bucket default. Pass the table's bucket count.")
    // driver-side instance of dsirRatioExpr at ct = cr = 0 — same three
    // IEEE divisions in the same order
    val rDefault = (1.0d / (nt + buckets.toLong).toDouble) /
      (1.0d / (nr + buckets.toLong).toDouble)
    val dc = batch
      .select(col(idCol),
        explode(graft.functions.WordNGrams(tokens(col(textCol)), 2)).as("g"))
      .select(col(idCol),
        pmod(conv(substring(md5(col("g")), 1, 6), 16, 10).cast("long"),
          lit(buckets.toLong)).as("bkt"))
      .groupBy(col(idCol), col("bkt"))
      .agg(count(lit(1)).as("cnt"))
    dc.join(broadcast(ratio.select(col("bkt"), col("r"))), Seq("bkt"), "left")
      .groupBy(col(idCol))
      .agg(sum(col("cnt")).as("n_grams"),
        collect_list(struct(col("bkt"),
          (col("cnt").cast("double") *
            coalesce(col("r"), lit(rDefault))).as("v"))).as("__l"))
      .select(col(idCol), col("n_grams"),
        (aggregate(array_sort(col("__l")), lit(0.0d),
          (a, e) => a + e.getField("v")) /
          col("n_grams").cast("double")).as("dsir_score"))
      .orderBy(col(idCol))
  }

  private val q157b = GraftQuery(
    "q157b_dsir_stored",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val ratio = dsirRatioTable(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", isTarget = col("doc_id") % 97 === 0)
      dsirScoreStored(docs.filter(col("doc_id") % 2 =!= 0),
        "doc_id", "text", ratio)
    },
    Some(s"""
      WITH t AS (SELECT doc_id,
                        ${OracleSql.tokens("text")} AS t
                 FROM documents),
      g AS (SELECT doc_id,
                   unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS g
            FROM t WHERE len(t) >= 2),
      b AS (SELECT doc_id, doc_id % 97 = 0 AS is_t,
                   ('0x' || substr(md5(g), 1, 6))::BIGINT % 4096 AS bkt
            FROM g),
      cc AS (SELECT bkt,
                    CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS ct,
                    CAST(SUM(CASE WHEN NOT is_t THEN 1 ELSE 0 END) AS BIGINT) AS cr
             FROM b WHERE doc_id % 2 = 0 GROUP BY bkt),
      tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS nt, CAST(SUM(cr) AS BIGINT) AS nr FROM cc),
      r AS (SELECT bkt,
                   ((CAST(ct + 1 AS DOUBLE) / CAST(nt + 4096 AS DOUBLE)) /
                    (CAST(cr + 1 AS DOUBLE) / CAST(nr + 4096 AS DOUBLE))) AS r
            FROM cc, tot),
      dc AS (SELECT doc_id, bkt, CAST(COUNT(*) AS BIGINT) AS cnt
             FROM b WHERE doc_id % 2 <> 0 GROUP BY doc_id, bkt),
      l AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_grams,
                   list(CAST(cnt AS DOUBLE) *
                        COALESCE(r, (CAST(1 AS DOUBLE) / CAST((SELECT nt FROM tot) + 4096 AS DOUBLE)) /
                                    (CAST(1 AS DOUBLE) / CAST((SELECT nr FROM tot) + 4096 AS DOUBLE)))
                        ORDER BY dc.bkt) AS l
            FROM dc LEFT JOIN r ON dc.bkt = r.bkt GROUP BY doc_id)
      SELECT doc_id, n_grams,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE), l), (a, x) -> a + x)
               / CAST(n_grams AS DOUBLE) AS dsir_score
      FROM l
      ORDER BY doc_id"""))

  private val q157 = GraftQuery(
    "q157_dsir_score",
    (s, dir) => dsirScore(Tables.documents(s, dir), "doc_id", "text",
      isTarget = col("doc_id") % 97 === 0),
    Some(s"""
      WITH t AS (SELECT doc_id,
                        ${OracleSql.tokens("text")} AS t
                 FROM documents),
      g AS (SELECT doc_id,
                   unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS g
            FROM t WHERE len(t) >= 2),
      b AS (SELECT doc_id, doc_id % 97 = 0 AS is_t,
                   ('0x' || substr(md5(g), 1, 6))::BIGINT % 4096 AS bkt
            FROM g),
      cc AS (SELECT bkt,
                    CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS ct,
                    CAST(SUM(CASE WHEN NOT is_t THEN 1 ELSE 0 END) AS BIGINT) AS cr
             FROM b GROUP BY bkt),
      tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS nt, CAST(SUM(cr) AS BIGINT) AS nr FROM cc),
      r AS (SELECT bkt,
                   ((CAST(ct + 1 AS DOUBLE) / CAST(nt + 4096 AS DOUBLE)) /
                    (CAST(cr + 1 AS DOUBLE) / CAST(nr + 4096 AS DOUBLE))) AS r
            FROM cc, tot),
      dc AS (SELECT doc_id, bkt, CAST(COUNT(*) AS BIGINT) AS cnt
             FROM b GROUP BY doc_id, bkt),
      l AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_grams,
                   list(CAST(cnt AS DOUBLE) * r ORDER BY dc.bkt) AS l
            FROM dc JOIN r ON dc.bkt = r.bkt GROUP BY doc_id)
      SELECT doc_id, n_grams,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE), l), (a, x) -> a + x)
               / CAST(n_grams AS DOUBLE) AS dsir_score
      FROM l
      ORDER BY doc_id"""))

  // ------------------------------------------------- q156 BPE induction
  // Exact distributed BPE merge learning (Sennrich et al. 2015's
  // algorithm, the tokenizer-induction step a pipeline runs before
  // training): k rounds of (count adjacent symbol pairs weighted by word
  // frequency → merge the argmax pair everywhere). The scale shape is
  // the whole point: after ONE corpus pass builds the word-frequency
  // table, every round runs over the VOCAB table only (corpus text is
  // never touched again) — pair counts from the exploded symbol list +
  // one hash-agg, a 1-row argmax collect (bounded, the q69 eagerness
  // caveat), and greedy left-to-right merge application as ONE
  // sequential array fold per word (optimization r18, guide §2.4: the
  // previous form ran TWO per-word window passes per round — each a
  // full vocab shuffle — plus a collect_list rebuild groupBy; the fold
  // is a stateless projection, so a round's only shuffle is the tiny
  // (a, b) pair-count agg). Ties break (count DESC,
  // left, right) so the learned merge sequence is a pure function of
  // the corpus; every count is an exact LONG and the oracle replays all
  // k rounds bit-for-bit. Words end with a '</w>' sentinel (the paper's
  // convention; the tokenizer's [a-z0-9]+ words cannot contain it).
  def bpeMerges(docs: DataFrame, textCol: String, steps: Int): DataFrame = {
    val spark = docs.sparkSession
    val (_, merges) = bpeLearn(docs, textCol, steps)
    import spark.implicits._
    merges.toDF("step", "l_sym", "r_sym", "pair_count")
      .select(col("step"), col("l_sym"), col("r_sym"),
        concat(col("l_sym"), col("r_sym")).as("new_sym"),
        col("pair_count"))
      .orderBy(col("step"))
  }

  /** Shared learn loop for [[bpeMerges]] / [[bpeSegment]]: returns the
    * final (w, n, s) vocab frame and the merge sequence. One corpus
    * pass builds the word-frequency table; each round is vocab-confined
    * (pair-count agg + one stateless fold projection) with a 1-row
    * argmax collect and a localCheckpoint to truncate lineage.
    *
    * Optimization r18 (guide §2.4 — remove shuffles outright): pair
    * counting reads adjacent symbols straight off the array
    * (posexplode + `get(s, i+1)`, a projection) instead of a per-word
    * lead() window, and merge application is ONE sequential
    * left-to-right `aggregate` fold per word instead of the
    * lead/lag/max gaps-and-islands windows + collect_list rebuild
    * groupBy. Semantics are unchanged — the fold IS the greedy scan
    * the windows emulated (on a match emit l||r and consume the right
    * symbol; matches are tested against the ROUND-START array, exactly
    * like the window's lead-based flags) — pinned by the hand-computed
    * merge/tie tests in OperatorsSpec and every q155b/q156* oracle.
    * Plan effect per round: 3 vocab-wide exchanges (two windows + the
    * rebuild) → 1 tiny (a, b) agg exchange. */
  private def bpeLearn(docs: DataFrame, textCol: String,
      steps: Int): (DataFrame, Seq[(Int, String, String, Long)]) = {
    require(steps >= 1 && steps <= 32, s"steps in [1,32], got $steps")
    val words = docs
      .select(explode(tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
    var vocab = words.select(col("w"), col("n"),
      concat(
        transform(sequence(lit(1), length(col("w"))),
          i => col("w").substr(i, lit(1))),
        array(lit("</w>"))).as("s"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    for (step <- 1 to steps) {
      // adjacent pairs off the array: a = s[i+1] (posexplode is
      // 0-based), b = s[i+2] via 0-based `get` (null past the end, like
      // the lead() it replaces — dropped by the isNotNull filter)
      val bestPlan = vocab
        .select(col("n"), col("s"), posexplode(col("s")).as(Seq("i", "a")))
        .select(col("n"), col("a"), get(col("s"), col("i") + 1).as("b"))
        .filter(col("b").isNotNull)
        .groupBy(col("a"), col("b"))
        .agg(sum(col("n")).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1)
      graft.IterProbe.tap("bpe_pairs", step, bestPlan)
      val best = bestPlan.collect()
      require(best.nonEmpty, s"no pairs left to merge at step $step")
      val (l, r, cnt) = (best(0).getString(0), best(0).getString(1),
        best(0).getLong(2))
      merges += ((step, l, r, cnt))
      // greedy application — one COMPILED pass per word (optimization
      // r19, guide §1.2): the previous aggregate() fold was a
      // CodegenFallback HOF whose accumulator concat'd a fresh array per
      // symbol (O(L²) interpreted copies per word per step). Same greedy
      // scan testing the round-start array with the right symbol
      // consumed on a match; bit-equality to the retained fold
      // (bpeMergeApplyReference) pinned in OperatorsSpec, and the BPE
      // oracles replay the identical gaps-and-islands application.
      val applied = graft.functions.BpeMergeApply(col("s"), l, r)
      val nextVocab = vocab.select(col("w"), col("n"), applied.as("s"))
      graft.IterProbe.tap("bpe_apply", step, nextVocab)
      vocab = nextVocab.localCheckpoint()
    }
    (vocab, merges.toSeq)
  }

  /** RETAINED pre-r19 HOF merge-application fold — the reference
    * OperatorsSpec pins [[graft.functions.BpeMergeApply]] against. Not
    * on any query path. */
  private[operators] def bpeMergeApplyReference(s: Column, l: String,
      r: String): Column =
    aggregate(
      sequence(lit(1), size(s)),
      struct(array().cast("array<string>").as("out"),
        lit(false).as("skip")),
      (acc, i) =>
        when(acc.getField("skip"),
          struct(acc.getField("out").as("out"), lit(false).as("skip")))
          .when(element_at(s, i) === lit(l) && get(s, i) === lit(r),
            struct(concat(acc.getField("out"), array(lit(l + r))).as("out"),
              lit(true).as("skip")))
          .otherwise(
            struct(concat(acc.getField("out"), array(element_at(s, i))).as("out"),
              lit(false).as("skip"))),
      acc => acc.getField("out"))

  /** Generated DuckDB oracle for [[bpeMerges]]: the k rounds unrolled as
    * a CTE cascade — per round, pair counts via LEAD, a 1-row argmax
    * with the same (cnt DESC, a, b) tie-break, and the identical
    * gaps-and-islands merge application. */
  private def bpeOracle(steps: Int, segment: Boolean = false,
      encode: Boolean = false, budget: Option[Long] = None,
      fertility: Boolean = false): String = {
    val rounds = (1 to steps).map { k =>
      val v = s"v${k - 1}"
      s"""
      x$k AS MATERIALIZED (SELECT w, n, generate_subscripts(s, 1) AS i, unnest(s) AS sym, len(s) AS ls FROM $v),
      p$k AS MATERIALIZED (SELECT a, b, CAST(SUM(n) AS BIGINT) AS cnt FROM (
                SELECT w, n, sym AS a,
                       LEAD(sym) OVER (PARTITION BY w ORDER BY i) AS b
                FROM x$k) WHERE b IS NOT NULL GROUP BY a, b),
      m$k AS MATERIALIZED (SELECT a, b, cnt FROM p$k ORDER BY cnt DESC, a, b LIMIT 1),
      y$k AS MATERIALIZED (SELECT w, n, i, sym,
                     (sym = (SELECT a FROM m$k) AND
                      COALESCE(LEAD(sym) OVER (PARTITION BY w ORDER BY i)
                               = (SELECT b FROM m$k), FALSE)) AS m
              FROM x$k),
      o$k AS MATERIALIZED (SELECT w, n, i, sym, m,
                     (m AND NOT COALESCE(
                        LAG(m) OVER (PARTITION BY w ORDER BY i), FALSE)) AS opens
              FROM y$k),
      z$k AS MATERIALIZED (SELECT w, n, i, sym, m,
                     MAX(CASE WHEN opens THEN i END)
                       OVER (PARTITION BY w ORDER BY i
                             ROWS UNBOUNDED PRECEDING) AS rs
              FROM o$k),
      q$k AS MATERIALIZED (SELECT w, n, i,
                     CASE WHEN m AND (i - rs) % 2 = 0
                            THEN (SELECT a || b FROM m$k)
                          WHEN COALESCE(LAG(m AND (i - rs) % 2 = 0)
                                 OVER (PARTITION BY w ORDER BY i), FALSE)
                            THEN NULL
                          ELSE sym END AS sym2
              FROM z$k),
      v$k AS MATERIALIZED (SELECT w, n,
                     list(sym2 ORDER BY i) FILTER (WHERE sym2 IS NOT NULL) AS s
              FROM q$k GROUP BY w, n)"""
    }.mkString(",")
    val out =
      if (fertility)
        // per-source tokenizer-fertility rollup over the per-doc encode:
        // exact LONG sums, ONE final division per ratio (bit-stable)
        s"""SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               CAST(SUM(n_words) AS BIGINT) AS sum_words,
               CAST(SUM(n_bpe) AS BIGINT) AS sum_bpe_tokens,
               CAST(SUM(n_chars) AS DOUBLE) / CAST(SUM(n_bpe) AS DOUBLE) AS chars_per_token,
               CAST(SUM(n_bpe) AS DOUBLE) / CAST(SUM(n_words) AS DOUBLE) AS tokens_per_word
           FROM (SELECT d.doc_id, d.source, d.n_chars,
                        CAST(COUNT(*) AS BIGINT) AS n_words,
                        CAST(SUM(len(v.s)) AS BIGINT) AS n_bpe
                 FROM (SELECT doc_id, source, len(text) AS n_chars,
                              unnest(${OracleSql.tokens("text")}) AS w
                       FROM documents) d JOIN v$steps v USING (w)
                 GROUP BY d.doc_id, d.source, d.n_chars)
           GROUP BY source"""
      else if (budget.isDefined)
        // q155's md5-order budget walk, denominated in BPE tokens: the
        // per-doc encode aggregate feeds the same cumsum/crossing rule
        s"""SELECT doc_id, source, n_bpe_tokens, cum_tokens
           FROM (SELECT doc_id, source, n_bpe_tokens,
                        CAST(SUM(n_bpe_tokens) OVER (PARTITION BY source
                          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
                 FROM (SELECT d.doc_id, d.source,
                              CAST(SUM(len(v.s)) AS BIGINT) AS n_bpe_tokens
                       FROM (SELECT doc_id, source,
                                    unnest(${OracleSql.tokens("text")}) AS w
                             FROM documents) d JOIN v$steps v USING (w)
                       GROUP BY d.doc_id, d.source))
           WHERE cum_tokens - n_bpe_tokens < ${budget.get}"""
      else if (encode)
        s"""SELECT d.doc_id AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(len(v.s)) AS BIGINT) AS n_bpe_tokens
           FROM (SELECT doc_id,
                        unnest(${OracleSql.tokens("text")}) AS w
                 FROM documents) d JOIN v$steps v USING (w)
           GROUP BY d.doc_id"""
      else if (segment)
        s"SELECT w, n, array_to_string(s, ' ') AS seg FROM v$steps"
      else (1 to steps).map { k =>
        s"SELECT $k AS step, a AS l_sym, b AS r_sym, a || b AS new_sym, cnt AS pair_count FROM m$k"
      }.mkString("\n      UNION ALL ")
    s"""
      WITH w0 AS MATERIALIZED (SELECT w, CAST(COUNT(*) AS BIGINT) AS n FROM (
                    SELECT unnest(${OracleSql.tokens("text")}) AS w
                    FROM documents) GROUP BY w),
      v0 AS MATERIALIZED (SELECT w, n,
                    list_transform(range(1, len(w) + 1), i -> w[i:i]) || ['</w>'] AS s
             FROM w0),$rounds
      $out
      ORDER BY ${if (fertility) "source"
        else if (encode || budget.isDefined) "doc_id"
        else if (segment) "w" else "step"}"""
  }

  private val q156 = GraftQuery(
    "q156_bpe_merges",
    (s, dir) => bpeMerges(Tables.documents(s, dir), "text", steps = 8),
    Some(bpeOracle(8)))

  /** The production tokenize step: the vocabulary SEGMENTATION after
    * applying [[bpeMerges]]' k learned merges in order — one row per
    * word with its symbol sequence rendered. Corpus text is touched
    * once (the word-frequency pass); a pipeline broadcast-joins this
    * table against exploded words to encode documents, so encoding cost
    * is vocab-sized, not corpus-sized. Pinning the segmentation is
    * strictly stronger than pinning the merge argmaxes: any divergence
    * in greedy application order anywhere in the k rounds changes some
    * word's rendering. */
  def bpeSegment(docs: DataFrame, textCol: String, steps: Int): DataFrame =
    bpeLearn(docs, textCol, steps)._1
      .select(col("w"), col("n"), concat_ws(" ", col("s")).as("seg"))
      .orderBy(col("w"))

  private val q156b = GraftQuery(
    "q156b_bpe_segment",
    (s, dir) => bpeSegment(Tables.documents(s, dir), "text", steps = 8),
    Some(bpeOracle(8, segment = true)))

  /** Corpus encoding under the learned tokenizer: per-document BPE token
    * count — the number a packing/budget pipeline (q150/q155) actually
    * wants, where whitespace token counts are only a proxy. Shape: the
    * [[bpeSegment]] vocab (word → symbol count) broadcast-joins against
    * the exploded corpus words and one hash-agg sums per doc — the
    * learning state is vocab-sized, so encoding adds exactly one
    * corpus tokenize + one broadcast join to the q30 wordcount class.
    * Inner join, not left: by construction every corpus word is in the
    * vocab (it was built from this corpus); an appended-corpus caller
    * re-learns or handles OOV upstream. */
  def bpeEncode(docs: DataFrame, idCol: String, textCol: String,
      steps: Int): DataFrame = {
    val vocab = bpeLearn(docs, textCol, steps)._1
      .select(col("w"), size(col("s")).cast("long").as("w_tokens"))
    docs.select(col(idCol), explode(tokens(col(textCol))).as("w"))
      .join(broadcast(vocab), Seq("w"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("w_tokens")).as("n_bpe_tokens"))
      .orderBy(col(idCol))
  }

  private val q156c = GraftQuery(
    "q156c_bpe_encode",
    (s, dir) => bpeEncode(Tables.documents(s, dir), "doc_id", "text",
      steps = 8),
    Some(bpeOracle(8, segment = false, encode = true)))

  // ------------------------------------ q156d/q156e stored BPE artifact
  // The tokenizer as a STORED artifact (VERDICT r14 next #5 — the
  // q169b/q157b stored-state discipline): q155b/q176 re-ran the learn
  // loop per probe because the only way to the segmentation was
  // bpeLearn. The artifact persists the final vocab (w, n, symbol list)
  // WITH a loud `bpe_steps` param pin; probe-side segment/encode then
  // run WITHOUT re-learning — one corpus tokenize + a broadcast
  // vocab join, nothing else. Parquet round-trip safe (strings + LONGs
  // + a string array); round-trip ≡ learned is spec-pinned.
  /** Learn once, persist: the segmentation vocab plus the param pin. */
  def bpeVocabArtifact(docs: DataFrame, textCol: String,
      steps: Int): DataFrame =
    bpeLearn(docs, textCol, steps)._1.withColumn("bpe_steps", lit(steps))

  /** Pin guard shared by the stored-artifact consumers: refuses an
    * empty artifact and mixed `bpe_steps` pins (vocab shards from
    * different tokenizers must never fold — the langIdModelFromShards
    * rule). Bounded driver read: one row of pin extremes. */
  private def pinnedVocab(vocab: DataFrame, what: String): DataFrame = {
    val pins = vocab.agg(min(col("bpe_steps")), max(col("bpe_steps")))
      .collect().head
    require(!pins.isNullAt(0),
      s"$what: empty stored vocab artifact — rebuild with bpeVocabArtifact")
    require(pins.getInt(0) == pins.getInt(1),
      s"$what: mixed bpe_steps pins (${pins.getInt(0)}..${pins.getInt(1)}) " +
        "— artifacts from different tokenizers must not mix")
    vocab
  }

  /** Probe-side segmentation straight from the stored artifact — must
    * equal [[bpeSegment]] bit-for-bit (q156d shares q156b's oracle). */
  def bpeSegmentStored(vocab: DataFrame): DataFrame =
    pinnedVocab(vocab, "bpeSegmentStored")
      .select(col("w"), col("n"), concat_ws(" ", col("s")).as("seg"))
      .orderBy(col("w"))

  /** Probe-side corpus encode from the stored artifact — [[bpeEncode]]
    * without the learn loop (same inner-join OOV contract: a word
    * absent from the artifact's corpus is absent from the count;
    * appended corpora re-learn or handle OOV upstream). */
  def bpeEncodeStored(docs: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame): DataFrame = {
    val v = pinnedVocab(vocab, "bpeEncodeStored")
      .select(col("w"), size(col("s")).cast("long").as("w_tokens"))
    docs.select(col(idCol), explode(tokens(col(textCol))).as("w"))
      .join(broadcast(v), Seq("w"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(col("w_tokens")).as("n_bpe_tokens"))
      .orderBy(col(idCol))
  }

  private val q156d = GraftQuery(
    "q156d_bpe_stored_segment",
    (s, dir) => bpeSegmentStored(
      bpeVocabArtifact(Tables.documents(s, dir), "text", steps = 8)),
    Some(bpeOracle(8, segment = true)))

  private val q156e = GraftQuery(
    "q156e_bpe_stored_encode",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      bpeEncodeStored(docs, "doc_id", "text",
        bpeVocabArtifact(docs, "text", steps = 8))
    },
    Some(bpeOracle(8, segment = false, encode = true)))

  // ----------------------------------------- q155b BPE-true token budget
  // q155 denominates its per-source budget in whitespace tokens — a
  // proxy. This variant feeds [[bpeEncode]]'s per-doc BPE token counts
  // (what a trainer actually consumes) into the SAME md5-order budget
  // walk ([[DataPrep.tokenBudgetSelect]]; VERDICT r13 next #7). Shape:
  // the vocab-sized encode join + one cumsum — the q155 class plus one
  // broadcast join. Docs with zero tokenizer words have no BPE count
  // and are absent (nothing to budget), unlike q155 where they ride the
  // line at zero cost; both are selection-semantics choices, replayed
  // exactly by each query's oracle.
  private val q155b = GraftQuery(
    "q155b_token_budget_bpe",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      // the per-doc token profile is the STORED artifact in production
      // (tokenBudgetSelect's "stored length profile" contract);
      // localCheckpoint the narrow (id, count) frame here so the cumsum's
      // two passes + AQE re-plans don't re-run the encode join per
      // evaluation (14.2 s -> 5.4 s at sf0.1). Checkpoint, not persist:
      // eager, lineage-cut, and its blocks free with the frame's GC —
      // nothing stays pinned across repeated builder calls
      val enc = bpeEncode(docs, "doc_id", "text", steps = 8)
        .select(col("doc_id"), col("n_bpe_tokens")).localCheckpoint()
      DataPrep.tokenBudgetSelect(
        docs.select(col("doc_id"), col("source")).join(enc, Seq("doc_id")),
        "source", "doc_id", "n_bpe_tokens", budgetTokens = 3000L)
        .select(col("doc_id"), col("source"), col("n_bpe_tokens"),
          col("cum_tokens"))
        .orderBy(col("doc_id"))
    },
    Some(bpeOracle(8, budget = Some(3000L))))

  // --------------------------------------------- q154 vocabulary coverage
  // Tokenizer-design question answered exactly: the smallest vocabulary
  // (words taken in frequency-descending order, ties lexicographic)
  // covering ≥ p% of all token occurrences, for each target p. The
  // scale trick: the answer needs only the COUNT-OF-COUNTS histogram —
  // (occurrence count c, number of words with that count) — which is
  // Zipf-bounded to a few thousand rows regardless of vocabulary size,
  // so the selection is a driver walk over KB of exact integers, and
  // the global "sort the vocabulary and cumsum" (a single-task window
  // over a possibly 100M-word vocab — the scale-killer the naive form
  // has) never happens. Within the crossing count class every word
  // contributes the same c, so vocab_size and covered_tokens are
  // independent of which tie-words are taken — the oracle's explicit
  // (c DESC, w) cumsum lands on identical values.
  def vocabCoverage(docs: DataFrame, textCol: String,
      targets: Seq[Int]): DataFrame = {
    require(targets.nonEmpty && targets.forall(t => t >= 1 && t <= 100),
      "coverage targets must be percentages in [1,100]")
    val spark = docs.sparkSession
    val hist = docs
      .select(explode(tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("c")).agg(count(lit(1)).as("nw"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(-_._1)
    val total = hist.map { case (c, nw) => c * nw }.sum
    val rows = targets.sorted.map { t =>
      val need = (total * t + 99) / 100 // ceil — first cum with cum*100 >= total*t
      var wordsBefore = 0L; var cumBefore = 0L
      var vocab = 0L; var covered = 0L; var found = false
      hist.foreach { case (c, nw) =>
        if (!found) {
          if ((cumBefore + nw * c) >= need) {
            val k = (need - cumBefore + c - 1) / c
            vocab = wordsBefore + k
            covered = cumBefore + k * c
            found = true
          } else { wordsBefore += nw; cumBefore += nw * c }
        }
      }
      require(found || total == 0, s"coverage walk failed at target $t")
      (t, vocab, covered, total)
    }
    import spark.implicits._
    rows.toDF("target_pct", "vocab_size", "covered_tokens", "total_tokens")
      .orderBy(col("target_pct"))
  }

  private val q154 = GraftQuery(
    "q154_vocab_coverage",
    (s, dir) => vocabCoverage(Tables.documents(s, dir), "text",
      targets = Seq(50, 90, 99)),
    Some(s"""
      WITH toks AS (SELECT unnest(${OracleSql.tokens("text")}) AS w
                    FROM documents),
      wc AS (SELECT w, COUNT(*) AS c FROM toks GROUP BY w),
      tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM wc),
      r AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY c DESC, w) AS BIGINT) AS vs,
                   CAST(SUM(c) OVER (ORDER BY c DESC, w
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
            FROM wc),
      sel AS (SELECT 50 AS target_pct UNION ALL SELECT 90 UNION ALL SELECT 99)
      SELECT s.target_pct AS target_pct,
             MIN(r.vs) AS vocab_size,
             MIN_BY(r.cum, r.vs) AS covered_tokens,
             (SELECT total FROM tot) AS total_tokens
      FROM sel s JOIN r ON r.cum * 100 >= (SELECT total FROM tot) * s.target_pct
      GROUP BY s.target_pct
      ORDER BY target_pct"""))

  // ------------------------------------------------ q160 C4 cleaning rules
  /** C4 corpus-cleaning rule set (Raffel et al. 2020 §2.2, public) —
    * the line-grained companion to the Gopher document gates: (1) a
    * line is RETAINED iff it ends in a terminal punctuation mark
    * (`. ! ? "`), has ≥ 5 words, and does not mention "javascript";
    * (2) the page is kept iff it has ≥ 1 retained line, ≥ 3 sentences
    * (terminal-mark count — the paper used a sentence splitter; the
    * deterministic mark-count proxy replays bit-for-bit in both
    * engines), no "lorem ipsum", no curly brace, and no word from the
    * caller's blocklist (the paper's public blocklist is interchangeable
    * — word-grained, matched via the q148b `array_intersect` shape, not
    * substring). All counters are stateless column math inside ONE scan
    * (higher-order `filter` over `split(text, '\n')`, nested word split
    * per line) — no explode, no shuffle, no UDF: the same
    * embarrassingly-parallel shape as [[gopherQualityFull]], so the
    * 100 TB cost is exactly one pass over the text column. */
  def c4Clean(docs: DataFrame, idCol: String, textCol: String,
      blocklist: Seq[String] = Seq.empty): DataFrame = {
    val x = col("__x")
    val lines = split(x, "\n")
    val keptLine = (l: Column) =>
      l.rlike("[.!?\"]\\s*$") &&
        size(filter(split(l, "\\s+"), w => w =!= "")) >= 5 &&
        !lower(l).contains("javascript")
    val blocked =
      if (blocklist.isEmpty) lit(false)
      else size(array_intersect(array_distinct(tokens(x)),
        array(blocklist.map(b => lit(b.toLowerCase)): _*))) > 0
    docs
      .select(col(idCol), col(textCol).as("__x"))
      .select(col(idCol),
        size(lines).cast("long").as("n_lines"),
        size(filter(lines, keptLine)).cast("long").as("n_kept_lines"),
        // sentence proxy = terminal-mark RUNS, not characters — a
        // single ellipsis or "!!!" is ONE sentence boundary, else the
        // >= 3-sentence gate passes one-line spam ending in "..."
        // (code-review r12; q166's readability uses the same run form)
        regexp_count(x, lit("[.!?]+")).cast("long").as("n_sentences"),
        lower(x).contains("lorem ipsum").as("has_lorem"),
        x.contains("{").as("has_curly"),
        blocked.as("has_blocked"))
      .withColumn("ok_lines", col("n_kept_lines") >= 1L)
      .withColumn("ok_sentences", col("n_sentences") >= 3L)
      .withColumn("keep",
        col("ok_lines") && col("ok_sentences") &&
          !col("has_lorem") && !col("has_curly") && !col("has_blocked"))
      .orderBy(col(idCol))
  }

  private val q160 = GraftQuery(
    "q160_c4_clean",
    (s, dir) => c4Clean(Tables.documents(s, dir), "doc_id", "text",
      blocklist = Seq("casino", "lottery")),
    Some(s"""
      WITH base AS (
        SELECT doc_id,
               CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
               CAST(len(list_filter(string_split(text, chr(10)),
                 l -> regexp_matches(l, '[.!?"]\\s*$$')
                      AND len(list_filter(string_split_regex(l, '\\s+'), w -> w <> '')) >= 5
                      AND NOT contains(lower(l), 'javascript'))) AS BIGINT) AS n_kept_lines,
               CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT) AS n_sentences,
               contains(lower(text), 'lorem ipsum') AS has_lorem,
               contains(text, '{') AS has_curly,
               (len(list_intersect(list_distinct(${OracleSql.tokens("text")}),
                  ['casino', 'lottery'])) > 0) AS has_blocked
        FROM documents)
      SELECT doc_id, n_lines, n_kept_lines, n_sentences,
             has_lorem, has_curly, has_blocked,
             (n_kept_lines >= 1) AS ok_lines,
             (n_sentences >= 3) AS ok_sentences,
             ((n_kept_lines >= 1) AND (n_sentences >= 3)
              AND NOT has_lorem AND NOT has_curly AND NOT has_blocked) AS keep
      FROM base
      ORDER BY doc_id"""))

  // --------------------------------------- q161 hashed linear classifier
  /** Inference for a fastText-style linear text classifier (Joulin et
    * al. 2016, public) — the shape of the learned quality filters the
    * CCNet/LLaMA pipelines run over every crawled page: hashed
    * bag-of-features (word unigrams + bigrams, the q157 md5 bucket
    * convention) dotted with a weight vector. Engine-exact discipline:
    * weights are INTEGER (the fixed-point form a trained float model
    * ships as after scaling), so the margin is an exact LONG sum — no
    * float accumulation order anywhere — and the only double op is one
    * final IEEE division (margin / (scale·n_feats)), bit-identical
    * under any partitioning. The sigmoid is monotone, so `keep` and any
    * threshold decision need only the margin; callers wanting the
    * probability apply it driver-side to the returned score.
    *
    * `weights` is (bkt LONG, w LONG) — a STORED artifact in production
    * (train offline, persist, score every batch via one broadcast
    * join; the q121/q157b stored-state discipline). Buckets absent
    * from the table score 0 (a pruned/sparse model is the common case;
    * the left-join default is oracle-pinned by q161b). Scale: explode
    * grams → (doc, bkt) hash-agg → B-row broadcast join → per-doc LONG
    * sum — the wordcount shuffle class, no all-pairs anything. */
  def linearQualityScore(docs: DataFrame, idCol: String, textCol: String,
      weights: DataFrame, bias: Long = 0L, buckets: Int = 4096,
      scale: Long = 1000L): DataFrame = {
    require(buckets >= 2 && buckets <= (1 << 20),
      s"buckets in [2, 2^20], got $buckets")
    require(scale >= 1L, s"scale must be positive, got $scale")
    val t = tokens(col(textCol))
    val dc = docs
      .select(col(idCol),
        explode(concat(t, graft.functions.WordNGrams(t, 2))).as("g"))
      .select(col(idCol),
        pmod(conv(substring(md5(col("g")), 1, 6), 16, 10).cast("long"),
          lit(buckets.toLong)).as("bkt"))
      .groupBy(col(idCol), col("bkt")).agg(count(lit(1)).as("cnt"))
    val w = weights.select(col("bkt").cast("long").as("__wb"),
      col("w").cast("long").as("__w"))
    dc.join(broadcast(w), col("bkt") === col("__wb"), "left")
      .groupBy(col(idCol))
      .agg(sum(col("cnt")).as("n_feats"),
        (lit(bias) + sum(col("cnt") * coalesce(col("__w"), lit(0L))))
          .as("margin"))
      .select(col(idCol), col("n_feats"), col("margin"),
        (col("margin").cast("double") /
          (col("n_feats") * lit(scale)).cast("double")).as("quality_score"),
        (col("margin") > 0L).as("keep"))
      .orderBy(col(idCol))
  }

  /** The declared queries' deterministic stand-in for trained weights:
    * w(bkt) = md5-seeded integer in [-1000, 1000] — a pure function of
    * the bucket id both engines compute identically, standing where a
    * training job's persisted table would. */
  private def seededWeights(s: SparkSession, buckets: Int): DataFrame =
    s.range(buckets.toLong).select(col("id").as("bkt"),
      (pmod(conv(substring(md5(concat(lit("w"), col("id").cast("string"))),
        1, 6), 16, 10).cast("long"), lit(2001L)) - 1000L).as("w"))

  private val q161 = GraftQuery(
    "q161_quality_classifier",
    (s, dir) => linearQualityScore(Tables.documents(s, dir), "doc_id",
      "text", weights = seededWeights(s, 4096)),
    Some(s"""
      WITH t AS (SELECT doc_id,
                        ${OracleSql.tokens("text")} AS t
                 FROM documents),
      f AS (SELECT doc_id,
                   unnest(list_concat(t, list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]))) AS g
            FROM t),
      b AS (SELECT doc_id, ('0x' || substr(md5(g), 1, 6))::BIGINT % 4096 AS bkt FROM f),
      dc AS (SELECT doc_id, bkt, CAST(COUNT(*) AS BIGINT) AS cnt FROM b GROUP BY doc_id, bkt),
      w AS (SELECT range AS bkt,
                   ('0x' || substr(md5('w' || CAST(range AS VARCHAR)), 1, 6))::BIGINT % 2001 - 1000 AS w
            FROM range(4096)),
      m AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_feats,
                   CAST(SUM(cnt * COALESCE(w, 0)) AS BIGINT) AS margin
            FROM dc LEFT JOIN w ON dc.bkt = w.bkt GROUP BY doc_id)
      SELECT doc_id, n_feats, margin,
             CAST(margin AS DOUBLE) / CAST(n_feats * 1000 AS DOUBLE) AS quality_score,
             margin > 0 AS keep
      FROM m
      ORDER BY doc_id"""))

  // ----------------------------------------- q176 tokenizer fertility audit
  // The metric tokenizer teams actually track per corpus slice: how many
  // characters one BPE token covers (and how many tokens a whitespace
  // word splits into) per source. High fertility drift on a source means
  // the tokenizer under-serves it (wrong script, exotic vocab) and its
  // effective context window shrinks. Exact LONG sums per source over
  // the q156c encode join; each ratio is ONE final double division of
  // exact integers (bit-stable under any partitioning — the q161
  // convention). Docs with zero tokenizer words are absent (nothing to
  // measure), matching q156c.
  private val q176 = GraftQuery(
    "q176_tokenizer_fertility",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val enc = bpeEncode(docs, "doc_id", "text", steps = 8)
      docs.select(col("doc_id"), col("source"),
          length(col("text")).cast("long").as("n_chars"))
        .join(enc, Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(col("n_words")).as("sum_words"),
          sum(col("n_bpe_tokens")).as("sum_bpe_tokens"))
        .select(col("source"), col("n_docs"), col("sum_chars"),
          col("sum_words"), col("sum_bpe_tokens"),
          (col("sum_chars").cast("double") /
            col("sum_bpe_tokens").cast("double")).as("chars_per_token"),
          (col("sum_bpe_tokens").cast("double") /
            col("sum_words").cast("double")).as("tokens_per_word"))
        .orderBy(col("source"))
    },
    Some(bpeOracle(8, fertility = true)))

  // ------------------------------------ q175 quality-gate agreement audit
  // Filter-design observability: the three quality gates (Gopher rule
  // set, C4 line rules, learned linear classifier) disagree on real
  // corpora, and WHICH cells of the 2×2×2 agreement cube are populated
  // is the signal a curation team tunes thresholds by. One row per
  // (gopher_keep, c4_keep, clf_keep) with the doc count and the MINIMUM
  // doc id as a deterministic inspectable example. Cost: the three
  // stateless gate scans + two doc-keyed joins + one 8-group agg —
  // nothing new shuffles beyond the gates themselves. The oracle embeds
  // the three gates' own oracles verbatim as derived tables, so any
  // divergence in ANY gate resurfaces here too.
  /** Per-doc keep flags of the three gates joined on doc_id — shared by
    * q175 (agreement cube) and q175b (pairwise kappa). */
  private def gateFlags(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val g = gopherQualityFull(docs, "doc_id", "text")
      .select(col("doc_id"), col("keep").as("gopher_keep"))
    val c = c4Clean(docs, "doc_id", "text", Seq("casino", "lottery"))
      .select(col("doc_id"), col("keep").as("c4_keep"))
    val l = linearQualityScore(docs, "doc_id", "text",
        weights = seededWeights(s, 4096))
      .select(col("doc_id"), col("keep").as("clf_keep"))
    g.join(c, Seq("doc_id")).join(l, Seq("doc_id"))
  }

  /** SQL prefix shared by q175/q175b: the three gates' own oracles as
    * derived tables, joined per doc. */
  private lazy val gateFlagsSql = s"""
      WITH g AS (SELECT doc_id, keep AS gopher_keep FROM (${q148b.oracle.get}) gq),
      c AS (SELECT doc_id, keep AS c4_keep FROM (${q160.oracle.get}) cq),
      l AS (SELECT doc_id, keep AS clf_keep FROM (${q161.oracle.get}) lq)"""

  private val q175 = GraftQuery(
    "q175_gate_agreement",
    (s, dir) => gateFlags(s, dir)
      .groupBy(col("gopher_keep"), col("c4_keep"), col("clf_keep"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("example_doc_id"))
      .orderBy(col("gopher_keep"), col("c4_keep"), col("clf_keep")),
    Some(s"""
      $gateFlagsSql
      SELECT gopher_keep, c4_keep, clf_keep,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(MIN(doc_id) AS BIGINT) AS example_doc_id
      FROM g JOIN c USING (doc_id) JOIN l USING (doc_id)
      GROUP BY gopher_keep, c4_keep, clf_keep
      ORDER BY gopher_keep, c4_keep, clf_keep"""))

  // ------------------------------- q175b pairwise Cohen's kappa per gate
  // Raw agreement is inflated when both gates mostly say the same thing
  // by chance; kappa = (p_o − p_e)/(1 − p_e) corrects for the marginal
  // rates and is THE standard inter-rater statistic. All cell counts are
  // exact LONGs; the arithmetic runs in DECIMAL(38,0) on the Spark side
  // and HUGEINT in DuckDB because the p_e cross-products reach n² (2^63
  // overflows past ~3·10⁹ docs — real corpus sizes); kappa itself is ONE
  // final double division of two exact integers (both engines convert
  // the same integer to the same nearest double), NULL when 1 − p_e = 0
  // (both gates constant — kappa undefined, refuse-visibly).
  /** Pairwise Cohen's kappa over a per-item boolean-flag frame: one
    * output row per `(labelA, labelB, colA, colB)` pair with the item
    * count, raw agreement count, and kappa. DECIMAL(38,0) arithmetic
    * (the p_e cross-products reach n²), ONE final double division,
    * NULL kappa when 1 − p_e = 0. Single scan, one global agg. */
  def pairwiseKappa(flags: DataFrame,
      pairs: Seq[(String, String, String, String)]): DataFrame = {
    require(pairs.nonEmpty && pairs.size <= 16, "1..16 flag pairs")
    // duplicate labels would mint duplicate aggregate aliases and die
    // later as an opaque ambiguous-reference AnalysisException (ADVICE
    // r14) — refuse here with the actual offenders named
    require(pairs.map(p => (p._1, p._2)).distinct.size == pairs.size,
      "duplicate gate pair labels: " + pairs.map(p => s"${p._1}/${p._2}")
        .groupBy(identity).collect { case (k, v) if v.size > 1 => k }
        .mkString(", "))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val counts = flags.agg(
      count(lit(1)).as("n"),
      pairs.flatMap { case (pa, pb, x, y) => Seq(
        sum(when(col(x) && col(y), 1L).otherwise(0L)).as(s"${pa}_${pb}_a"),
        sum(when(col(x) && !col(y), 1L).otherwise(0L)).as(s"${pa}_${pb}_b"),
        sum(when(!col(x) && col(y), 1L).otherwise(0L)).as(s"${pa}_${pb}_c"))
      }: _*)
    val rows = pairs.map { case (pa, pb, _, _) =>
      val n = dec(col("n"))
      val a = dec(col(s"${pa}_${pb}_a")); val b = dec(col(s"${pa}_${pb}_b"))
      val cc = dec(col(s"${pa}_${pb}_c")); val d = n - a - b - cc
      val pe = (a + b) * (a + cc) + (d + cc) * (d + b)
      val num = n * (a + d) - pe
      val den = n * n - pe
      struct(lit(pa).as("gate_a"), lit(pb).as("gate_b"),
        col("n").as("n_docs"),
        (col(s"${pa}_${pb}_a") + col("n") - col(s"${pa}_${pb}_a")
          - col(s"${pa}_${pb}_b") - col(s"${pa}_${pb}_c")).as("n_agree"),
        when(den === dec(lit(0L)), lit(null).cast("double"))
          .otherwise(num.cast("double") / den.cast("double")).as("kappa"))
    }
    counts.select(explode(array(rows: _*)).as("r"))
      .select(col("r.gate_a"), col("r.gate_b"), col("r.n_docs"),
        col("r.n_agree"), col("r.kappa"))
      .orderBy(col("gate_a"), col("gate_b"))
  }

  private val q175b = GraftQuery(
    "q175b_gate_kappa",
    (s, dir) => pairwiseKappa(gateFlags(s, dir), Seq(
      ("gopher", "c4", "gopher_keep", "c4_keep"),
      ("gopher", "clf", "gopher_keep", "clf_keep"),
      ("c4", "clf", "c4_keep", "clf_keep"))),
    Some {
      val pairs = Seq(("gopher", "c4", "gopher_keep", "c4_keep"),
        ("gopher", "clf", "gopher_keep", "clf_keep"),
        ("c4", "clf", "c4_keep", "clf_keep"))
      val sums = pairs.flatMap { case (pa, pb, x, y) => Seq(
        s"CAST(SUM(CASE WHEN $x AND $y THEN 1 ELSE 0 END) AS HUGEINT) AS ${pa}_${pb}_a",
        s"CAST(SUM(CASE WHEN $x AND NOT $y THEN 1 ELSE 0 END) AS HUGEINT) AS ${pa}_${pb}_b",
        s"CAST(SUM(CASE WHEN NOT $x AND $y THEN 1 ELSE 0 END) AS HUGEINT) AS ${pa}_${pb}_c")
      }.mkString(",\n                   ")
      val rows = pairs.map { case (pa, pb, _, _) =>
        val (aa, bb, cc) = (s"${pa}_${pb}_a", s"${pa}_${pb}_b", s"${pa}_${pb}_c")
        val d = s"(n - $aa - $bb - $cc)"
        val pe = s"(($aa + $bb) * ($aa + $cc) + ($d + $cc) * ($d + $bb))"
        s"""SELECT '$pa' AS gate_a, '$pb' AS gate_b,
               CAST(n AS BIGINT) AS n_docs,
               CAST($aa + $d AS BIGINT) AS n_agree,
               CASE WHEN n * n - $pe = 0 THEN NULL
                    ELSE CAST(n * ($aa + $d) - $pe AS DOUBLE)
                         / CAST(n * n - $pe AS DOUBLE) END AS kappa
           FROM s"""
      }.mkString("\n      UNION ALL\n      ")
      s"""
      $gateFlagsSql,
      j AS (SELECT gopher_keep, c4_keep, clf_keep
            FROM g JOIN c USING (doc_id) JOIN l USING (doc_id)),
      s AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                   $sums
            FROM j)
      $rows
      ORDER BY gate_a, gate_b"""
    })

  // q161b pins the PRUNED-model path: only positive-weight buckets ship
  // (the sparse table a magnitude-pruned model persists); every other
  // bucket takes the left-join 0 default — exercised here on ~half of
  // all feature hits, not as an edge case.
  private val q161b = GraftQuery(
    "q161b_quality_classifier_sparse",
    (s, dir) => linearQualityScore(Tables.documents(s, dir), "doc_id",
      "text", weights = seededWeights(s, 4096).filter(col("w") > 0L)),
    Some(s"""
      WITH t AS (SELECT doc_id,
                        ${OracleSql.tokens("text")} AS t
                 FROM documents),
      f AS (SELECT doc_id,
                   unnest(list_concat(t, list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]))) AS g
            FROM t),
      b AS (SELECT doc_id, ('0x' || substr(md5(g), 1, 6))::BIGINT % 4096 AS bkt FROM f),
      dc AS (SELECT doc_id, bkt, CAST(COUNT(*) AS BIGINT) AS cnt FROM b GROUP BY doc_id, bkt),
      w AS (SELECT * FROM (SELECT range AS bkt,
                   ('0x' || substr(md5('w' || CAST(range AS VARCHAR)), 1, 6))::BIGINT % 2001 - 1000 AS w
            FROM range(4096)) WHERE w > 0),
      m AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_feats,
                   CAST(SUM(cnt * COALESCE(w, 0)) AS BIGINT) AS margin
            FROM dc LEFT JOIN w ON dc.bkt = w.bkt GROUP BY doc_id)
      SELECT doc_id, n_feats, margin,
             CAST(margin AS DOUBLE) / CAST(n_feats * 1000 AS DOUBLE) AS quality_score,
             margin > 0 AS keep
      FROM m
      ORDER BY doc_id"""))

  // --------------------------------------------------------------- q166
  /** Readability scoring (Flesch-Kincaid grade + Flesch reading ease;
    * Kincaid et al. 1975 — the quality signal education-adjacent
    * pipelines gate on): per-document word / sentence / syllable
    * counters plus both indices in EXACT centi-integer arithmetic. The
    * classic formulas are doubles; declared semantics here replace each
    * ratio with a truncating integer division at ×100 scale —
    * engine-identical, order-independent, and bit-replayable:
    *   fk_centi = (39·words) div sentences + (1180·syll) div words − 1559
    *   ease_centi = 20683 − (10150·words) div (100·sentences)
    *                      − (8460·syll) div words
    * (the published coefficients ×100, truncation error < 0.01 grade).
    * Syllables ≈ vowel groups `[aeiouy]+` in the lowercased text, the
    * standard heuristic; sentences = `[.!?]+` runs, floored at 1.
    * One stateless scan projection — the q160/q164 shape: no explode,
    * no join, no shuffle before the presentation sort.
    * Overflow headroom: 10150·words needs < 9e14 words per document —
    * five orders past any real document. */
  def readability(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val lo = lower(col(textCol))
    docs.select(col(idCol),
      size(tokens(col(textCol))).cast("long").as("n_words"),
      greatest(regexp_count(col(textCol), lit("[.!?]+")), lit(1))
        .cast("long").as("n_sentences"),
      regexp_count(lo, lit("[aeiouy]+")).cast("long").as("n_syllables"))
      .filter(col("n_words") > 0L)
      .withColumn("fk_centi",
        expr("(39 * n_words) div n_sentences") +
          expr("(1180 * n_syllables) div n_words") - lit(1559L))
      .withColumn("ease_centi",
        lit(20683L) - expr("(10150 * n_words) div (100 * n_sentences)") -
          expr("(8460 * n_syllables) div n_words"))
      .orderBy(col(idCol))
  }

  private val q166 = GraftQuery(
    "q166_readability",
    (s, dir) => readability(Tables.documents(s, dir), "doc_id", "text"),
    Some(s"""
      WITH c AS (SELECT doc_id,
                        CAST(len(${OracleSql.tokens("text")}) AS BIGINT) AS n_words,
                        CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS n_sentences,
                        CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_syllables
                 FROM documents)
      SELECT doc_id, n_words, n_sentences, n_syllables,
             CAST((39 * n_words) // n_sentences
                  + (1180 * n_syllables) // n_words - 1559 AS BIGINT) AS fk_centi,
             CAST(20683 - (10150 * n_words) // (100 * n_sentences)
                  - (8460 * n_syllables) // n_words AS BIGINT) AS ease_centi
      FROM c
      WHERE n_words > 0
      ORDER BY doc_id"""))

  val all: Seq[GraftQuery] = Seq(q30, q31, q32, q33, q34, q78, q82, q96, q97,
    q113, q119, q121, q129, q130, q140, q144, q148, q148b, q154, q155b, q156, q156b, q156c, q156d, q156e, q157, q157b,
    q160, q161, q161b, q166, q175, q175b, q176)
}
