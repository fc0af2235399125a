package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.{GraftQuery, OracleSql}
import graft.functions.TextFunctions.tokens
import graft.sources.Tables

/** Unigram-LM (SentencePiece-shape) subword segmentation (Kudo 2018) —
  * the standard alternative to BPE (VERDICT r14 next #8), as engine-
  * exact hard-EM over the q156 word-frequency table:
  *
  *   seed: every ≤ L-char substring of every vocab word, scored by its
  *   corpus-weighted occurrence count; E-step: Viterbi-segment each
  *   vocab word under the current piece costs; M-step: re-score pieces
  *   from the segmentation usage counts; final E-step emits the
  *   segmentation. Corpus text is touched ONCE (the word-frequency
  *   pass); every EM stage is vocab-confined — the q156 scale argument.
  *
  * Engine-exact discipline (the LangId/q96 surrogate convention): true
  * unigram-LM maximizes Σ log p — logs are libm-dependent and not
  * bit-replayable across engines — so the declared semantics use an
  * exact-integer SURROGATE: piece cost `CBIG div (count + 1)` (monotone
  * decreasing in count; frequent pieces cheap) and Viterbi = min total
  * cost. Determinism under ties is structural, not tie-broken after
  * the fact: each edge's cost is the composite `cost·2^32 + 2^(i−1)`
  * whose path sum encodes the exact breakpoint SET in the low 32 bits
  * — two different segmentations can never have equal composite cost
  * (equal base sums differ in mask; base sums differing by ≥ 1 dwarf
  * any mask delta), so the argmin segmentation is UNIQUE and the
  * optimal-path edges can be extracted non-sequentially by the
  * classic `d(1,i) + edge + d(j,end) = d(1,end)` equality.
  *
  * The Viterbi itself is min-plus DOUBLING, not a sequential scan:
  * paths of ≤ 2^k edges after k rounds of `d ← min(d, d∘d)`, so
  * ⌈log₂ 32⌉ = 5 joins cover the 32-char word bound — each round is a
  * self-join + min-agg over the (word, i, j) frame, all relational,
  * no UDF, no driver DP. Words longer than [[MAXW]] chars are EXCLUDED
  * from the vocab (the SentencePiece max-piece-length analog; callers
  * chunk upstream) — pinned in the spec.
  *
  * Overflow audit: cost ≤ 2^20, ≤ 32 pieces/word → base sum ≤ 2^25;
  * composite ≤ 2^25·2^32 + 2^32 < 2^58. Counts are corpus-scale LONGs;
  * `CBIG div (c+1)` never overflows.
  */
object Unigram {

  private val CBIG = 1L << 20 // piece-cost ceiling (cost of a 0-count piece)
  private val BASE = 1L << 32 // composite = cost·BASE + breakpoint bit
  private val MAXW = 32 // max word length (breakpoint mask = 32 bits)
  private val STEPS = 5 // ⌈log₂ MAXW⌉ doubling rounds

  /** (w, n) vocabulary with corpus frequencies; > MAXW-char words
    * excluded (documented bound). */
  private def wordFreq(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .filter(length(col("w")) <= MAXW)

  /** One row per (word, start, piece-length ≤ L): the seed piece
    * inventory AND the Viterbi edge set — edge i → i + len(p). */
  private def wordPieces(words: DataFrame, maxPieceLen: Int): DataFrame =
    words
      .select(col("w"), col("n"),
        explode(sequence(lit(1), length(col("w")))).as("i"))
      .select(col("w"), col("n"), col("i"),
        explode(sequence(lit(1),
          least(lit(maxPieceLen), length(col("w")) - col("i") + 1))).as("l"))
      .select(col("w"), col("n"), col("i"), (col("i") + col("l")).as("j"),
        col("w").substr(col("i"), col("l")).as("p"))

  /** Composite-cost edges under a (p, cost) table (vocab-sized,
    * broadcast). */
  private def edges(pieces: DataFrame, costs: DataFrame): DataFrame =
    pieces.join(broadcast(costs), Seq("p"))
      .select(col("w"), col("n"), col("i"), col("j"), col("p"),
        (col("cost") * lit(BASE) +
          expr("shiftleft(CAST(1 AS BIGINT), i - 1)")).as("d"))

  /** Min-plus doubling closure: after k rounds, d(w, i, j) is the min
    * composite cost over paths of ≤ 2^k edges. Frames are vocab-sized;
    * each round localCheckpoints (lineage cut, the graph-loop rule).
    *
    * Settled-word banding RE-EXAMINED AND REJECTED, round 19 (VERDICT
    * r18 next #7 asked for a retry with eager materialization): words of
    * length ≤ 2^k are final after round k, so rounds 2..5 only *need*
    * the long tail — but slicing `merged` into settled/active FILTER
    * views cannot avoid scanning every round's full checkpoint on every
    * downstream read (pathEdges reads the closure 3×, and the EM loop
    * runs it twice), and physically separating the slices costs extra
    * eager jobs per round (the q220 many-small-jobs trap). Measured at
    * sf0.1/local[32], values oracle-identical both times: lazy-view
    * variant q178 3.43 → 8.29 s AND the r18 "unread block data" crash on
    * q178b's second bench rep (long-lived cross-checkpoint views); final
    * union re-checkpointed variant q178 3.43 → 6.24 s / q178b 4.90 →
    * 8.21 s (the extra full-closure materialization + 5-branch re-scans
    * dominate the shrinking join inputs — short words carry FEW closure
    * entries, so the banding removes little of the row volume). Unbanded
    * loop restored byte-for-byte; at 100 TB vocabulary scale the same
    * arithmetic applies (entry volume concentrates in LONG words, which
    * band LATE), so this is rejected on the math, not just local
    * economics. */
  private def closure(e0: DataFrame): DataFrame = {
    var d = e0.select(col("w"), col("i"), col("j"), col("d")).localCheckpoint()
    for (k <- 1 to STEPS) {
      val a = d.alias("a")
      val b = d.alias("b")
      val comp = a.join(b,
          col("a.w") === col("b.w") && col("a.j") === col("b.i"))
        .select(col("a.w").as("w"), col("a.i").as("i"),
          col("b.j").as("j"), (col("a.d") + col("b.d")).as("d"))
      val mergedPlan = d.unionByName(comp)
        .groupBy(col("w"), col("i"), col("j")).agg(min(col("d")).as("d"))
      graft.IterProbe.tap("unigram_closure", k, mergedPlan)
      d = mergedPlan.localCheckpoint()
    }
    d
  }

  /** The UNIQUE optimal path's edges for every word: e on the path iff
    * `dStart(i) + e.d + dEnd(j) = dTotal` (exact by the composite-cost
    * uniqueness argument in the scaladoc). Emits
    * (w, n, i, j, p, dtot). */
  private def pathEdges(e0: DataFrame, words: DataFrame): DataFrame = {
    val dAll = closure(e0)
    val wl = words.select(col("w"), (length(col("w")) + 1).as("end"))
    val tot = dAll.join(wl, Seq("w"))
      .filter(col("i") === 1 && col("j") === col("end"))
      .select(col("w"), col("end"), col("d").as("dtot"))
    val dStart = dAll.filter(col("i") === 1)
      .select(col("w").as("sw"), col("j").as("si"), col("d").as("ds"))
    val dEnd = dAll.select(col("w").as("xw"), col("i").as("ei"),
      col("j").as("ej"), col("d").as("de"))
    e0.join(tot, Seq("w"))
      .join(dStart, col("w") === col("sw") && col("i") === col("si"), "left")
      .join(dEnd, col("w") === col("xw") && col("j") === col("ei") &&
        col("ej") === col("end"), "left")
      .filter(
        (when(col("i") === 1, lit(0L)).otherwise(col("ds")) + col("d") +
          when(col("j") === col("end"), lit(0L)).otherwise(col("de")))
          === col("dtot"))
      .select(col("w"), col("n"), col("i"), col("j"), col("p"), col("dtot"))
  }

  /** `CBIG div (c+1)` over the full seed piece inventory (unused pieces
    * keep the ceiling cost — they stay available as fallback, which
    * keeps every word segmentable). */
  private def costsFrom(seedKeys: DataFrame, counts: DataFrame): DataFrame =
    seedKeys.join(counts, Seq("p"), "left")
      .select(col("p"),
        expr(s"${CBIG}L div (coalesce(c, 0L) + 1L)").as("cost"))

  /** Hard-EM unigram segmentation of the corpus vocabulary: returns one
    * row per word — `(w, n, seg, n_pieces, cost)` where `seg` is the
    * space-joined piece sequence of the final Viterbi split and `cost`
    * its base (non-composite) total. */
  def unigramSegment(docs: DataFrame, textCol: String,
      maxPieceLen: Int = 4): DataFrame = {
    require(maxPieceLen >= 1 && maxPieceLen <= 8,
      s"maxPieceLen in [1,8], got $maxPieceLen")
    val words = wordFreq(docs, textCol).localCheckpoint()
    val pieces = wordPieces(words, maxPieceLen).localCheckpoint()
    val seedKeys = pieces.select(col("p")).distinct()
    // seed: corpus-weighted substring occurrence counts
    val c0 = pieces.groupBy(col("p")).agg(sum(col("n")).as("c"))
    val cost0 = costsFrom(seedKeys, c0)
    // E-step under seed costs, M-step from the usage counts
    val used = pathEdges(edges(pieces, cost0), words)
      .groupBy(col("p")).agg(sum(col("n")).as("c"))
    val cost1 = costsFrom(seedKeys, used)
    // final E-step + render
    pathEdges(edges(pieces, cost1), words)
      .groupBy(col("w"), col("n"), col("dtot"))
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("i"), col("p")))),
          e => e.getField("p"))).as("seg"),
        count(lit(1)).as("n_pieces"))
      .select(col("w"), col("n"), col("seg"), col("n_pieces"),
        expr(s"dtot div ${BASE}L").as("cost"))
      .orderBy(col("w"))
  }

  // ---------------------------------------------------------------- q178
  // Oracle: the identical seed → EM → final cascade unrolled in DuckDB —
  // substring inventory, integer costs, 2×(5 doubling rounds), the
  // path-equality extraction, and the per-word render; every composite
  // LONG replays bit-for-bit (integer arithmetic only).
  private def doubling(dPrev: String, dNext: String): String = s"""
      $dNext AS MATERIALIZED (SELECT w, i, j, MIN(d) AS d FROM (
               SELECT w, i, j, d FROM $dPrev
               UNION ALL
               SELECT a.w, a.i, b.j, a.d + b.d
               FROM $dPrev a JOIN $dPrev b ON a.w = b.w AND a.j = b.i)
             GROUP BY w, i, j)"""

  private def viterbiCtes(tag: String, costCte: String): String = {
    val e = s"e$tag"
    val chain = (0 until STEPS)
      .map(k => doubling(s"d$tag$k", s"d$tag${k + 1}")).mkString(",")
    s"""
      $e AS MATERIALIZED (SELECT pc.w, pc.n, pc.i, pc.j, pc.p,
               (co.cost * 4294967296 + (CAST(1 AS BIGINT) << (pc.i - 1))) AS d
             FROM pieces pc JOIN $costCte co USING (p)),
      d${tag}0 AS MATERIALIZED (SELECT w, i, j, d FROM $e),$chain,
      tot$tag AS MATERIALIZED (SELECT d.w, d.d AS dtot, wl.wend
             FROM d$tag$STEPS d JOIN (SELECT w, len(w) + 1 AS wend FROM w0) wl
               ON d.w = wl.w AND d.i = 1 AND d.j = wl.wend),
      path$tag AS MATERIALIZED (SELECT e.w, e.n, e.i, e.j, e.p, t.dtot
             FROM $e e
             JOIN tot$tag t ON e.w = t.w
             LEFT JOIN d$tag$STEPS s ON s.w = e.w AND s.i = 1 AND s.j = e.i
             LEFT JOIN d$tag$STEPS x ON x.w = e.w AND x.i = e.j AND x.j = t.wend
             WHERE (CASE WHEN e.i = 1 THEN 0 ELSE s.d END) + e.d +
                   (CASE WHEN e.j = t.wend THEN 0 ELSE x.d END) = t.dtot)"""
  }

  private def unigramOracleCore: String = s"""
      WITH w0 AS MATERIALIZED (SELECT w, CAST(COUNT(*) AS BIGINT) AS n FROM (
               SELECT unnest(${OracleSql.tokens("text")}) AS w
               FROM documents)
             GROUP BY w HAVING len(w) <= $MAXW),
      pos AS MATERIALIZED (SELECT w, n, len(w) AS wl,
               unnest(range(1, len(w) + 1)) AS i FROM w0),
      pieces AS MATERIALIZED (SELECT w, n, i, i + l AS j, w[i : i + l - 1] AS p
             FROM (SELECT w, n, i,
                          unnest(range(1, least(4, wl - i + 1) + 1)) AS l
                   FROM pos)),
      c0 AS MATERIALIZED (SELECT p, CAST(SUM(n) AS BIGINT) AS c
             FROM pieces GROUP BY p),
      cost0 AS MATERIALIZED (SELECT p, CAST($CBIG // (c + 1) AS BIGINT) AS cost FROM c0),
      ${viterbiCtes("a", "cost0")},
      c1 AS MATERIALIZED (SELECT p, CAST(SUM(n) AS BIGINT) AS c
             FROM patha GROUP BY p),
      cost1 AS MATERIALIZED (SELECT c0.p,
               CAST($CBIG // (COALESCE(c1.c, 0) + 1) AS BIGINT) AS cost
             FROM c0 LEFT JOIN c1 USING (p)),
      ${viterbiCtes("b", "cost1")}"""

  private def unigramOracle: String = s"""$unigramOracleCore
      SELECT w, n, string_agg(p, ' ' ORDER BY i) AS seg,
             CAST(COUNT(*) AS BIGINT) AS n_pieces,
             CAST(dtot // 4294967296 AS BIGINT) AS cost
      FROM pathb
      GROUP BY w, n, dtot
      ORDER BY w"""

  private val q178 = GraftQuery(
    "q178_unigram_segment",
    (s, dir) => unigramSegment(Tables.documents(s, dir), "text"),
    Some(unigramOracle))

  /** Corpus encode under the learned unigram tokenizer — the q156c
    * analog: per-doc word and unigram-piece counts via one corpus
    * tokenize + a broadcast join of the (vocab-sized) segmentation.
    * Same inner-join contract as `bpeEncode`: words outside the learned
    * vocab (only the > MAXW-char exclusions here) are absent from the
    * count. */
  def unigramEncode(docs: DataFrame, idCol: String, textCol: String,
      maxPieceLen: Int = 4): DataFrame = {
    val vocab = unigramSegment(docs, textCol, maxPieceLen)
      .select(col("w"), col("n_pieces"))
    docs.select(col(idCol), explode(tokens(col(textCol))).as("w"))
      .join(broadcast(vocab), Seq("w"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_pieces")).as("n_unigram_tokens"))
      .orderBy(col(idCol))
  }

  private val q178b = GraftQuery(
    "q178b_unigram_encode",
    (s, dir) => unigramEncode(Tables.documents(s, dir), "doc_id", "text"),
    Some(s"""$unigramOracleCore,
      vseg AS MATERIALIZED (SELECT w, CAST(COUNT(*) AS BIGINT) AS n_pieces
             FROM pathb GROUP BY w)
      SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
             CAST(SUM(v.n_pieces) AS BIGINT) AS n_unigram_tokens
      FROM (SELECT doc_id,
                   unnest(${OracleSql.tokens("text")}) AS w
            FROM documents) d
      JOIN vseg v USING (w)
      GROUP BY d.doc_id
      ORDER BY d.doc_id"""))

  val all: Seq[GraftQuery] = Seq(q178, q178b)
}
