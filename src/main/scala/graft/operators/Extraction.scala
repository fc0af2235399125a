package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.{GraftQuery, OracleSql}
import graft.sources.Tables

/** Ingestion-side text extraction — the two standard stages that sit
  * BEFORE every quality/dedup pass in a web-crawl pipeline and that the
  * engine still lacked at round 14:
  *
  *   - HTML → text extraction (the trafilatura/jusText job reduced to
  *     its deterministic core): drop script/style subtrees, strip tags,
  *     decode the bounded entity set, collapse whitespace. It is one
  *     native codegen'd expression ([[graft.functions.HtmlTextExtract]])
  *     — zero UDFs, one stateless scan projection, trivially linear at
  *     100 TB (the wordcount-scan class with no shuffle at all).
  *   - Fixed-window document chunking with overlap (the RAG/packing
  *     prep step): deterministic char-window starts via
  *     `sequence(... step)` + substring — the chunk set is a pure
  *     function of (text, window, overlap), exactly replayable, and
  *     the explode is output-proportional (no shuffle until the caller
  *     aggregates).
  *
  * Both declared queries avoid emitting full text bodies: they pin an
  * md5 of every extracted/chunked string (the q66 redaction-proof
  * convention) so the oracle hash-compare covers byte-identical
  * extraction without megabyte result rows.
  */
object Extraction {

  /** DuckDB replay of [[htmlText]] as a reusable CTE chain (single
    * source of truth for the q171 oracle AND every downstream composed
    * oracle, e.g. the q93c crawl chain): reads `htmlCol` from CTE
    * `src`, carries `keep` columns through, and defines CTE `out`
    * holding them plus the extracted text as `__text`.
    *
    * The script/style kill is one alternative PER TAG, not
    * `<(script|style)…</(script|style)>`: the grouped form let a
    * `<script>` be closed by `</style>` (ADVICE r14), truncating the
    * kill early and leaking script body into "visible text". A
    * backreference (`</\1>`) would be the compact fix, but DuckDB's RE2
    * has no backreferences. Each alternative's `|.*$` arm (r18) makes an
    * UNCLOSED `<script>` in a truncated crawl doc kill to end of input,
    * as [[graft.functions.HtmlTextExtract]] does. The whitespace class is
    * the explicit `[ \t\n\r]+`: Java `\s` and RE2 `\s` disagree on VT. */
  private[operators] def htmlTextSql(src: String, htmlCol: String,
      out: String, keep: Seq[String]): String = {
    val kk = keep.map(_ + ", ").mkString
    s"""
      ${out}_e1 AS (SELECT $kk replace(replace(replace(replace(
                      regexp_replace(
                        regexp_replace($htmlCol, '(?is)<script\\b[^>]*>(.*?</script>|.*$$)|<style\\b[^>]*>(.*?</style>|.*$$)', ' ', 'g'),
                        '<[^>]*>', ' ', 'g'),
                      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&nbsp;', ' ') AS __t0
             FROM $src),
      ${out}_e2 AS (SELECT $kk string_split(regexp_replace(__t0, '&#(x[0-9a-fA-F]{1,6}|[0-9]{1,7});', chr(1) || '\\1' || chr(2), 'g'), chr(1)) AS __parts
             FROM ${out}_e1),
      ${out}_e3 AS (SELECT $kk __parts[1] || array_to_string(list_transform(__parts[2:], x ->
                      CASE WHEN strpos(x, chr(2)) = 0 THEN chr(1) || x
                           ELSE (CASE WHEN (CASE WHEN regexp_full_match(split_part(x, chr(2), 1), 'x[0-9a-fA-F]{1,6}')
                                                 THEN TRY_CAST('0x' || split_part(x, chr(2), 1)[2:] AS BIGINT)
                                                 WHEN regexp_full_match(split_part(x, chr(2), 1), '[0-9]{1,7}')
                                                 THEN TRY_CAST(split_part(x, chr(2), 1) AS BIGINT)
                                                 END) BETWEEN 32 AND 126
                                      THEN (CASE WHEN (CASE WHEN regexp_full_match(split_part(x, chr(2), 1), 'x[0-9a-fA-F]{1,6}')
                                                 THEN TRY_CAST('0x' || split_part(x, chr(2), 1)[2:] AS BIGINT)
                                                 ELSE TRY_CAST(split_part(x, chr(2), 1) AS BIGINT) END) = 38 THEN chr(3) ELSE chr(CAST((CASE WHEN regexp_full_match(split_part(x, chr(2), 1), 'x[0-9a-fA-F]{1,6}')
                                                 THEN TRY_CAST('0x' || split_part(x, chr(2), 1)[2:] AS BIGINT)
                                                 ELSE TRY_CAST(split_part(x, chr(2), 1) AS BIGINT) END) AS INT)) END)
                                      ELSE '&#' || split_part(x, chr(2), 1) || ';' END)
                                || substr(x, len(split_part(x, chr(2), 1)) + 2)
                      END), '') AS __t1
             FROM ${out}_e2),
      $out AS (SELECT $kk trim(regexp_replace(
                 replace(replace(__t1, '&amp;', '&'), chr(3), '&'),
                 '[ \\t\\n\\r]+', ' ', 'g')) AS __text
               FROM ${out}_e3)"""
  }

  /** Extracted visible text of an HTML column, as the native
    * [[graft.functions.HtmlTextExtract]]: script/style subtrees killed
    * (an unclosed one to end of input), tags stripped, the bounded
    * named-entity set and numeric character references in printable
    * ASCII decoded, `&amp;` LAST so `&amp;lt;` decodes to the literal
    * `&lt;` and `&amp;#65;` to the literal `&#65;`, not to `<`/`A` — the
    * double-escape rule, single-pass like a real HTML tokenizer.
    * [[htmlTextSql]] replays the same staged semantics in DuckDB and
    * remains the oracle. */
  def htmlText(html: Column): Column =
    graft.functions.HtmlTextExtract(html)

  /** Per-doc extraction audit: raw/extracted lengths plus the md5 of
    * the extracted text — the stateless one-scan projection a pipeline
    * chains straight into tokenization. */
  def htmlExtract(docs: DataFrame, idCol: String, htmlCol: String): DataFrame =
    docs.select(col(idCol),
      length(col(htmlCol)).cast("long").as("n_raw"),
      htmlText(col(htmlCol)).as("__x"))
      .select(col(idCol), col("n_raw"),
        length(col("__x")).cast("long").as("n_text"),
        md5(col("__x")).as("text_md5"))

  /** Fixed char-window chunking with overlap: windows start at
    * 1, 1+step, 1+2·step, … (step = window − overlap) and every start
    * strictly inside the text emits one chunk (the final chunk may be
    * short; a doc shorter than one window emits exactly one chunk).
    * Deterministic chunk ids = (doc, ordinal). */
  def chunkText(docs: DataFrame, idCol: String, textCol: String,
      window: Int, overlap: Int): DataFrame = {
    require(window >= 1, s"window must be positive, got $window")
    require(overlap >= 0 && overlap < window,
      s"overlap in [0, window), got $overlap (window $window)")
    val step = window - overlap
    docs
      .select(col(idCol), col(textCol))
      .filter(length(col(textCol)) >= 1)
      .select(col(idCol),
        posexplode(sequence(lit(1), length(col(textCol)), lit(step)))
          .as(Seq("chunk_id", "__start")),
        col(textCol))
      .select(col(idCol), col("chunk_id"),
        col(textCol).substr(col("__start"), lit(window)).as("__c"))
      .select(col(idCol), col("chunk_id"),
        length(col("__c")).cast("long").as("n_chars"),
        md5(col("__c")).as("chunk_md5"))
  }

  /** Invisible/control-character class (round 15 — closes the C0
    * sentinel caveat of [[htmlText]]'s numeric-reference decode): C0 controls except
    * tab/LF/CR, DEL, zero-width space/non-joiner/joiner, word joiner,
    * BOM-as-ZWNBSP, and soft hyphen. Java and RE2 spell the class
    * differently (`\uXXXX` vs `\x{XXXX}`) — two dialect strings, ONE
    * semantic class, both enumerated here so they cannot drift apart
    * silently. */
  private val InvisibleRe =
    "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F\\u00AD\\u200B-\\u200D\\u2060\\uFEFF]"
  private val InvisibleReDuck =
    "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F\\x{00AD}\\x{200B}-\\x{200D}\\x{2060}\\x{FEFF}]"

  /** Strip invisible characters (the crawl-cleaning stage upstream of
    * [[htmlText]] that makes its C0-sentinel caveat moot, and the
    * dedup-hygiene twin of NFC: a zero-width space splits tokens and
    * defeats byte-keyed dedup while rendering identically). */
  def stripInvisible(text: Column): Column =
    regexp_replace(text, InvisibleRe, "")

  /** Per-doc invisible-character audit: count, cleaned length, cleaned
    * md5, and a changed flag — the q173 NFC-audit shape. */
  def invisibleAudit(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val t = col(textCol)
    val c = stripInvisible(t)
    docs.select(col(idCol),
      regexp_count(t, lit(InvisibleRe)).cast("long").as("n_invisible"),
      length(c).cast("long").as("n_clean"),
      (length(t) =!= length(c)).as("changed"),
      md5(c).as("clean_md5"))
  }

  // ---------------------------------------------------------------- q181
  // Planted invisible characters by doc rotation: ZWSP inside a word
  // (the dedup-defeating case), a BOM prefix, a NUL + DEL pair, a soft
  // hyphen, a ZWJ run, and a clean control row; tab/LF/CR must SURVIVE
  // (they are whitespace, not noise). Oracle replays with the RE2
  // spelling of the same class.
  private def invisText(): Column = {
    val m = pmod(col("doc_id"), lit(6))
    when(m === 0, concat(lit("pre\u200Bfix "), col("text")))
      .when(m === 1, concat(lit("\uFEFF"), col("text")))
      .when(m === 2, concat(col("text"), lit(" a\u0001b\u007Fc")))
      .when(m === 3, concat(lit("co\u00ADoperate "), col("text")))
      .when(m === 4, concat(col("text"), lit(" x\u200D\u200D\u200Cy")))
      .otherwise(concat(lit("tab\there "), col("text")))
  }

  private val q181 = GraftQuery(
    "q181_invisible_strip",
    (s, dir) => invisibleAudit(
        Tables.documents(s, dir).withColumn("it", invisText()),
        "doc_id", "it")
      .orderBy(col("doc_id")),
    Some(s"""
      WITH r AS (SELECT doc_id,
               CASE CAST(doc_id % 6 AS INT)
                 WHEN 0 THEN 'pre' || chr(8203) || 'fix ' || text
                 WHEN 1 THEN chr(65279) || text
                 WHEN 2 THEN text || ' a' || chr(1) || 'b' || chr(127) || 'c'
                 WHEN 3 THEN 'co' || chr(173) || 'operate ' || text
                 WHEN 4 THEN text || ' x' || chr(8205) || chr(8205) || chr(8204) || 'y'
                 ELSE 'tab' || chr(9) || 'here ' || text
               END AS t
             FROM documents),
      c AS (SELECT doc_id, t,
               regexp_replace(t, '$InvisibleReDuck', '', 'g') AS ct
            FROM r)
      SELECT doc_id,
             CAST(len(regexp_extract_all(t, '$InvisibleReDuck')) AS BIGINT) AS n_invisible,
             CAST(len(ct) AS BIGINT) AS n_clean,
             len(t) <> len(ct) AS changed,
             md5(ct) AS clean_md5
      FROM c
      ORDER BY doc_id"""))


  // ---------------------------------------------------------------- q183
  /** Sentence segmentation — the linguistic sibling of [[chunkText]]
    * (RAG/packing pipelines chunk by sentences when structure matters;
    * per-sentence stats feed the C4/Gopher sentence gates): a boundary
    * is TERMINAL PUNCTUATION ([.!?]) followed by whitespace. RE2 has no
    * lookbehind, so the engine-portable form marks boundaries with a
    * backreference replace (`([.!?])[ \t\n\r]+` -> `$1` + U+0001) and
    * splits on the sentinel — the sentinel discipline of [[htmlText]]'s
    * numeric-reference decode, with the same natural-sentinel caveat
    * ([[stripInvisible]] upstream makes it moot). Abbreviation
    * handling ("Dr. Smith") is a documented NON-goal: both engines
    * split identically, and the declared semantics stay a pure
    * regex — the honest baseline every rule-based splitter builds on.
    * One mark + one split + an output-proportional explode; sentences
    * are pinned as (len, words, md5), never emitted. */
  def sentenceSplit(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val marked = regexp_replace(col(textCol),
      "([.!?])[ \\t\\n\\r]+", "$1")
    docs
      .select(col(idCol), posexplode(split(marked, "", -1))
        .as(Seq("sent_id", "__s")))
      .filter(trim(col("__s")) =!= "")
      .select(col(idCol), col("sent_id"),
        length(col("__s")).cast("long").as("n_chars"),
        size(graft.functions.TextFunctions.tokens(col("__s")))
          .cast("long").as("n_words"),
        md5(col("__s")).as("sent_md5"))
  }

  // Fixture: render the token stream into ~10-word sentences with a
  // rotating terminal mark (./!/?), the q93 paragraph-render pattern —
  // so the splitter must recover exactly the planted sentence set.
  private def sentenceText(): Column = {
    val toks = graft.functions.TextFunctions.tokens(col("text"))
    val mark = when(pmod(col("doc_id"), lit(3)) === 0, lit("."))
      .when(pmod(col("doc_id"), lit(3)) === 1, lit("!"))
      .otherwise(lit("?"))
    concat(concat_ws("", transform(
      sequence(lit(1), ceil(size(toks) / lit(10.0)).cast("int")),
      i => concat(concat_ws(" ", slice(toks, (i - 1) * 10 + 1, lit(10))),
        mark, lit(" ")))))
  }

  private val q183 = GraftQuery(
    "q183_sentence_split",
    (s, dir) => sentenceSplit(
        Tables.documents(s, dir).withColumn("st", sentenceText())
          .filter(size(graft.functions.TextFunctions.tokens(col("text"))) >= 1),
        "doc_id", "st")
      .orderBy(col("doc_id"), col("sent_id")),
    Some(s"""
      WITH toks AS (SELECT doc_id,
               ${OracleSql.tokens("text")} AS t
             FROM documents),
      mk AS (SELECT doc_id, t,
               CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN '.'
                    WHEN 1 THEN '!' ELSE '?' END AS mark
             FROM toks WHERE len(t) >= 1),
      st AS (SELECT doc_id,
               array_to_string(list_transform(
                 range(1, CAST(ceil(len(t) / 10.0) AS BIGINT) + 1),
                 i -> array_to_string(t[(i-1)*10+1 : i*10], ' ') || mark || ' '), '') AS s
             FROM mk),
      sp AS (SELECT doc_id,
               generate_subscripts(parts, 1) - 1 AS sent_id,
               unnest(parts) AS sent
             FROM (SELECT doc_id,
                          string_split(regexp_replace(s, '([.!?])[ \\t\\n\\r]+', '\\1' || chr(1), 'g'), chr(1)) AS parts
                   FROM st))
      SELECT doc_id, CAST(sent_id AS INT) AS sent_id,
             CAST(len(sent) AS BIGINT) AS n_chars,
             CAST(len(${OracleSql.tokens("sent")}) AS BIGINT) AS n_words,
             md5(sent) AS sent_md5
      FROM sp
      WHERE trim(sent) <> ''
      ORDER BY doc_id, sent_id"""))

  // ---------------------------------------------------------------- q171
  // Deterministic HTML wrapping of the documents fixture exercises every
  // extraction rule: case-mixed script/style blocks with attributes,
  // nested tags, a self-closing tag, all six entities (incl. the
  // &amp;lt; double-escape), and multi-whitespace runs.
  private def messyHtml(): Column =
    concat(
      lit("<html>\n<head><TITLE>doc</TITLE><STYLE type=\"text/css\">p { color: red; }\n.x{}</STYLE>" +
        "<script src=\"a.js\"></script></head>\n<body onload=\"init()\">\n<h1>Doc "),
      col("doc_id").cast("string"),
      lit("</h1>\n<script>\nvar x = '<p>not text</p>';\n</script><p>"),
      col("text"),
      lit("</p>\n<div>&lt;tag&gt; &quot;q&quot; &#39;s&#39;&nbsp;&amp; &amp;lt;" +
        " &#65;&#x42; &#8364; &amp;#65; &#38;amp;lt;</div><br/>\n</body></html>"))

  private val messyHtmlSql = """
      '<html>' || chr(10) || '<head><TITLE>doc</TITLE><STYLE type="text/css">p { color: red; }' || chr(10) || '.x{}</STYLE><script src="a.js"></script></head>' || chr(10) || '<body onload="init()">' || chr(10) || '<h1>Doc ' ||
      CAST(doc_id AS VARCHAR) ||
      '</h1>' || chr(10) || '<script>' || chr(10) || 'var x = ''<p>not text</p>'';' || chr(10) || '</script><p>' ||
      text ||
      '</p>' || chr(10) || '<div>&lt;tag&gt; &quot;q&quot; &#39;s&#39;&nbsp;&amp; &amp;lt; &#65;&#x42; &#8364; &amp;#65; &#38;amp;lt;</div><br/>' || chr(10) || '</body></html>'"""

  private val q171 = GraftQuery(
    "q171_html_extract",
    (s, dir) => htmlExtract(
        Tables.documents(s, dir).withColumn("html", messyHtml()),
        "doc_id", "html")
      .orderBy(col("doc_id")),
    Some(s"""
      WITH raw AS (SELECT doc_id, $messyHtmlSql AS html FROM documents),
      raw0 AS (SELECT doc_id, CAST(len(html) AS BIGINT) AS n_raw, html
               FROM raw),
      ${htmlTextSql("raw0", "html", "xt", Seq("doc_id", "n_raw"))}
      SELECT doc_id, n_raw, CAST(len(__text) AS BIGINT) AS n_text,
             md5(__text) AS text_md5
      FROM xt
      ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q172
  private val q172 = GraftQuery(
    "q172_chunk_text",
    (s, dir) => chunkText(Tables.documents(s, dir), "doc_id", "text",
        window = 120, overlap = 20)
      .orderBy(col("doc_id"), col("chunk_id")),
    Some("""
      SELECT doc_id,
             CAST(i AS INT) AS chunk_id,
             CAST(len(text[1 + i * 100 : i * 100 + 120]) AS BIGINT) AS n_chars,
             md5(text[1 + i * 100 : i * 100 + 120]) AS chunk_md5
      FROM (SELECT doc_id, text,
                   unnest(range(0, CAST(ceil(len(text) / 100.0) AS BIGINT))) AS i
            FROM documents WHERE len(text) >= 1)
      ORDER BY doc_id, chunk_id"""))

  // ---------------------------------------------------------------- q173
  // Unicode NFC normalization audit ([[graft.functions.NfcNormalize]] —
  // the pre-hash canonicalization every byte-keyed dedup stage needs):
  // planted composed/decomposed forms (NFC-stable `café`, decomposed
  // `cafe`+U+0301, combining ring/diaeresis) exercise both the changed
  // and already-normal paths; the oracle replays with DuckDB's builtin
  // `nfc_normalize` — same name the expression registers in SQL.
  private def accentedText(): Column = {
    val m = pmod(col("doc_id"), lit(4))
    when(m === 0, concat(col("text"), lit(" café")))
      .when(m === 1, concat(col("text"), lit(" café")))
      .when(m === 2, concat(col("text"), lit(" Ångström")))
      .otherwise(col("text"))
  }

  private val q173 = GraftQuery(
    "q173_nfc_normalize",
    (s, dir) => {
      val t = accentedText()
      val n = graft.functions.NfcNormalize(t)
      Tables.documents(s, dir)
        .select(col("doc_id"),
          length(t).cast("long").as("n_raw"),
          length(n).cast("long").as("n_nfc"),
          (n =!= t).as("changed"),
          md5(n).as("nfc_md5"))
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH r AS (SELECT doc_id,
                        CASE doc_id % 4
                          WHEN 0 THEN text || ' cafe' || chr(769)
                          WHEN 1 THEN text || ' caf' || chr(233)
                          WHEN 2 THEN text || ' A' || chr(778) || 'ngstro' || chr(776) || 'm'
                          ELSE text END AS t
                 FROM documents),
      n AS (SELECT doc_id, t, nfc_normalize(t) AS nf FROM r)
      SELECT doc_id, CAST(len(t) AS BIGINT) AS n_raw,
             CAST(len(nf) AS BIGINT) AS n_nfc,
             nf <> t AS changed, md5(nf) AS nfc_md5
      FROM n
      ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q196
  // Content-defined chunking (Rabin-style) — the dedup-world
  // alternative to q172's fixed windows: boundaries are a pure
  // function of LOCAL content (an 8-char window hash), so an insertion
  // shifts only the chunks it touches while fixed windows shift every
  // downstream chunk (the rsync/LBFS property that makes chunk-level
  // dedup robust to edits). Deliberately the PLAIN Rabin scheme with
  // no min/max chunk bounds: FastCDC-style bounds make breakpoint k
  // depend on breakpoint k−1 (sequential), while the plain scheme is
  // position-independent — every window tests in parallel, which is
  // the property that matters at 100 TB. Arithmetic is exact LONG:
  // coefficients are 131^k mod 2^20 literals, codepoint·coeff ≤
  // 2^41, the 8-term sum < 2^44; the boundary test is `sum % 64 == 0`
  // (64 | 2^20, so reducing mod 2^20 first would change nothing).
  // Expected chunk ≈ 64 chars on the divisor; whole short docs are one
  // chunk; chunk_no keeps construction holes (empty tail segments
  // filtered, the q184 offset convention).

  /** Trimmed direct inner text of the first `<tag …>…</tag>` element,
    * NULL when absent/empty — the shared XML field extractor
    * ([[Sitemaps]] loc/lastmod/…, [[Feeds]] title/link/…; hoisted,
    * code-review r15x). `\b` after the tag name so `<loc…` never
    * matches `<localized>`. */
  private[operators] def tagText(entry: Column, tag: String): Column = {
    val v = trim(regexp_extract(entry,
      s"(?is)<$tag\\b[^>]*>([^<]*)</$tag>", 1))
    when(v =!= "", v)
  }

  private val CdcW = 8
  private val CdcDiv = 64
  // 131^7 .. 131^0 mod 2^20
  private val CdcCoef =
    Seq(376843L, 170969L, 281459L, 898641L, 150939L, 17161L, 131L, 1L)

  /** CDC chunks of `textCol`: `(idCol, chunk_no, start, n_chars,
    * chunk_md5)` — `start` 0-based, chunk text pinned as md5 (the q172
    * convention: stats, never payloads).
    *
    * Optimization r18 (guide §1.2): boundary detection is the native
    * one-pass [[graft.functions.CdcBoundaries]] expression — the
    * previous per-position explode evaluated 8 positional
    * `ascii(substr(t, k, 1))` probes per character (each substr an
    * O(position) codepoint seek), then re-assembled positions with a
    * collect_list groupBy and joined them back; all of that is now one
    * O(len) projection per document, no explode, no shuffle. The
    * replaced composition is kept in [[cdcBoundariesReference]] and
    * asserted bit-identical in CdcSpec (ASCII/Latin-1/CJK/astral +
    * corpus). */
  def cdcChunks(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val base = docs.select(col(idCol), col(textCol).as("__t"))
    val bounds = base
      .select(col(idCol), col("__t"),
        concat(array(lit(0L)),
          graft.functions.CdcBoundaries(col("__t")),
          array(length(col("__t")).cast("long"))).as("__bs"))
    bounds
      .select(col(idCol), col("__t"),
        posexplode(expr(
          "transform(sequence(0, size(__bs) - 2), " +
            "k -> struct(__bs[k] AS s, __bs[k + 1] AS e))"))
          .as(Seq("chunk_no", "seg")))
      .filter(col("seg.s") < col("seg.e"))
      .select(col(idCol), col("chunk_no").cast("int").as("chunk_no"),
        col("seg.s").as("start"),
        (col("seg.e") - col("seg.s")).as("n_chars"),
        md5(col("__t").substr((col("seg.s") + 1).cast("int"),
          (col("seg.e") - col("seg.s")).cast("int"))).as("chunk_md5"))
  }

  /** The pre-r18 explode/collect boundary composition, kept as the
    * equivalence oracle for [[graft.functions.CdcBoundaries]] (the
    * shinglesReference pattern): `(idCol, __bps array<long>)` with NO
    * row for boundary-free docs. */
  private[operators] def cdcBoundariesReference(docs: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val base = docs.select(col(idCol), col(textCol).as("__t"))
    val pos = base
      .filter(length(col("__t")) >= CdcW)
      .select(col(idCol),
        explode(sequence(lit(CdcW), length(col("__t")))).as("i"),
        col("__t"))
    val winSum = CdcCoef.zipWithIndex.map { case (c, j) =>
      ascii(col("__t").substr(col("i") - lit(CdcW - 1 - j), lit(1))) *
        lit(c)
    }.reduce(_ + _)
    pos.filter(pmod(winSum, lit(CdcDiv)) === 0)
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("i").cast("long"))).as("__bps"))
  }

  /** The CDC cascade as DuckDB CTEs over a caller-supplied CTE `src`
    * providing `(doc_id, text)`; ends in CTE `chunks` with
    * `(doc_id, chunk_no, start, n_chars, chunk_md5)` — shared by q196
    * and the chunk-store dedup (q199). Claims pos/bp/bl/bounds/ch/
    * chunks. */
  private[operators] def cdcSqlFrom(src: String): String = s"""
      pos AS (
        SELECT doc_id, text, unnest(range(8, len(text) + 1)) AS i
        FROM $src WHERE len(text) >= 8),
      bp AS (
        SELECT doc_id, CAST(i AS BIGINT) AS i FROM pos
        WHERE (ascii(text[i-7:i-7]) * 376843 + ascii(text[i-6:i-6]) * 170969 +
               ascii(text[i-5:i-5]) * 281459 + ascii(text[i-4:i-4]) * 898641 +
               ascii(text[i-3:i-3]) * 150939 + ascii(text[i-2:i-2]) * 17161 +
               ascii(text[i-1:i-1]) * 131 + ascii(text[i:i])) % 64 = 0),
      bl AS (SELECT doc_id, list_sort(list(i)) AS bps FROM bp GROUP BY doc_id),
      bounds AS (
        SELECT d.doc_id, d.text,
               list_concat(list_concat([CAST(0 AS BIGINT)], COALESCE(b.bps, [])),
                           [CAST(len(d.text) AS BIGINT)]) AS bs
        FROM $src d LEFT JOIN bl b USING (doc_id)),
      ch AS (
        SELECT doc_id, text,
               CAST(generate_subscripts(bs, 1) - 1 AS INT) AS chunk_no,
               unnest(bs) AS s,
               bs[generate_subscripts(bs, 1) + 1] AS e
        FROM bounds),
      chunks AS (
        SELECT doc_id, chunk_no, s AS start, e - s AS n_chars,
               md5(substr(text, CAST(s + 1 AS INT), CAST(e - s AS INT))) AS chunk_md5
        FROM ch
        WHERE e IS NOT NULL AND s < e)"""

  private val q196 = GraftQuery(
    "q196_cdc_chunks",
    (s, dir) => cdcChunks(Tables.documents(s, dir), "doc_id", "text")
      .orderBy(col("doc_id"), col("chunk_no")),
    Some(s"""
      WITH src AS (SELECT doc_id, text FROM documents),
      ${cdcSqlFrom("src")}
      SELECT doc_id, chunk_no, start, n_chars, chunk_md5
      FROM chunks
      ORDER BY doc_id, chunk_no"""))

  // ---------------------------------------------------------------- q199
  // Chunk-STORE dedup — the CDC payoff measured: a storage/dedup model
  // where each distinct chunk is stored once by its first owner (min
  // doc id over the corpus), and every document reports how much of it
  // is NOVEL. The fixture plants a prefix-edited copy of every
  // document (id + 10^9, "EDIT: " prepended): under fixed windows
  // every copy chunk would shift and look novel; under CDC the copies
  // own almost nothing — edit locality made measurable. Shape: the
  // q196 explode + one distinct-chunk agg + one per-doc agg (wordcount
  // class, chunk-keyed).
  private val q199 = GraftQuery(
    "q199_chunk_store_dedup",
    (s, dir) => {
      val base = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val corpus = base.unionAll(base.select(
        (col("doc_id") + lit(1000000000L)).as("doc_id"),
        concat(lit("EDIT: "), col("text")).as("text")))
      // Optimization r18 note: localCheckpoint-ing the chunk table
      // (read by both the store side and the totals) was tried and
      // REVERTED — materializing the chunk rows cost more than the
      // second run of the fused explode at sf0.1 (3.3 → 5.1–5.2 s
      // measured); Spark's runtime exchange reuse already shares the
      // heavy agg outputs between the two consumers.
      val ch = cdcChunks(corpus, "doc_id", "text")
      // store side: one row per distinct chunk, owned by min doc id;
      // per-doc distinct sizes first (a doc repeating a chunk stores
      // it once)
      val perDoc = ch.groupBy(col("doc_id"), col("chunk_md5"))
        .agg(min(col("n_chars")).as("clen"))
      val owner = perDoc.groupBy(col("chunk_md5"))
        .agg(min(col("doc_id")).as("owner"), min(col("clen")).as("clen"))
      val novel = owner.groupBy(col("owner").as("doc_id"))
        .agg(count(lit(1)).as("n_novel"),
          sum(col("clen")).as("novel_chars"))
      val totals = ch.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(col("n_chars")).as("total_chars"))
      totals.join(novel, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_chunks"), col("total_chars"),
          coalesce(col("n_novel"), lit(0L)).as("n_novel"),
          coalesce(col("novel_chars"), lit(0L)).as("novel_chars"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH src AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000000, 'EDIT: ' || text FROM documents),
      ${cdcSqlFrom("src")},
      perdoc AS (SELECT doc_id, chunk_md5, MIN(n_chars) AS clen
                 FROM chunks GROUP BY doc_id, chunk_md5),
      owner AS (SELECT chunk_md5, MIN(doc_id) AS owner, MIN(clen) AS clen
                FROM perdoc GROUP BY chunk_md5),
      novel AS (SELECT owner AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_novel,
                       CAST(SUM(clen) AS BIGINT) AS novel_chars
                FROM owner GROUP BY owner),
      totals AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
                        CAST(SUM(n_chars) AS BIGINT) AS total_chars
                 FROM chunks GROUP BY doc_id)
      SELECT t.doc_id, t.n_chunks, t.total_chars,
             COALESCE(n.n_novel, 0) AS n_novel,
             COALESCE(n.novel_chars, 0) AS novel_chars
      FROM totals t LEFT JOIN novel n USING (doc_id)
      ORDER BY t.doc_id"""))

  val all: Seq[GraftQuery] = Seq(q171, q172, q173, q181, q183, q196, q199)
}
