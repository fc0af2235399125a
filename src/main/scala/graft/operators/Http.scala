package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.GraftQuery
import graft.sources.Tables

/** HTTP/1.x response-message parsing — the layer INSIDE a WARC
  * `response` record's body (RFC 9112): a real crawl pipeline must
  * split status line / headers / payload, gate on status and media
  * type, and read the charset before any text stage trusts the bytes.
  * [[Warc.warcParse]] stops at WARC framing; this parses what it
  * emits, completing the ingest stack WARC → HTTP → HTML → text.
  *
  * Same discipline as [[Warc]] (q177): every field a codegen'd
  * `regexp_extract`/`substring_index`/`instr` column — zero UDFs, ONE
  * stateless scan projection, no shuffle; payload pinned as
  * (length, md5), never materialized in the parse result.
  *
  * Refusal semantics (never-throws, crawl-grade): a message whose
  * status line does not parse (`HTTP/<d>.<d> <3 digits>`) or that has
  * no blank-line separator is `valid = false`, with every field that
  * DID parse still emitted. `Content-Length` follows the [[Warc]]
  * rules (≤ 18 digit run, else NULL; payload truncates to what is
  * present) — but an ABSENT/unparseable length takes the WHOLE rest
  * as payload (RFC 9112 §6.3 close-delimited body), unlike WARC where
  * the length is mandatory. `content_type` is the media type
  * lowercased with parameters dropped; `charset` comes from the
  * Content-Type parameter (optionally quoted), lowercased.
  *
  * `Transfer-Encoding: chunked` (RFC 9112 §7.1 — routine in real crawl
  * response records; VERDICT r15 next #3): when the final
  * transfer-coding is `chunked`, the payload is DE-CHUNKED by
  * [[dechunk]] (a native single-pass codegen expression — size-line
  * hex parse, length jump over chunk data, repeat; chunk extensions
  * skipped, the trailer section after the 0-chunk ignored) and
  * `Content-Length` is
  * ignored per §6.3 rule 3. A malformed chunk stream (bad size line,
  * truncated chunk data, missing data CRLF) refuses the WHOLE payload
  * to NULL — a half-dechunked body is corruption, not data. Chunk
  * sizes count in the column's unit (bytes under the [[Warc]] latin-1
  * transport; chars for in-plan fixtures, where builder and parser
  * agree by construction).
  */
object Http {

  private val CRLF = "\r\n"

  private val VersionRe = "^HTTP/([0-9]\\.[0-9]) [0-9]{3}"
  private val StatusRe = "^HTTP/[0-9]\\.[0-9] ([0-9]{3})"
  private val ReasonRe = "^HTTP/[0-9]\\.[0-9] [0-9]{3}[ \\t]*([^\\r\\n]*)"
  private val CharsetRe = "(?i)charset=\"?([A-Za-z0-9._-]+)"

  private def nullIfEmpty(c: Column): Column =
    when(c === "", lit(null).cast("string")).otherwise(c)

  /** De-chunk a `Transfer-Encoding: chunked` body (RFC 9112 §7.1):
    * `*( chunk-size [chunk-ext] CRLF chunk-data CRLF ) 0 [ext] CRLF
    * trailer CRLF`. Delegates to [[graft.functions.DechunkBody]] — a
    * native codegen'd expression doing ONE imperative O(body) walk
    * (VERDICT r16 next #2: the earlier higher-order `aggregate` fold
    * re-sliced the remaining body per chunk, O(chunks × body), and
    * materialized a CRLF-count-sized step array per row). Identical
    * grammar, size-line pattern, and refusal semantics (non-hex size
    * line, missing CRLF, truncated chunk data, missing data
    * terminator, stream ending before the 0-chunk → NULL, never a
    * half body), plus the [[graft.functions.DechunkBody.MaxOut]]
    * output bound (chunk-bomb refusal, the GunzipBytes stance —
    * ADVICE r16). */
  private[operators] def dechunk(body: Column): Column =
    graft.functions.DechunkBody(body)

  /** Shared parse columns: (version, status, reason, sep, hdr,
    * content_length, payload). */
  private def parsed(msg: Column): (Column, Column, Column, Column,
      Column, Column, Column) = {
    val version = nullIfEmpty(regexp_extract(msg, VersionRe, 1))
    val status = when(regexp_extract(msg, StatusRe, 1) =!= "",
      regexp_extract(msg, StatusRe, 1).cast("int"))
    val reason = nullIfEmpty(trim(regexp_extract(msg, ReasonRe, 1)))
    val sep = instr(msg, CRLF + CRLF)
    val hdr = substring_index(msg, CRLF + CRLF, 1)
    val clRaw = Warc.field(hdr, "Content-Length")
    val contentLength = when(clRaw.rlike("^[0-9]{1,18}$"), clRaw.cast("long"))
    // chunked iff the FINAL transfer-coding is chunked (§6.3 rule 3;
    // e.g. "gzip, chunked" — intermediate codings stay undecoded, a
    // documented non-goal for archived records)
    val te = Warc.field(hdr, "Transfer-Encoding")
    val isChunked = te.isNotNull &&
      lower(trim(te)).rlike("(^|,\\s*)chunked$")
    val payloadRaw = when(sep >= 1, msg.substr(sep + lit(4), length(msg)))
    val payload = when(isChunked, dechunk(payloadRaw))
      .when(contentLength.isNotNull,
        payloadRaw.substr(lit(1),
          least(contentLength, length(payloadRaw).cast("long")).cast("int")))
      .otherwise(payloadRaw) // close-delimited: the rest IS the body
    (version, status, reason, sep, hdr, contentLength, payload)
  }

  /** Media type of a Content-Type value: before `;`, trimmed,
    * lowercased. NULL propagates. */
  private def mediaType(ctRaw: Column): Column =
    lower(trim(substring_index(ctRaw, ";", 1)))

  /** Parse one HTTP response message per row of `msgCol`; emits
    * `(idCol, http_version, status, reason, content_type, charset,
    * location, last_modified, etag, content_length, n_headers,
    * payload_len, payload_md5, valid)`. */
  def httpParse(msgs: DataFrame, idCol: String, msgCol: String): DataFrame = {
    val msg = col(msgCol)
    val (version, status, reason, sep, hdr, contentLength, payload) =
      parsed(msg)
    val ctRaw = Warc.field(hdr, "Content-Type")
    msgs.select(col(idCol),
      version.as("http_version"),
      status.as("status"),
      reason.as("reason"),
      mediaType(ctRaw).as("content_type"),
      nullIfEmpty(lower(regexp_extract(ctRaw, CharsetRe, 1))).as("charset"),
      Warc.field(hdr, "Location").as("location"),
      // conditional-request metadata (RFC 9110 §8.8 validators —
      // VERDICT r16 next #5): raw field values; the recrawl schedule
      // (q211b) emits them so the fetch layer can send
      // If-Modified-Since / If-None-Match and take 304s
      Warc.field(hdr, "Last-Modified").as("last_modified"),
      Warc.field(hdr, "ETag").as("etag"),
      contentLength.as("content_length"),
      when(sep >= 1, (size(split(hdr, CRLF)) - 1).cast("long"))
        .as("n_headers"),
      length(payload).cast("long").as("payload_len"),
      md5(payload).as("payload_md5"),
      (version.isNotNull && status.isNotNull && sep >= 1).as("valid"))
  }

  /** The chain-ingest form (the [[Warc.warcBodies]] analog): VALID
    * messages passing the crawl gate — `status = 200` and media type
    * in `keepTypes` — with the payload TEXT itself, as
    * `(idCol, keep…, content_type, charset, content_encoding,
    * payload)`. Same stateless projection + filter; no shuffle.
    *
    * `Content-Encoding` (RFC 9110 §8.4 — the representation coding,
    * applied AFTER de-chunking per the layering): `gzip`/`x-gzip`
    * payloads are DECOMPRESSED in place via [[graft.functions.
    * GunzipBytes]] through the latin-1 byte transport (corrupt streams
    * refuse to NULL, the [[dechunk]] convention); `deflate` via
    * [[graft.functions.InflateBytes]] — zlib per the RFC, with the
    * browser raw-deflate fallback (VERDICT r16 next #4); absent/
    * `identity` pass through; any OTHER coding (br, zstd, …) refuses
    * the payload to NULL with `content_encoding` kept for triage — a
    * wrongly-decoded page is worse than a dropped one. */
  def httpPayloads(msgs: DataFrame, idCol: String, msgCol: String,
      keep: Seq[String] = Nil,
      keepTypes: Seq[String] = Seq("text/html")): DataFrame = {
    val msg = col(msgCol)
    val (version, status, _, sep, hdr, _, payload) = parsed(msg)
    val ctRaw = Warc.field(hdr, "Content-Type")
    val ce = nullIfEmpty(lower(trim(Warc.field(hdr, "Content-Encoding"))))
    val decoded = when(ce.isNull || ce === "identity", payload)
      .when(ce.isin("gzip", "x-gzip"),
        decode(graft.functions.GunzipBytes(
          encode(payload, "ISO-8859-1")), "ISO-8859-1"))
      .when(ce === "deflate",
        decode(graft.functions.InflateBytes(
          encode(payload, "ISO-8859-1")), "ISO-8859-1"))
      .otherwise(lit(null).cast("string"))
    val kept = keep.map(col)
    msgs.select((col(idCol) +: kept) ++ Seq(
        mediaType(ctRaw).as("content_type"),
        nullIfEmpty(lower(regexp_extract(ctRaw, CharsetRe, 1)))
          .as("charset"),
        ce.as("content_encoding"),
        decoded.as("payload"),
        (version.isNotNull && sep >= 1 && status === 200 &&
          mediaType(ctRaw).isin(keepTypes: _*)).as("__keep")): _*)
      .filter(col("__keep"))
      .select((col(idCol) +: kept) ++ Seq(col("content_type"),
        col("charset"), col("content_encoding"), col("payload")): _*)
  }

  // ---------------------------------------------------------------- q188
  // In-plan-synthesized HTTP corpus (the q177 construction⊗parse
  // convention — the oracle rebuilds the same messages and REPLAYS the
  // parse in SQL, so a wrong build or a wrong parse both break the
  // hash): status rotation 200/404/301 (the 301 carrying a Location
  // and a QUOTED charset), a lowercase `content-type` variant
  // (case-insensitive field names), a missing Content-Length (%7 —
  // close-delimited body law), and two bail-outs — a 15-char
  // truncation (status line parses, no separator) and a junk prefix
  // (status anchor fails).
  private def httpMsg(): Column = {
    val m3 = pmod(col("doc_id"), lit(3))
    val statusLine = when(m3 === 0, lit("HTTP/1.1 200 OK"))
      .when(m3 === 1, lit("HTTP/1.1 404 Not Found"))
      .otherwise(lit("HTTP/1.0 301 Moved Permanently"))
    val ctName = when(pmod(col("doc_id"), lit(5)) === 0,
      lit("content-type")).otherwise(lit("Content-Type"))
    val ct = when(m3 === 0, lit("text/html; charset=UTF-8"))
      .when(m3 === 1, lit("text/plain"))
      .otherwise(lit("text/html; charset=\"iso-8859-1\""))
    val loc = when(m3 === 2,
      concat(lit("Location: http://"), col("source"),
        lit(".example.com/new/"), col("doc_id").cast("string"), lit(CRLF)))
      .otherwise(lit(""))
    val cl = when(pmod(col("doc_id"), lit(7)) === 0, lit(""))
      .otherwise(concat(lit("Content-Length: "),
        length(col("text")).cast("string"), lit(CRLF)))
    // conditional-request metadata rotation (round 17): a strong ETag
    // on %2=0, a WEAK one on %9=0∧%2≠0 (raw value kept — weak/strong
    // policy is the consumer's), Last-Modified on %4=0, all lowercase
    // field names on the %5 rows (case-insensitivity rides the same
    // rotation as content-type)
    val lm = when(pmod(col("doc_id"), lit(4)) === 0,
      concat(when(pmod(col("doc_id"), lit(5)) === 0, lit("last-modified"))
          .otherwise(lit("Last-Modified")),
        lit(": Mon, 01 Sep 2025 00:00:00 GMT" + CRLF)))
      .otherwise(lit(""))
    val et = when(pmod(col("doc_id"), lit(2)) === 0,
        concat(lit("ETag: \"e-"), col("doc_id").cast("string"),
          lit("\"" + CRLF)))
      .when(pmod(col("doc_id"), lit(9)) === 0,
        concat(lit("ETag: W/\"w-"), col("doc_id").cast("string"),
          lit("\"" + CRLF)))
      .otherwise(lit(""))
    val full = concat(statusLine, lit(CRLF),
      lit("Date: Sat, 01 Aug 2026 00:00:00 GMT" + CRLF),
      ctName, lit(": "), ct, lit(CRLF),
      loc, lm, et, cl, lit(CRLF), col("text"))
    when(pmod(col("doc_id"), lit(13)) === 0, substring(full, 1, 15))
      .when(pmod(col("doc_id"), lit(11)) === 0,
        concat(lit("junk" + CRLF), full))
      .otherwise(full)
  }

  private val q188 = GraftQuery(
    "q188_http_parse",
    (s, dir) => httpParse(
        Tables.documents(s, dir).withColumn("msg", httpMsg()),
        "doc_id", "msg")
      .orderBy(col("doc_id")),
    Some("""
      WITH raw AS (
        SELECT doc_id,
               CASE WHEN doc_id % 13 = 0 THEN substr(whole, 1, 15)
                    WHEN doc_id % 11 = 0 THEN 'junk' || chr(13) || chr(10) || whole
                    ELSE whole END AS msg
        FROM (SELECT doc_id,
                     (CASE CAST(doc_id % 3 AS INT)
                         WHEN 0 THEN 'HTTP/1.1 200 OK'
                         WHEN 1 THEN 'HTTP/1.1 404 Not Found'
                         ELSE 'HTTP/1.0 301 Moved Permanently' END) || chr(13) || chr(10) ||
                     'Date: Sat, 01 Aug 2026 00:00:00 GMT' || chr(13) || chr(10) ||
                     (CASE WHEN doc_id % 5 = 0 THEN 'content-type' ELSE 'Content-Type' END) || ': ' ||
                     (CASE CAST(doc_id % 3 AS INT)
                         WHEN 0 THEN 'text/html; charset=UTF-8'
                         WHEN 1 THEN 'text/plain'
                         ELSE 'text/html; charset="iso-8859-1"' END) || chr(13) || chr(10) ||
                     (CASE WHEN doc_id % 3 = 2 THEN 'Location: http://' || source || '.example.com/new/' || CAST(doc_id AS VARCHAR) || chr(13) || chr(10) ELSE '' END) ||
                     (CASE WHEN doc_id % 4 = 0 THEN (CASE WHEN doc_id % 5 = 0 THEN 'last-modified' ELSE 'Last-Modified' END) || ': Mon, 01 Sep 2025 00:00:00 GMT' || chr(13) || chr(10) ELSE '' END) ||
                     (CASE WHEN doc_id % 2 = 0 THEN 'ETag: "e-' || CAST(doc_id AS VARCHAR) || '"' || chr(13) || chr(10)
                           WHEN doc_id % 9 = 0 THEN 'ETag: W/"w-' || CAST(doc_id AS VARCHAR) || '"' || chr(13) || chr(10)
                           ELSE '' END) ||
                     (CASE WHEN doc_id % 7 = 0 THEN '' ELSE 'Content-Length: ' || CAST(len(text) AS VARCHAR) || chr(13) || chr(10) END) ||
                     chr(13) || chr(10) || text AS whole
              FROM documents)),
      p AS (
        SELECT doc_id, msg,
               NULLIF(regexp_extract(msg, '^HTTP/([0-9]\.[0-9]) [0-9]{3}', 1), '') AS http_version,
               NULLIF(regexp_extract(msg, '^HTTP/[0-9]\.[0-9] ([0-9]{3})', 1), '') AS status_raw,
               NULLIF(trim(regexp_extract(msg, '^HTTP/[0-9]\.[0-9] [0-9]{3}[ \t]*([^\r\n]*)', 1)), '') AS reason,
               strpos(msg, chr(13)||chr(10)||chr(13)||chr(10)) AS sep,
               split_part(msg, chr(13)||chr(10)||chr(13)||chr(10), 1) AS hdr
        FROM raw),
      f AS (
        SELECT doc_id, msg, http_version, status_raw, reason, sep, hdr,
               NULLIF(regexp_extract(hdr, '(?mi)^Content-Type:[ \t]*([^\r\n]*)', 1), '') AS ct_raw,
               NULLIF(regexp_extract(hdr, '(?mi)^Location:[ \t]*([^\r\n]*)', 1), '') AS location,
               NULLIF(regexp_extract(hdr, '(?mi)^Last-Modified:[ \t]*([^\r\n]*)', 1), '') AS last_modified,
               NULLIF(regexp_extract(hdr, '(?mi)^ETag:[ \t]*([^\r\n]*)', 1), '') AS etag,
               NULLIF(regexp_extract(hdr, '(?mi)^Content-Length:[ \t]*([^\r\n]*)', 1), '') AS cl_raw
        FROM p),
      g AS (
        SELECT doc_id, http_version, status_raw, reason, sep, hdr,
               ct_raw, location, last_modified, etag,
               CASE WHEN regexp_full_match(cl_raw, '[0-9]{1,18}')
                    THEN TRY_CAST(cl_raw AS BIGINT) END AS content_length,
               CASE WHEN sep >= 1 THEN substr(msg, sep + 4) END AS payload_raw
        FROM f),
      h AS (
        SELECT doc_id, http_version, status_raw, reason, sep, hdr,
               ct_raw, location, last_modified, etag, content_length,
               CASE WHEN content_length IS NOT NULL
                    THEN substr(payload_raw, 1, CAST(least(content_length, len(payload_raw)) AS INT))
                    ELSE payload_raw END AS payload
        FROM g)
      SELECT doc_id, http_version,
             CASE WHEN status_raw IS NOT NULL THEN CAST(status_raw AS INT) END AS status,
             reason,
             -- DuckDB split_part(NULL, …) returns '' (not NULL) — guard,
             -- or every absent Content-Type drifts from Spark's NULL
             CASE WHEN ct_raw IS NOT NULL
                  THEN lower(trim(split_part(ct_raw, ';', 1))) END AS content_type,
             NULLIF(lower(regexp_extract(ct_raw, '(?i)charset="?([A-Za-z0-9._-]+)', 1)), '') AS charset,
             location, last_modified, etag, content_length,
             CASE WHEN sep >= 1
                  THEN CAST(len(string_split(hdr, chr(13)||chr(10))) - 1 AS BIGINT) END AS n_headers,
             CAST(len(payload) AS BIGINT) AS payload_len,
             md5(payload) AS payload_md5,
             (http_version IS NOT NULL AND status_raw IS NOT NULL AND sep >= 1) AS valid
      FROM h
      ORDER BY doc_id"""))

  // --------------------------------------------------------------- q188b
  // The completed ingest stack as ONE operator: WARC framing →
  // [[Warc.warcBodies]] → HTTP parse + gate (200, text/html) →
  // [[Extraction.htmlText]] — the layer q93c's fixture skipped (its
  // WARC bodies were bare HTML; real crawl bodies are HTTP messages).
  // Fixture: [[crawlHttpRecord]] — WELL-FORMED WARC records (framing
  // bail-outs are q177's subject) whose bodies are HTTP responses
  // wrapping the q93c HTML, with a 404 rotation (%4=1), a text/plain
  // rotation (%5=2) that the gate must drop, and a CHUNKED transfer
  // rotation (%3=0) the de-chunk stage must make transparent. The
  // oracle reconstructs the SURVIVOR set arithmetically and replays
  // the html→text cascade on the same reconstructed HTML (the q93c
  // discipline) — it never sees the chunk framing, so any de-chunk
  // drift breaks the hash.

  /** ONE shared HTTP-in-WARC fixture builder for q188b and the q93d
    * chain (ADVICE r16: the two near-verbatim copies could silently
    * drift): adds a `rec` column — WARC `response` wrapping an HTTP
    * message wrapping [[Warc.crawlHtml]]; rotations — %4=1 404, %5=2
    * text/plain, %3=0 `Transfer-Encoding: chunked` (two chunks split
    * at char 7, a chunk extension on the first, lowercase hex sizes).
    * Callers pass the target-URI column (q93d rotates `/ads/` paths;
    * q188b keeps `/doc/`). In-plan char domain: chunk sizes and
    * Content-Length count chars, the unit the in-plan parser slices
    * by. The first chunk (7 chars) lies inside [[Warc.crawlHtmlHead]], so
    * the html body appears once, not once per chunk. The record is a lazy
    * local checkpoint: the WARC and HTTP gates' filters would otherwise be
    * pushed below it and re-inline the whole record into every predicate,
    * past Janino's 64 KB, and Spark retries a failed compile on every call. */
  private[operators] def withCrawlHttpRecord(df: DataFrame,
      uri: Column): DataFrame = {
    val statusLine = when(pmod(col("doc_id"), lit(4)) === 1,
      lit("HTTP/1.1 404 Not Found")).otherwise(lit("HTTP/1.1 200 OK"))
    val ct = when(pmod(col("doc_id"), lit(5)) === 2, lit("text/plain"))
      .otherwise(lit("text/html; charset=utf-8"))
    val chunked = pmod(col("doc_id"), lit(3)) === 0
    val htmlLen = length(Warc.crawlHtml())
    val (c1, head2) = Warc.crawlHtmlHead.splitAt(7)
    val msg = concat(statusLine, lit(CRLF),
      lit("Content-Type: "), ct, lit(CRLF),
      when(chunked, concat(
        lit(s"Transfer-Encoding: chunked$CRLF$CRLF${c1.length.toHexString};x=1$CRLF$c1$CRLF"),
        lower(conv((htmlLen - c1.length).cast("string"), 10, 16)), lit(CRLF + head2)))
        .otherwise(concat(lit("Content-Length: "), htmlLen.cast("string"),
          lit(CRLF + CRLF + Warc.crawlHtmlHead))),
      col("text"), lit(Warc.crawlHtmlTail),
      when(chunked, lit(CRLF + "0" + CRLF + CRLF)).otherwise(lit("")))
    df.withColumn("__msg", msg)
      .withColumn("rec", concat(lit("WARC/1.0" + CRLF),
        lit("WARC-Type: response" + CRLF),
        lit("WARC-Target-URI: "), uri, lit(CRLF),
        lit("Content-Length: "), length(col("__msg")).cast("string"),
        lit(CRLF + CRLF), col("__msg"), lit(CRLF + CRLF)))
      .drop("__msg")
      .localCheckpoint(eager = false)
  }

  private val q188b = GraftQuery(
    "q188b_http_chain",
    (s, dir) => {
      val records = withCrawlHttpRecord(Tables.documents(s, dir),
        concat(lit("http://"), col("source"),
          lit(".example.com/doc/"), col("doc_id").cast("string")))
      val bodies = Warc.warcBodies(records, "doc_id", "rec")
      val pages = httpPayloads(bodies, "doc_id", "body",
        keep = Seq("target_uri"))
      pages.select(col("doc_id"), col("target_uri"), col("charset"),
          Extraction.htmlText(col("payload")).as("__text"))
        .select(col("doc_id"), col("target_uri"), col("charset"),
          length(col("__text")).cast("long").as("n_text"),
          md5(col("__text")).as("text_md5"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH surv AS (
        SELECT doc_id, source, ${Warc.crawlHtmlSql} AS html
        FROM documents
        WHERE doc_id % 4 <> 1 AND doc_id % 5 <> 2),
      ${Extraction.htmlTextSql("surv", "html", "xt", Seq("doc_id", "source"))}
      SELECT doc_id,
             'http://' || source || '.example.com/doc/' || CAST(doc_id AS VARCHAR) AS target_uri,
             'utf-8' AS charset,
             CAST(len(__text) AS BIGINT) AS n_text,
             md5(__text) AS text_md5
      FROM xt
      ORDER BY doc_id"""))

  // ------------------------------------------------------- transcode
  /** Charset TRANSCODE stage (VERDICT r15 next #4 — q164's encoding
    * audit detects, this converts): `payload` is a BYTE-TRANSPORT
    * string (each char one original byte — the [[Warc.warcParseBytes]]
    * latin-1 convention); the result is real text per the declared
    * `charset`. The three charsets that matter on the real web:
    *   - utf-8 (also the absent-charset crawl default): re-encode the
    *     transport chars to their bytes, validate, reinterpret —
    *     invalid UTF-8 refuses to NULL (never mojibake);
    *   - iso-8859-1: the transport decode IS the text (latin-1 chars
    *     are their own code points) — identity;
    *   - windows-1252: latin-1 plus the 0x80–0x9F graphical block
    *     (table in [[graft.functions.TranscodeTransport]]);
    * any other declared charset refuses to NULL (unknown-charset
    * refusal semantics — a wrongly-decoded corpus is worse than a
    * dropped page). All codegen'd; zero UDFs; no shuffle. */
  def transcode(payload: Column, charset: Column): Column =
    // ONE native single-pass expression since round 17 (the replaced
    // Column composition — encode → is_valid_utf8 → cast — cost
    // several passes and measured 42.9 MB/s on the ingest hot path).
    // NOTE one deliberate behavior change vs round 16: the utf-8 arm
    // now refuses (NULL) input with code points above U+00FF — the
    // ADVICE r16 mojibake guard — where the old encode silently
    // '?'-substituted them. NULL charset defaults to utf-8 HERE so
    // the expression stays null-intolerant.
    graft.functions.TranscodeTransport(payload, coalesce(charset, lit("utf-8")))

  // ---------------------------------------------------------------- q205
  // The transcode stage as a declared operator (construction⊗parse:
  // the oracle recomputes the expected DECODED text per rotation with
  // DuckDB code-point arithmetic). The fixture builds byte-transport
  // payloads in-plan: utf-8 rows carry the corpus text's real UTF-8
  // bytes viewed as latin-1 chars (the decode∘encode round through the
  // byte domain), 8859-1 rows carry accented latin-1 bytes, cp1252
  // rows carry 0x80-block bytes (€ “ ™ …), and %7=0 rows declare
  // shift_jis — the unknown-charset refusal.
  private def transportFixture(): (Column, Column) = {
    val m3 = pmod(col("doc_id"), lit(3))
    val unknown = pmod(col("doc_id"), lit(7)) === 0
    val stem = concat(lit("doc "), col("doc_id").cast("string"), lit(" "))
    val cs = when(unknown, lit("shift_jis"))
      .when(m3 === 0, lit("utf-8"))
      .when(m3 === 1, lit("iso-8859-1"))
      .otherwise(lit("WINDOWS-1252")) // case-folds in the stage
    val transport = when(m3 === 0,
        decode(encode(concat(col("text"), lit(" café")), "UTF-8"),
          "ISO-8859-1"))
      .when(m3 === 1, concat(stem, lit("naïve élève")))
      .otherwise(concat(stem, lit("\u0080\u0093\u0099\u0085")))
    (cs, transport)
  }

  // ONE oracle for q205 and q209: the expected DECODED text per
  // rotation, recomputed with DuckDB code-point arithmetic — the
  // byte-stack query must land on exactly what the in-plan transcode
  // lands on.
  private val transcodeOracleSql = """
      WITH x AS (
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0 THEN 'shift_jis'
                    WHEN doc_id % 3 = 0 THEN 'utf-8'
                    WHEN doc_id % 3 = 1 THEN 'iso-8859-1'
                    ELSE 'windows-1252' END AS charset,
               CASE WHEN doc_id % 7 = 0 THEN NULL
                    WHEN doc_id % 3 = 0 THEN text || ' caf' || chr(233)
                    WHEN doc_id % 3 = 1 THEN 'doc ' || CAST(doc_id AS VARCHAR) || ' na' || chr(239) || 've ' || chr(233) || 'l' || chr(232) || 've'
                    ELSE 'doc ' || CAST(doc_id AS VARCHAR) || ' ' || chr(8364) || chr(8220) || chr(8482) || chr(8230) END AS expected
        FROM documents)
      SELECT doc_id, charset,
             CAST(len(expected) AS BIGINT) AS n_chars,
             md5(expected) AS text_md5,
             expected IS NOT NULL AS decoded
      FROM x
      ORDER BY doc_id"""

  private val q205 = GraftQuery(
    "q205_charset_transcode",
    (s, dir) => {
      val (cs, transport) = transportFixture()
      Tables.documents(s, dir)
        .select(col("doc_id"), cs.as("charset"), transport.as("payload"))
        .withColumn("__text", transcode(col("payload"), col("charset")))
        .select(col("doc_id"), lower(col("charset")).as("charset"),
          length(col("__text")).cast("long").as("n_chars"),
          md5(col("__text")).as("text_md5"),
          col("__text").isNotNull.as("decoded"))
        .orderBy(col("doc_id"))
    },
    Some(transcodeOracleSql))

  // ---------------------------------------------------------------- q209
  // The FULL byte-true ingest stack as one declared operator — real
  // mixed-charset BYTES on disk, which the string `.text()` writer
  // cannot produce (it UTF-8-encodes): per-doc HTTP responses whose
  // payload bytes follow the q205 rotations (utf-8 / 8859-1 / cp1252 /
  // undeclared-unknown) are framed as WARC response records with OCTET
  // Content-Lengths, encoded to their exact bytes (latin-1 encode of
  // the transport string), written through the BINARY gzip-member sink
  // ([[graft.sources.WarcSource.writeWarcRecordsBinary]]), re-framed
  // member-by-member, byte-sliced ([[Warc.warcBodiesBytes]]), HTTP-
  // parsed in the transport domain (the header grammar is ASCII),
  // charset-transcoded, and hash-matched against the SAME expected
  // text as q205 — any byte lost or transcoded wrongly anywhere in
  // sink → gzip → framing → WARC slice → HTTP slice → transcode breaks
  // the hash.
  private val q209 = GraftQuery(
    "q209_byte_ingest_stack",
    (s, dir) => {
      val (cs, transport) = transportFixture()
      val id = col("doc_id").cast("string")
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), cs.as("cs"),
          transport.as("payload"))
      val msg = concat(lit("HTTP/1.1 200 OK" + CRLF),
        lit("Content-Type: text/plain; charset="), col("cs"), lit(CRLF),
        lit("Content-Length: "), length(col("payload")).cast("string"),
        lit(CRLF + CRLF), col("payload"))
      val staged = docs.withColumn("__msg", msg)
      val rec = concat(lit("WARC/1.0" + CRLF),
        lit("WARC-Type: response" + CRLF),
        lit("WARC-Target-URI: http://"), col("source"),
        lit(".example.com/b/"), id, lit(CRLF),
        lit("Content-Length: "), length(col("__msg")).cast("string"),
        lit(CRLF + CRLF), col("__msg"), lit(CRLF + CRLF))
      graft.sources.GraftIO.roundTrip("warc_q209") { out =>
        graft.sources.WarcSource.writeWarcRecordsBinary(
          staged.select(encode(rec, "ISO-8859-1").as("rec_bin")),
          "rec_bin", out, gzipPerRecord = true)
        val bodies = Warc.warcBodiesBytes(
          graft.sources.WarcSource.readWarcRecordsBinary(s, out),
          "rec_no", "rec_bin")
        httpPayloads(bodies, "rec_no", "body", keep = Seq("target_uri"),
            keepTypes = Seq("text/plain"))
          .withColumn("doc_id",
            regexp_extract(col("target_uri"), "/b/([0-9]+)", 1).cast("long"))
          .withColumn("__text", transcode(col("payload"), col("charset")))
          .select(col("doc_id"), col("charset"),
            length(col("__text")).cast("long").as("n_chars"),
            md5(col("__text")).as("text_md5"),
            col("__text").isNotNull.as("decoded"))
          .orderBy(col("doc_id"))
      }
    },
    Some(transcodeOracleSql))

  // ---------------------------------------------------------------- q204
  // Chunked transfer de-chunking as its own declared operator (VERDICT
  // r15 next #3; the q177 construction⊗parse convention — the oracle
  // recomputes expected fields from the construction arithmetic, so a
  // builder bug and a de-chunk bug both break the hash). Rotations:
  //   %3=0  two chunks split at char 7, chunk extension on the first,
  //         lowercase hex sizes;
  //   %3=1  one chunk + a TRAILER section after the 0-chunk (must be
  //         ignored), uppercase hex size, and on %5=0 a lowercase
  //         `transfer-encoding` field name + a `gzip, chunked` coding
  //         list (final coding chunked → de-chunk applies; the gzip
  //         coding stays undecoded, the documented archived-record
  //         non-goal — fixture data is plain);
  //   %3=2  TRUNCATED: the size line declares 5 more chars than are
  //         present — the whole payload must refuse to NULL.
  private def chunkedMsg(): Column = {
    val text = col("text")
    val m3 = pmod(col("doc_id"), lit(3))
    val c1 = substring(text, 1, 7)
    val c2 = text.substr(lit(8), length(text))
    val body = when(m3 === 0, concat(
        lower(conv(length(c1).cast("string"), 10, 16)), lit(";ext=v" + CRLF),
        c1, lit(CRLF),
        lower(conv(length(c2).cast("string"), 10, 16)), lit(CRLF),
        c2, lit(CRLF), lit("0" + CRLF + CRLF)))
      .when(m3 === 1, concat(
        conv(length(text).cast("string"), 10, 16), lit(CRLF),
        text, lit(CRLF),
        lit("0" + CRLF + "X-Trailer: v" + CRLF + CRLF)))
      .otherwise(concat(
        conv((length(text) + 5).cast("string"), 10, 16), lit(CRLF), text))
    val teName = when(pmod(col("doc_id"), lit(5)) === 0,
      lit("transfer-encoding")).otherwise(lit("Transfer-Encoding"))
    val teVal = when(m3 === 1 && pmod(col("doc_id"), lit(5)) === 0,
      lit("gzip, chunked")).otherwise(lit("chunked"))
    concat(lit("HTTP/1.1 200 OK" + CRLF),
      lit("Content-Type: text/html" + CRLF),
      teName, lit(": "), teVal, lit(CRLF + CRLF), body)
  }

  private val q204 = GraftQuery(
    "q204_http_chunked",
    (s, dir) => httpParse(
        Tables.documents(s, dir).withColumn("msg", chunkedMsg()),
        "doc_id", "msg")
      .select(col("doc_id"), col("status"), col("content_type"),
        col("payload_len"), col("payload_md5"), col("valid"))
      .orderBy(col("doc_id")),
    Some("""
      SELECT doc_id,
             200 AS status,
             'text/html' AS content_type,
             CASE WHEN doc_id % 3 <> 2 THEN CAST(len(text) AS BIGINT) END AS payload_len,
             CASE WHEN doc_id % 3 <> 2 THEN md5(text) END AS payload_md5,
             TRUE AS valid
      FROM documents
      ORDER BY doc_id"""))

  // ------------------------------------------------- meta-charset sniff
  /** HTML5-prescan-style in-document charset declaration — the
    * fallback the real web REQUIRES when the Content-Type header
    * carries no charset (most servers don't): scan the first 1024
    * chars (the spec's prescan byte budget; meta charset is required
    * to appear there) for a `charset=` attribute — covers BOTH the
    * HTML5 `<meta charset=utf-8>` form and the legacy
    * `<meta http-equiv=Content-Type content="…; charset=…">` form,
    * since the legacy value contains the same `charset=` token.
    * Lowercased; NULL when absent. One codegen regexp — pair with
    * [[transcode]] via `coalesce(headerCharset, metaCharset(payload))`
    * (transcode's own NULL default is utf-8, completing the HTML5
    * fallback chain header > meta > default). */
  def metaCharset(payload: Column): Column =
    nullIfEmpty(lower(regexp_extract(substring(payload, 1, 1024),
      "(?i)<meta[^>]*\\bcharset\\s*=\\s*[\"']?([A-Za-z0-9._-]+)", 1)))

  // ---------------------------------------------------------------- q213
  // The header > meta > default charset chain as a declared operator:
  // every fixture message carries NO header charset; rotations — HTML5
  // meta utf-8 over real UTF-8 bytes (%3=0), legacy http-equiv
  // iso-8859-1 over latin-1 bytes (%3=1), NO declaration at all (%3=2
  // — the utf-8 default must carry it), and an unknown koi8-r meta on
  // %7=0 (refuses; the charset is kept for triage). The oracle states
  // the expected DECODED html string per rotation.
  private def metaMsg(): Column = {
    val m3 = pmod(col("doc_id"), lit(3))
    val unknown = pmod(col("doc_id"), lit(7)) === 0
    val stem = concat(lit("doc "), col("doc_id").cast("string"))
    val html = when(unknown, concat(
        lit("<html><head><meta charset=koi8-r></head><body>"), stem,
        lit("</body></html>")))
      .when(m3 === 0, decode(encode(concat(
        lit("<html><head><meta charset=UTF-8></head><body>"), col("text"),
        lit(" café</body></html>")), "UTF-8"), "ISO-8859-1"))
      .when(m3 === 1, concat(
        lit("<html><head><meta http-equiv=\"Content-Type\" " +
          "content=\"text/html; charset=ISO-8859-1\"></head><body>"),
        stem, lit(" naïve élève</body></html>")))
      .otherwise(decode(encode(concat(
        lit("<html><body>"), col("text"), lit("</body></html>")),
        "UTF-8"), "ISO-8859-1"))
    concat(lit("HTTP/1.1 200 OK" + CRLF),
      lit("Content-Type: text/html" + CRLF),
      lit("Content-Length: "), length(html).cast("string"),
      lit(CRLF + CRLF), html)
  }

  private val q213 = GraftQuery(
    "q213_meta_charset",
    (s, dir) => httpPayloads(
        Tables.documents(s, dir).withColumn("msg", metaMsg()),
        "doc_id", "msg")
      .withColumn("__cs",
        coalesce(col("charset"), metaCharset(col("payload"))))
      .withColumn("__text", transcode(col("payload"), col("__cs")))
      .select(col("doc_id"), col("__cs").as("eff_charset"),
        length(col("__text")).cast("long").as("n_chars"),
        md5(col("__text")).as("text_md5"),
        col("__text").isNotNull.as("decoded"))
      .orderBy(col("doc_id")),
    Some("""
      WITH x AS (
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0 THEN 'koi8-r'
                    WHEN doc_id % 3 = 0 THEN 'utf-8'
                    WHEN doc_id % 3 = 1 THEN 'iso-8859-1'
               END AS eff_charset,
               CASE WHEN doc_id % 7 = 0 THEN NULL
                    WHEN doc_id % 3 = 0 THEN '<html><head><meta charset=UTF-8></head><body>' || text || ' caf' || chr(233) || '</body></html>'
                    WHEN doc_id % 3 = 1 THEN '<html><head><meta http-equiv="Content-Type" content="text/html; charset=ISO-8859-1"></head><body>doc ' || CAST(doc_id AS VARCHAR) || ' na' || chr(239) || 've ' || chr(233) || 'l' || chr(232) || 've</body></html>'
                    ELSE '<html><body>' || text || '</body></html>'
               END AS expected
        FROM documents)
      SELECT doc_id, eff_charset,
             CAST(len(expected) AS BIGINT) AS n_chars,
             md5(expected) AS text_md5,
             expected IS NOT NULL AS decoded
      FROM x
      ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q212
  // Content-Encoding as a declared operator (construction⊗parse): the
  // corpus text's REAL UTF-8 bytes ride the latin-1 transport, gzipped
  // in-plan (GzipBytes) for %3=0 rows — with a %13 TRUNCATION cut mid-
  // stream that must refuse — 'identity' declared on %3=1∧%5=0, and an
  // undecodable 'br' on %3=2∧%5=0 (refuses with the coding kept for
  // triage). The oracle never sees compressed bytes: it states the
  // expected DECODED text per rotation, so a gzip∘gunzip drift, a
  // truncation leak, or a refusal miss each break a different row set
  // (the strict gunzip itself is additionally pinned against
  // java-built streams in HttpSpec — a matched-pair bug cannot pass
  // both).
  private def encodedMsg(): Column = {
    val m3 = pmod(col("doc_id"), lit(3))
    val m5 = pmod(col("doc_id"), lit(5))
    val m7 = pmod(col("doc_id"), lit(7))
    val utf8 = encode(col("text"), "UTF-8")
    // deflate arms (round 17): %3=1∧%5≠0∧%7=0 rows carry the RFC-form
    // ZLIB stream (with a %13 mid-stream truncation that must refuse);
    // %3=2∧%5≠0∧%7=0 rows carry RAW deflate — the browser-tolerance
    // path — built by slicing the zlib wrapper off in-plan (2-byte
    // header, 4-byte adler32)
    val zlib = decode(graft.functions.DeflateBytes(utf8), "ISO-8859-1")
    val transport = when(m3 === 0,
        decode(graft.functions.GzipBytes(utf8), "ISO-8859-1"))
      .when(m3 === 1 && m5 =!= 0 && m7 === 0, zlib)
      .when(m3 === 2 && m5 =!= 0 && m7 === 0,
        substring(zlib, lit(3), length(zlib) - 6))
      .otherwise(decode(utf8, "ISO-8859-1"))
    val body = when((m3 === 0 || (m3 === 1 && m5 =!= 0 && m7 === 0)) &&
        pmod(col("doc_id"), lit(13)) === 0,
      substring(transport, 1, 8)).otherwise(transport)
    val ce = when(m3 === 0, lit("Content-Encoding: gzip" + CRLF))
      .when(m3 === 1 && m5 === 0,
        lit("Content-Encoding: identity" + CRLF))
      .when(m3 === 2 && m5 === 0,
        lit("Content-Encoding: br" + CRLF))
      .when(m3.isin(1, 2) && m5 =!= 0 && m7 === 0,
        lit("Content-Encoding: deflate" + CRLF))
      .otherwise(lit(""))
    concat(lit("HTTP/1.1 200 OK" + CRLF),
      lit("Content-Type: text/html; charset=utf-8" + CRLF),
      ce,
      lit("Content-Length: "), length(body).cast("string"),
      lit(CRLF + CRLF), body)
  }

  private val q212 = GraftQuery(
    "q212_content_encoding",
    (s, dir) => httpPayloads(
        Tables.documents(s, dir).withColumn("msg", encodedMsg()),
        "doc_id", "msg")
      .withColumn("__text", transcode(col("payload"), col("charset")))
      .select(col("doc_id"), col("content_encoding"),
        length(col("__text")).cast("long").as("n_chars"),
        md5(col("__text")).as("text_md5"),
        col("__text").isNotNull.as("decoded"))
      .orderBy(col("doc_id")),
    Some("""
      WITH x AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0 THEN 'gzip'
                    WHEN doc_id % 3 = 1 AND doc_id % 5 = 0 THEN 'identity'
                    WHEN doc_id % 3 = 2 AND doc_id % 5 = 0 THEN 'br'
                    WHEN doc_id % 3 IN (1, 2) AND doc_id % 5 <> 0
                         AND doc_id % 7 = 0 THEN 'deflate' END AS content_encoding,
               CASE WHEN doc_id % 3 = 0 AND doc_id % 13 = 0 THEN NULL
                    WHEN doc_id % 3 = 2 AND doc_id % 5 = 0 THEN NULL
                    WHEN doc_id % 3 = 1 AND doc_id % 5 <> 0 AND doc_id % 7 = 0
                         AND doc_id % 13 = 0 THEN NULL
                    ELSE text END AS expected
        FROM documents)
      SELECT doc_id, content_encoding,
             CAST(len(expected) AS BIGINT) AS n_chars,
             md5(expected) AS text_md5,
             expected IS NOT NULL AS decoded
      FROM x
      ORDER BY doc_id"""))

  // ------------------------------------------------ Retry-After backoff
  /** `Retry-After` (RFC 9110 §10.2.3) resolved to an ABSOLUTE retry
    * time: the header value is either delta-seconds (a digit run —
    * bounded to 8 digits, the Content-Length discipline) or an
    * IMF-fixdate; resolved against the response's own fetch time —
    * backoff is a pure function of (response, clock), never the wall
    * clock. Junk values refuse to NULL (no backoff is better than a
    * corrupted one — the host still has the status-based politeness
    * floor). */
  def retryAfterUntil(msg: Column, fetchTs: Column): Column = {
    val hdr = substring_index(msg, CRLF + CRLF, 1)
    val v = Warc.field(hdr, "Retry-After")
    when(v.rlike("^[0-9]{1,8}$"),
      timestamp_seconds(unix_timestamp(fetchTs) + v.cast("long")))
      .otherwise( // try_: a junk date must refuse, not throw (ANSI mode).
        // The weekday token is STRIPPED, not parsed: Spark's post-3.0
        // datetime parser rejects 'EEE' in parse patterns, and RFC 9110
        // says the day name is redundant anyway (a wrong one is the
        // lenient-crawler shrug, not a refusal). The parsed wall time
        // is then pinned to GMT (code-review r17: 'GMT' in the pattern
        // is a quoted literal, so the bare parse lands in the SESSION
        // zone — wrong by the session offset anywhere but UTC; the
        // to_utc_timestamp re-interpretation is a no-op under the
        // engine's pinned-UTC sessions and correct elsewhere)
        to_utc_timestamp(
          try_to_timestamp(regexp_replace(v, "^[A-Za-z]{3}, ", ""),
            lit("dd MMM yyyy HH:mm:ss 'GMT'")),
          "GMT"))
  }

  /** Per-host backoff table from throttle responses: only `429` and
    * `503` establish backoff (the two statuses the RFC pairs with the
    * header); per host the MAX resolved retry time wins. Hosts-sized
    * output — one hash-agg. */
  def hostBackoff(fetches: DataFrame, hostCol: String, statusCol: String,
      msgCol: String, fetchTsCol: String): DataFrame =
    fetches
      .filter(col(statusCol).isin(429, 503))
      .select(col(hostCol).as("host"),
        retryAfterUntil(col(msgCol), col(fetchTsCol)).as("__until"))
      .filter(col("__until").isNotNull)
      .groupBy(col("host"))
      .agg(max(col("__until")).as("backoff_until"))

  /** Gate a frontier batch against the backoff table at an explicit
    * `asOf`: rows of hosts still under backoff are `deferred` (kept,
    * flagged — the frontier re-admits them next window; dropping them
    * silently would lose discovery). One hosts-sized broadcast join,
    * the corpus side untouched — the q206b politeness shape. */
  def frontierBackoffGate(batch: DataFrame, backoff: DataFrame,
      hostCol: String, asOf: String): DataFrame =
    batch
      .join(broadcast(backoff), batch(hostCol) === backoff("host"), "left")
      .drop(backoff("host"))
      .withColumn("deferred",
        coalesce(col("backoff_until") > lit(asOf).cast("timestamp"),
          lit(false)))

  // ---------------------------------------------------------------- q217
  // Retry-After through the gate (the throttle half of the politeness
  // story — crawl-delay q206 paces STEADY-state, this obeys explicit
  // server pushback): host ordinals rotate %4 — a 429 with
  // delta-seconds scaling with the ordinal (some expire before asOf,
  // some after: both classes populated), a 503 with an IMF-fixdate
  // after asOf, a 503 with a junk value (refuses → no backoff), and a
  // 200 whose header must be IGNORED (only 429/503 establish backoff).
  // The frontier batch is every doc url; the oracle replays parse,
  // rollup, and gate closed-form.
  private val q217 = GraftQuery(
    "q217_retry_after",
    (s, dir) => {
      val docs = Tables.documents(s, dir).withColumn("url", docUrlOf())
      val k = expr("CAST(substring(source, 4) AS INT)")
      val m = pmod(k, lit(4))
      val ra = when(m === 0,
          concat(lit("Retry-After: "),
            ((k + 1) * 900).cast("string"), lit(CRLF)))
        .when(m === 1, lit("Retry-After: Thu, 05 Feb 2026 03:30:00 GMT" + CRLF))
        .when(m === 2, lit("Retry-After: soonish" + CRLF))
        .otherwise(lit("Retry-After: 9999" + CRLF)) // on a 200: ignored
      val fetches = docs.select(col("source")).distinct()
        .select(concat(col("source"), lit(".example.com")).as("host"),
          when(m === 0, lit(429)).when(m.isin(1, 2), lit(503))
            .otherwise(lit(200)).as("status"),
          concat(
            when(m === 0, lit("HTTP/1.1 429 Too Many Requests" + CRLF))
              .when(m.isin(1, 2), lit("HTTP/1.1 503 Service Unavailable" + CRLF))
              .otherwise(lit("HTTP/1.1 200 OK" + CRLF)),
            ra, lit("Content-Length: 0" + CRLF + CRLF)).as("msg"),
          lit("2026-02-05 00:00:00").cast("timestamp").as("fetch_ts"))
      val batch = docs.select(col("doc_id"), col("url"),
        concat(col("source"), lit(".example.com")).as("host"))
      frontierBackoffGate(batch,
          hostBackoff(fetches, "host", "status", "msg", "fetch_ts"),
          "host", asOf = "2026-02-05 01:00:00")
        .select(col("doc_id"), col("host"), col("backoff_until"),
          col("deferred"))
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH hosts AS (SELECT DISTINCT source,
                            CAST(substring(source, 4) AS INT) AS k,
                            source || '.example.com' AS host FROM documents),
      bo AS (SELECT host,
               CASE WHEN k % 4 = 0
                    THEN TIMESTAMP '2026-02-05 00:00:00' + to_seconds((k + 1) * 900)
                    WHEN k % 4 = 1
                    THEN strptime('Thu, 05 Feb 2026 03:30:00 GMT', '%a, %d %b %Y %H:%M:%S GMT')
               END AS backoff_until
             FROM hosts WHERE k % 4 IN (0, 1)),
      b AS (SELECT d.doc_id, d.source || '.example.com' AS host
            FROM documents d)
      SELECT b.doc_id, b.host, bo.backoff_until,
             COALESCE(bo.backoff_until > TIMESTAMP '2026-02-05 01:00:00', FALSE) AS deferred
      FROM b LEFT JOIN bo ON b.host = bo.host
      ORDER BY b.doc_id"""))

  /** The q217 fixture url (the [[Robots]] docUrl convention without
    * the path rotation — q217 gates on HOST only). */
  private def docUrlOf(): Column =
    concat(lit("http://"), col("source"), lit(".example.com/p/"),
      col("doc_id").cast("string"))

  val all: Seq[GraftQuery] =
    Seq(q188, q188b, q204, q205, q209, q212, q213, q217)
}
