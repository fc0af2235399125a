package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftQuery
import graft.functions.ImageHeader
import graft.sources.Tables

/** Multimodal column plumbing: opaque `binary` payloads + typed metadata,
  * with a REAL dependency-free container decoder.
  *
  * The reference's whole data model is opaque blobs handed to user code
  * (one chunk string per map task, yamr mapper.py:74-84) and cannot
  * represent binary at all (SURVEY §1.2 — JSON-encodable types only);
  * this module is the typed, columnar version of that contract: payloads
  * stay opaque `BinaryType` columns, metadata rides in typed columns, and
  * decoding runs two ways —
  *
  *   - as a native codegen'd scalar ([[graft.functions.ImageHeader]],
  *     also SQL-registered as `image_header`) for header-only extraction
  *     that stays inside whole-stage codegen (q108), and
  *   - as `mapPartitions` over a typed `Dataset` — Spark's per-partition
  *     batch boundary, the Scala analog of `mapInPandas`, the shape a
  *     real pixel decoder (heavyweight per-batch library init) would use
  *     (q42).
  *
  * Both share one kernel: `ImageHeader.compute`, which parses PNG IHDR /
  * JPEG SOF / GIF logical-screen headers from raw bytes (pure
  * public-spec byte arithmetic — no image library exists in this
  * environment and none is needed for header decode; a PIXEL decoder
  * would slot into `extractFeatures`'s mapPartitions body). The test
  * corpus embeds real spec-conformant headers built from the documents
  * table, so the oracle can replay both the construction arithmetic and
  * the parse offsets byte for byte.
  */
object Multimodal {

  /** A multimodal record: payload is an opaque byte blob. */
  final case class MediaRecord(doc_id: Long, mime: String, payload: Array[Byte])

  /** Decoded features: container format + parsed dimensions + size. */
  final case class MediaFeatures(
      doc_id: Long, mime: String, n_bytes: Long,
      format: String, width: Int, height: Int, valid: Boolean)

  /** The per-partition decode pipeline: batch-shaped like mapInPandas —
    * one iterator in, one iterator out, no per-row task overhead. Calls
    * the same parse kernel the codegen'd expression uses.
    */
  def extractFeatures(ds: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.map { r =>
      val (fmt, w, h, ok) = ImageHeader.parse(r.payload)
      MediaFeatures(r.doc_id, r.mime, r.payload.length.toLong, fmt, w, h, ok)
    })
  }

  // ------------------------------------------------------- synthetic corpus
  // Real spec-conformant image headers, built deterministically from
  // documents: dims from doc_id arithmetic, a body from the text's first
  // bytes, format cycling png/jpeg/gif/raw, and a truncation case that
  // exercises every decoder bail-out path. Construction goes through a
  // HEX string (lpad(hex(n))) so DuckDB can rebuild the identical layout
  // and parse the dims back out of the hex at the public-spec byte
  // offsets — the construction and the parse pin each other.
  //
  // Per-format layout (all offsets are the container specs'):
  //   png  = sig(8) | len=13(4BE) | "IHDR" | w(4BE) | h(4BE) |
  //          depth8 color6 comp0 filt0 inter0 | crc(4, zeros) | body
  //   jpeg = SOI | COM(len=2+k, k 'A's) | SOF0(len=17, prec8, h(2BE),
  //          w(2BE), 3 components) | EOI | body
  //   gif  = "GIF89a" | w(2LE) | h(2LE) | packed F7, bg 0, aspect 0 | body
  //   raw  = 0x00 | body                      (no magic → "unknown")
  // Truncation (doc_id % 13 == 0): payload cut to 7 bytes — shorter than
  // the PNG signature (format falls to "unknown"), mid-COM for JPEG,
  // mid-screen-descriptor for GIF; every case must decode as invalid.

  private def hexW4(c: Column) = lpad(hex(c), 4, "0")
  private def hexW8(c: Column) = lpad(hex(c), 8, "0")
  private def le16(hex4: Column): Column =
    concat(substring(hex4, 3, 2), substring(hex4, 1, 2))

  /** documents → (doc_id, mime, payload) with real embedded headers. */
  def imageTable(s: SparkSession, dir: String): Dataset[MediaRecord] = {
    import s.implicits._
    val d = Tables.documents(s, dir)
      .withColumn("fmt", pmod(col("doc_id"), lit(4)).cast("int"))
      .withColumn("w", (pmod(col("doc_id"), lit(1021)) + 1).cast("int"))
      .withColumn("h", (pmod(col("doc_id"), lit(763)) + 1).cast("int"))
      .withColumn("k", pmod(col("doc_id"), lit(7)).cast("int"))
      .withColumn("bodyhex", hex(substring(col("text").cast("binary"), 1, 32)))
    val pngHex = concat(
      lit("89504E470D0A1A0A"), lit("0000000D"), lit("49484452"),
      hexW8(col("w")), hexW8(col("h")), lit("0806000000"), lit("00000000"),
      col("bodyhex"))
    val jpegHex = concat(
      lit("FFD8"), lit("FFFE"), hexW4(col("k") + 2), expr("repeat('41', k)"),
      lit("FFC0"), lit("0011"), lit("08"), hexW4(col("h")), hexW4(col("w")),
      lit("03"), lit("011100"), lit("021101"), lit("031101"),
      lit("FFD9"), col("bodyhex"))
    val gifHex = concat(
      lit("474946383961"), le16(hexW4(col("w"))), le16(hexW4(col("h"))),
      lit("F70000"), col("bodyhex"))
    val rawHex = concat(lit("00"), col("bodyhex"))
    val full = unhex(
      when(col("fmt") === 0, pngHex)
        .when(col("fmt") === 1, jpegHex)
        .when(col("fmt") === 2, gifHex)
        .otherwise(rawHex))
    d.select(col("doc_id"),
        when(col("fmt") === 0, lit("image/png"))
          .when(col("fmt") === 1, lit("image/jpeg"))
          .when(col("fmt") === 2, lit("image/gif"))
          .otherwise(lit("application/octet-stream")).as("mime"),
        when(pmod(col("doc_id"), lit(13)) === 0, substring(full, 1, 7))
          .otherwise(full).as("payload"))
      .as[MediaRecord]
  }

  /** The shared oracle truth table: rebuilds the header hex in DuckDB and
    * parses width/height back out of it at the SPEC byte offsets (PNG
    * w at bytes 16–19 BE → hex chars 33–40; JPEG SOF height at byte
    * 11+k BE → chars 23+2k; GIF w at bytes 6–7 LE → chars 13–16
    * byte-swapped), so a decoder reading the wrong offsets or endianness
    * cannot hash-match. `cols` picks the projected output columns.
    */
  private def oracleSql(cols: String): String =
    s"""
      WITH base AS (
        SELECT doc_id,
               CAST(doc_id % 4 AS INT) AS fmt,
               CAST(doc_id % 1021 + 1 AS INT) AS w,
               CAST(doc_id % 763 + 1 AS INT) AS h,
               CAST(doc_id % 7 AS INT) AS k,
               (doc_id % 13 = 0) AS trunc,
               least(32, octet_length(encode(text))) AS body_n
        FROM documents),
      hx AS (
        SELECT *,
               '89504E470D0A1A0A' || '0000000D' || '49484452' ||
                 lpad(hex(w), 8, '0') || lpad(hex(h), 8, '0') ||
                 '0806000000' || '00000000' AS png_hex,
               'FFD8' || 'FFFE' || lpad(hex(k + 2), 4, '0') || repeat('41', k) ||
                 'FFC0' || '0011' || '08' || lpad(hex(h), 4, '0') ||
                 lpad(hex(w), 4, '0') ||
                 '03' || '011100' || '021101' || '031101' || 'FFD9' AS jpeg_hex,
               '474946383961' ||
                 substr(lpad(hex(w), 4, '0'), 3, 2) || substr(lpad(hex(w), 4, '0'), 1, 2) ||
                 substr(lpad(hex(h), 4, '0'), 3, 2) || substr(lpad(hex(h), 4, '0'), 1, 2) ||
                 'F70000' AS gif_hex
        FROM base),
      parsed AS (
        SELECT *,
               CASE fmt
                 WHEN 0 THEN ('0x' || substr(png_hex, 33, 8))::BIGINT
                 WHEN 1 THEN ('0x' || substr(jpeg_hex, 27 + 2*k, 4))::BIGINT
                 WHEN 2 THEN ('0x' || substr(gif_hex, 15, 2) || substr(gif_hex, 13, 2))::BIGINT
               END AS pw,
               CASE fmt
                 WHEN 0 THEN ('0x' || substr(png_hex, 41, 8))::BIGINT
                 WHEN 1 THEN ('0x' || substr(jpeg_hex, 23 + 2*k, 4))::BIGINT
                 WHEN 2 THEN ('0x' || substr(gif_hex, 19, 2) || substr(gif_hex, 17, 2))::BIGINT
               END AS ph
        FROM hx),
      o AS (
        SELECT doc_id,
               CASE WHEN fmt = 0 THEN 'image/png' WHEN fmt = 1 THEN 'image/jpeg'
                    WHEN fmt = 2 THEN 'image/gif'
                    ELSE 'application/octet-stream' END AS mime,
               CASE WHEN trunc THEN least(CASE fmt WHEN 0 THEN 33 + body_n
                                                   WHEN 1 THEN 27 + k + body_n
                                                   WHEN 2 THEN 13 + body_n
                                                   ELSE 1 + body_n END, 7)
                    ELSE CASE fmt WHEN 0 THEN 33 + body_n
                                  WHEN 1 THEN 27 + k + body_n
                                  WHEN 2 THEN 13 + body_n
                                  ELSE 1 + body_n END
               END AS n_bytes,
               -- a 7-byte truncation beheads the 8-byte PNG signature, so
               -- the decoder can only call it "unknown"; JPEG/GIF magics
               -- survive 7 bytes and keep their format label
               CASE WHEN fmt = 3 OR (trunc AND fmt = 0) THEN 'unknown'
                    WHEN fmt = 0 THEN 'png' WHEN fmt = 1 THEN 'jpeg'
                    ELSE 'gif' END AS format,
               CAST(CASE WHEN trunc OR fmt = 3 THEN -1 ELSE pw END AS INT) AS width,
               CAST(CASE WHEN trunc OR fmt = 3 THEN -1 ELSE ph END AS INT) AS height,
               (NOT trunc AND fmt <> 3) AS valid
        FROM parsed)
      SELECT $cols FROM o ORDER BY doc_id"""

  // ---------------------------------------------------------------- q108
  // The codegen'd-expression decode path: image_header(payload) as a
  // single projected scalar — header extraction over a 100 TB binary
  // column as one WholeStageCodegen'd scan, no UDF, no partition-batch
  // boundary. The oracle rebuilds every header per spec and re-parses it
  // from the hex at the spec offsets (construction ⊗ parse cross-pin).
  private val q108 = GraftQuery(
    "q108_image_header",
    (s, dir) =>
      imageTable(s, dir).toDF()
        .select(col("doc_id"), ImageHeader(col("payload")).as("ih"),
          length(col("payload")).cast("long").as("n_bytes"))
        .select(col("doc_id"), col("ih.format").as("format"),
          col("ih.width").as("width"), col("ih.height").as("height"),
          col("ih.valid").as("valid"), col("n_bytes"))
        .orderBy(col("doc_id")),
    Some(oracleSql("doc_id, format, width, height, valid, CAST(n_bytes AS BIGINT) AS n_bytes")))

  // ---------------------------------------------------------------- q42
  // The typed mapPartitions decode path (the mapInPandas analog a pixel
  // decoder would use), same kernel, plus the mime metadata column —
  // migrated off the old deterministic stub to the real decoder (r10).
  private val q42 = GraftQuery(
    "q42_multimodal_features",
    (s, dir) => {
      extractFeatures(imageTable(s, dir)).toDF()
        .select(col("doc_id"), col("mime"), col("n_bytes"),
          col("format"), col("width"), col("height"), col("valid"))
        .orderBy(col("doc_id"))
    },
    Some(oracleSql(
      "doc_id, mime, CAST(n_bytes AS BIGINT) AS n_bytes, format, width, height, valid")))

  /** One sampled "frame" of a media payload: every `stride`-th
    * `frameBytes`-sized window — the 1-record→N-frames dataflow (flatMap)
    * for video/audio, with per-frame metadata and downstream
    * partitioning all real. (A codec would replace `grouped` with real
    * frame boundaries; the dataflow shape is identical.)
    */
  final case class Frame(doc_id: Long, frame_no: Int, offset: Long, frame: Array[Byte])

  def sampleFrames(ds: Dataset[MediaRecord], frameBytes: Int, stride: Int): Dataset[Frame] = {
    import ds.sparkSession.implicits._
    ds.flatMap { r =>
      r.payload.grouped(frameBytes).zipWithIndex
        .filter { case (_, i) => i % stride == 0 }
        .map { case (win, i) => Frame(r.doc_id, i, i.toLong * frameBytes, win) }
    }
  }

  // ---------------------------------------------------------------- q42b
  // Frame sampling over the image corpus: every 2nd 64-byte window with
  // per-frame metadata — the oracle derives each payload's exact byte
  // length from the construction arithmetic and replays the slicing.
  private val q42b = GraftQuery(
    "q42b_multimodal_frames",
    (s, dir) =>
      sampleFrames(imageTable(s, dir), frameBytes = 64, stride = 2).toDF()
        .select(col("doc_id"), col("frame_no"), col("offset"),
          length(col("frame")).as("frame_bytes"))
        .orderBy(col("doc_id"), col("frame_no")),
    Some("""
      WITH base AS (
        SELECT doc_id,
               CAST(doc_id % 4 AS INT) AS fmt,
               CAST(doc_id % 7 AS INT) AS k,
               (doc_id % 13 = 0) AS trunc,
               least(32, octet_length(encode(text))) AS body_n
        FROM documents),
      sized AS (
        SELECT doc_id,
               CASE WHEN trunc
                    THEN least(CASE fmt WHEN 0 THEN 33 + body_n
                                        WHEN 1 THEN 27 + k + body_n
                                        WHEN 2 THEN 13 + body_n
                                        ELSE 1 + body_n END, 7)
                    ELSE CASE fmt WHEN 0 THEN 33 + body_n
                                  WHEN 1 THEN 27 + k + body_n
                                  WHEN 2 THEN 13 + body_n
                                  ELSE 1 + body_n END
               END AS n
        FROM base)
      SELECT doc_id,
             CAST(i AS INT) AS frame_no,
             CAST(i * 64 AS BIGINT) AS offset,
             CAST(least(64, n - i * 64) AS INT) AS frame_bytes
      FROM (SELECT doc_id, n, unnest(range(0, (n + 63) // 64)) AS i FROM sized) t
      WHERE i % 2 = 0
      ORDER BY doc_id, frame_no"""))

  // ---------------------------------------------------------------- q131
  // Audio/video container decode — the WAV (RIFF fmt-chunk walk) and MP4
  // (ISO BMFF ftyp box) siblings of q108's image decoder, completing the
  // §2.14 multimodal mandate across all three modalities with REAL
  // public-spec parsers. Corpus synthesized in-plan with real headers
  // (sample rate / channel / brand fields from doc arithmetic, a 9-byte
  // truncation case that stops each parser at a different bail-out);
  // the oracle recomputes every expected field from the same
  // construction arithmetic — a wrong construction or a wrong parse
  // both break the match.
  //
  // Per-format layout (spec offsets):
  //   wav = "RIFF" | sz(4LE)=36+body | "WAVE" | "fmt " | 16(4LE) |
  //         pcm=1(2LE) | channels(2LE) | rate(4LE) | byte_rate(4LE) |
  //         block_align(2LE) | bits=16(2LE) | "data" | body_n(4LE) | body
  //   mp4 = size=20(4BE) | "ftyp" | brand(4) | minor=0(4) | "isom" | body
  //   raw = 0x00 | body                              (no magic → unknown)
  // Truncation (doc_id % 13 == 0): 9 bytes — RIFF present but "WAVE"
  // missing (→ unknown), ftyp present but brand cut (→ mp4, invalid).

  private def le32(hex8: Column): Column =
    concat(substring(hex8, 7, 2), substring(hex8, 5, 2),
      substring(hex8, 3, 2), substring(hex8, 1, 2))

  /** documents → (doc_id, mime, payload) with real WAV/MP4 headers. */
  def mediaTable(s: SparkSession, dir: String): Dataset[MediaRecord] = {
    import s.implicits._
    val d = Tables.documents(s, dir)
      .withColumn("fmt", pmod(col("doc_id"), lit(3)).cast("int"))
      .withColumn("ch", (pmod(col("doc_id"), lit(2)) + 1).cast("int"))
      .withColumn("rate", (lit(8000) + pmod(col("doc_id"), lit(8)) * lit(4000)).cast("int"))
      .withColumn("bodyhex", hex(substring(col("text").cast("binary"), 1, 32)))
      .withColumn("body_n", (length(col("bodyhex")) / 2).cast("int"))
    val wavHex = concat(
      lit("52494646"), le32(hexW8(col("body_n") + 36)), lit("57415645"),
      lit("666D7420"), lit("10000000"), lit("0100"),
      le16(hexW4(col("ch"))), le32(hexW8(col("rate"))),
      le32(hexW8(col("rate") * col("ch") * 2)), le16(hexW4(col("ch") * 2)),
      lit("1000"), lit("64617461"), le32(hexW8(col("body_n"))),
      col("bodyhex"))
    val mp4Hex = concat(
      lit("00000014"), lit("66747970"),
      when(pmod(col("doc_id"), lit(2)) === 0, lit("69736F6D"))
        .otherwise(lit("6D703432")),
      lit("00000000"), lit("69736F6D"), col("bodyhex"))
    val rawHex = concat(lit("00"), col("bodyhex"))
    val full = unhex(
      when(col("fmt") === 0, wavHex)
        .when(col("fmt") === 1, mp4Hex)
        .otherwise(rawHex))
    d.select(col("doc_id"),
        when(col("fmt") === 0, lit("audio/wav"))
          .when(col("fmt") === 1, lit("video/mp4"))
          .otherwise(lit("application/octet-stream")).as("mime"),
        when(pmod(col("doc_id"), lit(13)) === 0, substring(full, 1, 9))
          .otherwise(full).as("payload"))
      .as[MediaRecord]
  }

  private val q131 = GraftQuery(
    "q131_media_header",
    (s, dir) =>
      mediaTable(s, dir).toDF()
        .select(col("doc_id"),
          graft.functions.MediaHeader(col("payload")).as("mh"),
          length(col("payload")).cast("long").as("n_bytes"))
        .select(col("doc_id"), col("mh.format").as("format"),
          col("mh.sample_rate").as("sample_rate"),
          col("mh.channels").as("channels"), col("mh.bits").as("bits"),
          col("mh.brand").as("brand"),
          col("mh.duration_ms").as("duration_ms"),
          col("mh.n_samples").as("n_samples"),
          col("mh.valid").as("valid"),
          col("n_bytes"))
        .orderBy(col("doc_id")),
    Some("""
      WITH base AS (
        SELECT doc_id,
               CAST(doc_id % 3 AS INT) AS fmt,
               (doc_id % 13 = 0) AS trunc,
               CAST(doc_id % 2 + 1 AS INT) AS ch,
               CAST(8000 + (doc_id % 8) * 4000 AS INT) AS rate,
               least(32, octet_length(encode(text))) AS body_n
        FROM documents),
      sized AS (
        SELECT *, CASE fmt WHEN 0 THEN 44 + body_n
                           WHEN 1 THEN 20 + body_n
                           ELSE 1 + body_n END AS sz
        FROM base)
      SELECT doc_id,
             CASE WHEN fmt = 1 THEN 'mp4'
                  WHEN fmt = 0 AND NOT trunc THEN 'wav'
                  ELSE 'unknown' END AS format,
             CASE WHEN fmt = 0 AND NOT trunc THEN rate ELSE -1 END AS sample_rate,
             CASE WHEN fmt = 0 AND NOT trunc THEN ch ELSE -1 END AS channels,
             CASE WHEN fmt = 0 AND NOT trunc THEN 16 ELSE -1 END AS bits,
             CASE WHEN fmt = 1 AND NOT trunc
                  THEN (CASE WHEN doc_id % 2 = 0 THEN 'isom' ELSE 'mp42' END)
                  ELSE '' END AS brand,
             CAST(CASE WHEN fmt = 0 AND NOT trunc
                  THEN (body_n * 1000) // (rate * ch * 2) ELSE -1 END AS BIGINT) AS duration_ms,
             CAST(CASE WHEN fmt = 0 AND NOT trunc
                  THEN body_n // (ch * 2) ELSE -1 END AS BIGINT) AS n_samples,
             (NOT trunc AND fmt IN (0, 1)) AS valid,
             CAST(CASE WHEN trunc THEN least(sz, 9) ELSE sz END AS BIGINT) AS n_bytes
      FROM sized
      ORDER BY doc_id"""))

  // ------------------------------------------- content-type routing
  /** Content-type routed ingest (VERDICT r17 next #4): the crawl
    * chains routed every 200 payload to HTML text; a real pipeline
    * ROUTES by media type — `text/html` to the text chain
    * (transcode → [[Extraction.htmlText]]), image types to
    * [[graft.functions.ImageHeader]], audio/video types to
    * [[graft.functions.MediaHeader]], anything else to an accounted
    * `other` row (kept, never silently dropped). Input is the
    * [[Http.httpPayloads]] frame (payload = latin-1 byte-transport
    * string); media payloads are re-encoded to their exact original
    * BYTES for the header decoders, so valid media stays a real
    * `BinaryType` value beside the text docs.
    *
    * One stateless scan, zero shuffles, every decoder a codegen
    * expression — the routed chain costs one projection at 100 TB.
    * Byte integrity of the non-text routes is pinned as
    * `md5(hex(bytes))` — the hex round-trip makes the pin replayable
    * in DuckDB, whose `md5` takes VARCHAR only. Unified schema; the
    * off-route columns of each row are NULL. */
  def routePayloads(pages: DataFrame, idCol: String,
      keep: Seq[String] = Nil): DataFrame = {
    val ct = col("content_type")
    val staged = pages
      .withColumn("route",
        when(ct === "text/html", lit("text"))
          .when(ct.startsWith("image/"), lit("image"))
          .when(ct.startsWith("audio/") || ct.startsWith("video/"),
            lit("media"))
          .otherwise(lit("other")))
      .withColumn("__bytes", encode(col("payload"), "ISO-8859-1"))
      .withColumn("__text", when(col("route") === "text",
        Extraction.htmlText(Http.transcode(col("payload"), col("charset")))))
      .withColumn("__ih",
        when(col("route") === "image", ImageHeader(col("__bytes"))))
      .withColumn("__mh", when(col("route") === "media",
        graft.functions.MediaHeader(col("__bytes"))))
    staged.select((col(idCol) +: keep.map(col)) ++ Seq(
      col("content_type"), col("route"),
      length(col("__text")).cast("long").as("n_text"),
      md5(col("__text")).as("text_md5"),
      coalesce(col("__ih.format"), col("__mh.format")).as("format"),
      col("__ih.width").as("width"),
      col("__ih.height").as("height"),
      col("__mh.sample_rate").as("sample_rate"),
      col("__mh.channels").as("channels"),
      col("__mh.duration_ms").as("duration_ms"),
      col("__mh.brand").as("brand"),
      coalesce(col("__ih.valid"), col("__mh.valid")).as("parsed_ok"),
      length(col("__bytes")).cast("long").as("payload_len"),
      when(col("route") =!= "text", md5(hex(col("__bytes"))))
        .as("payload_md5")): _*)
  }

  // ---------------------------------------------------------------- q218
  // The routed chain end to end, all in the BYTE domain: WARC records
  // (binary, latin-1 transport) wrapping HTTP responses whose payloads
  // rotate REAL container bytes — %4=0 text/html (UTF-8 bytes of the
  // q93c HTML, chunked on %3=0 so de-chunk rides the chain), %4=1 a
  // real PNG (the q108 construction), %4=2 a real WAV (the q131
  // construction), %4=3 application/pdf (the `other` route) — plus a
  // %5=1 404 rotation the status gate must drop. The oracle replays
  // the survivor arithmetic per arm: the text arm through the shared
  // htmlTextSql cascade, the media arms by rebuilding the container
  // hex and reading the header fields from the construction
  // arithmetic, with md5 over the hex pinning every payload byte.
  private val CRLF = "\r\n"

  private def le16Sql(e: String) =
    s"substr(lpad(hex($e),4,'0'),3,2) || substr(lpad(hex($e),4,'0'),1,2)"
  private def le32Sql(e: String) =
    s"substr(lpad(hex($e),8,'0'),7,2) || substr(lpad(hex($e),8,'0'),5,2) || " +
      s"substr(lpad(hex($e),8,'0'),3,2) || substr(lpad(hex($e),8,'0'),1,2)"

  private[operators] def routedRecords(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .withColumn("m4", pmod(col("doc_id"), lit(4)).cast("int"))
      .withColumn("w", (pmod(col("doc_id"), lit(1021)) + 1).cast("int"))
      .withColumn("h", (pmod(col("doc_id"), lit(763)) + 1).cast("int"))
      .withColumn("ch", (pmod(col("doc_id"), lit(2)) + 1).cast("int"))
      .withColumn("rate",
        (lit(8000) + pmod(col("doc_id"), lit(8)) * lit(4000)).cast("int"))
      .withColumn("bodyhex", hex(substring(col("text").cast("binary"), 1, 32)))
      .withColumn("body_n", (length(col("bodyhex")) / 2).cast("int"))
    val pngHex = concat(
      lit("89504E470D0A1A0A"), lit("0000000D"), lit("49484452"),
      hexW8(col("w")), hexW8(col("h")), lit("0806000000"), lit("00000000"),
      col("bodyhex"))
    val wavHex = concat(
      lit("52494646"), le32(hexW8(col("body_n") + 36)), lit("57415645"),
      lit("666D7420"), lit("10000000"), lit("0100"),
      le16(hexW4(col("ch"))), le32(hexW8(col("rate"))),
      le32(hexW8(col("rate") * col("ch") * 2)), le16(hexW4(col("ch") * 2)),
      lit("1000"), lit("64617461"), le32(hexW8(col("body_n"))),
      col("bodyhex"))
    val pdfHex = concat(lit("255044462D312E34"), col("bodyhex"))
    // transport payload: chars ARE the payload bytes (UTF-8 bytes for
    // the html arm; container bytes for the rest)
    val payloadT = when(col("m4") === 0,
        decode(encode(Warc.crawlHtml(), "UTF-8"), "ISO-8859-1"))
      .otherwise(decode(unhex(
        when(col("m4") === 1, pngHex)
          .when(col("m4") === 2, wavHex)
          .otherwise(pdfHex)), "ISO-8859-1"))
    val ctHdr = when(col("m4") === 0, lit("text/html; charset=utf-8"))
      .when(col("m4") === 1, lit("image/png"))
      .when(col("m4") === 2, lit("audio/wav"))
      .otherwise(lit("application/pdf"))
    val statusLine = when(pmod(col("doc_id"), lit(5)) === 1,
      lit("HTTP/1.1 404 Not Found")).otherwise(lit("HTTP/1.1 200 OK"))
    val staged = d.withColumn("__p", payloadT)
    val chunked = col("m4") === 0 && pmod(col("doc_id"), lit(3)) === 0
    val c1 = substring(col("__p"), 1, 7)
    val c2 = col("__p").substr(lit(8), length(col("__p")))
    val chunkedBody = concat(
      lower(conv(length(c1).cast("string"), 10, 16)), lit(CRLF),
      c1, lit(CRLF),
      lower(conv(length(c2).cast("string"), 10, 16)), lit(CRLF),
      c2, lit(CRLF), lit("0" + CRLF + CRLF))
    val framing = when(chunked, lit("Transfer-Encoding: chunked" + CRLF))
      .otherwise(concat(lit("Content-Length: "),
        length(col("__p")).cast("string"), lit(CRLF)))
    val msg = concat(statusLine, lit(CRLF),
      lit("Content-Type: "), ctHdr, lit(CRLF),
      framing, lit(CRLF),
      when(chunked, chunkedBody).otherwise(col("__p")))
    staged.withColumn("__msg", msg)
      .select(col("doc_id"),
        encode(concat(lit("WARC/1.0" + CRLF),
          lit("WARC-Type: response" + CRLF),
          lit("WARC-Target-URI: http://"), col("source"),
          lit(".example.com/r/"), col("doc_id").cast("string"), lit(CRLF),
          lit("Content-Length: "), length(col("__msg")).cast("string"),
          lit(CRLF + CRLF), col("__msg"), lit(CRLF + CRLF)),
          "ISO-8859-1").as("rec_bin"))
  }

  private val q218 = GraftQuery(
    "q218_routed_chain",
    (s, dir) => {
      // the q209 discipline: the fixture records go through the REAL
      // binary .warc.gz sink and reader, so the PNG/WAV bytes travel
      // the full file → member-gunzip → framing → WARC slice → HTTP
      // slice path before routing. (Also deliberate plan hygiene: the
      // file boundary keeps the fixture-construction expression tree
      // out of the chain's own optimization — composing the staged
      // in-plan builder straight into httpPayloads' gate made
      // Catalyst's alias substitution balloon the predicate tree.)
      graft.sources.GraftIO.roundTrip("warc_q218") { out =>
        graft.sources.WarcSource.writeWarcRecordsBinary(
          routedRecords(s, dir).select(col("rec_bin")), "rec_bin", out,
          gzipPerRecord = true)
        val bodies = Warc.warcBodiesBytes(
          graft.sources.WarcSource.readWarcRecordsBinary(s, out),
          "rec_no", "rec_bin")
        val pages = Http.httpPayloads(bodies, "rec_no", "body",
          keep = Seq("target_uri"),
          keepTypes =
            Seq("text/html", "image/png", "audio/wav", "application/pdf"))
        val routed = routePayloads(pages, "rec_no", keep = Seq("target_uri"))
        routed
          .withColumn("doc_id",
            regexp_extract(col("target_uri"), "/r/([0-9]+)$", 1).cast("long"))
          .select(col("doc_id") +:
            routed.columns.filter(_ != "rec_no").map(col): _*)
          .orderBy(col("doc_id"))
      }
    },
    Some(s"""
      WITH base AS (
        SELECT doc_id, source, text,
               CAST(doc_id % 4 AS INT) AS m4,
               CAST(doc_id % 1021 + 1 AS INT) AS w,
               CAST(doc_id % 763 + 1 AS INT) AS h,
               CAST(doc_id % 2 + 1 AS INT) AS ch,
               CAST(8000 + (doc_id % 8) * 4000 AS INT) AS rate,
               substr(hex(encode(text)), 1, 64) AS bodyhex,
               least(32, octet_length(encode(text))) AS body_n
        FROM documents
        WHERE doc_id % 5 <> 1),
      hx AS (
        SELECT *,
               '89504E470D0A1A0A' || '0000000D' || '49484452' ||
                 lpad(hex(w), 8, '0') || lpad(hex(h), 8, '0') ||
                 '0806000000' || '00000000' || bodyhex AS png_hex,
               '52494646' || ${le32Sql("body_n + 36")} || '57415645' ||
                 '666D7420' || '10000000' || '0100' ||
                 ${le16Sql("ch")} || ${le32Sql("rate")} ||
                 ${le32Sql("rate * ch * 2")} || ${le16Sql("ch * 2")} ||
                 '1000' || '64617461' || ${le32Sql("body_n")} ||
                 bodyhex AS wav_hex,
               '255044462D312E34' || bodyhex AS pdf_hex
        FROM base),
      txt AS (SELECT doc_id, ${Warc.crawlHtmlSql} AS html
              FROM base WHERE m4 = 0),
      ${graft.operators.Extraction.htmlTextSql("txt", "html", "xt", Seq("doc_id"))}
      SELECT h.doc_id,
             'http://' || h.source || '.example.com/r/' ||
               CAST(h.doc_id AS VARCHAR) AS target_uri,
             CASE h.m4 WHEN 0 THEN 'text/html' WHEN 1 THEN 'image/png'
                       WHEN 2 THEN 'audio/wav'
                       ELSE 'application/pdf' END AS content_type,
             CASE h.m4 WHEN 0 THEN 'text' WHEN 1 THEN 'image'
                       WHEN 2 THEN 'media' ELSE 'other' END AS route,
             CASE WHEN h.m4 = 0 THEN CAST(len(x.__text) AS BIGINT) END AS n_text,
             CASE WHEN h.m4 = 0 THEN md5(x.__text) END AS text_md5,
             CASE h.m4 WHEN 1 THEN 'png' WHEN 2 THEN 'wav' END AS format,
             CAST(CASE WHEN h.m4 = 1 THEN h.w END AS INT) AS width,
             CAST(CASE WHEN h.m4 = 1 THEN h.h END AS INT) AS height,
             CAST(CASE WHEN h.m4 = 2 THEN h.rate END AS INT) AS sample_rate,
             CAST(CASE WHEN h.m4 = 2 THEN h.ch END AS INT) AS channels,
             CAST(CASE WHEN h.m4 = 2
                  THEN (h.body_n * 1000) // (h.rate * h.ch * 2)
                  END AS BIGINT) AS duration_ms,
             CASE WHEN h.m4 = 2 THEN '' END AS brand,
             CASE WHEN h.m4 IN (1, 2) THEN true END AS parsed_ok,
             CAST(CASE h.m4 WHEN 0 THEN octet_length(encode(t2.html))
                            WHEN 1 THEN 33 + h.body_n
                            WHEN 2 THEN 44 + h.body_n
                            ELSE 8 + h.body_n END AS BIGINT) AS payload_len,
             CASE h.m4 WHEN 1 THEN md5(h.png_hex)
                       WHEN 2 THEN md5(h.wav_hex)
                       WHEN 3 THEN md5(h.pdf_hex) END AS payload_md5
      FROM hx h
      LEFT JOIN xt x ON h.doc_id = x.doc_id
      LEFT JOIN txt t2 ON h.doc_id = t2.doc_id
      ORDER BY h.doc_id"""))

  // ------------------------------------------------- media quality gates
  /** Media curation gates (VERDICT r17 next #7) — the "drop images
    * < 64 px" / "drop audio < 1 s" stages the q108/q131 header fields
    * exist for, with the q134 first-fail drop ledger
    * ([[DataPrep.cascadeAccounting]]): ONE stateless scan computes
    * every gate flag, one hash-agg attributes each drop to the first
    * failing stage. Gates are route-scoped (an image row never fails
    * the audio gate); the duration gate reads the DECLARED data size
    * (what the header promises — the right basis over partial crawls,
    * per the [[graft.functions.MediaHeader]] contract). Input is any
    * frame with `(route, parsed_ok, width, height, duration_ms)` —
    * the [[routePayloads]] media subset, or a decoded media table. */
  def mediaGates(media: DataFrame, minPx: Int = 64,
      minDurMs: Long = 1000L): DataFrame =
    DataPrep.cascadeAccounting(media, Seq(
      "parsed" -> col("parsed_ok"),
      "image_min_px" -> (col("route") =!= "image" ||
        (col("width") >= minPx && col("height") >= minPx)),
      "audio_min_duration" -> (col("route") =!= "media" ||
        col("duration_ms") >= minDurMs)))

  // ---------------------------------------------------------------- q219
  // The gates over a decoded media table: the q108 image corpus (its
  // %13 truncation and %4=3 raw rotations land in the `parsed` stage,
  // its dim arithmetic puts doc_id%1021+1 < 64 rows under the px
  // gate) UNION a WAV corpus whose headers DECLARE a rotating data
  // size (body_n + (doc_id%5)·25000) — so durations sweep ~0 ms to
  // ~25 s across rate/channel rotations and the 1 s gate splits on
  // header arithmetic, not shipped bytes. The oracle replays the
  // first-fail ledger closed-form from the same arithmetic.
  private def wavDeclared(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .withColumn("ch", (pmod(col("doc_id"), lit(2)) + 1).cast("int"))
      .withColumn("rate",
        (lit(8000) + pmod(col("doc_id"), lit(8)) * lit(4000)).cast("int"))
      .withColumn("bodyhex", hex(substring(col("text").cast("binary"), 1, 32)))
      .withColumn("body_n", (length(col("bodyhex")) / 2).cast("int"))
      .withColumn("data_n",
        (col("body_n") + pmod(col("doc_id"), lit(5)) * lit(25000)).cast("int"))
    val wavHex = concat(
      lit("52494646"), le32(hexW8(col("data_n") + 36)), lit("57415645"),
      lit("666D7420"), lit("10000000"), lit("0100"),
      le16(hexW4(col("ch"))), le32(hexW8(col("rate"))),
      le32(hexW8(col("rate") * col("ch") * 2)), le16(hexW4(col("ch") * 2)),
      lit("1000"), lit("64617461"), le32(hexW8(col("data_n"))),
      col("bodyhex"))
    val full = unhex(wavHex)
    d.select(col("doc_id"),
      when(pmod(col("doc_id"), lit(13)) === 0, substring(full, 1, 9))
        .otherwise(full).as("payload"))
  }

  private val q219 = GraftQuery(
    "q219_media_gates",
    (s, dir) => {
      val img = imageTable(s, dir).toDF()
        .withColumn("__ih", ImageHeader(col("payload")))
        .select(col("doc_id"), lit("image").as("route"),
          col("__ih.valid").as("parsed_ok"),
          col("__ih.width").as("width"), col("__ih.height").as("height"),
          lit(null).cast("long").as("duration_ms"))
      val wav = wavDeclared(s, dir)
        .withColumn("__mh", graft.functions.MediaHeader(col("payload")))
        .select(col("doc_id"), lit("media").as("route"),
          col("__mh.valid").as("parsed_ok"),
          lit(null).cast("int").as("width"), lit(null).cast("int").as("height"),
          col("__mh.duration_ms").as("duration_ms"))
      mediaGates(img.unionByName(wav))
    },
    Some("""
      WITH imgs AS (
        SELECT doc_id,
               (doc_id % 13 <> 0 AND doc_id % 4 <> 3) AS parsed_ok,
               CASE WHEN doc_id % 13 <> 0 AND doc_id % 4 <> 3
                    THEN doc_id % 1021 + 1 ELSE -1 END AS width,
               CASE WHEN doc_id % 13 <> 0 AND doc_id % 4 <> 3
                    THEN doc_id % 763 + 1 ELSE -1 END AS height,
               CAST(NULL AS BIGINT) AS duration_ms,
               'image' AS route
        FROM documents),
      wavs AS (
        SELECT doc_id,
               (doc_id % 13 <> 0) AS parsed_ok,
               CAST(NULL AS BIGINT) AS width, CAST(NULL AS BIGINT) AS height,
               CASE WHEN doc_id % 13 <> 0
                    THEN ((least(32, octet_length(encode(text))) + (doc_id % 5) * 25000) * 1000)
                         // ((8000 + (doc_id % 8) * 4000) * (doc_id % 2 + 1) * 2)
                    ELSE -1 END AS duration_ms,
               'media' AS route
        FROM documents),
      u AS (SELECT * FROM imgs UNION ALL SELECT * FROM wavs),
      flags AS (
        SELECT COALESCE(parsed_ok, true) AS f0,
               COALESCE(route <> 'image' OR (width >= 64 AND height >= 64), true) AS f1,
               COALESCE(route <> 'media' OR duration_ms >= 1000, true) AS f2
        FROM u),
      agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS total,
               CAST(SUM(CASE WHEN NOT f0 THEN 1 ELSE 0 END) AS BIGINT) AS d0,
               CAST(SUM(CASE WHEN f0 AND NOT f1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
               CAST(SUM(CASE WHEN f0 AND f1 AND NOT f2 THEN 1 ELSE 0 END) AS BIGINT) AS d2
        FROM flags)
      SELECT * FROM (
        SELECT 0 AS stage, 'parsed' AS name, total AS n_in, d0 AS n_drop,
               total - d0 AS n_out FROM agg
        UNION ALL
        SELECT 1, 'image_min_px', total - d0, d1, total - d0 - d1 FROM agg
        UNION ALL
        SELECT 2, 'audio_min_duration', total - d0 - d1, d2,
               total - d0 - d1 - d2 FROM agg)
      ORDER BY stage"""))

  val all: Seq[GraftQuery] = Seq(q42, q42b, q108, q131, q218, q219)
}
