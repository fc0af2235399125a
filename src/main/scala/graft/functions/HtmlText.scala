package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.{columnOf, expressionOf}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** HTML → visible-text extraction as a native codegen'd expression —
  * the imperative single-pass rework of the
  * [[graft.operators.Extraction.htmlText]] regex cascade (VERDICT r17
  * next #2: at 6.4 MB/s the cascade owned the per-byte ingest CPU
  * budget, ~35× slower than the WARC parse feeding it; at 100 TB that
  * is hundreds of core-years). Same pattern as [[DechunkBody]] /
  * [[TranscodeTransport]]: a static `compute` over the string, called
  * from both eval and codegen, zero regex on the hot path.
  *
  * FIDELITY CONTRACT — this expression replicates the retired cascade
  * STAGE BY STAGE, because the DuckDB oracle
  * ([[graft.operators.Extraction.htmlTextSql]]) replays those stages
  * and later stages consume earlier stages' OUTPUT (e.g. `&&#97;mp;`
  * numeric-decodes to `&amp;` which the amp stage then decodes to `&`
  * — a one-shot tokenizer would answer differently). The stages, each
  * one linear walk:
  *
  *   1a. script/style subtree kill (case-insensitive `<script\b`/
  *       `<style\b`, open tag to the first `>`, body to the matching
  *       case-insensitive close tag) → one space. CHANGED vs the
  *       cascade, both engines together (r18): an UNCLOSED subtree now
  *       kills to END OF INPUT — structurally closing the documented
  *       r14 leak where a truncated crawl doc's `<script>` body
  *       survived as visible text. The oracle regex gained the same
  *       `|.*$` arm.
  *   1b. tag strip (`<` to the first `>`, a lone `<` stays literal) →
  *       one space, interleaved with the case-SENSITIVE named-entity
  *       set `&lt; &gt; &quot; &nbsp;` — sound because a stripped tag
  *       emits a space (never inside an entity pattern) and decoded
  *       chars are emitted to the output, never rescanned.
  *   2.  numeric character references `&#NNN;` (≤7 digits) / `&#xHH;`
  *       (≤6 hex, lowercase `x`): decode codepoints in printable ASCII
  *       [32, 126] (the engine-portable chr() range), pass everything
  *       else through UNDECODED; a decoded `&` (`&#38;`) becomes the
  *       U+0003 shield so stage 3's amp replace cannot re-decode it.
  *       Emulated via the cascade's exact mark/split/stitch machinery
  *       (U+0001/U+0002 sentinels) so even the documented
  *       natural-C0-sentinel garble cases answer byte-identically.
  *   3.  `&amp;` → `&` (left-to-right, replacement not rescanned),
  *       U+0003 shield → `&`, whitespace run `[ \t\n\r]+` → one
  *       space, leading/trailing runs dropped (the collapse+trim).
  *
  * NULL propagates; never throws. O(n) time, O(n) space (two bounded
  * intermediate buffers), no output amplification: every stage's
  * output is ≤ its input + O(1).
  */
case class HtmlTextExtract(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "html_text"

  override def nullSafeEval(input: Any): Any =
    HtmlTextExtract.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.HtmlTextExtract.compute($c);
      ${ev.isNull} = (${ev.value} == null);
    """)

  override protected def withNewChildInternal(newChild: Expression): HtmlTextExtract =
    copy(child = newChild)
}

object HtmlTextExtract {

  def compute(u: UTF8String): UTF8String = {
    val s = u.toString
    val a = killSubtrees(s)
    val b = stripTagsAndNamed(a)
    val c = numericEntities(b)
    UTF8String.fromString(ampShieldWsTrim(c))
  }

  private def isWordChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      (c >= '0' && c <= '9') || c == '_'

  // ------------------------------------------------------- stage 1a
  /** `<script\b[^>]*>` / `<style\b[^>]*>` … close tag (or end of
    * input) → one space; everything else verbatim. */
  private def killSubtrees(s: String): String = {
    val len = s.length
    val out = new java.lang.StringBuilder(len)
    var p = 0
    while (p < len) {
      val lt = s.indexOf('<', p)
      if (lt < 0) { out.append(s, p, len); return out.toString }
      out.append(s, p, lt)
      val close =
        if (AsciiCase.regionMatches(s, lt + 1, "script")) "</script>"
        else if (AsciiCase.regionMatches(s, lt + 1, "style")) "</style>"
        else null
      var consumed = false
      if (close != null) {
        val nameEnd = lt + close.length - 2 // past the name chars
        // \b: the char after the name must not be a word char (an
        // out-of-bounds nameEnd means no room for `>` either)
        if (nameEnd >= len || !isWordChar(s.charAt(nameEnd))) {
          val g = s.indexOf('>', nameEnd)
          if (g >= 0) {
            val e = AsciiCase.indexOf(s, close, g + 1)
            out.append(' ')
            p = if (e >= 0) e + close.length else len
            consumed = true
          }
        }
      }
      if (!consumed) { out.append('<'); p = lt + 1 }
    }
    out.toString
  }

  // ------------------------------------------------------- stage 1b
  private def stripTagsAndNamed(s: String): String = {
    val len = s.length
    val out = new java.lang.StringBuilder(len)
    var p = 0
    while (p < len) {
      val c = s.charAt(p)
      if (c == '<') {
        val g = s.indexOf('>', p + 1)
        if (g >= 0) { out.append(' '); p = g + 1 }
        else { out.append('<'); p += 1 }
      } else if (c == '&') {
        if (s.startsWith("&lt;", p)) { out.append('<'); p += 4 }
        else if (s.startsWith("&gt;", p)) { out.append('>'); p += 4 }
        else if (s.startsWith("&quot;", p)) { out.append('"'); p += 6 }
        else if (s.startsWith("&nbsp;", p)) { out.append(' '); p += 6 }
        else { out.append('&'); p += 1 }
      } else {
        val stop0 = s.indexOf('<', p)
        val stop1 = s.indexOf('&', p)
        val stop = (stop0, stop1) match {
          case (-1, -1) => len
          case (-1, b2) => b2
          case (a2, -1) => a2
          case (a2, b2) => math.min(a2, b2)
        }
        out.append(s, p, stop)
        p = stop
      }
    }
    out.toString
  }

  // -------------------------------------------------------- stage 2
  /** The cascade's exact `&#…;` machinery: mark every match as
    * `u0001codeu0002`, split on `u0001`, decode each segment's
    * code prefix, stitch. Building the marked form explicitly keeps
    * the natural-U+0001/U+0002 edge behavior byte-identical. */
  private def numericEntities(s: String): String = {
    val len = s.length
    // pass 1: marked form
    val m = new java.lang.StringBuilder(len)
    var p = 0
    while (p < len) {
      val amp = s.indexOf('&', p)
      if (amp < 0) { m.append(s, p, len); p = len }
      else {
        m.append(s, p, amp)
        var q = -1 // semicolon index of a successful match, else -1
        if (amp + 1 < len && s.charAt(amp + 1) == '#') {
          var i = amp + 2
          if (i < len && s.charAt(i) == 'x') { // lowercase only
            var k = 0
            var j = i + 1
            while (j < len && k < 7 && isHex(s.charAt(j))) { k += 1; j += 1 }
            if (k >= 1 && k <= 6 && j < len && s.charAt(j) == ';') q = j
          } else {
            var d = 0
            var j = i
            while (j < len && d < 8 && s.charAt(j) >= '0' && s.charAt(j) <= '9') {
              d += 1; j += 1
            }
            if (d >= 1 && d <= 7 && j < len && s.charAt(j) == ';') q = j
          }
        }
        if (q >= 0) {
          m.append('\u0001').append(s, amp + 2, q).append('\u0002')
          p = q + 1
        } else { m.append('&'); p = amp + 1 }
      }
    }
    // pass 2: split on u0001, decode code prefixes up to the first
    // u0002, stitch — segment logic lifted verbatim from the cascade
    val ms = m.toString
    val mlen = ms.length
    val out = new java.lang.StringBuilder(mlen)
    var i = 0
    val first = ms.indexOf('\u0001')
    if (first < 0) return ms
    out.append(ms, 0, first)
    i = first
    while (i < mlen) { // ms(i) == u0001: segment start
      val next = ms.indexOf('\u0001', i + 1)
      val end = if (next < 0) mlen else next
      val sep = ms.indexOf('\u0002', i + 1)
      if (sep < 0 || sep >= end) { // no u0002: restore verbatim
        out.append(ms, i, end)
      } else {
        val code = ms.substring(i + 1, sep)
        val cp = parseCode(code)
        if (cp >= 32 && cp <= 126) {
          out.append(if (cp == 38) '\u0003' else cp.toChar)
        } else {
          out.append("&#").append(code).append(';')
        }
        out.append(ms, sep + 1, end)
      }
      i = end
    }
    out.toString
  }

  private def isHex(c: Char): Boolean =
    (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')

  /** `^x[0-9a-fA-F]{1,6}$` → hex value, `^[0-9]{1,7}$` → decimal
    * value, anything else (incl. the natural-sentinel garble paths)
    * → -1 (the cascade's NULL codepoint). */
  private def parseCode(code: String): Int = {
    val n = code.length
    if (n == 0) return -1
    if (code.charAt(0) == 'x') {
      if (n < 2 || n > 7) return -1
      var v = 0
      var i = 1
      while (i < n) {
        val c = code.charAt(i)
        if (!isHex(c)) return -1
        v = v * 16 + Character.digit(c, 16)
        i += 1
      }
      v
    } else {
      if (n > 7) return -1
      var v = 0
      var i = 0
      while (i < n) {
        val c = code.charAt(i)
        if (c < '0' || c > '9') return -1
        v = v * 10 + (c - '0')
        i += 1
      }
      v
    }
  }

  // -------------------------------------------------------- stage 3
  private def ampShieldWsTrim(s: String): String = {
    val len = s.length
    val out = new java.lang.StringBuilder(len)
    var pendingWs = false
    var p = 0
    while (p < len) {
      val c = s.charAt(p)
      if (c == ' ' || c == '\t' || c == '\n' || c == '\r') {
        pendingWs = true; p += 1
      } else {
        if (pendingWs && out.length() > 0) out.append(' ')
        pendingWs = false
        if (c == '&' && s.startsWith("&amp;", p)) { out.append('&'); p += 5 }
        else if (c == '\u0003') { out.append('&'); p += 1 }
        else { out.append(c); p += 1 }
      }
    }
    out.toString
  }

  def apply(c: Column): Column = columnOf(new HtmlTextExtract(expressionOf(c)))
}
