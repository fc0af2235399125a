package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graftbridge.{columnOf, expressionOf}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Main-content block selection as ONE native codegen'd traversal — the
  * imperative rework of [[graft.operators.MainContent]]'s interpreted
  * HOF/regex pipeline (VERDICT r18 next #1: `mainTextCol`'s
  * split→transform→filter lambdas are CodegenFallback and ran ~6.4 s of
  * per-row expression work inside the q93d fused ingest scan at sf0.1).
  * Same pattern as [[HtmlTextExtract]] / [[CdcBoundaries]]: a static
  * `compute` over the string, called from both eval and codegen, zero
  * regex on the hot path.
  *
  * FIDELITY CONTRACT — replicates the retained reference composition
  * ([[graft.operators.MainContent.stripScriptStyle]] +
  * [[graft.operators.MainContent.keptExpr]]) STAGE BY STAGE, because the
  * DuckDB oracle replays those stages:
  *
  *   1. script/style strip — the regex
  *      `(?is)<script\b[^>]*>.*?</script>|<style\b[^>]*>.*?</style>`
  *      → one space. Lazy body: kill to the NEAREST case-insensitive
  *      close tag; an UNCLOSED subtree does NOT match (the tag is later
  *      stripped as a plain tag and its body survives — unlike
  *      [[HtmlTextExtract]]'s kill-to-EOF, these two operators declare
  *      different semantics and each has its own oracle replay).
  *      `\b` = the char after the name is not `[A-Za-z0-9_]` (or end of
  *      input); the open tag runs to the first `>` (`[^>]*` crosses `<`
  *      but never `>`); no `>` → no match, scan resumes at the next `<`.
  *   2. block split on `(?is)</(p|div|section|article|li|h[1-6]|td|
  *      blockquote)>` with Java split limit −1 semantics: leading and
  *      trailing empty blocks are kept; empty input yields one empty
  *      block.
  *   3. per block: tags `<[^>]*>` → one space (a lone `<` with no
  *      following `>` stays literal), then Java `\s+` runs
  *      (`[ \t\n\f\r]` — ASCII only, NBSP etc. are literal) →
  *      one space, then trim of leading/trailing spaces. The two regex
  *      stages fuse soundly because a stripped tag emits exactly the
  *      space character the collapse pass then merges.
  *   4. gates, in Spark's Int arithmetic: kept iff
  *      `len(t) >= minChars && len(t)*100 >= minDensityPct*len(raw)`
  *      with lengths in CODEPOINTS (Spark `length` = UTF8String.numChars).
  *   5. output struct `(n_blocks, n_kept, text)` where `text` is the
  *      kept blocks' `t` joined by single spaces ('' when none survive).
  *
  * NULL propagates; never throws. O(n) time and space, one pass for the
  * strip, one pass per block; no output amplification.
  */
case class MainContentExtract(child: Expression, minChars: Int,
    minDensityPct: Int) extends UnaryExpression {

  override def dataType: DataType = MainContentExtract.schema
  override def nullable: Boolean = true
  override def prettyName: String = "main_content"

  override def nullSafeEval(input: Any): Any =
    MainContentExtract.compute(input.asInstanceOf[UTF8String],
      minChars, minDensityPct)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.MainContentExtract.compute($c, $minChars, $minDensityPct)")

  override protected def withNewChildInternal(newChild: Expression): MainContentExtract =
    copy(child = newChild)
}

object MainContentExtract {

  val schema: StructType = StructType(Seq(
    StructField("n_blocks", IntegerType, nullable = false),
    StructField("n_kept", IntegerType, nullable = false),
    StructField("text", StringType, nullable = false)))

  def compute(u: UTF8String, minChars: Int, minDensityPct: Int): InternalRow = {
    val ns = stripScriptStyle(u.toString)
    var nBlocks = 0
    var nKept = 0
    val joined = new java.lang.StringBuilder(ns.length)
    // walk the block delimiters without materializing the block array
    var start = 0
    var done = false
    while (!done) {
      val d = nextBlockClose(ns, start) // (matchStart, matchEnd) or null
      val end = if (d == null) ns.length else d(0)
      nBlocks += 1
      val t = blockText(ns, start, end)
      if (keep(t, ns, start, end, minChars, minDensityPct)) {
        // array_join semantics: a separator between EVERY consecutive
        // pair of kept blocks, including empty-text blocks (reachable
        // at minChars = 0) — keyed off the kept COUNT, not the builder
        // length
        if (nKept > 0) joined.append(' ')
        nKept += 1
        joined.append(t)
      }
      if (d == null) done = true else start = d(1)
    }
    new GenericInternalRow(Array[Any](nBlocks, nKept,
      UTF8String.fromString(joined.toString)))
  }

  private def isWordChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      (c >= '0' && c <= '9') || c == '_'

  // ------------------------------------------------------- stage 1
  /** `(?is)<script\b[^>]*>.*?</script>|<style\b[^>]*>.*?</style>` → ' ',
    * left-to-right, replacement not rescanned, NO match when the close
    * tag (or the open tag's `>`) is missing. */
  private[functions] def stripScriptStyle(s: String): String = {
    val len = s.length
    val out = new java.lang.StringBuilder(len)
    var p = 0
    while (p < len) {
      val lt = s.indexOf('<', p)
      if (lt < 0) { out.append(s, p, len); return out.toString }
      out.append(s, p, lt)
      var consumed = false
      val name =
        if (AsciiCase.regionMatches(s, lt + 1, "script")) "script"
        else if (AsciiCase.regionMatches(s, lt + 1, "style")) "style"
        else null
      if (name != null) {
        val after = lt + 1 + name.length
        // \b: char after the name must not be a word char (end of input
        // also satisfies the boundary, but then `[^>]*>` cannot match)
        if (after >= len || !isWordChar(s.charAt(after))) {
          val g = s.indexOf('>', after)
          if (g >= 0) {
            val e = AsciiCase.indexOf(s, "</" + name + ">", g + 1)
            if (e >= 0) {
              out.append(' ')
              p = e + name.length + 3
              consumed = true
            }
          }
        }
      }
      if (!consumed) { out.append('<'); p = lt + 1 }
    }
    out.toString
  }

  // ------------------------------------------------------- stage 2
  private val BlockNames: Array[String] = Array(
    "p", "div", "section", "article", "li",
    "h1", "h2", "h3", "h4", "h5", "h6", "td", "blockquote")

  /** Next `</name>` delimiter at or after `from`: returns
    * `Array(matchStart, matchEnd)` or null. */
  private def nextBlockClose(s: String, from: Int): Array[Int] = {
    val len = s.length
    var i = from
    while (i < len) {
      val lt = s.indexOf('<', i)
      if (lt < 0 || lt + 2 >= len) return null
      if (s.charAt(lt + 1) == '/') {
        var k = 0
        while (k < BlockNames.length) {
          val n = BlockNames(k)
          val end = lt + 2 + n.length
          if (end < len && s.charAt(end) == '>' &&
              AsciiCase.regionMatches(s, lt + 2, n)) {
            // "p" would also prefix-match nothing longer; names are
            // checked with their terminating '>' so no ambiguity
            return Array(lt, end + 1)
          }
          k += 1
        }
      }
      i = lt + 1
    }
    null
  }

  // ------------------------------------------------------- stage 3
  /** Tag-strip + whitespace-collapse + trim of `s[start, end)` in one
    * walk. Stripped tags emit the same single space the collapse pass
    * would produce, so fusing the two regex stages is exact. */
  private def blockText(s: String, start: Int, end: Int): String = {
    val out = new java.lang.StringBuilder(end - start)
    var pendingWs = false
    var p = start
    while (p < end) {
      val c = s.charAt(p)
      if (c == '<') {
        // the composition runs `<[^>]*>` on the ISOLATED block string,
        // so the first `>` within [p+1, end) closes the tag and a `>`
        // beyond the block cannot be seen; no `>` → the `<` stays literal
        var g = -1
        var j = p + 1
        while (j < end && g < 0) {
          if (s.charAt(j) == '>') g = j
          j += 1
        }
        if (g >= 0) { pendingWs = true; p = g + 1 }
        else { if (pendingWs && out.length() > 0) out.append(' '); pendingWs = false; out.append('<'); p += 1 }
      } else if (c == ' ' || c == '\t' || c == '\n' || c == 11.toChar /* \u000B vertical tab */ ||
          c == '\f' || c == '\r') {
        pendingWs = true; p += 1
      } else {
        if (pendingWs && out.length() > 0) out.append(' ')
        pendingWs = false
        out.append(c); p += 1
      }
    }
    out.toString
  }

  // ------------------------------------------------------- stage 4
  /** Spark gate semantics: Int codepoint lengths, Int overflow on the
    * ×100 exactly as `length(x.t) * 100` (observationally unreachable —
    * a 21M-char block — but replicated rather than widened). */
  private def keep(t: String, s: String, start: Int, end: Int,
      minChars: Int, minDensityPct: Int): Boolean = {
    val tlen = t.codePointCount(0, t.length)
    if (tlen < minChars) return false
    val raw = s.codePointCount(start, end)
    tlen * 100 >= minDensityPct * raw
  }

  def apply(c: Column, minChars: Int, minDensityPct: Int): Column =
    columnOf(new MainContentExtract(expressionOf(c), minChars, minDensityPct))
}
