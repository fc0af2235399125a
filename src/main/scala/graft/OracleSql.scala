package graft

/** The DuckDB spelling of the engine's primitives, and oracle SQL
  * hygiene.
  *
  * Every oracle spells a primitive (tokenizer, shingles, md5-60 hash,
  * yamr partition, JVM double literal) through the one helper below that
  * mirrors the engine function, so an oracle can not drift from the
  * engine one copy at a time.
  *
  * Hygiene (the round-12 gate-killer lesson): DuckDB 1.x inlines every *reference* to a plain (non-MATERIALIZED)
  * CTE. A cascade where each step is read twice therefore re-evaluates
  * its whole upstream tree per reference — the 6-half-step HITS oracle
  * (q162) went from 0.7 s materialized to >45 min plain at sf0.001 and
  * starved the driver's entire correctness budget (CORRECTNESS_r12 was
  * wiped to `{}`). Hand-applying `AS MATERIALIZED` per oracle proved
  * unreliable (the BPE oracle had it, HITS did not), so the convention
  * is now enforced centrally: [[materializeCtes]] runs over EVERY
  * oracle — static and generated — at [[SparkEntry.oracleSql]] assembly.
  *
  * Rewrite rule: a CTE definition `name AS (SELECT …)` becomes
  * `name AS MATERIALIZED (SELECT …)` iff
  *   - its body starts with SELECT (named-WINDOW specs — `WINDOW w AS
  *     (PARTITION …)` — start with PARTITION/ORDER/ROWS/RANGE and are
  *     left alone),
  *   - it is not already MATERIALIZED,
  *   - it is not recursive. A CTE can only be recursive when the
  *     statement begins `WITH RECURSIVE` (SQL standard; DuckDB agrees),
  *     and only a body that reads its own name as a table — right after
  *     FROM or JOIN — is recursive. A body that merely names a column or
  *     list after the CTE (`sq AS (SELECT … AS sq FROM ps)`, q51's
  *     `sh AS (SELECT … unnest(sh) … FROM (SELECT … AS sh …))`) is NOT
  *     recursive and must still be rewritten (ADVICE r13),
  *   - the full statement references it at least twice outside its own
  *     header (single-reference CTEs stay plain so DuckDB can still
  *     inline + push filters through them).
  */
object OracleSql {

  /** Mirrors [[graft.functions.TextFunctions.tokens]]: lowercased `\W+`
    * split with the empty tokens dropped. RE2's `\W` is ASCII, as Java's
    * is without `(?U)`. */
  def tokens(text: String): String =
    s"list_filter(string_split_regex(lower($text), '\\W+'), x -> x <> '')"

  /** Mirrors [[graft.functions.WordShingles]] at width 3: the distinct
    * space-joined 3-token windows of the token list `t`, in first-seen
    * order; empty below 3 tokens. */
  def shingles(t: String): String =
    s"list_distinct(list_transform(range(1, greatest(len($t) - 1, 1)), " +
      s"i -> $t[i] || ' ' || $t[i+1] || ' ' || $t[i+2]))"

  /** Mirrors [[graft.functions.Md5Hash60]]: the top 60 bits of md5(e),
    * i.e. its first 15 hex digits, as a BIGINT. */
  def hash60(e: String): String = s"('0x' || substr(md5($e), 1, 15))::BIGINT"

  /** Mirrors [[graft.functions.YamrPartition]]: the UTF-8 bytes (given as
    * the hex string `hex`) read as one big-endian unsigned integer, mod
    * `n`, folded Horner-style so no key length overflows a BIGINT. */
  def yamrPartition(hex: String, n: Int): String =
    s"""list_reduce(
       |  list_prepend(0::BIGINT,
       |    list_transform(range(1, length($hex) // 2 + 1),
       |      i -> ('0x' || substr($hex, CAST(i*2-1 AS INT), 2))::BIGINT)),
       |  (a, b) -> (a * 256 + b) % $n)""".stripMargin

  /** A JVM double as DuckDB reads it back bit for bit: the QUOTED
    * `Double.toString`. A bare numeric literal goes through DECIMAL first
    * in DuckDB 1.0 and can land 1 ulp off (measured on q105's
    * '-0.12443208269492143'); the quoted form takes correctly-rounded
    * strtod. */
  def double(d: Double): String = s"CAST('$d' AS DOUBLE)"

  /** A DOUBLE list literal of [[double]]s. */
  def doubles(a: Iterable[Double]): String = a.map(double).mkString("[", ", ", "]")

  private val DefPattern =
    """(?i)\b([a-zA-Z_][a-zA-Z0-9_]*)\s+AS\s+(MATERIALIZED\s+)?\(""".r

  /** Index of the `(`'s matching `)`, or -1 if unbalanced. */
  private def matchParen(sql: String, open: Int): Int = {
    var depth = 0
    var i = open
    while (i < sql.length) {
      sql.charAt(i) match {
        case '(' => depth += 1
        case ')' =>
          depth -= 1
          if (depth == 0) return i
        case '\'' => // skip string literal ('' is an escaped quote and
          // re-enters literal mode on the next loop step, which is fine)
          i += 1
          while (i < sql.length && sql.charAt(i) != '\'') i += 1
        case _ =>
      }
      i += 1
    }
    -1
  }

  private def wordCount(hay: String, word: String): Int =
    ("""(?i)\b""" + java.util.regex.Pattern.quote(word) + """\b""").r
      .findAllMatchIn(hay).size

  /** True iff `sql` reads `table` in FROM or JOIN position. */
  private def readsTable(sql: String, table: String): Boolean =
    ("""(?i)\b(?:from|join)\s+""" + java.util.regex.Pattern.quote(table) + """\b""").r
      .findFirstIn(sql).isDefined

  /** Strip leading whitespace and SQL comments (`-- …\n` line comments
    * and `/* … */` block comments, any number, any order) so prefix
    * classification sees the first real token. Unterminated block
    * comments strip to end-of-string (the statement is broken anyway —
    * classification must still terminate). */
  private def dropLeadingComments(sql: String): String = {
    var s = sql
    var changed = true
    while (changed) {
      val t = s.dropWhile(_.isWhitespace)
      val u =
        if (t.startsWith("--")) {
          val nl = t.indexOf('\n')
          if (nl < 0) "" else t.substring(nl + 1)
        } else if (t.startsWith("/*")) {
          val end = t.indexOf("*/", 2)
          if (end < 0) "" else t.substring(end + 2)
        } else t
      changed = u != s
      s = u
    }
    s
  }

  /** True iff the statement can contain a recursive CTE at all. Word
    * boundaries matter both ways: `WITH recursive_docs AS …` is NOT a
    * recursive statement (a 14-char prefix check would misread it and
    * skip materialization), and `WITH\nRECURSIVE` IS one (code-review
    * r14). Leading comments are stripped first: `-- note\nWITH RECURSIVE`
    * IS recursive, and anchoring on the raw string would misclassify it
    * and inject MATERIALIZED into a genuinely recursive CTE (ADVICE
    * r14). */
  def isRecursiveStatement(sql: String): Boolean =
    """(?is)^\s*with\s+recursive\b""".r
      .findFirstIn(dropLeadingComments(sql)).isDefined

  def materializeCtes(sql: String): String = {
    val recursiveStmt = isRecursiveStatement(sql)
    // Collect (defStart, insertAt, name, bodyStart, bodyEnd) for every
    // qualifying plain CTE definition.
    val edits = DefPattern.findAllMatchIn(sql).flatMap { m =>
      val name = m.group(1)
      val already = m.group(2) != null
      val open = m.end - 1
      val close = matchParen(sql, open)
      if (already || close < 0) None
      else {
        val body = sql.substring(open + 1, close)
        val bodyIsSelect = body.dropWhile(_.isWhitespace)
          .take(6).equalsIgnoreCase("select")
        val selfRef = recursiveStmt && readsTable(body, name)
        // references = total mentions − this definition's own header
        val refs = wordCount(sql, name) - 1
        if (bodyIsSelect && !selfRef && refs >= 2)
          Some((m.start(0) + m.group(1).length, name)) // insert after name
        else None
      }
    }.toList
    // Apply right-to-left so earlier offsets stay valid. The insertion
    // point is immediately after the CTE name; keep the original
    // "<name> AS " spelling and inject the keyword after "AS".
    edits.sortBy(-_._1).foldLeft(sql) { case (acc, (afterName, _)) =>
      // afterName points just past the name; the next token is AS.
      // Find the end of that AS token and insert " MATERIALIZED" there.
      val asEnd = {
        var i = afterName
        while (i < acc.length && acc.charAt(i).isWhitespace) i += 1
        i + 2 // past "AS"
      }
      acc.substring(0, asEnd) + " MATERIALIZED" + acc.substring(asEnd)
    }
  }
}
