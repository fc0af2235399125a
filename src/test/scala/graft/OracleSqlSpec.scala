package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class OracleSqlSpec extends AnyFunSuite {

  test("materializes a CTE referenced twice") {
    val sql = "WITH a AS (SELECT 1 AS x), b AS (SELECT x FROM a) " +
      "SELECT * FROM a JOIN b USING (x)"
    val out = OracleSql.materializeCtes(sql)
    assert(out.contains("a AS MATERIALIZED (SELECT 1"))
    // b is referenced once — stays plain
    assert(out.contains("b AS (SELECT x FROM a)"))
  }

  test("leaves single-reference CTEs plain") {
    val sql = "WITH a AS (SELECT 1 AS x) SELECT * FROM a"
    assert(OracleSql.materializeCtes(sql) == sql)
  }

  test("never touches named WINDOW specs") {
    val sql = """SELECT rank() OVER w AS r, dense_rank() OVER w AS d,
                |       first_value(k) OVER wf AS f, last_value(k) OVER wf AS l
                |FROM t
                |WINDOW w AS (PARTITION BY g ORDER BY k),
                |       wf AS (PARTITION BY g ORDER BY k
                |              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin
    assert(OracleSql.materializeCtes(sql) == sql)
  }

  test("never touches recursive (self-referencing) CTEs") {
    val sql = "WITH RECURSIVE r AS (SELECT 1 AS n UNION ALL " +
      "SELECT n + 1 FROM r WHERE n < 5) SELECT * FROM r JOIN r r2 USING (n)"
    assert(OracleSql.materializeCtes(sql) == sql)
  }

  test("a column aliased to the CTE's own name is NOT recursive (ADVICE r13)") {
    // `sq AS (SELECT … AS sq FROM ps)` in a plain (non-RECURSIVE)
    // statement must still be materialized when multi-referenced — the
    // old any-word-occurrence self-ref check silently skipped it.
    val sql = "WITH ps AS (SELECT 1 AS x), " +
      "sq AS (SELECT x * x AS sq FROM ps) " +
      "SELECT * FROM sq JOIN sq s2 USING (sq)"
    val out = OracleSql.materializeCtes(sql)
    assert(out.contains("sq AS MATERIALIZED (SELECT x * x AS sq"))
  }

  test("in WITH RECURSIVE, only a FROM/JOIN read of its own name makes a CTE recursive") {
    // q51's shape: `sh` names its inner list and column after itself but
    // never reads itself; `reach` joins itself and must stay plain
    val sql = "WITH RECURSIVE " +
      "sh AS (SELECT doc_id, unnest(sh) AS s FROM (SELECT doc_id, [t] AS sh FROM docs) s0), " +
      "edges AS (SELECT a.doc_id AS da, b.doc_id AS db FROM sh a JOIN sh b USING (s)), " +
      "reach AS (SELECT doc_id AS a, doc_id AS b FROM docs UNION " +
      "SELECT r.a, e.db FROM reach r JOIN edges e ON e.da = r.b) " +
      "SELECT a, MIN(b) FROM reach JOIN reach r2 USING (a, b) GROUP BY a"
    val out = OracleSql.materializeCtes(sql)
    assert(out.contains("sh AS MATERIALIZED (SELECT doc_id, unnest(sh)"))
    assert(out.contains("reach AS (SELECT doc_id AS a"))
    assert(!out.contains("reach AS MATERIALIZED"))
  }

  test("WITH recursive_docs is NOT a recursive statement; WITH\\nRECURSIVE is (code-review r14)") {
    // a CTE merely NAMED with a 'recursive' prefix must still be
    // materialized when multi-referenced and self-aliasing
    val named = "WITH recursivestats AS (SELECT 1 AS recursivestats) " +
      "SELECT * FROM recursivestats a JOIN recursivestats b USING (recursivestats)"
    assert(OracleSql.materializeCtes(named)
      .contains("recursivestats AS MATERIALIZED"))
    // keyword split across whitespace still counts as recursive
    val split = "WITH\n  RECURSIVE r AS (SELECT 1 AS n UNION ALL " +
      "SELECT n + 1 FROM r WHERE n < 5) SELECT * FROM r JOIN r r2 USING (n)"
    assert(OracleSql.materializeCtes(split) == split)
    assert(OracleSql.isRecursiveStatement(split))
    assert(!OracleSql.isRecursiveStatement(named))
  }

  test("leading SQL comments do not hide WITH RECURSIVE (ADVICE r14)") {
    val rec = "SELECT n + 1 FROM r WHERE n < 5) SELECT * FROM r " +
      "JOIN r r2 USING (n)"
    // line comment, block comment, and a stack of both — all recursive
    val line = "-- a note\nWITH RECURSIVE r AS (SELECT 1 AS n UNION ALL " + rec
    val block = "/* a\nnote */ WITH RECURSIVE r AS (SELECT 1 AS n UNION ALL " + rec
    val both = "  -- x\n /* y */ -- z\nWITH RECURSIVE r AS (SELECT 1 AS n UNION ALL " + rec
    for (sql <- Seq(line, block, both)) {
      assert(OracleSql.isRecursiveStatement(sql), sql.take(30))
      // and therefore the self-referencing CTE is NOT materialized
      assert(OracleSql.materializeCtes(sql) == sql, sql.take(30))
    }
    // comments before a NON-recursive statement change nothing
    val plain = "-- note\nWITH a AS (SELECT 1 AS x) " +
      "SELECT * FROM a JOIN a a2 USING (x)"
    assert(!OracleSql.isRecursiveStatement(plain))
    assert(OracleSql.materializeCtes(plain).contains("a AS MATERIALIZED"))
  }

  test("leaves already-MATERIALIZED CTEs alone (no double keyword)") {
    val sql = "WITH a AS MATERIALIZED (SELECT 1 AS x) " +
      "SELECT * FROM a JOIN a a2 USING (x)"
    assert(OracleSql.materializeCtes(sql) == sql)
  }

  test("does not rewrite CAST(... AS TYPE(...)) false positives") {
    val sql = "WITH a AS (SELECT CAST(1 AS DECIMAL(38,6)) AS x) " +
      "SELECT * FROM a JOIN a a2 USING (x)"
    val out = OracleSql.materializeCtes(sql)
    assert(out.contains("a AS MATERIALIZED (SELECT CAST(1 AS DECIMAL(38,6))"))
    assert(!out.contains("DECIMAL MATERIALIZED"))
  }

  test("handles string literals containing parens") {
    val sql = "WITH a AS (SELECT '(((' AS x) SELECT * FROM a JOIN a a2 USING (x)"
    val out = OracleSql.materializeCtes(sql)
    assert(out.contains("a AS MATERIALIZED (SELECT '((('"))
  }

  test("multi-step cascade: every multi-referenced step is materialized") {
    val sql =
      """WITH s0 AS (SELECT 1 AS x),
        |s1 AS (SELECT x FROM s0),
        |t1 AS (SELECT SUM(x) AS t FROM s1),
        |n1 AS (SELECT x, (SELECT t FROM t1) AS t FROM s1)
        |SELECT * FROM n1""".stripMargin
    val out = OracleSql.materializeCtes(sql)
    assert(out.contains("s1 AS MATERIALIZED")) // referenced by t1 and n1
    assert(out.contains("s0 AS (SELECT 1"))    // single reference
    assert(out.contains("t1 AS (SELECT SUM")) // single reference
  }

  test("every assembled oracle has zero multi-referenced plain non-recursive CTEs") {
    // The repo-wide invariant VERDICT r12 #4 asked for: after assembly,
    // no oracle may contain a plain CTE that is read twice (DuckDB
    // would inline it exponentially). Recursive CTEs are exempt.
    val defP = """(?i)\b([a-zA-Z_][a-zA-Z0-9_]*)\s+AS\s+\(""".r
    for ((name, sql) <- SparkEntry.oracleSql) {
      val recursiveStmt = OracleSql.isRecursiveStatement(sql)
      for (m <- defP.findAllMatchIn(sql)) {
        val cte = m.group(1)
        val refs =
          ("""(?i)\b""" + java.util.regex.Pattern.quote(cte) + """\b""").r
            .findAllMatchIn(sql).size - 1
        // find the body to exempt self-referencing (recursive) CTEs and
        // WINDOW specs (body not starting with SELECT)
        val open = m.end - 1
        var depth = 0; var i = open; var close = -1
        while (i < sql.length && close < 0) {
          sql.charAt(i) match {
            case '(' => depth += 1
            case ')' => depth -= 1; if (depth == 0) close = i
            case '\'' =>
              i += 1; while (i < sql.length && sql.charAt(i) != '\'') i += 1
            case _ =>
          }
          i += 1
        }
        if (close > 0) {
          val body = sql.substring(open + 1, close)
          val isSelect =
            body.dropWhile(_.isWhitespace).take(6).equalsIgnoreCase("select")
          // same rule as materializeCtes: self-reference only possible
          // in a WITH RECURSIVE statement, and only as a FROM/JOIN read
          // (a CTE naming a column or list after itself is not recursive
          // and must be materialized)
          val selfRef = recursiveStmt &&
            ("""(?i)\b(?:from|join)\s+""" + java.util.regex.Pattern.quote(cte) + """\b""").r
              .findFirstIn(body).nonEmpty
          assert(!(isSelect && !selfRef && refs >= 2),
            s"$name: plain CTE '$cte' referenced ${refs}x — " +
              "DuckDB inlines every reference; needs AS MATERIALIZED")
        }
      }
    }
  }

  test("no oracle spells a JVM double as a bare fractional literal") {
    // DuckDB 1.0 reads a bare decimal through DECIMAL and can land 1 ulp
    // off the JVM's double; OracleSql.double quotes it. Whole numbers
    // (CAST(0.0 AS DOUBLE)) are exact either way.
    val bare = """CAST\(\s*(-?\d+\.\d+(?:[eE][-+]?\d+)?)\s+AS\s+DOUBLE\)""".r
    val offenders = SparkEntry.oracleSql.toSeq.flatMap { case (name, sql) =>
      bare.findAllMatchIn(sql).map(_.group(1))
        .find(d => !BigDecimal(d).isWhole).map(name -> _)
    }
    assert(offenders.isEmpty, s"bare fractional double literals: $offenders")
    assert(OracleSql.doubles(Seq(0.1, -2.5E-7)) ==
      "[CAST('0.1' AS DOUBLE), CAST('-2.5E-7' AS DOUBLE)]")
  }

  test("the engine primitives are spelled in DuckDB only in OracleSql.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"no $root under ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(root)
    val sources = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map((p: Path) => root.relativize(p).toString -> Files.readString(p))
    finally walk.close()
    assert(sources.exists(_._1 == "graft/OracleSql.scala"))
    // the tokenizer, the md5-60 hash and the 3-word shingles; q74's
    // Unicode tokenizer ([^\p{L}\p{N}_]+) is a different one
    val primitives = Seq(
      """string_split_regex\(lower\((?![^)]*\),\s*'\[\^\\+p\{L\})""".r,
      """, 1, 15\)\)::BIGINT""".r,
      """greatest\(len\(t\) - 1, 1\)""".r)
    val respelled = for {
      (f, text) <- sources if f != "graft/OracleSql.scala"
      p <- primitives if p.findFirstIn(text).isDefined
    } yield f -> p.toString
    assert(respelled.isEmpty, s"primitives spelled outside OracleSql: $respelled")
    // a fitted oracle comes back from its run (GraftQuery.fitted), never
    // through module state
    val stash = """\bvar\s+\w*OracleSql\b""".r
    val stashes = sources.collect { case (f, text) if stash.findFirstIn(text).isDefined => f }
    assert(stashes.isEmpty, s"oracle SQL held in a var: $stashes")
  }
}
