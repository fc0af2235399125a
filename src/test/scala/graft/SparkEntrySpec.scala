package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract invariants: catching a silent registry mistake here
  * is much cheaper than a missing/duplicated row in the round's
  * correctness artifact.
  */
class SparkEntrySpec extends AnyFunSuite {

  // queries exempt from oracle coverage: none since r6 — the q43/q67
  // estimates now ship error-law oracles (exact stats + within-5% bools)
  private val rowsOnly = Set.empty[String]

  // derived from SparkEntry.registry itself — never a hardcoded module
  // mirror (r13 lesson: the mirror desynchronized when modules were added)
  private val static = SparkEntry.registry

  test("every declared query has a unique, conventionally named key") {
    val names = static.map(_.name)
    assert(names.size == names.distinct.size, "duplicate query names in registry")
    // queries.toMap would silently collapse a duplicate key — size must agree
    assert(SparkEntry.queries.size == names.size, "queries map lost a registry entry")
    val bad = names.filterNot(_.matches("^q[0-9]+[a-z]*_[a-z0-9_]+$"))
    assert(bad.isEmpty, s"unconventional names: $bad")
  }

  test("every query is oracle-checked except the documented estimates") {
    val declared = SparkEntry.queries.keySet
    val oracled = SparkEntry.oracleSql.keySet
    // oracleSql only includes fitted oracles once their query ran;
    // compare against static declarations instead: a query is exempt
    // only if in the rows-only set or its oracle is fitted at run time
    assert(static.map(_.name).toSet == declared, "registry drift vs SparkEntry")
    val uncovered = static.filter(q =>
      q.oracle.isEmpty && !q.fitted && !rowsOnly(q.name))
    assert(uncovered.isEmpty,
      s"queries with no oracle and no documented exemption: ${uncovered.map(_.name)}")
    // and nothing in the rows-only set accidentally grew an oracle
    rowsOnly.foreach(n => assert(!oracled.contains(n), s"$n now has an oracle — update the docs"))
    // zero no_oracle rows is a round-6 invariant: every static query
    // either declares SQL or fits it at run time
    assert(static.forall(q => q.oracle.isDefined || q.fitted),
      "a query lost its oracle")
  }

  test("every static oracle aliases the same column names the query emits") {
    // cheap textual guard for the driver's sorted-column hash compare:
    // each emitted column name must literally appear in the oracle SQL
    val spark = SparkSpec.session
    val sf = "/root/testdata/sf0.001"
    val offenders = static.filter(q => !q.fitted && q.oracle.isDefined).flatMap { q =>
      val cols = q.run(spark, sf).columns
      val sql = q.oracle.get.toLowerCase
      val missing = cols.filterNot(c => sql.contains(c.toLowerCase))
      if (missing.isEmpty) None else Some(q.name -> missing.toSeq)
    }
    assert(offenders.isEmpty, s"oracle SQL missing column names: $offenders")
  }

  test("every fitted query, once run, has an oracle naming every column it emits") {
    val spark = SparkSpec.session
    val sf = "/root/testdata/sf0.001"
    val fitted = static.filter(_.fitted)
    assert(fitted.nonEmpty)
    val offenders = fitted.flatMap { q =>
      val cols = q.run(spark, sf).columns
      SparkEntry.oracleSql.get(q.name) match {
        case None => Some(q.name -> Seq("<no oracle after a run>"))
        case Some(sql) =>
          val missing = cols.filterNot(c => sql.toLowerCase.contains(c.toLowerCase))
          if (missing.isEmpty) None else Some(q.name -> missing.toSeq)
      }
    }
    assert(offenders.isEmpty, s"fitted oracles missing column names: $offenders")
  }

  test("a fitted query keeps the oracle of its latest run") {
    val spark = SparkSpec.session
    val q = GraftQuery.fitted("q0_fitted_probe") { (s, dir) =>
      (s.range(1).toDF("id"), s"SELECT 1 AS id -- $dir") }
    assert(q.fitted && q.oracle.isEmpty)
    q.run(spark, "a")
    q.run(spark, "b")
    assert(q.oracle.contains("SELECT 1 AS id -- b"))
  }
}
