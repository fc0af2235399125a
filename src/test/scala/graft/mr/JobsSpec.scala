package graft.mr

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.util.matching.Regex

import graft.SparkSpec

/** Ports of the reference's golden unit tests (FIXTURES.md §A; original
  * yamr tests/test_base_mappers.py, tests/test_reducers.py) with correct
  * group semantics.
  */
class JobsSpec extends SparkSpec {

  // A1 — word-count map goldens (test_base_mappers.py:7-41)
  test("tokenize: duplicates preserved pre-reduce") {
    assert(Jobs.tokenize("aa yy jj aa") == Seq("aa", "yy", "jj", "aa"))
  }
  test("tokenize: whitespace runs") {
    assert(Jobs.tokenize("  aa cc   yy jj   aa") == Seq("aa", "cc", "yy", "jj", "aa"))
  }
  test("tokenize: , and . stripped") {
    assert(Jobs.tokenize("  aa cc.   yy jj,   aa") == Seq("aa", "cc", "yy", "jj", "aa"))
  }
  test("tokenize: newlines") {
    assert(Jobs.tokenize("aa cc\naa bb") == Seq("aa", "cc", "aa", "bb"))
  }
  test("tokenize: null input maps to nothing (word_count.py:13-14)") {
    assert(Jobs.tokenize(null) == Seq.empty)
  }
  test("tokenize: unicode word chars (onegin corpus is Russian)") {
    assert(Jobs.tokenize("Мой дядя") == Seq("мой", "дядя"))
  }
  test("tokenize and tokenizeAscii == the reference composition on hostile input") {
    import JobsSpec.referenceTokenize
    val corpus = new String(Files.readAllBytes(Paths.get(MultiScriptCorpus.path)), UTF_8)
    val hostile = Seq(
      "a,b.c ,d. .e, ,,f.. word.,", // , and . next to words
      "snake_case _x y_ __ a\u203Fb \u203F", // connector punctuation
      "cafe\u0301 e\u0301te\u0301 \u0301x", // combining marks
      "a\u200Db a\u200Cb \u200D", // ZWJ, ZWNJ
      "\uD835\uDC00bc x\uD835\uDC00", // U+1D400, a supplementary-plane letter
      "\u0130stanbul \u212Aelvin \u0130 \u212A", // case folds that change length or script
      "", null)
    val inputs = corpus.split("\n", -1).toSeq ++ hostile
    val (unicode, ascii) = (referenceTokenize("(?U)\\w+".r) _, referenceTokenize("\\w+".r) _)
    for (in <- inputs) {
      assert(Jobs.tokenize(in) == unicode(in), String.valueOf(in))
      assert(Jobs.tokenizeAscii(in) == ascii(in), String.valueOf(in))
    }
    assert(inputs.flatMap(Jobs.tokenize).length > 20000)
    assert(Jobs.tokenize("a\u203Fb \u212A") == Seq("a\u203Fb", "k"))
  }

  // A2 — max-temp map/reduce goldens (test_base_mappers.py:43-58)
  test("max-temp map: tuple-string fixture") {
    assert(Jobs.parseTempPairs("(201504, 31.2), (201503, 42)") ==
      Seq((2015, 31.2), (2015, 42.0)))
  }
  test("max-temp map: JSON corpus format (temperature.json)") {
    assert(Jobs.parseTempPairs("[[201501, 31.2],[201307, 32]]") ==
      Seq((2015, 31.2), (2013, 32.0)))
  }
  test("max-temp reduce: MAX per key") {
    import spark.implicits._
    val in = Seq("(201504, 31.2), (201501, 41), (201601, 11)").toDS()
    val got = Jobs.maxYearTemp(in).collect().sortBy(_._1).toSeq
    assert(got == Seq((2015, 41.0), (2016, 11.0)))
  }

  test("max-temp reduce keeps math.max's signed zeros") {
    import spark.implicits._
    // math.max(-0.0, 0.0) is 0.0 in either order and a lone -0.0 stays
    // -0.0; Catalyst `max` compares -0.0 == 0.0 and keeps whichever came
    // first, so a swap to it would change these bits
    val in = Seq("(201501, -0.0), (201502, 0), (201601, -0.0)").toDS()
    val got = Jobs.maxYearTemp(in).collect().toMap
      .map { case (y, t) => y -> java.lang.Double.doubleToRawLongBits(t) }
    assert(got == Map(2015 -> java.lang.Double.doubleToRawLongBits(0.0),
      2016 -> java.lang.Double.doubleToRawLongBits(-0.0)))
  }

  // A3 — reduce/group goldens (test_reducers.py:6-23)
  test("wordcount end-to-end reduce golden") {
    import spark.implicits._
    val in = Seq("a a a cc dd dd zz zz").toDS()
    val got = Jobs.wordCount(in).collect().sortBy(_._1).toSeq
    assert(got == Seq(("a", 3L), ("cc", 1L), ("dd", 2L), ("zz", 2L)))
  }
  test("bug-regression (SURVEY §2.4): unsorted multi-mapper input groups correctly") {
    import spark.implicits._
    // reference emits [(b,0),(a,1),(b,1)] for this input; we assert the
    // intended semantics: one group per key
    val in = Seq("b", "a").toDS() // two "mappers", keys arrive unsorted
    val got = Jobs.wordCount(in).collect().sortBy(_._1).toSeq
    assert(got == Seq(("a", 1L), ("b", 1L)))
  }

  // A5 — multi-mapper shuffle fixture (reducer.py:189-195: map1+map2 only)
  test("multi-mapper concat reduces to per-key totals") {
    import spark.implicits._
    val map1 = "a a a b b"
    val map2 = "a b b d"
    val got = Jobs.wordCount(Seq(map1, map2).toDS()).collect().sortBy(_._1).toSeq
    assert(got == Seq(("a", 4L), ("b", 4L), ("d", 1L)))
  }

  // A6 — E2E corpus: a distributed count matches a single-process count,
  // over the in-repo multi-script corpus and, where the host has it, the
  // reference's alice corpus
  test("multi-script corpus (and alice where present): distributed count == naive single-process count") {
    val path = "/root/reference/alice"
    import spark.implicits._
    for (corpus <- MultiScriptCorpus.path +: Seq(path).filter(new java.io.File(_).exists())) {
      val dist = Jobs.wordCount(spark.read.textFile(corpus)).collect().toMap
      val src = scala.io.Source.fromFile(corpus, "UTF-8")
      val naive = try src.getLines().flatMap(Jobs.tokenize).toSeq
        .groupMapReduce(identity)(_ => 1L)(_ + _) finally src.close()
      assert(dist.size == naive.size, corpus)
      assert(dist("alice") == naive("alice"), corpus)
      assert(dist == naive, corpus)
    }
  }

  test("generic mapReduce: fully-general reduce contract (1 group → N rows)") {
    import spark.implicits._
    val ds = Seq("x y x", "y z").toDS()
    val out = MapReduce.mapReduce(ds)(
      (s: String) => s.split(" ").map(_ -> 1),
      (k: String, vs: Iterator[Int]) => {
        val n = vs.sum
        if (n > 1) Seq(k -> n, s"${k}_dup" -> n) else Seq(k -> n)
      }).collect().sortBy(_._1).toSeq
    assert(out == Seq(("x", 2), ("x_dup", 2), ("y", 2), ("y_dup", 2), ("z", 1)))
  }
}

object JobsSpec {
  /** The reference's tokenizer step for step (word_count.py:16-20):
    * findall → strip `,.` → lower → drop empty. `Jobs.tokenize` and
    * `tokenizeAscii` skip the strip and the drop, which change nothing
    * after a `\w+` match. */
  def referenceTokenize(wordRe: Regex)(data: String): Seq[String] =
    if (data == null) Seq.empty
    else wordRe.findAllIn(data).map(w => strip(w).toLowerCase).filter(_.nonEmpty).toSeq

  private def strip(w: String): String = // Python str.strip(',.')
    w.dropWhile(c => c == ',' || c == '.').reverse
      .dropWhile(c => c == ',' || c == '.').reverse
}
