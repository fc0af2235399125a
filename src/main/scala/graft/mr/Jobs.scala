package graft.mr

import org.apache.spark.sql.Dataset

/** Ports of the reference's two shipped jobs, as plain Scala functions
  * pluggable into [[MapReduce]].
  */
object Jobs {

  /** Tokenizer contract of yamr map_libs/word_count.py:16-20: regex `\w+`
    * findall → strip `,.` → lower → drop empty. Only findall → lower
    * runs: `\w` never matches `,` or `.` and a match is never empty, so
    * the strip and the drop change nothing (`JobsSpec` checks this
    * against the full composition). `(?U)` makes Java's `\w` match
    * Unicode word chars like Python 3's `re` (the reference tokenizes
    * Russian text in `onegin`).
    */
  private val wordRe = "(?U)\\w+".r
  def tokenize(data: String): Seq[String] =
    if (data == null) Seq.empty else wordRe.findAllIn(data).map(_.toLowerCase).toSeq

  /** ASCII tokenizer variant: identical to what `\W+`-split computes in
    * both Java regex and RE2 — use when results must match the DuckDB
    * oracle (which has no Unicode `\w`); `tokenize` is the
    * reference-parity Unicode form for the Russian `onegin` corpus.
    */
  private val asciiWordRe = "\\w+".r
  def tokenizeAscii(data: String): Seq[String] =
    if (data == null) Seq.empty else asciiWordRe.findAllIn(data).map(_.toLowerCase).toSeq

  /** Word count: map emits (word, 1); reduce sums (word_count.py:61-63). */
  def wordCount(corpus: Dataset[String],
      tokenizer: String => Seq[String] = tokenize): Dataset[(String, Long)] = {
    import corpus.sparkSession.implicits._
    MapReduce.mapReduceByKey(corpus)(
      (line: String) => tokenizer(line).map(_ -> 1L),
      (a: Long, b: Long) => a + b)
  }

  /** Pair parser for the max-temp job. The reference implementation calls
    * `json.loads` (max_year_temp.py:19) but its own shipped test feeds a
    * non-JSON tuple string `"(201504, 31.2), (201503, 42)"`
    * (tests/test_base_mappers.py:45-48) that json.loads rejects — the test
    * is broken as shipped. This tolerant regex parser covers both the
    * JSON corpus (map_libs/temperature.json) and the tuple-string fixture,
    * preserving the *intended* semantics of both.
    */
  private val pairRe = """(\d+)\s*,\s*(-?\d+(?:\.\d+)?)""".r
  def parseTempPairs(data: String): Seq[(Int, Double)] =
    if (data == null) Seq.empty
    else pairRe.findAllMatchIn(data).map { m =>
      // year = int(str(yyyymm)[:4]) — max_year_temp.py:21-22
      (m.group(1).take(4).toInt, m.group(2).toDouble)
    }.toSeq

  /** Max temperature per year: map emits (year, temp); reduce takes max
    * (max_year_temp.py:63-65).
    */
  def maxYearTemp(corpus: Dataset[String]): Dataset[(Int, Double)] = {
    import corpus.sparkSession.implicits._
    MapReduce.mapReduceByKey(corpus)(
      (chunk: String) => parseTempPairs(chunk),
      (a: Double, b: Double) => math.max(a, b))
  }
}
