package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.MainContent

/** Bit-equality law for [[MainContentExtract]] against the RETAINED
  * reference composition (MainContent.stripScriptStyle + keptExpr /
  * mainTextCol — the exact pipeline the DuckDB oracle replays), the
  * CdcSpec discipline: the native expression may only ever be a faster
  * spelling of the reference, never a different answer.
  */
class MainContentExtractSpec extends SparkSpec {
  import spark.implicits._

  /** (n_blocks, n_kept, text) via the reference HOF/regex composition. */
  private def referenceRows(htmls: Seq[String], minChars: Int, pct: Int) =
    htmls.toDF("html")
      .select(MainContent.stripScriptStyle(col("html")).as("__ns"))
      .select(
        expr(s"size(split(__ns, '${MainContent.BlockCloseRe}'))").as("nb"),
        expr(s"size(${MainContent.keptExpr("__ns", minChars, pct)})").as("nk"),
        MainContent.mainTextCol("__ns", minChars, pct).as("t"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2))).toList

  private def nativeRows(htmls: Seq[String], minChars: Int, pct: Int) =
    htmls.toDF("html")
      .select(MainContentExtract(col("html"), minChars, pct).as("mc"))
      .select(col("mc.n_blocks"), col("mc.n_kept"), col("mc.text"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2))).toList

  private val article =
    "Heavy machinery rearranges partitions across the cluster floor " * 4

  private val fixtures: Seq[String] = Seq(
    // the q197 page shape: nav, cookie banner, article, promo, footer
    "<html><head><script>track('42');</script></head><body>\n" +
      "<div class=\"nav\"><a href=\"/\">Home</a> <a href=\"/about\">About</a></div>\n" +
      "<div class=\"cookie\">We use cookies.</div>\n<article><p>" + article +
      "</p></article>\n<div class=\"footer\">© 2026 Example Corp</div>\n</body></html>",
    // degenerate inputs
    "", "x", "no tags at all just plain text that is long enough " * 3,
    // script/style edge cases
    "<script>alert(1)</script>" + article + "</p>",
    "<SCRIPT TYPE=\"x\">var a;</ScRiPt><p>" + article + "</p>",
    "<style>.a{}</style><div>" + article + "</div>",
    "<script>unclosed body " + article,              // unclosed: body survives tag-strip
    "<script" + article + "</script>",               // no `>` on the open tag
    "<script-x>weird name</script><p>" + article + "</p>", // \b after a non-word char
    "<scripts>not a script</scripts><p>" + article + "</p>",
    "<style>a</style><style>b</style><p>" + article + "</p>",
    "<script>a<script>nested</script>rest</p>" + article + "</p>",
    // tag soup / lone angle brackets
    "a < b and c > d " + article + "</p>",
    "<p>" + article + "<unclosed tag " + "</p>",
    "trailing</p>", "</p>leading" + article + "</p>", "</p></p>",
    // block-close variety incl. case
    "<P>" + article + "</P><H3>head</H3><td>cell</td><blockquote>" +
      article + "</blockquote><li>item</li><section>s</section>",
    // whitespace variety: tab, newline, VT, FF, CR, NBSP (NBSP is NOT \s)
    "<p>a\tb\nc" + 11.toChar + "d\fe\rf\u00A0g " + article + "</p>",
    "<p> \t\r\n </p><div>" + article + "</div>",
    // multi-byte and astral codepoints (density counts CODEPOINTS)
    "<p>" + ("世界😀" * 40) + "</p>",
    "<p>" + ("éèê " * 30) + "</p>",
    // entities are NOT decoded by this operator
    "<p>&amp; &lt; &#65; " + article + "</p>",
    // density boundary: text exactly 50% of raw (pct*raw == 100*len)
    "<p>" + ("x" * 30) + ("<i></i>" * 5) + "</p>",
    // minChars boundary: exactly 30 and 29 visible chars, density 100%
    "<p></p>" + ("y" * 30) + "</p>", "<p></p>" + ("y" * 29) + "</p>")

  test("native == reference bit-identical over the fixture sweep (30/50)") {
    val ref = referenceRows(fixtures, 30, 50)
    val nat = nativeRows(fixtures, 30, 50)
    fixtures.indices.foreach { i =>
      assert(nat(i) == ref(i), s"fixture $i: ${fixtures(i).take(80)}")
    }
    // non-vacuity: the sweep must exercise kept AND dropped blocks,
    // multi-block pages, and empty-result pages
    assert(ref.exists(_._2 > 0), "no fixture kept any block")
    assert(ref.exists(r => r._1 > r._2 && r._2 > 0), "no fixture mixed kept/dropped")
    assert(ref.exists(_._2 == 0), "no fixture dropped everything")
    assert(ref.exists(_._1 > 3), "no multi-block fixture")
  }

  test("native == reference on alternate thresholds (0/0 and 10/90)") {
    for ((mc, pct) <- Seq((0, 0), (10, 90))) {
      assert(nativeRows(fixtures, mc, pct) == referenceRows(fixtures, mc, pct),
        s"thresholds ($mc, $pct)")
    }
  }

  test("native == reference over the sf0.001 q197 fixture corpus") {
    val docs = graft.sources.Tables.documents(spark, sf001)
    val withHtml = docs.limit(200).select(concat(
      lit("<html><head><script>track('"), col("doc_id").cast("string"),
      lit("');</script></head><body><div class=\"nav\"><a href=\"/\">Home</a></div>" +
        "<div class=\"cookie\">We use cookies.</div><article><p>"),
      col("text"),
      lit("</p></article><div class=\"footer\">© 2026 Example Corp</div></body></html>"))
      .as("html"))
    val htmls = withHtml.collect().map(_.getString(0)).toSeq
    val ref = referenceRows(htmls, 30, 50)
    val nat = nativeRows(htmls, 30, 50)
    assert(nat == ref)
    assert(ref.exists(_._2 > 0) && ref.forall(_._1 >= 4))
  }

  test("tag names fold ASCII case only, like the reference's (?i) regex") {
    // U+017F (ſ) upper-cases to 'S', U+212A (Kelvin) lower-cases to 'k'
    // and U+0130 (İ) lower-cases to 'i', but none of them matches under
    // (?i) without UNICODE_CASE: these are plain tags, not script/style
    // subtrees or block delimiters
    val lookalikes = Seq(
      "<\u017Fcript>keepme</script><p>" + article + "</p>",
      "<script>keepme</\u017Fcript><p>" + article + "</p>",
      "<\u017Ftyle>keepme</style><p>" + article + "</p>",
      "<SCR\u0130PT>keepme</script><p>" + article + "</p>",
      "<p>" + article + "</bloc\u212Aquote><div>keepme " + article + "</div>",
      "<p>" + article + "</d\u0130v><p>keepme " + article + "</p>")
    val ref = referenceRows(lookalikes, 30, 50)
    assert(nativeRows(lookalikes, 30, 50) == ref)
    // non-vacuity: a Unicode-folding match would have dropped or split
    // off the marked text in every fixture
    assert(ref.forall(_._3.contains("keepme")), ref.mkString("\n"))
    assert(ref.forall(_._1 == 2), ref.mkString("\n"))
  }

  test("null propagates; struct fields are never null on non-null input") {
    val out = Seq[(java.lang.Long, String)]((1L, null), (2L, ""), (3L, "<p>x</p>"))
      .toDF("id", "html")
      .select(col("id"), MainContentExtract(col("html"), 30, 50).as("mc"))
      .orderBy("id").collect()
    assert(out(0).isNullAt(1))
    assert(!out(1).isNullAt(1) && !out(2).isNullAt(1))
  }
}
