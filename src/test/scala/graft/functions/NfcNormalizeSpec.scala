package graft.functions

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSpec

class NfcNormalizeSpec extends SparkSpec {

  test("compute: composed == NFC(decomposed); ASCII fast path returns the input object") {
    // decomposed e + U+0301 composes to U+00E9
    val dec = UTF8String.fromString("café")
    val com = UTF8String.fromString("café")
    assert(NfcNormalize.compute(dec) == com)
    assert(NfcNormalize.compute(com) eq com, "already-NFC must not copy")
    // ASCII: same object back, zero allocation on the hot path
    val ascii = UTF8String.fromString("plain ascii text")
    assert(NfcNormalize.compute(ascii) eq ascii)
    // ring + diaeresis compose
    assert(NfcNormalize.compute(UTF8String.fromString("Ångström"))
      == UTF8String.fromString("Ångström"))
  }

  test("pre-hash law: composed and decomposed forms of one string hash identically after NFC") {
    import spark.implicits._
    val docs = Seq((1L, "café résumé"),
      (2L, "café résumé")).toDF("doc_id", "text")
    val hashes = docs
      .select(md5(NfcNormalize(col("text"))).as("h"))
      .collect().map(_.getString(0)).distinct
    assert(hashes.length == 1,
      s"NFC must fold composed/decomposed to one hash key, got $hashes")
    // and WITHOUT normalization they differ — the dedup-miss this fixes
    val raw = docs.select(md5(col("text"))).collect().map(_.getString(0)).distinct
    assert(raw.length == 2)
  }

  test("NULL propagates; expression stays inside whole-stage codegen") {
    import spark.implicits._
    val n = Seq(Option.empty[String]).toDF("s")
      .select(NfcNormalize(col("s"))).collect().head
    assert(n.isNullAt(0))
    // a literal local relation constant-folds to LocalTableScan, so
    // drive the codegen check through a range-backed column instead
    val plan = spark.range(4)
      .select(NfcNormalize(concat(col("id").cast("string"), lit("x"))))
      .queryExecution.executedPlan.toString
    // the simple plan string marks whole-stage-codegen'd nodes with "*(n)"
    assert(plan.contains("*(1) Project [nfc_normalize"), plan)
  }
}
