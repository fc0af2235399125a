package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The native vector expressions must be BIT-identical to the
  * higher-order-function folds they replaced — that is what keeps every
  * cosine/IVF oracle hash-matching after the swap.
  */
class DotProductSpec extends SparkSpec {

  private def vecs() = {
    import spark.implicits._
    // values with non-terminating binary expansions, so any fold-order or
    // rounding difference shows up in the last ULPs
    (1 to 200).map { i =>
      (i.toLong,
        (0 until 64).map(j => (i * 31 + j * 7 + 1) / 9.7).toArray,
        (0 until 64).map(j => (i * 17 + j * 13 + 2) / 3.1).toArray)
    }.toDF("id", "a", "b")
  }

  test("dot_product equals the zip_with/aggregate fold bit-for-bit") {
    val df = vecs()
    val rows = df.select(
      DotProduct(col("a"), col("b")).as("native"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0.0), (s, v) => s + v).as("hof"))
      .collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)),
        s"native=${r.getDouble(0)} hof=${r.getDouble(1)}")
    }
  }

  test("squared_distance equals the zip_with/aggregate fold bit-for-bit") {
    val df = vecs()
    val rows = df.select(
      SquaredDistance(col("a"), col("b")).as("native"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => (x - y) * (x - y)),
        lit(0.0), (s, v) => s + v).as("hof"))
      .collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("length mismatch throws loudly instead of scoring wrong") {
    import spark.implicits._
    val df = Seq((Array(1.0, 2.0), Array(1.0, 2.0, 3.0))).toDF("a", "b")
    val e = intercept[Exception] {
      df.select(DotProduct(col("a"), col("b"))).collect()
    }
    assert(e.getMessage.contains("length mismatch") ||
      e.getCause != null && e.getCause.getMessage.contains("length mismatch"),
      s"got $e")
  }
}
