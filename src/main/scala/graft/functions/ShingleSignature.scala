package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.{columnOf, expressionOf}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The engine's MinHash LSH signature of one document, folded over its
  * distinct-shingle array in one compiled loop.
  *
  * The family is the one every near-dedup query and its DuckDB oracle
  * declare: k = 8 hashes `h_i(s) = hash60(i || ':' || s)` ([[Md5Hash60]]
  * of the seeded string), b = 4 bands of r = 2 rows, and band j's
  * signature is `Long.toString(min h_2j) + "," + Long.toString(min
  * h_2j+1)`. Output: the 4 band signatures in band order, or NULL when
  * the array is NULL, empty, or all-null — such a document has no
  * shingles and therefore no band rows (an empty-array sentinel would
  * otherwise collide every short document into one shared bucket).
  *
  * Value-identical to the reference composition `explode(sh)` →
  * `hash60Seeded(i, s)` → `min` per seed → `concat(mh_2j, ',',
  * mh_2j+1)` (null elements are ignored like `min` ignores them), kept in
  * the test tree and asserted equal there. The fold needs no explode,
  * no per-seed `concat` string and no `groupBy(doc_id)`: the seeded
  * digest is fed the 2-byte prefix and the shingle's own bytes.
  */
case class MinHashBands(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_bands"

  override def nullSafeEval(input: Any): Any =
    MinHashBands.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.MinHashBands.compute($c);
      ${ev.isNull} = (${ev.value} == null);
    """)

  override protected def withNewChildInternal(newChild: Expression): MinHashBands =
    copy(child = newChild)
}

object MinHashBands {
  private val Hashes = 8
  private val Rows = 2

  private val buf = ThreadLocal.withInitial[Array[Byte]](() => new Array[Byte](16))
  // "i:" for every seed i, the prefix `hash60Seeded` concatenates
  private val prefixes = Array.tabulate(Hashes)(i => s"$i:".getBytes("UTF-8"))

  /** The 8 seeded minima, or null when no element is non-null. */
  private def minima(sh: ArrayData): Array[Long] = {
    val md = Md5Hash60.digest.get()
    md.reset()
    val d = buf.get()
    val mins = Array.fill(Hashes)(Long.MaxValue)
    var any = false
    val n = sh.numElements()
    var e = 0
    while (e < n) {
      if (!sh.isNullAt(e)) {
        any = true
        val s = sh.getUTF8String(e)
        // digest the shingle's bytes in place when they sit on the heap
        var bytes: Array[Byte] = null
        var off = 0
        s.getBaseObject match {
          case a: Array[Byte] =>
            bytes = a; off = (s.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt
          case _ => bytes = s.getBytes
        }
        var i = 0
        while (i < Hashes) {
          md.update(prefixes(i))
          md.update(bytes, off, s.numBytes)
          md.digest(d, 0, 16)
          val h = Md5Hash60.top60(d)
          if (h < mins(i)) mins(i) = h
          i += 1
        }
      }
      e += 1
    }
    if (any) mins else null
  }

  def compute(sh: ArrayData): ArrayData = {
    val m = minima(sh)
    if (m == null) return null
    val bands = new Array[Any](Hashes / Rows)
    var b = 0
    while (b < bands.length) {
      bands(b) = UTF8String.fromString(
        java.lang.Long.toString(m(b * Rows)) + "," + java.lang.Long.toString(m(b * Rows + 1)))
      b += 1
    }
    new GenericArrayData(bands)
  }

  def apply(sh: Column): Column = columnOf(new MinHashBands(expressionOf(sh)))
}

/** The ascending-sorted `xxhash64` keys (Spark's seed 42, the builtin
  * `xxhash64(s)` value) of a shingle array, one key per element (a null
  * element hashes to the seed, as `xxhash64(null)` does): the compact
  * per-document form verification intersects with [[SortedKeyOverlap]].
  * Keys are kept with multiplicity, so two distinct shingles that collide
  * on 64 bits count exactly as the `(doc, xxhash64)` equi-join counted
  * them. NULL propagates.
  */
case class ShingleKeys(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_keys"

  override def nullSafeEval(input: Any): Any =
    ShingleKeys.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleKeys.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): ShingleKeys =
    copy(child = newChild)
}

object ShingleKeys {
  private val Seed = 42L

  def compute(sh: ArrayData): ArrayData = {
    val n = sh.numElements()
    val keys = new Array[Long](n)
    var e = 0
    while (e < n) {
      keys(e) =
        if (sh.isNullAt(e)) Seed
        else {
          val s = sh.getUTF8String(e)
          XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, Seed)
        }
      e += 1
    }
    java.util.Arrays.sort(keys)
    UnsafeArrayData.fromPrimitiveArray(keys)
  }

  def apply(sh: Column): Column = columnOf(new ShingleKeys(expressionOf(sh)))
}

/** Size of the multiset intersection of two ascending-sorted key arrays
  * ([[ShingleKeys]]): one merge walk, and a key present `a` times on the
  * left and `b` times on the right contributes `a * b` — exactly the row
  * count of the equi-join on the key it replaces. NULL propagates.
  */
case class SortedKeyOverlap(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "sorted_key_overlap"

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedKeyOverlap.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.SortedKeyOverlap.compute($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedKeyOverlap =
    copy(left = newLeft, right = newRight)
}

object SortedKeyOverlap {
  def compute(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x < y) i += 1
      else if (y < x) j += 1
      else {
        var ra = 0L
        while (i < na && a.getLong(i) == x) { ra += 1; i += 1 }
        var rb = 0L
        while (j < nb && b.getLong(j) == x) { rb += 1; j += 1 }
        c += ra * rb
      }
    }
    c
  }

  def apply(a: Column, b: Column): Column =
    columnOf(new SortedKeyOverlap(expressionOf(a), expressionOf(b)))
}
