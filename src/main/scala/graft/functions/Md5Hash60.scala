package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.{columnOf, expressionOf}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd form of the engine's 60-bit md5-derived content hash.
  *
  * Value-identical to `conv(substring(md5(s), 1, 15), 16, 10)` — the first
  * 15 hex digits of the md5 are exactly the top 60 bits of the digest,
  * read here as one big-endian long — but without materializing the
  * 32-char hex string and re-parsing it per row. Used on the MinHash hot
  * path (8 hashes × every shingle), where the hex round-trip was ~40% of
  * per-row cost. DuckDB oracles keep reproducing it via the hex form.
  */
case class Md5Hash60(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "md5_hash60"

  override def nullSafeEval(input: Any): Any =
    Md5Hash60.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Md5Hash60.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Md5Hash60 =
    copy(child = newChild)
}

object Md5Hash60 {
  private[functions] val digest = ThreadLocal.withInitial[MessageDigest](() =>
    MessageDigest.getInstance("MD5"))

  /** Top 60 bits of md5(utf8(s)) as a non-negative long. */
  def compute(s: UTF8String): Long = {
    val md = digest.get()
    md.reset()
    top60(md.digest(s.getBytes))
  }

  /** The first 8 bytes of digest `d` big-endian, dropped to the top 60
    * bits (== parsing the first 15 hex chars base-16). */
  private[functions] def top60(d: Array[Byte]): Long = {
    val top = ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
      ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
      ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
      ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
    top >>> 4
  }

  def apply(c: Column): Column = columnOf(new Md5Hash60(expressionOf(c)))
}
