package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Cast, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DecimalType, DoubleType, FloatType, IntegerType, LongType}

import graft.functions.{BoundaryBucket, DechunkBody, DeflateBytes, DotProduct, GunzipBytes, GzipBytes, ImageHeader, InflateBytes, Md5Hash60, MediaHeader, NfcNormalize, SquaredDistance, WordNGrams, WordShingles, YamrPartition}

/** SparkSessionExtensions entry point: registers the engine's custom
  * Catalyst functions for SQL use, the TopKPerKey planner strategy, and
  * its filter-pushdown optimizer rule.
  *
  * This is the only place they are registered. Every session from
  * [[GraftSession.builder]] (each main, the benchmark and the test
  * suite) activates it through `spark.sql.extensions`, so
  * `SELECT yamr_partition(key, 8)` and `SELECT md5_hash60(s)` work in
  * plain SQL, codegen'd (SURVEY §7.4: the two genuinely custom
  * expressions the engine needs), and [[graft.plans.TopKPerKey.topK]]
  * plans through the injected strategy. A session built without it has
  * neither: `topK` then fails to plan.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => new graft.plans.TopKPerKeyStrategy)
    ext.injectOptimizerRule(_ => graft.plans.PushFilterThroughTopK)

    def register(name: String, cls: Class[_])(build: Seq[Expression] => Expression): Unit =
      ext.injectFunction((new FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))
    /** `name(params)` with exactly as many arguments as `params` names. */
    def fixed(name: String, params: String, cls: Class[_])(build: Seq[Expression] => Expression): Unit = {
      val arity = params.split(", ").length
      register(name, cls) { children =>
        require(children.size == arity,
          s"$name($params) takes $arity argument${if (arity == 1) "" else "s"}")
        build(children)
      }
    }
    def intLit(e: Expression, what: String): Int = e match {
      case Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(s"$what must be an int literal, got $other")
    }

    fixed("yamr_partition", "key, n", classOf[YamrPartition])(c => YamrPartition(c(0), c(1)))
    fixed("md5_hash60", "s", classOf[Md5Hash60])(c => Md5Hash60(c(0)))
    fixed("image_header", "payload", classOf[ImageHeader])(c => ImageHeader(c(0)))
    fixed("media_header", "payload", classOf[MediaHeader])(c => MediaHeader(c(0)))
    // Content-Encoding codecs: gzip, and RFC 9110 "deflate" (zlib-wrapped
    // compress; inflate falls back to raw deflate as browsers do)
    fixed("gzip_bytes", "bin", classOf[GzipBytes])(c => GzipBytes(c(0)))
    fixed("gunzip_bytes", "bin", classOf[GunzipBytes])(c => GunzipBytes(c(0)))
    fixed("deflate_bytes", "bin", classOf[DeflateBytes])(c => DeflateBytes(c(0)))
    fixed("inflate_bytes", "bin", classOf[InflateBytes])(c => InflateBytes(c(0)))
    fixed("dechunk_body", "s", classOf[DechunkBody])(c => DechunkBody(c(0)))
    // named after DuckDB's builtin, so the same SQL runs in both engines
    fixed("nfc_normalize", "s", classOf[NfcNormalize])(c => NfcNormalize(c(0)))
    fixed("dot_product", "a, b", classOf[DotProduct])(c => DotProduct(c(0), c(1)))
    fixed("squared_distance", "a, b", classOf[SquaredDistance])(c => SquaredDistance(c(0), c(1)))
    fixed("word_shingles", "toks, w", classOf[WordShingles])(
      c => WordShingles(c(0), intLit(c(1), "shingle width")))
    fixed("word_ngrams", "toks, n", classOf[WordNGrams])(
      c => WordNGrams(c(0), intLit(c(1), "n-gram width")))
    // rank-bucket assignment from a FOLDABLE boundaries array (SQL form
    // of the z-order/range-partition bucketer): the boundaries must be a
    // constant — they are compiled into the codegen'd binary search as a
    // reference object, exactly like the DataFrame path
    fixed("boundary_bucket", "value, boundaries", classOf[BoundaryBucket]) { c =>
      val b = c(1)
      val bounds = b.dataType match {
        case ArrayType(et, _) if b.foldable =>
          val data = b.eval(null).asInstanceOf[ArrayData]
          Array.tabulate(data.numElements()) { i =>
            // a null slot would otherwise unbox to 0.0 and silently
            // corrupt the bucket boundaries (code-review r11)
            require(!data.isNullAt(i),
              s"boundary_bucket boundaries must not contain NULL (element $i)")
            et match {
              case DoubleType => data.getDouble(i)
              case FloatType => data.getFloat(i).toDouble
              case IntegerType => data.getInt(i).toDouble
              case LongType => data.getLong(i).toDouble
              case d: DecimalType => data.getDecimal(i, d.precision, d.scale).toDouble
              case other => throw new IllegalArgumentException(
                s"boundary_bucket boundaries must be numeric, got $other")
            }
          }
        case _ => throw new IllegalArgumentException(
          "boundary_bucket boundaries must be a foldable numeric array literal")
      }
      BoundaryBucket(Cast(c(0), DoubleType), bounds)
    }
    // Spark ships BloomFilterAggregate/BloomFilterMightContain for its
    // internal runtime row-level filtering but does NOT register them as
    // SQL functions; exposing them makes the bloom-decontamination shape
    // (DataPrep.decontaminateBloom) writable in plain SQL — the bloom
    // side as a scalar subquery, which is one of the two input forms
    // might_contain accepts.
    register("bloom_filter_agg", classOf[BloomFilterAggregate]) {
      case Seq(c) => new BloomFilterAggregate(c)
      case Seq(c, items) => new BloomFilterAggregate(c, items)
      case Seq(c, items, bits) => new BloomFilterAggregate(c, items, bits)
      case _ => throw new IllegalArgumentException(
        "bloom_filter_agg(xxhash64_value[, expected_items[, num_bits]]) takes 1-3 arguments")
    }
    fixed("might_contain", "bloom, xxhash64_value", classOf[BloomFilterMightContain])(
      c => BloomFilterMightContain(c(0), c(1)))
  }
}
