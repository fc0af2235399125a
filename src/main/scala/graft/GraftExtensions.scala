package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{BoundaryBucket, DechunkBody, DeflateBytes, DotProduct, GunzipBytes, GzipBytes, ImageHeader, InflateBytes, Md5Hash60, MediaHeader, NfcNormalize, SquaredDistance, WordNGrams, WordShingles, YamrPartition}

/** SparkSessionExtensions entry point: registers the engine's custom
  * Catalyst functions for SQL use, the TopKPerKey planner strategy, and
  * its filter-pushdown optimizer rule.
  *
  * Every [[GraftSession]] session activates it through
  * `spark.sql.extensions`; any other builder can add the same config or
  * `.withExtensions(new GraftExtensions)` — then
  * `SELECT yamr_partition(key, 8)` and `SELECT md5_hash60(s)` work in
  * plain SQL, codegen'd (SURVEY §7.4: the two genuinely custom
  * expressions the engine needs), and [[graft.plans.TopKPerKey.topK]]
  * plans through the injected strategy. (On sessions built without
  * extensions, `TopKPerKey.ensureRegistered` installs the same pair via
  * `spark.experimental`.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => new graft.plans.TopKPerKeyStrategy)
    ext.injectOptimizerRule(_ => graft.plans.PushFilterThroughTopK)
    ext.injectFunction((
      new FunctionIdentifier("yamr_partition"),
      new ExpressionInfo(classOf[YamrPartition].getName, "yamr_partition"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "yamr_partition(key, n) takes 2 arguments")
        YamrPartition(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("md5_hash60"),
      new ExpressionInfo(classOf[Md5Hash60].getName, "md5_hash60"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "md5_hash60(s) takes 1 argument")
        Md5Hash60(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("image_header"),
      new ExpressionInfo(classOf[ImageHeader].getName, "image_header"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "image_header(payload) takes 1 argument")
        ImageHeader(children.head)
      }))
    // gzip scalar pair (round 16): the in-plan halves of the gzip
    // story — Content-Encoding payload decode on the ingest hot path
    ext.injectFunction((
      new FunctionIdentifier("gzip_bytes"),
      new ExpressionInfo(classOf[GzipBytes].getName, "gzip_bytes"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "gzip_bytes(bin) takes 1 argument")
        GzipBytes(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("gunzip_bytes"),
      new ExpressionInfo(classOf[GunzipBytes].getName, "gunzip_bytes"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "gunzip_bytes(bin) takes 1 argument")
        GunzipBytes(children.head)
      }))
    // deflate scalar pair (round 17): the RFC 9110 "deflate" coding —
    // zlib-wrapped compress; refusal-grade inflate with the browser
    // raw-deflate fallback
    ext.injectFunction((
      new FunctionIdentifier("deflate_bytes"),
      new ExpressionInfo(classOf[DeflateBytes].getName, "deflate_bytes"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "deflate_bytes(bin) takes 1 argument")
        DeflateBytes(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("inflate_bytes"),
      new ExpressionInfo(classOf[InflateBytes].getName, "inflate_bytes"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "inflate_bytes(bin) takes 1 argument")
        InflateBytes(children.head)
      }))
    // single-pass HTTP chunked-body decode (round 17 — the dechunk
    // hot-path expression)
    ext.injectFunction((
      new FunctionIdentifier("dechunk_body"),
      new ExpressionInfo(classOf[DechunkBody].getName, "dechunk_body"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "dechunk_body(s) takes 1 argument")
        DechunkBody(children.head)
      }))
    // Unicode NFC canonical form (named after DuckDB's builtin so the
    // same SQL runs in both engines) — the pre-hash normalization every
    // byte-keyed dedup stage needs
    ext.injectFunction((
      new FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "nfc_normalize(s) takes 1 argument")
        NfcNormalize(children.head)
      }))
    // audio/video half of the multimodal surface — same SQL parity as
    // image_header (VERDICT r10 missing #1)
    ext.injectFunction((
      new FunctionIdentifier("media_header"),
      new ExpressionInfo(classOf[MediaHeader].getName, "media_header"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "media_header(payload) takes 1 argument")
        MediaHeader(children.head)
      }))
    // rank-bucket assignment from a FOLDABLE boundaries array (SQL form
    // of the z-order/range-partition bucketer): the boundaries must be a
    // constant — they are compiled into the codegen'd binary search as a
    // reference object, exactly like the DataFrame path
    ext.injectFunction((
      new FunctionIdentifier("boundary_bucket"),
      new ExpressionInfo(classOf[BoundaryBucket].getName, "boundary_bucket"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "boundary_bucket(value, boundaries) takes 2 arguments")
        val b = children(1)
        val bounds = b.dataType match {
          case org.apache.spark.sql.types.ArrayType(et, _) if b.foldable =>
            val data = b.eval(null)
              .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
            Array.tabulate(data.numElements()) { i =>
              // a null slot would otherwise unbox to 0.0 and silently
              // corrupt the bucket boundaries (code-review r11)
              require(!data.isNullAt(i),
                s"boundary_bucket boundaries must not contain NULL (element $i)")
              et match {
                case org.apache.spark.sql.types.DoubleType => data.getDouble(i)
                case org.apache.spark.sql.types.FloatType => data.getFloat(i).toDouble
                case org.apache.spark.sql.types.IntegerType => data.getInt(i).toDouble
                case org.apache.spark.sql.types.LongType => data.getLong(i).toDouble
                case d: org.apache.spark.sql.types.DecimalType =>
                  data.getDecimal(i, d.precision, d.scale).toDouble
                case other => throw new IllegalArgumentException(
                  s"boundary_bucket boundaries must be numeric, got $other")
              }
            }
          case _ => throw new IllegalArgumentException(
            "boundary_bucket boundaries must be a foldable numeric array literal")
        }
        BoundaryBucket(
          org.apache.spark.sql.catalyst.expressions.Cast(children.head,
            org.apache.spark.sql.types.DoubleType), bounds)
      }))
    ext.injectFunction((
      new FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "dot_product(a, b) takes 2 arguments")
        DotProduct(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("squared_distance"),
      new ExpressionInfo(classOf[SquaredDistance].getName, "squared_distance"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "squared_distance(a, b) takes 2 arguments")
        SquaredDistance(children.head, children(1))
      }))
    def intLit(e: Expression, what: String): Int = e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(s"$what must be an int literal, got $other")
    }
    ext.injectFunction((
      new FunctionIdentifier("word_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "word_shingles(toks, w) takes 2 arguments")
        WordShingles(children.head, intLit(children(1), "shingle width"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("word_ngrams"),
      new ExpressionInfo(classOf[WordNGrams].getName, "word_ngrams"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "word_ngrams(toks, n) takes 2 arguments")
        WordNGrams(children.head, intLit(children(1), "n-gram width"))
      }))
    // Spark ships BloomFilterAggregate/BloomFilterMightContain for its
    // internal runtime row-level filtering but does NOT register them as
    // SQL functions; exposing them makes the bloom-decontamination shape
    // (DataPrep.decontaminateBloom) writable in plain SQL — the bloom
    // side as a scalar subquery, which is one of the two input forms
    // might_contain accepts.
    ext.injectFunction((
      new FunctionIdentifier("bloom_filter_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "bloom_filter_agg"),
      (children: Seq[Expression]) => children match {
        case Seq(c) =>
          new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c)
        case Seq(c, items) =>
          new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c, items)
        case Seq(c, items, bits) =>
          new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c, items, bits)
        case _ => throw new IllegalArgumentException(
          "bloom_filter_agg(xxhash64_value[, expected_items[, num_bits]]) takes 1-3 arguments")
      }))
    ext.injectFunction((
      new FunctionIdentifier("might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "might_contain"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "might_contain(bloom, xxhash64_value) takes 2 arguments")
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          children.head, children(1))
      }))
  }
}
