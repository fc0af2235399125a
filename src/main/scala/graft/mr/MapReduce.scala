package graft.mr

import scala.reflect.ClassTag

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Generic typed map/reduce surface — capability parity with the
  * reference's entire query mechanism (yamr mapper.py:112-122 `run_map`,
  * reducer.py:131-139 `run_reduce`), compiled onto Spark Datasets.
  *
  * Semantics: ONE group per distinct key — the intended contract, not the
  * reference's concat-of-sorted-runs bug (SURVEY §2.4: `combine_data`
  * seeds the current group from the first *unsorted* element, producing
  * spurious empty/duplicate groups on multi-mapper input; word_count.py:44-48).
  *
  * Scale notes: `mapReduce` is the fully-general contract
  * (`groupBy(_1).flatMapGroups` — shuffles raw pairs, no partial
  * aggregation, faithfully matching the reference's no-combiner dataflow,
  * mapper.py:124-136). It groups by the encoder's key column (a product
  * key's fields), so no lambda deserializes each pair only to recompute
  * its key. For
  * algebraic reducers use `mapReduceByKey`, which combines map-side
  * before the shuffle — the combiner the reference lacks. Both reduce
  * into `spark.sql.shuffle.partitions` partitions, the reference's `n`
  * regions (hash_partitioner.py), whatever the map side's split count.
  */
object MapReduce {

  /** Fully-general contract: map emits (K,V) pairs, reduce sees each key
    * once with all its values.
    */
  def mapReduce[I, K, V, O](ds: Dataset[I])(
      mapFn: I => IterableOnce[(K, V)],
      reduceFn: (K, Iterator[V]) => IterableOnce[O])(
      implicit kvEnc: Encoder[(K, V)], kEnc: Encoder[K], oEnc: Encoder[O]): Dataset[O] = {
    val pairs = ds.flatMap(mapFn)(kvEnc)
    // a product key is one struct column: group by its fields, which the
    // key encoder reads back by name
    val keyCols = pairs.schema("_1").dataType match {
      case s: StructType => s.fieldNames.toSeq.map(f => col("_1").getField(f).as(f))
      case _ => Seq(col("_1"))
    }
    pairs.groupBy(keyCols: _*).as[K, (K, V)](kEnc, kvEnc)
      .flatMapGroups((key: K, it: Iterator[(K, V)]) => reduceFn(key, it.map(_._2)))(oEnc)
  }

  /** Algebraic fast path: commutative/associative combine, run as
    * `reduceByKey` — a spillable hash map per map task combines each key
    * before the shuffle and another merges the partials after it. The
    * typed `groupByKey.reduceGroups` chain is planned as
    * `ObjectHashAggregate(ReduceAggregator)`, which falls back to sorting
    * once a task holds more than 128 keys and so costs a word count more
    * than it saves. Keys group by JVM `equals`/`hashCode` (arrays by
    * identity).
    */
  def mapReduceByKey[I, K, V](ds: Dataset[I])(
      mapFn: I => IterableOnce[(K, V)],
      combine: (V, V) => V)(
      implicit kvEnc: Encoder[(K, V)], kTag: ClassTag[K], vTag: ClassTag[V]): Dataset[(K, V)] =
    ds.sparkSession.createDataset(ds.rdd.flatMap(mapFn).reduceByKey(combine,
      ds.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt))(kvEnc)
}
