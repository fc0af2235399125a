package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.Tables

class ScaleOpsSpec extends SparkSpec {

  /** Range layouts written in `body` are a pure function of the data.
    * Spark seeds its range-partition sample with the RDD id, so with the
    * default sample the file boundaries (and the row counts the pruning
    * tests read) move with how many RDDs earlier suites in the JVM
    * created. Every layout here writes at most 60000 rows into 16 range
    * partitions; 4000 sample points per partition take every row, so the
    * range bounds are exact.
    */
  private def withExactRangeBounds[T](body: => T): T = {
    val sampleConf = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
    spark.conf.set(sampleConf, "4000")
    try body finally spark.conf.unset(sampleConf)
  }

  /** Rows a min/max pruner must read to answer the box `bounds` (column,
    * inclusive low, inclusive high) from the layout in `dir`: the rows of
    * every written file whose own min/max stats overlap the box. Each
    * file here holds at most 1024 rows, one parquet row group, so this is
    * what row-group pruning reads, as a pure function of the layout. The
    * live scan metric it replaces moves with reader task packing under
    * load (VERDICT r10 #2 saw 1.91x fail / 3.3x pass on one layout). */
  private def prunableRows(dir: String, bounds: (String, Long, Long)*): Long = {
    val stats = bounds.flatMap { case (c, _, _) =>
      Seq(min(col(c)).cast("long"), max(col(c)).cast("long")) }
    spark.read.parquet(dir).groupBy(input_file_name())
      .agg(count(lit(1)), stats: _*).collect()
      .filter(r => bounds.indices.forall { i =>
        r.getLong(2 + 2 * i) <= bounds(i)._3 && r.getLong(3 + 2 * i) >= bounds(i)._2 })
      .map(_.getLong(1)).sum
  }

  test("salted join equals plain join on skewed data") {
    import spark.implicits._
    // hot key: 10k rows of key 1; dimension side small
    val left = ((1 to 10000).map(i => (1L, i)) ++ (1 to 100).map(i => (i.toLong, i)))
      .toDF("k", "v")
    val right = (1 to 100).map(i => (i.toLong, s"dim$i")).toDF("k", "name")
    val plain = left.join(right, "k")
    val salted = ScaleOps.saltedJoin(left, right, "k", factor = 8)
    assert(salted.count() == plain.count())
    val a = plain.groupBy("k").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = salted.groupBy("k").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("declared q60 salted join matches the plain-join aggregation") {
    val q60 = graft.SparkEntry.queries("q60_salted_join")(spark, sf001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val plain = Tables.lineitem(spark, sf001)
      .join(Tables.orders(spark, sf001), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("sum_qty"))
      .orderBy(col("o_orderpriority"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(q60.toSeq == plain.toSeq)
  }

  test("AQE splits a skewed join partition at runtime (the no-manual-salt path)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.PartialReducerPartitionSpec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, AQEShuffleReadExec, ShuffleQueryStageExec}
    val restore = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor")
      .map(k => k -> spark.conf.getOption(k)).toMap
    // shrink the skew thresholds so the hot key trips AQE at test scale
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "100KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "50KB")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    try {
      // hot key 1: 400k rows; 99 cold keys: 100 rows each
      val left = ((1 to 400000).map(_ => 1L) ++
        (2 to 100).flatMap(k => Seq.fill(100)(k.toLong)))
        .toDF("k").withColumn("pad", lpad(col("k").cast("string"), 64, "x"))
      val right = (1 to 100).map(i => (i.toLong, s"dim$i")).toDF("k", "name")
      val joined = left.join(right, "k")
      // act on THIS DataFrame: count() builds a separate QueryExecution,
      // whose adaptive plan would leave joined's own one un-finalized
      assert(joined.collect().length == 400000 + 99 * 100)
      val finalPlan = joined.queryExecution.executedPlan
      // collects through the adaptive plan and into its query stages
      val aqe = new AdaptiveSparkPlanHelper {}
      // the partitions AQE must split, derived from the layout the left
      // shuffle wrote (its bytes per reducer) with the skew rule's own
      // arithmetic: above both the threshold and factor x the median
      // (the left shuffle is the larger one: 409900 rows against 100)
      val leftSizes = aqe.collect(finalPlan) { case q: ShuffleQueryStageExec =>
        q.mapStats.map(_.bytesByPartitionId).getOrElse(Array.empty[Long])
      }.maxBy(_.sum)
      val sorted = leftSizes.sorted
      val median = math.max((sorted(sorted.length / 2) + sorted((sorted.length - 1) / 2)) / 2, 1L)
      val skewed = leftSizes.indices.filter(i =>
        leftSizes(i) > math.max(100L * 1024, median * 2)).toSet
      assert(skewed == Set(leftSizes.indexOf(leftSizes.max)),
        s"the hot key's shuffle partition alone must be skewed: ${leftSizes.mkString(",")}")
      System.err.println(s"[aqe-skew] shuffle bytes per partition=${leftSizes.mkString(",")} median=$median")
      val split = aqe.collect(finalPlan) { case r: AQEShuffleReadExec => r }.flatMap(_.partitionSpecs.collect {
        case p: PartialReducerPartitionSpec => p.reducerIndex }).toSet
      assert(split == skewed && finalPlan.toString.contains("skew=true"),
        s"AQE must split exactly partitions $skewed, split $split:\n$finalPlan")
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("hive-partitioned write enables partition pruning at planning time") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    val ev = Tables.events(spark, sf001)
    ScaleOps.writePartitioned(ev, "event_type", dir)
    val clicks = spark.read.parquet(dir).filter(col("event_type") === "click")
    val plan = clicks.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") &&
      plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("event_type"),
      s"filter must prune partitions, not scan+filter:\n$plan")
    // PushedFilters stays empty for the partition column — the predicate
    // is resolved against the file index, not evaluated per row
    assert(clicks.count() == ev.filter(col("event_type") === "click").count())
  }

  test("bucketed co-located join plans without a shuffle exchange") {
    val warehouse = java.nio.file.Files.createTempDirectory("graft_wh").toString
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val orders = Tables.orders(spark, sf001)
      val li = Tables.lineitem(spark, sf001)
      ScaleOps.writeBucketed(
        orders.withColumnRenamed("o_orderkey", "k"), "k", 4, "b_orders")
      ScaleOps.writeBucketed(
        li.withColumnRenamed("l_orderkey", "k"), "k", 4, "b_lineitem")
      val joined = spark.table("b_orders").join(spark.table("b_lineitem"), "k")
      joined.count() // materialize with AQE final plan
      assert(!ScaleOps.hasShuffle(joined),
        s"bucketed join must not shuffle:\n${joined.queryExecution.executedPlan}")
      // sanity: same result as the unbucketed join
      assert(joined.count() ==
        orders.join(li, col("o_orderkey") === col("l_orderkey")).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("incremental dedup vs stored bucketed signatures: same rows, fewer shuffles") {
    import org.apache.spark.sql.functions._
    def shuffles(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.toString.linesIterator
        .count(l => l.contains("Exchange") && !l.contains("BroadcastExchange"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val docs = Tables.load(spark, sf001, "documents")
      val batch = docs.filter(col("doc_id") % 10 === 9)
      val corpus = docs.filter(col("doc_id") % 10 =!= 9)
      // persist the corpus signatures BUCKETED BY their join keys — the
      // production layout: admission never reads or reshuffles the corpus
      graft.operators.Dedup.bandSigs(corpus).select("band", "sig").distinct()
        .write.mode("overwrite").bucketBy(4, "band", "sig").sortBy("band", "sig")
        .format("parquet").saveAsTable("b_corpus_bands")
      corpus.select(md5(col("text")).as("h")).distinct()
        .write.mode("overwrite").bucketBy(4, "h").sortBy("h")
        .format("parquet").saveAsTable("b_corpus_hashes")
      val stored = graft.operators.Dedup.incrementalDedupStored(
        batch, spark.table("b_corpus_hashes"), spark.table("b_corpus_bands"))
      val inline = graft.operators.Dedup.incrementalDedup(batch, corpus)
      val a = stored.select("doc_id").collect().map(_.getLong(0)).toSet
      val b = inline.select("doc_id").collect().map(_.getLong(0)).toSet
      assert(a == b, s"stored=$a inline=$b")
      // the bucketed layout must eliminate the corpus-side exchanges the
      // inline form pays (signature derivation + join repartitioning)
      assert(shuffles(stored) < shuffles(inline),
        s"stored=${shuffles(stored)} inline=${shuffles(inline)}")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS b_corpus_bands")
      spark.sql("DROP TABLE IF EXISTS b_corpus_hashes")
    }
  }

  test("zorder16 interleave matches a bit-by-bit reference") {
    import spark.implicits._
    def ref(x: Long, y: Long): Long = {
      var z = 0L
      for (i <- 0 until 16) {
        z |= ((x >> i) & 1L) << (2 * i)
        z |= ((y >> i) & 1L) << (2 * i + 1)
      }
      z
    }
    val rnd = new scala.util.Random(42)
    // include >16-bit values: the column op must mask exactly like ref's
    // 16-iteration loop does implicitly
    val rows = Seq.tabulate(512)(i =>
      (rnd.nextInt(1 << 20).toLong, rnd.nextInt(1 << 20).toLong)) ++
      Seq((0L, 0L), (65535L, 65535L), (65536L, 1L))
    val got = rows.toDF("x", "y")
      .select(col("x"), col("y"), ScaleOps.zorder16(col("x"), col("y")).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    got.foreach { case (x, y, z) =>
      assert(z == ref(x & 0xFFFF, y & 0xFFFF), s"x=$x y=$y")
    }
  }

  test("z-ordered layout reads fewer rows than a 1-dim sort on a 2-dim box") {
    // balanced 16-bit coordinates (the caller-side bucketing the scaladoc
    // prescribes): partkey 0..~2000 ×32, orderkey 0..~15000 ×4
    val li = Tables.lineitem(spark, "/root/testdata/sf0.01")
      .select(col("l_orderkey"), col("l_linenumber"),
        (col("l_partkey") * 32).as("xk"), (col("l_orderkey") * 4).as("yk"))
    val zDir = java.nio.file.Files.createTempDirectory("graft_z").toString
    val linDir = java.nio.file.Files.createTempDirectory("graft_lin").toString
    withExactRangeBounds {
      ScaleOps.writeZOrdered(li, "xk", "yk", zDir, files = 16, rowsPerFile = 1024)
      li.repartitionByRange(16, col("xk")).sortWithinPartitions(col("xk"))
        .write.mode("overwrite").option("maxRecordsPerFile", 1024).parquet(linDir)
    }
    // 25% × 10% box: the 1-dim layout can only prune its own dimension
    val pred = col("xk") < lit(16384) && col("yk") < lit(6000)
    val zScan = spark.read.parquet(zDir).filter(pred)
    val linScan = spark.read.parquet(linDir).filter(pred)
    val box = Seq(("xk", Long.MinValue, 16383L), ("yk", Long.MinValue, 5999L))
    val zRows = prunableRows(zDir, box: _*)
    val linRows = prunableRows(linDir, box: _*)
    // identical answers from both layouts
    val key = (df: org.apache.spark.sql.DataFrame) =>
      df.select("l_orderkey", "l_linenumber").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(key(zScan) == key(linScan) && key(zScan).nonEmpty)
    // the measured claim: 2-dim clustering prunes what a 1-dim sort cannot
    assert(zRows * 2 <= linRows,
      s"z-order read $zRows rows, 1-dim sort read $linRows — expected ≤ half")
  }

  test("rank-bucketed z-order keeps pruning on skewed keys where min/max collapses") {
    import spark.implicits._
    // 80% of rows sit on ONE hot x value; the rest spread over [2, 1e6].
    // A box on a mid-population x band + 10% of y.
    val df = (0 until 60000).map { i =>
      val x = if (i % 10 < 8) 1L else {
        val r = (i.toLong * 2641) % 1000; r * r + 2
      }
      (i.toLong, x, (i % 1000).toLong)
    }.toDF("id", "x", "y")
    val pred = col("x") >= 10000L && col("x") <= 250000L && col("y") < 100L
    val nBox = df.filter(pred).count()
    assert(nBox > 300, s"test geometry broke: $nBox box rows")
    // min/max scaling: the hot value drags ~every row into the lowest
    // cells, so files mix hot rows with band rows and their x-stats
    // span the box — x stops pruning
    val mm = df.agg(min("x"), max("x")).head()
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val mmDf = df
      .withColumn("x16", ((col("x") - lit(lo)) * 65535L / lit(hi - lo)).cast("long"))
      .withColumn("y16", (col("y") * 65535L / lit(999)).cast("long"))
    // rank bucketing: the hot value collapses into its own bucket, the
    // band occupies distinct buckets → tight per-file x-stats again
    val bx = ScaleOps.rankBoundaries(df, "x", 256)
    val by = ScaleOps.rankBoundaries(df, "y", 256)
    val rkDf = df
      .withColumn("x16", ScaleOps.rankBucket(col("x"), bx).cast("long"))
      .withColumn("y16", ScaleOps.rankBucket(col("y"), by).cast("long"))
    val mmDir = java.nio.file.Files.createTempDirectory("graft_zmm").toString
    val rkDir = java.nio.file.Files.createTempDirectory("graft_zrk").toString
    withExactRangeBounds {
      ScaleOps.writeZOrdered(mmDf, "x16", "y16", mmDir,
        files = 16, rowsPerFile = 1024)
      ScaleOps.writeZOrdered(rkDf, "x16", "y16", rkDir,
        files = 16, rowsPerFile = 1024)
    }
    val mmScan = spark.read.parquet(mmDir).filter(pred)
    val rkScan = spark.read.parquet(rkDir).filter(pred)
    assert(mmScan.count() == nBox && rkScan.count() == nBox)
    // prunability measured from the WRITTEN FILES' own min/max stats
    val box = Seq(("x", 10000L, 250000L), ("y", Long.MinValue, 99L))
    val mmRows = prunableRows(mmDir, box: _*)
    val rkRows = prunableRows(rkDir, box: _*)
    System.err.println(s"[zorder-skew] box=$nBox minmax_prunable=$mmRows rank_prunable=$rkRows")
    assert(rkRows > 0 && mmRows > 0, "stats degenerated — geometry broke")
    assert(rkRows * 2 <= mmRows,
      s"rank-bucketed layout must read $rkRows rows, min/max $mmRows — expected ≤ half")
  }

  test("zorderN matches a bit-by-bit reference for 2, 3 and 4 dims") {
    import spark.implicits._
    def ref(vals: Seq[Long], bits: Int): Long = {
      val n = vals.length
      var z = 0L
      for (d <- 0 until n; i <- 0 until bits)
        z |= (((vals(d) & ((1L << bits) - 1)) >> i) & 1L) << (i * n + d)
      z
    }
    val rnd = new scala.util.Random(11)
    val rows = Seq.tabulate(256)(_ =>
      (rnd.nextInt(1 << 20).toLong, rnd.nextInt(1 << 20).toLong,
        rnd.nextInt(1 << 20).toLong, rnd.nextInt(1 << 20).toLong)) ++
      Seq((0L, 0L, 0L, 0L), (1023L, 1023L, 1023L, 1023L), (1024L, 1L, 0L, 255L))
    val df = rows.toDF("a", "b", "c", "d")
    // n=2 at 16 bits must reproduce zorder16 exactly
    val two = df.select(col("a"), col("b"),
      ScaleOps.zorderN(Seq(col("a"), col("b")), 16).as("zn"),
      ScaleOps.zorder16(col("a"), col("b")).as("z16")).collect()
    two.foreach(r => assert(r.getLong(2) == r.getLong(3),
      s"a=${r.getLong(0)} b=${r.getLong(1)}"))
    // n=3 at 10 bits and n=4 at 8 bits against the reference loop
    val three = df.select(col("a"), col("b"), col("c"),
      ScaleOps.zorderN(Seq(col("a"), col("b"), col("c")), 10).as("z")).collect()
    three.foreach(r => assert(r.getLong(3) ==
      ref(Seq(r.getLong(0), r.getLong(1), r.getLong(2)), 10), r.toString))
    val four = df.select(col("a"), col("b"), col("c"), col("d"),
      ScaleOps.zorderN(Seq(col("a"), col("b"), col("c"), col("d")), 8).as("z")).collect()
    four.foreach(r => assert(r.getLong(4) ==
      ref(Seq(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)), 8), r.toString))
  }

  test("3-dim z-order prunes a 3-dim box at least 2x better than a 1-dim sort") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val df = (0 until 60000).map(i =>
      (i.toLong, rnd.nextInt(1024).toLong, rnd.nextInt(1024).toLong,
        rnd.nextInt(1024).toLong)).toDF("id", "x", "y", "w")
    // 25% × 25% × 25% box = ~1.6% volume; a 1-dim sort only prunes x
    val pred = col("x") < 256L && col("y") < 256L && col("w") < 256L
    val zDir = java.nio.file.Files.createTempDirectory("graft_z3").toString
    val linDir = java.nio.file.Files.createTempDirectory("graft_lin3").toString
    withExactRangeBounds {
      ScaleOps.writeZOrdered(df, Seq(col("x"), col("y"), col("w")), zDir,
        files = 16, rowsPerFile = 1024)
      df.repartitionByRange(16, col("x")).sortWithinPartitions(col("x"))
        .write.mode("overwrite").option("maxRecordsPerFile", 1024).parquet(linDir)
    }
    val zScan = spark.read.parquet(zDir).filter(pred)
    val linScan = spark.read.parquet(linDir).filter(pred)
    val box = Seq(("x", Long.MinValue, 255L), ("y", Long.MinValue, 255L), ("w", Long.MinValue, 255L))
    val zRows = prunableRows(zDir, box: _*)
    val linRows = prunableRows(linDir, box: _*)
    val key = (d: org.apache.spark.sql.DataFrame) =>
      d.select("id").collect().map(_.getLong(0)).toSet
    assert(key(zScan) == key(linScan) && key(zScan).nonEmpty)
    System.err.println(s"[zorder-3d] box=${key(zScan).size} z_scan=$zRows lin_scan=$linRows")
    assert(zRows * 2 <= linRows,
      s"3-dim z-order read $zRows rows, 1-dim sort read $linRows — expected ≤ half")
  }

  test("writeZOrderedRank: one-call skew-safe layout round-trips and prunes") {
    import spark.implicits._
    // same skew shape as the q107 measurement: one hot x value + a band
    val df = (0 until 40000).map { i =>
      val x = if (i % 10 < 8) 1L else { val r = (i.toLong * 2641) % 1000; r * r + 2 }
      (i.toLong, x, (i % 1000).toLong)
    }.toDF("id", "x", "y")
    val dir = java.nio.file.Files.createTempDirectory("graft_zrank1").toString
    val (bx, by) = withExactRangeBounds(ScaleOps.writeZOrderedRank(df, "x", "y", dir,
      buckets = 256, files = 16, rowsPerFile = 1024))
    // boundaries persist alongside the data and read back identically
    val (rbx, rby) = ScaleOps.readRankBoundaries(dir)
    assert(rbx.toSeq == bx.toSeq && rby.toSeq == by.toSeq)
    assert(bx.length == 255 && by.length == 255)
    // the boundaries file must be invisible to the parquet reader
    val back = spark.read.parquet(dir)
    assert(back.count() == 40000 && back.columns.toSet == Set("id", "x", "y"))
    // box on a mid-population x band + 10% of y: prunes via per-file
    // min/max stats on the ORIGINAL columns
    val pred = col("x") >= 10000L && col("x") <= 250000L && col("y") < 100L
    val nBox = df.filter(pred).count()
    val got = back.filter(pred)
    assert(got.count() == nBox)
    val rows = prunableRows(dir, ("x", 10000L, 250000L), ("y", Long.MinValue, 99L))
    System.err.println(s"[zorder-rank-write] box=$nBox scan=$rows of 40000")
    assert(rows * 2 <= 40000, s"scan read $rows of 40000 — layout not pruning")
  }

  test("keySkewProfile: hot key recommends salting, uniform key does not") {
    import spark.implicits._
    // 10k rows of one hot key + 100 uniform keys x 10 rows
    val skewed = (Seq.fill(10000)(1L) ++ (2L to 101L).flatMap(Seq.fill(10)(_)))
      .toDF("k")
    val hot = ScaleOps.keySkewProfile(skewed, "skewed.k", "k", targetPerKey = 1000L)
      .head()
    assert(hot.getAs[Long]("max_cnt") == 10000L)
    assert(hot.getAs[Long]("salt_factor") == 10L, "ceil(10000/1000) = 10")
    assert(hot.getAs[String]("action") == "salted-join")
    // skew_x100 = 100 * max * n_keys / n = 100*10000*101/11000 ~ 9181
    assert(hot.getAs[Long]("skew_x100") == 100L * 10000L * 101L / 11000L)
    val uniform = (1L to 100L).flatMap(Seq.fill(50)(_)).toDF("k")
    val flat = ScaleOps.keySkewProfile(uniform, "uniform.k", "k", targetPerKey = 1000L)
      .head()
    assert(flat.getAs[Long]("salt_factor") == 1L)
    assert(flat.getAs[String]("action") == "hash-join")
    assert(flat.getAs[Long]("skew_x100") == 100L, "uniform keys => exactly 100")
  }

  test("rendezvousShard: minimal-disruption law on reshard; pmod scrambles") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val n = 5000
    val df = (1L to n.toLong).toDF("id")
    val got = df.select(col("id"),
      ScaleOps.rendezvousShard(col("id"), 8).as("s8"),
      ScaleOps.rendezvousShard(col("id"), 9).as("s9"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    // both assignments land in range and use every shard
    assert(got.forall(g => g._2 >= 0 && g._2 < 8 && g._3 >= 0 && g._3 < 9))
    assert(got.map(_._2).distinct.length == 8 && got.map(_._3).distinct.length == 9)
    // THE rendezvous law: growing 8 -> 9 moves a row ONLY to the new
    // shard (its old argmax is unchanged among shards 0..7), and the
    // moved fraction is ~ 1/9
    val moved = got.filter(g => g._2 != g._3)
    assert(moved.forall(_._3 == 8),
      s"moved rows must all land on the NEW shard: ${moved.filter(_._3 != 8).take(5).toSeq}")
    val frac = moved.length.toDouble / n
    assert(frac > 0.05 && frac < 0.18, s"moved fraction $frac should be ~1/9")
    // contrast: a pmod reshard scrambles the majority of rows
    val pm = df.select(
      pmod(xxhash64(col("id")), lit(8)).as("p8"),
      pmod(xxhash64(col("id")), lit(9)).as("p9"))
      .filter(col("p8") =!= col("p9")).count()
    assert(pm.toDouble / n > 0.5, s"pmod reshard moved only $pm of $n")
    // balance: no shard holds more than 2x the uniform share at k=9
    val byShard = got.groupBy(_._3).view.mapValues(_.length).toMap
    assert(byShard.values.max < 2 * n / 9, s"$byShard")
  }

  test("exportManifest: per-shard positions are a contiguous permutation; files fill exactly; rerun-stable") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = (1L to 1000L).toDF("doc_id")
    val m = ScaleOps.exportManifest(df, "doc_id", shards = 4, docsPerFile = 7L)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(m.length == 1000 && m.map(_._1).distinct.length == 1000)
    // positions within each shard are exactly 1..count(shard)
    for ((shard, rows) <- m.groupBy(_._2)) {
      val pos = rows.map(_._3).sorted
      assert(pos.sameElements(1L to rows.length.toLong),
        s"shard $shard positions not contiguous: ${pos.take(5).toSeq}…")
      // file/slot arithmetic: every non-tail file holds exactly 7 docs,
      // slots within a file are 0..6 with no gaps
      val byFile = rows.groupBy(_._4)
      val lastFile = byFile.keys.max
      for ((f, fr) <- byFile) {
        val slots = fr.map(_._5).sorted
        assert(slots.sameElements(0L until fr.length.toLong), s"file $f slots $slots")
        if (f != lastFile) assert(fr.length == 7, s"file $f has ${fr.length}")
      }
    }
    // the within-shard order IS the (md5(id), id) line — pseudo-random,
    // not id order (a sorted-by-id manifest would train in crawl order)
    val someShard = m.groupBy(_._2).values.maxBy(_.length)
    val byPos = someShard.sortBy(_._3).map(_._1)
    assert(!byPos.sameElements(byPos.sorted), "manifest order must not be id order")
    // rerun-stable: a second evaluation is identical
    val m2 = ScaleOps.exportManifest(df, "doc_id", shards = 4, docsPerFile = 7L)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(m.sortBy(_._1).sameElements(m2.sortBy(_._1)))
  }
}
