package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale probes (VERDICT r3 #6, r5 #5-#7): measures the heavy operator
  * families one and two decades up from the bench SF, so the scale
  * argument in SCALE.md is empirical, not only analytic.
  *
  * The probe corpus replicates the source documents table `copies`×
  * (sf0.1 × 10 ≈ 50k docs) with a per-copy affine-cipher alphabet
  * permutation of the text: every token changes, so copies share no
  * shingles and each copy reproduces the source corpus's duplicate
  * structure instead of collapsing into cross-copy clone clusters — the
  * workload SHAPE is preserved while volume grows N×. doc_ids are
  * remapped to disjoint ranges. Deterministic, no RNG. Embeddings
  * replicate analogously with a per-copy dimension rotation (+ sign flip
  * past 64 copies): within-copy geometry — and therefore neighbor
  * structure and recall difficulty — is preserved exactly, while copies
  * occupy distinct directions.
  *
  * Usage: runMain graft.ScaleProbe [srcDir] [copies] [mode] [arg]
  *   mode "queries" (default) — per-query seconds over the scaled
  *        documents table; `arg` is a comma-separated list of declared
  *        query names (default: the dedup/text family in
  *        [[defaultQueries]]; SCALE.md lists the per-round sets);
  *   mode "stages"  — per-stage wall/rows of one declared query that
  *        taps stages, `arg` = q51|q51b|q93b|q93c|q93d (the declared
  *        query with that prefix);
  *   mode "ann"     — recall@5 of LSH (q41: 8 planes, hamming-1
  *        multiprobe) and IVF (q41b: nlist=16, nprobe=4) against the
  *        brute-force top-5 (q40) over the scaled embeddings, plus
  *        timings (VERDICT r5 #6);
  *   mode "annc"    — clustered variant of "ann": measures the recall
  *        CEILING where "ann" measures the floor;
  *   mode "lshcurve" — recall@5 vs nPlanes (4..12) at fixed hamming-1
  *        multiprobe over the scaled embeddings (VERDICT r6 #7);
  *   mode "sketches" — lineitem-replication decade for q92/q43 plus the
  *        1,024-shard CMS/GK state fold (VERDICT r6 #5);
  *   mode "phrase"  — q97's stored-artifact probe: builds the bucketed
  *        gram index + token table once, then times phraseHitsStored
  *        alone — probe latency must stay ~flat as copies grow
  *        (VERDICT r7 #1);
  *   mode "zorder"  — 2-dim box scan over a z-ordered vs 1-dim-sorted
  *        lineitem layout: rows delivered by the pruned parquet scans
  *        and wall times, at growing corpus size (round 9).
  * Scaled corpora are cached under cwd-relative `target/tmp`.
  * Prints one JSON line per run. All timed full-query runs materialize
  * via the noop sink (see Bench scaladoc — .count() prunes agg tails).
  */
object ScaleProbe {

  /** The probes' cache directory `name`, under cwd-relative `target/tmp`
    * so every checkout keeps its own (and `target/` is ignored). */
  def scratchDir(name: String): String =
    new java.io.File("target/tmp", name).getAbsolutePath

  /** The probe dir holding `copies`× of the tables at `src`. Keyed by
    * SOURCE basename too: a bare x$copies dir built from one SF would
    * silently serve a probe pointed at another (round-11 fix). */
  private def probeDir(src: String, copies: Int): String =
    scratchDir(s"scaleprobe_${new java.io.File(src).getName}_x$copies")

  /** Builds (once) and returns the scaled-documents dir for `copies`×. */
  def scaledDocsDir(spark: SparkSession, src: String, copies: Int): String = {
    val out = probeDir(src, copies)
    val docsPath = s"$out/documents.parquet"
    // _SUCCESS, not bare directory existence: an interrupted write leaves
    // a partial directory that would silently shrink the probe corpus
    if (!new java.io.File(s"$docsPath/_SUCCESS").exists) {
      val docs = graft.sources.Tables.load(spark, src, "documents")
      val alphabet = "abcdefghijklmnopqrstuvwxyz"
      // per-copy AFFINE cipher x -> a*x + b (mod 26), a coprime to 26:
      // 12 multipliers × 26 shifts = 312 distinct permutations, so up to
      // 312 copies share no tokens (a bare rotation collides at 27 — the
      // colliding copies would be exact cross-copy clones, inflating the
      // duplicate structure instead of preserving it). a=1 reproduces the
      // old rotation, so copies < 26 generate byte-identical corpora.
      val coprimes = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
      def perm(c: Int): String = {
        if (c < coprimes.size * 26) {
          val a = coprimes(c / 26); val b = c % 26
          (0 until 26).map(i => alphabet((a * i + b) % 26)).mkString
        } else {
          // past the 312 affine maps (needed for the x1000 third decade):
          // a Fisher-Yates permutation driven by a deterministic LCG on
          // the copy index — same guarantee class as the affine family
          // (two distinct letter permutations agree on O(1) letters, so
          // no multi-token span survives across copies; single-letter
          // token collisions already occur between affine pairs).
          // Pairwise distinctness of ALL maps is require'd below.
          val arr = alphabet.toCharArray
          var s = c.toLong * 6364136223846793005L + 1442695040888963407L
          for (i <- 25 to 1 by -1) {
            s = s * 6364136223846793005L + 1442695040888963407L
            val j = ((s >>> 33) % (i + 1)).toInt
            val t = arr(i); arr(i) = arr(j); arr(j) = t
          }
          new String(arr)
        }
      }
      require((0 until copies).map(perm).distinct.size == copies,
        s"alphabet permutations must be pairwise distinct at $copies copies")
      val scaled = (0 until copies).map { c =>
        docs.select(
          (col("doc_id") + lit(c.toLong * 100000000L)).as("doc_id"),
          translate(lower(col("text")), alphabet, perm(c)).as("text"),
          col("lang"), col("source"), col("n_chars"))
      }.reduce(_ unionByName _)
      // write with enough files that the scan parallelizes like real data
      scaled.repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(docsPath)
    }
    out
  }

  /** Builds (once) the scaled-embeddings table into the SAME probe dir
    * (so declared queries run against it unchanged). Copy c rotates each
    * vector's dimensions by c mod 64 and negates past c = 64: rotation
    * and negation are orthonormal maps, so every within-copy cosine — and
    * with it the neighbor structure the recall probe measures — is
    * preserved exactly, while the 128 distinct transforms keep copies
    * from being byte-identical clones of copy 0. vec_ids are remapped to
    * disjoint ranges; the q40/q41/q41b query set (vec_id < 20) stays the
    * untransformed copy-0 vectors.
    */
  def scaledEmbeddingsDir(spark: SparkSession, src: String, copies: Int): String = {
    require(copies <= 128, s"embedding transform space exhausted at $copies copies")
    val out = probeDir(src, copies)
    val embPath = s"$out/embeddings.parquet"
    if (!new java.io.File(s"$embPath/_SUCCESS").exists) {
      val emb = graft.sources.Tables.load(spark, src, "embeddings")
      val dim = 64
      val scaled = (0 until copies).map { c =>
        val shift = c % dim
        val rotated =
          if (shift == 0) col("embedding")
          else concat(
            slice(col("embedding"), shift + 1, dim - shift),
            slice(col("embedding"), 1, shift))
        val signed =
          if (c < dim) rotated
          else transform(rotated, x => -x)
        emb.select(
          (col("vec_id") + lit(c.toLong * 100000000L)).as("vec_id"),
          signed.as("embedding"),
          col("label"))
      }.reduce(_ unionByName _)
      scaled.repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(embPath)
    }
    out
  }

  /** Builds (once) a scaled lineitem table into the probe dir: orderkey
    * remapped to disjoint ranges per copy, value columns unchanged, so
    * per-group value DISTRIBUTIONS (what GK summarizes) are preserved
    * exactly while volume grows copies×. */
  private def scaledLineitemDir(spark: SparkSession, src: String, copies: Int): String = {
    val out = probeDir(src, copies)
    val liPath = s"$out/lineitem.parquet"
    if (!new java.io.File(s"$liPath/_SUCCESS").exists) {
      val li = graft.sources.Tables.load(spark, src, "lineitem")
      val scaled = (0 until copies).map { c =>
        li.withColumn("l_orderkey",
          col("l_orderkey") + lit(c.toLong * 10000000000L))
      }.reduce(_ unionByName _)
      scaled.repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(liPath)
    }
    out
  }

  /** The `queries` mode's default list: the dedup/text family plus the
    * docs-only top bench owners. */
  private val defaultQueries: Seq[String] = Seq("q35_dedup_exact",
    "q36_dedup_ngram_jaccard", "q37_dedup_minhash", "q38_dedup_simhash",
    "q51_dedup_pipeline", "q78_repetition_signals", "q79_decontaminate",
    "q82_rarity_scoring", "q85_prep_pipeline", "q87_heavy_hitters",
    "q88_paragraph_dedup", "q89_decontaminate_bloom",
    "q90_cms_heavy_hitters", "q91_epoch_mix", "q93_curation_chain",
    "q95_substring_dedup", "q96_bigram_lm_score",
    "q93b_curation_chain_span", "q93c_crawl_chain",
    "q93d_crawl_chain_http", "q51b_dedup_pipeline_dcc",
    "q178_unigram_segment", "q178b_unigram_encode",
    "q155b_token_budget_bpe", "q188b_http_chain")

  private def fail(msg: String): Nothing = {
    System.err.println(msg)
    sys.exit(2)
  }

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val copies = args.lift(1).flatMap(_.toIntOption).getOrElse(10)
    val mode = args.lift(2).getOrElse("queries")
    val spark = GraftSession.local("graft-scaleprobe")

    mode match {
      case "queries" =>
        // 4th arg: the query names (the x1000 decade runs only its target
        // queries — a full sweep at 5M docs is hours of probe time for
        // rows nobody reads); validated before the corpus is built
        val names = args.lift(3).fold(defaultQueries)(
          _.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        val unknown = names.filterNot(SparkEntry.queries.contains)
        if (unknown.nonEmpty) fail(s"unknown queries: ${unknown.mkString(",")}")
        val out = scaledDocsDir(spark, src, copies)
        val nDocs = graft.sources.Tables.load(spark, out, "documents").count()
        val times = names.map { name =>
          // noop write, not count(): count prunes aggregate tails (see
          // Bench scaladoc) — round-7 decades re-measured under this
          val (_, t) = timed(SparkEntry.queries(name)(spark, out)
            .write.format("noop").mode("overwrite").save())
          name -> t
        }
        val qs = times.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
        println(s"""{"metric":"scaleprobe","copies":$copies,"n_docs":$nDocs,"queries":$qs,"src":"$src"}""")

      case "stages" =>
        // Per-stage wall/rows of one declared query (VERDICT r11 stretch
        // #9): IterProbe.stageTimings persists, forces and clocks each
        // `stage_*` frame, so drift triage on the most expensive declared
        // queries is one read. The chains fuse their gate/near-dedup
        // stages into the next checkpoint, so probed wall is attribution,
        // not added cost. q93b/q93c/q93d run their declared span pin
        // (K = 4); a chain reports q51's stages inside its near dedup.
        val prefix = args.lift(3).getOrElse("")
        val matches = SparkEntry.queries.keys.filter(_.startsWith(prefix + "_")).toSeq
        if (matches.size != 1)
          fail(s"stages needs one query prefix (q51|q51b|q93b|q93c|q93d), got '$prefix'")
        val out = scaledDocsDir(spark, src, copies)
        val nDocs = graft.sources.Tables.load(spark, out, "documents").count()
        var fin: org.apache.spark.sql.DataFrame = null
        val stages = IterProbe.stageTimings { fin = SparkEntry.queries(matches.head)(spark, out) }
        if (stages.isEmpty) fail(s"${matches.head} taps no stage_* boundaries")
        val (_, tWrite) = timed(fin.write.format("noop").mode("overwrite").save())
        val qs = (stages.map { case (n, t, r) =>
          "\"" + n + "\":{\"sec\":" + t + ",\"rows\":" + r + "}"
        } :+ ("\"final_write\":{\"sec\":" + tWrite + ",\"rows\":-1}"))
          .mkString("{", ",", "}")
        println(s"""{"metric":"scaleprobe-stages","query":"${matches.head}","copies":$copies,"n_docs":$nDocs,"stages":$qs,"src":"$src"}""")

      case "ann" =>
        val out = scaledEmbeddingsDir(spark, src, copies)
        val nVecs = graft.sources.Tables.load(spark, out, "embeddings").count()
        // ground truth: exact top-5 per query over the whole scaled corpus.
        // The COUNT is inside the timed block — cache() alone is lazy, so
        // timing only the DataFrame build would report a bogus near-zero
        // brute-force cost (ADVICE r6 #1).
        val ((bf, nTruth), tBf) = timed {
          val df = SparkEntry.queries("q40_ann_bruteforce")(spark, out)
            .select(col("qid"), col("nn_id")).cache()
          (df, df.count())
        }
        def recallOf(name: String): (Double, Double) = {
          val (res, t) = timed {
            val df = SparkEntry.queries(name)(spark, out)
              .select(col("qid"), col("nn_id"))
            df.join(bf, Seq("qid", "nn_id")).count()
          }
          (res.toDouble / nTruth, t)
        }
        val (recLsh, tLsh) = recallOf("q41_ann_lsh")
        // first q41b call fits the KMeans coarse quantizer (amortized
        // index build, cached by data fingerprint); the second call runs
        // the inline probe — report both, as Bench does
        val (recIvf, tIvfBuild) = recallOf("q41b_ann_ivf")
        val (_, tIvfProbe) = recallOf("q41b_ann_ivf")
        // production probe path: assignments persisted once, queries
        // probe the stored table (corpus never re-folded vs centroids)
        val emb = graft.sources.Tables.embeddings(spark, out)
        val cents = graft.operators.Similarity
          .ivfModel(emb, nlist = 16, cacheKey = Some(out))
          .clusterCenters.map(_.toArray)
        val assignedPath = s"$out/ivf_assignments.parquet"
        if (!new java.io.File(s"$assignedPath/_SUCCESS").exists)
          graft.operators.Similarity.ivfAssignments(emb, 16, Some(out))
            .write.mode("overwrite").parquet(assignedPath)
        val assigned = spark.read.parquet(assignedPath)
        val (nStored, tStored) = timed {
          graft.operators.Similarity
            .ivfTopKStored(assigned, col("vec_id") < 20, cents, k = 5, nprobe = 4)
            .join(bf, Seq("qid", "nn_id")).count()
        }
        val recStored = nStored.toDouble / nTruth
        bf.unpersist()
        println(s"""{"metric":"ann_recall","copies":$copies,"n_vecs":$nVecs,"k":5,"lsh":{"recall":$recLsh,"sec":$tLsh,"planes":8,"multiprobe":"hamming-1"},"ivf":{"recall":$recIvf,"build_probe_sec":$tIvfBuild,"probe_sec":$tIvfProbe,"stored_probe_sec":$tStored,"stored_recall":$recStored,"nlist":16,"nprobe":4},"bruteforce_sec":$tBf,"src":"$src"}""")

      case "annc" =>
        // clustered variant of "ann": 20×copies separated clusters of 100
        // members each (deterministic trig synthesis, no RNG — same shape
        // as SimilaritySpec's fixture, scaled). Same-cluster cosine ≈ 1,
        // cross-cluster ≈ random; queries vec_id < 20 land in 20 DISTINCT
        // clusters (interleaved assignment). This measures the recall
        // CEILING at scale where "ann" (uniform random vectors) measures
        // the floor.
        val nClusters = 20 * copies
        val per = 100
        val dim = 64
        val out = scratchDir(s"scaleprobe_annc_x$copies")
        val embPath = s"$out/embeddings.parquet"
        if (!new java.io.File(s"$embPath/_SUCCESS").exists) {
          val c = (col("vec_id") % nClusters).cast("double")
          val emb = array((0 until dim).map { j =>
            (sin(c * 131.7 + j * 7.3) * 10.0 +
              sin(col("vec_id").cast("double") * 0.91 + j * 3.3) * 0.05)
              .cast("float")
          }: _*)
          spark.range(nClusters.toLong * per).select(col("id").as("vec_id"))
            .select(col("vec_id"), emb.as("embedding"),
              (col("vec_id") % 8).cast("int").as("label"))
            .repartition(spark.sparkContext.defaultParallelism)
            .write.mode("overwrite").parquet(embPath)
        }
        val nVecs = graft.sources.Tables.load(spark, out, "embeddings").count()
        // count inside the timed block, same as ann mode (ADVICE r6 #1)
        val ((bf, nTruth), tBf) = timed {
          val df = SparkEntry.queries("q40_ann_bruteforce")(spark, out)
            .select(col("qid"), col("nn_id")).cache()
          (df, df.count())
        }
        def recallOf2(name: String): (Double, Double) = {
          val (res, t) = timed {
            SparkEntry.queries(name)(spark, out)
              .select(col("qid"), col("nn_id"))
              .join(bf, Seq("qid", "nn_id")).count()
          }
          (res.toDouble / nTruth, t)
        }
        val (recLsh, tLsh) = recallOf2("q41_ann_lsh")
        val (recIvf, tIvfBuild) = recallOf2("q41b_ann_ivf")
        bf.unpersist()
        println(s"""{"metric":"ann_recall_clustered","copies":$copies,"n_vecs":$nVecs,"n_clusters":$nClusters,"k":5,"lsh":{"recall":$recLsh,"sec":$tLsh,"planes":8,"multiprobe":"hamming-1"},"ivf":{"recall":$recIvf,"build_probe_sec":$tIvfBuild,"nlist":16,"nprobe":4},"bruteforce_sec":$tBf,"src":"synthetic-clustered"}""")

      case "lshcurve" =>
        // VERDICT r6 stretch #7: recall@5 vs nPlanes at scaled
        // uniform-random vectors, fixed hamming-1 multiprobe — the knob
        // guidance behind SCALE.md's documented recall floor. Fewer
        // planes = coarser buckets = more candidates = higher recall.
        val out = scaledEmbeddingsDir(spark, src, copies)
        val emb = graft.sources.Tables.embeddings(spark, out)
        val nVecs = emb.count()
        val ((bf, nTruth), tBf) = timed {
          val df = SparkEntry.queries("q40_ann_bruteforce")(spark, out)
            .select(col("qid"), col("nn_id")).cache()
          (df, df.count())
        }
        val points = (for {
          planes <- Seq(4, 6, 8, 10, 12)
          radius <- Seq(1, 2)
        } yield {
          val (hit, t) = timed {
            graft.operators.Similarity
              .lshTopK(emb, col("vec_id") < 20, k = 5, nPlanes = planes,
                probeRadius = radius)
              .select(col("qid"), col("nn_id"))
              .join(bf, Seq("qid", "nn_id")).count()
          }
          val r = hit.toDouble / nTruth
          System.err.println(s"[lshcurve] planes=$planes radius=$radius recall=$r sec=$t")
          s"""{"planes":$planes,"radius":$radius,"recall":$r,"sec":$t}"""
        })
        bf.unpersist()
        println(s"""{"metric":"lsh_recall_curve","copies":$copies,"n_vecs":$nVecs,"k":5,"multiprobe":"hamming-1","bruteforce_sec":$tBf,"points":[${points.mkString(",")}],"src":"$src"}""")

      case "sketches" =>
        // VERDICT r6 missing #2: (a) a lineitem-replication decade for
        // q92 (the doc-replication probe can't scale the lineitem-family
        // queries), and (b) a many-shard merge probe — ≥1,000
        // per-partition CMS/GK states folded to one — timing the
        // metadata-sized refresh the SCALE.md incremental-dashboard
        // story promises.
        val out = scaledLineitemDir(spark, src, copies)
        val nRows = graft.sources.Tables.load(spark, out, "lineitem").count()
        // noop write: .count() would prune these queries' aggregate tails
        // to a distinct over the group keys (the very work being measured)
        val (_, tQ92) = timed(SparkEntry.queries("q92_gk_quantiles")(spark, out)
          .write.format("noop").mode("overwrite").save())
        val (_, tQ43) = timed(SparkEntry.queries("q43_approx_sketches")(spark, out)
          .write.format("noop").mode("overwrite").save())
        // many-shard merge: one CMS + one GK state per shard over the
        // UNSCALED sf lineitem (the states, not the data, are the point)
        val nShards = 1024
        import graft.mr.Aggregators.{Cms, Gk}
        val (cms, gk) = (Cms(7, 2048), Gk(0.01))
        val (cmsState, gkState) = (cms.state, gk.state)
        val (cmsMerge, gkMerge) = (cms.foldState, gk.fold(Gk.quantile(0.95)))
        val li = graft.sources.Tables.load(spark, src, "lineitem")
          .withColumn("shard", pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(nShards)))
        val shardStates = li.groupBy(col("shard"))
          .agg(cmsState(xxhash64(col("l_partkey"))).as("cst"),
            gkState(col("l_extendedprice").cast("double")).as("gst"))
          .persist()
        val built = shardStates.count() // materialize: the fold is what's timed
        val (_, tCmsFold) = timed {
          shardStates.agg(cmsMerge(col("cst")).as("m")).head()
        }
        val (p95, tGkFold) = timed {
          shardStates.agg(gkMerge(col("gst")).as("m")).head().getDouble(0)
        }
        shardStates.unpersist()
        println(s"""{"metric":"sketch_probe","copies":$copies,"n_rows":$nRows,"q92_sec":$tQ92,"q43_sec":$tQ43,"merge_shards":$built,"cms_fold_sec":$tCmsFold,"gk_fold_sec":$tGkFold,"gk_p95":$p95,"src":"$src"}""")

      case "phrase" =>
        // q97's stored-probe decade (VERDICT r7 #1): build the two
        // persisted artifacts once (index bucketed by gh, token table
        // bucketed by doc_id), then time the probe alone. The probe's
        // phrases live in copy 0 (the affine cipher's a=1,b=0 identity
        // permutation), so the HIT count is constant while the corpus
        // grows copies× — exactly the O(candidates) claim under test.
        spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
        val out = scaledDocsDir(spark, src, copies)
        val docs = graft.sources.Tables.load(spark, out, "documents")
        val nDocs = docs.count()
        val idxTbl = s"phrase_probe_idx_x$copies"
        val tokTbl = s"phrase_probe_tok_x$copies"
        val (_, tBuild) = timed {
          graft.plans.ScaleOps.writeBucketed(
            graft.operators.TextAnalysis.gramIndex(docs, "doc_id", "text", 3),
            "gh", 64, idxTbl)
          graft.plans.ScaleOps.writeBucketed(
            graft.operators.TextAnalysis.tokenTable(docs, "doc_id", "text"),
            "doc_id", 64, tokTbl)
        }
        val phrases = Seq("join part filter", "the vector customer spark",
          "sort merge join")
        def probe(): Long = graft.operators.TextAnalysis
          .phraseHitsStored(spark, idxTbl, tokTbl, "doc_id", phrases, 3)
          .count() // result is a handful of rows; count == materialize here
        val nHits = probe() // warm (file listing, code cache)
        val probeTimes = (1 to 3).map(_ => timed(probe())._2)
        spark.sql(s"DROP TABLE IF EXISTS $idxTbl")
        spark.sql(s"DROP TABLE IF EXISTS $tokTbl")
        println(s"""{"metric":"phrase_probe","copies":$copies,"n_docs":$nDocs,"n_hits":$nHits,"build_sec":$tBuild,"probe_sec":[${probeTimes.map(t => f"$t%.3f").mkString(",")}],"src":"$src"}""")

      case "zorder" =>
        // Measured 2-dim pruning decade: the same box predicate against a
        // z-ordered layout vs a 1-dim-sorted layout of the same rows, at
        // growing corpus size. The claim under test: the 1-dim layout's
        // scan cost tracks ITS dimension's selectivity (25% here) while
        // the z-layout's tracks the box volume (25% × 10% = 2.5%) — a
        // constant-factor gap that WIDENS in absolute terms with corpus
        // size, which is why layout is a 100 TB concern at all.
        val out = scaledLineitemDir(spark, src, copies)
        val li = graft.sources.Tables.load(spark, out, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_partkey"), col("l_suppkey"))
        // linear min/max normalization of both dims into 16 bits — the
        // caller-side bucketing zorder16's scaladoc prescribes (rank
        // bucketing would serve skewed keys; these are uniform)
        val mm = li.agg(min("l_partkey"), max("l_partkey"),
          min("l_suppkey"), max("l_suppkey")).head()
        val (pLo, pHi) = (mm.getLong(0), mm.getLong(1))
        val (sLo, sHi) = (mm.getLong(2), mm.getLong(3))
        def to16(c: org.apache.spark.sql.Column, lo: Long, hi: Long) =
          ((c - lit(lo)) * lit(65535L) / lit(math.max(1L, hi - lo))).cast("long")
        val keyed = li
          .withColumn("x16", to16(col("l_partkey"), pLo, pHi))
          .withColumn("y16", to16(col("l_suppkey"), sLo, sHi))
        val nRows = keyed.count()
        val zDir = s"$out/z_layout"
        val linDir = s"$out/lin_layout"
        val filesN = 64
        val rpf = math.max(4096L, nRows / 256)
        val (_, tZw) = timed(graft.plans.ScaleOps.writeZOrdered(
          keyed, "x16", "y16", zDir, filesN, rpf))
        val (_, tLw) = timed(keyed
          .repartitionByRange(filesN, col("x16")).sortWithinPartitions(col("x16"))
          .write.mode("overwrite").option("maxRecordsPerFile", rpf).parquet(linDir))
        val pred = col("x16") < lit(16384) && col("y16") < lit(6554)
        def scanRows(dir: String): (Long, Long, Double) = {
          val df = spark.read.parquet(dir).filter(pred)
          // collect (not count/noop): those build a separate
          // QueryExecution, leaving THIS plan's scan metrics at zero
          val (n, t) = timed(df.collect().length.toLong)
          val plan = df.queryExecution.executedPlan match {
            case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
              a.executedPlan
            case p => p
          }
          val read = plan.collect {
            case s: org.apache.spark.sql.execution.FileSourceScanExec =>
              s.metrics("numOutputRows").value
          }.sum
          (n, read, t)
        }
        val (nBoxZ, zRead, _) = scanRows(zDir) // warm file listing
        val zReps = (1 to 3).map(_ => scanRows(zDir)._3)
        val (nBoxL, lRead, _) = scanRows(linDir)
        val lReps = (1 to 3).map(_ => scanRows(linDir)._3)
        require(nBoxZ == nBoxL, s"layouts disagree: $nBoxZ vs $nBoxL")
        println(s"""{"metric":"zorder_probe","copies":$copies,"n_rows":$nRows,"box_rows":$nBoxZ,"z_scan_rows":$zRead,"lin_scan_rows":$lRead,"z_write_sec":$tZw,"lin_write_sec":$tLw,"z_sec":[${zReps.map(t => f"$t%.3f").mkString(",")}],"lin_sec":[${lReps.map(t => f"$t%.3f").mkString(",")}],"src":"$src"}""")

      case other =>
        fail(s"unknown mode: $other (expected queries|stages|" +
          "ann|annc|lshcurve|sketches|phrase|zorder)")
    }
    spark.stop()
  }
}
