package perfbench

/** Per-layer metrics of a traced run. Pass metrics are averaged per
  * traced pass of the workload: span metrics are `<span name>_s`
  * (inclusive wall), Spark and module metrics come from the jobs the
  * listener attributed to the passes. Chain and loop metrics are averaged
  * per call (`chain.crawl_chain_http`; `loops.bpe` + `loops.pagerank`),
  * inside a pass or in the call near_dedup's (chain) or mr_jobs' (loops)
  * traced run adds after its passes. run.py adds the session metrics and the tracing overhead. */
object PerfLayers {

  /** Modules the passes' jobs are split by; any other call site counts
    * as `other`. These are the files whose jobs the workloads launch. */
  val modules = Seq("Curation", "DataPrep", "TextAnalysis", "Graph", "Jobs", "MapReduce",
    "GraftIO", "Tables", "other")
  /** Modules the chain call's jobs are split by. */
  val chainModules = Seq("CurationChain", "Curation", "Dedup", "LangId", "UrlOps", "DataPrep",
    "Tables", "other")
  val chainSpan = "chain.crawl_chain_http"

  def metrics(t: PerfTrace, jobs: Seq[PerfTrace#Job], n: Int,
      c: PerfMain.Counters): Map[String, Double] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    def sec(iv: Seq[PerfTrace#Job]) = PerfTrace.union(iv.map(j => (j.start, j.end))) / 1e3
    def stages(js: Seq[PerfTrace#Job]) = js.flatMap(j => j.stages.synchronized(j.stages.toList))
    def ancestors(s: PerfTrace#Span): Seq[PerfTrace#Span] =
      s +: (if (s.parent < 0) Nil else ancestors(t.spans(s.parent)))
    def under(j: PerfTrace#Job, pred: PerfTrace#Span => Boolean) =
      j.span != null && ancestors(j.span).exists(pred)
    def inPass(s: PerfTrace#Span) = ancestors(s).last.name.startsWith("pass.")
    def byModule(js: Seq[PerfTrace#Job], names: Seq[String]) =
      js.groupBy(j => if (names.contains(j.module)) j.module else "other")

    val traced = jobs.filter(j => j.span != null && inPass(j.span))
    val st = stages(traced)
    val passWall = t.spans.filter(s => s.parent < 0 && inPass(s)).map(_.wall).sum / n
    m("spark.jobs") = traced.size.toDouble / n
    m("spark.stages") = st.size.toDouble / n
    m("spark.tasks") = st.map(_.tasks).sum.toDouble / n
    m("spark.exec_run_s") = st.map(_.runMs).sum / 1e3 / n
    m("spark.exec_cpu_s") = st.map(_.cpuNs).sum / 1e9 / n
    m("spark.gc_s") = st.map(_.gcMs).sum / 1e3 / n
    m("spark.shuffle_write_mb") = st.map(_.shuffleWrite).sum / 1e6 / n
    m("spark.shuffle_read_mb") = st.map(_.shuffleRead).sum / 1e6 / n
    m("spark.spill_mb") = st.map(_.spill).sum / 1e6 / n
    m("spark.driver_gap_s") = passWall - sec(traced) / n
    m("spark.parallelism") = m("spark.exec_run_s") / passWall
    // Janino compile time of generated code, in any thread of the JVM
    m("spark.codegen_s") = c("spark.codegen_ns") / 1e9 / n

    for (s <- t.spans if s.parent >= 0 && inPass(s)) m(s.name + "_s") += s.wall / n
    m("sources.read_mb") =
      stages(traced.filter(under(_, _.layer == "sources"))).map(_.inputBytes).sum / 1e6 / n

    val wc = stages(traced.filter(under(_, _.name == "mr.word_count")))
    if (wc.nonEmpty)
      m("mr.combine_ratio") = c("mr.map_records") / wc.map(_.shuffleWriteRecords).sum
    m("sink.bytes_mb") = c("sink.bytes") / 1e6 / n

    m("curation.candidate_pairs") = c("curation.candidate_pairs") / n
    m("curation.verified_pairs") = c("curation.verified_pairs") / n
    if (c("curation.candidate_pairs") > 0)
      m("curation.yield") = c("curation.verified_pairs") / c("curation.candidate_pairs")

    // loop metrics are per q155b + q147 call: one per traced text_loops
    // pass, or mr_jobs' one call after its passes
    val loopCalls = t.spans.count(_.name == "loops.bpe")
    if (loopCalls > 0) {
      val loopSpans = t.spans.filter(_.layer == "loops")
      val loopJobs = jobs.filter(under(_, _.layer == "loops"))
      for (name <- Seq("loops.bpe", "loops.pagerank", "operators.token_budget"))
        m(name + "_s") = t.spans.filter(_.name == name).map(_.wall).sum / loopCalls
      m("loops.jobs_per_iter") = loopJobs.size / c("loops.iterations")
      m("loops.driver_gap_s") = (loopSpans.map(_.wall).sum - sec(loopJobs)) / loopCalls
    }

    for ((mod, js) <- byModule(traced, modules)) {
      val s = stages(js)
      m(s"$mod.jobs") = js.size.toDouble / n
      m(s"$mod.wall_s") = sec(js) / n
      m(s"$mod.exec_run_s") = s.map(_.runMs).sum / 1e3 / n
      m(s"$mod.shuffle_write_mb") = s.map(_.shuffleWrite).sum / 1e6 / n
    }

    val calls = t.spans.filter(_.name == chainSpan)
    if (calls.nonEmpty) {
      val k = calls.size
      val cj = jobs.filter(under(_, _.name == chainSpan))
      m(chainSpan + "_s") = calls.map(_.wall).sum / k
      m("chain.jobs") = cj.size.toDouble / k
      m("chain.exec_run_s") = stages(cj).map(_.runMs).sum / 1e3 / k
      m("chain.driver_gap_s") = (calls.map(_.wall).sum - sec(cj)) / k
      for ((mod, js) <- byModule(cj, chainModules)) {
        m(s"chain.$mod.jobs") = js.size.toDouble / k
        m(s"chain.$mod.wall_s") = sec(js) / k
      }
    }
    m("trace.passes") = n.toDouble
    m.toMap
  }
}
