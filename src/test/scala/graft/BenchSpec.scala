package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench self-validation logic (VERDICT r5 #1) is pure: baseline
  * parsing, median selection, and the suspect predicate are unit-tested
  * here so the contention defense itself can't silently rot.
  */
class BenchSpec extends AnyFunSuite {

  test("parseBaseline reads name/seconds pairs, skips comments and junk") {
    val lines = Iterator(
      "# quiet-machine medians",
      "",
      "q01_agg_pricing 0.1234",
      "q37_dedup_minhash 0.49",
      "not a valid line with extra fields",
      "q_bad notanumber")
    val b = Bench.parseBaseline(lines)
    assert(b === Map("q01_agg_pricing" -> 0.1234, "q37_dedup_minhash" -> 0.49))
  }

  test("exprRates: every ingest expression reports a positive MB/s row") {
    val rows = ThroughputBench.exprRates(graft.SparkSpec.session,
      "/root/testdata/sf0.001", mult = 1, reps = 1)
    val names = rows.map(_._1)
    assert(names == Seq("dechunk", "gunzip_bytes", "inflate_bytes",
      "transcode_utf8", "html_text", "main_content", "main_content_ref",
      "warc_parse_bytes"), names.toString)
    rows.foreach { case (n, mb, sec) =>
      assert(mb > 1 && sec > 0, s"$n: mb=$mb sec=$sec")
    }
  }

  test("recordPath: a filtered run writes the _FILTERED sibling, never the full path") {
    assert(Bench.recordPath(None, filtered = false) === "BENCH_FULL.json")
    assert(Bench.recordPath(None, filtered = true) === "BENCH_FULL_FILTERED.json")
    assert(Bench.recordPath(Some("/data/bench/run.json"), filtered = false) ===
      "/data/bench/run.json")
    assert(Bench.recordPath(Some("/data/bench/run.json"), filtered = true) ===
      "/data/bench/run_FILTERED.json")
    assert(Bench.recordPath(Some("out.d/run"), filtered = true) === "out.d/run_FILTERED")
    assert(Bench.recordPath(Some("a.tar.gz"), filtered = true) === "a.tar_FILTERED.gz")
  }

  test("median picks the middle element of odd-length runs") {
    assert(Bench.median(Seq(3.0, 1.0, 2.0)) === 2.0)
    assert(Bench.median(Seq(5.0)) === 5.0)
  }

  test("median of even-length runs picks the upper-middle (pessimistic)") {
    assert(Bench.median(Seq(1.0, 2.0)) === 2.0)
  }

  test("suspect: >factor x baseline AND above the absolute floor") {
    val f = Bench.SUSPECT_FACTOR; val m = Bench.SUSPECT_MIN_ABS_SEC
    // q37 r5 case: artifact 3.53s vs quiet 0.52s -> suspect
    assert(Bench.isSuspect(3.53, Some(0.52), f, m))
    // within 2x -> fine
    assert(!Bench.isSuspect(0.9, Some(0.52), f, m))
    // tiny absolute inflation on a fast query is scheduler noise, not
    // contamination: 0.05s -> 0.2s is 4x but only +0.15s
    assert(!Bench.isSuspect(0.2, Some(0.05), f, m))
    // no baseline entry -> never suspect (first run on a new machine)
    assert(!Bench.isSuspect(10.0, None, f, m))
  }
}
