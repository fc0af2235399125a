#!/usr/bin/env python3
"""The repo's benchmark of record (see README.md in this directory).

    python3 perfbench/run.py --workload near_dedup --seed 7 --seconds 10 --trace 0
    python3 perfbench/run.py --all --seed 7          # every workload, one seed

Builds the program and the benchmark from source on first use, generates
the workload's inputs from the seed, runs one JVM (perfbench.PerfMain) in a
closed loop, checks every result against an independently computed
expectation, writes a self-describing record under perfbench/.out/records,
and prints one JSON object as the last line of stdout. Exits nonzero when
any result is wrong or any job failed.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import struct
import subprocess
import sys
import time

import gen

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
SRC = os.path.join(ROOT, "src", "main", "scala")
WORK = os.path.join(BENCH, ".work")
OUT = os.path.join(BENCH, ".out")
BUILD = os.path.join(BENCH, ".build")
HEAP = "2g"
MAX_CORES = 4
# Per workload: passes run first and checked but not measured (pass
# times fall while the JVM compiles Spark's generated code: the cold pass
# takes about twice a warm one, the next a few per cent more than the
# rest), the same for traced passes in a traced run, and the fewest
# measured passes per loop.
RUN = {
    "mr_jobs": {"warmup": 2, "warmup_traced": 1, "min_passes": 3},
    "near_dedup": {"warmup": 1, "warmup_traced": 1, "min_passes": 3},
    "crawl_chain": {"warmup": 1, "warmup_traced": 1, "min_passes": 1},
    "text_loops": {"warmup": 1, "warmup_traced": 1, "min_passes": 3},
}
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    # the Spark distribution the repo's build.sbt compiles against
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(jars):
        fail("no Spark distribution: set SPARK_HOME")
    return jars


def sources():
    if not os.path.isdir(SRC):
        fail(f"program sources not found at {SRC}: run from a full checkout")
    files = [os.path.join(d, f) for d, _, fs in os.walk(SRC) for f in fs if f.endswith(".scala")]
    files += [os.path.join(BENCH, "scala", f) for f in os.listdir(os.path.join(BENCH, "scala"))]
    return sorted(files)


def build(jars):
    """Compiles the program's main sources and the benchmark's own Scala
    with the Scala compiler shipped in the Spark distribution; reuses the
    classes while no source changed. Returns (classes dir, source digest)."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp, classes = h.hexdigest(), os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, stamp
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cp = os.path.join(jars, "*")
    t0 = time.time()
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
                        f"-Djava.io.tmpdir={BUILD}", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile],
                       capture_output=True, text=True, timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: built {len(srcs)} sources in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes, stamp


def inputs(workload, seed):
    """Generates (once per seed) and describes the workload's inputs."""
    data = os.path.join(WORK, "data", f"{workload}-{seed}")
    info_file = os.path.join(data, "info.json")
    if os.path.exists(info_file):
        info = json.load(open(info_file))
        if info["gen_version"] == gen.GEN_VERSION and info["config"] == gen.WORKLOADS[workload]:
            return data, info
    shutil.rmtree(data, ignore_errors=True)
    info = gen.generate(workload, seed, data)
    with open(info_file, "w") as f:
        json.dump(info, f, sort_keys=True)
    return data, info


# ---------------------------------------------------------------- checks
def field(v):
    """Canonical text of one value; PerfMain.field is the same function."""
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return "d%016x" % struct.unpack(">Q", struct.pack(">d", v))[0]
    if isinstance(v, str):
        return v
    raise TypeError(f"no canonical form for {type(v).__name__}: {v!r}")


def digest(cols, rows):
    """Order-independent digest of a result: the sum of each canonical
    row's md5 prefix, the row count and the sorted column names."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    total, n = 0, 0
    for r in rows:
        line = "\x1f".join(field(r[i]) for i in order)
        total += int.from_bytes(hashlib.md5(line.encode("utf-8")).digest()[:8], "big")
        n += 1
    return f"{total % (1 << 64):016x}/{n}/{','.join(sorted(cols))}"


def expected(workload, data, info, oracle_sql):
    """Expected digest of every result, computed without the program: the
    generator's tallies (mr_jobs' own results) and a DuckDB replay of the
    declared query's oracle on the same generated tables (`oracle_sql`
    maps each such result to its SQL and its input directory under
    `data`). Cached per seed."""
    key = hashlib.sha256(json.dumps(oracle_sql, sort_keys=True).encode()).hexdigest()[:16]
    cache = os.path.join(data, f"expected-{key}.json")
    if os.path.exists(cache):
        return json.load(open(cache))
    exp = {}
    if workload == "mr_jobs":
        t = json.load(open(os.path.join(data, "tallies.json"), encoding="utf-8"))
        r = info["config"]["regions"]
        wc = [(c, w) for w, c in t["word_counts"].items()]
        exp.update({
            "word_count": digest(["count", "word"], wc),
            "word_count_general": digest(["count", "word"], wc),
            # yamr placement: the key's UTF-8 bytes as one unsigned
            # big-endian integer, mod the region count
            "word_regions": digest(["count", "region", "word"],
                                   [(c, int.from_bytes(w.encode("utf-8"), "big") % r, w)
                                    for c, w in wc]),
            "max_temp": digest(["max", "year"], [(m, int(y)) for y, m in t["year_max"].items()]),
        })
    if oracle_sql:
        import duckdb
        for name, q in oracle_sql.items():
            tables = os.path.join(data, q["dir"])
            con = duckdb.connect()
            con.execute("SET enable_progress_bar = false")
            for f in os.listdir(tables):
                if f.endswith(".parquet"):
                    con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                                f"read_parquet('{os.path.join(tables, f)}')")
            cur = con.execute(q["sql"])
            exp[name] = digest([d[0] for d in cur.description], cur.fetchall())
            con.close()
    with open(cache, "w") as f:
        json.dump(exp, f, sort_keys=True)
    return exp


# ------------------------------------------------------------------- run
def git_commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def run_one(workload, seed, seconds, trace, plant_wrong):
    jars = spark_jars()
    classes, src_digest = build(jars)
    t0 = time.time()
    data, info = inputs(workload, seed)
    phases = {"inputs_s": time.time() - t0}
    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    run = RUN[workload]
    work = os.path.join(WORK, f"run-{workload}")
    os.makedirs(OUT, exist_ok=True)
    base = os.path.join(OUT, f"{workload}-seed{seed}-trace{trace}")
    out = base + ".jvm.json"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    for stale in (out, out + ".trace.json"):
        if os.path.exists(stale):
            os.remove(stale)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss4m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Duser.language=en", "-Duser.country=US", "-Dspark.callstack.depth=200"]
           + [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.PerfMain",
              "--workload", workload, "--data", data, "--work", work, "--out", out,
              "--seconds", str(seconds), "--trace", str(trace), "--cores", str(cores),
              "--warmup", str(run["warmup"]), "--warmup-traced", str(run["warmup_traced"]),
              "--min-passes", str(run["min_passes"]),
              "--src", SRC, "--regions", str(gen.WORKLOADS[workload].get("regions", 1))])
    log = base + ".log"
    t0 = time.time()
    with open(log, "w") as lf:
        try:
            r = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=ROOT, timeout=165)
        except subprocess.TimeoutExpired:
            fail(f"{workload}: JVM did not finish in 165 s (log: {log})")
    if r.returncode != 0 or not os.path.exists(out):
        with open(log) as lf:
            sys.stderr.write(lf.read()[-6000:])
        fail(f"{workload}: JVM exited with {r.returncode} (log: {log})")
    shutil.rmtree(work, ignore_errors=True)
    jvm = json.load(open(out))
    phases["jvm_s"] = time.time() - t0
    t0 = time.time()
    exp = expected(workload, data, info, jvm["oracle_sql"])
    phases["expected_s"] = time.time() - t0
    if plant_wrong:
        first = sorted(exp)[0]
        exp = dict(exp, **{first: "0" * 16 + exp[first][16:]})
    # results of an input directory other than the workload's own are the
    # extra call's (a traced run's, after its passes); every other pass
    # makes the rest
    extra = {r for r, q in jvm["oracle_sql"].items() if q["dir"] != "."}
    own = {k: v for k, v in exp.items() if k not in extra}
    checked = [(p, own) for k in ("warmup_passes", "passes", "warmup_traced_passes",
                                  "traced_passes") for p in jvm.get(k, [])]
    checked += [(p, {k: exp[k] for k in extra}) for p in jvm.get("extra_passes", [])]
    attempted = failed = 0
    mismatches = []
    for i, (p, want_all) in enumerate(checked):
        for name, want in want_all.items():
            attempted += 1
            got = p["digests"].get(name)
            if p["error"] or got != want:
                failed += 1
                mismatches.append({"pass": i, "result": name, "got": got, "want": want,
                                   "error": p["error"]})

    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    walls = [p["wall_s"] for p in jvm["passes"]]
    wall = statistics.median(walls)
    values = {
        "setup_s": jvm["session_start_s"] + jvm["session_warmup_s"],
        "wall_s": wall,
        "mb_per_s": info["input_bytes"] / 1e6 / wall,
        "cpu_s": statistics.median(p["cpu_s"] for p in jvm["passes"]),
        "peak_rss_mb": jvm["peak_rss_mb"],
    }
    if trace:
        layer = dict(jvm["per_layer"])
        layer["session.start_s"] = jvm["session_start_s"]
        layer["session.warmup_s"] = jvm["session_warmup_s"]
        layer["trace.overhead_s"] = (statistics.median(p["wall_s"] for p in jvm["traced_passes"])
                                     - wall)
        wanted = bench["per_layer"]
        # a metric of a layer this workload does not exercise reads 0
        values = {m["name"]: layer.get(m["name"], 0.0) for m in wanted}
    else:
        wanted = bench["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}

    record = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "inputs": info, "cores": cores, "heap": HEAP, "heap_max_mb": jvm["heap_max_mb"],
        "spark_conf": jvm["spark_conf"], "git_commit": git_commit(),
        "source_sha256": src_digest, "closed_loop_clients": 1,
        "run": run, "session_start_s": jvm["session_start_s"],
        "session_warmup_s": jvm["session_warmup_s"], "warmup_passes": jvm["warmup_passes"],
        "passes": jvm["passes"], "warmup_traced_passes": jvm.get("warmup_traced_passes"),
        "traced_passes": jvm.get("traced_passes"), "extra_passes": jvm.get("extra_passes"),
        "expected": exp,
        "mismatches": mismatches, "attempted": attempted, "failed": failed,
        "failed_frac": failed / attempted, "metrics": metrics,
        "planted_wrong_expectation": plant_wrong,
        "phases": phases, "utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    rec_dir = os.path.join(OUT, "records")
    os.makedirs(rec_dir, exist_ok=True)
    with open(os.path.join(rec_dir, f"{workload}-seed{seed}-trace{trace}-"
                           f"{record['utc'].replace(':', '')}.json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)

    # a higher percentile only where at least ten passes lie beyond it
    p90 = (f"p90 {statistics.quantiles(walls, n=10)[-1]:.6g} s" if len(walls) >= 100
           else "too few passes for a higher percentile")
    print(f"{workload} seed={seed} cores={cores} passes={len(walls)} after "
          f"{len(jvm['warmup_passes'])} unmeasured (wall_s is their median; {p90})")
    for name, m in metrics.items():
        print(f"  {workload}.{name} = {m['value']:.6g} {m['unit']}")
    print(f"  {workload}.failed_frac = {failed}/{attempted} = {failed / attempted:.6g} ratio")
    for mm in mismatches[:5]:
        print(f"  WRONG {mm}", file=sys.stderr)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(gen.WORKLOADS))
    ap.add_argument("--all", action="store_true", help="run every workload")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=3)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--plant-wrong-expectation", action="store_true",
                    help="corrupt one expected digest (the self-test of the check)")
    a = ap.parse_args()
    if not a.all and not a.workload:
        ap.error("give --workload or --all")
    names = sorted(gen.WORKLOADS) if a.all else [a.workload]
    results = {w: run_one(w, a.seed, a.seconds, a.trace, a.plant_wrong_expectation)
               for w in names}
    if a.all:
        summary = {"correct": all(r["correct"] for r in results.values()),
                   "attempted": sum(r["attempted"] for r in results.values()),
                   "failed": sum(r["failed"] for r in results.values()),
                   "metrics": {f"{w}.{k}": v for w, r in results.items()
                               for k, v in r["metrics"].items()}}
    else:
        summary = results[a.workload]
    print(json.dumps(summary))
    sys.exit(0 if summary["correct"] else 1)


if __name__ == "__main__":
    main()
