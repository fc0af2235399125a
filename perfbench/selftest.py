#!/usr/bin/env python3
"""The benchmark's own test.

    python3 perfbench/selftest.py

1. The generator is deterministic: the same seed gives byte-identical
   files for every workload, and another seed gives different files.
2. The result check catches a wrong expectation: an mr_jobs run with one
   planted wrong expected digest exits nonzero, reports correct=false and
   counts exactly one failure per checked pass, while the other results
   (checked by the same digest code) still match.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile

import gen

BENCH = os.path.dirname(os.path.abspath(__file__))


def check_determinism():
    tmp = tempfile.mkdtemp(dir=os.path.join(BENCH, ".work"))
    try:
        for w in gen.WORKLOADS:
            a = gen.generate(w, 5, os.path.join(tmp, "a", w))["files"]
            b = gen.generate(w, 5, os.path.join(tmp, "b", w))["files"]
            c = gen.generate(w, 6, os.path.join(tmp, "c", w))["files"]
            assert a == b, f"{w}: seed 5 gave different files"
            assert a != c, f"{w}: seeds 5 and 6 gave identical files"
            print(f"ok   {w}: same seed, same bytes; other seed, other bytes")
    finally:
        shutil.rmtree(tmp)


def check_planted_wrong_expectation():
    r = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", "mr_jobs",
                        "--seed", "5", "--seconds", "1", "--plant-wrong-expectation"],
                       capture_output=True, text=True, timeout=600)
    assert r.returncode != 0, "a wrong expectation must make the run exit nonzero"
    out = json.loads(r.stdout.strip().splitlines()[-1])
    results_per_pass = 4
    assert not out["correct"], out
    assert out["failed"] >= 1 and out["failed"] * results_per_pass == out["attempted"], out
    print(f"ok   planted wrong expectation caught: {out['failed']} of {out['attempted']} "
          f"results counted failed, exit code {r.returncode}")


if __name__ == "__main__":
    os.makedirs(os.path.join(BENCH, ".work"), exist_ok=True)
    check_determinism()
    check_planted_wrong_expectation()
