#!/usr/bin/env python3
"""Compares two sets of perfbench run records, metric by metric.

    python3 perfbench/compare.py BASE NEW

BASE and NEW are each a record file, or a directory of records, from
perfbench/.out/records. Every record on both sides must describe the same
workload, run length, trace mode, unmeasured-pass counts, core count,
heap, session config and input config; otherwise the comparison is
refused (exit 2) rather than made across unlike runs. Prints each metric's median per side, the
relative change and each side's quartile spread. All records are used;
none is dropped as an outlier.
"""
import glob
import json
import os
import statistics
import sys

SAME = ["workload", "seconds", "trace", "run", "cores", "heap", "spark_conf"]


def load(arg):
    files = sorted(glob.glob(os.path.join(arg, "*.json"))) if os.path.isdir(arg) else [arg]
    if not files:
        sys.exit(f"compare: no records in {arg}")
    return [json.load(open(f)) for f in files]


def like(r):
    return {k: r.get(k) for k in SAME} | {"inputs": r["inputs"]["config"]}


def spread(v):
    if len(v) < 2:
        return float("nan")
    q = statistics.quantiles(v, n=4)
    return (q[2] - q[0]) / statistics.median(v)


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    base, new = load(sys.argv[1]), load(sys.argv[2])
    ref = like(base[0])
    for r in base + new:
        if like(r) != ref:
            diff = {k: (ref[k], like(r)[k]) for k in ref if like(r)[k] != ref[k]}
            print(f"compare: refused, records are not like for like: {diff}", file=sys.stderr)
            sys.exit(2)
    print(f"{ref['workload']}: {len(base)} base records, {len(new)} new records, "
          f"{ref['cores']} cores")
    for name, m in base[0]["metrics"].items():
        b = [r["metrics"][name]["value"] for r in base]
        n = [r["metrics"][name]["value"] for r in new]
        mb, mn = statistics.median(b), statistics.median(n)
        change = (mn - mb) / mb if mb else float("nan")
        print(f"  {name:36s} {mb:12.6g} -> {mn:12.6g} {m['unit']:6s} {change:+8.2%}  "
              f"spread base {spread(b):.3f} new {spread(n):.3f}")


if __name__ == "__main__":
    main()
