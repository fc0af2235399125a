#!/usr/bin/env python3
"""Compare two full-bench JSONs (the BENCH_FULL.json one-line format):
per-query ratios, geomean, movers. Usage:
  tools/compare_bench.py BEFORE.json AFTER.json [threshold]
Exits nonzero with a one-line reason when an input is not a full-bench
JSON (e.g. the summary line) or no query has a positive time in both.
"""
import json
import math
import sys


def load(path: str) -> dict:
    try:
        with open(path) as f:
            d = json.load(f)
    except (OSError, ValueError) as e:
        sys.exit(f"compare_bench: cannot read {path}: {e}")
    if not isinstance(d, dict) or not isinstance(d.get("queries"), dict):
        sys.exit(f"compare_bench: {path} has no 'queries' map "
                 "(a summary line?); give the full-bench JSON")
    return d


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit(__doc__.strip())
    before, after = load(sys.argv[1]), load(sys.argv[2])
    thr = float(sys.argv[3]) if len(sys.argv) > 3 else 1.3
    b, a = before["queries"], after["queries"]
    common = sorted(set(b) & set(a))
    ratios = {k: a[k] / b[k] for k in common if b[k] > 0 and a[k] > 0}
    if not ratios:
        sys.exit(f"compare_bench: no query has a positive time in both inputs "
                 f"({len(common)} in common)")
    geo = math.exp(sum(math.log(r) for r in ratios.values()) / len(ratios))
    print(f"n_common={len(common)} total {before['value']:.1f} -> "
          f"{after['value']:.1f} s  geomean(after/before)={geo:.3f}")
    print(f"loadavg before-run: {before['loadavg_before']} -> {before['loadavg_after']}")
    print(f"loadavg after-run:  {after['loadavg_before']} -> {after['loadavg_after']}")
    movers = [(k, r) for k, r in ratios.items()
              if (r > thr or r < 1 / thr) and max(a[k], b[k]) > 0.5]
    for k, r in sorted(movers, key=lambda x: x[1]):
        print(f"  {k:38s} {b[k]:7.2f} -> {a[k]:7.2f}  ({r:0.2f}x)")
    dropped = sorted(set(b) - set(a))
    added = sorted(set(a) - set(b))
    if dropped:
        print("DROPPED:", dropped)
    if added:
        print("added:", added)


if __name__ == "__main__":
    main()
