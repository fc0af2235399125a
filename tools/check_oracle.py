#!/usr/bin/env python3
"""Local simulation of the driver's t2 correctness gate.

Runs DuckDB oracle SQL (from Verify's oracle_sql.json) against the same
parquet tables and compares with the Spark results Verify dumped.
Usage: check_oracle.py <sfDir> <verifyOutDir> [--cap SECONDS]

Each [ OK ] line gives the row count and the oracle's DuckDB seconds.

Guards (round-13 lessons):
  * Every Spark result dir in outDir must have an oracle entry — a query
    missing from oracle_sql.json is a loud [MISS], not a silent skip
    (a filtered re-dump into a reused dir hid 13 queries in round 12).
  * Each oracle runs under a wall-time cap (default 60 s): a runaway
    oracle (e.g. a non-MATERIALIZED multi-referenced CTE cascade that
    DuckDB inlines exponentially) fails THIS gate loudly instead of
    starving the driver's whole correctness budget.
"""
import glob
import json
import math
import os
import sys
import threading
import time

import duckdb
import pandas as pd

ORACLE_CAP_SEC = 60.0


def run_capped(con, sql, cap):
    """Run sql on con; duckdb.interrupt() it if it exceeds cap seconds.

    Returns (df, secs, watchdog_fired). watchdog_fired=True means
    con.interrupt() was called — even if the query happened to finish in
    the race window, the connection may carry a PENDING interrupt that
    would abort the NEXT execute (mis-attributing the failure to the
    wrong query). The caller must reconnect whenever fired is True.
    """
    done = threading.Event()
    fired = threading.Event()

    def watchdog():
        if not done.wait(cap):
            fired.set()
            con.interrupt()

    w = threading.Thread(target=watchdog, daemon=True)
    t0 = time.monotonic()
    w.start()
    try:
        df = con.execute(sql).df()
        secs = time.monotonic() - t0
    finally:
        done.set()
        # join so fired's final state is visible to the caller
        w.join(timeout=5)
    # a watchdog still alive after the join timeout (con.interrupt()
    # blocked) may interrupt LATER — treat it as fired so the caller
    # reconnects instead of letting the late interrupt abort the NEXT
    # query and mis-attribute the failure (ADVICE r14)
    return df, secs, fired.is_set() or w.is_alive()

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df) == 0:
        return df.reset_index(drop=True)
    # stringify for stable sort across dtypes
    key = df.astype(str).apply(lambda r: "\x00".join(r), axis=1)
    df = df.iloc[key.argsort(kind="mergesort")].reset_index(drop=True)
    return df


def values_equal(a, b) -> bool:
    if a is None and b is None:
        return True
    try:
        if pd.isna(a) and pd.isna(b):
            return True
        if pd.isna(a) != pd.isna(b):
            return False
    except (TypeError, ValueError):
        pass
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
            if math.isnan(fa) and math.isnan(fb):
                return True
            return fa == fb  # EXACT — we want bit-parity
        except (TypeError, ValueError):
            return False
    return str(a) == str(b)


def reconnect(con, sf_dir):
    """Swap in a fresh connection, closing the old one (a replaced
    connection left open leaks and can still receive a late watchdog
    interrupt — ADVICE r14)."""
    try:
        con.close()
    except Exception:
        pass
    return make_con(sf_dir)


def make_con(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    cap = ORACLE_CAP_SEC
    if "--cap" in sys.argv:
        cap = float(sys.argv[sys.argv.index("--cap") + 1])
    con = make_con(sf_dir)
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_ok = n_bad = 0
    # Loud MISS for any dumped Spark result with no oracle entry: a
    # query that silently vanishes from the gate is worse than a
    # failing one.
    dumped = {os.path.basename(d) for d in glob.glob(f"{out_dir}/*")
              if os.path.isdir(d) and glob.glob(f"{d}/*.parquet")}
    for name in sorted(dumped - set(oracle)):
        print(f"[MISS] {name}: spark output present but NO oracle entry")
        n_bad += 1
    slow = []
    for name in sorted(oracle):
        sql = oracle[name]
        spark_path = f"{out_dir}/{name}"
        if not glob.glob(f"{spark_path}/*.parquet"):
            print(f"[MISS] {name}: no spark output")
            n_bad += 1
            continue
        try:
            got = canon(con.execute(
                f"SELECT * FROM read_parquet('{spark_path}/*.parquet')").df())
            want, secs, fired = run_capped(con, sql, cap)
            want = canon(want)
            if fired:
                # the query finished in the interrupt race window; the
                # connection may carry a pending interrupt — discard it
                # so the NEXT query isn't aborted and mis-attributed
                con = reconnect(con, sf_dir)
            if secs > cap:
                print(f"[SLOW] {name}: oracle took {secs:.1f}s (cap {cap:.0f}s)")
                n_bad += 1
                continue
            if secs > cap / 2:
                slow.append((name, secs))
        except duckdb.InterruptException:
            print(f"[TIME] {name}: oracle exceeded {cap:.0f}s wall cap — "
                  "check for multi-referenced plain CTEs (needs MATERIALIZED)")
            n_bad += 1
            con = reconnect(con, sf_dir)  # interrupted connection may be poisoned
            continue
        except Exception as e:
            msg = str(e).splitlines()[0][:200]
            if "INTERRUPT" in msg.upper() or "interrupted" in msg.lower():
                print(f"[TIME] {name}: oracle exceeded {cap:.0f}s wall cap — "
                      "check for multi-referenced plain CTEs (needs MATERIALIZED)")
            else:
                print(f"[ERR ] {name}: {msg}")
            n_bad += 1
            # reconnect on EVERY exception path: a genuine oracle error at
            # ~cap seconds can race the watchdog (interrupt fires on the
            # now-idle connection) and the caller never learns fired=True —
            # keeping the connection would poison the NEXT query
            con = reconnect(con, sf_dir)
            continue
        if list(got.columns) != list(want.columns):
            print(f"[COLS] {name}: spark={list(got.columns)} oracle={list(want.columns)}")
            n_bad += 1
            continue
        if len(got) != len(want):
            print(f"[ROWS] {name}: spark={len(got)} oracle={len(want)}")
            n_bad += 1
            continue
        bad = None
        for c in got.columns:
            for i, (x, y) in enumerate(zip(got[c], want[c])):
                if not values_equal(x, y):
                    bad = (c, i, x, y)
                    break
            if bad:
                break
        if bad:
            c, i, x, y = bad
            print(f"[VAL ] {name}: col={c} row={i} spark={x!r} oracle={y!r}")
            n_bad += 1
        else:
            print(f"[ OK ] {name}: {len(got)} rows, {secs:.2f} s")
            n_ok += 1
    for name, secs in slow:
        print(f"[WARN] {name}: oracle took {secs:.1f}s (> half the "
              f"{cap:.0f}s cap) — consider MATERIALIZED / smaller fixture")
    print(f"\n{n_ok} ok, {n_bad} bad")
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
