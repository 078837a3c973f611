"""Per-check parity + timing harness for the r12 optimization work.

Usage: python scripts/check_ab.py <check> [<check> ...] [--sf 0.1]
       python scripts/check_ab.py p12 x27 --snapdir /tmp/check_snap_before

For each named check (exact name or unique prefix): verifies the current
builder's output against the saved pre-refactor snapshot pickles at
sf0.001/0.01/0.1 (columns, dtypes, order-insensitive normalized row
multiset — the driver-hash normalization), then times build+execute with
the bench discipline (fresh plan per run via prepared=False, warm table
cache, best and median of N draws) at the timing SF.
"""

from __future__ import annotations

import os
import pickle
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from snapshot_checks import frame_key  # noqa: E402

SNAP_SFS = ["0.001", "0.01", "0.1"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main() -> int:
    args = [a for a in sys.argv[1:]]
    sf = "0.1"
    snapdir = "/tmp/check_snap_before"
    reps = 3
    names = []
    i = 0
    while i < len(args):
        if args[i] == "--sf":
            sf = args[i + 1]; i += 2
        elif args[i] == "--snapdir":
            snapdir = args[i + 1]; i += 2
        elif args[i] == "--reps":
            reps = int(args[i + 1]); i += 2
        else:
            names.append(args[i]); i += 1

    from sparvi_spark.checks import collect_all_checks
    from sparvi_spark.session import get_spark
    from sparvi_spark.testdata import load_table

    checks = collect_all_checks(prepared=False)
    picked = []
    for n in names:
        hits = [k for k in checks if k == n or k.startswith(n)]
        if len(hits) != 1:
            print(f"ambiguous or unknown check {n!r}: {hits}")
            return 2
        picked.append(hits[0])

    spark = get_spark("check_ab")
    spark.sparkContext.setLogLevel("ERROR")
    bad = 0
    for name in picked:
        fn, _sql = checks[name]
        for ssf in SNAP_SFS:
            path = os.path.join(snapdir, ssf, f"{name}.pkl")
            if not os.path.exists(path):
                print(f"{name} sf{ssf}: NO SNAPSHOT at {path}")
                bad += 1
                continue
            cur = fn(spark, f"/root/testdata/sf{ssf}").toPandas()
            with open(path, "rb") as f:
                ref = pickle.load(f)
            probs = []
            if sorted(cur.columns) != sorted(ref.columns):
                probs.append("columns")
            else:
                c = sorted(cur.columns)
                if list(cur[c].dtypes.astype(str)) != \
                        list(ref[c].dtypes.astype(str)):
                    probs.append("dtypes")
            if not probs and frame_key(cur) != frame_key(ref):
                probs.append("rows")
            if probs:
                print(f"{name} sf{ssf}: MISMATCH {probs}")
                bad += 1
            else:
                print(f"{name} sf{ssf}: parity OK ({len(cur)} rows)")

    # timing pass: bench discipline — isolate (clear caches, rewarm
    # tables) between reps so self-persisting checks don't stack cached
    # RDDs across reps, warm codegen untimed, best-of-N fresh builds
    sf_dir = f"/root/testdata/sf{sf}"

    def isolate():
        from sparvi_spark import testdata

        spark.catalog.clearCache()
        testdata._CACHE.clear()
        for t in TABLES:
            load_table(spark, t, sf_dir).count()

    isolate()
    for name in picked:
        fn, _sql = checks[name]
        fn(spark, sf_dir).toPandas()  # warm codegen
        isolate()
        best_b = best_e = float("inf")
        draws = []
        for _ in range(reps):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            df.toPandas()
            t2 = time.perf_counter()
            best_b = min(best_b, t1 - t0)
            best_e = min(best_e, t2 - t1)
            draws.append(t2 - t0)
            isolate()
        print(f"TIME {name} sf{sf}: build {best_b:.3f} exec {best_e:.3f} "
              f"total(best) {min(draws):.3f} "
              f"median {statistics.median(draws):.3f} "
              f"draws {' '.join(f'{d:.3f}' for d in draws)}")
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
