"""Spark wall-clock on the SAME 50 oracle queries the driver grades —
the Spark side of the operative-baseline comparison (see
scripts/baseline_duckdb.py for the DuckDB side and SCALING.md for the
recorded numbers). Protocol mirrors the DuckDB script: warm inputs,
best-of-2 per query, each run a FRESH DataFrame build (fresh RDD
lineage, so every shuffle stage recomputes — no stage-skip credit) with
physical planning forced outside the timer (prepared-statement model),
one JSON line in bench.py's shape.

Usage:  python scripts/suite_spark.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
    "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main() -> None:
    from sparvi_spark.checks import collect_all_checks
    from sparvi_spark.session import get_spark
    from sparvi_spark.testdata import load_table

    m = re.search(r"sf([0-9.]+)", SF_DIR)
    sf = float(m.group(1)) if m else -1.0
    spark = get_spark("suite_spark")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.perf_counter()
    for t in TABLES:
        load_table(spark, t, SF_DIR).count()
    print(f"# input warm: {time.perf_counter() - t0:.2f}s", file=sys.stderr)

    def isolate():
        # Query isolation: operators that persist intermediates (the
        # MinHash base frame etc.) would otherwise accumulate cached RDDs
        # across the 50 queries and tax later ones with GC pressure
        # (measured: p04 1.35s mid-suite vs 0.53s clean-session). Clear
        # everything and re-warm the input tables, untimed.
        from sparvi_spark import testdata

        spark.catalog.clearCache()
        testdata._CACHE.clear()
        for t in TABLES:
            load_table(spark, t, SF_DIR).count()

    # Timer boundary: fn() + toPandas TOGETHER — the wall time from
    # "request" to "results in hand" on a warm engine (one untimed prior
    # run per query warms codegen/JIT and any prepared state; per-call
    # Catalyst analysis stays inside the timer, exactly as DuckDB's
    # planning is inside its timer). Some checks execute eagerly inside
    # fn() (the prepared multi-table validation sweep), so timing the
    # action alone would place their work outside the clock.
    timings: dict[str, float] = {}
    for name, (fn, _sql) in sorted(collect_all_checks(prepared=False).items()):
        fn(spark, SF_DIR).toPandas()  # untimed warm run
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            fn(spark, SF_DIR).toPandas()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 4)
        print(f"# {name}: {timings[name]:.2f}s", file=sys.stderr)
        isolate()

    # System-level throughput: the serial per-query numbers above carry
    # Spark's fixed ~0.2-0.4s scheduling floor 50 times over — latency an
    # engine running a check suite absorbs by SUBMITTING CONCURRENTLY
    # (the reference's own rule executor is a 10-thread pool). Build all
    # 50 fresh plans, then measure one wall-clock for the whole suite on
    # a 16-thread driver pool; stages interleave and the scheduler stays
    # busy. This is the number to compare against DuckDB's serial total:
    # both answer "how long until every result is in hand".
    from concurrent.futures import ThreadPoolExecutor
    from threading import get_ident

    fns = [fn for _n, (fn, _sql)
           in sorted(collect_all_checks(prepared=False).items())]

    def run_one(f):
        # per-thread FAIR pool: queries share executor slots instead of
        # queueing stage-FIFO behind whichever job submitted first
        spark.sparkContext.setLocalProperty(
            "spark.scheduler.pool", f"suite-{get_ident()}")
        return f(spark, SF_DIR).toPandas()

    # best-of-2, same as the per-query protocol: a single shot is hostage
    # to neighbor load spikes on a shared machine; both runs build all 50
    # plans fresh inside the timer.
    concurrent_wall = float("inf")
    for _ in range(2):
        isolate()  # persisted check intermediates must not stack reps
        t0 = time.perf_counter()
        with ThreadPoolExecutor(max_workers=16) as ex:
            list(ex.map(run_one, fns))
        concurrent_wall = min(concurrent_wall,
                              round(time.perf_counter() - t0, 4))
    print(f"# concurrent wall (50 queries, 16 threads, best of 2): "
          f"{concurrent_wall:.2f}s", file=sys.stderr)

    print(json.dumps({
        "metric": "oracle_suite_total",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "concurrent_wall_sec": concurrent_wall,
        "sf": sf,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
