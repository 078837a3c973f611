"""Measure the operative baseline: DuckDB wall-clock on the SAME oracle
queries the driver grades, at a chosen scale factor (BASELINE.md defines
the target as "within 2x of the DuckDB oracle on the same queries at the
same SF"). Prints one JSON line mirroring bench.py's shape.

Usage:  python scripts/baseline_duckdb.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
    "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main() -> None:
    from sparvi_spark.checks import collect_all_checks

    m = re.search(r"sf([0-9.]+)", SF_DIR)
    sf = float(m.group(1)) if m else -1.0
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{SF_DIR}/{t}.parquet')")
    timings: dict[str, float] = {}
    for name, (_fn, sql) in sorted(collect_all_checks().items()):
        if sql is None:
            continue
        best = float("inf")
        for _ in range(2):  # best-of-2, mirroring bench.py
            t0 = time.perf_counter()
            con.execute(sql).fetchall()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 4)
    print(json.dumps({
        "metric": "duckdb_oracle_total",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }))


if __name__ == "__main__":
    main()
