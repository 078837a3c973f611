"""Split each check's cost into plan-BUILD time (fn() returning a
DataFrame — pure Python + py4j expression construction plus Catalyst
analysis on first action) vs EXECUTE time (toPandas on the built frame).

The concurrent suite wall is bounded below by the Python-side build
total (GIL-serialized), so this identifies which checks to move
JVM-side. Usage: python scripts/profile_builds.py [sf_dir]
"""

from __future__ import annotations

import os
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

    spark = get_spark("profile_builds")
    spark.sparkContext.setLogLevel("ERROR")
    for t in TABLES:
        load_table(spark, t, SF_DIR).count()

    rows = []
    for name, (fn, _sql) in sorted(collect_all_checks(prepared=False).items()):
        fn(spark, SF_DIR).toPandas()  # warm codegen / prepared state
        build = exe = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            df = fn(spark, SF_DIR)
            t1 = time.perf_counter()
            df.toPandas()
            t2 = time.perf_counter()
            build = min(build, t1 - t0)
            exe = min(exe, t2 - t1)
        rows.append((name, build, exe))

    rows.sort(key=lambda r: -r[1])
    tb = sum(r[1] for r in rows)
    te = sum(r[2] for r in rows)
    print(f"{'check':<32} {'build':>7} {'exec':>7}")
    for name, b, e in rows:
        print(f"{name:<32} {b:7.3f} {e:7.3f}")
    print(f"{'TOTAL':<32} {tb:7.3f} {te:7.3f}")
    spark.stop()


if __name__ == "__main__":
    main()
