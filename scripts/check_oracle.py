"""Local replica of the driver's correctness gate.

Runs every check's Spark DataFrame and DuckDB oracle SQL at sf0.01 (or
--sf-dir), compares row count, sorted column names, and order-insensitive
values. Usage:  python scripts/check_oracle.py [name_prefix ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

SF_DIR = os.environ.get("CHECK_SF_DIR", "/root/testdata/sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    # Type-PREFIXED normalization: the driver's hash is dtype-sensitive
    # (int64 0 vs float64 0.0 mismatch), so the local gate must be at least
    # as strict — a float and an int with equal value must NOT collapse
    # (ADVICE r01: p02/d07 passed locally while the driver failed them).
    import numpy as np
    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, (bool, np.bool_)):
        return f"b:{bool(v)}"
    if isinstance(v, (float, np.floating)):
        if math.isnan(v):
            return "NULL"
        return f"f:{float(v):.9g}"
    if isinstance(v, (int, np.integer)):
        return f"i:{int(v)}"
    return str(v)


def frame_key(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    rows = [tuple(norm_cell(v) for v in row) for row in df[cols].itertuples(index=False)]
    return sorted(rows)


def main() -> int:
    prefixes = sys.argv[1:]
    from sparvi_spark.checks import collect_all_checks, collect_extra_checks
    from sparvi_spark.session import get_spark

    checks = dict(collect_all_checks())
    # modules may cede driver-recorded slots but keep pairs locally verified
    checks.update(collect_extra_checks())
    if prefixes:
        checks = {k: v for k, v in checks.items() if any(k.startswith(p) for p in prefixes)}

    spark = get_spark("oracle_check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")

    n_pass = n_fail = n_weak = 0
    for name, (fn, sql) in sorted(checks.items()):
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        if sql is None:
            print(f"WEAK {name}: rows={len(sdf)} (no oracle) [{time.time()-t0:.1f}s]")
            n_weak += 1
            continue
        try:
            odf = con.execute(sql).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"row count {len(sdf)} vs {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"columns {sorted(sdf.columns)} vs {sorted(odf.columns)}")
        if not problems:
            ks, ko = frame_key(sdf), frame_key(odf)
            if ks != ko:
                diff = [(a, b) for a, b in zip(ks, ko) if a != b][:3]
                problems.append(f"values differ, first diffs: {diff}")
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            n_fail += 1
        else:
            print(f"PASS {name} rows={len(sdf)} [{time.time()-t0:.1f}s]")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_weak} weak (rows-only), {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
