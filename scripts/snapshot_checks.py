"""Snapshot / compare every declared check's output across refactors.

Usage:
  python scripts/snapshot_checks.py save <dir> [sf ...]
  python scripts/snapshot_checks.py compare <dir> [sf ...]

``save`` writes one pickle per (sf, check) of the check's pandas frame.
``compare`` re-runs the current builders and fails on ANY difference in
columns, dtypes, or the order-insensitive row multiset (the driver-hash
normalization: dtype-prefixed cells, sorted rows over sorted columns).

The set covers everything the oracle sweep grades or runs: the graded
slots, every module's ``EXTRA_CHECKS`` (``collect_extra_checks``) and the
bench headline queries that are not a graded slot (``bench_<name>``).
"""

from __future__ import annotations

import math
import os
import pickle
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd

DEFAULT_SFS = ["0.001", "0.01", "0.1"]


def norm_cell(v):
    import numpy as np
    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, (bool, np.bool_)):
        return f"b:{bool(v)}"
    if isinstance(v, (float, np.floating)):
        if math.isnan(v):
            return "NULL"
        return f"f:{float(v):.17g}"
    if isinstance(v, (int, np.integer)):
        return f"i:{int(v)}"
    return str(v)


def frame_key(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    return sorted(tuple(norm_cell(v) for v in row)
                  for row in df[cols].itertuples(index=False))


def main() -> int:
    mode, out_dir = sys.argv[1], sys.argv[2]
    sfs = sys.argv[3:] or DEFAULT_SFS

    from bench import headline_queries
    from sparvi_spark.checks import collect_all_checks, collect_extra_checks
    from sparvi_spark.session import get_spark

    spark = get_spark("snapshot_checks")
    spark.sparkContext.setLogLevel("ERROR")
    checks = collect_all_checks(prepared=False)
    checks.update(collect_extra_checks())
    graded = {fn for fn, _sql in checks.values()}
    checks.update((f"bench_{name}", (fn, None))
                  for name, fn in headline_queries().items()
                  if fn not in graded)
    bad = 0
    for sf in sfs:
        sf_dir = f"/root/testdata/sf{sf}"
        d = os.path.join(out_dir, sf)
        os.makedirs(d, exist_ok=True)
        for name, (fn, _sql) in sorted(checks.items()):
            path = os.path.join(d, f"{name}.pkl")
            try:
                cur = fn(spark, sf_dir).toPandas()
            except Exception as exc:
                print(f"ERROR {sf} {name}: {exc}")
                bad += 1
                continue
            if mode == "save":
                with open(path, "wb") as f:
                    pickle.dump(cur, f)
                continue
            with open(path, "rb") as f:
                ref = pickle.load(f)
            probs = []
            if list(sorted(cur.columns)) != list(sorted(ref.columns)):
                probs.append(f"columns {sorted(cur.columns)} vs "
                             f"{sorted(ref.columns)}")
            else:
                cd = {c: str(cur[c].dtype) for c in cur.columns}
                rd = {c: str(ref[c].dtype) for c in ref.columns}
                if cd != rd:
                    probs.append(f"dtypes {cd} vs {rd}")
                kc, kr = frame_key(cur), frame_key(ref)
                if kc != kr:
                    diffs = [(a, b) for a, b in zip(kc, kr) if a != b][:2]
                    probs.append(
                        f"values rows={len(kc)}/{len(kr)} first={diffs}")
            if probs:
                print(f"DIFF {sf} {name}: {'; '.join(probs)}")
                bad += 1
        print(f"# sf{sf} done")
    if mode == "compare":
        print(f"{'FAILED ' + str(bad) if bad else 'ALL MATCH'}")
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
