"""Isolate the intake's per-trigger O(state) store-scan term (r13
VERDICT #3): time ``minhash_pairs_from_sigs(small_side="new")`` alone
against synthetic signature stores spanning three decades, with the
batch side constant — the end-to-end growth harness can't reach 5M+
stored sigs because seeding real texts through the signing lane is
hours of CPU; the scan term doesn't care whether the stored longs came
from real shingles.

Store rows mirror the state layout (doc_id string, sig array<64 bigint>,
band_hashes array<16 bigint>, written as parquet the way state.append
lays them out); sigs are pseudo-random per (id, slot) via xxhash64, band
hashes stamped with the real ``band_hashes_expr``. The batch is 5k docs
of fresh ids signed the same way. Timed action: noop sink (guide §1.4),
best of --reps fresh builds. Also reported: bytes of the store parquet
and a decode-only pass (scan + both array columns, no join) so the scan
term separates from the band-join/verify term.

Usage: python scripts/store_scan_cost.py [sizes_csv] [--reps 3]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

SIZES = ([int(x) for x in sys.argv[1].split(",")]
         if len(sys.argv) > 1 and not sys.argv[1].startswith("-")
         else [500_000, 5_000_000])
REPS = int(sys.argv[sys.argv.index("--reps") + 1]) if "--reps" in sys.argv else 3
BATCH, NUM_HASHES, BANDS = 5_000, 64, 16


def pseudo_sigs(spark, start: int, count: int):
    from sparvi_spark.operators.dedup import band_hashes_expr

    return (spark.range(start, start + count)
            .selectExpr(
                "cast(id as string) AS ref_id",
                f"transform(sequence(0, {NUM_HASHES - 1}), "
                "i -> xxhash64(id, i)) AS sig")
            .selectExpr(
                "ref_id", "sig",
                f"{band_hashes_expr('xxhash64', NUM_HASHES, BANDS)} "
                "AS band_hashes"))


def main() -> None:
    from sparvi_spark.operators.dedup import minhash_pairs_from_sigs
    from sparvi_spark.session import get_spark

    spark = get_spark("store_scan_cost")
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="store_scan_")
    out = []
    try:
        batch = (pseudo_sigs(spark, 10_000_000_000, BATCH)
                 .selectExpr("ref_id AS id", "sig").localCheckpoint())
        for size in SIZES:
            path = os.path.join(root, f"store_{size}")
            pseudo_sigs(spark, 0, size).write.mode("overwrite").parquet(path)
            pbytes = sum(f.stat().st_size
                         for f in os.scandir(path) if f.is_file())
            decode = scan = float("inf")
            for _ in range(REPS):
                store = spark.read.parquet(path)
                t0 = time.perf_counter()
                (store.selectExpr("ref_id", "sig", "band_hashes")
                 .write.format("noop").mode("overwrite").save())
                decode = min(decode, time.perf_counter() - t0)
                store = spark.read.parquet(path)
                t0 = time.perf_counter()
                (minhash_pairs_from_sigs(
                    batch, store, num_hashes=NUM_HASHES, bands=BANDS,
                    threshold=0.5, hash_fn="xxhash64",
                    small_side="new", ref_bands_col="band_hashes")
                 .write.format("noop").mode("overwrite").save())
                scan = min(scan, time.perf_counter() - t0)
            out.append({"state_rows": size, "parquet_mb": round(
                pbytes / 1e6, 1), "decode_best": round(decode, 3),
                "intake_lane_best": round(scan, 3)})
            print(f"# {out[-1]}", file=sys.stderr)
        print(json.dumps({"cells": out, "batch_rows": BATCH,
                          "reps": REPS}))
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
