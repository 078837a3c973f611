"""Incremental intake wall vs GROWING signature state (VERDICT r10 #5).

The r10 latency table held state near-constant; the monitor-shape
question at 100 TB is per-batch wall as ``corpus_signatures`` grows.
This script seeds corpora whose stored state spans two decades
(5k -> 50k -> 500k signatures), then times ONE constant-size batch
(5k docs, ~2% planted near-dups of stored docs) against each via
``Engine.dedup_corpus_incremental`` — the same call the streaming
intake wraps, without file-source listing noise.

What O(·) to expect: the band join builds band hashes for the WHOLE
stored side each batch (16 slices per stored sig), so the per-batch
wall has an O(state) term by construction; the question is the
coefficient — whether the scan term is visible against the fixed
per-batch cost at realistic monitor sizes, and what the slope per
decade is. SCALING.md records the answer.

Seeding writes signatures directly to state (sign + stamp, no dedup
pass) — 10x cheaper than running seed batches and identical rows to
what admission would store for an all-unique corpus.

Usage: python scripts/intake_state_growth.py [sizes_csv] [lanes_csv]
Prints ONE JSON line:
{"lanes": {lane: [{"state_rows": n, "wall_sec": [rep1, rep2],
"n_vs_corpus_dups": n, "n_kept": n}, ...]}, "batch_rows": 5000}
"""

from __future__ import annotations

import json
import shutil
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

SIZES = ([int(x) for x in sys.argv[1].split(",")]
         if len(sys.argv) > 1 else [5_000, 50_000, 500_000])
LANES = (sys.argv[2].split(",") if len(sys.argv) > 2
         else ["xxhash64", "arrow"])
BATCH = 5_000
N, NUM_HASHES = 3, 64


def synth_docs(spark, start: int, count: int):
    """count docs of 50 pseudo-random words each; texts are a pure
    function of doc_id (so a planted dup is made by REUSING a stored
    id's construction) drawn via xxhash64(id, position) — an affine
    generator used here first collided every 4.85M ids (lcm of its
    vocab modulus and the id%97 mixer), silently turning the 500k-state
    batch into 100% corpus dups."""
    return spark.range(start, start + count).selectExpr(
        "id AS doc_id",
        "array_join(transform(sequence(0, 49), i -> "
        "concat('w', pmod(xxhash64(concat(cast(id as string), '_', "
        "cast(i as string))), 50000))), ' ') AS text")


def seed_state(spark, engine, corpus: str, count: int, lane: str) -> None:
    from sparvi_spark.operators.dedup import (
        band_hashes_expr,
        minhash_signatures,
    )

    docs = synth_docs(spark, 0, count)
    sigs = minhash_signatures(docs, "doc_id", "text", n=N,
                              num_hashes=NUM_HASHES, hash_fn=lane)
    engine.state.append("corpus_signatures", sigs.select(
        F.lit(corpus).alias("corpus_name"),
        F.col("doc_id").cast("string").alias("doc_id"),
        "sig",
        F.lit(lane).alias("hash_family"),
        F.lit(N).cast("int").alias("shingle_n"),
        F.lit(NUM_HASHES).cast("int").alias("num_hashes"),
        F.expr(band_hashes_expr(lane, NUM_HASHES, 16)).alias("band_hashes"),
        F.lit("2026-01-01 00:00:00").cast("timestamp").alias("added_at")))


def main() -> None:
    from sparvi_spark.engine import Engine
    from sparvi_spark.session import get_spark

    spark = get_spark("intake_growth")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="intake_growth_")
    engine = Engine(spark, work)

    results: dict[str, list] = {}
    for lane in LANES:
        rows = []
        for size in SIZES:
            corpus = f"g_{lane}_{size}"
            seed_state(spark, engine, corpus, size, lane)
            # batch: fresh ids, plus 2% rebuilt from stored constructions
            # (exact dups of state docs -> exercises the cross-dedup hit
            # path, not just the empty-candidate fast path)
            n_dup = BATCH // 50
            fresh = synth_docs(spark, 10_000_000, BATCH - n_dup)
            dups = (synth_docs(spark, 0, n_dup)
                    .selectExpr("doc_id + 20000000 AS doc_id", "text"))
            batch = fresh.unionAll(dups).localCheckpoint()
            walls, summaries = [], []
            for _ in range(2):
                t0 = time.perf_counter()
                summaries.append(engine.dedup_corpus_incremental(
                    batch, corpus, n=N, num_hashes=NUM_HASHES,
                    hash_fn=lane))
                walls.append(round(time.perf_counter() - t0, 3))
                # rep 2 re-admits the same ids -> all drop as vs-corpus
                # dups (the state now holds them); wall still covers the
                # full sign + band-join pipeline over the grown state
            rows.append({"state_rows": size,
                         "wall_sec": walls,
                         "n_vs_corpus_dups_rep1":
                             summaries[0]["n_vs_corpus_dups"],
                         "n_kept_rep1": summaries[0]["n_kept"],
                         "n_kept_rep2": summaries[1]["n_kept"]})
            print(f"# {lane} state={size}: walls={walls} rep1 "
                  f"dups={summaries[0]['n_vs_corpus_dups']} "
                  f"kept={summaries[0]['n_kept']}; rep2 "
                  f"kept={summaries[1]['n_kept']}", file=sys.stderr)
        results[lane] = rows
    print(json.dumps({"lanes": results, "batch_rows": BATCH,
                      "bands": 16, "num_hashes": NUM_HASHES}))
    shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
