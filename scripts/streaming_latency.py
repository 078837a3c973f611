"""Microbatch latency for the continuous monitors (VERDICT r9 task 6).

The streaming vocab/drift/intake monitors are batch-parity-tested but the
"alerts within one microbatch" claim never had a NUMBER. This script feeds
each monitor one parquet drop file per batch through the file source
(maxFilesPerTrigger=1, the same shape the tests use) and records Spark's
own per-trigger wall (StreamingQueryProgress.durationMs.triggerExecution)
at 1x and 10x batch sizes:

- vocab monitor:  1x = the sf0.1 documents table (5,000 docs), 10x = the
  same docs replicated with remapped ids (50,000)
- drift monitor:  1x = 100k numeric rows (the events table's value
  column), 10x = 1M
- corpus intake:  near-dedup admission against growing signature state,
  1x = 5,000 docs, 10x = 50,000

Per monitor, one warmup batch absorbs codegen/JIT before the timed
batches (same protocol as bench.py). Prints ONE JSON line:
{"monitors": {name: {"warm_sec": s, "b1x_sec": s, "b10x_sec": s,
"rows_1x": n, "rows_10x": n}}, ...}. SCALING.md's streaming table is
written from this output.
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

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _progress_walls(q) -> list[tuple[int, float]]:
    """(numInputRows, triggerExecution sec) per non-empty trigger."""
    out = []
    for p in q.recentProgress:
        rows = p.get("numInputRows", 0)
        if rows:
            out.append((rows, p["durationMs"]["triggerExecution"] / 1000.0))
    return out


def _atomic_write(write_fn, path: str) -> None:
    """Write OUTSIDE the watched dir, then rename in: the file source
    lists the dir asynchronously and a half-written parquet drop fails
    the whole query with a magic-number error (hit once in practice)."""
    tmp = os.path.join(os.path.dirname(os.path.dirname(path)),
                       "._staging_" + os.path.basename(path))
    write_fn(tmp)
    os.rename(tmp, path)


def _run_monitor(spark, start_fn, drops: list, schema: str, drop_dir: str):
    """Write each drop, process it, return per-batch (rows, wall)."""
    os.makedirs(drop_dir, exist_ok=True)
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(drop_dir))
    q = start_fn(stream)
    walls = []
    try:
        for i, writer in enumerate(drops):
            _atomic_write(writer, os.path.join(drop_dir, f"b{i}.parquet"))
            t0 = time.perf_counter()
            q.processAllAvailable()
            wait = time.perf_counter() - t0
            prog = _progress_walls(q)
            walls.append(prog[len(walls):] or [(0, wait)])
    finally:
        q.stop()
    # one trigger per drop (maxFilesPerTrigger=1, one file per drop)
    return [w[0] for w in walls]


def main() -> None:
    import pyarrow.parquet as pq

    from sparvi_spark.engine import Engine
    from sparvi_spark.session import get_spark
    from sparvi_spark.testdata import load_table

    spark = get_spark("streaming_latency")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="sparvi_stream_lat_")
    engine = Engine(spark, os.path.join(work, "wh"))

    docs = load_table(spark, "documents", BASE).select("doc_id", "text")
    n_docs = docs.count()

    def write_docs(path: str, mult: int, offset: int) -> None:
        d = docs
        if mult > 1:
            for i in range(1, mult):
                d = d.unionByName(docs.withColumn(
                    "doc_id", F.col("doc_id") + F.lit(i * n_docs * 10)))
        d = d.withColumn("doc_id", F.col("doc_id") + F.lit(offset))
        d.toPandas().to_parquet(path)

    results: dict[str, dict] = {}

    # ---- vocab monitor ----------------------------------------------
    from sparvi_spark.streaming.vocab import streaming_vocab_monitor

    engine.save_vocab_baseline(
        load_table(spark, "documents", BASE).where("source = 'src0'"),
        "lat_vocab")
    drops = [
        lambda p: write_docs(p, 1, 0),             # warm
        lambda p: write_docs(p, 1, 10_000_000),    # 1x
        lambda p: write_docs(p, 10, 20_000_000),   # 10x
    ]
    walls = _run_monitor(
        spark,
        lambda s: streaming_vocab_monitor(s, engine, "lat_vocab"),
        drops, "doc_id long, text string", os.path.join(work, "v_in"))
    results["vocab_monitor"] = {
        "warm_sec": round(walls[0][1], 3),
        "b1x_sec": round(walls[1][1], 3), "rows_1x": walls[1][0],
        "b10x_sec": round(walls[2][1], 3), "rows_10x": walls[2][0]}
    print(f"# vocab: {results['vocab_monitor']}", file=sys.stderr)

    # ---- numeric drift monitor --------------------------------------
    from sparvi_spark.streaming.drift import streaming_drift_monitor

    ev = load_table(spark, "events", BASE).select(
        F.col("value").cast("double").alias("x")).toPandas()
    engine.save_drift_baseline(
        spark.createDataFrame(ev), "lat_feed", ["x"])

    def write_vals(path: str, mult: int) -> None:
        import pandas as pd

        pd.concat([ev] * mult, ignore_index=True).to_parquet(path)

    drops = [lambda p: write_vals(p, 1), lambda p: write_vals(p, 1),
             lambda p: write_vals(p, 10)]
    walls = _run_monitor(
        spark, lambda s: streaming_drift_monitor(s, engine, "lat_feed"),
        drops, "x double", os.path.join(work, "d_in"))
    results["drift_monitor"] = {
        "warm_sec": round(walls[0][1], 3),
        "b1x_sec": round(walls[1][1], 3), "rows_1x": walls[1][0],
        "b10x_sec": round(walls[2][1], 3), "rows_10x": walls[2][0]}
    print(f"# drift: {results['drift_monitor']}", file=sys.stderr)

    # ---- corpus intake (near-dedup admission), both signature lanes --
    from sparvi_spark.streaming.corpus import streaming_corpus_intake

    for lane in ("xxhash64", "arrow"):
        drops = [
            lambda p: write_docs(p, 1, 0),             # warm (seeds state)
            lambda p: write_docs(p, 1, 10_000_000),    # 1x vs 5k sigs
            lambda p: write_docs(p, 10, 20_000_000),   # 10x vs 10k sigs
        ]
        walls = _run_monitor(
            spark,
            lambda s, _l=lane: streaming_corpus_intake(
                s, engine, f"lat_intake_{_l}",
                os.path.join(work, f"corpus_{_l}"), hash_fn=_l),
            drops, "doc_id long, text string",
            os.path.join(work, f"c_in_{lane}"))
        results[f"corpus_intake_{lane}"] = {
            "warm_sec": round(walls[0][1], 3),
            "b1x_sec": round(walls[1][1], 3), "rows_1x": walls[1][0],
            "b10x_sec": round(walls[2][1], 3), "rows_10x": walls[2][0]}
        print(f"# intake {lane}: {results[f'corpus_intake_{lane}']}",
              file=sys.stderr)

    print(json.dumps({"monitors": results, "sf_dir": BASE}))
    shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
