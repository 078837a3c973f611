"""Training-data export: deterministic sharding + reproducible writes.

The last stage of a training-data pipeline is a GLOBAL SHUFFLE into a
fixed number of shards that the training loader streams — shard
assignment must be deterministic (re-runs and incremental top-ups land
rows in the same shard), shards must be balanced (loader throughput is
hostage to the largest shard), and file contents must be reproducible
(byte-identical re-export ⇒ resumable runs, diffable artifacts).

Spark-first shape: assignment is a map-only hash projection (no shuffle);
the export is ONE repartition on the shard key + an in-partition sort, so
the only wide exchange moves each row exactly once no matter how many
shards; the manifest is the groupBy the write already paid for.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sparvi_spark.config import check_lane
from sparvi_spark.operators.sampling import hash_expr


def shard_expr(id_col: str, n_shards: int, method: str = "xxhash") -> Column:
    """Deterministic shard of an id column, in [0, n_shards).

    ``xxhash`` (default): xxhash64 — engine-native, avalanche-quality
    mixing at any key structure. ``portable``: the affine 32-bit hash
    shared with the sampling operators — identical integer arithmetic in
    DuckDB, which is what lets the oracle recompute shard assignment
    bit-for-bit (valid for \\|key\\| < 3.47e9, see sampling.hash_expr).
    Both are pure projections: assignment never shuffles.
    """
    check_lane(method, ("xxhash", "portable"), "method")
    if method == "portable":
        return F.pmod(hash_expr(id_col), F.lit(n_shards)).cast("int")
    return F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_shards)).cast("int")


def shard_plan(
    df: DataFrame,
    id_col: str,
    n_shards: int,
    method: str = "xxhash",
) -> DataFrame:
    """(shard, n_rows, min_id, max_id) — the balance report for an export
    before running it. One groupBy over the hash projection."""
    return (df.select(shard_expr(id_col, n_shards, method).alias("shard"),
                      F.col(id_col))
            .groupBy("shard")
            .agg(F.expr("count(1)").alias("n_rows"),
                 F.expr(f"min(`{id_col}`)").alias("min_id"),
                 F.expr(f"max(`{id_col}`)").alias("max_id"))
            .orderBy("shard"))


def export_shards(
    df: DataFrame,
    path: str,
    id_col: str,
    n_shards: int,
    fmt: str = "parquet",
    method: str = "xxhash",
    shuffle_seed: int | None = None,
) -> DataFrame:
    """Shard ``df`` by ``id_col`` and write ``path/shard=N/...``;
    returns the (shard, n_rows) manifest.

    ``repartition(n_shards, shard)`` moves every row exactly ONCE
    (hashing the shard key means a partition may carry a few shards —
    partitionBy splits them into their own directories at write, without
    a second exchange); ``sortWithinPartitions(shard, id)`` makes file
    contents deterministic, so a re-export of the same input is
    byte-comparable. The loader-facing layout is the standard
    ``shard=N`` hive dir per shard.

    ``shuffle_seed`` replaces the id order INSIDE each shard with a
    deterministic pseudo-random one (sort by ``xxhash64(id, seed)``) — a
    training loader that streams shards sequentially then sees a global
    shuffle of the corpus without any loader-side buffer: the shard
    assignment randomizes ACROSS shards, the seed-keyed sort randomizes
    WITHIN them. Different seeds give different epoch orders from the
    same export; same seed re-exports byte-identically.
    """
    sharded = df.withColumn("shard", shard_expr(id_col, n_shards, method))
    order = [F.col("shard")] + (
        [F.xxhash64(F.col(id_col), F.lit(shuffle_seed)), F.col(id_col)]
        if shuffle_seed is not None else [F.col(id_col)])
    (sharded.repartition(n_shards, F.col("shard"))
     .sortWithinPartitions(*order)
     .write.mode("overwrite").format(fmt)
     .partitionBy("shard").save(path))
    return (df.sparkSession.read.format(fmt).load(path)
            .groupBy("shard").agg(F.expr("count(1)").alias("n_rows"))
            .orderBy("shard"))


def eval_split_expr(
    id_col: str,
    fractions: dict[str, float],
    method: str = "xxhash",
) -> Column:
    """Deterministic train/val/test assignment from an id column.

    ``fractions`` maps split name -> fraction (must sum to ~1; the last
    split absorbs rounding). Cutoffs are INTEGER hash thresholds (no
    float compare, no ambiguity at boundaries): a row joins split k when
    ``hash(id) < floor(cum_frac_k * M)`` first holds, so assignment is a
    pure projection and — with ``method='portable'`` — replayable
    bit-for-bit by any engine with the same integer arithmetic.
    """
    total = sum(fractions.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"fractions sum to {total}, expected 1")
    if method == "portable":
        from sparvi_spark.operators.sampling import HASH_M

        h = hash_expr(id_col)

        def cutoff(cum: float) -> int:
            return int(cum * HASH_M)
    else:
        # xxhash64 spans the full SIGNED 64-bit range; shifting the hash
        # into unsigned would overflow bigint, so shift the CUTOFFS into
        # signed space instead (same total order, no runtime arithmetic)
        h = F.xxhash64(F.col(id_col))

        def cutoff(cum: float) -> int:
            return int(cum * (1 << 64)) - (1 << 63)
    names = list(fractions)
    cum = 0.0
    expr = None
    for name in names[:-1]:
        cum += fractions[name]
        cond = h < F.lit(cutoff(cum))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = F.lit(names[-1])
    return (last if expr is None else expr.otherwise(names[-1])).alias("split")


def leakage_safe_split(
    docs: DataFrame,
    fractions: dict[str, float],
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    method: str = "xxhash",
) -> DataFrame:
    """docs + ``split`` column where NEAR-DUPLICATE documents always land
    on the same side — the guard against train/test leakage: a test
    document whose near-copy sits in train is a leaked answer, and a
    plain per-id split plants exactly those pairs.

    Shape: MinHash+LSH candidate pairs -> connected components (both the
    banded near-linear paths dedup already uses) -> each doc splits by
    its CLUSTER REPRESENTATIVE's id (its own id when unclustered, via
    zero-cost left-join default). The cluster map is |clustered docs|
    rows — tiny next to the corpus — and everything else is the same
    map-only hash assignment as ``eval_split_expr``.
    """
    from sparvi_spark.operators.dedup import (
        connected_components,
        minhash_lsh_pairs,
    )

    pairs = minhash_lsh_pairs(docs, id_col, text_col, n=n,
                              num_hashes=num_hashes, bands=bands,
                              threshold=threshold)
    comp = (connected_components(pairs)
            .withColumnRenamed("node", id_col)
            .withColumnRenamed("comp", "__rep"))
    return (docs.join(comp, id_col, "left")
            .withColumn("__rep", F.coalesce(F.col("__rep"), F.col(id_col)))
            .withColumn("split", eval_split_expr("__rep", fractions, method))
            .drop("__rep"))
