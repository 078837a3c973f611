"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exact baseline, and a bucket-restricted
(IVF-style) variant as the scale path. Dot products use a fold
(``aggregate``) so summation order is deterministic — identical results
across engines and across runs, unlike a shuffle-order-dependent sum.

At 100 TB: broadcast the (small) query set, keep the corpus partitioned;
the IVF variant prunes the self-join to same-bucket pairs, turning O(n·q)
into O(n·q/buckets) — the bucket column generalizes to a trained coarse
quantizer's assignment.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sparvi_spark.config import FOLD_GRAM, resolve_backend
from sparvi_spark.functions import local_df
from sparvi_spark.operators.vectors import (
    array_sql, fold_dot_sql, map_vectors, vector_rows)


def norm_expr(a: str) -> Column:
    return F.sqrt(F.expr(fold_dot_sql(a, a)))


def _cosine_with_norms(a: str, b: str, norm_a: str, norm_b: str) -> Column:
    """cosine from PRE-COMPUTED per-side norms: dot/(na*nb).

    The norm folds run once per VECTOR below the join instead of once
    per PAIR above it — in a q×n brute-force scan that is 3 folds/pair
    -> 1. Zero-norm sides yield NULL through the nullif guard: under
    ANSI a bare /0.0 throws, and one zero-norm vector would kill the
    whole scan."""
    return F.expr(fold_dot_sql(a, b)) / F.nullif(
        F.col(norm_a) * F.col(norm_b), F.lit(0.0))


def cosine_side(df: DataFrame, id_col: str, vec_col: str, id_alias: str,
                side: str, bucket: Column | None = None) -> DataFrame:
    """One side of a cosine join: (``id_alias``, ``{side}v`` vector,
    ``{side}n`` norm[, ``{side}b`` bucket]), norms folded below the join."""
    cols = [F.col(id_col).alias(id_alias), F.col(vec_col).alias(f"{side}v"),
            norm_expr(vec_col).alias(f"{side}n")]
    if bucket is not None:
        cols.append(bucket.alias(f"{side}b"))
    return df.select(*cols)


def cosine_join(left: DataFrame, right: DataFrame, a: str, b: str,
                pair: Column | None = None,
                min_cosine: float | None = None) -> DataFrame:
    """Join two ``cosine_side`` frames on their buckets (cross join without)
    and add the cosine of the pairs that pass ``pair`` — filtered below
    the cosine, so the folds run only for them — at least ``min_cosine``.
    NULL and zero-norm vectors never score: their NULL/NaN/±inf cosine is
    dropped (NaN sorts FIRST under desc, so noise would win rank 1)."""
    joined = (left.join(right, F.col(f"{a}b") == F.col(f"{b}b"))
              if f"{a}b" in left.columns else left.crossJoin(right))
    if pair is not None:
        joined = joined.where(pair)
    cos = F.col("cosine")
    keep = cos.isNotNull() & ~F.isnan(cos) & (F.abs(cos) != float("inf"))
    if min_cosine is not None:
        keep &= cos >= min_cosine
    return (joined
            .withColumn("cosine", _cosine_with_norms(
                f"{a}v", f"{b}v", f"{a}n", f"{b}n"))
            .where(keep))


def _rank_tail(scored: DataFrame, score: str, order: Column, k: int,
               neighbor: str = "neighbor_id") -> DataFrame:
    """Each query's first ``k`` rows under ``order`` then neighbor id
    ascending: (query_id, neighbor_id, rank, ``score`` rounded HALF_UP to
    6 dp) — the output contract of every top-k search here."""
    w = Window.partitionBy("query_id").orderBy(order, F.asc(neighbor))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", F.col(neighbor).alias("neighbor_id"), "rank",
                    F.round(score, 6).alias(score)))


def _cosine_topk(corpus: DataFrame, queries: DataFrame, id_col: str,
                 vec_col: str, k: int, exclude_self: bool,
                 corpus_bucket: Column | None = None,
                 query_bucket: Column | None = None) -> DataFrame:
    """The one cosine top-k: broadcast query side against the corpus side
    (cross join without buckets, equi-join on bucket with them), exact
    fold cosine, rank tail."""
    c = cosine_side(corpus, id_col, vec_col, "neighbor_id", "c",
                    corpus_bucket)
    q = cosine_side(queries, id_col, vec_col, "query_id", "q", query_bucket)
    scored = cosine_join(c, F.broadcast(q), "c", "q",
                         F.col("neighbor_id") != F.col("query_id")
                         if exclude_self else None)
    return _rank_tail(scored, "cosine", F.desc("cosine"), k)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    exclude_self: bool = True,
    backend: str | None = None,
    max_gram_queries: int = 4096,
) -> DataFrame:
    """Brute-force cosine top-k. Returns (query_id, neighbor_id, rank,
    cosine) with deterministic tie-break (cosine DESC, neighbor_id ASC).
    NULL vectors and zero-norm vectors (undefined cosine) never rank, on
    either side and in both backends.

    - ``backend="fold"`` (default): broadcast queries × corpus, fold
      dot products, one window over ALL candidate pairs. Left-associated
      summation is bit-stable against the SQL oracles — the parity path.
    - ``backend="gram"``: the 100 TB brute-force shape — the (small)
      query matrix rides a ``mapInPandas`` closure, each corpus
      partition scores its rows with one BLAS matmul and emits only its
      LOCAL top-k per query, and a final window merges k·partitions·
      queries rows. The shuffle carries partial top-k candidates instead
      of every (query, vector) pair, and the per-pair interpreted fold
      (~µs each) becomes a matmul. Any global top-k member is in its
      partition's top-k under the same total order, so the merge is
      exact. Queries are collected to the driver (capped at
      ``max_gram_queries``); BLAS summation may differ from the fold in
      the final ULP, so parity checks stay on "fold".

    ``backend=None`` (the default) resolves from the engine-wide scale
    mode (``sparvi_spark.config``): "fold" in parity mode, "gram" at
    scale.
    """
    backend = resolve_backend(backend, "gram", allowed=FOLD_GRAM,
                              lane="backend")
    if backend == "gram":
        return _cosine_topk_gram(corpus, queries, id_col, vec_col, k,
                                 exclude_self, max_gram_queries)
    return _cosine_topk(corpus, queries, id_col, vec_col, k, exclude_self)


def _cosine_topk_gram(corpus, queries, id_col, vec_col, k, exclude_self,
                      max_queries):
    """Partition-local BLAS top-k + exact global merge (see cosine_topk)."""
    import numpy as np
    import pandas as pd

    qrows = (queries.select(F.col(id_col), F.col(vec_col))
             .where(F.col(vec_col).isNotNull())
             .limit(max_queries + 1).collect())
    if len(qrows) > max_queries:
        raise ValueError(
            f"cosine_topk backend='gram' holds the query matrix in the "
            f"task closure; got >{max_queries} queries — raise "
            f"max_gram_queries or batch the queries")
    id_type = corpus.schema[id_col].dataType.simpleString()
    qids = np.asarray([r[0] for r in qrows])
    if qrows:
        _mask, Q = vector_rows([r[1] for r in qrows])
        Qn = np.sqrt((Q * Q).sum(axis=1))
        live = Qn > 0.0  # zero-norm queries match nothing (fold filters
        qids, Q, Qn = qids[live], Q[live], Qn[live]  # their inf/NaN cosines)
    if not len(qids):
        return local_df(
            corpus.sparkSession, [], f"query_id {id_type}, neighbor_id "
                                     f"{id_type}, rank int, cosine double")
    out_schema = (f"query_id {id_type}, neighbor_id {id_type}, "
                  f"cosine double")

    def local_topk(batches):
        for pdf in batches:
            mask, V = vector_rows(pdf[vec_col])
            if not mask.any():
                continue
            ids = pdf[id_col].to_numpy()[mask]
            Vn = np.sqrt((V * V).sum(axis=1))
            vzero = Vn == 0.0
            Vn[vzero] = np.inf
            C = (V @ Q.T) / np.outer(Vn, Qn)  # rows=corpus, cols=queries
            C[vzero, :] = -np.inf  # zero-norm corpus rows never rank
            if exclude_self:
                C[ids[:, None] == qids[None, :]] = -np.inf
            kk = min(k, C.shape[0])
            # per-query local top-k under the GLOBAL total order
            # (round-6 cosine desc, neighbor_id asc): lexsort keys are
            # applied last-key-primary. Ranking at the OUTPUT precision
            # (not the raw double) is what makes the id tie-break
            # deterministic across partitions: BLAS kernels are
            # shape-dependent, so bit-identical duplicate vectors in
            # different partitions can score ULP apart — under raw
            # ordering the merge would interleave duplicate runs by
            # partition shape instead of by id. The local order MUST
            # match the merge window's order exactly or a partition
            # could truncate a row the global order keeps.
            order = np.lexsort((ids[:, None].repeat(C.shape[1], 1),
                                -np.round(C, 6)), axis=0)[:kk]
            qi = np.tile(np.arange(C.shape[1]), kk)
            ni = order.reshape(-1)
            cos = C[ni, qi]
            keep = np.isfinite(cos)
            yield pd.DataFrame({"query_id": qids[qi[keep]],
                                "neighbor_id": ids[ni[keep]],
                                "cosine": cos[keep]})

    partial = corpus.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        local_topk, out_schema)
    # merge order = the local_topk order (round-6 desc, id asc) — rank is
    # consistent with the EMITTED cosine, so duplicate vectors tie-break
    # by id no matter which partition scored them (see local_topk note);
    # bround = HALF_EVEN, matching np.round in local_topk (plain round is
    # HALF_UP)
    return _rank_tail(partial, "cosine", F.desc(F.bround("cosine", 6)), k)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    bucket_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF-style ANN: search only the query's coarse bucket.

    ``bucket_col`` is the inverted-file assignment (here the label column;
    in production a trained coarse quantizer / LSH bucket). The join on
    bucket replaces the cross join — this is the 100 TB plan shape.
    """
    return _cosine_topk(corpus, queries, id_col, vec_col, k, exclude_self,
                        F.col(bucket_col), F.col(bucket_col))


def lsh_bucket_expr(vec_col: str, n_bits: int = 12, seed: int = 7) -> Column:
    """Random-hyperplane LSH bucket id (n_bits sign bits packed in a long).

    Plane components are deterministic pseudo-randoms in [-1, 1) derived
    from xxhash64(bit, j, seed) — fully JVM-side, identical on every
    executor, no materialized plane matrix. Cosine-similar vectors agree on
    most sign bits, so they land in the same bucket with probability
    (1 - theta/pi)^n_bits — the standard SimHash-for-vectors scheme.

    The bit loop is a nested aggregate over ``sequence`` rather than
    ``n_bits`` unrolled dot-product blocks — identical values (the bit
    index is cast to long, matching the former bigint literal), one codegen
    block. At 100 TB the bucket assignment is one projection over the scan.
    """
    comp = (f"(pmod(xxhash64(cast(b as long), cast(y as long), {seed}L), 2000000) "
            f"/ cast(1000000 as double) - 1.0)")
    dot = fold_dot_sql(vec_col, f"sequence(0, size({vec_col}) - 1)",
                       f"cast(x as double) * {comp}")
    return F.expr(
        f"aggregate(transform(sequence(0, {n_bits - 1}), "
        f"b -> case when {dot} >= 0 then shiftleft(1L, b) else 0L end), "
        f"0L, (acc, x) -> acc | x)")


def centroid_probe_expr(
    vec_col: str, centroids: list[tuple[int, list[float]]], nprobe: int = 1
) -> Column:
    """Array of the ``nprobe`` nearest centroid ids for each row's vector,
    best first — the IVF coarse-quantizer assignment as ONE projection.

    The trained centroids (nlist × dim doubles — kilobytes) ride along as
    ONE nested array literal (a single Literal node, not nlist × dim
    unrolled literal terms — the unrolled form cost ~0.3s of analysis +
    codegen per fresh plan at nlist=8, dim=64), so assignment is a
    map-only pass: no join, no shuffle, no broadcast variable to ship.
    Cosine argmax uses dot(v, c)·(1/|c|) — |v| is constant per row, so it
    never affects the ranking; the element order (sum first, then · inv)
    is identical to the unrolled form, so scores are bit-for-bit
    unchanged. Ties break toward the smaller centroid id (struct
    comparison on (score, -id))."""
    ids = [int(b) for b, _ in centroids]
    vecs = [[float(x) for x in v] for _, v in centroids]
    invs = [1.0 / (sum(x * x for x in v) ** 0.5 or 1.0) for v in vecs]
    idl = "array(%s)" % ", ".join(str(i) for i in ids)
    dot = fold_dot_sql(vec_col, f"element_at({array_sql(vecs)}, i + 1)")
    scored = (f"transform(sequence(0, {len(ids) - 1}), i -> "
              f"struct({dot} * element_at({array_sql(invs)}, i + 1) as s, "
              f"-element_at({idl}, i + 1) as nb))")
    return F.expr(
        f"transform(slice(reverse(array_sort({scored})), 1, {nprobe}), "
        f"p -> -p.nb)")


def collect_centroids(
    centroids_df: DataFrame, bucket_col: str = "label"
) -> list[tuple[int, list[float]]]:
    """Long-form (bucket, dim, centroid) -> [(bucket, vector)] — the tiny
    driver-side index handle (nlist × dim), NOT the data."""
    by_bucket: dict[int, dict[int, float]] = {}
    for b, d, c in centroids_df.select(bucket_col, "dim", "centroid").collect():
        by_bucket.setdefault(int(b), {})[int(d)] = float(c)
    return [(b, [dims[i] for i in range(len(dims))])
            for b, dims in sorted(by_bucket.items())]


def numpy_probe_assign(df: DataFrame, vec_col: str,
                       centroids: list[tuple[int, list[float]]],
                       cell_col: str = "__cell") -> DataFrame:
    """Append the top-1 cosine cell id via ``mapInPandas`` — the BLAS
    twin of ``centroid_probe_expr(..., nprobe=1)`` (argmax of
    dot(v, c)·1/|c|, ties to the SMALLER cell id; NULL vectors get NULL
    cell so they join to no probe). The fold expression evaluates
    nlist×dim interpreted terms per row, which turns quadratic under the
    cells-grow-with-data discipline (the same trap fixed for SemDeDup
    assignment); here it is one matmul per Arrow batch. BLAS summation
    may differ from the fold in the final ULP, so a borderline row can
    land in an adjacent cell — parity checks stay on the fold path."""
    import numpy as np

    pairs = sorted(((int(b), [float(x) for x in v]) for b, v in centroids),
                   key=lambda t: t[0])  # argmax FIRST max = smallest id
    cell_ids = np.asarray([b for b, _ in pairs])
    C = np.asarray([v for _, v in pairs], dtype=np.float64)
    inv = 1.0 / np.sqrt((C * C).sum(axis=1))
    inv[~np.isfinite(inv)] = 1.0  # zero centroid: same 'or 1.0' as fold
    Cn = C * inv[:, None]

    def assign(V):
        return {cell_col: cell_ids[(V @ Cn.T).argmax(axis=1)]}

    return map_vectors(df, vec_col, {cell_col: "int"}, assign)


def ivf_topk_trained(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int = 1,
    exclude_self: bool = True,
    assign_backend: str | None = None,
) -> DataFrame:
    """End-to-end trained IVF search: assign corpus rows to their nearest
    centroid cell (map-only), probe each query's ``nprobe`` nearest cells,
    equi-join on cell id, exact re-rank inside the probed cells.

    The 100 TB plan: one projection over the corpus scan (assignment), a
    broadcast of the exploded (query × probe) side, and a window per query
    — compute scales with n·(nprobe/nlist) instead of n·q. At a real
    cell count (FAISS guidance: nlist ~ sqrt(n), tens of thousands) pass
    ``assign_backend="gram"`` — the corpus-side assignment becomes one
    BLAS matmul per Arrow batch (``numpy_probe_assign``) instead of
    nlist×dim interpreted fold terms per row; the query side stays on
    the expression (queries are few) and the re-rank is bounded by the
    probed cells either way. ``assign_backend=None`` resolves from the
    engine-wide scale mode (``sparvi_spark.config``): "fold" in parity
    mode, "gram" at scale."""
    assign_backend = resolve_backend(assign_backend, "gram",
                                     allowed=FOLD_GRAM, lane="assign_backend")
    if assign_backend == "gram":
        corpus = numpy_probe_assign(
            corpus.select(F.col(id_col), F.col(vec_col)), vec_col, centroids)
        cell = F.col("__cell")
    else:
        cell = centroid_probe_expr(vec_col, centroids, nprobe=1)[0]
    probes = F.explode(centroid_probe_expr(vec_col, centroids, nprobe=nprobe))
    return _cosine_topk(corpus, queries, id_col, vec_col, k, exclude_self,
                        cell, probes)


def kmeans_train(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 3,
) -> list[tuple[int, list[float]]]:
    """Lloyd's k-means as DataFrame ops — the IVF coarse-quantizer trainer.

    Init: the k rows with the smallest portable affine hash of the id
    (deterministic across engines, partitionings, and cluster sizes — NOT
    df.sample). `orderBy(hash).limit(k)` compiles to TakeOrderedAndProject
    — per-partition top-k merged on the driver, NOT a global sort (plan
    verified), so seeding costs one narrow pass at any scale. Each
    iteration = one map-only assignment projection + one
    posexplode/groupBy mean (bucket_centroids); only the nlist × dim
    centroid table ever reaches the driver. Empty cells keep their previous
    centroid."""
    cents = [(i, [float(x) for x in r[1]])
             for i, r in enumerate(_seed_rows(df, id_col, vec_col, k))]
    return _lloyd(df, vec_col, cents, iters, lambda d, cs: d.select(
        F.col(vec_col),
        centroid_probe_expr(vec_col, cs, nprobe=1)[0].alias("__cell")))


def _seed_rows(df: DataFrame, id_col: str, vec_col: str, n: int) -> list:
    """The ``n`` (id, vector) rows with the smallest portable affine id
    hash — the deterministic k-means seed and training sample.
    ``orderBy(hash).limit(n)`` compiles to TakeOrderedAndProject
    (per-partition top-n merged on the driver, no global sort)."""
    from sparvi_spark.operators.sampling import hash_expr

    return (df.select(F.col(id_col), F.col(vec_col))
            .orderBy(hash_expr(id_col), F.col(id_col))
            .limit(n)
            .collect())


def _lloyd(df: DataFrame, vec_col: str, cents: list, iters: int,
           assign) -> list[tuple[int, list[float]]]:
    """Lloyd's iterations from ``cents`` [(cell, vector)]: a map-only
    ``assign(df, cents)`` -> (``vec_col``, __cell), then the decimal-exact
    cell means at 9 dp. Empty cells keep their previous centroid."""
    for _ in range(iters):
        new = collect_centroids(
            bucket_centroids(assign(df, cents), "__cell", vec_col,
                             round_to=9),
            bucket_col="__cell")
        merged = dict(cents)
        merged.update(dict(new))
        cents = sorted(merged.items())
    return cents


def kmeans_train_sampled(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int = 65536,
    iters: int = 10,
) -> list[tuple[int, list[float]]]:
    """Sample-trained k-means — the production IVF quantizer trainer.

    Coarse-quantizer quality depends on the DISTRIBUTION, not the row
    count: training on a uniform sample is the standard practice for IVF
    indexes (FAISS trains on ~max(10k, 256*nlist) points regardless of
    corpus size). One cluster pass: the `sample_size` rows with the
    smallest portable affine id-hash — `orderBy(hash).limit(n)` compiles
    to TakeOrderedAndProject (per-partition top-k merged on the driver,
    no global sort), deterministic across engines and partitionings.
    Lloyd's iterations then run driver-side in numpy over the sample
    (KB-MB scale), so the WHOLE training is one Spark job, against the
    one-job-per-iteration lower bound any distributed Lloyd's carries
    (`kmeans_train`, kept for full-data training). Init mirrors
    `kmeans_train`: the k smallest-hash rows of the sample. Centroids
    round to 9dp like `bucket_centroids` so downstream literal plans are
    stable.
    """
    import numpy as np

    # NULL vectors carry no training signal and would crash the numpy
    # stack — drop them BEFORE the top-k sample so a sparse corpus still
    # fills the sample with real rows
    rows = _seed_rows(df.where(F.col(vec_col).isNotNull()), id_col, vec_col,
                      sample_size)
    if len(rows) < k:
        raise ValueError(
            f"kmeans_train_sampled: need at least k={k} rows to seed "
            f"k clusters, sample holds {len(rows)} — lower k or grow "
            f"the input")
    _mask, x = vector_rows([r[1] for r in rows])
    cents = x[:k].copy()  # rows arrive in hash order — same init rule
    xsq = (x ** 2).sum(axis=1)[:, None]
    for _ in range(iters):
        # |x-c|^2 = |x|^2 - 2 x.c + |c|^2 via one matmul — O(n*k) memory,
        # not the O(n*k*dim) of broadcasting the difference tensor
        d2 = xsq - 2.0 * (x @ cents.T) + (cents ** 2).sum(axis=1)[None, :]
        assign = d2.argmin(axis=1)
        new = cents.copy()  # empty cells keep their previous centroid
        for c in range(k):
            members = x[assign == c]
            if len(members):
                new[c] = members.mean(axis=0)
        if np.allclose(new, cents, rtol=0, atol=1e-12):
            cents = new
            break
        cents = new
    return [(i, [float(round(v, 9)) for v in cents[i]]) for i in range(k)]


def bucket_centroids(
    df: DataFrame,
    bucket_col: str,
    vec_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Per-bucket centroid vectors, long form (bucket, dim, centroid) — the
    training step of an IVF index (coarse quantizer cell means; `ivf_topk`
    consumes the resulting assignment).

    posexplode + one groupBy on (bucket, dim): the shuffle carries one row
    per vector element, the standard shape for distributed k-means-style
    updates. Element sums go through decimal so the mean is order-independent
    (IEEE double summation would hash-differ across engines/partitionings).
    """
    d = df.select(F.col(bucket_col), F.posexplode(F.col(vec_col)).alias("dim", "__v"))
    return d.groupBy(bucket_col, "dim").agg(
        F.round(
            F.sum(F.col("__v").cast("double").cast("decimal(27,9)")).cast("double")
            / F.count(F.lit(1)),
            round_to,
        ).alias("centroid"),
        F.count(F.lit(1)).alias("n_vectors"),
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): 64-dim float vectors -> m byte codes; search
# via asymmetric distance computation (ADC). The memory/scan-cost story at
# 100 TB: a 64-dim float corpus is 256 B/vector; PQ at m=8 stores 8 B/vector
# (32x), and ADC scoring replaces a 64-term dot product per pair with m
# table lookups against a per-query distance table.
# ---------------------------------------------------------------------------

def l2_argmin_expr(dists_col: str) -> Column:
    """0-based index of the FIRST minimum of a distance-array column —
    ties break toward the smaller code in every engine that scans
    left-to-right (Spark array_position and DuckDB list_indexof both do;
    the oracle relies on it). Takes a COLUMN name, not the inline distance
    expression: materializing the distance array once per row keeps the
    expression tree half the size (the array would otherwise be inlined
    twice) — measured 2x on analysis+eval of literal-codebook plans."""
    return F.expr(
        f"cast(array_position({dists_col}, array_min({dists_col})) - 1 as int)")


def _l2_dists_expr(vec_expr: str, centroids: list[list[float]]) -> str:
    """array<double> of squared L2 distances from ``vec_expr`` (already a
    slice expression) to each literal centroid.

    The codebook is ONE nested array literal and the per-centroid distance
    is a fold — a tree ~10x smaller than unrolling every (dim, centroid)
    term, which matters because literal-codebook plans pay their cost at
    ANALYSIS time (measured: 4s to build the unrolled 8x16x8 plan). IEEE
    parity with the DuckDB oracle holds because both engines evaluate the
    fold left-associated from a 0.0 seed over terms in index order —
    exactly the order the unrolled chain used."""
    return (f"transform({array_sql(centroids)}, c -> " + fold_dot_sql(
        vec_expr, "c", "(cast(x as double) - y) * (cast(x as double) - y)")
        + ")")


def _subspace_dists(vec_col: str, codebooks: list[list[list[float]]],
                    prefix: str) -> list[Column]:
    """One ``_l2_dists_expr`` column per PQ subspace (``{prefix}{s}``) over
    the matching slice of ``vec_col`` (Spark slice() is 1-based)."""
    sub_dim = len(codebooks[0][0])
    return [F.expr(_l2_dists_expr(
                f"slice({vec_col}, {s * sub_dim + 1}, {sub_dim})", book))
            .alias(f"{prefix}{s}") for s, book in enumerate(codebooks)]


def pq_train(
    df: DataFrame,
    m: int = 8,
    k: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iters: int = 3,
) -> list[list[list[float]]]:
    """Train PQ codebooks: independent L2 k-means per subspace.

    Returns ``codebooks[s][c] = centroid vector`` (m × k × dim/m doubles —
    kilobytes; the only thing that ever reaches the driver). Seeding and
    the per-iteration plan mirror ``kmeans_train``: deterministic
    portable-hash seeds, map-only literal-centroid assignment, one
    posexplode/groupBy decimal-exact mean per iteration, empty cells keep
    their centroid. m×iters small jobs total — training is one-off and
    amortized, exactly like the IVF trainer.
    """
    first = df.select(F.col(vec_col)).first()
    if first is None:
        raise ValueError("pq_train: empty input")
    dim = len(first[0])
    if dim % m:
        raise ValueError(f"pq_train: dim {dim} not divisible by m {m}")
    sub_dim = dim // m

    def assign(sub, cents):
        dists = F.expr(_l2_dists_expr("__sub", [v for _i, v in cents]))
        return (sub.select("__sub", dists.alias("__d"))
                .select("__sub", l2_argmin_expr("__d").alias("__cell")))

    seed_rows = _seed_rows(df, id_col, vec_col, k)
    books: list[list[list[float]]] = []
    for s in range(m):
        lo = s * sub_dim
        sub = df.select(F.expr(f"slice({vec_col}, {lo + 1}, {sub_dim})")
                        .alias("__sub"))
        cents = [(i, [float(x) for x in r[1][lo:lo + sub_dim]])
                 for i, r in enumerate(seed_rows)]
        books.append([v for _i, v in _lloyd(sub, "__sub", cents, iters,
                                            assign)])
    return books


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, [keep_cols...,] codes array<int>): nearest-codeword index per
    subspace — m literal-centroid argmin projections, zero shuffle, the
    map-only pass that turns a 100 TB float corpus into a byte-coded one.
    ``keep_cols`` pass through unchanged (e.g. the IVF cell)."""
    staged = df.select(
        F.col(id_col).alias("vec_id"),
        *[F.col(c) for c in keep_cols],
        *_subspace_dists(vec_col, codebooks, "__d"))
    codes = F.array(*[l2_argmin_expr(f"__d{s}")
                      for s in range(len(codebooks))])
    return staged.select("vec_id", *keep_cols, codes.alias("codes"))


def pq_topk(
    corpus_codes: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    exclude_self: bool = True,
) -> DataFrame:
    """ADC top-k: (query_id, neighbor_id, rank, adc_dist).

    Each query row materializes m distance tables (array<double> of k
    squared sub-distances, literal-centroid expressions over the query's
    slices); the broadcast join against the coded corpus then scores a
    pair with m array lookups + an (m-1)-add chain — no per-pair vector
    math at all. Approximation error is the PQ quantization error;
    re-ranking the top candidates with exact distance is the standard
    refinement and composes as cosine_topk over the returned ids.
    """
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("__qv"))
    return _adc_topk(corpus_codes, q, codebooks, F.lit(True), k,
                     exclude_self)


def _adc_topk(codes: DataFrame, q: DataFrame, codebooks, on: Column,
              k: int, exclude_self: bool) -> DataFrame:
    """The one ADC tail: per query row (query_id[, join keys], __qv — the
    vector PQ coded), m distance tables; broadcast join to the coded
    corpus ``on``; score = m table lookups; rank ascending."""
    qt = q.select(*[c for c in q.columns if c != "__qv"],
                  *_subspace_dists("__qv", codebooks, "__qt"))
    score = " + ".join(
        f"element_at(__qt{s}, codes[{s}] + 1)" for s in range(len(codebooks)))
    scored = (codes.join(F.broadcast(qt), on)
              .withColumn("adc_dist", F.expr(score)))
    if exclude_self:
        scored = scored.where(F.col("vec_id") != F.col("query_id"))
    return _rank_tail(scored, "adc_dist", F.asc("adc_dist"), k,
                      neighbor="vec_id")


# ---------------------------------------------------------------------------
# IVF-PQ: the composed billion-scale ANN index — a coarse quantizer prunes
# the search to nprobe cells, PQ codes over the RESIDUAL (vector minus its
# cell centroid) compress what remains, and ADC scores candidates with m
# table lookups. Residual coding is what makes the combination work: inside
# one cell the residual distribution is far tighter than the raw corpus, so
# the same codebook bits buy much lower quantization error. Index state is
# centroids (nlist x d) + codebooks (m x k x d/m) + one byte-code row per
# vector — at 100 TB the coded corpus is ~32x smaller than float vectors
# and the scan per query touches nprobe/nlist of it.
# ---------------------------------------------------------------------------

def ivfpq_train(
    df: DataFrame,
    nlist: int = 8,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 3,
):
    """Train the composed index -> (centroids, codebooks).

    Coarse centroids from the existing Lloyd's trainer; PQ codebooks from
    the residual frame (vector minus assigned centroid — one map-only
    projection, no shuffle). Training touches the driver only for the
    KB-sized centroid/codebook tables."""
    cents = kmeans_train(df, k=nlist, id_col=id_col, vec_col=vec_col,
                         iters=iters)
    residuals = _residual_frame(df, cents, id_col, vec_col)
    books = pq_train(residuals, m=m, k=k, id_col=id_col, vec_col="__res",
                     iters=iters)
    return cents, books


def _residual_frame(
    df: DataFrame, centroids, id_col: str, vec_col: str
) -> DataFrame:
    """(id, __cell, __res): assigned coarse cell + residual vector, one
    projection."""
    cell = centroid_probe_expr(vec_col, centroids, nprobe=1)[0]
    return (df.select(F.col(id_col), F.col(vec_col), cell.alias("__cell"))
            .select(id_col, "__cell",
                    _residual(vec_col, "__cell", centroids).alias("__res")))


def _residual(vec_col: str, cell_col: str, centroids) -> Column:
    """``vec_col`` minus its cell's centroid (literal centroids in cell
    order, zip_with subtraction)."""
    cents = array_sql([vec for _b, vec in sorted(centroids)])
    return F.expr(f"zip_with({vec_col}, element_at({cents}, {cell_col} + 1), "
                  f"(x, c) -> cast(x as double) - c)")


def ivfpq_encode(
    df: DataFrame, centroids, codebooks,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, cell, codes): the stored index rows — two chained map-only
    projections (assignment+residual, then PQ coding), zero shuffle."""
    res = _residual_frame(df, centroids, id_col, vec_col) \
        .withColumnRenamed("__cell", "cell")
    return pq_encode(res, codebooks, id_col=id_col, vec_col="__res",
                     keep_cols=("cell",))


def ivfpq_topk(
    corpus_index: DataFrame,
    queries: DataFrame,
    centroids,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int = 2,
    exclude_self: bool = True,
) -> DataFrame:
    """ADC search over the coded corpus: each query explodes to its nprobe
    nearest cells WITH a per-cell distance table over the query's residual
    to that cell (literal codebooks + literal centroids — the tables are
    computed in-plan, per (query, cell)); the equi-join on cell prunes the
    corpus; scoring is m array lookups. Returns (query_id, neighbor_id,
    rank, adc_dist)."""
    probes = centroid_probe_expr(vec_col, centroids, nprobe=nprobe)
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"),
        F.explode(probes).alias("qcell"))
    qres = q.select("query_id", "qcell",
                    _residual("__qv", "qcell", centroids).alias("__qv"))
    return _adc_topk(corpus_index, qres, codebooks,
                     F.col("cell") == F.col("qcell"), k, exclude_self)
