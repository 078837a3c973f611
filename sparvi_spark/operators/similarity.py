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


def dot_expr(a: str, b: str) -> Column:
    """Deterministic fold-based dot product of two float arrays."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), "
        f"cast(0 as double), (acc, v) -> acc + v)"
    )


def norm_expr(a: str) -> Column:
    return F.sqrt(dot_expr(a, a))


def _cosine_with_norms(a: str, b: str, norm_a: str, norm_b: str) -> Column:
    """cosine from PRE-COMPUTED per-side norms: dot/(na*nb).

    The norm folds run once per VECTOR below the join instead of once
    per PAIR above it — in a q×n brute-force scan that is 3 folds/pair
    -> 1. Zero-norm sides yield NULL through the nullif guard: under
    ANSI a bare /0.0 throws, and one zero-norm vector would kill the
    whole scan."""
    return dot_expr(a, b) / F.nullif(F.col(norm_a) * F.col(norm_b),
                                     F.lit(0.0))


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
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
                       norm_expr(vec_col).alias("qn"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
                      norm_expr(vec_col).alias("cn"))
    scored = c.crossJoin(F.broadcast(q)).withColumn(
        "cosine", _cosine_with_norms("cv", "qv", "cn", "qn"))
    if exclude_self:
        scored = scored.where(F.col("neighbor_id") != F.col("query_id"))
    # contract shared with the gram backend: NULL vectors and zero-norm
    # vectors (±inf/NaN cosine) never rank — without this filter a NaN
    # cosine sorts FIRST under desc (NaN > all doubles in Spark) and a
    # noise row wins rank 1
    scored = scored.where(F.col("cosine").isNotNull()
                          & ~F.isnan("cosine")
                          & (F.abs("cosine") != float("inf")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine"))
    )


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
    if not qrows:
        schema = (f"query_id {corpus.schema[id_col].dataType.simpleString()},"
                  f" neighbor_id "
                  f"{corpus.schema[id_col].dataType.simpleString()},"
                  f" rank int, cosine double")
        return local_df(corpus.sparkSession, [], schema)
    qids = np.asarray([r[0] for r in qrows])
    Q = np.asarray([np.asarray(r[1], dtype=np.float64) for r in qrows])
    Qn = np.sqrt((Q * Q).sum(axis=1))
    live = Qn > 0.0  # zero-norm queries match nothing (fold filters
    qids, Q, Qn = qids[live], Q[live], Qn[live]  # their inf/NaN cosines)
    if not len(qids):
        id_type = corpus.schema[id_col].dataType.simpleString()
        return local_df(
            corpus.sparkSession, [], f"query_id {id_type}, neighbor_id "
                                     f"{id_type}, rank int, cosine double")
    id_type = corpus.schema[id_col].dataType.simpleString()
    out_schema = (f"query_id {id_type}, neighbor_id {id_type}, "
                  f"cosine double")

    def local_topk(batches):
        for pdf in batches:
            pdf = pdf[pdf[vec_col].notna()]
            if not len(pdf):
                continue
            V = np.asarray([np.asarray(x, dtype=np.float64)
                            for x in pdf[vec_col]])
            ids = pdf[id_col].to_numpy()
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
    # by id no matter which partition scored them (see local_topk note)
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.bround("cosine", 6)), F.asc("neighbor_id"))  # bround =
    # HALF_EVEN, matching np.round in local_topk (plain round is HALF_UP)
    return (partial.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank",
                    F.round("cosine", 6).alias("cosine")))


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
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
                       F.col(bucket_col).alias("qb"), norm_expr(vec_col).alias("qn"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
                      F.col(bucket_col).alias("cb"), norm_expr(vec_col).alias("cn"))
    scored = (
        c.join(F.broadcast(q), F.col("cb") == F.col("qb"))
        .withColumn("cosine", _cosine_with_norms("cv", "qv", "cn", "qn"))
    )
    if exclude_self:
        scored = scored.where(F.col("neighbor_id") != F.col("query_id"))
    # NULL/zero-norm vectors (NULL/NaN/inf cosine) never rank — NaN sorts
    # FIRST under desc in Spark, so an unfiltered noise row wins rank 1
    scored = scored.where(F.col("cosine").isNotNull()
                          & ~F.isnan("cosine")
                          & (F.abs("cosine") != float("inf")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine"))
    )


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
    comp = (f"(pmod(xxhash64(cast(b as long), cast(i as long), {seed}L), 2000000) "
            f"/ cast(1000000 as double) - 1.0)")
    dot = (f"aggregate(zip_with({vec_col}, sequence(0, size({vec_col}) - 1), "
           f"(x, i) -> cast(x as double) * {comp}), "
           f"cast(0 as double), (acc, v) -> acc + v)")
    return F.expr(
        f"aggregate(transform(sequence(0, {n_bits - 1}), "
        f"b -> case when {dot} >= 0 then shiftleft(1L, b) else 0L end), "
        f"0L, (acc, x) -> acc | x)")


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_bits: int = 8,
    seed: int = 7,
    exclude_self: bool = True,
) -> DataFrame:
    """ANN top-k probing only the query's LSH bucket.

    Same output contract as cosine_topk, restricted to same-bucket
    candidates: recall depends on n_bits (fewer bits = bigger buckets =
    higher recall, more compute). Multi-probe: union over several seeds.
    """
    bucket = lambda col: lsh_bucket_expr(col, n_bits=n_bits, seed=seed)  # noqa: E731
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
                       bucket(vec_col).alias("qb"), norm_expr(vec_col).alias("qn"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
                      bucket(vec_col).alias("cb"), norm_expr(vec_col).alias("cn"))
    scored = (
        c.join(F.broadcast(q), F.col("cb") == F.col("qb"))
        .withColumn("cosine", _cosine_with_norms("cv", "qv", "cn", "qn"))
    )
    if exclude_self:
        scored = scored.where(F.col("neighbor_id") != F.col("query_id"))
    # NULL/zero-norm vectors (NULL/NaN/inf cosine) never rank — NaN sorts
    # FIRST under desc in Spark, so an unfiltered noise row wins rank 1
    scored = scored.where(F.col("cosine").isNotNull()
                          & ~F.isnan("cosine")
                          & (F.abs("cosine") != float("inf")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine"))
    )


def _f(x: float) -> str:
    """Full-precision float literal (repr round-trips IEEE doubles)."""
    return repr(float(x))


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
    # SQL text, not Column-API lits: PySpark expands a Python list literal
    # into one py4j Literal call PER ELEMENT (512 round trips for 8x64),
    # where this whole expression parses JVM-side in one call and
    # ConstantFolding collapses each foldable array(...) to a single
    # Literal node before codegen.
    cents = "array(%s)" % ", ".join(
        "array(%s)" % ", ".join(_f(x) for x in v) for v in vecs)
    invl = "array(%s)" % ", ".join(_f(x) for x in invs)
    idl = "array(%s)" % ", ".join(str(i) for i in ids)
    dot = (f"aggregate(zip_with({vec_col}, element_at({cents}, i + 1), "
           f"(x, y) -> cast(x as double) * y), cast(0 as double), "
           f"(acc, v) -> acc + v)")
    scored = (f"transform(sequence(0, {len(ids) - 1}), i -> "
              f"struct({dot} * element_at({invl}, i + 1) as s, "
              f"-element_at({idl}, i + 1) as nb))")
    return F.expr(
        f"transform(slice(reverse(array_sort({scored})), 1, {nprobe}), "
        f"p -> -p.nb)")


def collect_centroids(
    centroids_df: DataFrame, bucket_col: str = "label"
) -> list[tuple[int, list[float]]]:
    """Long-form (bucket, dim, centroid) -> [(bucket, vector)] — the tiny
    driver-side index handle (nlist × dim), NOT the data."""
    rows = centroids_df.select(bucket_col, "dim", "centroid").collect()
    by_bucket: dict[int, dict[int, float]] = {}
    for r in rows:
        by_bucket.setdefault(int(r[0]), {})[int(r[1])] = float(r[2])
    out = []
    for b in sorted(by_bucket):
        dims = by_bucket[b]
        out.append((b, [dims[i] for i in range(len(dims))]))
    return out


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
    import pandas as pd

    pairs = sorted(((int(b), [float(x) for x in v]) for b, v in centroids),
                   key=lambda t: t[0])  # argmax FIRST max = smallest id
    cell_ids = np.asarray([b for b, _ in pairs])
    C = np.asarray([v for _, v in pairs], dtype=np.float64)
    inv = 1.0 / np.sqrt((C * C).sum(axis=1))
    inv[~np.isfinite(inv)] = 1.0  # zero centroid: same 'or 1.0' as fold
    Cn = C * inv[:, None]
    out_schema = (", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                            for f in df.schema.fields)
                  + f", {cell_col} int")

    def assign(batches):
        for pdf in batches:
            mask = pdf[vec_col].notna().to_numpy()
            cells = [None] * len(pdf)
            if mask.any():
                V = np.asarray([np.asarray(x, dtype=np.float64)
                                for x in pdf[vec_col][mask]])
                best = (V @ Cn.T).argmax(axis=1)
                picked = cell_ids[best]
                j = 0
                for i, m in enumerate(mask):
                    if m:
                        cells[i] = int(picked[j])
                        j += 1
            pdf = pdf.copy()
            pdf[cell_col] = pd.array(cells, dtype="Int32")
            yield pdf

    return df.mapInPandas(assign, out_schema)


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
        c = (numpy_probe_assign(
                corpus.select(F.col(id_col), F.col(vec_col)),
                vec_col, centroids, "__cell")
             .select(F.col(id_col).alias("neighbor_id"),
                     F.col(vec_col).alias("cv"),
                     F.col("__cell").alias("cb"))
             .withColumn("cn", norm_expr("cv")))
    else:
        c = corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
            centroid_probe_expr(vec_col, centroids, nprobe=1)[0].alias("cb"),
            norm_expr(vec_col).alias("cn"))
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
        F.explode(centroid_probe_expr(vec_col, centroids, nprobe=nprobe))
        .alias("qb"),
        norm_expr(vec_col).alias("qn"))
    scored = (
        c.join(F.broadcast(q), F.col("cb") == F.col("qb"))
        .withColumn("cosine", _cosine_with_norms("cv", "qv", "cn", "qn"))
    )
    if exclude_self:
        scored = scored.where(F.col("neighbor_id") != F.col("query_id"))
    # NULL/zero-norm vectors (NULL/NaN/inf cosine) never rank — NaN sorts
    # FIRST under desc in Spark, so an unfiltered noise row wins rank 1
    scored = scored.where(F.col("cosine").isNotNull()
                          & ~F.isnan("cosine")
                          & (F.abs("cosine") != float("inf")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine"))
    )


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
    from sparvi_spark.operators.sampling import hash_expr

    seed_rows = (
        df.select(F.col(id_col), F.col(vec_col))
        .orderBy(hash_expr(id_col), F.col(id_col))
        .limit(k)
        .collect()
    )
    cents = [(i, [float(x) for x in r[1]]) for i, r in enumerate(seed_rows)]
    for _ in range(iters):
        assigned = df.select(
            F.col(vec_col),
            centroid_probe_expr(vec_col, cents, nprobe=1)[0].alias("__cell"))
        new = collect_centroids(
            bucket_centroids(assigned, "__cell", vec_col, round_to=9),
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

    from sparvi_spark.operators.sampling import hash_expr

    # NULL vectors carry no training signal and would crash the numpy
    # stack — drop them BEFORE the top-k sample so a sparse corpus still
    # fills the sample with real rows
    rows = (df.select(F.col(id_col), F.col(vec_col))
            .where(F.col(vec_col).isNotNull())
            .orderBy(hash_expr(id_col), F.col(id_col))
            .limit(sample_size)
            .collect())
    if len(rows) < k:
        raise ValueError(
            f"kmeans_train_sampled: need at least k={k} rows to seed "
            f"k clusters, sample holds {len(rows)} — lower k or grow "
            f"the input")
    x = np.array([[float(v) for v in r[1]] for r in rows], dtype="float64")
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
    books = ", ".join(
        "array(" + ", ".join(_f(x) for x in c) + ")" for c in centroids)
    return (
        f"transform(array({books}), c -> "
        f"aggregate(zip_with({vec_expr}, c, "
        f"(x, y) -> (cast(x as double) - y) * (cast(x as double) - y)), "
        f"cast(0 as double), (acc, v) -> acc + v))")


def _subslice(vec_col: str, s: int, sub_dim: int) -> str:
    # Spark slice() is 1-based
    return f"slice({vec_col}, {s * sub_dim + 1}, {sub_dim})"


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
    from sparvi_spark.operators.sampling import hash_expr

    first = df.select(F.col(vec_col)).first()
    if first is None:
        raise ValueError("pq_train: empty input")
    dim = len(first[0])
    if dim % m:
        raise ValueError(f"pq_train: dim {dim} not divisible by m {m}")
    sub_dim = dim // m

    seed_rows = (
        df.select(F.col(id_col), F.col(vec_col))
        .orderBy(hash_expr(id_col), F.col(id_col))
        .limit(k)
        .collect()
    )
    books: list[list[list[float]]] = []
    for s in range(m):
        lo = s * sub_dim
        cents = [[float(x) for x in r[1][lo:lo + sub_dim]] for r in seed_rows]
        sub = df.select(F.expr(_subslice(vec_col, s, sub_dim)).alias("__sub"))
        for _ in range(iters):
            assigned = (
                sub.select(
                    "__sub",
                    F.expr(_l2_dists_expr("__sub", cents)).alias("__d"))
                .select("__sub", l2_argmin_expr("__d").alias("__cell")))
            new = collect_centroids(
                bucket_centroids(assigned, "__cell", "__sub", round_to=9),
                bucket_col="__cell")
            merged = {i: c for i, c in enumerate(cents)}
            merged.update(dict(new))
            cents = [merged[i] for i in sorted(merged)]
        books.append(cents)
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
    sub_dim = len(codebooks[0][0])
    staged = df.select(
        F.col(id_col).alias("vec_id"),
        *[F.col(c) for c in keep_cols],
        *[F.expr(_l2_dists_expr(_subslice(vec_col, s, sub_dim), book))
          .alias(f"__d{s}") for s, book in enumerate(codebooks)])
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
    sub_dim = len(codebooks[0][0])
    q = queries.select(
        F.col(id_col).alias("query_id"),
        *[F.expr(_l2_dists_expr(_subslice(vec_col, s, sub_dim), book))
          .alias(f"__qt{s}") for s, book in enumerate(codebooks)])
    score = " + ".join(
        f"element_at(__qt{s}, codes[{s}] + 1)" for s in range(len(codebooks)))
    scored = (
        corpus_codes.join(F.broadcast(q),
                          F.col("vec_id") != F.col("query_id")
                          if exclude_self else F.lit(True))
        .withColumn("adc_dist", F.expr(score))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"),
                                               F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "rank",
                F.round("adc_dist", 6).alias("adc_dist"))
    )


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
    projection (literal centroids, zip_with subtraction)."""
    cent_arr = "array(" + ", ".join(
        "array(" + ", ".join(_f(x) for x in vec) + ")"
        for _b, vec in sorted(centroids)) + ")"
    assigned = df.select(
        F.col(id_col),
        F.col(vec_col),
        centroid_probe_expr(vec_col, centroids, nprobe=1)[0].alias("__cell"))
    return assigned.select(
        id_col, "__cell",
        F.expr(f"zip_with({vec_col}, element_at({cent_arr}, __cell + 1), "
               f"(x, c) -> cast(x as double) - c)").alias("__res"))


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
    sub_dim = len(codebooks[0][0])
    cent_arr = "array(" + ", ".join(
        "array(" + ", ".join(_f(x) for x in vec) + ")"
        for _b, vec in sorted(centroids)) + ")"
    probes = centroid_probe_expr(vec_col, centroids, nprobe=nprobe)
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"),
        F.explode(probes).alias("qcell"))
    qres = q.select(
        "query_id", "qcell",
        F.expr(f"zip_with(__qv, element_at({cent_arr}, qcell + 1), "
               f"(x, c) -> cast(x as double) - c)").alias("__qres"))
    qt = qres.select(
        "query_id", "qcell",
        *[F.expr(_l2_dists_expr(_subslice("__qres", s, sub_dim), book))
          .alias(f"__qt{s}") for s, book in enumerate(codebooks)])
    score = " + ".join(
        f"element_at(__qt{s}, codes[{s}] + 1)" for s in range(len(codebooks)))
    scored = (
        corpus_index.join(F.broadcast(qt),
                          F.col("cell") == F.col("qcell"))
        .withColumn("adc_dist", F.expr(score))
    )
    if exclude_self:
        scored = scored.where(F.col("vec_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"),
                                               F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "rank",
                F.round("adc_dist", 6).alias("adc_dist"))
    )
