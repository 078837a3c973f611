"""Vector-column utilities: normalization, PCA training/projection.

Embedding pipelines routinely center/normalize vectors and reduce
dimensionality before indexing (PQ/IVF train better on decorrelated
inputs). The heavy step — the d x d Gram matrix — is the textbook
distributed shape: each Arrow batch contributes X^T X via one numpy
matmul (mapInPandas; this is the legitimate pandas-UDF case, a dense
BLAS kernel per batch, not per-row Python), the per-batch matrices
fold with an element-wise sum, and only the d x d matrix (KBs) reaches
the driver for the eigendecomposition. Projection is then a map-only
literal-matrix expression, the same inline-the-trained-state pattern as
the IVF/PQ search paths.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sparvi_spark.functions import ident

_DOT = "cast(x as double) * cast(y as double)"


def _f(x: float) -> str:
    """Full-precision float literal (repr round-trips IEEE doubles)."""
    return repr(float(x))


def array_sql(values) -> str:
    """Nested ``array(...)`` literal text over ``_f`` leaves. Trained state
    (centroids, codebooks, PCA components) rides a plan as this SQL text,
    not as Column-API lits: PySpark expands a Python list literal into one
    py4j Literal call PER ELEMENT, where this text parses JVM-side in one
    call and ConstantFolding collapses each foldable ``array(...)`` to a
    single Literal node before codegen."""
    return "array(%s)" % ", ".join(
        array_sql(v) if isinstance(v, (list, tuple)) else _f(v)
        for v in values)


def fold_dot_sql(a: str, b: str, term: str = _DOT) -> str:
    """``term`` over ``zip_with(a, b)`` summed left from a 0.0 seed in
    index order — the deterministic summation the DuckDB oracles repeat.
    The default term is the dot product over doubles."""
    return (f"aggregate(zip_with({a}, {b}, (x, y) -> {term}), "
            f"cast(0 as double), (acc, v) -> acc + v)")


def vector_rows(cells):
    """(mask, V): which array cells of a batch are non-NULL, and those
    cells as one float64 row matrix — every numpy vector kernel's input."""
    import numpy as np
    import pandas as pd

    cells = pd.Series(cells, dtype=object)
    mask = cells.notna().to_numpy()
    return mask, np.asarray([np.asarray(x, dtype=np.float64)
                             for x in cells[mask]])


def map_vectors(df: DataFrame, vec_col: str, cols: dict[str, str],
                fn) -> DataFrame:
    """Append ``cols`` ({name: "int" | "double"}) via ``mapInPandas``:
    ``fn(V)`` maps each batch's ``vector_rows`` matrix to {name: values};
    rows with a NULL vector get NULL."""
    import numpy as np
    import pandas as pd

    out_schema = ", ".join(
        [f"{ident(f.name)} {f.dataType.simpleString()}"
         for f in df.schema.fields] + [f"{n} {t}" for n, t in cols.items()])

    def run(batches):
        for pdf in batches:
            mask, V = vector_rows(pdf[vec_col])
            got = fn(V) if mask.any() else {}
            pdf = pdf.copy()
            for name, typ in cols.items():
                vals = np.full(len(pdf), np.nan)
                vals[mask] = got.get(name, ())
                pdf[name] = pd.array(vals, "Int32") if typ == "int" else vals
            yield pdf

    return df.mapInPandas(run, out_schema)


def l2_normalize_expr(vec_col: str) -> Column:
    """Unit-norm copy of a float-array column (zero vectors pass through)."""
    norm = f"sqrt({fold_dot_sql(vec_col, vec_col)})"
    return F.expr(
        f"case when {norm} = 0.0 then transform({vec_col}, x -> cast(x as double)) "
        f"else transform({vec_col}, x -> cast(x as double) / {norm}) end")


def gram_matrix(df: DataFrame, vec_col: str = "embedding"):
    """(count, mean vector, covariance matrix) of a vector column as numpy
    arrays — the KB-sized training statistics.

    Plan: one mapInPandas pass emits per-batch [n, sum, flattened X^T X];
    a posexplode + groupBy folds them element-wise (shuffle carries
    d + d^2 rows per batch, not data); the driver assembles covariance
    = E[xx^T] - mean mean^T from the single folded row set.
    """
    import numpy as np

    def batch_stats(batches):
        import pandas as pd

        for pdf in batches:
            _mask, mat = vector_rows(pdf[vec_col])
            if mat.size:  # one row per batch: [n, sum..., X^T X...]
                yield pd.DataFrame({"v": [np.concatenate((
                    [mat.shape[0]], mat.sum(axis=0), (mat.T @ mat).ravel()
                )).tolist()]})

    flat = dict(df.select(vec_col).where(F.col(vec_col).isNotNull())
                .mapInPandas(batch_stats, "v array<double>")
                .select(F.posexplode("v").alias("i", "v"))
                .groupBy("i").agg(F.sum("v")).collect())
    if not flat:
        raise ValueError("gram_matrix: no vectors")
    total_n = int(flat[0])
    d = int(round((-1 + (4 * len(flat) - 3) ** 0.5) / 2))  # 1 + d + d^2
    s = np.array([flat[1 + i] for i in range(d)])
    g = np.array([flat[1 + d + i] for i in range(d * d)]).reshape(d, d)
    mean = s / total_n
    cov = g / total_n - np.outer(mean, mean)
    return total_n, mean, cov


def pca_train(df: DataFrame, k: int, vec_col: str = "embedding"):
    """Top-k principal components -> (mean, components) as plain lists
    (components[j] is the j-th unit eigenvector, descending eigenvalue;
    sign fixed so the largest-magnitude entry is positive — deterministic
    across LAPACK builds)."""
    import numpy as np

    _n, mean, cov = gram_matrix(df, vec_col)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:k]
    comps = []
    for j in order:
        v = vecs[:, j]
        if abs(v.min()) > abs(v.max()):
            v = -v
        comps.append([float(x) for x in v])
    return [float(x) for x in mean], comps


def pca_project_expr(
    vec_col: str, mean: list[float], components: list[list[float]],
    round_to: int | None = None,
) -> Column:
    """array<double> of PCA coordinates — a map-only projection with the
    trained mean/components inlined as array literals (fold per component,
    same compact-literal pattern as the PQ distance tables)."""
    centered = (f"zip_with({vec_col}, {array_sql(mean)}, "
                f"(x, m) -> cast(x as double) - m)")
    proj = (f"transform({array_sql(components)}, c -> "
            f"{fold_dot_sql(centered, 'c')})")
    if round_to is not None:
        proj = f"transform({proj}, x -> round(x, {round_to}))"
    return F.expr(proj)


def pca_project(
    df: DataFrame,
    mean: list[float],
    components: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, pca array<double>) for every row — zero shuffle."""
    return df.select(
        F.col(id_col),
        pca_project_expr(vec_col, mean, components).alias("pca"))


__all__ = ["l2_normalize_expr", "gram_matrix", "pca_train",
           "pca_project_expr", "pca_project"]
