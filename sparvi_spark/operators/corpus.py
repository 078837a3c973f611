"""Corpus snapshot diffing: what changed between two versions of a
document collection — the data-level sibling of the schema diff
(operators/schema_diff.py mirrors the reference's structure tracking,
core/schema/detector.py; this tracks CONTENT the same way). A curation
pipeline re-run is only trustworthy when you can say exactly which
documents it added, dropped, or rewrote.

Spark-first shape: both sides project to (id, xxhash64(text), is_null)
— 9-byte rows — before the ONE full-outer equi-join on id, so the wide
exchange never carries document text. Output is one row per differing
doc plus an aggregated summary; unchanged docs survive only as a count.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _joined(old: DataFrame, new: DataFrame,
            id_col: str, text_col: str) -> tuple[DataFrame, Column]:
    """Full-outer hash-projection join + the shared status expression.

    ``modified`` compares (is_null, xxhash64(text)): the explicit NULL
    flag means NULL vs non-NULL is always a modification and no hash
    value can masquerade as the NULL marker; a 64-bit collision can only
    MISS a modification (expected n/2^64). ``unchanged`` is left NULL
    here — each caller decides whether to name or drop it.
    """
    def keyed(df: DataFrame, side: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias("__id"),
            F.xxhash64(F.col(text_col)).alias(f"__h_{side}"),
            F.col(text_col).isNull().alias(f"__null_{side}"),
            F.lit(1).alias(f"__in_{side}"))

    j = keyed(old, "old").join(keyed(new, "new"), "__id", "full_outer")
    status = (
        F.when(F.col("__in_old").isNull(), "added")
        .when(F.col("__in_new").isNull(), "removed")
        .when((F.col("__null_old") != F.col("__null_new"))
              | (~F.col("__null_old") & ~F.col("__null_new")
                 & (F.col("__h_old") != F.col("__h_new"))), "modified"))
    return j, status


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document changes old -> new: (id, status) with status in
    {added, removed, modified} — unchanged docs emit no row (at corpus
    scale they are almost everything)."""
    j, status = _joined(old, new, id_col, text_col)
    return (j.withColumn("status", status)
            .where(F.col("status").isNotNull())
            .select(F.col("__id").alias(id_col), "status"))
