"""Bloom-filter membership screening — the broadcast/map-only path for
contamination checks and anti-join prefilters at 100 TB.

`dedup.contamination` semi-joins candidate shingles against the reference
shingle set: correct and linear, but the join still shuffles (or at best
broadcasts a hash relation of every distinct reference shingle). When the
reference set is large-ish (10^7-10^9 shingles) and the candidate corpus is
the 100 TB side, the right plan is: compress the reference set ONCE into a
fixed-size bit array (m bits, k hashes), broadcast the KB..MB-sized array,
and screen candidates with a pure projection — zero shuffle, zero join on
the big side, one-sided error (false positives only, rate ~(1-e^{-kn/m})^k).

Built entirely from column expressions: positions = k affine hashes mod m,
the filter is `array<long>` words ORed together by a tiny groupBy on word
index, and the membership test is k bit-probes against the broadcast row.
Dual-mode hashing like the rest of the dedup family (SCALING.md): xxhash64
in production, the portable polynomial family when the DuckDB oracle must
reproduce the filter bit-for-bit (false positives included).

No reference-parity citation: the reference has no sketch-based screening;
this extends the contamination family (SURVEY.md §2 training-data ops).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sparvi_spark.operators.dedup import (
    PORTABLE_P,
    _affine_params,
    _doc_shingles,
    portable_hash_expr,
)


def _position_exprs(col: str, n_bits: int, k: int, portable: bool) -> list[str]:
    """k bit positions in [0, n_bits) as SQL expression strings.

    Portable mode folds the string to one polynomial base hash and derives
    the k probes with affine transforms (a_j*h+b_j mod P) — the same family
    the portable MinHash uses, so DuckDB reproduces every probe exactly.
    Engine mode seeds xxhash64 per probe.
    """
    if portable:
        base = portable_hash_expr(col)
        return [
            f"(({a}L * ({base}) + {b}L) % {PORTABLE_P}) % {n_bits}"
            for a, b in (_affine_params(j) for j in range(k))
        ]
    return [f"pmod(xxhash64({col}, {j}), {n_bits})" for j in range(k)]


def bloom_build(
    df: DataFrame,
    col: str,
    n_bits: int = 1 << 20,
    k: int = 4,
    portable: bool = False,
) -> DataFrame:
    """Build a Bloom filter over a string column -> ONE row
    (n_bits, k, words array<long> of length n_bits/64).

    Plan shape: k narrow hash projections per row, explode to (word_idx,
    bit_mask), and a groupBy(word_idx) bit_or — the shuffle carries at most
    n_bits/64 rows per partition after map-side partial aggregation, i.e.
    the filter size, NOT the data size. Duplicate inserts are idempotent,
    so the input needs no distinct() pass. The final one-row assembly
    materializes the dense word array (missing words -> 0).
    """
    if n_bits % 64:
        raise ValueError("n_bits must be a multiple of 64")
    n_words = n_bits // 64
    pos = df.select(
        F.explode(F.array(
            *[F.expr(e).cast("long") for e in _position_exprs(col, n_bits, k, portable)]
        )).alias("__pos"))
    words = (
        pos.select(F.expr("__pos div 64").alias("widx"),
                   F.expr("shiftleft(1L, cast(__pos % 64 as int))").alias("mask"))
        .groupBy("widx").agg(F.bit_or("mask").alias("word"))
    )
    return (
        words.agg(F.map_from_arrays(
            F.collect_list("widx"), F.collect_list("word")).alias("__m"))
        .select(
            F.lit(n_bits).alias("n_bits"),
            F.lit(k).alias("k"),
            F.transform(
                F.sequence(F.lit(0), F.lit(n_words - 1)),
                lambda i: F.coalesce(
                    F.element_at("__m", i.cast("long")), F.lit(0).cast("long")),
            ).alias("words"),
        )
    )


def _staged_probe(df: DataFrame, col: str, n_bits: int, k: int,
                  portable: bool) -> tuple[DataFrame, Column]:
    """(frame, hit column) with the expensive base hash STAGED: in
    portable mode the per-character polynomial fold would otherwise be
    inlined 2k times per row (each probe needs it for div 64 and % 64);
    materializing it once as a column leaves only k affine transforms.
    Engine mode stages nothing — xxhash64 per probe is already cheap."""
    if portable:
        df = df.withColumn("__bh", F.expr(portable_hash_expr(col)))
        exprs = [
            f"(({a}L * __bh + {b}L) % {PORTABLE_P}) % {n_bits}"
            for a, b in (_affine_params(j) for j in range(k))
        ]
    else:
        exprs = _position_exprs(col, n_bits, k, portable)
    hit = F.lit(True)
    for e in exprs:
        hit = hit & F.expr(
            f"(element_at(words, cast(({e}) div 64 as int) + 1) "
            f"& shiftleft(1L, cast(({e}) % 64 as int))) != 0")
    return df, hit


def bloom_filter_members(
    df: DataFrame,
    bloom: DataFrame,
    col: str,
    n_bits: int,
    k: int,
    portable: bool = False,
) -> DataFrame:
    """Rows of ``df`` whose ``col`` MIGHT be in the filter (one-sided
    error: every true member is kept; false-positive rate is the bloom's).

    Plan: broadcast nested-loop join of the one-row filter (KB..MB) then a
    map-only probe — the big side never shuffles. This is the 100 TB
    anti-join/semi-join prefilter shape.
    """
    joined = df.crossJoin(F.broadcast(bloom.select("words")))
    joined, hit = _staged_probe(joined, col, n_bits, k, portable)
    return joined.where(hit).drop("words", "__bh")


def contamination_bloom(
    df: DataFrame,
    ref: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    n_bits: int = 1 << 20,
    k: int = 4,
    portable: bool = False,
) -> DataFrame:
    """Benchmark-contamination screen via a broadcast Bloom filter of the
    reference corpus' n-gram shingles.

    Output matches `dedup.contamination`: (id, n_shingles, n_contaminated,
    contamination_frac) — with n_contaminated an UPPER BOUND (bloom false
    positives only inflate it; a clean doc can screen slightly dirty, never
    the reverse). Size n_bits ~ 10x the reference shingle count for ~2%
    overcount (FPR of (1-e^{-kn/m})^k at k=4).

    Scale shape vs the exact screen: the exact semi-join moves/broadcasts
    every distinct reference shingle and probes a hash relation; this path
    reduces the reference corpus to n_bits/8 bytes once (shuffle bounded by
    filter size), broadcasts that, and screens the 100 TB candidate side
    with k hash projections per shingle — no join structure at all.
    """
    bloom = bloom_build(
        _doc_shingles(ref, id_col, text_col, n).select("shingle"),
        "shingle", n_bits=n_bits, k=k, portable=portable)
    doc_sh = _doc_shingles(df, id_col, text_col, n)
    joined = doc_sh.crossJoin(F.broadcast(bloom.select("words")))
    joined, hit = _staged_probe(joined, "shingle", n_bits, k, portable)
    probed = joined.withColumn("__hit", hit)
    return (
        probed.groupBy("__id")
        .agg(F.count(F.lit(1)).alias("n_shingles"),
             F.count(F.when(F.col("__hit"), 1)).alias("n_contaminated"))
        .select(
            F.col("__id").alias(id_col),
            "n_shingles",
            "n_contaminated",
            F.round(F.col("n_contaminated") * F.lit(1.0) / F.col("n_shingles"), 6)
            .alias("contamination_frac"),
        )
    )


__all__ = [
    "bloom_build",
    "bloom_filter_members",
    "contamination_bloom",
]
