"""Distribution drift between two table snapshots (baseline vs current).

Extends the reference's STRUCTURAL drift detection (schema diff,
core/schema_detection/schema_worker.py semantics — column add/drop/type
change) with DISTRIBUTIONAL drift: the "same schema, different data"
failures a training-data pipeline must catch before a model refresh — a
feature's histogram shifting between crawls, a category exploding, a
numeric column sliding off its training range.

Per column, against the BASELINE's bin edges:

- ``tvd``  — total variation distance, 0.5·Σ|p_a − p_e|, in [0, 1]
- ``chi2`` — χ² divergence Σ(p_a − p_e)²/p_e (Laplace-smoothed)
- ``psi``  — population stability index Σ(p_a − p_e)·ln(p_a/p_e)
  (industry convention: >0.1 moderate, >0.2 major shift)

Oracle-determinism note: tvd and chi2 are pure IEEE-754 basic arithmetic
over ratios of exact integer counts (divide/multiply/add are
correctly-rounded by spec, hence bit-identical across engines), with the
cross-bin sums routed through DECIMAL so summation order cannot matter —
both are value-hash oracle-checked. psi's ln is a transcendental whose
last-ulp rounding is libm-dependent, so psi is unit-tested against
numpy/python math instead of hash-compared.

Shape at scale: one melt + (column, bin) groupBy per snapshot — the
profiler's melt pattern, count-bounded shuffles (≤ columns × bins rows
out) — then a full-outer join of two KB-sized count frames. The baseline
min/max ride along as a broadcast aggregate; no driver collect, the
whole comparison is one lazy DataFrame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparvi_spark.functions import ident, melt_sql

# decimal(38,18): wide enough that per-bin terms in [0, 1e4] sum exactly
# for any realistic bin count; scale 18 keeps ~3 guard digits past the
# 15dp term rounding.
_DEC = "decimal(38,18)"


def _melt(df: DataFrame, cols: list[str], side: str) -> DataFrame:
    return (df.selectExpr(melt_sql(cols, "double"))
            .where("v is not null")
            .selectExpr("column_name", "v", f"'{side}' as side"))


def numeric_drift(
    expected: DataFrame,
    actual: DataFrame,
    cols: list[str],
    bins: int = 10,
    round_to: int = 9,
) -> DataFrame:
    """(column_name, n_expected, n_actual, tvd, chi2, psi) per column.

    Equal-width bins over the EXPECTED snapshot's [min, max]; actual
    values outside that range clamp into the edge bins (mass leaving the
    training range lands in bins 0 / bins-1, which is exactly the signal
    wanted). Both snapshots' per-bin proportions use Laplace smoothing
    ((cnt + 0.5) / (n + 0.5·bins)) so empty bins never divide by zero and
    psi's log is always finite. A constant baseline column (min = max)
    puts everything in bin 0.
    """
    melted = _melt(expected, cols, "e").unionAll(_melt(actual, cols, "a"))
    # Baseline-only min/max, broadcast onto both sides' melted rows. The
    # conditional aggregate keeps this a single pass over the union.
    edges = (melted.groupBy("column_name")
             .agg(F.expr("min(case when side = 'e' then v end)").alias("mn"),
                  F.expr("max(case when side = 'e' then v end)").alias("mx")))
    binned = (melted.join(F.broadcast(edges), "column_name")
              .selectExpr("column_name", "side",
                          f"{bucket_expr(bins)} AS b"))
    counts = (binned.groupBy("column_name", "b")
              .agg(F.expr("count(case when side = 'e' then 1 end)").alias("ce"),
                   F.expr("count(case when side = 'a' then 1 end)").alias("ca")))
    return drift_metrics(counts, bins, round_to)


def bucket_expr(bins: int) -> str:
    """Equal-width bin index of ``v`` against broadcast edges ``mn``/``mx``
    (baseline range; out-of-range values clamp into the edge bins)."""
    return (f"case when mx > mn then "
            f"greatest(least(floor((v - mn) / (mx - mn) * {bins}), "
            f"{bins} - 1), 0) else 0 end")


def drift_metrics(counts: DataFrame, bins: int,
                  round_to: int = 9) -> DataFrame:
    """(column_name, b, ce, ca) per-bin counts -> the drift metric frame —
    shared by the two-snapshot compare above and the engine's
    stored-histogram baseline path (Engine.run_drift_check).
    """
    # smoothed per-bin proportions: exact-integer ratios through IEEE
    # double division (correctly rounded, engine-portable)
    pe = (f"((cast(ce as double) + 0.5d) / "
          f"(cast(ne as double) + 0.5d * {bins}))")
    pa = (f"((cast(ca as double) + 0.5d) / "
          f"(cast(na as double) + 0.5d * {bins}))")
    terms = (counts
             .selectExpr("column_name", "ce", "ca",
                         "sum(ce) OVER (PARTITION BY column_name) AS ne",
                         "sum(ca) OVER (PARTITION BY column_name) AS na")
             .selectExpr(
                 "column_name", "ne", "na",
                 # per-term round to 15dp then DECIMAL: the per-bin terms
                 # are engine-identical doubles, and the decimal sum makes
                 # the cross-bin total order-independent
                 f"cast(round(abs({pa} - {pe}), 15) as {_DEC}) AS __tvd_t",
                 # (d)*(d), not pow(d, 2): basic * is IEEE
                 # correctly-rounded in every engine, pow is libm-bound
                 f"cast(round(({pa} - {pe}) * ({pa} - {pe}) / {pe}, 15) "
                 f"as {_DEC}) AS __chi2_t",
                 f"({pa} - {pe}) * ln({pa} / {pe}) AS __psi_t",
             ))
    # Bins empty on BOTH sides never reach this frame as rows, but the
    # documented dense formula still assigns them smoothing-only mass
    # (pe0 = 0.5/(ne + 0.5·bins) vs pa0 = 0.5/(na + 0.5·bins)) — nonzero
    # whenever ne != na. All such bins share one closed-form term, added
    # (bins − present) times, with the same round-15-then-decimal
    # discipline as the per-bin terms (the oracle mirrors this exactly).
    # the m-bin product is computed in DOUBLE then rounded-15 and cast
    # once (a DEC×DEC product would trigger Spark's decimal-overflow
    # scale truncation down to 6dp); both engines run the identical IEEE
    # product so the casts agree bit for bit
    pe0 = f"(0.5d / (cast(max(ne) as double) + 0.5d * {bins}))"
    pa0 = f"(0.5d / (cast(max(na) as double) + 0.5d * {bins}))"
    miss = f"cast({bins} - count(1) as double)"
    return (terms.groupBy("column_name")
            .agg(F.expr("max(ne)").alias("n_expected"),
                 F.expr("max(na)").alias("n_actual"),
                 F.expr(f"round(cast((sum(__tvd_t) + cast(round({miss} * "
                        f"abs({pa0} - {pe0}), 15) as {_DEC})) "
                        f"* 0.5 as double), {round_to})").alias("tvd"),
                 F.expr(f"round(cast(sum(__chi2_t) + cast(round({miss} * "
                        f"(({pa0} - {pe0}) * ({pa0} - {pe0}) / {pe0}), 15) "
                        f"as {_DEC}) as double), "
                        f"{round_to})").alias("chi2"),
                 F.expr(f"round(sum(__psi_t) + ({bins} - count(1)) * "
                        f"(({pa0} - {pe0}) * ln({pa0} / {pe0})), "
                        f"{round_to})").alias("psi")))


def categorical_drift(
    expected: DataFrame,
    actual: DataFrame,
    col: str,
    round_to: int = 9,
) -> DataFrame:
    """Per-category drift for one categorical column -> (category,
    p_expected, p_actual, delta, abs_delta) ordered by |delta| desc.

    The category set is the UNION of both snapshots (full-outer count
    join, zero-filled): a category that appears or vanishes outright is
    the most important row in the output. NULL is a first-class category
    (sentinel '<<NULL>>'). Proportions are UNsmoothed — per-category
    deltas are the report, not a divergence statistic.
    """
    def side(df: DataFrame, name: str) -> DataFrame:
        return (df.selectExpr(
            f"coalesce(cast({ident(col)} as string), '<<NULL>>') AS category")
            .groupBy("category")
            .agg(F.expr("count(1)").alias(f"c_{name}")))

    both = (side(expected, "e").join(side(actual, "a"), "category", "full")
            .selectExpr("category",
                        "coalesce(c_e, 0) AS c_e", "coalesce(c_a, 0) AS c_a"))
    return (both.selectExpr(
        "category", "c_e", "c_a",
        "sum(c_e) OVER () AS ne", "sum(c_a) OVER () AS na")
        .selectExpr(
            "category",
            f"round(cast(c_e as double) / ne, {round_to}) AS p_expected",
            f"round(cast(c_a as double) / na, {round_to}) AS p_actual",
            f"round(cast(c_a as double) / na - cast(c_e as double) / ne, "
            f"{round_to}) AS delta")
        .selectExpr("category", "p_expected", "p_actual", "delta",
                    "abs(delta) AS abs_delta")
        .orderBy(F.desc("abs_delta"), "category"))


def numeric_histogram(
    df: DataFrame,
    cols: list[str],
    bins: int = 10,
) -> DataFrame:
    """(column_name, b, cnt, mn, mx) equal-width histogram over the df's
    OWN per-column [min, max] — the stored-baseline artifact for
    ``Engine.save_drift_baseline``. Kilobytes per table at any data scale
    (columns × bins rows), which is the point: drift checks against a
    STORED HISTOGRAM need no access to the baseline snapshot's rows.
    """
    melted = _melt(df, cols, "x")
    edges = (melted.groupBy("column_name")
             .agg(F.expr("min(v)").alias("mn"), F.expr("max(v)").alias("mx")))
    binned = (melted.join(F.broadcast(edges), "column_name")
              .selectExpr("column_name", "mn", "mx",
                          f"{bucket_expr(bins)} AS b"))
    return (binned.groupBy("column_name", "b")
            .agg(F.expr("count(1)").alias("cnt"),
                 F.expr("first(mn)").alias("mn"),
                 F.expr("first(mx)").alias("mx")))


def vocab_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    text_col: str = "text",
    top_k: int = 20,
    min_count: int = 1,
) -> DataFrame:
    """Token-level distribution shift between two corpora ->
    (token, n_a, n_b, p_a, p_b, delta), the ``top_k`` tokens by |Δp|
    with deterministic ties (token ascending) — the vocabulary view of
    drift (corpus_diff is doc-level, numeric_drift is metric-level; a
    crawl whose token mix moved is the thing neither sees).

    Exactness: counts are integers, p = count/total is one IEEE
    division, delta one subtraction — every output column replays
    bit-for-bit in a SQL oracle (no ln/smoothing in the compared
    numbers; KL-style views are a consumer-side log away and rank
    near-identically for triage). ``min_count`` drops tokens rarer than
    N in BOTH corpora (long-tail noise; the dropped mass still counts
    in the totals, so retained probabilities are unaffected).

    Scale shape (r11): ONE tagged union + explode + groupBy(token) for
    BOTH sides — side membership rides as a 0/1 column and the per-side
    counts are two conditional sums, so the whole operator is one
    shuffle bounded by vocabulary (the previous two-groupBy +
    full-outer-join form paid two exchanges and a join sort for the
    same integers). Top-k via orderBy+limit (TakeOrderedAndProject —
    per-partition top-k, never a global window). Totals ride in as one
    one-row broadcast literal. ``vocab_tvd`` builds the IDENTICAL
    grouped subplan, so when both ride in one union (the graded x24
    melt) ReusedExchange runs the token pass once for the pair.
    """
    joined = (_vocab_counts(df_a, df_b, text_col)
              .where(f"n_a >= {min_count} or n_b >= {min_count}"))
    # Order by the UNROUNDED |Δp| (then token): the oracle SQL orders by
    # the raw difference, so ranking on the 9-dp-rounded delta could
    # pick a different top-k member when two tokens' true deltas differ
    # only past 1e-9 (rounded tie breaks token-asc, raw ranks by
    # magnitude). Same expression both engines = no LIMIT-boundary flake.
    return (joined.selectExpr(
        "token", "n_a", "n_b",
        "round(cast(n_a as double) / ta, 9) AS p_a",
        "round(cast(n_b as double) / tb, 9) AS p_b",
        "round(cast(n_a as double) / ta "
        "- cast(n_b as double) / tb, 9) AS delta",
        "abs(cast(n_a as double) / ta "
        "- cast(n_b as double) / tb) AS __absd")
        .orderBy(F.col("__absd").desc(), F.col("token").asc())
        .limit(top_k)
        .drop("__absd"))


def _vocab_counts(df_a: DataFrame, df_b: DataFrame,
                  text_col: str) -> DataFrame:
    """(token, n_a, n_b, ta, tb): per-token counts for both corpora in
    ONE explode + ONE groupBy — side membership is a 0/1 literal on a
    tagged union, the per-side counts conditional sums, so tokens absent
    from a side count 0 with no outer join. ``ta``/``tb`` (the UNfiltered
    corpus token totals) ride along as a one-row broadcast. Shared
    verbatim by ``vocab_drift`` and ``vocab_tvd`` so their subplans
    canonicalize identically (ReusedExchange in a union)."""
    from sparvi_spark.operators.dedup import tokens_expr

    tagged = (df_a.selectExpr("1 AS __a",
                              f"{tokens_expr(text_col)} AS __t")
              .unionAll(df_b.selectExpr("0 AS __a",
                                        f"{tokens_expr(text_col)} AS __t")))
    counts = (tagged.selectExpr("__a", "explode(__t) AS token")
              .groupBy("token")
              .agg(F.expr("cast(sum(__a) as bigint)").alias("n_a"),
                   F.expr("cast(sum(1 - __a) as bigint)").alias("n_b")))
    tot = counts.agg(F.expr("sum(n_a)").alias("ta"),
                     F.expr("sum(n_b)").alias("tb"))
    return counts.crossJoin(F.broadcast(tot))


def vocab_tvd(
    df_a: DataFrame,
    df_b: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """One-row total-variation distance between the two corpora's token
    distributions: tvd = ½ Σ_tokens |p_a − p_b| ∈ [0, 1] (0 = identical
    mix, 1 = disjoint vocabularies) — the scalar a monitor alerts on,
    with ``vocab_drift`` as its drill-down. The per-token |Δp| terms
    route through DECIMAL before summing so summation order cannot move
    the result between engines (same discipline as drift_metrics).
    Same one-pass grouped base as ``vocab_drift`` (see _vocab_counts)."""
    return (_vocab_counts(df_a, df_b, text_col)
            .selectExpr(
                f"cast(round(abs(cast(n_a as double) / ta "
                f"- cast(n_b as double) / tb), 15) as {_DEC}) AS __t")
            .agg(F.expr("round(cast(sum(__t) as double) / 2.0d, 9)")
                 .alias("tvd"),
                 F.expr("count(1)").alias("n_tokens_union")))
