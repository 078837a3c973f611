"""Profiler tests (P1-P14) at sf0.001."""

import pytest

from sparvi_spark.operators.profile import (
    duplicate_count,
    health_sql,
    profile_table,
    top_values,
    type_bucket,
)
from sparvi_spark.testdata import load_table
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def lineitem_profile(spark):
    df = load_table(spark, "lineitem", SF_DIR)
    return profile_table(df, "lineitem", as_of="2026-01-01 00:00:00")


def test_row_and_column_counts(lineitem_profile):
    p = lineitem_profile
    assert p["row_count"] == 6000
    assert p["column_count"] == 11
    assert p["table"] == "lineitem"
    assert set(p["columns"]) == set(p["column_types"])


def test_completeness_contract(lineitem_profile):
    c = lineitem_profile["completeness"]["l_quantity"]
    assert set(c) == {"nulls", "null_percentage", "distinct_count", "distinct_percentage"}
    assert c["nulls"] >= 0
    assert lineitem_profile["null_fractions"]["l_orderkey"] == 0.0


def test_numeric_summary(lineitem_profile):
    s = lineitem_profile["summary_statistics"]["l_quantity"]
    assert s["min"] == 1.0 and s["max"] == 50.0
    assert s["negative_count"] == 0
    assert s["avg"] == pytest.approx(s["sum"] / 6000, abs=1e-6)
    assert s["stddev"] is not None and s["stddev"] > 0


def test_string_and_date_summary(lineitem_profile):
    s = lineitem_profile["summary_statistics"]["l_returnflag"]
    assert s["min_length"] == 1 and s["max_length"] == 1 and s["empty_count"] == 0
    d = lineitem_profile["summary_statistics"]["l_shipdate"]
    assert d["min"].startswith("19") or d["min"].startswith("20")
    assert d["future_count"] == 0


def test_top_values_present_and_bounded(lineitem_profile):
    tv = lineitem_profile["top_values"]
    assert "l_returnflag" in tv
    assert 0 < len(tv["l_returnflag"]) <= 10
    counts = [v["count"] for v in tv["l_returnflag"]]
    assert counts == sorted(counts, reverse=True)
    # high-cardinality numeric keys must be excluded by the distinct cap
    assert "l_orderkey" not in tv


def test_duplicate_count_zero_on_keyed_table(spark):
    df = load_table(spark, "nation", SF_DIR)
    assert duplicate_count(df) == 0


def test_duplicate_count_detects_dupes(spark):
    df = load_table(spark, "nation", SF_DIR)
    assert duplicate_count(df.unionAll(df.limit(3))) == 3


def test_health_score_heuristic(spark):
    def health_score(rows, n_columns, n_nullable, has_pk):
        return spark.sql("SELECT " + health_sql(
            str(rows), n_columns, n_nullable, has_pk)).collect()[0][0]

    assert health_score(100, 5, 1, True) == 100
    assert health_score(0, 5, 1, True) == 70
    assert health_score(100, 5, 5, False) == 65  # no PK, all nullable
    assert health_score(100, 60, 0, True) == 90  # wide table
    assert health_score(0, 60, 60, False) == 25


def test_top_values_tie_break_deterministic(spark):
    df = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("a",), ("b",), ("c",)], "v string"
    )
    rows = top_values(df, ["v"], k=2).collect()
    assert [(r["value"], r["cnt"]) for r in rows] == [("a", 2), ("b", 2)]


def test_profile_row_count_change(spark):
    df = load_table(spark, "nation", SF_DIR)
    prev = {"row_count": 20}
    p = profile_table(df, "nation", previous_profile=prev)
    assert p["row_count_change"] == 5


def test_type_buckets(spark):
    df = load_table(spark, "embeddings", SF_DIR)
    assert type_bucket(df.schema["embedding"].dataType) == "other"
    assert type_bucket(df.schema["vec_id"].dataType) == "numeric"


def test_profile_approx_mode(spark):
    """100 TB mode: sketch distinct counts, skip exact duplicate pass."""
    from sparvi_spark.operators.profile import profile_table
    from sparvi_spark.testdata import load_table
    from tests.conftest import SF_DIR

    df = load_table(spark, "orders", SF_DIR)
    exact = profile_table(df, "orders", as_of="2026-01-01 00:00:00")
    approx = profile_table(df, "orders", exact=False, as_of="2026-01-01 00:00:00")
    assert approx["row_count"] == exact["row_count"]
    for c, d in exact["distinct_counts"].items():
        a = approx["distinct_counts"][c]
        assert a == 0 or abs(a - d) <= max(0.1 * d, 2), (c, a, d)
    # the scale lane's DOUBLE sums (numeric_sqls' double lane — the
    # decimal agg buffer is a measured 13x/core cliff at 100x, r11)
    # must agree with the decimal parity lane after the document's own
    # rounding: avg to 6dp, stddev to 4dp, both compared with one-ulp
    # slack at the rounding boundary
    for c, s in exact["summary_statistics"].items():
        if "zero_count" not in s:  # text/date summaries share the dict
            continue
        a = approx["summary_statistics"][c]
        assert a["min"] == s["min"] and a["max"] == s["max"], c
        assert a["zero_count"] == s["zero_count"], c
        for k, tol in (("avg", 2e-6), ("stddev", 2e-4)):
            if s[k] is None:
                assert a[k] is None, (c, k)
            else:
                assert abs(a[k] - s[k]) <= tol, (c, k, a[k], s[k])
        rel = abs(a["sum"] - s["sum"]) / max(abs(s["sum"]), 1.0)
        assert rel <= 1e-9, (c, a["sum"], s["sum"])


def test_profile_nonfinite_values(spark):
    """NaN/±Inf are excluded from numeric stats and disclosed as
    non_finite_count — in BOTH lanes. Before r11 the decimal lane
    dropped them from the sum but kept them in the count (avg over
    [1, NaN, Inf, 2] reported 0.75, a plausible wrong number) and the
    double lane returned NaN for every stat."""
    from sparvi_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [(1.0,), (float("nan"),), (float("inf"),), (2.0,),
         (float("-inf"),), (None,)], "x double")
    for exact in (True, False):
        s = profile_table(df, "t", exact=exact)["summary_statistics"]["x"]
        assert s["non_finite_count"] == 3, (exact, s)
        assert s["min"] == 1.0 and s["max"] == 2.0, (exact, s)
        assert s["sum"] == 3.0 and s["avg"] == 1.5, (exact, s)
        assert s["stddev"] == pytest.approx(0.7071, abs=1e-4), (exact, s)
        # sign counts keep ordering semantics: +Inf is positive,
        # -Inf negative, NaN neither
        assert s["positive_count"] == 3 and s["negative_count"] == 1, s


def test_operators_on_empty_input(spark):
    """Every core operator must handle a 0-row input without raising and
    with sane zero/NULL semantics (the reference's health score explicitly
    covers 0-row tables, collector.py:661-687)."""
    from pyspark.sql import functions as F

    from sparvi_spark.operators.anomalies import detect_anomalies, zscore_anomalies
    from sparvi_spark.operators.dedup import jaccard_pairs
    from sparvi_spark.operators.profile import duplicate_count, profile_table
    from sparvi_spark.operators.sessions import session_stats
    from sparvi_spark.operators.text import quality_features
    from sparvi_spark.operators.trends import incremental_time_rollup
    from sparvi_spark.operators.validation import Rule, run_rules

    empty_docs = spark.createDataFrame([], "doc_id int, text string")
    empty_events = spark.createDataFrame(
        [], "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double")

    prof = profile_table(empty_docs, "empty_docs")
    assert prof["row_count"] == 0 and prof["duplicate_count"] == 0
    assert duplicate_count(empty_docs) == 0

    rules = [Rule("not_empty", "count > 0", "greater_than", 0, "agg",
                  agg_expr="count(*)")]
    res = {r["rule_name"]: r for r in run_rules(empty_docs, rules).collect()}
    assert res["not_empty"]["actual_value"] == 0.0
    assert res["not_empty"]["is_valid"] is False

    assert zscore_anomalies(empty_events.select(
        F.col("event_type").alias("metric_name"), "ts", "value"),
        ["metric_name"]).count() == 0
    assert detect_anomalies(empty_events.select(
        F.col("event_type").alias("metric_name"), "ts", "value"),
        ["metric_name"], config={"detection_method": "zscore"}).count() == 0

    assert session_stats(empty_events, "user_id", "ts", 30.0).count() == 0
    assert quality_features(empty_docs, repetition=True).count() == 0
    assert jaccard_pairs(empty_docs, "doc_id", "text", n=1,
                         threshold=0.5).count() == 0

    state = incremental_time_rollup(None, empty_events, "ts", "event_type",
                                    "value", 3600)
    assert state.count() == 0


def test_profile_large_magnitudes_and_single_row(spark):
    """Review-fix pins: the profiler survives |values| >= 1e16 (the old
    dec*dec sum-of-squares overflowed decimal(38,6) — ANSI crash) and a
    single-row group reports NULL sample stddev instead of dividing by
    zero."""
    from sparvi_spark.operators.profile import profile_table

    big = spark.createDataFrame([(1e17,), (2e17,)], "x double")
    p = profile_table(big, "big")
    assert p["summary_statistics"]["x"]["max"] == 2e17
    assert p["summary_statistics"]["x"]["stddev"] is None  # overflow -> unknown

    one = spark.createDataFrame([(5.0,)], "x double")
    p1 = profile_table(one, "one")
    assert p1["summary_statistics"]["x"]["stddev"] is None

    # scale lane (double sums, no per-row overflow counter): |v| >=
    # ~1.34e154 squares to +Inf — the aggregate-level finiteness guard
    # must report honest None, not inf/NaN (r11 review fix)
    huge = spark.createDataFrame([(1e155,), (2e155,)], "x double")
    ph = profile_table(huge, "huge", exact=False)
    s = ph["summary_statistics"]["x"]
    assert s["stddev"] is None, s
    assert s["max"] == 2e155 and s["non_finite_count"] == 0, s


def test_correlation_matrix_matches_numpy(spark):
    """One-pass pairwise Pearson vs numpy, including pairwise-complete
    NULL handling and a zero-variance column -> NULL."""
    import numpy as np

    from sparvi_spark.operators.profile import correlation_matrix

    rows = [(1.0, 2.0, 5.0), (2.0, 4.1, 5.0), (3.0, 5.9, 5.0),
            (4.0, None, 5.0), (5.0, 10.2, 5.0), (None, 7.0, 5.0)]
    df = spark.createDataFrame(rows, "a double, b double, c double")
    got = {(r["col_a"], r["col_b"]): r
           for r in correlation_matrix(df, ["a", "b", "c"]).collect()}

    a = [1.0, 2.0, 3.0, 5.0]
    b = [2.0, 4.1, 5.9, 10.2]
    expect_ab = float(np.corrcoef(a, b)[0, 1])
    assert got[("a", "b")]["n_pairs"] == 4
    assert abs(got[("a", "b")]["pearson"] - round(expect_ab, 6)) < 2e-6
    # zero-variance partner -> NULL, not a crash or +-1
    assert got[("a", "c")]["pearson"] is None
    assert got[("b", "c")]["pearson"] is None


def test_exact_percentiles_refine_nan_column_falls_back(spark):
    """A NaN-bearing column routes to the bucketed fallback instead of
    splicing 'nan' into SQL; values match exact_percentiles on the same
    data (NaN sorts last in both plans)."""
    from sparvi_spark.operators.profile import (
        exact_percentiles, exact_percentiles_refine)

    import math

    rows = [(float(i),) for i in range(100)] + [(float("nan"),)] * 60
    df = spark.createDataFrame(rows, "v double")
    got = exact_percentiles_refine(df, ["v"]).collect()[0]
    ref = exact_percentiles(df, ["v"]).collect()[0]
    for q in ("p25", "p50", "p75"):
        g, r = got[q], ref[q]
        assert g == r or (math.isnan(g) and math.isnan(r)), q
    assert math.isnan(got["p75"])  # NaN tail actually reached the walk


def test_refine_bracket_cache_skips_pass1_and_matches(spark):
    """Second refine over the SAME logical input reuses the cached pass-1
    probe row (no second percentile_approx action) and returns identical
    values; a DIFFERENT frame never hits the cache; bracket_cache=False
    and SPARK_GRAFT_NO_CACHE=1 both bypass it."""
    import os
    from unittest.mock import patch

    from sparvi_spark.operators import profile as prof

    df = spark.createDataFrame([(float(i % 37),) for i in range(500)],
                               "v double")
    prof._BRACKET_CACHE.clear()
    first = prof.exact_percentiles_refine(df, ["v"]).collect()[0]
    assert len(prof._BRACKET_CACHE) == 1
    cached_row = next(iter(prof._BRACKET_CACHE.values()))
    # second call: the memoized row object itself is what routing reads
    with patch.dict(prof._BRACKET_CACHE, clear=False):
        again = prof.exact_percentiles_refine(df, ["v"]).collect()[0]
    assert len(prof._BRACKET_CACHE) == 1
    assert next(iter(prof._BRACKET_CACHE.values())) is cached_row
    for q in ("p25", "p50", "p75"):
        assert first[q] == again[q], q
    # a semantically different frame gets its own entry
    df2 = spark.createDataFrame([(float(i % 11),) for i in range(500)],
                                "v double")
    prof.exact_percentiles_refine(df2, ["v"]).collect()
    assert len(prof._BRACKET_CACHE) == 2
    # escape hatches: neither touches the cache
    prof._BRACKET_CACHE.clear()
    prof.exact_percentiles_refine(df, ["v"], bracket_cache=False).collect()
    assert not prof._BRACKET_CACHE
    os.environ["SPARK_GRAFT_NO_CACHE"] = "1"
    try:
        prof.exact_percentiles_refine(df, ["v"]).collect()
        assert not prof._BRACKET_CACHE
    finally:
        del os.environ["SPARK_GRAFT_NO_CACHE"]


def test_refine_window_budget_routes_to_bucketed_plan(spark):
    """A (column, quantile) whose expected pass-2 window (8n/accuracy)
    exceeds window_budget never runs the collect_list window — it takes
    the fully distributed bucketed plan and stays exact. Guards the
    100 TB shape: at 10^11 rows the unbudgeted window is a 10^8-value
    single aggregation buffer."""
    from unittest.mock import patch

    from sparvi_spark.operators import profile as prof

    # distinct values -> no tie shortcut; n=200, accuracy=2000 gives an
    # expected window of 0.8 values, so budget=0 forces the guard while
    # any real budget admits it
    df = spark.createDataFrame([(float(i),) for i in range(200)],
                               "v double")
    ref = prof.exact_percentiles(df, ["v"]).collect()[0]

    with patch.object(prof, "exact_percentiles",
                      wraps=prof.exact_percentiles) as bucketed:
        got = prof.exact_percentiles_refine(
            df, ["v"], tie_shortcut=False, window_budget=0).collect()[0]
        assert bucketed.call_count == 1  # budget guard took the fallback
        assert bucketed.call_args[0][1] == ["v"]
    for q in ("p25", "p50", "p75"):
        assert got[q] == ref[q], q

    with patch.object(prof, "exact_percentiles",
                      wraps=prof.exact_percentiles) as bucketed:
        got2 = prof.exact_percentiles_refine(
            df, ["v"], tie_shortcut=False).collect()[0]
        assert bucketed.call_count == 0  # default budget: window path
    for q in ("p25", "p50", "p75"):
        assert got2[q] == ref[q], q


def test_refine_rounding_matches_spark_shortest_repr(spark):
    """Boundary values whose shortest repr ends in 5 at the cut digit must
    round like Spark's round() (HALF_UP on the shortest decimal repr)."""
    from sparvi_spark.operators.profile import exact_percentiles_refine

    # every row identical -> every quantile is exactly this value; its
    # shortest repr 3.0000025 rounds HALF_UP to 3.000003 (Decimal(x)'s
    # binary expansion 3.00000249999... would round DOWN to 3.000002)
    df = spark.createDataFrame([(3.0000025,)] * 10, "v double")
    got = exact_percentiles_refine(df, ["v"]).collect()[0]
    spark_rounded = spark.sql(
        "select round(cast(3.0000025 as double), 6) as r").collect()[0]["r"]
    assert got["p50"] == spark_rounded == 3.000003


def _pct_close(doc_pct: float, slot_pct: float) -> bool:
    # the document rounds percentages to 4 dp, the p02/p03 slots to 6
    return abs(doc_pct - slot_pct) <= 5e-5 + 1e-12


def _assert_numeric_matches(summary: dict, row) -> None:
    for doc_key, slot_key in (("min", "min_val"), ("max", "max_val"),
                              ("avg", "avg_val"), ("stddev", "stddev_val"),
                              ("zero_count", "zero_cnt"),
                              ("negative_count", "negative_cnt"),
                              ("positive_count", "positive_cnt")):
        assert summary[doc_key] == row[slot_key], (doc_key, summary, row)
    if summary["sum"] is None:
        assert row["sum_val"] is None
    else:
        assert abs(summary["sum"] - row["sum_val"]) <= 5e-5 + 1e-9


def test_profile_document_equals_graded_slots(spark):
    """The stored profile document and the graded p02/p03/p04/p06/p07/p08
    slots render the same builders, so on the sf0.001 tables every field
    they share is equal (percentages up to their own rounding digits),
    and on a frame with NaN and ±Inf the p02/p03/p04 slot text rendered
    over that frame equals the document too."""
    from sparvi_spark.checks import profile_checks as pc
    from sparvi_spark.functions import local_df, rel, render_sql

    tables = {"lineitem"} | {t for t, _ in pc.DATE_COLS} \
        | {t for t, _ in pc.STR_COLS} | {t for t, _ in pc.TOPV_COLS}
    docs = {t: profile_table(load_table(spark, t, SF_DIR), t, as_of=pc.AS_OF)
            for t in sorted(tables)}

    def check_counts(doc, nulls, distincts):
        for r in nulls:
            comp = doc["completeness"][r["column_name"]]
            assert comp["nulls"] == r["null_cnt"], r
            assert _pct_close(comp["null_percentage"], r["null_pct"]), r
        for r in distincts:
            comp = doc["completeness"][r["column_name"]]
            assert comp["distinct_count"] == r["distinct_cnt"], r
            assert _pct_close(comp["distinct_percentage"],
                              r["distinct_pct"]), r

    li = docs["lineitem"]
    check_counts(li, pc.q_null_counts(spark, SF_DIR).collect(),
                 pc.q_distinct_counts(spark, SF_DIR).collect())
    for r in pc.q_numeric_stats(spark, SF_DIR).collect():
        _assert_numeric_matches(
            li["summary_statistics"][r["column_name"]], r)
    for r in pc.q_date_stats(spark, SF_DIR).collect():
        d = docs[r["table_name"]]["summary_statistics"][r["column_name"]]
        assert (d["min"], d["max"], d["future_count"], d["past_count"]) == (
            r["min_ts"], r["max_ts"], r["future_cnt"], r["past_cnt"]), r
    for r in pc.q_string_stats(spark, SF_DIR).collect():
        d = docs[r["table_name"]]["summary_statistics"][r["column_name"]]
        assert (d["min_length"], d["max_length"], d["avg_length"],
                d["empty_count"]) == (r["min_len"], r["max_len"],
                                      r["avg_len"], r["empty_cnt"]), r
    slot_top: dict = {}
    for r in pc.q_top_values(spark, SF_DIR).collect():
        slot_top.setdefault((r["table_name"], r["column_name"]), set()).add(
            (r["value"], r["cnt"], r["pct"]))
    assert set(slot_top) == set(pc.TOPV_COLS)
    for (t, c), want in slot_top.items():
        got = {(v["value"], v["count"], v["percentage"])
               for v in docs[t]["top_values"][c]}
        assert got == want, (t, c)

    nan, inf = float("nan"), float("inf")
    frame = local_df(spark, [(1.0, 1), (nan, 2), (inf, 2), (2.0, None),
                             (-inf, 3), (None, 3), (0.0, 3), (-3.5, 4)],
                     "x double, k int")
    doc = profile_table(frame, "nonfinite")
    assert doc["summary_statistics"]["x"]["non_finite_count"] == 3

    def slot(text):
        return render_sql(spark, text, src=frame).collect()

    cols = ["x", "k"]
    check_counts(doc, slot(pc.null_counts_sql(rel("src"), cols)),
                 slot(pc.distinct_counts_sql(rel("src"), cols)))
    for r in slot(pc.numeric_stats_sql(rel("src"), cols, {"k"})):
        _assert_numeric_matches(
            doc["summary_statistics"][r["column_name"]], r)


def test_profile_sums_in_the_decimal_lane_and_p04_lane_agrees_on_cents(spark):
    """profile_table sums every numeric column in the decimal lane, in its
    one aggregate, whatever the values' decimals; the graded p04 slot's
    scaled-long lane equals it on integral and cent-valued columns (its
    precondition) and not on a value with more than two decimals."""
    from sparvi_spark.functions import local_df, rel, render_sql
    from sparvi_spark.operators.profile import (
        integral_columns, numeric_sqls, stage_sql)

    frame = local_df(spark, [(0.125, 1.25, 3e8, 1, 3),
                             (2.5, 2.5, 1.0, 2, 5_000_000_000),
                             (1.1, 3.75, None, 3, None)],
                     "frac double, cents double, big double, n int, "
                     "huge bigint")
    cols = frame.columns
    ints = integral_columns(frame)

    def lane_row(lane, names):
        text = stage_sql(rel("src"), *numeric_sqls(
            names, [f"a{i}" for i in range(len(names))], lane, ints))
        return render_sql(spark, text, src=frame).collect()[0]

    def stats(row, i):
        return row[f"a{i}_sum_d"], row[f"a{i}_avg"], row[f"a{i}_stddev"]

    doc = profile_table(frame, "lanes")["summary_statistics"]
    want = lane_row("decimal", cols)
    for i, c in enumerate(cols):
        assert (doc[c]["sum"], doc[c]["avg"], doc[c]["stddev"]) == stats(
            want, i), c
    exact = ["cents", "n"]
    scaled, dec = lane_row("scaled", exact), lane_row("decimal", exact)
    assert [stats(scaled, i) for i in range(2)] == [
        stats(dec, i) for i in range(2)]
    assert stats(lane_row("scaled", ["frac"]), 0) != stats(
        lane_row("decimal", ["frac"]), 0)
