"""Anomaly operator tests: cross-validate Spark window math against direct
numpy ports of the reference algorithms (algorithms.py semantics)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from sparvi_spark.operators.anomalies import (
    cusum_anomalies,
    detect_anomalies,
    format_anomalies,
    iqr_anomalies,
    mad_anomalies,
    moving_average_anomalies,
    zscore_anomalies,
)

SERIES = [100.0, 102.0, 98.0, 101.0, 99.0, 103.0, 97.0, 100.0, 500.0, 101.0,
          99.0, 102.0, 98.0, 100.0, 101.0]


@pytest.fixture(scope="module")
def series_df(spark):
    rows = [("m", i, float(v)) for i, v in enumerate(SERIES)]
    return spark.createDataFrame(rows, "metric_name string, ts int, value double")


def collect_scores(df):
    return {r["ts"]: (r["score"], r["is_anomaly"]) for r in df.collect()}


def test_zscore_global_matches_numpy(series_df):
    got = collect_scores(zscore_anomalies(series_df, ["metric_name"], order_col="ts"))
    mean, std = np.mean(SERIES), np.std(SERIES)  # population
    for i, v in enumerate(SERIES):
        expect = abs((v - mean) / std)
        assert got[i][0] == pytest.approx(expect, abs=1e-9)
        assert got[i][1] == (expect > 3.0)
    assert got[8][1]  # the 500 spike is anomalous


def test_zscore_rolling_excludes_current_point(series_df):
    w = 5
    got = collect_scores(
        zscore_anomalies(series_df, ["metric_name"], order_col="ts", window=w))
    assert set(got) == set(range(w, len(SERIES)))  # only i >= window emitted
    for i in range(w, len(SERIES)):
        wv = SERIES[i - w:i]
        mean, std = np.mean(wv), np.std(wv)
        expect = 0.0 if std == 0 else abs((SERIES[i] - mean) / std)
        assert got[i][0] == pytest.approx(expect, abs=1e-9), i


def test_zscore_constant_series_scores_zero(spark):
    df = spark.createDataFrame(
        [("m", i, 5.0) for i in range(10)], "metric_name string, ts int, value double")
    res = zscore_anomalies(df, ["metric_name"], order_col="ts").collect()
    assert all(r["score"] == 0.0 and not r["is_anomaly"] for r in res)


def test_iqr_global_matches_numpy(series_df):
    got = collect_scores(iqr_anomalies(series_df, ["metric_name"], order_col="ts"))
    q1, q3 = np.percentile(SERIES, 25), np.percentile(SERIES, 75)
    iqr = q3 - q1
    lower, upper = q1 - iqr * 1.5, q3 + iqr * 1.5
    for i, v in enumerate(SERIES):
        if v < lower:
            expect, anom = abs((lower - v) / iqr), True
        elif v > upper:
            expect, anom = abs((v - upper) / iqr), True
        else:
            expect, anom = 0.0, False
        assert got[i][0] == pytest.approx(expect, abs=1e-9)
        assert got[i][1] == anom


def test_iqr_zero_iqr_gives_infinite_score(spark):
    vals = [5.0] * 9 + [6.0]
    df = spark.createDataFrame(
        [("m", i, v) for i, v in enumerate(vals)], "metric_name string, ts int, value double")
    got = collect_scores(iqr_anomalies(df, ["metric_name"], order_col="ts"))
    assert got[9][0] == float("inf") and got[9][1]


def test_moving_average_matches_numpy_port(series_df):
    w = 5
    got = collect_scores(
        moving_average_anomalies(series_df, ["metric_name"], order_col="ts", window=w))
    # direct port of algorithms.py:135-198
    values = SERIES
    mas = [np.mean(values[i - w:i]) for i in range(w, len(values))]
    if len(mas) < w:
        stds = [np.std(mas)] * len(mas)
    else:
        stds = [np.std(mas[i - w:i]) for i in range(w, len(mas) + 1)]
    for i, ma in enumerate(mas):
        idx = i + w
        std = stds[i] if i < len(stds) else stds[-1]
        expect = 0.0 if std == 0 else abs((values[idx] - ma) / std)
        assert got[idx][0] == pytest.approx(expect, abs=1e-9), idx


def test_severity_thresholds(spark):
    df = spark.createDataFrame(
        [("m", i, 0.0, s, True, 0.0) for i, s in enumerate([0.5, 3.6, 6.0])],
        "metric_name string, ts int, value double, score double, "
        "is_anomaly boolean, threshold double")

    def severities(method):
        out = format_anomalies(df, method, ["metric_name"]).orderBy("ts")
        return [r["severity"] for r in out.collect()]

    assert severities("zscore") == ["low", "medium", "high"]
    assert severities("iqr") == ["low", "high", "high"]


def test_detect_min_data_points_guard(spark):
    df = spark.createDataFrame(
        [("m", i, float(i)) for i in range(6)], "metric_name string, ts int, value double")
    out = detect_anomalies(df, ["metric_name"])  # default min_data_points=7
    assert out.count() == 0


def test_detect_dispatch_formats_anomalies(series_df):
    out = detect_anomalies(series_df, ["metric_name"], {"detection_method": "iqr"},
                           order_col="ts")
    rows = out.collect()
    assert rows and all(r["is_anomaly"] for r in rows)
    assert {"method", "severity", "threshold", "score"} <= set(out.columns)
    assert all(r["method"] == "iqr" for r in rows)


def test_zscore_rolling_short_series_falls_back_to_global(spark):
    """Reference algorithms.py:30: window >= len(values) -> global stats,
    EVERY point scored (a rolling-only port silently emits zero rows)."""
    vals = [10.0, 12.0, 11.0, 50.0]
    df = spark.createDataFrame(
        [("m", i, v) for i, v in enumerate(vals)],
        "metric_name string, ts int, value double")
    got = collect_scores(
        zscore_anomalies(df, ["metric_name"], order_col="ts", window=7))
    assert set(got) == set(range(len(vals)))  # all points, not none
    mean, std = np.mean(vals), np.std(vals)
    for i, v in enumerate(vals):
        assert got[i][0] == pytest.approx(abs((v - mean) / std), abs=1e-9)


def test_zscore_rolling_mixed_series_lengths(spark):
    """Short and long series in one frame: short -> global branch, long ->
    rolling branch, in a single job."""
    w = 5
    short = [("s", i, float(v)) for i, v in enumerate([1.0, 2.0, 3.0])]
    long_ = [("l", i, float(v)) for i, v in enumerate(SERIES)]
    df = spark.createDataFrame(short + long_,
                               "metric_name string, ts int, value double")
    out = zscore_anomalies(df, ["metric_name"], order_col="ts", window=w)
    by_key = {(r["metric_name"], r["ts"]): r["score"] for r in out.collect()}
    # short series: all 3 points scored with global stats
    sv = [1.0, 2.0, 3.0]
    m, s = np.mean(sv), np.std(sv)
    for i, v in enumerate(sv):
        assert by_key[("s", i)] == pytest.approx(abs((v - m) / s), abs=1e-9)
    # long series: rolling, only i >= w emitted
    assert {t for (k, t) in by_key if k == "l"} == set(range(w, len(SERIES)))


def test_iqr_rolling_short_series_falls_back_to_global(spark):
    """Reference algorithms.py:84: window >= len(values) -> global
    percentiles over the whole series (needs >= 4 points)."""
    vals = [10.0, 12.0, 11.0, 13.0, 100.0]
    df = spark.createDataFrame(
        [("m", i, v) for i, v in enumerate(vals)],
        "metric_name string, ts int, value double")
    got = collect_scores(
        iqr_anomalies(df, ["metric_name"], order_col="ts", window=7))
    assert set(got) == set(range(len(vals)))
    q1, q3 = np.percentile(vals, 25), np.percentile(vals, 75)
    iqr = q3 - q1
    hi = q3 + 1.5 * iqr
    assert got[4][1]  # 100 beyond upper bound
    assert got[4][0] == pytest.approx(abs((vals[4] - hi) / iqr), abs=1e-9)
    # 3-point series still yields nothing (reference len<4 guard)
    tiny = spark.createDataFrame(
        [("m", i, float(i)) for i in range(3)],
        "metric_name string, ts int, value double")
    assert iqr_anomalies(tiny, ["metric_name"], order_col="ts", window=7).count() == 0


def test_cusum_matches_recursion_and_detects_drift(spark):
    """The window closed form (prefix sum minus running min) must equal the
    textbook CUSUM recursion point-for-point, and a sustained mean shift
    must cross the threshold even though each point is unremarkable."""
    import statistics

    vals = [10.0, 10.2, 9.9, 10.1, 9.8, 10.0, 10.1, 9.9] + [11.0] * 12
    rows = [(f"2024-01-{i+1:02d}", v) for i, v in enumerate(vals)]
    df = (spark.createDataFrame(rows, "ts string, value double")
          .withColumn("metric_name", F.lit("m")))
    res = {r["ts"]: r for r in
           cusum_anomalies(df, ["metric_name"], order_col="ts",
                           sensitivity=2.0).collect()}

    mean = statistics.fmean(vals)
    std = statistics.pstdev(vals)
    k = 0.5 * std
    sp = sn = 0.0
    for i, x in enumerate(vals):
        sp = max(0.0, sp + (x - mean - k))
        sn = max(0.0, sn + (mean - x - k))
        got = res[f"2024-01-{i+1:02d}"]
        assert abs(got["score"] - max(sp, sn) / std) < 1e-9
    # the drift accumulates past the 2.5-sigma threshold by the tail
    assert res["2024-01-20"]["is_anomaly"]
    # nothing has accumulated at the first point
    assert not res["2024-01-01"]["is_anomaly"]


_K = ["metric_name"]
_DETECTORS = {
    "zscore": lambda df: zscore_anomalies(df, _K),
    "zscore_rolling": lambda df: zscore_anomalies(df, _K, window=5),
    "iqr": lambda df: iqr_anomalies(df, _K),
    "iqr_rolling": lambda df: iqr_anomalies(df, _K, window=5),
    "moving_average": lambda df: moving_average_anomalies(df, _K, window=5),
    "cusum": lambda df: cusum_anomalies(df, _K),
    "mad": lambda df: mad_anomalies(df, _K),
    **{f"detect_{m}": (lambda df, m=m: detect_anomalies(
        df, _K, {"detection_method": m}))
       for m in ("zscore", "iqr", "moving_average", "cusum")},
}


def test_non_finite_values_score_like_null(spark):
    """NaN and ±Inf are left out of every statistic and never flagged: the
    finite points score exactly as with NULL in those slots. Spark orders
    NaN above every double, so an unguarded NaN made the mean and std NaN
    and flagged every point of its series as a "high" anomaly."""
    planted = {("nan", 3): float("nan"), ("nan", 11): float("nan"),
               ("inf", 9): float("inf"), ("ninf", 2): float("-inf")}

    def frame(non_finite):
        rows = []
        for k in ("nan", "inf", "ninf"):
            for i, v in enumerate(SERIES):
                if (k, i) in planted:
                    v = planted[(k, i)] if non_finite else None
                rows.append((k, i, v))
        return spark.createDataFrame(rows, "metric_name string, ts int, value double")

    bad, null = frame(True), frame(False)
    for name, detect in _DETECTORS.items():
        got = {(r["metric_name"], r["ts"]): (r["score"], r["is_anomaly"])
               for r in detect(bad).collect()}
        want = {(r["metric_name"], r["ts"]): (r["score"], r["is_anomaly"])
                for r in detect(null).collect()}
        assert set(got) == set(want), name
        for key, (score, flag) in want.items():
            if key in planted:
                assert not got[key][1], (name, key, got[key])
            else:
                assert got[key] == (score, flag), (name, key, got[key])


def test_iqr_scores_a_missing_value_as_null(spark):
    """A NULL (or NaN) value is not a measured point: IQR gives it a NULL
    score, as zscore, moving average and MAD do, not a score of 0.0 that
    reads as a normal point."""
    for missing in (None, float("nan")):
        for name, slot in (("iqr", 3), ("iqr_rolling", 7)):
            rows = [("m", i, missing if i == slot else v)
                    for i, v in enumerate(SERIES[:10])]
            df = spark.createDataFrame(
                rows, "metric_name string, ts int, value double")
            got = collect_scores(_DETECTORS[name](df))
            assert got[slot] == (None, None), (missing, name, got[slot])
            assert all(s is not None for ts, (s, _f) in got.items()
                       if ts != slot), (name, got)


def test_operators_take_braces_in_column_names(series_df):
    """The operators run their SQL text through ``spark.sql``, which
    ``str.format``s it: braces in a column name must reach Spark as written."""
    odd = series_df.toDF("k{0}", "t}", "v{x}")
    got = detect_anomalies(odd, ["k{0}"], order_col="t}", value_col="v{x}")
    want = detect_anomalies(series_df, ["metric_name"])
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]
    assert got.columns[:3] == ["k{0}", "t}", "value"]
