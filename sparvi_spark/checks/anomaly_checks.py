"""A1-A7 anomaly checks (SURVEY.md §2.C) paired with DuckDB oracles.

Metric series = daily sum(value) per event_type from the events table,
decimal-rounded so the series itself is bit-identical across engines
(float summation order cannot drift). Scores rounded to 4 decimals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparvi_spark.operators.anomalies import (
    detection_sql,
    format_anomalies,
    iqr_anomalies,
    iqr_sql,
    moving_average_sql,
    zscore_anomalies,
    zscore_sql,
)
from sparvi_spark.testdata import load_table

# Shared series builder (Spark + DuckDB CTE must stay in lockstep).

_SERIES_CACHE: dict[tuple[int, str], DataFrame] = {}


def metric_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    key = (id(spark._jsparkSession), sf_dir)
    cache_on = os.environ.get("SPARK_GRAFT_NO_CACHE") != "1"
    if cache_on and key in _SERIES_CACHE:
        return _SERIES_CACHE[key]
    ev = load_table(spark, "events", sf_dir)
    out = ev.groupBy(
        F.col("event_type").alias("metric_name"),
        F.date_trunc("day", F.col("ts")).alias("ts"),
    ).agg(
        F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
        .cast("double").alias("value")
    )
    if cache_on:
        # the series is tiny (metrics x days) and feeds every anomaly/trend
        # check plus both branches of the detection run — keep it resident,
        # mirroring load_table's hot-input policy
        out = out.persist()
        _SERIES_CACHE[key] = out
    return out


SERIES_CTE = (
    "WITH series AS (SELECT event_type AS metric_name, "
    "date_trunc('day', ts) AS ts, "
    "cast(round(sum(cast(value as decimal(18,2))), 2) as double) AS value "
    "FROM events GROUP BY 1, 2)"
)


# The graded slots render the detector builders of operators/anomalies.py
# (the same text the DataFrame operators run) over the memoized series
# view, nested into ONE spark.sql statement per slot: one py4j round trip
# and one analysis of the final plan instead of a chain of Dataset
# creations. The DuckDB oracles are written independently below.

_K = ["metric_name"]


def _series_view(spark: SparkSession, sf_dir: str) -> str:
    from sparvi_spark.checks import frame_view

    return frame_view(spark, sf_dir, "__a_series", metric_series)


def _finalize(df: DataFrame) -> DataFrame:
    return df.select(
        "metric_name",
        F.date_format("ts", "yyyy-MM-dd").alias("ts_day"),
        "value",
        F.round("score", 4).alias("score"),
        "is_anomaly",
        "threshold",
    )


def q_anomaly_scores_4way(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The a01 graded slot (4 detectors × one tagged union) rendered as
    ONE spark.sql statement over the memoized series view: the detector
    builders the operators run, one tagged select each. The standalone
    q_* checks remain the EXTRA/diagnostic surface."""
    src = _series_view(spark, sf_dir)
    parts = [
        ("zscore_global", zscore_sql(src, _K)),
        ("zscore_rolling", zscore_sql(src, _K, window=ROLL_W)),
        ("iqr_global", iqr_sql(src, _K)),
        ("iqr_rolling", iqr_sql(src, _K, window=ROLL_W)),
    ]
    sql = " UNION ALL ".join(
        f"SELECT '{tag}' as method, metric_name, "
        f"date_format(ts, 'yyyy-MM-dd') as ts_day, value, "
        f"round(score, 4) as score, is_anomaly, threshold FROM ({part})"
        for tag, part in parts)
    return spark.sql(sql)


# ---------------------------------------------------------------------------
# A1 global z-score (population stddev, std==0 -> score 0)
# ---------------------------------------------------------------------------

def q_zscore_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _finalize(zscore_anomalies(metric_series(spark, sf_dir), ["metric_name"]))


SQL_ZSCORE_GLOBAL = f"""
{SERIES_CTE},
stats AS (SELECT metric_name, ts, value,
  avg(value) OVER (PARTITION BY metric_name) AS m,
  stddev_pop(value) OVER (PARTITION BY metric_name) AS s,
  count(value) OVER (PARTITION BY metric_name) AS n
 FROM series)
SELECT metric_name, strftime(ts, '%Y-%m-%d') AS ts_day, value,
  round(case when s = 0 then 0.0 else abs((value - m)/s) end, 4) AS score,
  case when s = 0 then false else abs((value - m)/s) > 3.0 end AS is_anomaly,
  cast(3.0 as double) AS threshold
FROM stats WHERE n >= 2
""".strip()

# ---------------------------------------------------------------------------
# A2 rolling z-score (trailing window EXCLUDING current; emit only full windows)
# ---------------------------------------------------------------------------

ROLL_W = 7


def q_zscore_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _finalize(
        zscore_anomalies(metric_series(spark, sf_dir), ["metric_name"], window=ROLL_W)
    )


SQL_ZSCORE_ROLLING = f"""
{SERIES_CTE},
stats AS (SELECT metric_name, ts, value,
  row_number() OVER (PARTITION BY metric_name ORDER BY ts) AS rn,
  count(value) OVER (PARTITION BY metric_name) AS n,
  avg(value) OVER (PARTITION BY metric_name ORDER BY ts
                   ROWS BETWEEN {ROLL_W} PRECEDING AND 1 PRECEDING) AS rm,
  stddev_pop(value) OVER (PARTITION BY metric_name ORDER BY ts
                          ROWS BETWEEN {ROLL_W} PRECEDING AND 1 PRECEDING) AS rs,
  avg(value) OVER (PARTITION BY metric_name) AS gm,
  stddev_pop(value) OVER (PARTITION BY metric_name) AS gs
 FROM series),
sel AS (SELECT metric_name, ts, value,
  case when n <= {ROLL_W} then gm else rm end AS m,
  case when n <= {ROLL_W} then gs else rs end AS s
 FROM stats
 WHERE (n <= {ROLL_W} AND n >= 2) OR (n > {ROLL_W} AND rn > {ROLL_W}))
SELECT metric_name, strftime(ts, '%Y-%m-%d') AS ts_day, value,
  round(case when s = 0 then 0.0 else abs((value - m)/s) end, 4) AS score,
  case when s = 0 then false else abs((value - m)/s) > 3.0 end AS is_anomaly,
  cast(3.0 as double) AS threshold
FROM sel
""".strip()

# ---------------------------------------------------------------------------
# A3 global IQR (exact linear-interpolation percentiles; score past bound/iqr)
# ---------------------------------------------------------------------------

def q_iqr_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _finalize(iqr_anomalies(metric_series(spark, sf_dir), ["metric_name"]))


SQL_IQR_GLOBAL = f"""
{SERIES_CTE},
qs AS (SELECT metric_name, quantile_cont(value, 0.25) AS q1,
        quantile_cont(value, 0.75) AS q3, count(value) AS cnt
       FROM series GROUP BY metric_name),
j AS (SELECT s.metric_name, s.ts, s.value, q.q1, q.q3, q.q3 - q.q1 AS iqr,
        q.q1 - (q.q3 - q.q1) * 1.5 AS lower_b, q.q3 + (q.q3 - q.q1) * 1.5 AS upper_b
      FROM series s JOIN qs q ON s.metric_name = q.metric_name WHERE q.cnt >= 4)
SELECT metric_name, strftime(ts, '%Y-%m-%d') AS ts_day, value,
  round(case when value < lower_b then
          (case when iqr > 0 then abs((lower_b - value)/iqr)
                else cast('Infinity' as double) end)
        when value > upper_b then
          (case when iqr > 0 then abs((value - upper_b)/iqr)
                else cast('Infinity' as double) end)
        else 0.0 end, 4) AS score,
  (value < lower_b OR value > upper_b) AS is_anomaly,
  cast(1.5 as double) AS threshold
FROM j
""".strip()

# ---------------------------------------------------------------------------
# A4 moving average (std over the MAs; forward std window with tail fill)
# ---------------------------------------------------------------------------

MA_W = 7


def q_moving_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one-statement build (see q_anomaly_scores_4way)
    src = _series_view(spark, sf_dir)
    return spark.sql(
        f"SELECT metric_name, date_format(ts, 'yyyy-MM-dd') AS ts_day, "
        f"value, round(score, 4) AS score, is_anomaly, threshold "
        f"FROM ({moving_average_sql(src, _K, window=MA_W)})")


SQL_MOVING_AVERAGE = f"""
{SERIES_CTE},
base AS (SELECT metric_name, ts, value,
  row_number() OVER (PARTITION BY metric_name ORDER BY ts) AS rn,
  avg(value) OVER (PARTITION BY metric_name ORDER BY ts
                   ROWS BETWEEN {MA_W} PRECEDING AND 1 PRECEDING) AS ma
 FROM series),
mas AS (SELECT *, row_number() OVER (PARTITION BY metric_name ORDER BY ts) AS mi,
  count(*) OVER (PARTITION BY metric_name) AS n_ma,
  stddev_pop(ma) OVER (PARTITION BY metric_name ORDER BY ts
                       ROWS BETWEEN CURRENT ROW AND {MA_W - 1} FOLLOWING) AS fwd_std,
  stddev_pop(ma) OVER (PARTITION BY metric_name) AS global_std
 FROM base WHERE rn > {MA_W}),
wstd AS (SELECT *,
  max(case when mi = n_ma - {MA_W} + 1 then fwd_std end)
    OVER (PARTITION BY metric_name) AS tail_std FROM mas),
scored AS (SELECT *,
  case when n_ma < {MA_W} then global_std
       when mi <= n_ma - {MA_W} + 1 then fwd_std
       else tail_std end AS std FROM wstd)
SELECT metric_name, strftime(ts, '%Y-%m-%d') AS ts_day, value,
  round(case when std = 0 then 0.0 else abs((value - ma)/std) end, 4) AS score,
  case when std = 0 then false else abs((value - ma)/std) > 2.0 end AS is_anomaly,
  cast(2.0 as double) AS threshold
FROM scored
""".strip()

# ---------------------------------------------------------------------------
# A5/A6 severity + anomaly-only formatting (zscore @ sensitivity 2.0 so the
# clean synthetic series still yields anomalies to grade)
# ---------------------------------------------------------------------------

def q_severity(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = zscore_anomalies(metric_series(spark, sf_dir), ["metric_name"], sensitivity=2.0)
    out = format_anomalies(res, "zscore", ["metric_name"])
    return out.select(
        "metric_name",
        F.date_format("ts", "yyyy-MM-dd").alias("ts_day"),
        "value",
        F.round("score", 4).alias("score"),
        "threshold", "method", "severity",
    )


SQL_SEVERITY = f"""
{SERIES_CTE},
stats AS (SELECT metric_name, ts, value,
  avg(value) OVER (PARTITION BY metric_name) AS m,
  stddev_pop(value) OVER (PARTITION BY metric_name) AS s,
  count(value) OVER (PARTITION BY metric_name) AS n
 FROM series),
scored AS (SELECT metric_name, ts, value,
  case when s = 0 then 0.0 else abs((value - m)/s) end AS raw_score
 FROM stats WHERE n >= 2)
SELECT metric_name, strftime(ts, '%Y-%m-%d') AS ts_day, value,
  round(raw_score, 4) AS score, cast(1.5 as double) AS threshold,
  'zscore' AS method,
  case when raw_score > 5.0 then 'high' when raw_score > 3.5 then 'medium'
       else 'low' end AS severity
FROM scored WHERE raw_score > 1.5
""".strip()


# ---------------------------------------------------------------------------
# A3 rolling IQR (trailing-window exact percentiles, current point excluded —
# np.percentile linear interpolation == quantile_cont over the same frame)
# ---------------------------------------------------------------------------

def q_iqr_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _finalize(
        iqr_anomalies(metric_series(spark, sf_dir), ["metric_name"], window=ROLL_W)
    )


SQL_IQR_ROLLING = f"""
{SERIES_CTE},
base AS (SELECT metric_name, ts, value,
  row_number() OVER (PARTITION BY metric_name ORDER BY ts) AS rn,
  count(value) OVER (PARTITION BY metric_name) AS n,
  quantile_cont(value, 0.25) OVER (PARTITION BY metric_name ORDER BY ts
    ROWS BETWEEN {ROLL_W} PRECEDING AND 1 PRECEDING) AS rq1,
  quantile_cont(value, 0.75) OVER (PARTITION BY metric_name ORDER BY ts
    ROWS BETWEEN {ROLL_W} PRECEDING AND 1 PRECEDING) AS rq3,
  quantile_cont(value, 0.25) OVER (PARTITION BY metric_name) AS gq1,
  quantile_cont(value, 0.75) OVER (PARTITION BY metric_name) AS gq3
 FROM series),
sel AS (SELECT metric_name, ts, value,
  case when n <= {ROLL_W} then gq1 else rq1 end AS q1,
  case when n <= {ROLL_W} then gq3 else rq3 end AS q3
 FROM base
 WHERE (n <= {ROLL_W} AND n >= 4) OR (n > {ROLL_W} AND rn > {ROLL_W})),
j AS (SELECT metric_name, ts, value, q3 - q1 AS iqr,
        q1 - (q3 - q1) * 1.5 AS lower_b, q3 + (q3 - q1) * 1.5 AS upper_b
      FROM sel)
SELECT metric_name, strftime(ts, '%Y-%m-%d') AS ts_day, value,
  round(case when value < lower_b then
          (case when iqr > 0 then abs((lower_b - value)/iqr)
                else cast('Infinity' as double) end)
        when value > upper_b then
          (case when iqr > 0 then abs((value - upper_b)/iqr)
                else cast('Infinity' as double) end)
        else 0.0 end, 4) AS score,
  (value < lower_b OR value > upper_b) AS is_anomaly,
  cast(1.5 as double) AS threshold
FROM j
""".strip()

# ---------------------------------------------------------------------------
# A7 detection run: configs fan out as one unioned job (scheduler.py:30-91 —
# the reference threads per config; here each config is a branch of one DAG),
# anomalies-only output with method + severity (A6)
# ---------------------------------------------------------------------------

def q_detection_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-statement build of the a07 config fan-out: each config is the
    ``detection_sql`` text ``detect_anomalies`` runs (eligibility filter,
    detector, anomaly filter + severity), one branch of a UNION ALL."""
    src = _series_view(spark, sf_dir)
    configs = [
        ("cfg_z", {"detection_method": "zscore", "sensitivity": 2.0}),
        ("cfg_i", {"detection_method": "iqr", "sensitivity": 1.0}),
        ("cfg_c", {"detection_method": "cusum", "sensitivity": 2.0}),
    ]
    return spark.sql(" UNION ALL ".join(
        f"SELECT '{cid}' AS config_id, metric_name, "
        f"date_format(ts, 'yyyy-MM-dd') AS ts_day, value, "
        f"round(score, 4) AS score, method, severity "
        f"FROM ({detection_sql(src, _K, cfg)})" for cid, cfg in configs))


SQL_DETECTION_RUN = f"""
{SERIES_CTE},
zstats AS (SELECT metric_name, ts, value,
  avg(value) OVER (PARTITION BY metric_name) AS m,
  stddev_pop(value) OVER (PARTITION BY metric_name) AS s,
  count(value) OVER (PARTITION BY metric_name) AS n
 FROM series),
z AS (SELECT 'cfg_z' AS config_id, metric_name, ts, value,
  case when s = 0 then 0.0 else abs((value - m)/s) end AS score,
  'zscore' AS method FROM zstats WHERE n >= 7),
qs AS (SELECT metric_name, quantile_cont(value, 0.25) AS q1,
        quantile_cont(value, 0.75) AS q3, count(value) AS cnt
       FROM series GROUP BY metric_name),
ij AS (SELECT s.metric_name, s.ts, s.value, q.q3 - q.q1 AS iqr,
        q.q1 - (q.q3 - q.q1) * 1.5 AS lower_b, q.q3 + (q.q3 - q.q1) * 1.5 AS upper_b
      FROM series s JOIN qs q ON s.metric_name = q.metric_name
      WHERE q.cnt >= 7 AND q.cnt >= 4),
i AS (SELECT 'cfg_i' AS config_id, metric_name, ts, value,
  case when value < lower_b then
        (case when iqr > 0 then abs((lower_b - value)/iqr)
              else cast('Infinity' as double) end)
       when value > upper_b then
        (case when iqr > 0 then abs((value - upper_b)/iqr)
              else cast('Infinity' as double) end)
       else 0.0 end AS score,
  'iqr' AS method FROM ij WHERE value < lower_b OR value > upper_b),
cy AS (SELECT metric_name, ts, value, s,
  sum(value - m - 0.5*s) OVER (PARTITION BY metric_name ORDER BY ts
      ROWS UNBOUNDED PRECEDING) AS sp_raw,
  sum(m - value - 0.5*s) OVER (PARTITION BY metric_name ORDER BY ts
      ROWS UNBOUNDED PRECEDING) AS sn_raw
 FROM zstats WHERE n >= 7),
cs AS (SELECT metric_name, ts, value, s,
  sp_raw - least(0.0, min(sp_raw) OVER (PARTITION BY metric_name ORDER BY ts
      ROWS UNBOUNDED PRECEDING)) AS spv,
  sn_raw - least(0.0, min(sn_raw) OVER (PARTITION BY metric_name ORDER BY ts
      ROWS UNBOUNDED PRECEDING)) AS snv
 FROM cy),
c AS (SELECT 'cfg_c' AS config_id, metric_name, ts, value,
  case when s = 0 then 0.0 else greatest(spv, snv) / s end AS score,
  'cusum' AS method FROM cs
 WHERE (case when s = 0 then 0.0 else greatest(spv, snv) / s end) > 2.5),
unioned AS (SELECT * FROM z WHERE score > 1.5 UNION ALL SELECT * FROM i
            UNION ALL SELECT * FROM c)
SELECT config_id, metric_name, strftime(ts, '%Y-%m-%d') AS ts_day, value,
  round(score, 4) AS score, method,
  case when method = 'zscore' then
        (case when score > 5.0 then 'high' when score > 3.5 then 'medium'
              else 'low' end)
       when method = 'cusum' then
        (case when score > 5.0 then 'high' when score > 2.5 then 'medium'
              else 'low' end)
       else
        (case when score > 3.0 then 'high' when score > 1.5 then 'medium'
              else 'low' end) end AS severity
FROM unioned
""".strip()


from sparvi_spark.checks import union_check  # noqa: E402

CHECKS = {
    # zscore+iqr (global+rolling each) share ONE recorded slot since r6:
    # merged_checks.a01_anomaly_scores (driver caps recorded checks at 50;
    # the freed slot grades a round-5 LLM-pipeline family). A5 severity +
    # A6 formatting are graded inside a07 (its output IS the severity-
    # mapped anomalies-only document); standalone pairs stay in
    # EXTRA_CHECKS for local runs.
    "a04_moving_average": (q_moving_average, SQL_MOVING_AVERAGE),
    "a07_detection_run": (q_detection_run, SQL_DETECTION_RUN),
}

def q_cusum_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CUSUM score series (not just anomalies) vs the oracle's
    prefix-sum/running-min windows — pins the closed form per point."""
    from sparvi_spark.operators.anomalies import cusum_anomalies

    res = cusum_anomalies(metric_series(spark, sf_dir), ["metric_name"])
    return _finalize(res)


SQL_CUSUM_SCORES = f"""
{SERIES_CTE},
stats AS (SELECT metric_name, ts, value,
  avg(value) OVER (PARTITION BY metric_name) AS m,
  stddev_pop(value) OVER (PARTITION BY metric_name) AS s,
  count(value) OVER (PARTITION BY metric_name) AS n
 FROM series),
cy AS (SELECT metric_name, ts, value, s,
  sum(value - m - 0.5*s) OVER (PARTITION BY metric_name ORDER BY ts
      ROWS UNBOUNDED PRECEDING) AS sp_raw,
  sum(m - value - 0.5*s) OVER (PARTITION BY metric_name ORDER BY ts
      ROWS UNBOUNDED PRECEDING) AS sn_raw
 FROM stats WHERE n >= 2),
cs AS (SELECT metric_name, ts, value, s,
  sp_raw - least(0.0, min(sp_raw) OVER (PARTITION BY metric_name ORDER BY ts
      ROWS UNBOUNDED PRECEDING)) AS spv,
  sn_raw - least(0.0, min(sn_raw) OVER (PARTITION BY metric_name ORDER BY ts
      ROWS UNBOUNDED PRECEDING)) AS snv
 FROM cy)
SELECT metric_name, strftime(ts, '%Y-%m-%d') AS ts_day, value,
  round(case when s = 0 then 0.0 else greatest(spv, snv) / s end, 4) AS score,
  (case when s = 0 then 0.0 else greatest(spv, snv) / s end) > 5.0 AS is_anomaly,
  cast(5.0 as double) AS threshold
FROM cs
""".strip()


# ---------------------------------------------------------------------------
# a09 robust median/MAD modified z-score (EXTRA) — transcendental-free,
# so scores replay bit-for-bit via DuckDB quantile_cont
# ---------------------------------------------------------------------------

def q_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparvi_spark.operators.anomalies import mad_anomalies

    return _finalize(mad_anomalies(metric_series(spark, sf_dir),
                                   ["metric_name"]))


SQL_MAD = f"""
{SERIES_CTE},
med AS (SELECT metric_name, ts, value,
  quantile_cont(value, 0.5) OVER (PARTITION BY metric_name) AS med,
  count(value) OVER (PARTITION BY metric_name) AS n
 FROM series),
md AS (SELECT metric_name, ts, value, med,
  quantile_cont(abs(value - med), 0.5)
    OVER (PARTITION BY metric_name) AS mad
 FROM med WHERE n >= 4)
SELECT metric_name, strftime(ts, '%Y-%m-%d') AS ts_day, value,
  round(case when mad = 0 then 0.0 else
    abs(value - med) / (cast(1.4826022185056018 as double) * mad) end, 4)
    AS score,
  case when mad = 0 then false else
    abs(value - med) / (cast(1.4826022185056018 as double) * mad) > 3.5 end
    AS is_anomaly,
  cast(3.5 as double) AS threshold
FROM md
""".strip()


# not registered (cap): kept for scripts/check_oracle.py local verification
EXTRA_CHECKS = {
    "a01_zscore": union_check([
        ("global", q_zscore_global, SQL_ZSCORE_GLOBAL),
        ("rolling", q_zscore_rolling, SQL_ZSCORE_ROLLING),
    ]),
    "a03_iqr": union_check([
        ("global", q_iqr_global, SQL_IQR_GLOBAL),
        ("rolling", q_iqr_rolling, SQL_IQR_ROLLING),
    ]),
    "a05_severity": (q_severity, SQL_SEVERITY),
    "a08_cusum_scores": (q_cusum_scores, SQL_CUSUM_SCORES),
    "a09_mad_scores": (q_mad, SQL_MAD),
}
