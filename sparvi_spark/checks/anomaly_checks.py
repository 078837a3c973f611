"""A1-A7 anomaly checks (SURVEY.md §2.C) paired with DuckDB oracles.

Metric series = daily sum(value) per event_type from the events table,
decimal-rounded so the series itself is bit-identical across engines
(float summation order cannot drift). Scores rounded to 4 decimals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparvi_spark.operators.anomalies import (
    format_anomalies,
    iqr_anomalies,
    zscore_anomalies,
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


# ---------------------------------------------------------------------------
# One-statement Spark-SQL texts for the graded anomaly slots (r12).
#
# The detector DataFrame builders in operators/anomalies.py are selectExpr
# chains; under the concurrent suite every chained Dataset creation is a
# py4j round trip plus an eager re-analysis of the whole plan so far, all
# GIL-serialized (SCALING.md r11-late: the suite wall is plan construction,
# not execution). The texts below are the SAME expression strings those
# builders emit — composed with the operators' own ``_d``/``_interp_sorted``
# helpers, nested SELECTs mirroring each selectExpr/where stage — rendered
# into ONE spark.sql call per slot. The analyzed plan (and every value) is
# identical; scripts/snapshot_checks.py pins bit-for-bit equality across
# all three SFs, and the DuckDB oracles are unchanged.
# ---------------------------------------------------------------------------

from sparvi_spark.operators.anomalies import (  # noqa: E402
    _INF,
    _d,
    _interp_sorted,
    CUSUM_BASE_THRESHOLD,
    IQR_BASE_THRESHOLD,
    MA_BASE_THRESHOLD,
    ZSCORE_BASE_THRESHOLD,
)

_WG = "(PARTITION BY `metric_name`)"
_WO = "(PARTITION BY `metric_name` ORDER BY `ts`)"


def _wf(window: int) -> str:
    return (f"(PARTITION BY `metric_name` ORDER BY `ts` "
            f"ROWS BETWEEN {window} PRECEDING AND 1 PRECEDING)")


def _zscore_sql(src: str, sensitivity: float = 1.0,
                window: int | None = None) -> str:
    threshold = ZSCORE_BASE_THRESHOLD / sensitivity
    v = "`value`"
    if window is None:
        mean = f"avg({v}) OVER {_WG}"
        std = f"stddev_pop({v}) OVER {_WG}"
        score = (f"case when {std} = {_d(0)} then {_d(0)} "
                 f"else abs(({v} - ({mean})) / ({std})) end")
        return (f"SELECT * FROM (SELECT *, {score} AS score, "
                f"{score} > {_d(threshold)} AS is_anomaly, "
                f"{_d(threshold)} AS threshold, "
                f"count({v}) OVER {_WG} AS __cnt FROM {src}) "
                f"WHERE __cnt >= 2")
    wf = _wf(window)
    mean = (f"case when count({v}) OVER {_WG} <= {window} "
            f"then avg({v}) OVER {_WG} else avg({v}) OVER {wf} end")
    std = (f"case when count({v}) OVER {_WG} <= {window} "
           f"then stddev_pop({v}) OVER {_WG} "
           f"else stddev_pop({v}) OVER {wf} end")
    score = (f"case when ({std}) = {_d(0)} then {_d(0)} "
             f"else abs(({v} - ({mean})) / ({std})) end")
    return (f"SELECT * FROM (SELECT *, {score} AS score, "
            f"{score} > {_d(threshold)} AS is_anomaly, "
            f"{_d(threshold)} AS threshold, "
            f"row_number() OVER {_WO} AS __rn, "
            f"count({v}) OVER {_WG} AS __npts FROM {src}) "
            f"WHERE (__npts <= {window} and __npts >= 2) "
            f"or (__npts > {window} and __rn > {window})")


def _iqr_sql(src: str, sensitivity: float = 1.0,
             window: int | None = None) -> str:
    threshold = IQR_BASE_THRESHOLD / sensitivity
    v = "`value`"
    if window is None:
        inner = (f"SELECT * FROM (SELECT *, "
                 f"percentile({v}, {_d(0.25)}) OVER {_WG} AS __q1, "
                 f"percentile({v}, {_d(0.75)}) OVER {_WG} AS __q3, "
                 f"count({v}) OVER {_WG} AS __cnt FROM {src}) "
                 f"WHERE __cnt >= 4")
    else:
        wf = _wf(window)
        arr = f"sort_array(collect_list({v}) OVER {wf})"
        inner = (
            f"SELECT * FROM (SELECT *, "
            f"row_number() OVER {_WO} AS __rn, "
            f"count({v}) OVER {_WG} AS __npts, "
            f"case when count({v}) OVER {_WG} <= {window} "
            f"then percentile({v}, 0.25) OVER {_WG} "
            f"else {_interp_sorted(arr, 0.25)} end AS __q1, "
            f"case when count({v}) OVER {_WG} <= {window} "
            f"then percentile({v}, 0.75) OVER {_WG} "
            f"else {_interp_sorted(arr, 0.75)} end AS __q3 FROM {src}) "
            f"WHERE (__npts <= {window} and __npts >= 4) "
            f"or (__npts > {window} and __rn > {window})")
    iqr = "(__q3 - __q1)"
    lower = f"(__q1 - {iqr} * {_d(threshold)})"
    upper = f"(__q3 + {iqr} * {_d(threshold)})"
    past_low = (f"case when {iqr} > {_d(0)} "
                f"then abs(({lower} - {v}) / {iqr}) else {_INF} end")
    past_high = (f"case when {iqr} > {_d(0)} "
                 f"then abs(({v} - {upper}) / {iqr}) else {_INF} end")
    score = (f"case when {v} < {lower} then {past_low} "
             f"when {v} > {upper} then {past_high} else {_d(0)} end")
    return (f"SELECT *, {score} AS score, "
            f"({v} < {lower}) or ({v} > {upper}) AS is_anomaly, "
            f"{_d(threshold)} AS threshold FROM ({inner})")


def _ma_sql(src: str, sensitivity: float = 1.0, window: int = 7,
            std_window: int | None = None) -> str:
    sw = std_window or window
    threshold = MA_BASE_THRESHOLD / sensitivity
    v = "`value`"
    wfwd = (f"(PARTITION BY `metric_name` ORDER BY `ts` "
            f"ROWS BETWEEN CURRENT ROW AND {sw - 1} FOLLOWING)")
    base1 = (f"SELECT * FROM (SELECT *, row_number() OVER {_WO} AS __rn, "
             f"avg({v}) OVER {_wf(window)} AS __ma FROM {src}) "
             f"WHERE __rn > {window}")
    base2 = (f"SELECT *, count(1) OVER {_WG} AS __n_ma, "
             f"row_number() OVER {_WO} AS __mi, "
             f"stddev_pop(__ma) OVER {wfwd} AS __fwd_std, "
             f"stddev_pop(__ma) OVER {_WG} AS __global_std FROM ({base1})")
    tail_std = (f"max(case when __mi = __n_ma - {sw} + 1 "
                f"then __fwd_std end) OVER {_WG}")
    std = (f"case when __n_ma < {sw} then __global_std "
           f"when __mi <= __n_ma - {sw} + 1 then __fwd_std "
           f"else {tail_std} end")
    base3 = f"SELECT *, {std} AS __std FROM ({base2})"
    score = (f"case when __std = {_d(0)} then {_d(0)} "
             f"else abs(({v} - __ma) / __std) end")
    return (f"SELECT *, {score} AS score, "
            f"case when __std = {_d(0)} then false "
            f"else {score} > {_d(threshold)} end AS is_anomaly, "
            f"{_d(threshold)} AS threshold, __ma AS moving_avg "
            f"FROM ({base3})")


def _cusum_sql(src: str, sensitivity: float = 1.0,
               slack: float = 0.5) -> str:
    threshold = CUSUM_BASE_THRESHOLD / sensitivity
    v = "`value`"
    run = (f"(PARTITION BY `metric_name` ORDER BY `ts` "
           f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")
    l1 = (f"SELECT * FROM (SELECT *, avg({v}) OVER {_WG} AS __mean, "
          f"stddev_pop({v}) OVER {_WG} AS __std, "
          f"count({v}) OVER {_WG} AS __cnt "
          f"FROM (SELECT * FROM {src} WHERE {v} is not null)) "
          f"WHERE __cnt >= 2")
    k = f"{_d(slack)} * __std"
    l2 = (f"SELECT *, sum({v} - __mean - {k}) OVER {run} AS __psum, "
          f"sum(__mean - {v} - {k}) OVER {run} AS __nsum FROM ({l1})")
    l3 = (f"SELECT *, "
          f"__psum - least({_d(0)}, min(__psum) OVER {run}) AS __sp, "
          f"__nsum - least({_d(0)}, min(__nsum) OVER {run}) AS __sn "
          f"FROM ({l2})")
    score = (f"case when __std = {_d(0)} then {_d(0)} "
             f"else greatest(__sp, __sn) / __std end")
    return (f"SELECT *, {score} AS score, "
            f"{score} > {_d(threshold)} AS is_anomaly, "
            f"{_d(threshold)} AS threshold FROM ({l3})")


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
    ONE spark.sql statement over the memoized series view (r12): the r11
    hand-fused builder still paid ~16 Dataset creations (4 detector
    chains + 4 tag selects + 3 unions), each a py4j round trip plus an
    eager re-analysis — one SQL text is a single round trip and one
    analysis of the final plan. Expression text comes from the same
    ``_d``-composed strings the operator builders emit, so every value
    is bit-identical (snapshot-pinned); the standalone q_* checks remain
    the EXTRA/diagnostic surface."""
    src = _series_view(spark, sf_dir)
    parts = [
        ("zscore_global", _zscore_sql(src)),
        ("zscore_rolling", _zscore_sql(src, window=ROLL_W)),
        ("iqr_global", _iqr_sql(src)),
        ("iqr_rolling", _iqr_sql(src, window=ROLL_W)),
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
    # one-statement build (see q_anomaly_scores_4way): same text as
    # _finalize(moving_average_anomalies(series)), one analysis pass
    src = _series_view(spark, sf_dir)
    return spark.sql(
        f"SELECT metric_name, date_format(ts, 'yyyy-MM-dd') AS ts_day, "
        f"value, round(score, 4) AS score, is_anomaly, threshold "
        f"FROM ({_ma_sql(src, window=MA_W)})")


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
    """One-statement build of the a07 config fan-out (r12; see
    q_anomaly_scores_4way). Each config nests exactly the stages
    detect_anomalies composes — eligibility count filter, detector,
    format_anomalies' anomaly filter + severity — as SQL text; the
    detector texts are the shared ``_*_sql`` builders above."""
    from sparvi_spark.operators.anomalies import _SEVERITY_CUTS

    src = _series_view(spark, sf_dir)
    eligible = (f"(SELECT * FROM (SELECT *, "
                f"count(`value`) OVER {_WG} AS __npts0 FROM {src}) "
                f"WHERE __npts0 >= 7)")
    configs = [
        ("cfg_z", "zscore", _zscore_sql(eligible, sensitivity=2.0)),
        ("cfg_i", "iqr", _iqr_sql(eligible, sensitivity=1.0)),
        ("cfg_c", "cusum", _cusum_sql(eligible, sensitivity=2.0)),
    ]
    stmts = []
    for cid, method, det in configs:
        hi, med = _SEVERITY_CUTS.get(method, (5.0, 2.5))
        sev = (f"case when score > {_d(hi)} then 'high' "
               f"when score > {_d(med)} then 'medium' else 'low' end")
        stmts.append(
            f"SELECT '{cid}' AS config_id, metric_name, "
            f"date_format(ts, 'yyyy-MM-dd') AS ts_day, value, "
            f"round(score, 4) AS score, '{method}' AS method, "
            f"{sev} AS severity FROM ({det}) WHERE is_anomaly")
    return spark.sql(" UNION ALL ".join(stmts))


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
