"""T1-T14 trend/rollup checks (SURVEY.md §2.E) paired with DuckDB oracles.

State-table inputs are emulated deterministically from the events table:
each event acts as a validation result (rule = user_id, outcome = event_type
!= 'error'), and the anomaly metric series doubles as historical metrics.

The compositions the graded t02/t03/p14/x13 slots melt (daily rollup,
health summary, dashboard, anomaly summary, metric history, retention)
are written once, as SQL text over the events and series views
(``daily_rollup_sql`` ...), from the builders of operators/trends.py.
The standalone EXTRA checks here and the slot parts in merged_checks.py
render the same text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparvi_spark.checks import table_views
from sparvi_spark.checks.anomaly_checks import (
    SERIES_CTE,
    _series_view,
    metric_series,
)
from sparvi_spark.operators.anomalies import format_sql, zscore_sql
from sparvi_spark.operators.trends import (
    anomaly_daily_trend,
    anomaly_daily_trend_sql,
    anomaly_summary_sql,
    anomaly_top_tables,
    anomaly_top_tables_sql,
    change_frequency,
    change_frequency_sql,
    fetch_metric_history_sql,
    high_impact_objects,
    retain_latest_sql,
    spine_sql,
)
from sparvi_spark.testdata import load_table

SPINE_START, SPINE_END = "2024-01-01", "2024-01-30"

RESULTS_CTE = (
    "results AS (SELECT user_id AS rule_id, event_id, ts AS run_at, "
    "cast(ts as date) AS day, event_type <> 'error' AS is_valid FROM events)"
)


def _events(spark: SparkSession, sf_dir: str) -> str:
    return table_views(spark, sf_dir, ["events"])["events"]


def _results_sql(events: str, valid: str = "event_type != 'error'",
                 grp: bool = False) -> str:
    """Each event as a validation result (rule = user_id), optionally
    grouped by event_type as ``grp``."""
    return (f"(SELECT {'event_type AS grp, ' if grp else ''}user_id AS "
            f"rule_id, event_id, ts AS run_at, ({valid}) AS is_valid "
            f"FROM {events})")


def _score(passed: str, failed: str) -> str:
    return f"round({passed} * cast(100 as double) / ({passed} + {failed}), 2)"


# ---------------------------------------------------------------------------
# T2 metric trends pivot
# ---------------------------------------------------------------------------

def q_metric_trends(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = metric_series(spark, sf_dir)
    return s.groupBy("metric_name").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.expr("min_by(value, ts)").alias("first_value"),
        F.expr("max_by(value, ts)").alias("current_value"),
        F.round(F.expr("max_by(value, ts) - min_by(value, ts)"), 2).alias("absolute_change"),
        F.expr(
            "case when min_by(value, ts) <> 0 then "
            "round((max_by(value, ts) - min_by(value, ts)) * cast(100 as double) "
            "/ min_by(value, ts), 4) end"
        ).alias("percent_change"),
    )


SQL_METRIC_TRENDS = f"""
{SERIES_CTE}
SELECT metric_name, count(*) AS n_points, min(value) AS min_value,
  max(value) AS max_value, min_by(value, ts) AS first_value,
  max_by(value, ts) AS current_value,
  round(max_by(value, ts) - min_by(value, ts), 2) AS absolute_change,
  case when min_by(value, ts) <> 0 then
    round((max_by(value, ts) - min_by(value, ts)) * cast(100 as double)
          / min_by(value, ts), 4) end AS percent_change
FROM series GROUP BY metric_name
""".strip()

# ---------------------------------------------------------------------------
# T3 validation daily rollup (latest-per-rule-per-day + date spine densify)
# ---------------------------------------------------------------------------

def daily_rollup_sql(events: str) -> str:
    latest = retain_latest_sql(
        f"(SELECT *, to_date(run_at) AS day FROM {_results_sql(events)})",
        ["rule_id", "day"], "run_at", 1, ["event_id"])
    per_day = (f"SELECT day, count(case when is_valid then 1 end) AS passed, "
               f"count(case when not is_valid then 1 end) AS failed, "
               f"count(1) AS seen FROM ({latest}) GROUP BY day")
    return (
        f"SELECT date_format(spine.day, 'yyyy-MM-dd') AS day, "
        f"coalesce(passed, 0) AS passed, coalesce(failed, 0) AS failed, "
        f"coalesce(seen, 0) AS seen, "
        f"case when coalesce(passed, 0) + coalesce(failed, 0) > 0 then "
        f"{_score('passed', 'failed')} end AS health_score "
        f"FROM ({spine_sql(SPINE_START, SPINE_END)}) spine "
        f"LEFT JOIN ({per_day}) per_day ON spine.day = per_day.day")


def q_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(daily_rollup_sql(_events(spark, sf_dir)))


SQL_DAILY_ROLLUP = f"""
WITH {RESULTS_CTE},
latest AS (SELECT * FROM results
  QUALIFY row_number() OVER (PARTITION BY rule_id, day
                             ORDER BY run_at DESC, event_id DESC) = 1),
per_day AS (SELECT day, count(case when is_valid then 1 end) AS passed,
  count(case when not is_valid then 1 end) AS failed, count(*) AS seen
 FROM latest GROUP BY day),
spine AS (SELECT unnest(generate_series(DATE '{SPINE_START}',
  DATE '{SPINE_END}', INTERVAL 1 DAY))::DATE AS day)
SELECT strftime(spine.day, '%Y-%m-%d') AS day,
  coalesce(passed, 0) AS passed, coalesce(failed, 0) AS failed,
  coalesce(seen, 0) AS seen,
  case when coalesce(passed, 0) + coalesce(failed, 0) > 0 then
    round(passed * cast(100 as double) / (passed + failed), 2) end AS health_score
FROM spine LEFT JOIN per_day ON spine.day = per_day.day
""".strip()

# ---------------------------------------------------------------------------
# T4 current health score (latest per rule)
# ---------------------------------------------------------------------------

def q_current_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    latest = retain_latest_sql(_results_sql(_events(spark, sf_dir)),
                               ["rule_id"], "run_at", 1, ["event_id"])
    return spark.sql(
        f"SELECT passed, failed, case when (passed + failed) > 0 then "
        f"{_score('passed', 'failed')} end AS health_score FROM (SELECT "
        f"count(case when is_valid then 1 end) AS passed, "
        f"count(case when not is_valid then 1 end) AS failed "
        f"FROM ({latest}))")


SQL_CURRENT_HEALTH = f"""
WITH {RESULTS_CTE},
latest AS (SELECT * FROM results
  QUALIFY row_number() OVER (PARTITION BY rule_id
                             ORDER BY run_at DESC, event_id DESC) = 1),
agg AS (SELECT count(case when is_valid then 1 end) AS passed,
  count(case when not is_valid then 1 end) AS failed FROM latest)
SELECT passed, failed,
  case when passed + failed > 0 then
    round(passed * cast(100 as double) / (passed + failed), 2) end AS health_score
FROM agg
""".strip()

# ---------------------------------------------------------------------------
# T5 per-group validation summary
# ---------------------------------------------------------------------------

SQL_GROUP_SUMMARY = """
WITH res AS (SELECT event_type AS grp, user_id AS rule_id, event_id,
  ts AS run_at, value > 100 AS is_valid FROM events),
latest AS (SELECT * FROM res
  QUALIFY row_number() OVER (PARTITION BY grp, rule_id
                             ORDER BY run_at DESC, event_id DESC) = 1),
agg AS (SELECT grp, count(*) AS total_rules,
  count(case when is_valid then 1 end) AS passing,
  count(case when not is_valid then 1 end) AS failing,
  strftime(max(run_at), '%Y-%m-%d %H:%M:%S') AS last_run
 FROM latest GROUP BY grp)
SELECT grp, total_rules, passing, failing, last_run,
  case when passing + failing > 0 then
    round(passing * cast(100 as double) / (passing + failing), 2) end AS health_score
FROM agg
""".strip()

# ---------------------------------------------------------------------------
# T6 dashboard daily metrics (decimal-exact mean)
# ---------------------------------------------------------------------------

SQL_DASHBOARD_DAILY = """
SELECT strftime(cast(ts as date), '%Y-%m-%d') AS day,
  round(cast(sum(cast(value as decimal(18,2))) as double) / count(value), 4)
    AS avg_value,
  count(distinct user_id) AS n_entities, count(*) AS n_rows
FROM events GROUP BY 1
""".strip()

# ---------------------------------------------------------------------------
# T7 anomaly summary + top tables (from zscore anomalies @ sensitivity 2)
# ---------------------------------------------------------------------------

def anomalies_sql(series: str) -> str:
    """zscore @ sensitivity 2 over the series view, formatted."""
    det = zscore_sql(series, ["metric_name"], sensitivity=2.0)
    return format_sql(f"({det})", "zscore", ["metric_name"])


def _anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(anomalies_sql(_series_view(spark, sf_dir)))


_ANOM_CTE = f"""
{SERIES_CTE},
stats AS (SELECT metric_name, ts, value,
  avg(value) OVER (PARTITION BY metric_name) AS m,
  stddev_pop(value) OVER (PARTITION BY metric_name) AS s,
  count(value) OVER (PARTITION BY metric_name) AS n FROM series),
anom AS (SELECT metric_name, ts, value,
  case when s = 0 then 0.0 else abs((value - m)/s) end AS score
 FROM stats WHERE n >= 2
   AND (case when s = 0 then 0.0 else abs((value - m)/s) end) > 1.5)
""".strip()


SQL_ANOMALY_SUMMARY = f"""
{_ANOM_CTE}
SELECT case when score > 5.0 then 'high' when score > 3.5 then 'medium'
  else 'low' end AS severity, count(*) AS cnt
FROM anom GROUP BY 1
""".strip()


def q_anomaly_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    an = _anomalies(spark, sf_dir)
    return anomaly_top_tables(an, "metric_name", k=3)


SQL_ANOMALY_TOP = f"""
{_ANOM_CTE}
SELECT metric_name, count(*) AS cnt FROM anom GROUP BY metric_name
QUALIFY row_number() OVER (ORDER BY count(*) DESC, metric_name ASC) <= 3
""".strip()

# ---------------------------------------------------------------------------
# T8 anomaly daily trend (spine + severity-filtered counts)
# ---------------------------------------------------------------------------

def q_anomaly_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    an = _anomalies(spark, sf_dir)
    out = anomaly_daily_trend(an, spark, SPINE_START, SPINE_END, ts_col="ts")
    return out.withColumn("day", F.date_format("day", "yyyy-MM-dd"))


SQL_ANOMALY_DAILY_TREND = f"""
{_ANOM_CTE},
sev AS (SELECT cast(ts as date) AS day,
  case when score > 5.0 then 'high' when score > 3.5 then 'medium'
       else 'low' end AS severity FROM anom),
daily AS (SELECT day, count(*) AS total,
  count(case when severity = 'high' then 1 end) AS high,
  count(case when severity = 'medium' then 1 end) AS medium,
  count(case when severity = 'low' then 1 end) AS low
 FROM sev GROUP BY day),
spine AS (SELECT unnest(generate_series(DATE '{SPINE_START}',
  DATE '{SPINE_END}', INTERVAL 1 DAY))::DATE AS day)
SELECT strftime(spine.day, '%Y-%m-%d') AS day, coalesce(total, 0) AS total,
  coalesce(high, 0) AS high, coalesce(medium, 0) AS medium,
  coalesce(low, 0) AS low
FROM spine LEFT JOIN daily ON spine.day = daily.day
""".strip()

# ---------------------------------------------------------------------------
# T9 change frequency + T10 high-impact objects (lag-gap windows)
# ---------------------------------------------------------------------------

def q_high_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    freq = change_frequency(
        ev.withColumn("changed", F.col("event_type") == "error"),
        ["user_id"], "ts", "changed",
    )
    return high_impact_objects(freq, ["user_id"], min_changes=5, k=10).select(
        "user_id", "total_checks", "changes", "change_ratio", "frequency",
    )


SQL_HIGH_IMPACT = """
WITH flagged AS (SELECT user_id, ts, event_type = 'error' AS changed FROM events),
totals AS (SELECT user_id, count(*) AS total_checks,
  count(case when changed then 1 end) AS changes FROM flagged GROUP BY user_id),
freq AS (SELECT user_id, total_checks, changes,
  round(changes * cast(1 as double) / total_checks, 4) AS change_ratio,
  case when round(changes * cast(1 as double) / total_checks, 4) >= 0.5
         then 'high'
       when round(changes * cast(1 as double) / total_checks, 4) >= 0.1
         then 'medium'
       else 'low' end AS frequency
 FROM totals WHERE changes >= 5)
SELECT user_id, total_checks, changes, change_ratio, frequency FROM freq
QUALIFY row_number() OVER (ORDER BY change_ratio DESC, user_id ASC) <= 10
""".strip()

# ---------------------------------------------------------------------------
# T14 retention (keep newest N per key)
# ---------------------------------------------------------------------------

def retention_sql(events: str) -> str:
    kept = retain_latest_sql(events, ["user_id"], "ts", 10, ["event_id"])
    return (f"SELECT user_id, count(1) AS kept, "
            f"sum(event_id) AS id_checksum FROM ({kept}) GROUP BY user_id")


def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(retention_sql(_events(spark, sf_dir)))


SQL_RETENTION = """
WITH kept AS (SELECT * FROM events
  QUALIFY row_number() OVER (PARTITION BY user_id
                             ORDER BY ts DESC, event_id DESC) <= 10)
SELECT user_id, count(*) AS kept, cast(sum(event_id) as bigint) AS id_checksum
FROM kept GROUP BY user_id
""".strip()


# ---------------------------------------------------------------------------
# T11 refresh-interval suggestion (change_analytics.py:179-271 heuristic over
# T9 output; current interval 24h; clamp [1, 168])
# ---------------------------------------------------------------------------

CURRENT_INTERVAL_H = 24.0


def q_refresh_suggestion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T11 alone: the suggestion columns of the t09 statement."""
    return q_change_analytics(spark, sf_dir).select(
        "event_type", "frequency", "suggested_interval_hours")


SQL_REFRESH_SUGGESTION = """
WITH flagged AS (SELECT event_type, ts, value > 100 AS changed FROM events),
gaps AS (SELECT event_type, ts,
  (epoch(ts) - epoch(lag(ts) OVER (PARTITION BY event_type ORDER BY ts)))
    / 3600.0 AS gap_h
 FROM flagged WHERE changed),
gap_stats AS (SELECT event_type, round(avg(gap_h), 4) AS avg_h
 FROM gaps GROUP BY event_type),
totals AS (SELECT event_type, count(*) AS total_checks,
  count(case when changed then 1 end) AS changes FROM flagged GROUP BY event_type),
freq AS (SELECT t.event_type,
  case when round(t.changes * cast(1 as double) / t.total_checks, 4) >= 0.5
         then 'high'
       when round(t.changes * cast(1 as double) / t.total_checks, 4) >= 0.1
         then 'medium'
       else 'low' end AS frequency,
  g.avg_h FROM totals t LEFT JOIN gap_stats g ON t.event_type = g.event_type)
SELECT event_type, frequency,
  round(greatest(1.0, least(168.0,
    case when frequency = 'high' then coalesce(avg_h / 3, 24.0 / 2)
         when frequency = 'low' then 24.0 * 2 else 24.0 end)), 4)
    AS suggested_interval_hours
FROM freq
""".strip()

# ---------------------------------------------------------------------------
# T6-adjacent: hypertable-style continuous aggregate — arbitrary-width
# epoch-aligned time buckets (6h) per event_type, decimal-exact sums
# ---------------------------------------------------------------------------

BUCKET_W = 6 * 3600


def q_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparvi_spark.functions import time_bucket

    ev = load_table(spark, "events", sf_dir)
    return (ev.groupBy(
        F.date_format(time_bucket("ts", BUCKET_W), "yyyy-MM-dd HH:mm:ss")
        .alias("bucket"),
        "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
             .cast("double").alias("sum_value")))


SQL_TIME_ROLLUP = f"""
SELECT strftime(to_timestamp(floor(epoch(ts) / {BUCKET_W}) * {BUCKET_W}),
                '%Y-%m-%d %H:%M:%S') AS bucket,
  event_type, count(*) AS n,
  cast(round(sum(cast(value as decimal(18,2))), 2) as double) AS sum_value
FROM events GROUP BY 1, 2
""".strip()

# ---------------------------------------------------------------------------
# T13 metric history fetch (filter + since + deterministic-order limit)
# ---------------------------------------------------------------------------

FETCH_SINCE = "2024-01-05 00:00:00"
FETCH_LIMIT = 200


def metric_history_sql(events: str) -> str:
    metrics = (f"(SELECT event_type AS metric_name, event_id, "
               f"value AS metric_value, ts FROM {events})")
    fetched = fetch_metric_history_sql(
        metrics, metric_name="click", since=FETCH_SINCE, limit=FETCH_LIMIT,
        ts_col="ts", tiebreak=("event_id",))
    return (f"SELECT metric_name, event_id, "
            f"round(metric_value, 4) AS metric_value, "
            f"date_format(ts, 'yyyy-MM-dd HH:mm:ss') AS ts_s "
            f"FROM ({fetched})")


def q_metric_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(metric_history_sql(_events(spark, sf_dir)))


SQL_METRIC_HISTORY = f"""
SELECT event_type AS metric_name, event_id,
  round(value, 4) AS metric_value,
  strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
FROM events
WHERE event_type = 'click' AND ts >= timestamp '{FETCH_SINCE}'
ORDER BY ts DESC, event_id DESC LIMIT {FETCH_LIMIT}
""".strip()


# ---------------------------------------------------------------------------
# Merged recorded checks (driver caps recorded checks at 50 —
# checks.__init__.DRIVER_CHECK_CAP). Each merge keeps both operators'
# semantics oracle-graded in one slot; the standalone pairs above remain
# importable for local runs and the engine API.
# ---------------------------------------------------------------------------

def health_summary_sql(events: str) -> str:
    """T4 current health (reshaped to T5's schema as grp='__overall__') +
    T5 per-group summary, unioned."""
    overall = retain_latest_sql(_results_sql(events), ["rule_id"], "run_at",
                                1, ["event_id"])
    per_grp = retain_latest_sql(_results_sql(events, "value > 100", True),
                                ["grp", "rule_id"], "run_at", 1, ["event_id"])
    aggs = ("count(1) AS total_rules, "
            "count(case when is_valid then 1 end) AS passing, "
            "count(case when not is_valid then 1 end) AS failing, "
            "date_format(max(run_at), 'yyyy-MM-dd HH:mm:ss') AS last_run")
    cols = (f"total_rules, passing, failing, last_run, "
            f"case when (passing + failing) > 0 then "
            f"{_score('passing', 'failing')} end AS health_score")
    return (f"SELECT '__overall__' AS grp, {cols} "
            f"FROM (SELECT {aggs} FROM ({overall})) UNION ALL "
            f"SELECT grp, {cols} "
            f"FROM (SELECT grp, {aggs} FROM ({per_grp}) GROUP BY grp)")


def q_health_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(health_summary_sql(_events(spark, sf_dir)))


SQL_HEALTH_SUMMARY = f"""
WITH {RESULTS_CTE},
latest AS (SELECT * FROM results
  QUALIFY row_number() OVER (PARTITION BY rule_id
                             ORDER BY run_at DESC, event_id DESC) = 1),
agg AS (SELECT count(*) AS total_rules,
  count(case when is_valid then 1 end) AS passing,
  count(case when not is_valid then 1 end) AS failing,
  strftime(max(run_at), '%Y-%m-%d %H:%M:%S') AS last_run FROM latest)
SELECT '__overall__' AS grp, total_rules, passing, failing, last_run,
  case when passing + failing > 0 then
    round(passing * cast(100 as double) / (passing + failing), 2) end
    AS health_score
FROM agg
UNION ALL
SELECT * FROM ({SQL_GROUP_SUMMARY}) gs
""".strip()


def dashboard_sql(events: str, series: str) -> str:
    """T8 anomaly daily trend (spine-densified) LEFT JOIN T6 dashboard
    dailies on day — the reference renders both on one dashboard."""
    trend = anomaly_daily_trend_sql(f"({anomalies_sql(series)})",
                                    SPINE_START, SPINE_END)
    dd = (f"SELECT date_format(to_date(ts), 'yyyy-MM-dd') AS day, "
          f"round(cast(sum(cast(value as decimal(18,2))) as double) "
          f"/ count(value), 4) AS avg_value, "
          f"count(distinct user_id) AS n_entities, count(1) AS n_rows "
          f"FROM {events} GROUP BY date_format(to_date(ts), 'yyyy-MM-dd')")
    return (f"SELECT day, total, high, medium, low, avg_value, n_entities, "
            f"n_rows FROM (SELECT date_format(day, 'yyyy-MM-dd') AS day, "
            f"total, high, medium, low FROM ({trend})) "
            f"LEFT JOIN ({dd}) USING (day)")


def q_dashboard_combined(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(dashboard_sql(_events(spark, sf_dir),
                                   _series_view(spark, sf_dir)))


SQL_DASHBOARD_COMBINED = (
    f"SELECT a.day, a.total, a.high, a.medium, a.low, "
    f"b.avg_value, b.n_entities, b.n_rows "
    f"FROM ({SQL_ANOMALY_DAILY_TREND}) a LEFT JOIN ({SQL_DASHBOARD_DAILY}) b "
    f"ON a.day = b.day"
)


def anomaly_summary_combined_sql(series: str) -> str:
    """T7 severity summary + top-K tables, both (key, cnt) shaped."""
    anom = f"({anomalies_sql(series)})"
    return (f"SELECT 'severity' AS section, severity AS key, cnt "
            f"FROM ({anomaly_summary_sql(anom)}) UNION ALL "
            f"SELECT 'top_metric' AS section, metric_name AS key, cnt "
            f"FROM ({anomaly_top_tables_sql(anom, 'metric_name', 3)})")


def q_anomaly_summary_combined(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(anomaly_summary_combined_sql(_series_view(spark, sf_dir)))


SQL_ANOMALY_SUMMARY_COMBINED = (
    f"SELECT 'severity' AS section, severity AS key, cnt "
    f"FROM ({SQL_ANOMALY_SUMMARY}) s "
    f"UNION ALL "
    f"SELECT 'top_metric' AS section, metric_name AS key, cnt "
    f"FROM ({SQL_ANOMALY_TOP}) t"
)


def q_change_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T9 change frequency + T11 refresh-interval suggestion — same grain
    (per event_type), one ``change_frequency_sql`` pass feeds both, in
    ONE spark.sql statement over the events view."""
    cur = f"{CURRENT_INTERVAL_H!r}d"
    flagged = (f"(SELECT event_type, ts, value > 100 AS changed "
               f"FROM {_events(spark, sf_dir)})")
    freq = change_frequency_sql(flagged, ["event_type"], "ts", "changed")
    raw = (f"case when frequency = 'high' then "
           f"coalesce(avg_hours_between_changes / 3, {cur} / 2) "
           f"when frequency = 'low' then {cur} * 2 else {cur} end")
    return spark.sql(
        f"SELECT event_type, total_checks, changes, change_ratio, "
        f"frequency, round(avg_hours_between_changes, 2) "
        f"AS avg_hours_between_changes, "
        f"date_format(last_change, 'yyyy-MM-dd HH:mm:ss') AS last_change, "
        f"round(greatest(1.0d, least(168.0d, {raw})), 4) "
        f"AS suggested_interval_hours FROM ({freq})")


SQL_CHANGE_ANALYTICS = """
WITH flagged AS (SELECT event_type, ts, value > 100 AS changed FROM events),
gaps AS (SELECT event_type, ts,
  (epoch(ts) - epoch(lag(ts) OVER (PARTITION BY event_type ORDER BY ts)))
    / 3600.0 AS gap_h
 FROM flagged WHERE changed),
gap_stats AS (SELECT event_type,
  round(avg(gap_h), 4) AS avg_raw, strftime(max(ts), '%Y-%m-%d %H:%M:%S')
    AS last_change FROM gaps GROUP BY event_type),
totals AS (SELECT event_type, count(*) AS total_checks,
  count(case when changed then 1 end) AS changes FROM flagged GROUP BY event_type),
freq AS (SELECT t.event_type, t.total_checks, t.changes,
  round(t.changes * cast(1 as double) / t.total_checks, 4) AS change_ratio,
  case when round(t.changes * cast(1 as double) / t.total_checks, 4) >= 0.5
         then 'high'
       when round(t.changes * cast(1 as double) / t.total_checks, 4) >= 0.1
         then 'medium'
       else 'low' end AS frequency,
  g.avg_raw, g.last_change
 FROM totals t LEFT JOIN gap_stats g ON t.event_type = g.event_type)
SELECT event_type, total_checks, changes, change_ratio, frequency,
  round(avg_raw, 2) AS avg_hours_between_changes, last_change,
  round(greatest(1.0, least(168.0,
    case when frequency = 'high' then coalesce(avg_raw / 3, 24.0 / 2)
         when frequency = 'low' then 24.0 * 2 else 24.0 end)), 4)
    AS suggested_interval_hours
FROM freq
""".strip()


CHECKS = {
    # T4 lives inside t03; T8 inside t05; T7-top inside t06; T11 inside t09.
    # Since r6: t02+t05 share merged_checks.t02_rollups, t03+t06 share
    # t03_summaries, t13 is melted into p14_misc_small, and t14 rides in
    # x13_id_checksums — the freed slots grade the round-5 LLM-pipeline
    # families; standalone shapes stay in EXTRA_CHECKS.
    "t01_metric_trends": (q_metric_trends, SQL_METRIC_TRENDS),
    "t09_change_frequency": (q_change_analytics, SQL_CHANGE_ANALYTICS),
    "t10_high_impact": (q_high_impact, SQL_HIGH_IMPACT),
    "t12_time_rollup": (q_time_rollup, SQL_TIME_ROLLUP),
}

USAGE_AS_OF = "2026-01-01 00:00:00"


def q_usage_patterns(spark, sf_dir):
    """P16 analogue over the events access log: per-user usage rollup
    (trends.usage_patterns; the engine applies the same operator to its
    engine_events log keyed by table_name)."""
    from sparvi_spark.operators.trends import usage_patterns
    from sparvi_spark.testdata import load_table

    ev = load_table(spark, "events", sf_dir)
    return usage_patterns(ev, entity_col="user_id", ts_col="ts",
                          type_col="event_type", as_of=USAGE_AS_OF)


SQL_USAGE_PATTERNS = """
SELECT user_id, count(*) AS access_count,
  min(ts) AS first_accessed, max(ts) AS last_accessed,
  count(DISTINCT event_type) AS n_access_types,
  round((epoch(timestamp '{as_of}') - epoch(max(ts))) / 3600.0, 2)
    AS hours_since_access
FROM events GROUP BY user_id
""".strip()


# not registered (cap): standalone shapes of ops folded into merged checks,
# kept for scripts/check_oracle.py local verification
EXTRA_CHECKS = {
    "t02_daily_rollup": (q_daily_rollup, SQL_DAILY_ROLLUP),
    "t03_health_summary": (q_health_summary, SQL_HEALTH_SUMMARY),
    "t05_dashboard_daily": (q_dashboard_combined, SQL_DASHBOARD_COMBINED),
    "t06_anomaly_summary": (q_anomaly_summary_combined,
                            SQL_ANOMALY_SUMMARY_COMBINED),
    "t13_metric_history": (q_metric_history, SQL_METRIC_HISTORY),
    "t14_retention": (q_retention, SQL_RETENTION),
    "t04_current_health": (q_current_health, SQL_CURRENT_HEALTH),
    "t07_anomaly_top": (q_anomaly_top, SQL_ANOMALY_TOP),
    "t08_anomaly_daily_trend": (q_anomaly_daily_trend, SQL_ANOMALY_DAILY_TREND),
    "t11_refresh_suggestion": (q_refresh_suggestion, SQL_REFRESH_SUGGESTION),
    "t15_usage_patterns": (q_usage_patterns,
                           SQL_USAGE_PATTERNS.format(as_of=USAGE_AS_OF)),
}
