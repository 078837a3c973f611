"""T1-T14 trend/rollup checks (SURVEY.md §2.E) paired with DuckDB oracles.

State-table inputs are emulated deterministically from the events table:
each event acts as a validation result (rule = user_id, outcome = event_type
!= 'error'), and the anomaly metric series doubles as historical metrics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparvi_spark.checks.anomaly_checks import SERIES_CTE, metric_series
from sparvi_spark.operators.anomalies import format_anomalies, zscore_anomalies
from sparvi_spark.operators.trends import (
    anomaly_daily_trend,
    anomaly_summary,
    anomaly_top_tables,
    change_frequency,
    date_spine,
    high_impact_objects,
    retain_latest,
)
from sparvi_spark.testdata import load_table

SPINE_START, SPINE_END = "2024-01-01", "2024-01-30"

RESULTS_CTE = (
    "results AS (SELECT user_id AS rule_id, event_id, ts AS run_at, "
    "cast(ts as date) AS day, event_type <> 'error' AS is_valid FROM events)"
)


def _results(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return ev.select(
        F.col("user_id").alias("rule_id"),
        F.col("event_id"),
        F.col("ts").alias("run_at"),
        (F.col("event_type") != "error").alias("is_valid"),
    )


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

def q_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = _results(spark, sf_dir)
    daily = retain_latest(
        res.withColumn("day", F.to_date("run_at")),
        ["rule_id", "day"], "run_at", 1, tiebreak=["event_id"],
    )
    per_day = daily.groupBy("day").agg(
        F.count(F.when(F.col("is_valid"), 1)).alias("passed"),
        F.count(F.when(~F.col("is_valid"), 1)).alias("failed"),
        F.count(F.lit(1)).alias("seen"),
    )
    spine = date_spine(spark, SPINE_START, SPINE_END)
    return (
        spine.join(per_day, "day", "left")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce("passed", F.lit(0)).alias("passed"),
            F.coalesce("failed", F.lit(0)).alias("failed"),
            F.coalesce("seen", F.lit(0)).alias("seen"),
            F.when(
                (F.coalesce(F.col("passed"), F.lit(0))
                 + F.coalesce(F.col("failed"), F.lit(0))) > 0,
                F.round(F.col("passed") * F.lit(100.0)
                        / (F.col("passed") + F.col("failed")), 2),
            ).alias("health_score"),
        )
    )


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
    res = _results(spark, sf_dir)
    latest = retain_latest(res, ["rule_id"], "run_at", 1, tiebreak=["event_id"])
    return latest.agg(
        F.count(F.when(F.col("is_valid"), 1)).alias("passed"),
        F.count(F.when(~F.col("is_valid"), 1)).alias("failed"),
    ).select(
        "passed", "failed",
        F.when((F.col("passed") + F.col("failed")) > 0,
               F.round(F.col("passed") * F.lit(100.0)
                       / (F.col("passed") + F.col("failed")), 2)).alias("health_score"),
    )


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

def q_group_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    res = ev.select(
        F.col("event_type").alias("grp"), F.col("user_id").alias("rule_id"),
        F.col("event_id"), F.col("ts").alias("run_at"),
        (F.col("value") > 100).alias("is_valid"),
    )
    latest = retain_latest(res, ["grp", "rule_id"], "run_at", 1,
                           tiebreak=["event_id"])
    return latest.groupBy("grp").agg(
        F.count(F.lit(1)).alias("total_rules"),
        F.count(F.when(F.col("is_valid"), 1)).alias("passing"),
        F.count(F.when(~F.col("is_valid"), 1)).alias("failing"),
        F.date_format(F.max("run_at"), "yyyy-MM-dd HH:mm:ss").alias("last_run"),
    ).withColumn(
        "health_score",
        F.when((F.col("passing") + F.col("failing")) > 0,
               F.round(F.col("passing") * F.lit(100.0)
                       / (F.col("passing") + F.col("failing")), 2)),
    )


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

def q_dashboard_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return ev.groupBy(F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day")).agg(
        F.round(
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
            / F.count("value"), 4
        ).alias("avg_value"),
        F.countDistinct("user_id").alias("n_entities"),
        F.count(F.lit(1)).alias("n_rows"),
    )


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

def _anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = zscore_anomalies(metric_series(spark, sf_dir), ["metric_name"], sensitivity=2.0)
    return format_anomalies(res, "zscore", ["metric_name"])


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


def q_anomaly_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    an = _anomalies(spark, sf_dir)
    return anomaly_summary(an)


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

def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    kept = retain_latest(ev, ["user_id"], "ts", 10, tiebreak=["event_id"])
    return kept.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("kept"),
        F.sum("event_id").alias("id_checksum"),
    )


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
    ev = load_table(spark, "events", sf_dir)
    freq = change_frequency(
        ev.withColumn("changed", F.col("value") > 100),
        ["event_type"], "ts", "changed",
    )
    cur = F.lit(CURRENT_INTERVAL_H)
    raw = (
        F.when(F.col("frequency") == "high",
               F.coalesce(F.col("avg_hours_between_changes") / 3, cur / 2))
        .when(F.col("frequency") == "low", cur * 2)
        .otherwise(cur)
    )
    return freq.select(
        "event_type", "frequency",
        F.round(F.greatest(F.lit(1.0), F.least(F.lit(168.0), raw)), 4)
        .alias("suggested_interval_hours"),
    )


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


def q_metric_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparvi_spark.operators.trends import fetch_metric_history

    ev = load_table(spark, "events", sf_dir)
    metrics = ev.select(
        F.col("event_type").alias("metric_name"),
        F.col("event_id"),
        F.col("value").alias("metric_value"),
        F.col("ts"),
    )
    out = fetch_metric_history(
        metrics, metric_name="click", since=FETCH_SINCE, limit=FETCH_LIMIT,
        ts_col="ts", tiebreak=("event_id",),
    )
    return out.select(
        "metric_name", "event_id",
        F.round("metric_value", 4).alias("metric_value"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
    )


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

def q_health_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 current health (reshaped to T5's schema as grp='__overall__') +
    T5 per-group summary, unioned."""
    res = _results(spark, sf_dir)
    latest = retain_latest(res, ["rule_id"], "run_at", 1, tiebreak=["event_id"])
    overall = latest.agg(
        F.count(F.lit(1)).alias("total_rules"),
        F.count(F.when(F.col("is_valid"), 1)).alias("passing"),
        F.count(F.when(~F.col("is_valid"), 1)).alias("failing"),
        F.date_format(F.max("run_at"), "yyyy-MM-dd HH:mm:ss").alias("last_run"),
    ).select(
        F.lit("__overall__").alias("grp"),
        "total_rules", "passing", "failing", "last_run",
        F.when((F.col("passing") + F.col("failing")) > 0,
               F.round(F.col("passing") * F.lit(100.0)
                       / (F.col("passing") + F.col("failing")), 2))
        .alias("health_score"),
    )
    return overall.unionAll(q_group_summary(spark, sf_dir))


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


def q_dashboard_combined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8 anomaly daily trend (spine-densified) LEFT JOIN T6 dashboard
    dailies on day — the reference renders both on one dashboard."""
    return q_anomaly_daily_trend(spark, sf_dir).join(
        q_dashboard_daily(spark, sf_dir), "day", "left")


SQL_DASHBOARD_COMBINED = (
    f"SELECT a.day, a.total, a.high, a.medium, a.low, "
    f"b.avg_value, b.n_entities, b.n_rows "
    f"FROM ({SQL_ANOMALY_DAILY_TREND}) a LEFT JOIN ({SQL_DASHBOARD_DAILY}) b "
    f"ON a.day = b.day"
)


def q_anomaly_summary_combined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 severity summary + top-K tables, both (key, cnt) shaped."""
    sev = q_anomaly_summary(spark, sf_dir).select(
        F.lit("severity").alias("section"), F.col("severity").alias("key"), "cnt")
    top = q_anomaly_top(spark, sf_dir).select(
        F.lit("top_metric").alias("section"), F.col("metric_name").alias("key"), "cnt")
    return sev.unionAll(top)


SQL_ANOMALY_SUMMARY_COMBINED = (
    f"SELECT 'severity' AS section, severity AS key, cnt "
    f"FROM ({SQL_ANOMALY_SUMMARY}) s "
    f"UNION ALL "
    f"SELECT 'top_metric' AS section, metric_name AS key, cnt "
    f"FROM ({SQL_ANOMALY_TOP}) t"
)


def q_change_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T9 change frequency + T11 refresh-interval suggestion — same grain
    (per event_type), one change_frequency pass feeds both.

    r12: ONE spark.sql statement (was ~30 chained Dataset creations via
    ``change_frequency`` + the select — each a py4j round trip + eager
    re-analysis, GIL-serialized under the suite pool; build 0.415s →
    one call). Expression text mirrors ``operators.trends.
    change_frequency`` stage for stage — double literals carry the
    ``d`` suffix so nothing re-types through DECIMAL — and the operator
    keeps the generic API. Output verified row-identical at 3 SFs."""
    from sparvi_spark.checks import table_views

    ev = table_views(spark, sf_dir, ["events"])["events"]
    cur = f"{CURRENT_INTERVAL_H!r}d"
    flagged = f"SELECT event_type, ts, value > 100 AS changed FROM {ev}"
    gaps = (f"SELECT event_type, (cast(cast(ts as timestamp) as double) "
            f"- cast(cast(lag(ts) OVER (PARTITION BY event_type "
            f"ORDER BY ts) as timestamp) as double)) / 3600.0d AS __gap_h, "
            f"ts FROM ({flagged}) WHERE changed")
    gap_stats = (f"SELECT event_type, round(avg(__gap_h), 4) "
                 f"AS avg_hours_between_changes, max(ts) AS last_change "
                 f"FROM ({gaps}) GROUP BY event_type")
    totals = (f"SELECT event_type, count(1) AS total_checks, "
              f"count(case when changed then 1 end) AS changes "
              f"FROM ({flagged}) GROUP BY event_type")
    freq = (f"SELECT *, case when change_ratio >= 0.5d then 'high' "
            f"when change_ratio >= 0.1d then 'medium' else 'low' end "
            f"AS frequency FROM (SELECT *, round(changes * cast(1 as "
            f"double) / total_checks, 4) AS change_ratio FROM ({totals}))")
    raw = (f"case when frequency = 'high' then "
           f"coalesce(avg_hours_between_changes / 3, {cur} / 2) "
           f"when frequency = 'low' then {cur} * 2 else {cur} end")
    return spark.sql(
        f"SELECT event_type, total_checks, changes, change_ratio, "
        f"frequency, round(avg_hours_between_changes, 2) "
        f"AS avg_hours_between_changes, "
        f"date_format(last_change, 'yyyy-MM-dd HH:mm:ss') AS last_change, "
        f"round(greatest(1.0d, least(168.0d, {raw})), 4) "
        f"AS suggested_interval_hours "
        f"FROM ({freq}) t LEFT JOIN ({gap_stats}) g USING (event_type)")


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
