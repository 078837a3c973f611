"""Trend / rollup / analytics operators T1-T14 (SURVEY.md §2.E), Spark-first.

These run over state tables (profiles, validation results, historical
metrics, schema changes). The reference does them in SQL-over-Postgres or
Python loops; here each is a declarative job: latest-per-key via
row_number windows (deterministic tiebreak — SURVEY §7.9), date spines via
``sequence`` + explode (broadcastable), daily groupBys with
count(case when ...) pivots.

One implementation, two callers: latest-N-per-key, the anomaly summaries
and daily trend, change frequency, high-impact objects and the metric
history fetch are each ONE SQL-text builder (``retain_latest_sql`` ...
``fetch_metric_history_sql``) over a relation ``src`` — a view name or a
parenthesized query. The DataFrame operators render that text over their
input; the graded trend checks call the same builders over their event
and series views. Identifiers go through ``functions.ident`` and
literals through ``functions.sql_str``, so any column name works.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from sparvi_spark.functions import ident, rel, render_sql, sql_str

# stands in for the input relation while an operator builds its text
_SRC = rel("src")


def _cols(names) -> str:
    return ", ".join(ident(c) for c in names)


def spine_sql(start: str, end: str) -> str:
    """Dense daily spine [start, end] as one ``day`` column (reference:
    generate_series, core/anomalies/api.py:590-594). Tiny — broadcast by
    the optimizer."""
    return (f"SELECT explode(sequence(date {sql_str(start)}, "
            f"date {sql_str(end)}, interval 1 day)) AS day")


def anomaly_summary_sql(src: str) -> str:
    """T7 (core/anomalies/api.py:356-488): anomaly counts by severity."""
    return f"SELECT severity, count(1) AS cnt FROM {src} GROUP BY severity"


def anomaly_summary(anomalies: DataFrame) -> DataFrame:
    """``anomaly_summary_sql`` over ``anomalies``. (Per-table grouping
    lives in ``anomaly_top_tables``; this function deliberately has no
    table parameter.)"""
    return render_sql(anomalies.sparkSession, anomaly_summary_sql(_SRC),
                      src=anomalies)


def anomaly_top_tables_sql(src: str, table_col: str = "metric_name",
                           k: int = 10) -> str:
    """T7 top-K tables by anomaly count (deterministic tiebreak)."""
    t = ident(table_col)
    counted = f"SELECT {t}, count(1) AS cnt FROM {src} GROUP BY {t}"
    return (f"SELECT {t}, cnt FROM (SELECT *, row_number() OVER ("
            f"ORDER BY cnt DESC, {t} ASC) AS __rn FROM ({counted})) "
            f"WHERE __rn <= {int(k)}")


def anomaly_top_tables(
    anomalies: DataFrame, table_col: str = "metric_name", k: int = 10
) -> DataFrame:
    """``anomaly_top_tables_sql`` over ``anomalies``."""
    return render_sql(anomalies.sparkSession,
                      anomaly_top_tables_sql(_SRC, table_col, k),
                      src=anomalies)


def anomaly_daily_trend_sql(src: str, start: str, end: str,
                            ts_col: str = "ts") -> str:
    """T8 (api.py:569-624): day spine LEFT JOIN daily severity-filtered
    counts."""
    day = f"to_date({ident(ts_col)})"
    sev = ", ".join(f"count(case when severity = {sql_str(s)} then 1 end) "
                    f"AS {s}" for s in ("high", "medium", "low"))
    daily = (f"SELECT {day} AS day, count(1) AS total, {sev} "
             f"FROM {src} GROUP BY {day}")
    return (f"SELECT spine.day, coalesce(total, 0) AS total, "
            f"coalesce(high, 0) AS high, coalesce(medium, 0) AS medium, "
            f"coalesce(low, 0) AS low FROM ({spine_sql(start, end)}) spine "
            f"LEFT JOIN ({daily}) daily ON spine.day = daily.day")


def anomaly_daily_trend(
    anomalies: DataFrame, spark: SparkSession, start: str, end: str,
    ts_col: str = "ts",
) -> DataFrame:
    """``anomaly_daily_trend_sql`` over ``anomalies``."""
    return render_sql(spark, anomaly_daily_trend_sql(_SRC, start, end, ts_col),
                      src=anomalies)


def change_frequency_sql(src: str, keys: list[str], ts_col: str,
                         changed_col: str = "change_detected") -> str:
    """T9 (core/metadata/change_analytics.py:80-177): per object,
    change_ratio = changes/checks bucketed high(>=0.5)/medium(>=0.1)/low,
    avg hours between changes (lag window), most recent change. Double
    literals carry the ``d`` suffix so nothing re-types through DECIMAL."""
    k, ts, changed = _cols(keys), ident(ts_col), ident(changed_col)
    gaps = (f"SELECT {k}, (cast(cast({ts} as timestamp) as double) "
            f"- cast(cast(lag({ts}) OVER (PARTITION BY {k} "
            f"ORDER BY {ts}) as timestamp) as double)) / 3600.0d AS __gap_h, "
            f"{ts} FROM {src} WHERE {changed}")
    gap_stats = (f"SELECT {k}, round(avg(__gap_h), 4) "
                 f"AS avg_hours_between_changes, max({ts}) AS last_change "
                 f"FROM ({gaps}) GROUP BY {k}")
    totals = (f"SELECT {k}, count(1) AS total_checks, "
              f"count(case when {changed} then 1 end) AS changes "
              f"FROM {src} GROUP BY {k}")
    freq = (f"SELECT *, case when change_ratio >= 0.5d then 'high' "
            f"when change_ratio >= 0.1d then 'medium' else 'low' end "
            f"AS frequency FROM (SELECT *, round(changes * cast(1 as "
            f"double) / total_checks, 4) AS change_ratio FROM ({totals}))")
    return f"SELECT * FROM ({freq}) t LEFT JOIN ({gap_stats}) g USING ({k})"


def change_frequency(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    changed_col: Column | str = "change_detected",
) -> DataFrame:
    """``change_frequency_sql`` over ``df``; a Column flag rides in as
    the ``__changed`` column."""
    if isinstance(changed_col, Column):
        df, changed_col = df.withColumn("__changed", changed_col), "__changed"
    return render_sql(df.sparkSession,
                      change_frequency_sql(_SRC, keys, ts_col, changed_col),
                      src=df)


def high_impact_objects_sql(src: str, keys: list[str], min_changes: int = 5,
                            k: int = 10) -> str:
    """T10 (change_analytics.py:295-323): HAVING changes>=N, top-K by
    ratio (deterministic tiebreak on key) over ``change_frequency_sql``
    rows."""
    order = ", ".join(f"{ident(c)} ASC" for c in keys)
    return (f"SELECT * EXCEPT (__rn) FROM (SELECT *, row_number() OVER ("
            f"ORDER BY change_ratio DESC, {order}) AS __rn FROM {src} "
            f"WHERE changes >= {int(min_changes)}) WHERE __rn <= {int(k)}")


def high_impact_objects(
    freq: DataFrame, keys: list[str], min_changes: int = 5, k: int = 10
) -> DataFrame:
    """``high_impact_objects_sql`` over ``freq``."""
    return render_sql(freq.sparkSession,
                      high_impact_objects_sql(_SRC, keys, min_changes, k),
                      src=freq)


def usage_patterns(
    log: DataFrame,
    entity_col: str = "table_name",
    ts_col: str = "detected_at",
    type_col: str | None = "event_type",
    as_of: str | None = None,
) -> DataFrame:
    """P16 usage patterns from an event log.

    The reference computes ``{access_count, last_accessed}`` per table by
    grepping Snowflake QUERY_HISTORY (collector.py:281-321) — warehouse
    introspection the survey scopes out. The engine derives the same shape
    from its OWN event log (``engine_events``) or any access log: ONE
    groupBy on the entity giving access_count, first/last access, distinct
    access types, and staleness hours against ``as_of``. At scale this is
    a keyed aggregation over a run_date-partitioned log — partial aggs
    map-side, no joins.
    """
    aggs = [
        F.count(F.lit(1)).alias("access_count"),
        F.min(ts_col).alias("first_accessed"),
        F.max(ts_col).alias("last_accessed"),
    ]
    if type_col is not None:
        aggs.append(F.count_distinct(F.col(type_col)).alias("n_access_types"))
    out = log.groupBy(F.col(entity_col)).agg(*aggs)
    if as_of is not None:
        # cast through TIMESTAMP first: the docstring promises "any access
        # log", and a string/date ts column cast straight to double is
        # NULL — the same two-step every other epoch-math helper uses
        out = out.withColumn(
            "hours_since_access",
            F.round((F.lit(as_of).cast("timestamp").cast("double")
                     - F.col("last_accessed").cast("timestamp")
                     .cast("double")) / 3600.0, 2))
    return out


def fetch_metric_history_sql(
    src: str,
    metric_name: str | None = None,
    table_name: str | None = None,
    column_name: str | None = None,
    since: str | None = None,
    limit: int | None = None,
    ts_col: str = "timestamp",
    tiebreak: tuple[str, ...] = (),
) -> str:
    """T13 (historical_metrics.py:165-217): filter + order + limit.

    ``tiebreak`` columns make the LIMIT cutoff deterministic under equal
    timestamps (SURVEY §7.9 latest-per-key discipline).
    """
    conds = [f"{ident(c)} = {sql_str(v)}" for c, v in (
        ("metric_name", metric_name), ("table_name", table_name),
        ("column_name", column_name)) if v is not None]
    if since is not None:
        conds.append(f"{ident(ts_col)} >= cast({sql_str(since)} as timestamp)")
    where = f" WHERE {' AND '.join(conds)}" if conds else ""
    order = ", ".join(f"{ident(c)} DESC" for c in (ts_col, *tiebreak))
    lim = f" LIMIT {int(limit)}" if limit is not None else ""
    return f"SELECT * FROM {src}{where} ORDER BY {order}{lim}"


def fetch_metric_history(
    metrics: DataFrame,
    metric_name: str | None = None,
    table_name: str | None = None,
    column_name: str | None = None,
    since: str | None = None,
    limit: int | None = None,
    ts_col: str = "timestamp",
    tiebreak: tuple[str, ...] = (),
) -> DataFrame:
    """``fetch_metric_history_sql`` over ``metrics``."""
    return render_sql(metrics.sparkSession, fetch_metric_history_sql(
        _SRC, metric_name, table_name, column_name, since, limit, ts_col,
        tiebreak), src=metrics)


def latest_rank_sql(keys: list[str], order_col: str,
                    tiebreak: list[str] | None = None) -> str:
    """Newest-first row number per key: ``order_col`` then ``tiebreak``,
    all descending."""
    order = ", ".join(f"{ident(c)} DESC" for c in [order_col, *(tiebreak or [])])
    return f"row_number() OVER (PARTITION BY {_cols(keys)} ORDER BY {order})"


def retain_latest_sql(src: str, keys: list[str], order_col: str, n: int,
                      tiebreak: list[str] | None = None) -> str:
    """Keep the newest ``n`` rows per key — T14 retention
    (supabase_manager.py:275-305) and, with ``n=1``, latest-per-key
    (``ORDER BY run_at DESC LIMIT 1`` per rule, backend/app.py:4462-4471,
    4556-4596). ``tiebreak`` columns, also descending, make the cutoff
    deterministic under equal ``order_col`` values (SURVEY §7.9)."""
    return (f"SELECT * EXCEPT (__rn) FROM (SELECT *, "
            f"{latest_rank_sql(keys, order_col, tiebreak)} AS __rn "
            f"FROM {src}) WHERE __rn <= {int(n)}")


def retain_latest(
    df: DataFrame, keys: list[str], order_col: str, n: int,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """``retain_latest_sql`` over ``df``. The rank text applies through
    ``F.expr`` rather than a render: ``Engine.run_anomaly_detection`` and
    ``StateStore.retain_latest`` call this on every run, and a render
    registers a temp view per call."""
    return (df.withColumn("__rn", F.expr(latest_rank_sql(keys, order_col,
                                                          tiebreak)))
            .where(F.col("__rn") <= n).drop("__rn"))


def profile_trends(
    history: DataFrame,
    table_name: str,
    n: int = 30,
    ts_col: str = "collected_at",
) -> DataFrame:
    """T1 (supabase_manager.py:218-273): last-N profiles of one table as an
    ordered trend frame (row_counts, duplicate_counts, validation rates)."""
    recent = (
        history.where(F.col("table_name") == table_name)
        .orderBy(F.col(ts_col).desc())
        .limit(n)
    )
    return recent.orderBy(ts_col)


def incremental_time_rollup(
    state: DataFrame | None,
    new_events: DataFrame,
    ts_col: str,
    key_col: str,
    value_col: str,
    width_seconds: int,
) -> DataFrame:
    """Continuous-aggregate maintenance (hypertable-style): fold a NEW batch
    of events into a (bucket, key) rollup WITHOUT rescanning history.

    count and the decimal value sum are associative partials, so merging is
    a re-aggregation of (old state ∪ fresh partials) — identical math to
    computing the rollup from scratch (test-asserted). At 100 TB: the fresh
    side scans only the new batch; the merge groupBy shuffles O(buckets ×
    keys) state rows, not events, and with bucket-partitioned state +
    partitionOverwriteMode=dynamic only touched bucket partitions rewrite.
    Exact decimal sums make the result independent of batch arrival order.
    """
    from sparvi_spark.functions import time_bucket

    fresh = (
        new_events.groupBy(
            time_bucket(ts_col, width_seconds).alias("bucket"),
            F.col(key_col).alias("key"))
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.col(value_col).cast("decimal(28,8)"))
             .cast("decimal(38,8)").alias("sum_dec"))
    )
    if state is None:
        return fresh
    return (
        state.unionByName(fresh)
        .groupBy("bucket", "key")
        .agg(F.sum("n").alias("n"),
             F.sum("sum_dec").cast("decimal(38,8)").alias("sum_dec"))
    )
