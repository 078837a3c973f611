"""Trend / rollup / analytics operators T1-T14 (SURVEY.md §2.E), Spark-first.

These run over state tables (profiles, validation results, historical
metrics, schema changes). The reference does them in SQL-over-Postgres or
Python loops; here each is a declarative DataFrame job: latest-per-key via
row_number windows (deterministic tiebreak — SURVEY §7.9), date spines via
``F.sequence`` + explode (broadcastable), daily groupBys with
count(when(...)) pivots.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def spine_sql(start: str, end: str) -> str:
    """Dense daily spine [start, end] as one ``day`` column (reference:
    generate_series, core/anomalies/api.py:590-594)."""
    return (f"SELECT explode(sequence(date '{start}', date '{end}', "
            f"interval 1 day)) AS day")


def date_spine(spark: SparkSession, start: str, end: str) -> DataFrame:
    """``spine_sql`` as a DataFrame. Tiny — broadcast by the optimizer."""
    return spark.sql(spine_sql(start, end))


def anomaly_summary(anomalies: DataFrame) -> DataFrame:
    """T7 (core/anomalies/api.py:356-488): counts by severity. (Per-table
    grouping lives in ``anomaly_top_tables``; this function deliberately
    has no table parameter.)"""
    return anomalies.groupBy("severity").agg(F.count(F.lit(1)).alias("cnt"))


def anomaly_top_tables(
    anomalies: DataFrame, table_col: str = "metric_name", k: int = 10
) -> DataFrame:
    """T7 top-K tables by anomaly count (deterministic tiebreak)."""
    counted = anomalies.groupBy(table_col).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy(F.desc("cnt"), F.asc(table_col))
    return (
        counted.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k).drop("__rn")
    )


def anomaly_daily_trend(
    anomalies: DataFrame, spark: SparkSession, start: str, end: str,
    ts_col: str = "ts",
) -> DataFrame:
    """T8 (api.py:569-624): day spine LEFT JOIN daily severity-filtered counts."""
    daily = anomalies.groupBy(F.to_date(ts_col).alias("day")).agg(
        F.count(F.lit(1)).alias("total"),
        F.count(F.when(F.col("severity") == "high", 1)).alias("high"),
        F.count(F.when(F.col("severity") == "medium", 1)).alias("medium"),
        F.count(F.when(F.col("severity") == "low", 1)).alias("low"),
    )
    spine = date_spine(spark, start, end)
    return spine.join(daily, spine.day == daily.day, "left").select(
        spine.day,
        F.coalesce("total", F.lit(0)).alias("total"),
        F.coalesce("high", F.lit(0)).alias("high"),
        F.coalesce("medium", F.lit(0)).alias("medium"),
        F.coalesce("low", F.lit(0)).alias("low"),
    )


def change_frequency(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    changed_col: Column | str = "change_detected",
) -> DataFrame:
    """T9 (core/metadata/change_analytics.py:80-177): per object,
    change_ratio = changes/checks bucketed high(>=0.5)/medium(>=0.1)/low,
    avg hours between changes (lag window), most recent change."""
    changed = F.col(changed_col) if isinstance(changed_col, str) else changed_col
    w = Window.partitionBy(*keys).orderBy(ts_col)
    gaps = (
        df.where(changed)
        .withColumn("__prev", F.lag(ts_col).over(w))
        .withColumn(
            "__gap_h",
            (F.col(ts_col).cast("timestamp").cast("double")
             - F.col("__prev").cast("timestamp").cast("double")) / 3600.0,
        )
    )
    gap_stats = gaps.groupBy(*keys).agg(
        F.round(F.avg("__gap_h"), 4).alias("avg_hours_between_changes"),
        F.max(ts_col).alias("last_change"),
    )
    totals = df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("total_checks"),
        F.count(F.when(changed, 1)).alias("changes"),
    ).withColumn(
        "change_ratio",
        F.round(F.col("changes") * F.lit(1.0) / F.col("total_checks"), 4),
    ).withColumn(
        "frequency",
        F.when(F.col("change_ratio") >= 0.5, "high")
        .when(F.col("change_ratio") >= 0.1, "medium")
        .otherwise("low"),
    )
    return totals.join(gap_stats, keys, "left")


def high_impact_objects(
    freq: DataFrame, keys: list[str], min_changes: int = 5, k: int = 10
) -> DataFrame:
    """T10 (change_analytics.py:295-323): HAVING changes>=N, top-K by ratio
    (deterministic tiebreak on key)."""
    w = Window.orderBy(F.desc("change_ratio"), *[F.asc(c) for c in keys])
    return (
        freq.where(F.col("changes") >= min_changes)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


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
    """T13 (historical_metrics.py:165-217): filter + order + limit.

    ``tiebreak`` columns make the LIMIT cutoff deterministic under equal
    timestamps (SURVEY §7.9 latest-per-key discipline).
    """
    out = metrics
    if metric_name is not None:
        out = out.where(F.col("metric_name") == metric_name)
    if table_name is not None:
        out = out.where(F.col("table_name") == table_name)
    if column_name is not None:
        out = out.where(F.col("column_name") == column_name)
    if since is not None:
        out = out.where(F.col(ts_col) >= F.lit(since).cast("timestamp"))
    out = out.orderBy(F.col(ts_col).desc(), *[F.col(c).desc() for c in tiebreak])
    if limit is not None:
        out = out.limit(limit)
    return out


def retain_latest(
    df: DataFrame, keys: list[str], order_col: str, n: int,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Keep the newest ``n`` rows per key — T14 retention
    (supabase_manager.py:275-305) and, with ``n=1``, latest-per-key
    (``ORDER BY run_at DESC LIMIT 1`` per rule, backend/app.py:4462-4471,
    4556-4596). ``tiebreak`` columns, also descending, make the cutoff
    deterministic under equal ``order_col`` values (SURVEY §7.9)."""
    order = [F.col(order_col).desc()] + [F.col(c).desc() for c in (tiebreak or [])]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= n)
        .drop("__rn")
    )


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
