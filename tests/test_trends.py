"""The trend and drift operators against the graded slots that render
their SQL text: on the sf0.001 tables each operator, called the way a
library user calls it on DataFrames, gives exactly the rows of its part
of the graded t02/t03/t09/p14/x13/x24 slot."""

from collections import Counter

from pyspark.sql import functions as F

from sparvi_spark.checks import melt_part_df
from sparvi_spark.checks import merged_checks as mc
from sparvi_spark.checks import trend_checks as tc
from sparvi_spark.checks.anomaly_checks import metric_series
from sparvi_spark.checks.pipeline_checks import (
    DRIFT_BINS,
    DRIFT_COLS,
    DRIFT_SPLIT,
    VOCAB_MIN_COUNT,
    VOCAB_TOP_K,
)
from sparvi_spark.operators import drift, trends
from sparvi_spark.operators.anomalies import format_anomalies, zscore_anomalies
from sparvi_spark.testdata import load_table
from tests.conftest import SF_DIR


def _rows(df) -> Counter:
    return Counter(tuple(r) for r in df.collect())


def _part(slot, parts, tag, frame, metrics=None):
    """(slot rows of part ``tag``, ``frame`` melted by that part's spec),
    both restricted to ``metrics`` when given."""
    _tag, _f, _sql, keys, nums, strs = next(p for p in parts if p[0] == tag)
    want = slot.where(F.col("part") == tag)
    if metrics is not None:
        nums = [m for m in nums if m in metrics]
        want = want.where(F.col("metric").isin(metrics))
    return _rows(want), _rows(melt_part_df(frame, tag, keys, nums, strs))


def test_trend_and_drift_operators_equal_graded_slot_parts(spark):
    ev = load_table(spark, "events", SF_DIR)

    # x13 retention part: retain_latest, newest 10 events per user
    kept = trends.retain_latest(ev, ["user_id"], "ts", 10, ["event_id"])
    want = _rows(mc.q_id_checksums_fused_sql(spark, SF_DIR)
                 .where("part = 'retention'").drop("part"))
    assert want
    assert want == _rows(kept.groupBy(F.col("user_id").cast("string"))
                         .agg(F.count(F.lit(1)), F.sum("event_id")))

    # t09: change_frequency, its rows before the refresh suggestion
    freq = trends.change_frequency(
        ev.withColumn("changed", F.col("value") > 100), ["event_type"], "ts",
        "changed")
    cols = ["event_type", "total_checks", "changes", "change_ratio",
            "frequency"]
    got = freq.select(
        *cols, F.round("avg_hours_between_changes", 2),
        F.date_format("last_change", "yyyy-MM-dd HH:mm:ss"))
    t09 = tc.q_change_analytics(spark, SF_DIR).drop("suggested_interval_hours")
    assert _rows(t09) == _rows(got)

    # t03 anomaly part and t02 dashboard trend columns over the slots'
    # zscore anomalies
    an = format_anomalies(zscore_anomalies(
        metric_series(spark, SF_DIR), ["metric_name"], sensitivity=2.0),
        "zscore", ["metric_name"])
    summary = trends.anomaly_summary(an).selectExpr(
        "'severity' AS section", "severity AS key", "cnt").unionAll(
        trends.anomaly_top_tables(an, "metric_name", 3).selectExpr(
            "'top_metric' AS section", "metric_name AS key", "cnt"))
    want, got = _part(mc.q_summaries_fused(spark, SF_DIR), mc._T03_PARTS,
                      "anomaly_summary", summary)
    assert want and want == got
    daily = trends.anomaly_daily_trend(
        an, spark, tc.SPINE_START, tc.SPINE_END).withColumn(
        "day", F.date_format("day", "yyyy-MM-dd"))
    want, got = _part(mc.q_rollups_fused(spark, SF_DIR), mc._T02_PARTS,
                      "dashboard_daily", daily,
                      ["total", "high", "medium", "low"])
    assert len(want) == 4 * 30 and want == got

    # p14 history part: fetch_metric_history
    history = trends.fetch_metric_history(
        ev.selectExpr("event_type AS metric_name", "event_id",
                      "value AS metric_value", "ts"),
        metric_name="click", since=tc.FETCH_SINCE, limit=tc.FETCH_LIMIT,
        ts_col="ts", tiebreak=("event_id",)).selectExpr(
        "metric_name", "event_id", "round(metric_value, 4) AS metric_value",
        "date_format(ts, 'yyyy-MM-dd HH:mm:ss') AS ts_s")
    want, got = _part(mc.q_misc_small_fused(spark, SF_DIR), mc._P14_PARTS,
                      "metric_history", history)
    assert want and want == got

    # x24: the four drift operators over the slot's sides (a NULL order
    # date is on the actual side of the numeric melt only); psi is left
    # out of the compare, as it is out of the slot
    orders = load_table(spark, "orders", SF_DIR)
    early = F.col("o_orderdate") < F.lit(DRIFT_SPLIT).cast("timestamp")
    docs = load_table(spark, "documents", SF_DIR)
    src0, rest = docs.where("source = 'src0'"), docs.where("source != 'src0'")
    frames = {
        "numeric": drift.numeric_drift(
            orders.where(early), orders.where(~F.coalesce(early, F.lit(False))),
            DRIFT_COLS, DRIFT_BINS).drop("psi"),
        "categorical": drift.categorical_drift(
            orders.where(early), orders.where(~early), "o_orderpriority"),
        "vocab": drift.vocab_drift(src0, rest, "text", VOCAB_TOP_K,
                                   VOCAB_MIN_COUNT),
        "vocab_tvd": drift.vocab_tvd(src0, rest),
    }
    x24 = mc.q_drift_fused(spark, SF_DIR)
    for tag, frame in frames.items():
        want, got = _part(x24, mc._X24_PARTS, tag, frame)
        assert want and want == got, tag
