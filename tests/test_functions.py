"""Scalar-function surface (SURVEY §2.H translations)."""

from pyspark.sql import functions as F

from sparvi_spark.functions import (
    count_filter,
    datediff_hours,
    not_regexp,
    similar_to,
)
from sparvi_spark.operators.trends import spine_sql


def test_similar_to_is_anchored(spark):
    df = spark.createDataFrame(
        [("+1 555 123",), ("x +1 555 123",), ("555-1234",), ("abc",)], "v string")
    # the reference's phone pattern (default_validations.py:267)
    got = [r["m"] for r in
           df.select(similar_to("v", r"(\+)?[0-9][0-9 ()-]+").alias("m")).collect()]
    assert got == [True, False, True, False]  # SIMILAR TO anchors both ends


def test_similar_to_anchors_whole_alternation(spark):
    """Regression: bare ^pat|tern$ binds anchors to the outer alternatives
    only — 'xxbar' must NOT match 'foo|bar' under SIMILAR TO semantics."""
    df = spark.createDataFrame(
        [("foo",), ("bar",), ("xxbar",), ("fooyy",)], "v string")
    got = [r["m"] for r in
           df.select(similar_to("v", "foo|bar").alias("m")).collect()]
    assert got == [True, True, False, False]


def test_not_regexp_unanchored(spark):
    df = spark.createDataFrame([("abc123",), ("xyz",)], "v string")
    got = [r["m"] for r in df.select(not_regexp("v", "[0-9]").alias("m")).collect()]
    assert got == [False, True]


def test_count_filter_and_datediff(spark):
    df = spark.createDataFrame(
        [(1, "2026-01-01 00:00:00", "2026-01-01 05:30:00")],
        "id int, a string, b string").select(
        "id", F.col("a").cast("timestamp").alias("a"),
        F.col("b").cast("timestamp").alias("b"))
    row = df.agg(count_filter(F.col("id") > 0).alias("c")).collect()[0]
    assert row["c"] == 1
    h = df.select(datediff_hours("a", "b").alias("h")).collect()[0]["h"]
    assert h == 5.5


def test_generate_series_days(spark):
    """Postgres generate_series(date, date, interval '1 day'): both ends
    inclusive, one row per day."""
    days = [r["day"].isoformat() for r in
            spark.sql(spine_sql("2026-01-30", "2026-02-02")).orderBy("day")
            .collect()]
    assert days == ["2026-01-30", "2026-01-31", "2026-02-01", "2026-02-02"]
