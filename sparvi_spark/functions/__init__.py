"""Scalar-function surface (SURVEY.md §2.H).

Every scalar the reference's generated SQL uses maps directly to Spark SQL
except the four below, which need translation. Everything else
(COUNT/SUM/AVG/MIN/MAX/STDDEV/COUNT DISTINCT, LENGTH, TRIM, LIKE, NULLIF,
CASE WHEN, CURRENT_DATE/TIMESTAMP, date_trunc) is available verbatim via
``spark.sql`` / ``pyspark.sql.functions`` — the V24 passthrough
(operators.validation) is the engine's SQL surface.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "similar_to",
    "not_regexp",
    "count_filter",
    "datediff_hours",
    "time_bucket",
    "local_df",
    "ident",
    "sql_str",
    "rel",
    "render_sql",
]


def ident(name: str) -> str:
    """A name as a Spark SQL identifier (dots, quotes, braces kept)."""
    return "`" + name.replace("`", "``") + "`"


def sql_str(s: str) -> str:
    """A Spark SQL string literal: backslash first, then quote (quote-only
    escaping turns a trailing backslash into an escaped delimiter)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def melt_sql(cols, typ: str, value: str = "v") -> str:
    """``stack`` text that melts ``cols`` into (column_name, ``value``)
    rows, each value cast to ``typ``: the name renders as a string literal
    and the column as a quoted identifier, so any column name melts."""
    body = ", ".join(f"{sql_str(c)}, cast({ident(c)} as {typ})" for c in cols)
    return f"stack({len(cols)}, {body}) as (column_name, {value})"


def rel(name: str) -> str:
    """Placeholder for a frame that :func:`render_sql` binds by name."""
    return f"\0{name}\0"


def render_sql(spark, text: str, **frames):
    """Run builder text with each ``rel(name)`` bound to ``frames[name]``.
    ``spark.sql(text, name=df)`` registers each frame as a view for
    analysis only and ``str.format``s the whole text, so braces that a
    column name or literal brings are doubled first."""
    text = text.replace("{", "{{").replace("}", "}}")
    for name in frames:
        text = text.replace(rel(name), "{" + name + "}")
    return spark.sql(text, **frames)


def local_df(spark, rows, schema):
    """Driver-side rows as a true ``LocalRelation``: the one builder for
    every metadata-sized frame (schema snapshots, rule configs and
    results, state rows).

    ``rows`` is a list of tuples, typed into a ``pyarrow.Table`` from
    ``schema`` (a Spark DDL string or a ``StructType``), or an already
    typed ``pyarrow.Table`` such as ``DataFrame.toArrow()`` returns.
    ``spark.createDataFrame(table, schema)`` ships the Arrow batches to
    the JVM once and plans them as a ``LocalTableScan``.

    Why not the alternatives: a ``parallelize``/``createDataFrame(list)``
    frame is an RDD scan that starts Python workers on every downstream
    action. A rendered ``VALUES`` literal is a LocalRelation too, but
    its SQL text grows with the rows and its string literals go through
    the SQL parser's escape rules, which rewrote ``\\`` and ``\\t`` and
    raised on a trailing backslash. Arrow carries every value as is,
    including NaN, ±Inf and NULL. Build plus ``toPandas`` of a 100-row,
    6-column frame on local[4] (median of 10): 66 ms here, 108 ms as
    VALUES, 271 ms via ``parallelize``, 324 ms via a list."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    struct = (schema if isinstance(schema, StructType)
              else StructType.fromDDL(schema))
    if not isinstance(rows, pa.Table):
        arrow = to_arrow_schema(struct)
        cols = list(zip(*rows)) if rows else [()] * len(arrow)
        rows = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, arrow)],
            schema=arrow)
    return spark.createDataFrame(rows, struct)


def time_bucket(ts, width_seconds: int):
    """Epoch-aligned arbitrary-width time bucket (hypertable-style):
    floor(epoch/width)*width as a timestamp. Portable: the identical
    formula runs in DuckDB as to_timestamp(floor(epoch(ts)/w)*w)."""
    from pyspark.sql import functions as F

    c = F.col(ts) if isinstance(ts, str) else ts
    # TIMESTAMP_NTZ has no direct numeric cast; relabel to TIMESTAMP first
    # (no-op for TIMESTAMP inputs, wall-clock-preserving under a UTC session).
    c = c.cast("timestamp")
    return F.timestamp_seconds(
        (F.floor(c.cast("long") / width_seconds) * width_seconds).cast("long"))


def similar_to(col: Column | str, pattern: str) -> Column:
    """SQL ``SIMILAR TO`` (reference default_validations.py:267).

    SIMILAR TO is implicitly anchored at both ends; Spark's ``rlike`` is
    not (SURVEY §7.7) — anchor explicitly, AROUND A GROUP: bare
    '^pat|tern$' binds the anchors to the first/last alternative only
    ('xxbar' would match '^foo|bar$'), while SIMILAR TO requires the
    whole string to match the full alternation.
    """
    c = F.col(col) if isinstance(col, str) else col
    return c.rlike(f"^(?:{pattern})$")


def not_regexp(col: Column | str, pattern: str) -> Column:
    """MySQL-style ``NOT REGEXP`` (ValidationRuleEditor.js:253) —
    unanchored, so plain negated rlike."""
    c = F.col(col) if isinstance(col, str) else col
    return ~c.rlike(pattern)


def count_filter(cond: Column) -> Column:
    """``COUNT(*) FILTER (WHERE cond)`` (default_validations.py:337) —
    Spark has no FILTER clause on aggregates; ``count(when(cond, 1))``."""
    return F.count(F.when(cond, F.lit(1)))


def datediff_hours(start: Column | str, end: Column | str) -> Column:
    """FRACTIONAL elapsed hours between two timestamps (the quantity the
    reference's freshness math consumes, core/anomalies/metrics.py:83).

    NOT the same as DuckDB/Snowflake ``DATEDIFF('hour', ...)`` (which
    counts hour-BOUNDARY crossings: 01:59 -> 02:01 is 1) or Spark's
    ``timestampdiff(HOUR, ...)`` (whole elapsed hours: 0); this returns
    2/60. Checks that need boundary semantics must floor/truncate
    explicitly on both sides."""
    s = F.col(start) if isinstance(start, str) else start
    e = F.col(end) if isinstance(end, str) else end
    s = s.cast("timestamp")
    e = e.cast("timestamp")
    return (e.cast("long") - s.cast("long")) / F.lit(3600)
