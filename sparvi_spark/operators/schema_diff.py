"""Schema-diff operators S1-S8 (SURVEY.md §2.D), Spark-first.

The reference diffs two JSON schema snapshots with Python set ops
(backend/core/metadata/schema_change_detector.py:185-421); we represent a
snapshot as a small DataFrame (one row per column, with its primary-key
ordinal) and diff two of them with one SQL text (``schema_diff_sql``) that
the engine and the graded s01 slot both run, so the same code scales to
catalogs with millions of columns.

Change rows: (change_type, table_name, column_name, details, important).
Importance (S7, :408-421): table_removed, column_removed,
column_type_changed, primary_key_changed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from sparvi_spark.functions import local_df, rel, render_sql, sql_str

IMPORTANT_CHANGES = (
    "table_removed", "column_removed", "column_type_changed", "primary_key_changed",
)

SNAPSHOT_SCHEMA = (
    "table_name string, column_name string, col_type string, nullable boolean, "
    "pk_ordinal int"
)


def snapshot_from_dataframe(spark: SparkSession, df: DataFrame, table: str,
                            primary_keys: tuple[str, ...] = ()) -> DataFrame:
    from sparvi_spark.operators.profile import type_bucket

    pk_pos = {c: i + 1 for i, c in enumerate(primary_keys)}
    rows = [
        (table, f.name, type_bucket(f.dataType), f.nullable, pk_pos.get(f.name))
        for f in df.schema.fields
    ]
    return local_df(spark, rows, SNAPSHOT_SCHEMA)


def schema_diff_sql(tagged: str) -> str:
    """S1-S7 as SQL text over ``tagged``, the rows of both snapshots with
    ``__src`` 0 (old) or 1 (new): ONE Exchange on
    table_name, no joins (round 1 chained four outer joins, ~8
    exchanges). Both sides aggregate to one row per table
    (collect_list of column structs, bounded by columns per table, so no
    skew on catalogs with millions of columns); every change class is then
    a per-row array expression: table add/remove from side presence,
    column changes from merging the two lists by name, the PK change from
    name-sorted PK lists (set equality, schema_change_detector.py:335-359).
    """
    st = ("named_struct('c', column_name, 't', col_type, "
          "'n', nullable, 'p', pk_ordinal)")
    none = "cast(null as string)"

    def table_change(kind: str) -> str:
        return (f"array(struct({sql_str(kind)} as change_type, "
                f"{none} as column_name, {none} as details))")

    important = ", ".join(sql_str(k) for k in IMPORTANT_CHANGES)
    return f"""
WITH pertab AS (
  SELECT table_name,
    collect_list(case when __src = 0 then {st} end) AS o_cols,
    collect_list(case when __src = 1 then {st} end) AS n_cols
  FROM {tagged} GROUP BY table_name),
merged AS (
  SELECT table_name, size(o_cols) AS o_n, size(n_cols) AS n_n,
    transform(
      array_distinct(concat(transform(o_cols, x -> x.c),
                            transform(n_cols, x -> x.c))),
      name -> struct(
        name as c,
        get(filter(o_cols, x -> x.c = name), 0) as o,
        get(filter(n_cols, x -> x.c = name), 0) as n)) AS cols,
    concat_ws(',', array_sort(
      transform(filter(o_cols, x -> x.p is not null), x -> x.c))) AS o_pkstr,
    concat_ws(',', array_sort(
      transform(filter(n_cols, x -> x.p is not null), x -> x.c))) AS n_pkstr
  FROM pertab),
changes AS (
  SELECT table_name, explode(case
    when o_n = 0 then {table_change('table_added')}
    when n_n = 0 then {table_change('table_removed')}
    else concat(
      filter(transform(cols, x -> struct(
        case when x.o is null then 'column_added'
             when x.n is null then 'column_removed'
             when x.o.t <> x.n.t then 'column_type_changed'
             when x.o.n <> x.n.n then 'nullable_changed'
        end as change_type,
        x.c as column_name,
        case when x.o is not null and x.n is not null and x.o.t <> x.n.t
             then concat(x.o.t, ' -> ', x.n.t) end as details)),
       x -> x.change_type is not null),
      case when o_pkstr <> n_pkstr then array(struct(
        'primary_key_changed' as change_type, {none} as column_name,
        concat(o_pkstr, ' -> ', n_pkstr) as details))
      else array() end)
  end) AS c FROM merged)
SELECT c.change_type AS change_type, table_name,
       c.column_name AS column_name, c.details AS details,
       c.change_type IN ({important}) AS important
FROM changes"""


def compare_schemas(old: DataFrame, new: DataFrame) -> DataFrame:
    """S1-S7: ``schema_diff_sql`` over two snapshot frames -> change rows
    (change_type, table_name, column_name, details, important)."""
    cols = "table_name, column_name, col_type, nullable, pk_ordinal"
    tagged = (f"(SELECT {cols}, 0 AS __src FROM {rel('old')} UNION ALL "
              f"SELECT {cols}, 1 AS __src FROM {rel('new')})")
    return render_sql(old.sparkSession, schema_diff_sql(tagged),
                      old=old, new=new)


def detect_changes(
    previous: DataFrame | None, current: DataFrame
) -> DataFrame | None:
    """S8: first run bootstraps the baseline and reports nothing
    (schema_change_detector.py:40-45)."""
    if previous is None:
        return None
    return compare_schemas(previous, current)
