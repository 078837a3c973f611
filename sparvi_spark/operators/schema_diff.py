"""Schema-diff operators S1-S8 (SURVEY.md §2.D), Spark-first.

The reference diffs two JSON schema snapshots with Python set ops
(backend/core/metadata/schema_change_detector.py:185-421); we represent a
snapshot as two small DataFrames (tables+columns, primary keys) and diff via
full-outer joins, so the same code scales to catalogs with millions of
columns.

Change rows: (change_type, table_name, column_name, details, important).
Importance (S7, :408-421): table_removed, column_removed,
column_type_changed, primary_key_changed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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
    from sparvi_spark.functions import local_df

    return local_df(spark, rows, SNAPSHOT_SCHEMA)


def compare_schemas(old: DataFrame, new: DataFrame) -> DataFrame:
    """S1-S7: diff two snapshot DataFrames with ONE shuffle, no joins.

    Both snapshots are tagged with a side flag and aggregated straight to
    one row per table (collect_list of per-column structs — bounded by
    columns-per-table, not catalog size, so no skew risk even on catalogs
    with millions of columns). All seven change classes are then pure
    per-row array expressions: table add/remove from side presence, column
    changes by exploding the two column lists' high-level full-outer merge,
    PK change from name-sorted PK lists (set-equality semantics,
    schema_change_detector.py:335-359). The round-1 formulation chained four
    full-outer/left joins (~8 exchanges); round 2 used two groupBys plus a
    broadcast join back (3 exchanges + a broadcast build job); this is a
    single Exchange on table_name.
    """
    tagged = old.select("*", F.lit(0).alias("__src")).unionAll(
        new.select("*", F.lit(1).alias("__src")))

    def side_cols(src: int):
        return F.collect_list(F.when(F.col("__src") == src, F.struct(
            F.col("column_name").alias("c"), F.col("col_type").alias("t"),
            F.col("nullable").alias("n"), F.col("pk_ordinal").alias("p"))))

    pertab = tagged.groupBy("table_name").agg(
        side_cols(0).alias("o_cols"), side_cols(1).alias("n_cols"))

    # Merge the two column lists by column name inside the row: for each name
    # present on either side, pair up the old/new structs (null when absent).
    merged = pertab.select(
        "table_name",
        F.size("o_cols").alias("o_n"), F.size("n_cols").alias("n_n"),
        F.expr("""
            transform(
              array_distinct(concat(transform(o_cols, x -> x.c),
                                    transform(n_cols, x -> x.c))),
              name -> struct(
                name as c,
                get(filter(o_cols, x -> x.c = name), 0) as o,
                get(filter(n_cols, x -> x.c = name), 0) as n))
        """).alias("cols"),
        F.expr("concat_ws(',', array_sort("
               "transform(filter(o_cols, x -> x.p is not null), x -> x.c)))"
               ).alias("o_pkstr"),
        F.expr("concat_ws(',', array_sort("
               "transform(filter(n_cols, x -> x.p is not null), x -> x.c)))"
               ).alias("n_pkstr"),
    )

    # change rows as one per-table array expression, then one explode
    changes = merged.select(
        "table_name",
        F.expr("""
            case
              when o_n = 0 then array(struct('table_added' as change_type,
                   cast(null as string) as column_name, cast(null as string) as details))
              when n_n = 0 then array(struct('table_removed' as change_type,
                   cast(null as string) as column_name, cast(null as string) as details))
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
                  'primary_key_changed' as change_type,
                  cast(null as string) as column_name,
                  concat(o_pkstr, ' -> ', n_pkstr) as details))
                else array() end)
            end
        """).alias("chg"),
    ).select("table_name", F.explode("chg").alias("c")).select(
        F.col("c.change_type").alias("change_type"),
        "table_name",
        F.col("c.column_name").alias("column_name"),
        F.col("c.details").alias("details"),
    )
    return changes.withColumn(
        "important", F.col("change_type").isin(*IMPORTANT_CHANGES)
    )


def detect_changes(
    previous: DataFrame | None, current: DataFrame
) -> DataFrame | None:
    """S8: first run bootstraps the baseline and reports nothing
    (schema_change_detector.py:40-45)."""
    if previous is None:
        return None
    return compare_schemas(previous, current)
