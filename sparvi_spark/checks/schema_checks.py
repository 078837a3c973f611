"""S1-S8 schema-diff checks (SURVEY.md §2.D) paired with a DuckDB oracle.

Two snapshots built from the shared TableSpecs: snapshot B mutates A with
one added/removed table, added/removed column, type change, nullable flip,
and a PK change — asserting all seven change types plus the importance flag
(FIXTURES.md §5). The Spark side runs ``compare_schemas``; the oracle
diffs with full-outer joins over VALUES clauses generated from the same
specs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from sparvi_spark.testdata import SCHEMAS

# (table, column, bucket, nullable, pk_ordinal)
Row = tuple[str, str, str, bool, int | None]


def _spec_rows(tables: list[str]) -> list[Row]:
    rows: list[Row] = []
    for t in tables:
        spec = SCHEMAS[t]
        pk_pos = {c: i + 1 for i, c in enumerate(spec.primary_keys)}
        for c in spec.columns:
            rows.append((t, c.name, c.bucket, c.nullable, pk_pos.get(c.name)))
    return rows


def snapshot_rows() -> tuple[list[Row], list[Row]]:
    old = _spec_rows(["region", "nation", "customer", "supplier", "orders"])
    new: list[Row] = []
    for (t, c, b, nul, pk) in old:
        if t == "supplier":
            continue  # table_removed
        if t == "customer" and c == "c_mktsegment":
            continue  # column_removed
        if t == "customer" and c == "c_acctbal":
            b = "text"  # column_type_changed
        if t == "customer" and c == "c_name":
            nul = not nul  # nullable_changed
        if t == "orders" and c == "o_orderkey":
            pk = None  # primary_key_changed (pk dropped ...)
        if t == "orders" and c == "o_custkey":
            pk = 1  # ... and moved to o_custkey
        new.append((t, c, b, nul, pk))
    new.append(("customer", "c_phone", "text", True, None))  # column_added
    new.append(("audit_log", "id", "numeric", False, 1))  # table_added
    new.append(("audit_log", "payload", "text", True, None))
    return old, new


def q_schema_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``schema_diff_sql``, the diff ``Engine.track_schema`` runs, over
    the two spec snapshots tagged in one local relation."""
    from sparvi_spark.functions import local_df, rel, render_sql
    from sparvi_spark.operators.schema_diff import (
        SNAPSHOT_SCHEMA,
        schema_diff_sql,
    )

    old_rows, new_rows = snapshot_rows()
    tagged = local_df(spark, [r + (0,) for r in old_rows]
                      + [r + (1,) for r in new_rows],
                      SNAPSHOT_SCHEMA + ", __src int")
    return render_sql(spark, schema_diff_sql(rel("tagged")), tagged=tagged)


def _values_clause(rows: list[Row]) -> str:
    def lit(r: Row) -> str:
        pk = "NULL" if r[4] is None else str(r[4])
        return (f"('{r[0]}', '{r[1]}', '{r[2]}', {str(r[3]).upper()}, {pk})")

    return ", ".join(lit(r) for r in rows)


def _sql_schema_diff() -> str:
    old_rows, new_rows = snapshot_rows()
    return f"""
WITH o(table_name, column_name, col_type, nullable, pk_ordinal) AS
  (VALUES {_values_clause(old_rows)}),
n(table_name, column_name, col_type, nullable, pk_ordinal) AS
  (VALUES {_values_clause(new_rows)}),
ot AS (SELECT DISTINCT table_name FROM o),
nt AS (SELECT DISTINCT table_name FROM n),
common AS (SELECT ot.table_name FROM ot JOIN nt USING (table_name)),
tchg AS (SELECT
  case when ot.table_name IS NULL then 'table_added'
       when nt.table_name IS NULL then 'table_removed' end AS change_type,
  coalesce(ot.table_name, nt.table_name) AS table_name,
  cast(NULL as varchar) AS column_name, cast(NULL as varchar) AS details
 FROM ot FULL OUTER JOIN nt ON ot.table_name = nt.table_name
 WHERE ot.table_name IS NULL OR nt.table_name IS NULL),
oc AS (SELECT o.* FROM o JOIN common USING (table_name)),
nc AS (SELECT n.* FROM n JOIN common USING (table_name)),
cchg_raw AS (SELECT
  case when oc.column_name IS NULL then 'column_added'
       when nc.column_name IS NULL then 'column_removed'
       when oc.col_type <> nc.col_type then 'column_type_changed'
       when oc.nullable <> nc.nullable then 'nullable_changed' end AS change_type,
  coalesce(oc.table_name, nc.table_name) AS table_name,
  coalesce(oc.column_name, nc.column_name) AS column_name,
  case when oc.col_type <> nc.col_type
       then oc.col_type || ' -> ' || nc.col_type end AS details
 FROM oc FULL OUTER JOIN nc
   ON oc.table_name = nc.table_name AND oc.column_name = nc.column_name),
cchg AS (SELECT * FROM cchg_raw WHERE change_type IS NOT NULL),
opk AS (SELECT table_name, string_agg(column_name, ',' ORDER BY column_name)
  AS pk FROM o WHERE pk_ordinal IS NOT NULL GROUP BY table_name),
npk AS (SELECT table_name, string_agg(column_name, ',' ORDER BY column_name)
  AS pk FROM n WHERE pk_ordinal IS NOT NULL GROUP BY table_name),
pkchg AS (SELECT 'primary_key_changed' AS change_type,
  common.table_name AS table_name, cast(NULL as varchar) AS column_name,
  coalesce(opk.pk, '') || ' -> ' || coalesce(npk.pk, '') AS details
 FROM common
 LEFT JOIN opk ON common.table_name = opk.table_name
 LEFT JOIN npk ON common.table_name = npk.table_name
 WHERE coalesce(opk.pk, '') <> coalesce(npk.pk, '')),
changes AS (SELECT * FROM tchg UNION ALL SELECT * FROM cchg
  UNION ALL SELECT * FROM pkchg)
SELECT change_type, table_name, column_name, details,
  change_type IN ('table_removed', 'column_removed', 'column_type_changed',
                  'primary_key_changed') AS important
FROM changes
""".strip()


CHECKS = {
    "s01_schema_diff": (q_schema_diff, _sql_schema_diff()),
}
