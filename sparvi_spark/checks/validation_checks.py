"""V1-V24 validation checks (SURVEY.md §2.B) — generated-rule suites per
table plus a custom-SQL (V24) passthrough, each paired with a DuckDB oracle
built from the SAME Rule objects (sparvi_spark.operators.validation)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from sparvi_spark.operators.validation import generate_default_rules, rules_oracle_sql
from sparvi_spark.testdata import SCHEMAS, load_table

AS_OF = "2026-01-01 00:00:00"

RULE_TABLES = ["lineitem", "orders", "customer", "part", "events", "documents"]


RULES = {t: generate_default_rules(SCHEMAS[t], as_of=AS_OF) for t in RULE_TABLES}


def _table_inputs(spark: SparkSession, sf_dir: str, table: str):
    """(table, df, rules, ref_tables, unique_refs) for PreparedRulesMulti.

    unique_refs: FK targets whose ref column is the declared PK need no
    distinct before the broadcast build (saves a dimension-wide shuffle
    per FK)."""
    spec = SCHEMAS[table]
    refs = {rt: load_table(spark, rt, sf_dir)
            for rt in {rt for _c, rt, _rc in spec.foreign_keys}}
    unique = frozenset(
        rt for c, rt, rc in spec.foreign_keys if SCHEMAS[rt].primary_keys == (rc,))
    return (table, load_table(spark, table, sf_dir), RULES[table], refs, unique)


_PREPARED: dict = {}


def q_rules_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All six rule suites as ONE prepared multi-table program — the
    engine's scheduled-validation shape: compile the whole catalog's rule
    plans once per session, then each run is a concurrent sweep of small
    jobs (PreparedRulesMulti docstring has the why).

    Each table's pieces are prepared on a sibling ``newSession()`` so
    analysis and first-run execution don't contend on one SessionState;
    the sessions share the SparkContext and the block-cache, so every
    cached table loads once."""
    from concurrent.futures import ThreadPoolExecutor

    from sparvi_spark.operators.validation import (
        PreparedRulesMulti,
        collect_rule_jobs,
    )

    key = (id(spark._jsparkSession), sf_dir)
    if key not in _PREPARED:
        sessions = [spark.newSession() for _ in RULE_TABLES]
        with ThreadPoolExecutor(8) as pool:
            preps = list(pool.map(
                lambda st: PreparedRulesMulti(
                    [_table_inputs(st[0], sf_dir, st[1])]),
                zip(sessions, RULE_TABLES)))
        _PREPARED[key] = [j for p in preps for j in p.jobs]
    return collect_rule_jobs(spark, _PREPARED[key])


# V24 custom SQL passthrough: the engine's real SQL surface. A TPC-H-Q1-style
# aggregation issued as raw SQL over registered views (decimal-exact sums).
CUSTOM_SQL = """
SELECT l_returnflag, l_linestatus,
       cast(sum(cast(l_quantity as decimal(18,2))) as double) AS sum_qty,
       cast(sum(cast(l_extendedprice as decimal(18,2))) as double) AS sum_base_price,
       cast(sum(cast(l_extendedprice as decimal(18,2)) * cast(1 as decimal(3,2))
            - cast(l_extendedprice as decimal(18,2)) * cast(l_discount as decimal(3,2)))
            as double) AS sum_disc_price,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= timestamp '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""".strip()


def q_custom_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparvi_spark.testdata import register_views

    register_views(spark, sf_dir)
    return spark.sql(CUSTOM_SQL)


# All six per-table rule suites land in ONE recorded check (driver caps
# recorded checks at 50 — checks.__init__.DRIVER_CHECK_CAP); the tag column
# keys each row back to its table. ~100 generated rules, all oracle-graded.
# The Spark side runs the FUSED multi-table program (q_rules_all); the
# oracle SQL is union_check's per-table union of each table's rule oracle
# (only its SQL half is used, so no Spark function is passed).
from sparvi_spark.checks import union_check  # noqa: E402

_RULES_ALL_SQL = union_check(
    [(t, None, rules_oracle_sql(RULES[t], t)) for t in RULE_TABLES],
    tag_col="table_name")[1]

CHECKS = {
    "v00_rules_all": (q_rules_all, _RULES_ALL_SQL),
    "v06_custom_sql": (q_custom_sql, CUSTOM_SQL),
}
