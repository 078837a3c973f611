"""Validation engine V1-V24 (SURVEY.md §2.B), Spark-first.

A rule is ``{name, description, query, operator, expected_value}``
(reference: backend/routes/validations.py:228,756-762). The reference runs
one warehouse scan per rule (ThreadPool of 10); we compile all scalar
aggregate rules for a table into ONE ``df.agg`` pass, batch all categorical-
dominance rules through one melted groupBy, share a single stats pass for
every 3σ-outlier rule, and run referential checks as broadcast anti-joins —
per table: 1 scan + 1 outlier pass + a few key-level shuffles, regardless of
rule count.

Heuristic rule generation ports the exact name-pattern lists of
backend/core/validations/default_validations.py:101,147-150,166-169,
184-187,311,328-331,347-350 (V1-V20). Evaluation semantics port
backend/core/validations/supabase_validation_manager.py:342-373, accepting
both word and symbolic operator spellings (frontend ValidationRuleEditor.js).
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass
from functools import reduce
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparvi_spark.functions import local_df
from sparvi_spark.session import scoped_caches, scoped_persist
from sparvi_spark.testdata import TableSpec

DEFAULT_AS_OF = "2026-01-01 00:00:00"

# Name-pattern lists (default_validations.py — cited per family above).
UNIQUE_NAME_PATTERNS = ["id", "code", "number", "uuid", "guid", "key", "hash", "identifier"]
NEGATIVE_ALLOWED_PATTERNS = ["balance", "difference", "delta", "change", "temperature",
                             "coordinate", "adjustment", "net", "profit_loss", "margin"]
NON_ZERO_PATTERNS = ["price", "amount", "total", "cost", "rate", "fee", "tax",
                     "revenue", "salary", "income", "expense"]
PAST_DATE_PATTERNS = ["birth", "created", "start", "registered", "joined", "purchase",
                      "transaction", "order", "payment", "issued", "shipped", "received"]
END_DATE_PATTERNS = ["end", "finish", "completed", "closed", "expiry", "expiration"]
IMPORTANT_COLUMN_PATTERNS = ["name", "description", "address", "city", "state", "country",
                             "postal", "zip", "email", "phone", "status", "type",
                             "category", "price", "cost", "amount"]
CATEGORICAL_COLUMN_PATTERNS = ["status", "type", "category", "level", "tier", "class",
                               "grade", "priority", "severity", "state", "region",
                               "stage", "gender"]
REF_TABLE_PATTERNS = ["ref", "type", "status", "category", "lookup"]
LARGE_TABLE_PATTERNS = ["fact", "transaction", "event", "log", "history", "audit", "detail"]
MEDIUM_TABLE_PATTERNS = ["order", "customer", "user", "account", "product", "item"]


def outlier_threshold(table_name: str) -> int:
    """default_validations.py:428-444."""
    t = table_name.lower()
    if any(p in t for p in LARGE_TABLE_PATTERNS):
        return 50
    if any(p in t for p in MEDIUM_TABLE_PATTERNS):
        return 20
    return 5


@dataclass
class Rule:
    """One validation rule with a kind tag driving batched compilation."""

    name: str
    description: str
    operator: str
    expected_value: Any
    kind: str  # agg | group_dup | dominance | outlier | ref_integrity | sql
    agg_expr: str | None = None     # dialect-common aggregate fragment (kind=agg)
    keys: tuple[str, ...] = ()      # kind=group_dup
    not_null_key: bool = False      # kind=group_dup: pre-filter NULL keys
    column: str | None = None       # kind=dominance / outlier
    ref_table: str | None = None    # kind=ref_integrity
    ref_column: str | None = None
    sql: str | None = None          # kind=sql (V24 custom scalar SQL)


# ---------------------------------------------------------------------------
# operator normalization + scalar evaluation (manager:342-373 + symbolic)
# ---------------------------------------------------------------------------

_SYMBOLIC = {"=": "equals", "==": "equals", "!=": "not_equals", "<>": "not_equals",
             ">": "greater_than", "<": "less_than",
             ">=": "greater_or_equal", "<=": "less_or_equal"}


def normalize_operator(op: str) -> str:
    return _SYMBOLIC.get(op.strip(), op.strip())


def evaluate_rule(operator: str, actual_value: Any, expected_value: Any) -> bool:
    """Scalar evaluation with the reference's coercion semantics.

    None -> False; equals compares numerically when both numeric else by
    string; ordering operators coerce with float(); between is inclusive
    [min,max]; any coercion error -> False.
    """
    if actual_value is None:
        return False
    op = normalize_operator(operator)
    try:
        if op == "equals":
            if isinstance(actual_value, (int, float)) and isinstance(expected_value, (int, float)):
                return actual_value == expected_value
            return str(actual_value) == str(expected_value)
        if op == "not_equals":
            if isinstance(actual_value, (int, float)) and isinstance(expected_value, (int, float)):
                return actual_value != expected_value
            return str(actual_value) != str(expected_value)
        if op == "greater_than":
            return float(actual_value) > float(expected_value)
        if op == "less_than":
            return float(actual_value) < float(expected_value)
        if op == "greater_or_equal":
            return float(actual_value) >= float(expected_value)
        if op == "less_or_equal":
            return float(actual_value) <= float(expected_value)
        if op == "between":
            if isinstance(expected_value, (list, tuple)) and len(expected_value) == 2:
                return float(expected_value[0]) <= float(actual_value) <= float(expected_value[1])
            return False
        return False
    except (ValueError, TypeError):
        return False


def _expected_bounds(rule: Rule) -> tuple[float, float]:
    """Numeric (lo, hi) bounds for the compiled SQL CASE. The distributed
    executor only evaluates numeric comparisons (every generated V1-V20
    rule is numeric); a clear error here beats the bare float() crash —
    string-equality rules belong on the row-level ``evaluate_rule`` path.
    """
    try:
        if normalize_operator(rule.operator) == "between":
            if (not isinstance(rule.expected_value, (list, tuple))
                    or len(rule.expected_value) != 2):
                raise ValueError("between needs a (lo, hi) pair")
            return float(rule.expected_value[0]), float(rule.expected_value[1])
        v = float(rule.expected_value)
        return v, v
    except (ValueError, TypeError) as exc:
        raise ValueError(
            f"rule {rule.name!r}: run_rules compares NUMERIC expected "
            f"values in SQL; got {rule.expected_value!r} for operator "
            f"{rule.operator!r} (use evaluate_rule for string equality)"
        ) from exc


# SQL CASE mirroring evaluate_rule for numeric actuals — dialect-common text.
IS_VALID_CASE = (
    "case when actual_value is null then false "
    "when operator = 'equals' then actual_value = expected_lo "
    "when operator = 'not_equals' then actual_value <> expected_lo "
    "when operator = 'greater_than' then actual_value > expected_lo "
    "when operator = 'less_than' then actual_value < expected_lo "
    "when operator = 'greater_or_equal' then actual_value >= expected_lo "
    "when operator = 'less_or_equal' then actual_value <= expected_lo "
    "when operator = 'between' then actual_value >= expected_lo "
    "and actual_value <= expected_hi else false end"
)


# ---------------------------------------------------------------------------
# V1-V20 default rule generation from a TableSpec
# ---------------------------------------------------------------------------

def _is_numeric(bucket: str) -> bool:
    return bucket == "numeric"


def guess_start_date_column(end_col: str, spec: TableSpec) -> str | None:
    """default_validations.py:391-425 heuristic."""
    term_map = {"end": "start", "finish": "start", "completed": "created",
                "closed": "opened", "expiry": "issue", "expiration": "issue"}
    low = end_col.lower()
    found = next((t for t in term_map if t in low), None)
    if found:
        candidate = low.replace(found, term_map[found])
        for c in spec.columns:
            if c.name.lower() == candidate:
                return c.name
    start_ind = ["start", "created", "opened", "issue", "begin"]
    date_ind = ["date", "time", "timestamp", "dt"]
    for c in spec.columns:
        n = c.name.lower()
        if any(s in n for s in start_ind) and any(d in n for d in date_ind):
            return c.name
    return None


def spec_from_dataframe(
    df,
    table_name: str,
    primary_keys: tuple[str, ...] = (),
    foreign_keys: tuple[tuple[str, str, str], ...] = (),
) -> TableSpec:
    """Derive a TableSpec from a DataFrame's schema so default rules can be
    generated for ANY table, not just the declared testdata catalog — the
    reference's path from warehouse introspection to rule generation
    (collector.py:74-99 -> default_validations.py). Keys are caller-supplied
    (parquet carries no PK/FK metadata — SURVEY §1.1)."""
    import re

    from sparvi_spark.operators.profile import type_bucket
    from sparvi_spark.testdata import ColumnSpec

    # rule generation interpolates column names into SQL text; reject
    # names that would misparse rather than emit broken expressions
    bad = [f.name for f in df.schema.fields
           if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", f.name)]
    if bad:
        raise ValueError(
            f"column names {bad} are not simple identifiers; rename them "
            "(e.g. withColumnRenamed) before generating default rules")
    cols = tuple(
        ColumnSpec(f.name, type_bucket(f.dataType), f.nullable)
        for f in df.schema.fields
    )
    return TableSpec(table_name, cols, primary_keys=tuple(primary_keys),
                     foreign_keys=tuple(foreign_keys))


def generate_default_rules(spec: TableSpec, as_of: str = DEFAULT_AS_OF) -> list[Rule]:
    t = spec.name
    pks = set(spec.primary_keys)
    fks = {c for c, _rt, _rc in spec.foreign_keys}
    rules: list[Rule] = []

    # V1 table not empty
    rules.append(Rule(f"check_{t}_not_empty", f"Ensure {t} has at least one row",
                      "greater_than", 0, "agg", agg_expr="count(*)"))
    # V2 PK uniqueness
    if spec.primary_keys:
        rules.append(Rule(f"check_{t}_pk_unique",
                          f"Ensure primary key ({', '.join(spec.primary_keys)}) has no duplicates",
                          "equals", 0, "group_dup", keys=tuple(spec.primary_keys)))
    # V4 name-pattern uniqueness (non-PK, non-FK)
    for c in spec.columns:
        if c.name in pks or c.name in fks:
            continue
        if any(p in c.name.lower() for p in UNIQUE_NAME_PATTERNS):
            rules.append(Rule(f"check_{c.name}_unique", f"Check that {c.name} values are unique",
                              "equals", 0, "group_dup", keys=(c.name,), not_null_key=True))
    # V5 not-null for non-nullable non-PK columns
    for c in spec.columns:
        if not c.nullable and c.name not in pks:
            rules.append(Rule(f"check_{c.name}_not_null", f"Ensure {c.name} has no NULLs",
                              "equals", 0, "agg",
                              agg_expr=f"count(case when {c.name} is null then 1 end)"))
    # V6 no negatives unless name allows
    for c in spec.columns:
        if _is_numeric(c.bucket) and not any(p in c.name.lower() for p in NEGATIVE_ALLOWED_PATTERNS):
            rules.append(Rule(f"check_{c.name}_positive", f"Ensure {c.name} has no negatives",
                              "equals", 0, "agg",
                              agg_expr=f"count(case when {c.name} < 0 then 1 end)"))
    # V7 no zeros for money-like names
    for c in spec.columns:
        if _is_numeric(c.bucket) and any(p in c.name.lower() for p in NON_ZERO_PATTERNS):
            rules.append(Rule(f"check_{c.name}_not_zero", f"Ensure {c.name} has no zeros",
                              "equals", 0, "agg",
                              agg_expr=f"count(case when {c.name} = 0 then 1 end)"))
    # V8/V9/V10 date rules
    for c in spec.columns:
        if c.bucket != "datetime":
            continue
        if any(p in c.name.lower() for p in PAST_DATE_PATTERNS):
            rules.append(Rule(f"check_{c.name}_not_future", f"Ensure {c.name} has no future dates",
                              "equals", 0, "agg",
                              agg_expr=f"count(case when {c.name} > timestamp '{as_of}' then 1 end)"))
        rules.append(Rule(f"check_{c.name}_reasonable_past",
                          f"Ensure {c.name} has no pre-1970 dates", "equals", 0, "agg",
                          agg_expr=f"count(case when {c.name} < timestamp '1970-01-01 00:00:00' then 1 end)"))
        if any(p in c.name.lower() for p in END_DATE_PATTERNS):
            start = guess_start_date_column(c.name, spec)
            if start and start != c.name:
                rules.append(Rule(f"check_{c.name}_end_date_order",
                                  f"Ensure {c.name} occurs after {start}", "equals", 0, "agg",
                                  agg_expr=(f"count(case when {c.name} is not null and {start} "
                                            f"is not null and {c.name} < {start} then 1 end)")))
    # V11/V12/V13/V14/V15 string rules
    for c in spec.columns:
        if c.bucket != "text":
            continue
        if c.max_length is not None:
            rules.append(Rule(f"check_{c.name}_max_length",
                              f"Ensure {c.name} fits declared length {c.max_length}",
                              "equals", 0, "agg",
                              agg_expr=f"count(case when length({c.name}) > {c.max_length} then 1 end)"))
        if not c.nullable:
            rules.append(Rule(f"check_{c.name}_not_empty_string",
                              f"Ensure {c.name} has no empty strings", "equals", 0, "agg",
                              agg_expr=f"count(case when {c.name} = '' then 1 end)"))
        low = c.name.lower()
        if "email" in low:
            rules.append(Rule(f"check_{c.name}_valid_email", f"Ensure {c.name} looks like email",
                              "equals", 0, "agg",
                              agg_expr=(f"count(case when {c.name} is not null and "
                                        f"{c.name} not like '%@%.%' then 1 end)")))
        if "phone" in low or "mobile" in low:
            # SIMILAR TO '(\+)?[0-9][0-9 ()-]+' is implicitly anchored ->
            # anchored rlike translation (SURVEY §7.7). `[+]` instead of `\+`
            # because Spark SQL literals eat backslashes and DuckDB doesn't.
            rules.append(Rule(f"check_{c.name}_valid_phone", f"Ensure {c.name} looks like phone",
                              "equals", 0, "agg",
                              agg_expr=(f"count(case when {c.name} is not null and not "
                                        f"regexp_like({c.name}, '^([+])?[0-9][0-9 ()-]+$') "
                                        f"then 1 end)")))
        if "zip" in low or "postal" in low:
            rules.append(Rule(f"check_{c.name}_valid_postal", f"Ensure {c.name} length >= 3",
                              "equals", 0, "agg",
                              agg_expr=(f"count(case when {c.name} is not null and "
                                        f"length(trim({c.name})) < 3 then 1 end)")))
    # V16 3σ outliers per numeric column
    for c in spec.columns:
        if _is_numeric(c.bucket):
            rules.append(Rule(f"check_{c.name}_outliers",
                              f"Extreme outliers in {c.name} (>3 sample stddev)",
                              "less_than", outlier_threshold(t), "outlier", column=c.name))
    # V17 reference-table size
    if any(p in t.lower() for p in REF_TABLE_PATTERNS):
        rules.append(Rule(f"check_{t}_ref_table_size", f"Reference table {t} is small",
                          "less_than", 1000, "agg", agg_expr="count(*)"))
    # V18 null-rate threshold for important nullable columns
    for c in spec.columns:
        if c.name in pks or not c.nullable:
            continue
        if any(p in c.name.lower() for p in IMPORTANT_COLUMN_PATTERNS):
            rules.append(Rule(f"check_{c.name}_null_rate", f"{c.name} null rate below 25%",
                              "less_than", 25.0, "agg",
                              agg_expr=(f"count(case when {c.name} is null then 1 end) "
                                        f"* cast(100 as double) / nullif(count(*), 0)")))
    # V19 categorical dominance
    for c in spec.columns:
        if c.bucket == "text" and any(p in c.name.lower() for p in CATEGORICAL_COLUMN_PATTERNS):
            rules.append(Rule(f"check_{c.name}_distribution",
                              f"No value of {c.name} exceeds 95% share",
                              "equals", 0, "dominance", column=c.name))
    # V20 FK distinct breadth. The reference emits COUNT(DISTINCT fk)=1
    # (default_validations.py:373-386); we compile the equivalent
    # `count>0 AND min=max` (true iff exactly one distinct non-null value):
    # a COUNT(DISTINCT) here forces Spark's expand+gid plan, replicating the
    # whole fact table once per distinct aggregate before the shuffle.
    for c, _rt, _rc in spec.foreign_keys:
        rules.append(Rule(f"check_{c}_ref_distribution", f"{c} references >1 distinct value",
                          "equals", 0, "agg",
                          agg_expr=(f"case when count({c}) > 0 and min({c}) = max({c}) "
                                    f"then 1 else 0 end")))
    # V21 referential integrity per declared FK
    for c, rt, rc in spec.foreign_keys:
        rules.append(Rule(f"check_{c}_ref_integrity", f"{t}.{c} -> {rt}.{rc} has no orphans",
                          "equals", 0, "ref_integrity", column=c, ref_table=rt, ref_column=rc))
    return rules


def row_growth_rule_vs(table_name: str, previous: int) -> Rule:
    """V3 with the previous count inlined as a literal: compiles into the
    fused pass-A aggregate like any scalar rule (the reference's generated
    CTE compares against its own metrics store, default_validations.py:71-97;
    here the engine fetches the prior row_count scalar and bakes it in, so
    evaluation needs no second table)."""
    prev = int(previous)
    return Rule(f"check_{table_name}_row_growth",
                f"Detect >20% change in {table_name} row count",
                "equals", 0, "agg",
                agg_expr=(f"case when abs(count(*) - {prev}) > {prev} * 0.2 "
                          f"then 1 else 0 end"))


# ---------------------------------------------------------------------------
# compilation: rules -> batched Spark jobs -> long results DataFrame
# ---------------------------------------------------------------------------

_STATS_SX = ("cast(sum(cast({c} as decimal(28,8))) as double)")
# Squares via decimal(19,4) x decimal(18,4): Spark product precision is
# exactly 19+18+1 = 38 (no precision-loss scale adjustment), DuckDB's is 37 —
# both keep scale 8 exactly, so engines agree bit-for-bit. Both operands
# round the value at scale 4, and |value| < 10^14 fits either operand
# (the previous decimal(12,4) overflowed-to-NULL at |value| >= 10^8).
_STATS_SXX = ("cast(sum(cast({c} as decimal(19,4)) "
              "* cast({c} as decimal(18,4))) as double)")


def run_rules(
    df: DataFrame,
    rules: list[Rule],
    ref_tables: dict[str, DataFrame] | None = None,
    spark: SparkSession | None = None,
    unique_refs: frozenset[str] | set[str] = frozenset(),
) -> DataFrame:
    """Execute rules against ``df`` -> a local relation
    (rule_name, operator, expected_lo, expected_hi, actual_value, is_valid)
    with one row per rule.

    Exactly TWO full-table passes regardless of rule count, plus one keyed
    shuffle per uniqueness rule and one melted groupBy for dominance rules
    (``_rule_pieces`` has the layout). All pieces run as ONE action, so
    pass A, pass B, uniqueness and dominance stages schedule concurrently
    in a single job, and pass A is persisted so its wide aggregation scan
    runs once for both of its consumers.

    The run is eager: labels and bounds are computed first (a non-numeric
    expected value raises before any Spark job), the pieces are built and
    collected inside this call's own ``scoped_caches()`` — one value per
    rule, bounded by the driver-side rule list — and pass A's cache entry
    is released before returning, so a monitor calling this per table per
    day adds none. The returned relation carries the values as data and
    never re-executes the rules.
    """
    spark = spark or df.sparkSession
    labels = _rule_labels(rules)
    with scoped_caches():
        pieces = _rule_pieces(spark, df, rules, ref_tables or {},
                              unique_refs, share_pass_a=True)
        values = reduce(DataFrame.unionAll, pieces).collect() if pieces else []
    return _result_relation(spark, [(None, labels, values)]).drop("table_name")


def _rule_labels(rules: list[Rule]) -> list[tuple[str, str, float, float]]:
    """(rule_name, operator, expected_lo, expected_hi) per rule, by
    position; raises on a non-numeric expected value."""
    return [(r.name, normalize_operator(r.operator), *_expected_bounds(r))
            for r in rules]


def _stacked(row: DataFrame, cols: list[tuple[int, str]]) -> DataFrame:
    """Unpivot a one-row aggregate's ``(rule_idx, column)`` pairs to
    (rule_idx, actual_value) rows."""
    body = ", ".join(f"{i}, {c}" for i, c in cols)
    return row.select(F.expr(
        f"stack({len(cols)}, {body}) as (rule_idx, actual_value)"))


def _rule_pieces(
    spark: SparkSession,
    df: DataFrame,
    rules: list[Rule],
    ref_tables: dict[str, DataFrame],
    unique_refs: frozenset[str] | set[str],
    share_pass_a: bool,
) -> list[DataFrame]:
    """Compile ``rules`` into frames of (rule_idx int, actual_value double),
    ``rule_idx`` being the rule's position in ``rules``. Names, operators
    and expected values never enter Spark: apart from each rule's own
    expression, the only literals in the SQL text below are numbers, and
    ``_result_relation`` attaches the labels on the driver.

    - pass A (one scan): every scalar-aggregate rule in one wide
      ``df.agg``, unpivoted via ``stack``.
    - pass B (one scan): every FK orphan count, the dims attached as
      broadcast left joins (N referential checks cost one probe pass, not
      N anti-join scans), and every 3σ-outlier count, its bounds read from
      a one-row sum/sumsq/count stats aggregate attached as a broadcast
      cross-join (same IEEE double op order as the oracle SQL: avg = sx/n;
      std = sqrt(greatest((sxx - sx*sx/n)/(n-1), 0)); bound avg±3σ; n<=1
      or an all-null column -> NULL bound -> NULL predicate -> 0).
    - one keyed groupBy per uniqueness rule, one melted groupBy for every
      dominance rule, one scalar per custom-SQL rule.

    ``share_pass_a`` folds the outlier stats into pass A's aggregate and
    persists it through ``scoped_persist``: the unpivot and the bounds
    project different columns, so ReusedExchange cannot dedup them, and
    without the persist the wide scan runs twice. That fits one action
    over every piece (``run_rules``, which opens the scope). Without it
    the stats are pass B's own subtree and nothing is persisted — the
    static plans ``PreparedRulesMulti`` runs as separate actions.
    """
    def of(kind: str) -> list[tuple[int, Rule]]:
        return [(i, r) for i, r in enumerate(rules) if r.kind == kind]

    agg_rules, out_rules, ref_rules = of("agg"), of("outlier"), of("ref_integrity")
    pieces: list[DataFrame] = []

    # ---- pass A: fused scalar aggregates (+ outlier stats when shared) ----
    agg_exprs = [F.expr(r.agg_expr).cast("double").alias(f"a{i}")
                 for i, r in agg_rules]
    stat_exprs = []
    for i, r in out_rules:
        c = r.column
        stat_exprs += [F.expr(f"count({c})").alias(f"__n{i}"),
                       F.expr(_STATS_SX.format(c=c)).alias(f"__sx{i}"),
                       F.expr(_STATS_SXX.format(c=c)).alias(f"__sxx{i}")]
    if share_pass_a and agg_rules and out_rules:
        pass_a = stats = scoped_persist(df.agg(*agg_exprs, *stat_exprs))
    else:
        pass_a = df.agg(*agg_exprs) if agg_rules else None
        stats = df.agg(*stat_exprs) if out_rules else None
    if agg_rules:
        pieces.append(_stacked(pass_a, [(i, f"a{i}") for i, _r in agg_rules]))

    # ---- pass B: fused FK orphan counts + outlier counts ------------------
    if ref_rules or out_rules:
        d = df
        exprs_b = []
        for i, r in ref_rules:
            ref = ref_tables[r.ref_table].select(F.col(r.ref_column).alias(f"__rk{i}"))
            # distinct guards against row multiplication under duplicate ref
            # keys; when the ref column is a declared PK (unique_refs) the
            # guard is skipped — at warehouse scale that saves a full shuffle
            # of the dimension before the broadcast build.
            if r.ref_table not in unique_refs:
                ref = ref.distinct()
            d = d.join(F.broadcast(ref), F.col(r.column) == F.col(f"__rk{i}"), "left")
            exprs_b.append(
                F.count(F.when(F.col(r.column).isNotNull()
                               & F.col(f"__rk{i}").isNull(), 1))
                .cast("double").alias(f"b{i}"))
        if out_rules:
            bound_exprs = []
            for i, _r in out_rules:
                n, sx, sxx = f"__n{i}", f"__sx{i}", f"__sxx{i}"
                avg = f"({sx} / {n})"
                std = (f"(case when {n} > 1 then sqrt(greatest("
                       f"({sxx} - ({sx}*{sx})/{n})/({n} - 1), "
                       f"cast(0 as double))) end)")
                bound_exprs += [F.expr(f"{avg} + 3 * {std}").alias(f"__hi{i}"),
                                F.expr(f"{avg} - 3 * {std}").alias(f"__lo{i}")]
            d = d.join(F.broadcast(stats.select(*bound_exprs)))
            for i, r in out_rules:
                c = F.col(r.column)
                cond = (c > F.col(f"__hi{i}")) | (c < F.col(f"__lo{i}"))
                exprs_b.append(F.count(F.when(cond, 1)).cast("double").alias(f"b{i}"))
        pieces.append(_stacked(d.agg(*exprs_b),
                               [(i, f"b{i}") for i, _r in ref_rules + out_rules]))

    # ---- uniqueness: one keyed groupBy each ------------------------------
    for i, r in of("group_dup"):
        d = df.na.drop(subset=list(r.keys)) if r.not_null_key else df
        pieces.append(
            d.groupBy(*r.keys).agg(F.count(F.lit(1)).alias("__c"))
            .where(F.col("__c") > 1)
            .agg(F.count(F.lit(1)).cast("double").alias("actual_value"))
            .select(F.lit(i).alias("rule_idx"), "actual_value"))

    # ---- dominance: ONE aggregation, no joins ----------------------------
    # Melt keyed by rule_idx (nulls kept so sum(cnt) = total table rows, the
    # reference's pct denominator), group to per-rule (value, cnt) lists —
    # dominance columns are categorical by the name heuristic, so
    # cardinality is bounded — and count values whose share exceeds 95%
    # with an array expression. A sentinel row per rule (unioned map-side,
    # no extra stage) keeps a result row per rule even on an empty table;
    # its cnt is subtracted from the total.
    dom_rules = of("dominance")
    if dom_rules:
        melt = ", ".join(f"{i}, cast(`{r.column}` as string)" for i, r in dom_rules)
        melted = df.select(F.expr(
            f"stack({len(dom_rules)}, {melt}) as (rule_idx, value)"))
        idxs = ", ".join(str(i) for i, _r in dom_rules)
        sentinel = spark.range(1).selectExpr(
            f"explode(array({idxs})) as rule_idx", "cast(null as string) as value")
        pieces.append(
            melted.unionAll(sentinel)
            .groupBy("rule_idx", "value")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .groupBy("rule_idx")
            .agg((F.sum("cnt") - 1).alias("__tot"),
                 F.collect_list(F.when(F.col("value").isNotNull(),
                                       F.col("cnt"))).alias("__cnts"))
            .select("rule_idx", F.expr(
                "cast(size(filter(__cnts, c -> c * 100.0 / __tot > 95.0)) "
                "as double)").alias("actual_value")))

    # ---- custom SQL: one scalar each --------------------------------------
    for i, r in of("sql"):
        res = spark.sql(r.sql)
        # first() over limit(1), NOT limit(1).select(...): a custom query
        # returning ZERO rows must still surface as one (rule, NULL) row —
        # IS_VALID_CASE then marks it invalid — instead of silently
        # vanishing from the report as if the rule never ran
        pieces.append(res.limit(1).agg(
            F.first(F.col(res.columns[0]).cast("double")).alias("actual_value"))
            .select(F.lit(i).alias("rule_idx"), "actual_value"))
    return pieces


def _result_relation(
    spark: SparkSession,
    results: list[tuple[str | None, list[tuple], list]],
) -> DataFrame:
    """Label collected (rule_idx, actual_value) rows on the driver and emit
    them as one Arrow local relation (``functions.local_df``): (table_name,
    rule_name, operator, expected_lo, expected_hi, actual_value, is_valid).

    ``results`` holds (table_name, labels, rows) per table or piece; each
    row takes ``labels[rule_idx]`` — rule names and operators arrive as
    Python data, whatever quotes or backslashes they hold, and no
    downstream action starts a Python worker. ``is_valid`` is the same SQL
    CASE the oracle uses, so verdicts are bit-identical to it."""
    rows = [(tname, *labels[idx], value)
            for tname, labels, values in results for idx, value in values]
    return local_df(
        spark, rows,
        "table_name string, rule_name string, operator string, "
        "expected_lo double, expected_hi double, actual_value double",
    ).selectExpr("*", f"{IS_VALID_CASE} AS is_valid")


class PreparedRulesMulti:
    """Rule suites for MANY tables compiled once, executed per run with
    CONCURRENT jobs — the engine's scheduled-validation execution mode.

    It shares ``run_rules``' compiler (``_rule_pieces``) and result
    labelling (``_result_relation``); only the scheduling differs. A
    multi-table rule suite is dozens of small independent stages, and one
    action schedules them with enough serialization that per-stage latency
    dominates (measured 5.6s for ~25 stages at sf0.1 where the summed
    compute is <1s). Instead every piece is its own SMALL action, and
    ``run()`` submits them all from a driver thread pool — the same fan-out
    the reference runs with its 10-thread rule executor
    (routes/validations.py:786-789), but per table-pass, not per rule.

    Every piece is a STATIC plan (no data-dependent literals, nothing
    persisted): pass B reads its outlier bounds from a broadcast of its own
    stats subtree, so values are bit-identical to ``run_rules``, frames
    analyze/codegen once at prepare time and repeated ``run()`` calls are
    pure execution (prepared-statement semantics; Catalyst planning at
    ~0.2s/plan dominates sub-second queries, DuckDB-style engines plan in
    µs). Labels and bounds are computed here too, so a non-numeric
    expected value raises at prepare time.

    Scalars come back to the driver (a few hundred doubles — the reference
    materializes every rule result too, manager:442-483), keyed by rule
    position. Full-table scans and shuffles all stay distributed; at
    cluster scale concurrent actions are exactly how a scheduler-bound
    many-small-queries workload keeps executors saturated
    (spark.scheduler.mode=FAIR on a shared cluster).
    """

    def __init__(
        self,
        inputs: list[tuple[str, DataFrame, list["Rule"],
                           dict[str, DataFrame] | None,
                           frozenset[str] | set[str]]],
    ):
        if not inputs:
            raise ValueError("PreparedRulesMulti: empty inputs — nothing to prepare")
        self.spark = inputs[0][1].sparkSession
        # (table_name, labels, piece): each piece's rows key into its
        # table's labels by position
        self.jobs: list[tuple[str, list[tuple], DataFrame]] = []
        for tname, df, rules, ref_tables, unique_refs in inputs:
            labels = _rule_labels(rules)
            self.jobs += [(tname, labels, piece) for piece in _rule_pieces(
                self.spark, df, rules, ref_tables or {},
                unique_refs or frozenset(), share_pass_a=False)]

    def run(self) -> DataFrame:
        """Collect every piece concurrently; assemble the result relation
        (table_name, rule_name, operator, expected_lo, expected_hi,
        actual_value, is_valid)."""
        return collect_rule_jobs(self.spark, self.jobs)


def collect_rule_jobs(
    spark: SparkSession,
    jobs: list[tuple[str, list[tuple], DataFrame]],
) -> DataFrame:
    """Concurrently collect prepared rule-piece frames (possibly spanning
    several ``PreparedRulesMulti`` instances on sibling sessions) and
    assemble one result relation. Jobs on sibling ``newSession()``s plan and
    execute without contending on the parent's session state; the result
    relation is built on ``spark``."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(16) as pool:
        values = list(pool.map(lambda j: j[2].collect(), jobs))
    return _result_relation(
        spark, [(tname, labels, v) for (tname, labels, _df), v in zip(jobs, values)])


def run_validations(
    df: DataFrame,
    rules: list[Rule],
    ref_tables: dict[str, DataFrame] | None = None,
    run_at: str | None = None,
) -> list[dict]:
    """Materialize rule results as the reference's result records
    (supabase_validation_manager.py:442-483 shape)."""
    ts = run_at or _dt.datetime.now(_dt.timezone.utc).isoformat()
    by_name = {r.name: r for r in rules}
    out = []
    for row in run_rules(df, rules, ref_tables).collect():
        r = by_name[row["rule_name"]]
        out.append({
            "rule_name": r.name,
            "description": r.description,
            "operator": r.operator,
            "expected_value": r.expected_value,
            "actual_value": row["actual_value"],
            "is_valid": bool(row["is_valid"]) if row["is_valid"] is not None else False,
            "run_at": ts,
        })
    return out


# ---------------------------------------------------------------------------
# DuckDB oracle SQL generation from the same Rule objects
# ---------------------------------------------------------------------------

def _q(s: str) -> str:
    """A DuckDB string literal's body: DuckDB only doubles quotes (a
    backslash is an ordinary character there, unlike in Spark SQL)."""
    return s.replace("'", "''")


def rule_oracle_scalar(rule: Rule, table: str) -> str:
    """Scalar SELECT computing the rule's actual value in DuckDB."""
    if rule.kind == "agg":
        # regexp_like (Spark) -> regexp_matches (DuckDB); fragments are
        # otherwise dialect-common.
        frag = rule.agg_expr.replace("regexp_like(", "regexp_matches(")
        return f"SELECT cast({frag} as double) FROM {table}"
    if rule.kind == "group_dup":
        keys = ", ".join(rule.keys)
        where = ""
        if rule.not_null_key:
            where = "WHERE " + " AND ".join(f"{k} IS NOT NULL" for k in rule.keys)
        return (f"SELECT cast(count(*) as double) FROM (SELECT {keys} FROM {table} "
                f"{where} GROUP BY {keys} HAVING count(*) > 1) g")
    if rule.kind == "dominance":
        c = rule.column
        return (f"SELECT cast(count(*) as double) FROM ("
                f"SELECT {c}, count(*) * cast(100 as double) / "
                f"nullif((SELECT count(*) FROM {table}), 0) AS pct "
                f"FROM {table} WHERE {c} IS NOT NULL GROUP BY {c}) v WHERE pct > 95.0")
    if rule.kind == "outlier":
        c = rule.column
        sx = _STATS_SX.format(c=c)
        sxx = _STATS_SXX.format(c=c)
        return (
            f"SELECT cast(count(case when {c} > __avg + 3 * __std or "
            f"{c} < __avg - 3 * __std then 1 end) as double) FROM {table}, "
            f"(SELECT __sx / __n AS __avg, case when __n > 1 then "
            f"sqrt(greatest((__sxx - (__sx*__sx)/__n)/(__n - 1), 0.0)) end AS __std "
            f"FROM (SELECT count({c}) AS __n, {sx} AS __sx, {sxx} AS __sxx "
            f"FROM {table}) s) b"
        )
    if rule.kind == "ref_integrity":
        return (f"SELECT cast(count(*) as double) FROM {table} t LEFT JOIN "
                f"(SELECT DISTINCT {rule.ref_column} AS __rk FROM {rule.ref_table}) r "
                f"ON t.{rule.column} = r.__rk "
                f"WHERE t.{rule.column} IS NOT NULL AND r.__rk IS NULL")
    if rule.kind == "sql":
        return rule.sql
    raise ValueError(rule.kind)


def rules_oracle_sql(rules: list[Rule], table: str) -> str:
    """Full oracle: (rule_name, operator, expected_lo/hi, actual, is_valid)."""
    parts = []
    for r in rules:
        lo, hi = _expected_bounds(r)
        parts.append(
            f"SELECT '{_q(r.name)}' AS rule_name, "
            f"'{normalize_operator(r.operator)}' AS operator, "
            f"cast({lo} as double) AS expected_lo, cast({hi} as double) AS expected_hi, "
            f"({rule_oracle_scalar(r, table)}) AS actual_value"
        )
    inner = " UNION ALL ".join(parts)
    return (f"SELECT rule_name, operator, expected_lo, expected_hi, actual_value, "
            f"{IS_VALID_CASE} AS is_valid FROM ({inner}) rules_eval")
