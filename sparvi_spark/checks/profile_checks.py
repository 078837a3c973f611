"""P1-P14 profiling checks (SURVEY.md §2.A) — Spark fn + DuckDB oracle pairs.

The Spark side renders the SQL-text builders of ``operators/profile.py``
— the text ``profile_table`` runs — over the testdata views, so a graded
slot grades the stored profile document's arithmetic (each ``*_sql``
slot text below takes its relations as arguments, so the same slot runs
over any frame). The DuckDB side is generated from the same column lists.
All means/stddevs derive from exact decimal sums (cross-engine
float-order determinism, SURVEY §7.1-2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from sparvi_spark.checks import table_views
from sparvi_spark.functions import ident, sql_str
from sparvi_spark.operators.profile import (
    aliased,
    datetime_sqls,
    distinct_sql,
    dup_count_sql,
    health_sql,
    integral_columns,
    nulls_sql,
    numeric_sqls,
    pct_sql,
    row_hash_sql,
    stage_sql,
    text_finish_sql,
    text_sqls,
    top_values_sql,
    type_bucket,
)
from sparvi_spark.testdata import SCHEMAS, TABLES, load_table

# Fixed reference instant for freshness/future-date checks so Spark and the
# oracle (run at different wall-clock moments) agree. The engine API uses
# current_timestamp by default; checks pin it (reference semantics use
# CURRENT_DATE — backend/core/anomalies/metrics.py:83).
AS_OF = "2026-01-01 00:00:00"

LINEITEM_NUM = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                "l_quantity", "l_extendedprice", "l_discount", "l_tax"]
LINEITEM_ALL = SCHEMAS["lineitem"].column_names
PCTL_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
DATE_COLS = [("orders", "o_orderdate"), ("lineitem", "l_shipdate"), ("events", "ts")]
STR_COLS = [("part", "p_name"), ("part", "p_brand"), ("part", "p_type"),
            ("customer", "c_name"), ("customer", "c_mktsegment")]
TOPV_COLS = [("orders", "o_orderstatus"), ("orders", "o_orderpriority"),
             ("lineitem", "l_returnflag"), ("lineitem", "l_linestatus")]
DUP_TABLES = ["lineitem", "orders", "documents", "nation"]


def _by_index(col: str, names: list[str]) -> str:
    """The name at position ``col`` of ``names``, as a CASE."""
    return ("case " + " ".join(f"when {col} = {i} then {sql_str(t)}"
                               for i, t in enumerate(names)) + " end")


# ---------------------------------------------------------------------------
# P1 row counts (all tables) + P9 full-row duplicate counts (DUP_TABLES)
# fused into one check: (table_name, row_count, duplicate_cnt|NULL)
# ---------------------------------------------------------------------------

def q_row_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE job, ~3 stages for all ten tables: each projects to (__tid, __h)
    # — duplicate_count's 8-byte ``row_hash_sql`` for the DUP_TABLES (the
    # shuffle never carries payload columns), NULL otherwise — and
    # ``dup_count_sql`` counts rows and duplicates per table (a per-table
    # union was 22 stages, scheduling-bound). A zero-row table would be
    # absent; the testdata tables never are. The key is an INT table id: a
    # (string, hash) key measured 0.81s vs 0.049s at sf0.1.
    v = table_views(spark, sf_dir, list(TABLES))
    parts = " UNION ALL ".join(
        f"SELECT {i} AS __tid, "
        + (row_hash_sql(load_table(spark, t, sf_dir).columns) if t in DUP_TABLES
           else "cast(null as bigint)")
        + f" AS __h FROM {v[t]}" for i, t in enumerate(TABLES))
    dup_pred = " or ".join(
        f"__tid = {i}" for i, t in enumerate(TABLES) if t in DUP_TABLES)
    return spark.sql(
        f"SELECT {_by_index('__tid', list(TABLES))} AS table_name, "
        f"cast(__rows as bigint) AS row_count, "
        f"cast(case when {dup_pred} then __dups end as bigint) "
        f"AS duplicate_cnt FROM ({dup_count_sql(f'({parts})', ['__h'], '__tid')})")


SQL_ROW_COUNTS = " UNION ALL ".join(
    (
        f"SELECT '{t}' AS table_name, cast(count(*) as bigint) AS row_count, "
        f"cast(count(*) - (SELECT count(*) FROM (SELECT DISTINCT * FROM {t}) d_{t}) "
        f"as bigint) AS duplicate_cnt FROM {t}"
        if t in DUP_TABLES else
        f"SELECT '{t}' AS table_name, cast(count(*) as bigint) AS row_count, "
        f"cast(NULL as bigint) AS duplicate_cnt FROM {t}"
    )
    for t in TABLES
)

# ---------------------------------------------------------------------------
# P2 null counts (lineitem, one scan for all columns)
# ---------------------------------------------------------------------------

def null_counts_sql(src: str, cols: list[str]) -> str:
    """p02 over ``src``: (column_name, null_cnt, null_pct), one scan."""
    aggs = ", ".join(f"{nulls_sql(c)} AS __{i}" for i, c in enumerate(cols))
    rows = ", ".join(f"{sql_str(c)}, __{i}, {pct_sql(f'__{i}', '__n', 6)}"
                     for i, c in enumerate(cols))
    return (f"SELECT stack({len(cols)}, {rows}) "
            f"AS (column_name, null_cnt, null_pct) "
            f"FROM (SELECT count(1) AS __n, {aggs} FROM {src})")


def q_null_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = table_views(spark, sf_dir, ["lineitem"])["lineitem"]
    return spark.sql(null_counts_sql(v, LINEITEM_ALL))


SQL_NULL_COUNTS = (
    "WITH w AS (SELECT count(*) AS __n, "
    + ", ".join(
        # cast: DuckDB integer sum() yields HUGEINT -> float64 in pandas,
        # which hash-mismatches Spark's bigint (ADVICE r01)
        f"cast(sum(case when {c} is null then 1 else 0 end) as bigint) as {c}__nulls"
        for c in LINEITEM_ALL
    )
    + " FROM lineitem) "
    + " UNION ALL ".join(
        f"SELECT '{c}' AS column_name, {c}__nulls AS null_cnt, "
        f"round({c}__nulls * cast(100 as double) / __n, 6) AS null_pct FROM w"
        for c in LINEITEM_ALL
    )
)

# ---------------------------------------------------------------------------
# P3 distinct counts / uniqueness (lineitem)
# ---------------------------------------------------------------------------

def distinct_counts_sql(src: str, cols: list[str]) -> str:
    """p03 over ``src``: (column_name, distinct_cnt, distinct_pct,
    is_unique). A union of per-column branches, each ``distinct_sql``
    over its column's explicit GROUP BY: every subtree hashes just its
    own column's values (a typed-slot melt of all columns into one key
    measured ~8% slower at sf0.1), the shuffle carries per-partition-
    deduped values bounded by column cardinality, and the distinct
    aggregate reuses that partitioning (no second exchange). A bare
    ``count(DISTINCT c), count(c)`` per branch measured 1.9x slower
    (median, sf0.1, SCALING.md)."""
    inner = " UNION ALL ".join(
        f"SELECT {sql_str(c)} AS column_name, {distinct_sql(c)} AS "
        f"distinct_cnt, coalesce(sum(case when {ident(c)} is not null "
        f"then __c end), 0) AS nonnull_cnt FROM (SELECT {ident(c)}, "
        f"count(1) AS __c FROM {src} GROUP BY {ident(c)})"
        for c in cols)
    return (f"SELECT column_name, distinct_cnt, "
            f"{pct_sql('distinct_cnt', 'nonnull_cnt', 6)} AS distinct_pct, "
            f"distinct_cnt = nonnull_cnt AS is_unique FROM ({inner})")


def q_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = table_views(spark, sf_dir, ["lineitem"])["lineitem"]
    return spark.sql(distinct_counts_sql(v, LINEITEM_ALL))


SQL_DISTINCT_COUNTS = (
    "WITH w AS (SELECT count(*) AS __n, "
    + ", ".join(
        f"count(distinct {c}) as {c}__d, count({c}) as {c}__nn" for c in LINEITEM_ALL
    )
    + " FROM lineitem) "
    + " UNION ALL ".join(
        f"SELECT '{c}' AS column_name, {c}__d AS distinct_cnt, "
        f"round({c}__d * cast(100 as double) / {c}__nn, 6) AS distinct_pct, "
        f"{c}__d = {c}__nn AS is_unique FROM w"
        for c in LINEITEM_ALL
    )
)

# ---------------------------------------------------------------------------
# P4 numeric stats (lineitem, one scan, decimal-exact sums)
# ---------------------------------------------------------------------------

def numeric_stats_sql(src: str, cols: list[str], integral: set[str]) -> str:
    """p04 over ``src``: ``numeric_sqls`` in the scaled lane plus its
    finish, one scan. The lane is exact for TPC-H's cent-valued money
    columns, where it equals ``profile_table``'s decimal lane."""
    stats = stage_sql(src, *numeric_sqls(
        cols, [f"__{i}" for i in range(len(cols))], "scaled", integral))
    rows = ", ".join(
        f"{sql_str(c)}, __{i}_cnt, __{i}_min, __{i}_max, "
        f"round(__{i}_sum_d, 4), __{i}_avg, __{i}_stddev, __{i}_zeros, "
        f"__{i}_negatives, __{i}_positives" for i, c in enumerate(cols))
    return (f"SELECT stack({len(cols)}, {rows}) AS (column_name, cnt, "
            f"min_val, max_val, sum_val, avg_val, stddev_val, zero_cnt, "
            f"negative_cnt, positive_cnt) FROM ({stats})")


def q_numeric_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = table_views(spark, sf_dir, ["lineitem"])["lineitem"]
    return spark.sql(numeric_stats_sql(
        v, LINEITEM_NUM,
        integral_columns(load_table(spark, "lineitem", sf_dir))))


def _sql_numeric_stats() -> str:
    aggs, rows = [], []
    for c in LINEITEM_NUM:
        # Squares via decimal(19,4)×decimal(18,4): one operand ≥19 digits
        # forces DuckDB onto int128 multiply (it does not widen int64×int64)
        aggs.append(
            f"count({c}) as {c}__cnt, cast(min({c}) as double) as {c}__min, "
            f"cast(max({c}) as double) as {c}__max, "
            f"sum(cast({c} as decimal(28,8))) as {c}__sum, "
            f"sum(cast({c} as decimal(19,4)) * cast({c} as decimal(18,4))) "
            f"as {c}__ssq, count(case when {c} = 0 then 1 end) as {c}__zeros, "
            f"count(case when {c} < 0 then 1 end) as {c}__negs, "
            f"count(case when {c} > 0 then 1 end) as {c}__pos")
        sx, sxx, n = (f"cast({c}__sum as double)", f"cast({c}__ssq as double)",
                      f"{c}__cnt")
        rows.append(
            f"SELECT '{c}' AS column_name, {n} AS cnt, {c}__min AS min_val, "
            f"{c}__max AS max_val, round({sx}, 4) AS sum_val, "
            f"round({sx}/{n}, 6) AS avg_val, case when {n} > 1 then "
            f"round(sqrt(greatest(({sxx} - ({sx}*{sx})/{n})/({n} - 1), 0.0)), 4) "
            f"end AS stddev_val, {c}__zeros AS zero_cnt, {c}__negs AS "
            f"negative_cnt, {c}__pos AS positive_cnt FROM w")
    return (f"WITH w AS (SELECT {', '.join(aggs)} FROM lineitem) "
            + " UNION ALL ".join(rows))


SQL_NUMERIC_STATS = _sql_numeric_stats()

# ---------------------------------------------------------------------------
# P5 exact percentiles / quartiles (linear interpolation — SURVEY §7.2)
# ---------------------------------------------------------------------------

def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sketch-then-refine exact quantiles: pass 1 brackets each quantile
    # with percentile_approx probes, pass 2 counts below-window and the
    # tiny in-window histogram, the driver interpolates the exact
    # neighbors. Same math and rounding as exact_percentiles; both
    # shuffles carry sketches / O(n/accuracy) groups instead of every
    # distinct value (the bucketed prefix-sum plan measured ~1.0s at
    # sf0.1, this ~0.4s) — see operators/profile.exact_percentiles_refine.
    from sparvi_spark.operators.profile import exact_percentiles_refine

    df = load_table(spark, "lineitem", sf_dir)
    return exact_percentiles_refine(df, PCTL_COLS)


SQL_PERCENTILES = (
    "WITH w AS (SELECT "
    + ", ".join(
        f"round(quantile_cont({c}, {p}), 6) as {c}__{tag}"
        for c in PCTL_COLS
        for p, tag in ((0.25, "p25"), (0.5, "p50"), (0.75, "p75"))
    )
    + " FROM lineitem) "
    + " UNION ALL ".join(
        f"SELECT '{c}' AS column_name, {c}__p25 AS p25, {c}__p50 AS p50, "
        f"{c}__p75 AS p75 FROM w"
        for c in PCTL_COLS
    )
)

# ---------------------------------------------------------------------------
# P6 date stats (min/max/future/past vs pinned AS_OF)
# ---------------------------------------------------------------------------

def _hours_behind(c: str) -> str:
    """P10 freshness: whole hours from max(c) to AS_OF."""
    return (f"cast(floor((cast(cast({sql_str(AS_OF)} as timestamp) as double)"
            f" - cast(max({ident(c)}) as double)) / cast(3600 as double)) "
            f"as bigint)")


def date_stats_sql(parts: list[tuple[str, str, str]]) -> str:
    """p06 over (table_name, relation, column) parts: ``datetime_sqls``
    plus P10 freshness (hours behind AS_OF), one aggregate per part."""
    out = []
    for t, src, c in parts:
        d = dict(datetime_sqls(c, AS_OF))
        out.append(
            f"SELECT {sql_str(t)} AS table_name, {sql_str(c)} AS column_name, "
            f"{d['min_ts']} AS min_ts, {d['max_ts']} AS max_ts, "
            f"{d['future']} AS future_cnt, {d['past']} AS past_cnt, "
            f"{_hours_behind(c)} AS hours_behind FROM {src}")
    return " UNION ALL ".join(out)


def q_date_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = table_views(spark, sf_dir, sorted({t for t, _ in DATE_COLS}))
    return spark.sql(date_stats_sql([(t, v[t], c) for t, c in DATE_COLS]))


SQL_DATE_STATS = " UNION ALL ".join(
    f"SELECT '{t}' AS table_name, '{c}' AS column_name, "
    f"strftime(min({c}), '%Y-%m-%d %H:%M:%S') AS min_ts, "
    f"strftime(max({c}), '%Y-%m-%d %H:%M:%S') AS max_ts, "
    f"count(case when {c} > TIMESTAMP '{AS_OF}' then 1 end) AS future_cnt, "
    f"count(case when {c} <= TIMESTAMP '{AS_OF}' then 1 end) AS past_cnt, "
    f"cast(floor((epoch(TIMESTAMP '{AS_OF}') - epoch(max({c}))) / 3600.0) as bigint) "
    f"AS hours_behind "
    f"FROM {t}"
    for t, c in DATE_COLS
)

# ---------------------------------------------------------------------------
# P7 string length stats
# ---------------------------------------------------------------------------

def _by_table(pairs: list[tuple[str, str]]) -> dict[str, list[str]]:
    out: dict[str, list[str]] = {}
    for t, c in pairs:
        out.setdefault(t, []).append(c)
    return out


def string_stats_sql(parts: list[tuple[str, str, list[str]]]) -> str:
    """p07 over (table_name, relation, columns) parts: ``text_sqls`` and
    the average-length finish, one aggregate per part."""
    out = []
    for t, src, cols in parts:
        aggs = [e for i, c in enumerate(cols)
                for e in aliased(text_sqls(c), f"__{i}")]
        rows = ", ".join(
            f"{sql_str(c)}, __{i}_cnt, __{i}_min_len, __{i}_max_len, "
            f"{text_finish_sql(f'__{i}')}, __{i}_empties"
            for i, c in enumerate(cols))
        out.append(
            f"SELECT {sql_str(t)} AS table_name, stack({len(cols)}, {rows}) "
            f"AS (column_name, cnt, min_len, max_len, avg_len, empty_cnt) "
            f"FROM (SELECT {', '.join(aggs)} FROM {src})")
    return " UNION ALL ".join(out)


def q_string_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    by_table = _by_table(STR_COLS)
    v = table_views(spark, sf_dir, list(by_table))
    return spark.sql(string_stats_sql(
        [(t, v[t], cols) for t, cols in by_table.items()]))


def _sql_string_stats() -> str:
    parts = []
    for t, cols in _by_table(STR_COLS).items():
        agg = ", ".join(
            f"count({c}) as {c}__cnt, cast(min(length({c})) as bigint) as {c}__minl, "
            f"cast(max(length({c})) as bigint) as {c}__maxl, "
            f"sum(cast(length({c}) as bigint)) as {c}__suml, "
            f"count(case when {c} = '' then 1 end) as {c}__empty"
            for c in cols
        )
        for c in cols:
            parts.append(
                f"SELECT '{t}' AS table_name, '{c}' AS column_name, {c}__cnt AS cnt, "
                f"{c}__minl AS min_len, {c}__maxl AS max_len, "
                f"round({c}__suml * cast(1 as double) / {c}__cnt, 4) AS avg_len, "
                f"{c}__empty AS empty_cnt FROM (SELECT {agg} FROM {t}) w_{t}"
            )
    return " UNION ALL ".join(parts)


SQL_STRING_STATS = _sql_string_stats()

# ---------------------------------------------------------------------------
# P8 top-K frequent values (melt + one window; deterministic tie-break)
# ---------------------------------------------------------------------------

def q_top_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ``top_values_sql``, the text profile_table's top-K runs, over every
    # table at once: ONE groupBy + ONE window for all (table, column)
    # pairs, per-table totals in one broadcast (13 stages -> ~6).
    by_table = _by_table(TOPV_COLS)
    tables = list(by_table)
    v = table_views(spark, sf_dir, tables)
    text = top_values_sql([(v[t], by_table[t]) for t in tables], 10)
    return spark.sql(
        f"SELECT {_by_index('part', tables)} AS table_name, column_name, "
        f"value, cnt, pct FROM ({text})")


def _sql_top_values() -> str:
    parts = []
    for t, cols in _by_table(TOPV_COLS).items():
        melt = " UNION ALL ".join(
            f"SELECT '{c}' AS column_name, cast({c} as varchar) AS value FROM {t} "
            f"WHERE {c} IS NOT NULL"
            for c in cols
        )
        parts.append(
            f"SELECT '{t}' AS table_name, column_name, value, cnt, "
            f"round(cnt * cast(100 as double) / (SELECT count(*) FROM {t}), 4) AS pct "
            f"FROM (SELECT column_name, value, count(*) AS cnt FROM ({melt}) m "
            f"GROUP BY column_name, value "
            f"QUALIFY row_number() OVER (PARTITION BY column_name "
            f"ORDER BY cnt DESC, value ASC) <= 10) ranked_{t}"
        )
    return " UNION ALL ".join(parts)


SQL_TOP_VALUES = _sql_top_values()

# ---------------------------------------------------------------------------
# P9 exact full-row duplicate counts
# ---------------------------------------------------------------------------

def q_duplicate_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ``dup_count_sql`` over every column: duplicate_count's exact path
    v = table_views(spark, sf_dir, DUP_TABLES)
    rows = {t: [ident(c) for c in load_table(spark, t, sf_dir).columns]
            for t in DUP_TABLES}
    return spark.sql(" UNION ALL ".join(
        f"SELECT {sql_str(t)} AS table_name, cast(__dups as bigint) "
        f"AS duplicate_cnt FROM ({dup_count_sql(v[t], rows[t])})"
        for t in DUP_TABLES))


SQL_DUPLICATE_COUNTS = " UNION ALL ".join(
    f"SELECT '{t}' AS table_name, cast(count(*) - "
    f"(SELECT count(*) FROM (SELECT DISTINCT * FROM {t}) d_{t}) as bigint) "
    f"AS duplicate_cnt FROM {t}"
    for t in DUP_TABLES
)

# ---------------------------------------------------------------------------
# P10 freshness (hours behind a pinned as-of instant)
# ---------------------------------------------------------------------------

def q_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = table_views(spark, sf_dir, ["events"])["events"]
    return spark.sql(f"SELECT {dict(datetime_sqls('ts', AS_OF))['max_ts']} "
                     f"AS max_ts, {_hours_behind('ts')} AS hours_behind "
                     f"FROM {v}")


SQL_FRESHNESS = (
    f"SELECT strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS max_ts, "
    f"cast(floor((epoch(TIMESTAMP '{AS_OF}') - epoch(max(ts))) / 3600.0) as bigint) "
    f"AS hours_behind FROM events"
)

# ---------------------------------------------------------------------------
# P11 regex pattern match rates
# ---------------------------------------------------------------------------

PATTERNS = [
    ("customer", "c_name", "^Customer#[0-9]{9}$"),
    ("documents", "text", "spark"),
    ("events", "props", '^\\{"k": [0-9]+\\}$'),
]


def q_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the match count is ``text.pattern_counts``' matched-rows aggregate
    from sparvi_spark.operators.text import pattern_count_sqls

    v = table_views(spark, sf_dir, sorted({t for t, _, _ in PATTERNS}))
    inner = " UNION ALL ".join(
        f"SELECT {sql_str(t)} AS table_name, {sql_str(c)} AS column_name, "
        f"count({ident(c)}) AS total_nonnull, "
        f"{pattern_count_sqls(c, pat)[0]} AS matching FROM {v[t]}"
        for t, c, pat in PATTERNS)
    return spark.sql(
        f"SELECT table_name, column_name, total_nonnull, matching, "
        f"total_nonnull - matching AS non_matching, "
        f"{pct_sql('matching', 'total_nonnull', 4)} AS match_pct "
        f"FROM ({inner})")


def _sql_pattern_match() -> str:
    parts = []
    for t, c, pat in PATTERNS:
        # DuckDB string literals are not backslash-escaped; only quote-escape.
        p = pat.replace("'", "''")
        parts.append(
            f"SELECT '{t}' AS table_name, '{c}' AS column_name, "
            f"count({c}) AS total_nonnull, "
            f"count(case when regexp_matches({c}, '{p}') then 1 end) AS matching, "
            f"count({c}) - count(case when regexp_matches({c}, '{p}') then 1 end) "
            f"AS non_matching, "
            f"round(count(case when regexp_matches({c}, '{p}') then 1 end) * 100.0 "
            f"/ count({c}), 4) AS match_pct FROM {t}"
        )
    return " UNION ALL ".join(parts)


SQL_PATTERN_MATCH = _sql_pattern_match()

# ---------------------------------------------------------------------------
# P12 column type distribution (schema walk; oracle uses typeof())
# ---------------------------------------------------------------------------

_DUCK_BUCKET_CASE = (
    "CASE WHEN ty LIKE '%[]' THEN 'other' "
    "WHEN ty IN ('TINYINT','SMALLINT','INTEGER','BIGINT','HUGEINT','FLOAT','DOUBLE') "
    "OR ty LIKE 'DECIMAL%' THEN 'numeric' "
    "WHEN ty = 'VARCHAR' THEN 'text' "
    "WHEN ty LIKE 'TIMESTAMP%' OR ty = 'DATE' THEN 'datetime' "
    "WHEN ty = 'BOOLEAN' THEN 'boolean' ELSE 'other' END"
)


def _sql_type_distribution() -> str:
    parts = []
    for t in TABLES:
        cols = SCHEMAS[t].column_names
        lst = ", ".join(f"typeof({c})" for c in cols)
        parts.append(
            f"SELECT '{t}' AS table_name, bucket, cast(count(*) as bigint) AS n_cols "
            f"FROM (SELECT {_DUCK_BUCKET_CASE} AS bucket FROM "
            f"(SELECT unnest([{lst}]) AS ty FROM (SELECT * FROM {t} LIMIT 1) r_{t}) "
            f"u_{t}) b_{t} GROUP BY bucket"
        )
    return " UNION ALL ".join(parts)


SQL_TYPE_DISTRIBUTION = _sql_type_distribution()

# ---------------------------------------------------------------------------
# P13 table health score (collector.py:661-687 heuristic; schema facts from
# the shared TableSpec on both sides, row count from data)
# ---------------------------------------------------------------------------

def _health(t: str, row_count: str) -> str:
    """``health_sql`` with the table's schema facts from its TableSpec."""
    spec = SCHEMAS[t]
    return health_sql(row_count, len(spec.columns),
                      sum(c.nullable for c in spec.columns),
                      bool(spec.primary_keys))


def q_health_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one count(1) per cached table view (see q_type_health)
    v = table_views(spark, sf_dir, list(TABLES))
    return spark.sql(" UNION ALL ".join(
        f"SELECT {sql_str(t)} AS table_name, {_health(t, 'count(1)')} "
        f"AS health_score FROM {v[t]}" for t in TABLES))


def _sql_health_scores() -> str:
    # health_sql's text is dialect-common
    return " UNION ALL ".join(
        f"SELECT '{t}' AS table_name, {_health(t, 'count(*)')} "
        f"AS health_score FROM {t}" for t in TABLES)


SQL_HEALTH_SCORES = _sql_health_scores()

# ---------------------------------------------------------------------------
# P14 data preview (deterministic: ordered by key, capped at 50)
# ---------------------------------------------------------------------------

def q_preview(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, "customer", sf_dir)
    return df.orderBy("c_custkey").limit(50)


SQL_PREVIEW = "SELECT * FROM customer ORDER BY c_custkey LIMIT 50"


# P12 type distribution + P13 health score fused into one sectioned check:
# (table_name, section, key, value) — both are tiny schema-derived facts.

def q_type_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One spark.sql statement: the type-distribution section is a
    driver-side schema walk, an inline VALUES literal (zero jobs); the
    health section is ``health_sql`` over one count(1) per cached table
    view (counts over cached relations read batch row counts, not rows;
    an empty table emits its row like the oracle does)."""
    v = table_views(spark, sf_dir, list(TABLES))
    dist_rows = []
    for t in TABLES:
        df = load_table(spark, t, sf_dir)
        counts: dict[str, int] = {}
        for f in df.schema.fields:
            b = type_bucket(f.dataType)
            counts[b] = counts.get(b, 0) + 1
        for b, n in sorted(counts.items()):
            dist_rows.append(f"('{t}', '{b}', cast({n} as bigint))")
    dist = (f"SELECT col1 AS table_name, 'type_dist' AS section, "
            f"col2 AS key, col3 AS value "
            f"FROM (VALUES {', '.join(dist_rows)})")
    health = " UNION ALL ".join(
        f"SELECT '{t}' AS table_name, 'health' AS section, "
        f"'score' AS key, {_health(t, 'count(1)')} AS value FROM {v[t]}"
        for t in TABLES)
    return spark.sql(f"{dist} UNION ALL {health}")


SQL_TYPE_HEALTH = (
    f"SELECT table_name, 'type_dist' AS section, bucket AS key, n_cols AS value "
    f"FROM ({SQL_TYPE_DISTRIBUTION}) td "
    f"UNION ALL "
    f"SELECT table_name, 'health' AS section, 'score' AS key, health_score AS value "
    f"FROM ({SQL_HEALTH_SCORES}) hs"
)


CHECKS = {
    # P9 duplicate counts live inside p01; P10 freshness inside p06; P13
    # health inside p12 (driver records at most 50 checks — see
    # checks.__init__.DRIVER_CHECK_CAP).
    "p01_row_counts": (q_row_counts, SQL_ROW_COUNTS),
    "p02_null_counts": (q_null_counts, SQL_NULL_COUNTS),
    "p03_distinct_counts": (q_distinct_counts, SQL_DISTINCT_COUNTS),
    "p04_numeric_stats": (q_numeric_stats, SQL_NUMERIC_STATS),
    "p05_percentiles": (q_percentiles, SQL_PERCENTILES),
    "p06_date_stats": (q_date_stats, SQL_DATE_STATS),
    "p07_string_stats": (q_string_stats, SQL_STRING_STATS),
    "p08_top_values": (q_top_values, SQL_TOP_VALUES),
    "p11_pattern_match": (q_pattern_match, SQL_PATTERN_MATCH),
    "p12_type_health": (q_type_health, SQL_TYPE_HEALTH),
    # p14 preview is melted into merged_checks.p14_misc_small since r6
    # (slot freed for a round-5 LLM-pipeline family); standalone shape
    # stays in EXTRA_CHECKS.
}

CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def q_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparvi_spark.operators.profile import correlation_matrix

    return correlation_matrix(load_table(spark, "lineitem", sf_dir), CORR_COLS)


def _sql_correlation() -> str:
    """Same decimal-exact sums + identical double fold as the operator —
    NOT DuckDB's corr() (float accumulation order would hash-differ)."""
    pairs = [(a, b) for i, a in enumerate(CORR_COLS)
             for b in CORR_COLS[i + 1:]]
    aggs, rows = [], []
    for i, (a, b) in enumerate(pairs):
        both = f"{a} IS NOT NULL AND {b} IS NOT NULL"
        aggs += [
            f"count(case when {both} then 1 end) AS n_{i}",
            f"sum(case when {both} then cast({a} as decimal(28,8)) end) AS sx_{i}",
            f"sum(case when {both} then cast({b} as decimal(28,8)) end) AS sy_{i}",
            f"sum(case when {both} then cast({a} as decimal(19,4)) "
            f"* cast({b} as decimal(18,4)) end) AS sxy_{i}",
            f"sum(case when {both} then cast({a} as decimal(19,4)) "
            f"* cast({a} as decimal(18,4)) end) AS sxx_{i}",
            f"sum(case when {both} then cast({b} as decimal(19,4)) "
            f"* cast({b} as decimal(18,4)) end) AS syy_{i}",
        ]
        n = f"cast(n_{i} as double)"
        sx, sy = f"cast(sx_{i} as double)", f"cast(sy_{i} as double)"
        sxy = f"cast(sxy_{i} as double)"
        sxx, syy = f"cast(sxx_{i} as double)", f"cast(syy_{i} as double)"
        denom = (f"sqrt(({n} * {sxx} - {sx} * {sx}) "
                 f"* ({n} * {syy} - {sy} * {sy}))")
        r = (f"case when n_{i} > 1 and {denom} > 0 then "
             f"round(({n} * {sxy} - {sx} * {sy}) / {denom}, 6) end")
        rows.append(f"SELECT '{a}' AS col_a, '{b}' AS col_b, "
                    f"n_{i} AS n_pairs, {r} AS pearson FROM w")
    return (f"WITH w AS (SELECT {', '.join(aggs)} FROM lineitem) "
            + " UNION ALL ".join(rows))


def q_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparvi_spark.operators.skew import key_skew_profile

    summary, _top = key_skew_profile(
        load_table(spark, "lineitem", sf_dir), ["l_suppkey"])
    return summary


def _sql_key_skew() -> str:
    return """
WITH c AS (SELECT l_suppkey, l_suppkey IS NULL AS nk, count(*) AS cnt
           FROM lineitem GROUP BY l_suppkey)
SELECT cast(count(*) as bigint) AS n_keys,
  cast(sum(cnt) as bigint) AS n_rows,
  cast(max(cnt) as bigint) AS max_count,
  round(avg(cnt), 4) AS avg_count,
  round(quantile_cont(cnt, 0.5), 4) AS p50_count,
  round(quantile_cont(cnt, 0.9), 4) AS p90_count,
  round(quantile_cont(cnt, 0.99), 4) AS p99_count,
  cast(coalesce(sum(case when nk then cnt end), 0) as bigint)
    AS null_key_rows,
  round(max(cnt) / (sum(cnt) * cast(1 as double) / count(*)), 4)
    AS imbalance,
  cast(least(256, greatest(1, ceil(
    max(cnt) / (sum(cnt) * cast(1 as double) / count(*))))) as int)
    AS suggested_salt
FROM c
""".strip()


# not registered (cap): standalone shapes of ops folded into p01/p06/p12,
# kept for scripts/check_oracle.py local verification
EXTRA_CHECKS = {
    "p14_preview": (q_preview, SQL_PREVIEW),
    "p09_duplicate_counts": (q_duplicate_counts, SQL_DUPLICATE_COUNTS),
    "p10_freshness": (q_freshness, SQL_FRESHNESS),
    "p13_health_scores": (q_health_scores, SQL_HEALTH_SCORES),
    "e07_correlation": (q_correlation, _sql_correlation()),
    "e08_key_skew": (q_key_skew, _sql_key_skew()),
}
