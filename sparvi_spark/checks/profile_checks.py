"""P1-P14 profiling checks (SURVEY.md §2.A) — Spark fn + DuckDB oracle pairs.

Both sides are generated from the same column lists and the same scalar
formula strings, so semantics cannot drift. All means/stddevs derive from
exact DECIMAL sums (cross-engine float-order determinism, SURVEY §7.1-2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparvi_spark.operators.profile import type_bucket
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


# -- shared scalar formula strings (valid in BOTH Spark SQL and DuckDB) -----

def _avg_formula(sum_alias: str, cnt_alias: str) -> str:
    return f"round(cast({sum_alias} as double)/{cnt_alias}, 6)"


def _std_formula(sum_alias: str, ssq_alias: str, cnt_alias: str) -> str:
    sx = f"cast({sum_alias} as double)"
    sxx = f"cast({ssq_alias} as double)"
    n = cnt_alias
    return (
        f"case when {n} > 1 then "
        f"round(sqrt(greatest(({sxx} - ({sx}*{sx})/{n})/({n} - 1), 0.0)), 4) end"
    )


def _num_agg_exprs(c: str) -> list[str]:
    """Aggregate expressions for one numeric column (both dialects)."""
    return [
        f"count({c}) as {c}__cnt",
        f"cast(min({c}) as double) as {c}__min",
        f"cast(max({c}) as double) as {c}__max",
        f"sum(cast({c} as decimal(28,8))) as {c}__sum",
        # Squares via decimal(19,4)×decimal(18,4): one operand ≥19 digits
        # forces DuckDB onto int128 multiply (it does not widen int64×int64);
        # Spark's product precision is exactly 19+18+1 = 38 so no
        # precision-loss scale adjustment occurs; |value| < 10^14 fits
        # (decimal(12,4) overflowed-to-NULL at |value| >= 10^8).
        f"sum(cast({c} as decimal(19,4)) "
        f"* cast({c} as decimal(18,4))) as {c}__ssq",
        f"count(case when {c} = 0 then 1 end) as {c}__zeros",
        f"count(case when {c} < 0 then 1 end) as {c}__negs",
        f"count(case when {c} > 0 then 1 end) as {c}__pos",
    ]


def _num_agg_sql(c: str) -> str:
    return ", ".join(_num_agg_exprs(c))


# ---------------------------------------------------------------------------
# P1 row counts (all tables) + P9 full-row duplicate counts (DUP_TABLES)
# fused into one check: (table_name, row_count, duplicate_cnt|NULL)
# ---------------------------------------------------------------------------

def q_row_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE job, ~3 stages for all ten tables: every table projects to a
    # (table_name, __h) row — an 8-byte xxhash64 of the full row for P9
    # dup-counted tables (SCALING.md's hash-projection prescription; the
    # shuffle never carries payload columns), NULL for count-only tables —
    # then two keyed aggregations produce every row_count and
    # duplicate_cnt at once. The previous per-table union built 2+ stages
    # per table (22 stages total), and stage-scheduling latency — not
    # compute — dominated this check. Literal position markers keep NULL
    # columns position-distinct: xxhash64 skips NULL inputs, so without
    # them (NULL,'a') and ('a',NULL) would collide structurally. The
    # exact full-row path lives in p09_duplicate_counts.
    # NOTE: a zero-row table contributes no union rows, so it would be
    # absent from the output (the per-table agg form emitted 0). Fine
    # here: the driver's testdata tables are never empty, and the engine
    # API path (operators/profile.row_count) keeps per-table semantics.
    # r12: group on an INT table id, not the literal table-name string —
    # the (string, hash) first-level group key measured 0.81s vs 0.049s
    # for the identical plan keyed (int, hash) at sf0.1 (the scan+hash
    # union alone is 0.038s, so the string key was ~95% of the check);
    # the name attaches back via a CASE over the 10 ids on the 10
    # aggregated rows. Output rows/dtypes verified identical.
    out = None
    for i, t in enumerate(TABLES):
        df = load_table(spark, t, sf_dir)
        if t in DUP_TABLES:
            args = ", ".join(f"{j}, `{c}`" for j, c in enumerate(df.columns))
            h = f"xxhash64({args})"
        else:
            h = "cast(null as bigint)"
        d = df.selectExpr(f"{i} as __tid", f"{h} as __h")
        out = d if out is None else out.unionAll(d)
    name_case = ("case " + " ".join(
        f"when __tid = {i} then '{t}'" for i, t in enumerate(TABLES))
        + " end")
    dup_pred = " or ".join(
        f"__tid = {i}" for i, t in enumerate(TABLES) if t in DUP_TABLES)
    per_hash = out.groupBy("__tid", "__h").agg(
        F.count(F.lit(1)).alias("__c"))
    return (
        per_hash.groupBy("__tid")
        .agg(F.sum("__c").alias("__rows"),
             (F.sum("__c") - F.count(F.lit(1))).alias("__dups"))
        .selectExpr(f"{name_case} as table_name",
                    "cast(__rows as bigint) as row_count",
                    f"cast(case when {dup_pred} then __dups end as bigint) "
                    "as duplicate_cnt")
    )


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

def q_null_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, "lineitem", sf_dir)
    aggs = [F.count(F.lit(1)).alias("__n")] + [
        F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls") for c in LINEITEM_ALL
    ]
    wide = df.agg(*aggs)
    tuples = ", ".join(
        f"'{c}', {c}__nulls, round({c}__nulls * cast(100 as double) / __n, 6)" for c in LINEITEM_ALL
    )
    return wide.select(F.expr(
        f"stack({len(LINEITEM_ALL)}, {tuples}) as (column_name, null_cnt, null_pct)"
    ))


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

def q_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One spark.sql statement (r12): a union of per-column two-level
    aggregations — groupBy the single column (narrow, type-homogeneous
    key), then count groups / sum group sizes. The previous
    typed-slot melt put every row into a 3-typed-slot
    shape first, so the first-level hash key was (16-char column_name
    string + three slots, two of them NULL) on rows x columns melted
    rows; here each subtree hashes just the column's own values and the
    column name attaches as a literal AFTER aggregation (measured ~8%
    exec win interleaved at sf0.1, plus the builder round trips). Same
    two-exchange scale shape: the shuffle carries per-partition-deduped
    values, bounded by column cardinality. Values/dtypes verified
    identical (parity + oracle)."""
    from sparvi_spark.checks import table_views

    v = table_views(spark, sf_dir, ["lineitem"])["lineitem"]
    parts = []
    for c in LINEITEM_ALL:
        parts.append(
            f"SELECT '{c}' AS column_name, "
            f"count(case when `{c}` is not null then 1 end) AS distinct_cnt, "
            f"coalesce(sum(case when `{c}` is not null then cnt end), "
            f"cast(0 as bigint)) AS nonnull_cnt "
            f"FROM (SELECT `{c}`, count(1) AS cnt FROM {v} GROUP BY `{c}`)")
    inner = " UNION ALL ".join(parts)
    return spark.sql(
        f"SELECT column_name, distinct_cnt, "
        f"round(distinct_cnt * cast(100 as double) / nonnull_cnt, 6) "
        f"AS distinct_pct, "
        f"distinct_cnt = nonnull_cnt AS is_unique FROM ({inner})")


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

def _num_agg_exprs_scaled(c: str) -> list[str]:
    """Spark-side fast path for `_num_agg_exprs`: identical VALUES, pure
    long arithmetic per row. The decimal form costs ~10µs/row (sum buffers
    at scale 8 exceed Spark's compact-long range, so every row update is a
    BigDecimal allocation — measured 0.65s vs 0.14s for the all-double
    plan on 600k cached rows). TPC-H money columns are exact cents, so
    ``s = round(c*100)`` is the exact scaled integer (doubles carry ≤2
    fractional decimals; exact while |c| < 2^53/100). Σs accumulates in a
    plain long (exact while Σ|s| < 2^63 ≈ 9.2e18 — ~10^11 rows of prices).
    Σs² needs ~10^22, so it is SPLIT: per-row q=s² div 2^30 and r=s² mod
    2^30 sum separately (each bounded by n·2^30 resp. n·10^8 — exact to
    ~8.6e9 rows) and `_num_finish_scaled` reconstructs the exact decimal
    Σx² = (Σq·2^30 + Σr)/10^4. Past those row bounds use the generic
    decimal form (`operators/profile.numeric_stats`)."""
    s = f"cast(round({c} * 100) as bigint)"
    return [
        f"count({c}) as {c}__cnt",
        f"cast(min({c}) as double) as {c}__min",
        f"cast(max({c}) as double) as {c}__max",
        f"sum({s}) as {c}__s1",
        f"sum(({s} * {s}) div 1073741824) as {c}__sqd",
        f"sum(({s} * {s}) % 1073741824) as {c}__sqm",
        f"count(case when {c} = 0 then 1 end) as {c}__zeros",
        f"count(case when {c} < 0 then 1 end) as {c}__negs",
        f"count(case when {c} > 0 then 1 end) as {c}__pos",
    ]


def _num_finish_scaled(c: str) -> list[str]:
    """Rebuild the exact decimal __sum/__ssq from the long partials (runs
    on the ONE aggregated row — cost-free). Division by a power of ten on
    a decimal(38,0) yields decimal(38,6), exact for ≤2-decimal inputs;
    the downstream formulas only ever see `cast(x as double)`, and
    Decimal→double is value-based, so hashes match the decimal oracle
    bit-for-bit."""
    return [
        f"cast({c}__s1 as decimal(38,0)) / 100 as {c}__sum",
        f"(cast({c}__sqd as decimal(38,0)) * 1073741824 + {c}__sqm) / 10000 "
        f"as {c}__ssq",
    ]


def q_numeric_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, "lineitem", sf_dir)
    wide = (df.selectExpr(
        [e for c in LINEITEM_NUM for e in _num_agg_exprs_scaled(c)])
        .selectExpr("*", *[e for c in LINEITEM_NUM
                           for e in _num_finish_scaled(c)]))
    tuples = ", ".join(
        f"'{c}', {c}__cnt, {c}__min, {c}__max, round(cast({c}__sum as double), 4), "
        f"{_avg_formula(f'{c}__sum', f'{c}__cnt')}, "
        f"{_std_formula(f'{c}__sum', f'{c}__ssq', f'{c}__cnt')}, "
        f"{c}__zeros, {c}__negs, {c}__pos"
        for c in LINEITEM_NUM
    )
    return wide.select(F.expr(
        f"stack({len(LINEITEM_NUM)}, {tuples}) as (column_name, cnt, min_val, "
        "max_val, sum_val, avg_val, stddev_val, zero_cnt, negative_cnt, positive_cnt)"
    ))


SQL_NUMERIC_STATS = (
    "WITH w AS (SELECT "
    + ", ".join(_num_agg_sql(c) for c in LINEITEM_NUM)
    + " FROM lineitem) "
    + " UNION ALL ".join(
        f"SELECT '{c}' AS column_name, {c}__cnt AS cnt, {c}__min AS min_val, "
        f"{c}__max AS max_val, round(cast({c}__sum as double), 4) AS sum_val, "
        f"{_avg_formula(f'{c}__sum', f'{c}__cnt')} AS avg_val, "
        f"{_std_formula(f'{c}__sum', f'{c}__ssq', f'{c}__cnt')} AS stddev_val, "
        f"{c}__zeros AS zero_cnt, {c}__negs AS negative_cnt, {c}__pos AS positive_cnt "
        f"FROM w"
        for c in LINEITEM_NUM
    )
)

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

def q_date_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 date min/max/future/past + P10 freshness (hours behind AS_OF) in
    one pass per datetime column — same scan, one extra aggregate."""
    out = None
    for t, c in DATE_COLS:
        df = load_table(spark, t, sf_dir)
        d = df.agg(
            F.date_format(F.min(c), "yyyy-MM-dd HH:mm:ss").alias("min_ts"),
            F.date_format(F.max(c), "yyyy-MM-dd HH:mm:ss").alias("max_ts"),
            F.count(F.when(F.col(c) > F.lit(AS_OF).cast("timestamp"), 1)).alias("future_cnt"),
            F.count(F.when(F.col(c) <= F.lit(AS_OF).cast("timestamp"), 1)).alias("past_cnt"),
            F.floor(
                (F.lit(AS_OF).cast("timestamp").cast("double")
                 - F.max(c).cast("double")) / 3600.0
            ).cast("bigint").alias("hours_behind"),
        ).select(F.lit(t).alias("table_name"), F.lit(c).alias("column_name"),
                 "min_ts", "max_ts", "future_cnt", "past_cnt", "hours_behind")
        out = d if out is None else out.unionAll(d)
    return out


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

def q_string_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    by_table: dict[str, list[str]] = {}
    for t, c in STR_COLS:
        by_table.setdefault(t, []).append(c)
    out = None
    for t, cols in by_table.items():
        df = load_table(spark, t, sf_dir)
        aggs = []
        for c in cols:
            ln = F.length(F.col(c))
            aggs += [
                F.count(F.col(c)).alias(f"{c}__cnt"),
                F.min(ln).cast("long").alias(f"{c}__minl"),
                F.max(ln).cast("long").alias(f"{c}__maxl"),
                F.sum(ln.cast("long")).alias(f"{c}__suml"),
                F.count(F.when(F.col(c) == "", 1)).alias(f"{c}__empty"),
            ]
        wide = df.agg(*aggs)
        tuples = ", ".join(
            f"'{c}', {c}__cnt, {c}__minl, {c}__maxl, "
            f"round({c}__suml * cast(1 as double) / {c}__cnt, 4), {c}__empty"
            for c in cols
        )
        d = wide.select(
            F.lit(t).alias("table_name"),
            F.expr(f"stack({len(cols)}, {tuples}) as "
                   "(column_name, cnt, min_len, max_len, avg_len, empty_cnt)"),
        )
        out = d if out is None else out.unionAll(d)
    return out


def _sql_string_stats() -> str:
    by_table: dict[str, list[str]] = {}
    for t, c in STR_COLS:
        by_table.setdefault(t, []).append(c)
    parts = []
    for t, cols in by_table.items():
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
    # All tables' top-K in ONE groupBy + ONE window: melt every requested
    # (table, column) into a (table_name, column_name, value) frame and
    # rank per (table, column). Per-table totals (the pct denominator)
    # union into one tiny frame and ride a single broadcast instead of one
    # broadcast job per table. Same plan family as operators/profile
    # top_values, one table-tagged level up (13 stages -> ~6).
    from pyspark.sql import Window

    by_table: dict[str, list[str]] = {}
    for t, c in TOPV_COLS:
        by_table.setdefault(t, []).append(c)
    melted = None
    totals = None
    for t, cols in by_table.items():
        df = load_table(spark, t, sf_dir)
        stack = ", ".join(f"'{c}', cast(`{c}` as string)" for c in cols)
        m = df.select(
            F.lit(t).alias("table_name"),
            F.expr(f"stack({len(cols)}, {stack}) as (column_name, value)"),
        ).where(F.col("value").isNotNull())
        tt = df.agg(F.count(F.lit(1)).alias("__total")).select(
            F.lit(t).alias("table_name"), "__total")
        melted = m if melted is None else melted.unionAll(m)
        totals = tt if totals is None else totals.unionAll(tt)
    counted = melted.groupBy("table_name", "column_name", "value").agg(
        F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("table_name", "column_name").orderBy(
        F.desc("cnt"), F.asc("value"))
    return (
        counted.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 10)
        .join(F.broadcast(totals), "table_name")
        .select("table_name", "column_name", "value", "cnt",
                F.round(F.col("cnt") * 100.0 / F.col("__total"), 4).alias("pct"))
    )


def _sql_top_values() -> str:
    by_table: dict[str, list[str]] = {}
    for t, c in TOPV_COLS:
        by_table.setdefault(t, []).append(c)
    parts = []
    for t, cols in by_table.items():
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
    out = None
    for t in DUP_TABLES:
        df = load_table(spark, t, sf_dir)
        dup = (
            df.groupBy(*df.columns).agg(F.count(F.lit(1)).alias("__c"))
            .agg((F.sum("__c") - F.count(F.lit(1))).alias("duplicate_cnt"))
            .select(F.lit(t).alias("table_name"),
                    F.col("duplicate_cnt").cast("bigint").alias("duplicate_cnt"))
        )
        out = dup if out is None else out.unionAll(dup)
    return out


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
    df = load_table(spark, "events", sf_dir)
    return df.agg(
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("max_ts"),
        F.floor(
            (F.lit(AS_OF).cast("timestamp").cast("double")
             - F.max("ts").cast("double")) / 3600.0
        ).cast("bigint").alias("hours_behind"),
    )


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
    out = None
    for t, c, pat in PATTERNS:
        df = load_table(spark, t, sf_dir)
        d = df.agg(
            F.count(F.col(c)).alias("total_nonnull"),
            F.count(F.when(F.col(c).rlike(pat), 1)).alias("matching"),
        ).select(
            F.lit(t).alias("table_name"), F.lit(c).alias("column_name"),
            "total_nonnull", "matching",
            (F.col("total_nonnull") - F.col("matching")).alias("non_matching"),
            F.round(F.col("matching") * 100.0 / F.col("total_nonnull"), 4).alias("match_pct"),
        )
        out = d if out is None else out.unionAll(d)
    return out


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

def _schema_penalty(t: str) -> int:
    spec = SCHEMAS[t]
    pk_pen = 0 if spec.primary_keys else 20
    n_cols = len(spec.columns)
    nullable_pen = 15 if n_cols and sum(c.nullable for c in spec.columns) / n_cols > 0.8 else 0
    width_pen = 10 if n_cols > 50 else 0
    return pk_pen + nullable_pen + width_pen


def q_health_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One job / two stages for all ten tables: union (table_name) literal
    # projections, count per table in ONE keyed aggregation, then apply the
    # per-table schema penalty with a literal CASE. The per-table
    # agg-union form was 2 stages per table and scheduling-bound.
    # (Zero-row tables would be absent — see q_row_counts NOTE.)
    out = None
    for t in TABLES:
        d = load_table(spark, t, sf_dir).select(F.lit(t).alias("table_name"))
        out = d if out is None else out.unionAll(d)
    case = None
    for t in TABLES:
        cond = F.when(F.col("table_name") == t, F.lit(100 - _schema_penalty(t)))
        case = cond if case is None else case.when(
            F.col("table_name") == t, F.lit(100 - _schema_penalty(t)))
    return (
        out.groupBy("table_name").agg(F.count(F.lit(1)).alias("__n"))
        .select("table_name",
                F.greatest(
                    case - F.when(F.col("__n") == 0, 30).otherwise(0),
                    F.lit(0)).cast("bigint").alias("health_score"))
    )


def _sql_health_scores() -> str:
    parts = []
    for t in TABLES:
        spec = SCHEMAS[t]
        pk_pen = 0 if spec.primary_keys else 20
        n_cols = len(spec.columns)
        nullable_pen = 15 if n_cols and sum(c.nullable for c in spec.columns) / n_cols > 0.8 else 0
        width_pen = 10 if n_cols > 50 else 0
        base = 100 - pk_pen - nullable_pen - width_pen
        parts.append(
            f"SELECT '{t}' AS table_name, cast(greatest({base} - "
            f"case when count(*) = 0 then 30 else 0 end, 0) as bigint) "
            f"AS health_score FROM {t}"
        )
    return " UNION ALL ".join(parts)


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
    """One spark.sql statement (r12). The type-distribution section is a
    driver-side schema walk — it becomes an inline VALUES literal (zero
    jobs). The health section needs exactly ONE number per table (its
    row count): a per-table count(*) agg over the cached table views
    replaces the previous union-all-rows-then-groupBy plan, which
    streamed every row of all ten tables through a union just to count
    them (~1.3M row touches and 16 Exchanges at sf0.1; counts over the
    cached relations read batch row counts instead of rows). Values are
    identical on every non-empty table; an EMPTY table now emits its
    base-30 row exactly like the DuckDB oracle always has (the old
    groupBy-over-union form silently omitted it — this closes that
    latent divergence rather than widening it)."""
    from sparvi_spark.checks import table_views

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
        f"'score' AS key, cast(greatest({100 - _schema_penalty(t)} - "
        f"case when count(1) = 0 then 30 else 0 end, 0) as bigint) "
        f"AS value FROM {v[t]}"
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
