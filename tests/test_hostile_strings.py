"""Hostile values through every driver-built frame: backslashes (inside
a string and trailing), quotes, tabs and newlines in strings, and NaN,
±Inf, -0.0 and NULL in doubles must arrive exactly as the caller sent
them.

Why this exists: driver-side rows used to reach Spark as rendered SQL
``VALUES`` text, where string literals go through the parser's escape
rules — ``back\\slash`` came back as ``backslash``, ``tab\\tx`` as a real
tab, and a trailing backslash raised ``ParseException``. Those frames are
now Arrow local relations (``functions.local_df``); this file pins the
round trip for the routes rows take: ``local_df`` itself, a state write
(``StateStore.append_rows`` -> ``read``), and both rule runners' result
relations. Rule names used to be rendered into Spark SQL literals with
quote-only escaping, so every rule kind is sent through ``run_rules`` and
``PreparedRulesMulti`` with hostile names, and ``Engine.run_validations``
runs its generated suite on a table whose name holds a backslash.
"""

from __future__ import annotations

import math

NAN, INF = float("nan"), float("inf")

STRINGS = ["back\\slash", "trailing\\", "it's", "tab\tx", 'quote"d',
           "new\nline", "", None]
DOUBLES = [NAN, INF, -INF, -0.0, 5e-324, 0.1, 1.0, None]


def _same(a, b) -> bool:
    """Exact equality that tells NaN, -0.0 and None apart."""
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return a == b and math.copysign(1, a) == math.copysign(1, b)
    return type(a) is type(b) and a == b


def _plan_leaf(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()


def test_hostile_values_round_trip_every_route(spark, tmp_path):
    from pyspark.sql import functions as F

    from sparvi_spark.engine import Engine
    from sparvi_spark.functions import local_df
    from sparvi_spark.operators.validation import (
        Rule,
        generate_default_rules,
        PreparedRulesMulti,
        run_rules,
        spec_from_dataframe,
    )
    from sparvi_spark.sources.state import StateStore

    rows = list(zip(STRINGS, DOUBLES))

    # 1. local_df: a LocalRelation carrying every value as is
    df = local_df(spark, rows, "s string, d double")
    assert _plan_leaf(df) == "LocalRelation"
    got = [tuple(r) for r in df.collect()]
    assert len(got) == len(rows)
    for want, have in zip(rows, got):
        assert all(_same(w, h) for w, h in zip(want, have)), (want, have)

    # 2. state write and read back (values stringified, cast per the DDL)
    st = StateStore(spark, str(tmp_path / "wh"))
    st.append_rows("historical_metrics", [
        {"metric_name": s, "metric_value": d, "metric_type": "profile",
         "table_name": "t", "ts": "2026-01-01 00:00:00"} for s, d in rows])
    back = [(r["metric_name"], r["metric_value"])
            for r in st.read("historical_metrics").collect()]
    by_name = {r[0]: r[1] for r in back}
    assert set(by_name) == set(STRINGS)
    for s, d in rows:
        assert _same(by_name[s], d), (s, d, by_name[s])

    # 3. the multi-table rule runner: hostile table and rule names, and
    # non-finite actual values, through collect_rule_jobs' relation
    tname = "tab\\le 'x'\\"
    exprs = ["cast('NaN' as double)", "cast('Infinity' as double)",
             "cast('-Infinity' as double)", "-cast(0 as double)",
             "cast(5e-324 as double)", "cast(0.1 as double)",
             "cast(1 as double)", "cast(null as double)"]
    rules = [Rule(s if s else "empty", "", "greater_than", 0, "agg",
                  agg_expr=e)
             for s, e in zip(STRINGS[:-1] + ["none"], exprs)]
    src = spark.range(3)
    res = PreparedRulesMulti([(tname, src, rules, None, frozenset())]).run()
    assert _plan_leaf(res) == "LocalRelation"
    out = {r["rule_name"]: r for r in res.collect()}
    assert set(out) == {r.name for r in rules}
    for r, d in zip(rules, DOUBLES):
        rec = out[r.name]
        assert rec["table_name"] == tname
        assert _same(rec["actual_value"], d), (r.name, rec["actual_value"])
        # Spark orders NaN above every double, so NaN > 0 holds; -0.0
        # and NULL fail greater_than 0
        want = d is not None and (math.isnan(d) or d > 0)
        assert rec["is_valid"] is want, (r.name, d, rec["is_valid"])

    # 4. every rule kind with hostile rule names, through both runners
    base = spark.range(4).selectExpr("id", "cast(id as double) AS v",
                                     "cast(id % 2 as string) AS s")
    refs = {"dim": spark.range(4).selectExpr("id AS k")}
    kinds = {"agg": (4.0, {"agg_expr": "count(*)"}),
             "outlier": (0.0, {"column": "v"}),
             "group_dup": (0.0, {"keys": ("id",)}),
             "dominance": (0.0, {"column": "s"}),
             "sql": (7.0, {"sql": "SELECT 7"}),
             "ref_integrity": (0.0, {"column": "id", "ref_table": "dim",
                                     "ref_column": "k"})}
    rules = [Rule(f"{kind}:{s}", "", "equals", want, kind, **kw)
             for kind, (want, kw) in kinds.items() for s in STRINGS if s]
    want = {r.name: (r.expected_value, True) for r in rules}
    for res in (run_rules(base, rules, ref_tables=refs),
                PreparedRulesMulti(
                    [(tname, base, rules, refs, frozenset())]).run()):
        assert {r["rule_name"]: (r["actual_value"], r["is_valid"])
                for r in res.collect()} == want

    # 5. the Engine's generated suite on a table named with a backslash:
    # the returned frame, the stored results and the failure event all
    # carry generate_default_rules' names (the empty table fails V1)
    engine = Engine(spark, str(tmp_path / "engine"))
    table, run_at = "sch\\tbl", "2026-01-02 00:00:00"
    empty = base.where("id < 0")
    generated = sorted(r.name for r in generate_default_rules(
        spec_from_dataframe(empty, table), as_of=run_at))
    returned = engine.run_validations(empty, table, run_at=run_at).collect()
    stored = engine.state.read("validation_results").where(
        F.col("table_name") == table).collect()
    assert sorted(r["rule_name"] for r in returned) == generated
    assert sorted(r["rule_name"] for r in stored) == generated
    events = {r["event_type"]: r["details"]
              for r in engine.state.read("engine_events").collect()}
    failed = events["validation_failure"].split(",")
    assert f"check_{table}_not_empty" in failed
    assert set(failed) <= set(generated)


HOSTILE_NAMES = ["a.b", "x`y", "quo'te", "p{q}", "back\\slash"]


def test_hostile_column_names_profile_and_schema_like_plain_twins(
        spark, tmp_path):
    """Column names that are SQL syntax — a dot, a backquote, a quote,
    braces, a backslash — profile and diff exactly like a plain-named
    twin holding the same data: every document field and every schema
    change row matches the twin's."""
    from pyspark.sql import types as T

    from sparvi_spark.engine import Engine
    from sparvi_spark.functions import local_df

    def ident(name: str) -> str:
        return "`" + name.replace("`", "``") + "`"

    nums = [1.5, None, 2.25, 1.5, -3.0, 0.0, 1.5]
    strs = ["x", "", None, "x", "yz", "it's", "x"]
    kinds = [("", T.DoubleType(), nums), ("_t", T.StringType(), strs)]
    names = ["plain"] + HOSTILE_NAMES
    fields, cols = [], []
    for n in names:
        for suffix, dtype, values in kinds:
            fields.append(T.StructField(n + suffix, dtype))
            cols.append(values)
    df = local_df(spark, list(zip(*cols)), T.StructType(fields))

    # one profile per name: the document keeps top values for at most
    # ten columns
    engine = Engine(spark, str(tmp_path / "wh"))
    keys = ("completeness", "null_fractions", "distinct_counts",
            "summary_statistics", "top_values")
    for n in HOSTILE_NAMES:
        pair = [c for c in df.columns if c in (n, n + "_t")]
        doc = engine.run_profile(
            df.selectExpr(*[ident(c) for c in ["plain", "plain_t"] + pair]),
            n, as_of="2026-01-01 00:00:00")
        for suffix, _, _ in kinds:
            for k in keys:
                assert doc[k][n + suffix] == doc[k]["plain" + suffix], (
                    n + suffix, k)

    # the schema diff: retype every numeric column, drop every text
    # column and add one new column per name
    assert engine.track_schema(df, "hostile", as_of="2026-01-01 00:00:00") \
        is None
    changed = df.selectExpr(
        *[f"cast({ident(n)} as string) AS {ident(n)}" for n in names],
        *[f"{ident(n)} AS {ident(n + '_new')}" for n in names])
    rows = engine.track_schema(changed, "hostile",
                               as_of="2026-01-02 00:00:00").collect()
    by_col: dict = {}
    for r in rows:
        name = r["column_name"]
        base = next(n for n in names if name in (n, n + "_t", n + "_new"))
        by_col.setdefault(base, set()).add(
            (r["change_type"], name[len(base):], r["details"],
             r["important"]))
    want = {("column_type_changed", "", "numeric -> text", True),
            ("column_removed", "_t", None, True),
            ("column_added", "_new", None, False)}
    assert by_col == {n: want for n in names}


def test_hostile_column_names_melt_like_plain_twins(spark, tmp_path):
    """Every operator that melts columns into (column_name, value) rows,
    the exact-percentile refine pass and both numeric histograms give a
    hostile-named column exactly the plain-named twin's answer: the melt
    renders names through ``functions.melt_sql`` (string literal plus
    quoted identifier), not by hand."""
    from pyspark.sql import types as T

    from sparvi_spark.engine import Engine
    from sparvi_spark.functions import local_df
    from sparvi_spark.operators import drift, profile

    names = ["plain"] + HOSTILE_NAMES
    nums = [1.5, None, 2.25, 1.5, -3.0, 0.0, 1.5, 4.0]
    schema = T.StructType([T.StructField(n, T.DoubleType()) for n in names])
    df = local_df(spark, [(v,) * len(names) for v in nums], schema)
    later = local_df(spark, [(None if v is None else v + 1.0,) * len(names)
                             for v in nums], schema)

    def by_name(rows, key="column_name"):
        out: dict = {}
        for r in rows:
            d = r.asDict()
            out.setdefault(d.pop(key), []).append(tuple(sorted(d.items())))
        return {k: sorted(v) for k, v in out.items()}

    engine = Engine(spark, str(tmp_path / "wh"))
    engine.save_drift_baseline(df, "hostile", names, bins=4,
                               as_of="2026-01-01 00:00:00")
    results = {
        "exact_percentiles": profile.exact_percentiles(df, names),
        "exact_percentiles_refine": profile.exact_percentiles_refine(
            df, names, bracket_cache=False),
        "exact_percentiles_refine_window": profile.exact_percentiles_refine(
            df, names, tie_shortcut=False, bracket_cache=False),
        "drift.numeric_histogram": drift.numeric_histogram(df, names, 4),
        "run_drift_check": engine.run_drift_check(
            later, "hostile", as_of="2026-01-02 00:00:00"),
    }
    for op, frame in results.items():
        got = by_name(frame.collect())
        assert set(got) == set(names), op
        assert got["plain"], op
        for n in HOSTILE_NAMES:
            assert got[n] == got["plain"], (op, n)
    plain = profile.numeric_histogram(df, "plain", bins=4).collect()
    for n in HOSTILE_NAMES:
        assert profile.numeric_histogram(df, n, bins=4).collect() == plain, n


def test_hostile_column_names_incremental_profile_like_plain_twins(spark):
    """The incremental profiler gives a hostile-named numeric column, and
    runs on a hostile-named partition column, exactly like the plain
    twin: both resolve through ``functions.ident``."""
    from pyspark.sql import types as T

    from sparvi_spark.functions import ident, local_df
    from sparvi_spark.operators.incremental import incremental_profile_full

    names = ["plain"] + HOSTILE_NAMES
    nums = [1.5, None, 2.25, 1.5, -3.0, 0.0, 1.5, 4.0]
    parts = ["p0", "p0", "p1", None, "p1", "p2", "p2", "p0"]
    schema = T.StructType([T.StructField("part", T.StringType())] + [
        T.StructField(n, T.DoubleType()) for n in names])
    df = local_df(spark, [(p,) + (v,) * len(names)
                          for p, v in zip(parts, nums)], schema)

    _, prof = incremental_profile_full(df, "part", names)
    got = {r["column_name"]: sorted((k, v) for k, v in r.asDict().items()
                                    if k != "column_name")
           for r in prof.collect()}
    assert set(got) == set(names)
    for n in HOSTILE_NAMES:
        assert got[n] == got["plain"], n

    def by_partition(pcol):
        states, prof = incremental_profile_full(
            df.selectExpr(f"part AS {ident(pcol)}", "plain AS x"), pcol,
            ["x"])
        return (sorted(tuple(r) for r in states["stats"].collect()),
                [tuple(r) for r in prof.collect()])

    want = by_partition("plain")
    for n in HOSTILE_NAMES:
        assert by_partition(n) == want, n


def test_hostile_column_names_trend_and_drift_operators_like_plain_twins(
        spark):
    """Every trend and drift operator quotes its key, order, flag and
    text columns through ``functions.ident``: with each column renamed to
    a hostile name, the operators give the plain-named frame's rows."""
    from datetime import datetime

    from sparvi_spark.functions import ident, local_df
    from sparvi_spark.operators import drift, trends

    keys = ["u1", "u1", "u1", "u2", "u2", "u3", "u1", "u2"]
    rows = [(k, i, datetime(2024, 1, 1 + i % 3, i), i % 2 == 0, i * 1.5,
             f"tok{i % 3} tok{i % 2} w", ["low", "high"][i % 2])
            for i, k in enumerate(keys)]
    base = local_df(spark, rows, "k string, id bigint, ts timestamp, "
                                 "flag boolean, v double, txt string, "
                                 "severity string")

    def results(n):
        c = {x: n if x == "k" else f"{n}_{x}"
             for x in ("k", "id", "ts", "flag", "v", "txt")}
        df = base.selectExpr(*[f"{x} AS {ident(c[x])}" for x in c],
                             "severity")
        e, a = df.where(f"{ident(c['id'])} < 5"), df.where(
            f"{ident(c['id'])} >= 3")
        freq = trends.change_frequency(df, [n], c["ts"], c["flag"])
        frames = [
            trends.retain_latest(df, [n], c["ts"], 2, [c["id"]]),
            freq,
            trends.high_impact_objects(freq, [n], min_changes=1, k=2),
            trends.anomaly_top_tables(df, n, k=2),
            trends.anomaly_daily_trend(df, spark, "2024-01-01",
                                       "2024-01-04", c["ts"]),
            trends.fetch_metric_history(df, since="2024-01-02", limit=3,
                                        ts_col=c["ts"], tiebreak=(c["id"],)),
            drift.numeric_drift(e, a, [c["v"]], bins=4).drop("column_name"),
            drift.categorical_drift(e, a, n),
            drift.vocab_drift(e, a, c["txt"], top_k=5),
            drift.vocab_tvd(e, a, c["txt"]),
        ]
        return [sorted(map(tuple, f.collect()), key=repr) for f in frames]

    want = results("plain")
    assert all(want)
    for n in HOSTILE_NAMES:
        assert results(n) == want, n
