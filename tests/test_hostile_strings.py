"""Hostile values through every driver-built frame: backslashes (inside
a string and trailing), quotes, tabs and newlines in strings, and NaN,
±Inf, -0.0 and NULL in doubles must arrive exactly as the caller sent
them.

Why this exists: driver-side rows used to reach Spark as rendered SQL
``VALUES`` text, where string literals go through the parser's escape
rules — ``back\\slash`` came back as ``backslash``, ``tab\\tx`` as a real
tab, and a trailing backslash raised ``ParseException``. Those frames are
now Arrow local relations (``functions.local_df``); this file pins the
round trip for the three routes rows take: ``local_df`` itself, a state
write (``StateStore.append_rows`` -> ``read``) and the multi-table rule
runner's result relation (``collect_rule_jobs``).
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
    from sparvi_spark.functions import local_df
    from sparvi_spark.operators.validation import Rule, run_rules_multi
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
    res = run_rules_multi([(tname, src, rules, None, frozenset())])
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
