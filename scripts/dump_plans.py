"""Dump .explain("formatted") for every graded and EXTRA check to plans/<tag>/.

Usage: python scripts/dump_plans.py <tag> [suffix] [name_prefix ...]
Writes plans/<tag>/<check>_<suffix>.txt (suffix default "before"), with
expression ids (``#123``) written as ``#`` and exchange ids
(``plan_id=123``) as ``plan_id=``, so two dumps of the same tree are
byte-identical: ``diff -r plans/<parent> plans/<change>`` lists the
checks whose physical plan a change moved.
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r12"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    prefixes = sys.argv[3:]

    from sparvi_spark.checks import collect_all_checks, collect_extra_checks
    from sparvi_spark.session import get_spark

    out_dir = os.path.join(ROOT, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark("dump_plans")
    spark.sparkContext.setLogLevel("ERROR")

    checks = collect_all_checks(prepared=False)
    checks.update(collect_extra_checks())
    for name, (fn, _sql) in sorted(checks.items()):
        if prefixes and not any(name.startswith(p) for p in prefixes):
            continue
        try:
            df = fn(spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            plan = re.sub(r"(#|plan_id=)\d+", r"\1", plan)
        except Exception as exc:
            plan = f"ERROR building {name}: {exc}"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        print(f"wrote {name}_{suffix}.txt ({len(plan)} chars)")
    spark.stop()


if __name__ == "__main__":
    main()
