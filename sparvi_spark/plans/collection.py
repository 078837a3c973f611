"""Tiered metadata-collection plans.

The reference collects metadata in tiers of increasing cost with caps
(core/metadata/collector.py:21-46,323-433: tier1 table list, tier2 columns,
tier3 keys/indexes, tier4 row counts, tier5 column statistics on the first
5-10 columns; depth ∈ {low, medium, high}; table_limit=50). In Spark each
tier is just a wider aggregation pass; the caps remain engine policy so a
100 TB catalog sweep stays bounded.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame

from sparvi_spark.functions import ident
from sparvi_spark.operators.profile import bucket_columns, nulls_sql, type_bucket

DEPTHS = {  # collector.py:21-46
    "low": {"tiers": (1, 2), "stat_columns": 0},
    "medium": {"tiers": (1, 2, 3, 4), "stat_columns": 5},
    "high": {"tiers": (1, 2, 3, 4, 5), "stat_columns": 10},
}


@dataclass(frozen=True)
class CollectionPlan:
    depth: str = "medium"
    table_limit: int = 50          # collector.py:323
    stat_column_limit: int | None = None  # overrides depth default

    @property
    def tiers(self) -> tuple[int, ...]:
        return DEPTHS[self.depth]["tiers"]

    @property
    def stat_columns(self) -> int:
        if self.stat_column_limit is not None:
            return self.stat_column_limit
        return DEPTHS[self.depth]["stat_columns"]


def table_size_bytes(df: DataFrame) -> int | None:
    """P15 table size (app.py:3679-3710 uses warehouse catalogs; the Spark
    equivalent is the sum of the scan's input file sizes — no job,
    metadata only). None for non-file sources.

    Sizes come from the Hadoop FileSystem API, not ``os.path`` — the
    same listing works for every scheme the scan can read (file://,
    s3a://, hdfs://); a local-path stat would return None forever on an
    object store. One ``listStatus`` per parent DIRECTORY instead of one
    status call per file: a 100 TB table is ~10⁵ files but only ~10²-10³
    partition dirs, and each py4j round-trip is a serialized driver hop.
    """
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    from collections import defaultdict

    by_dir: dict[str, set[str]] = defaultdict(set)
    for f in files:
        parent, _, name = f.rpartition("/")
        by_dir[parent].add(name)
    sc = df.sparkSession.sparkContext
    jvm = sc._jvm
    conf = sc._jsc.hadoopConfiguration()
    total, found = 0, 0
    try:
        for parent, names in by_dir.items():
            path = jvm.org.apache.hadoop.fs.Path(parent)
            fs = path.getFileSystem(conf)
            for st in fs.listStatus(path):
                if st.getPath().getName() in names:
                    total += st.getLen()
                    found += 1
    except Exception:
        return None
    # a file vanished between planning and listing -> unknown, not partial
    return total if found == sum(len(v) for v in by_dir.values()) else None


def collect_metadata(
    tables: dict[str, DataFrame],
    plan: CollectionPlan = CollectionPlan(),
    primary_keys: dict[str, tuple[str, ...]] | None = None,
) -> dict[str, Any]:
    """Run the plan over a table catalog -> metadata document.

    tier1: table list; tier2: columns+types (schema walk, no jobs);
    tier3: declared keys; tier4: row counts (one job per table);
    tier5: per-column stats for the first N columns (one agg per table).
    """
    primary_keys = primary_keys or {}
    names = list(tables)[: plan.table_limit]
    out: dict[str, Any] = {"tables": names, "columns": {}, "keys": {},
                           "row_counts": {}, "statistics": {}}
    for t in names:
        df = tables[t]
        if 2 in plan.tiers:
            out["columns"][t] = [
                {"name": f.name, "type": f.dataType.simpleString(),
                 "bucket": type_bucket(f.dataType), "nullable": f.nullable}
                for f in df.schema.fields
            ]
        if 3 in plan.tiers:
            out["keys"][t] = list(primary_keys.get(t, ()))
        if 4 in plan.tiers:
            out["row_counts"][t] = df.count()
            size = table_size_bytes(df)
            if size is not None:
                out.setdefault("sizes", {})[t] = size
        if 5 in plan.tiers and plan.stat_columns:
            cols = [c for cs in bucket_columns(df).values() for c in cs]
            cols = cols[: plan.stat_columns]
            exprs = []
            for c in cols:
                exprs.append(f"{nulls_sql(c)} AS {ident(c + '__nulls')}")
                if type_bucket(df.schema[c].dataType) == "numeric":
                    exprs += [f"{f}({ident(c)}) AS {ident(f'{c}__{f}')}"
                              for f in ("min", "max")]
            if exprs:
                out["statistics"][t] = df.selectExpr(*exprs).collect()[0].asDict()
    return out
