"""Driver testdata catalog: loaders + static schema specs.

The testdata tables (TESTDATA.md) are TPC-H-ish parquet files. The schema
specs below are the single source of truth shared by the Spark-side rule
generator AND the DuckDB oracle-SQL generator, so both sides derive their
queries from identical metadata (the reference derives rules from warehouse
introspection; parquet supplies no PK/length metadata, so keys are declared
here — SURVEY.md §1.1).

Type buckets follow the reference's substring bucketing
(reference: backend/core/metadata/collector.py:610-625):
int|float|numeric|decimal|double|real -> numeric; char|text|string -> text;
date|time -> datetime; bool -> boolean; else other.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# Columns stored as parquet TIMESTAMP(NANOS): Spark reads them as nanosecond
# longs (spark.sql.legacy.parquet.nanosAsLong) — convert to microsecond
# timestamps on load (truncation, matching DuckDB's nanos->micros read).
_NANOS_TS: dict[str, tuple[str, ...]] = {"events": ("ts",)}

# The testdata files are single-row-group parquet, so a scan is 1 task no
# matter the core count, and every query touching lineitem pays a ~1s
# single-threaded decode. Engine policy for hot small inputs (SURVEY §4
# caching row): tables under _CACHE_MAX_BYTES are repartitioned to the
# session's parallelism and persisted once per process, so repeated queries
# (the driver runs ~50 per session) read memory at full parallelism. At
# cluster scale a 100 TB fact never hits the size gate; scans there already
# produce >= parallelism splits, making both rewrites no-ops.
_REPARTITION_MIN_BYTES = 64 << 10
_CACHE_MAX_BYTES = 256 << 20
_CACHE: dict[tuple[int, str, str], DataFrame] = {}

# Tables whose parquet byte size wildly understates their COMPUTE cost:
# compressed prose and float arrays feed CPU-bound operators (shingling,
# MinHash, cosine scans), so they keep full core-count parallelism even
# under the small-data profile's partition cap below.
_CPU_HEAVY_TABLES = frozenset({"documents", "embeddings"})

# Shuffle machinery should be sized to the data, not the cluster: below
# _SMALL_DATA_BYTES of total input the right setting is a handful of shuffle
# partitions and NO adaptive re-planning — AQE's per-stage replan rounds and
# 32-task shuffle stages cost ~4x the actual compute at sf0.1 (measured
# 0.97s -> 0.22s on a fresh groupBy query). Above the gate the cluster
# profile stays untouched: AQE on, skew handling, parallelism-sized
# shuffles — exactly what a 100 TB run needs. Both confs are runtime-settable
# and applied once per (session, sf_dir) on first load.
_SMALL_DATA_BYTES = 1 << 30
_SMALL_DATA_SHUFFLE_PARTITIONS = 8
# session id -> last-applied profile ("small" | "cluster"); keyed on the
# PROFILE, not the dir, so alternating between a small and a large dir in
# one session re-applies the right confs each time it actually changes
_TUNED: dict[int, str] = {}


def _tune_for_dir(spark: SparkSession, sf_dir: str) -> str:
    # recursive: Spark-written tables are DIRECTORIES of part files —
    # a top-level getsize would read their inode size (~4 KB) and tune a
    # multi-GB dir down to the tiny-data profile
    def _sz(p: str) -> int:
        if os.path.isdir(p):
            try:
                return sum(_sz(os.path.join(p, e)) for e in os.listdir(p))
            except OSError:
                return 0
        try:
            return os.path.getsize(p)
        except OSError:
            return 0

    try:
        total = sum(_sz(os.path.join(sf_dir, f))
                    for f in os.listdir(sf_dir))
    except OSError:
        return _TUNED.get(id(spark._jsparkSession), "cluster")
    if total < _SMALL_DATA_BYTES:
        # graduated, not binary: shuffle width grows with the data (~8 MB
        # of input per shuffle partition, floor 8) so a 100 MB dir gets
        # ~14 partitions instead of being pinned to the sf0.1 setting,
        # while the scheduling-floor win for tiny dirs is kept
        width = max(_SMALL_DATA_SHUFFLE_PARTITIONS,
                    min(spark.sparkContext.defaultParallelism,
                        int(total // (8 << 20)) + 1))
        profile = f"small-{width}"
    else:
        profile = "cluster"
    sid = id(spark._jsparkSession)
    if _TUNED.get(sid) == profile:
        return profile
    _TUNED[sid] = profile
    if profile != "cluster":
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.shuffle.partitions", str(width))
    else:
        # two-way: loading a LARGE dir restores the cluster profile a
        # previously-loaded small dir switched off — otherwise a session
        # that warmed on sf0.01 would run big-data queries with AQE
        # disabled and 8 shuffle partitions
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(spark.sparkContext.defaultParallelism))
    return profile


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Load a testdata table, normalized for engine parity.

    NOTE: this loader SETS SESSION-WIDE CONFS on the caller's session —
    parquet nanos handling, UTC timezone, codegen.maxFields, and (for
    small sf_dirs) shuffle partitions + AQE (``_tune_for_dir``). That is
    deliberate: the driver harness supplies its own session, and the
    oracle-parity and plan-quality guarantees only hold under these
    settings. Callers sharing a session with unrelated workloads should
    use ``spark.newSession()`` for isolation.
    """
    path = f"{sf_dir}/{name}.parquet"
    cache_on = os.environ.get("SPARK_GRAFT_NO_CACHE") != "1"
    key = (id(spark._jsparkSession), sf_dir, name)
    if cache_on and key in _CACHE:
        return _CACHE[key]
    # The driver's testdata writes TIMESTAMP(NANOS) parquet (events.ts);
    # without this conf any caller-provided session (the verify harness
    # builds its own) fails the read with PARQUET_TYPE_ILLEGAL. The conf is
    # runtime-settable, so set it here rather than relying on get_spark().
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # date_trunc/date_format over these tables are session-timezone
    # dependent; the DuckDB oracles treat timestamps as UTC wall-clock, so
    # pin any caller-provided session to UTC for engine parity.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # The fused profiler/validator plans carry 40-80 aggregates; below the
    # default maxFields=100 they fall out of whole-stage codegen (measured
    # 1.6x). Runtime-settable, so caller-provided sessions (the driver's
    # harness) get the same plan quality as get_spark() sessions.
    # (debug-capture stays untouched here: silently disabling PySpark's
    # call-site enrichment for the caller's whole session is not a data
    # loader's call — get_spark() handles it for sessions we own)
    try:
        spark.conf.set("spark.sql.codegen.maxFields", "500")
    except Exception:
        pass
    profile = _tune_for_dir(spark, sf_dir)
    df = spark.read.parquet(path)
    for c in _NANOS_TS.get(name, ()):
        if isinstance(df.schema[c].dataType, LongType):
            # `div` = exact integer division: nanos epochs (~1.7e18) exceed
            # double's 2^53 exact range, so floor(col / 1000) — a DOUBLE
            # division — lands ±2µs off the true microsecond value.
            df = df.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
    # Parquet TIMESTAMP(isAdjustedToUTC=false) reads as TIMESTAMP_NTZ under
    # Spark 4's inferTimestampNTZ default. NTZ forbids direct numeric casts
    # (epoch math, unix_micros) that the operators rely on; with the session
    # pinned to UTC above, NTZ -> TIMESTAMP is a wall-clock-preserving
    # relabel, and DuckDB's naive-timestamp oracle arithmetic stays exact.
    ntz = [f.name for f in df.schema.fields
           if isinstance(f.dataType, TimestampNTZType)]
    if ntz:
        df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz})
    try:
        size = os.path.getsize(path)
    except OSError:
        size = 0
    par = spark.sparkContext.defaultParallelism
    max_split = int(spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b").rstrip("b"))
    if profile != "cluster" and name not in _CPU_HEAVY_TABLES:
        # partitions sized to the DATA, not the core count: a 10 MB table
        # split 32 ways is 32 scheduler events per stage for ~20k rows of
        # work each — with ~50 queries per session the DAGScheduler's
        # single-threaded event loop becomes the bottleneck, especially
        # under concurrent submission. Floor at the small profile's
        # shuffle width (8): parquet bytes UNDERESTIMATE compute for
        # compressed text/embedding columns (measured: 2-partition
        # documents made the shingle-join contamination screen 5x
        # slower), so never go below one task per shuffle slot. The
        # cluster profile (>= 1 GB input) is untouched and still fans
        # out to full parallelism.
        par = max(_SMALL_DATA_SHUFFLE_PARTITIONS,
                  min(par, int(size // (2 << 20)) + 1))
    if size >= _REPARTITION_MIN_BYTES and size // max_split < par:
        df = df.repartition(par)
    if cache_on and size < _CACHE_MAX_BYTES:
        df = df.persist()
        _CACHE[key] = df
    return df


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register every testdata table as a temp view (SQL surface / V24)."""
    for t in TABLES:
        load_table(spark, t, sf_dir).createOrReplaceTempView(t)


@dataclass(frozen=True)
class ColumnSpec:
    name: str
    bucket: str  # numeric | text | datetime | boolean | other
    nullable: bool = True
    max_length: int | None = None  # declared VARCHAR length (V11)


@dataclass(frozen=True)
class TableSpec:
    name: str
    columns: tuple[ColumnSpec, ...]
    primary_keys: tuple[str, ...] = ()
    foreign_keys: tuple[tuple[str, str, str], ...] = ()  # (col, ref_table, ref_col)
    indexes: tuple[str, ...] = field(default=())

    def column(self, name: str) -> ColumnSpec:
        for c in self.columns:
            if c.name == name:
                return c
        raise KeyError(name)

    @property
    def column_names(self) -> list[str]:
        return [c.name for c in self.columns]


def _n(name: str, nullable: bool = False) -> ColumnSpec:
    return ColumnSpec(name, "numeric", nullable)


def _t(name: str, nullable: bool = False, max_length: int | None = None) -> ColumnSpec:
    return ColumnSpec(name, "text", nullable, max_length)


def _d(name: str, nullable: bool = False) -> ColumnSpec:
    return ColumnSpec(name, "datetime", nullable)


SCHEMAS: dict[str, TableSpec] = {
    "region": TableSpec(
        "region",
        ( _n("r_regionkey"), _t("r_name", nullable=True) ),
        primary_keys=("r_regionkey",),
    ),
    "nation": TableSpec(
        "nation",
        ( _n("n_nationkey"), _t("n_name", nullable=True), _n("n_regionkey") ),
        primary_keys=("n_nationkey",),
        foreign_keys=(("n_regionkey", "region", "r_regionkey"),),
    ),
    "customer": TableSpec(
        "customer",
        ( _n("c_custkey"), _t("c_name", nullable=True), _n("c_nationkey"), _n("c_acctbal"), _t("c_mktsegment", nullable=True) ),
        primary_keys=("c_custkey",),
        foreign_keys=(("c_nationkey", "nation", "n_nationkey"),),
    ),
    "supplier": TableSpec(
        "supplier",
        ( _n("s_suppkey"), _t("s_name", nullable=True), _n("s_nationkey"), _n("s_acctbal") ),
        primary_keys=("s_suppkey",),
        foreign_keys=(("s_nationkey", "nation", "n_nationkey"),),
    ),
    "part": TableSpec(
        "part",
        ( _n("p_partkey"), _t("p_name", nullable=True), _t("p_brand", nullable=True), _t("p_type", nullable=True), _n("p_size"), _n("p_retailprice") ),
        primary_keys=("p_partkey",),
    ),
    "orders": TableSpec(
        "orders",
        ( _n("o_orderkey"), _n("o_custkey"), _t("o_orderstatus", nullable=True), _n("o_totalprice"),
          _d("o_orderdate"), _t("o_orderpriority", nullable=True) ),
        primary_keys=("o_orderkey",),
        foreign_keys=(("o_custkey", "customer", "c_custkey"),),
    ),
    "lineitem": TableSpec(
        "lineitem",
        ( _n("l_orderkey"), _n("l_partkey"), _n("l_suppkey"), _n("l_linenumber"),
          _n("l_quantity"), _n("l_extendedprice"), _n("l_discount"), _n("l_tax"),
          _t("l_returnflag", nullable=True), _t("l_linestatus", nullable=True), _d("l_shipdate") ),
        primary_keys=("l_orderkey", "l_linenumber"),
        foreign_keys=(
            ("l_orderkey", "orders", "o_orderkey"),
            ("l_partkey", "part", "p_partkey"),
            ("l_suppkey", "supplier", "s_suppkey"),
        ),
    ),
    "events": TableSpec(
        "events",
        ( _n("event_id"), _d("ts"), _n("user_id"), _t("event_type", nullable=True), _n("value"), _t("props", nullable=True) ),
        primary_keys=("event_id",),
    ),
    "documents": TableSpec(
        "documents",
        ( _n("doc_id"), _t("text", nullable=True), _t("lang", nullable=True), _t("source", nullable=True), _n("n_chars") ),
        primary_keys=("doc_id",),
    ),
    "embeddings": TableSpec(
        "embeddings",
        ( _n("vec_id"), ColumnSpec("embedding", "other"), _n("label") ),
        primary_keys=("vec_id",),
    ),
}
