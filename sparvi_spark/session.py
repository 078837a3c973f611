"""SparkSession factory with scale-aware defaults.

Local testing runs on local[N]; the same configs are what we would set on a
1000-executor cluster (AQE on, skew-join handling, sensible shuffle
partitioning). Nothing here is local-mode-specific except the master URL.
Also the session's scoped cache registry (``scoped_caches``).
"""

from __future__ import annotations

import contextlib
import os
import threading

from pyspark.sql import DataFrame, SparkSession

# the directory holding the sparvi_spark package: Python workers (the Arrow
# lanes' mapInPandas / applyInPandas kernels) import it by module name
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "sparvi_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Honors SPARK_GRAFT_CPUS for local parallelism (driver contract). On a
    real cluster the master/resource configs come from spark-submit; all
    SQL-level configs below apply unchanged.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus), 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # AQE: runtime coalescing, skew-join splitting, dynamic join strategy.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Coalesce post-shuffle partitions to the 64MB advisory size instead
        # of maximizing parallelism: small shuffles collapse to few tasks
        # (scheduling overhead dominates them), while at 100TB the advisory
        # size keeps partitions executor-memory-sized either way. This is
        # Spark's own recommended setting for busy clusters.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Deterministic timestamps across engines (oracle parity).
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for any pandas_udf / toPandas path.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python workers import sparvi_spark by module name; callers that
        # put the package root only on their own sys.path (the scripts,
        # __spark_entry__.py) would otherwise fail every Arrow lane with
        # ModuleNotFoundError when started from another directory. Spark
        # merges this ahead of the workers' inherited PYTHONPATH.
        .config("spark.executorEnv.PYTHONPATH", _ROOT)
        # Driver testdata writes TIMESTAMP(NANOS) parquet (events.ts); Spark
        # reads them as nanosecond longs, converted back in testdata.load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # The profiler/validator fuse 40-80 aggregates into one pass; the
        # default maxFields=100 pushes those plans out of whole-stage
        # codegen into interpreted eval (measured 1.6x on the fused
        # validation pass A at sf0.1).
        .config("spark.sql.codegen.maxFields", "500")
        # InferFiltersFromGenerate derives a `size(e) > 0 AND
        # isnotnull(e)` filter below every explode and pushes it through
        # the staging projections, SUBSTITUTING the generator input back
        # into the predicate — for the shingle/bigram pipelines that
        # re-materializes the whole interpreted gram build inside the
        # Filter (CodegenFallback, no CSE with the Project's copy) and,
        # worse, splices the token split back inside the transform
        # lambda, restoring the O(tokens²)-per-doc re-split the staged
        # projections exist to avoid. Measured on the 100× corpus:
        # candidate shingle explode 47.2s -> 8.2s with the rule off.
        # Every generator input in this engine is either a cheap column
        # or explicitly pre-filtered (the gram builders drop <n-token
        # docs by token count), so the rule's empty-row pruning buys
        # nothing here. Results are identical — the filter it removes is
        # redundant by construction.
        .config("spark.sql.optimizer.excludedRules",
                "org.apache.spark.sql.catalyst.optimizer."
                "InferFiltersFromGenerate")
        # PySpark 4 captures a Python call-site string on EVERY DataFrame
        # API call for error enrichment (errors/utils.py _with_origin);
        # profiling showed ~1.5s of pure driver-side overhead building one
        # wide validation plan. We build thousands of Columns per run.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # FAIR scheduler: concurrent submitters (the engine's check sweeps
        # mirror the reference's 10-thread rule executor) each set their
        # own spark.scheduler.pool and share executor slots fairly instead
        # of queueing behind one long job. Single-caller behavior is
        # unchanged — jobs without a pool land in the default FIFO pool.
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.ui.enabled", "false")
        # Session-catalog warehouse for bucketed tables (sources/bucketing).
        .config("spark.sql.warehouse.dir",
                os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/sparvi_warehouse"))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# --------------------------------------------------------------------------
# Scoped cache registry: operators persist() internal frames that their
# RESULT still references lazily (the LSH banded signature base), so they
# cannot unpersist before returning. Long-running callers (a streaming
# intake per microbatch) would otherwise accumulate one never-released
# CacheManager entry per call. Callers wrap build+materialize in
# ``with scoped_caches():`` — every frame persisted through
# ``scoped_persist`` inside the context is unpersisted on exit (pin results
# first via localCheckpoint, your own persist+count, or a collect). Without
# an active context behavior is unchanged. An eager operator opens its own
# scope around its persist and its action (``run_rules`` and its pass A).
# --------------------------------------------------------------------------

_CACHE_CTX = threading.local()


@contextlib.contextmanager
def scoped_caches():
    """Unpersist, on exit, every frame ``scoped_persist`` registers inside
    this context. Reentrant; inner scopes release only their own frames."""
    stack = getattr(_CACHE_CTX, "stack", None)
    if stack is None:
        stack = _CACHE_CTX.stack = []
    entry: list[DataFrame] = []
    stack.append(entry)
    try:
        yield entry
    finally:
        stack.pop()
        for frame in entry:
            try:
                frame.unpersist()
            except Exception:
                pass  # session already stopped — nothing to release


def scoped_persist(df: DataFrame) -> DataFrame:
    """persist() that registers with the innermost scoped_caches, if any."""
    df = df.persist()
    stack = getattr(_CACHE_CTX, "stack", None)
    if stack:
        stack[-1].append(df)
    return df
