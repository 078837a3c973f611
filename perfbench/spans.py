"""Spans, counters and process CPU for the traced benchmark run.

Spans are recorded from the benchmark's side of each layer boundary: a
layer's public function is replaced, where its caller resolves the name,
by a wrapper that times the call while tracing is enabled. Spans nest; a
span's self time is its duration minus the time its direct children
cover. Spark jobs, stages and tasks are counted per operation through a
job group and the status tracker, read after the operation's timer has
stopped.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict
from contextlib import contextmanager

# (module or class path, attribute, layer name). Lazy functions return a
# DataFrame, so their span covers plan building only: their layer names
# end in ``build_s``. Eager functions run Spark jobs (or are pure Python)
# and their names end in ``busy_s``.
WRAPPED = [
    ("sparvi_spark.engine", "profile_table",
     "operators.profile.profile_table.busy_s"),
    ("sparvi_spark.operators.validation", "generate_default_rules",
     "operators.validation.generate_default_rules.busy_s"),
    ("sparvi_spark.engine", "run_rules",
     "operators.validation.run_rules.build_s"),
    ("sparvi_spark.engine", "snapshot_from_dataframe",
     "operators.schema_diff.snapshot_from_dataframe.build_s"),
    ("sparvi_spark.engine", "detect_changes",
     "operators.schema_diff.detect_changes.build_s"),
    ("sparvi_spark.engine", "detect_anomalies",
     "operators.anomalies.detect_anomalies.build_s"),
    ("sparvi_spark.operators.dedup", "minhash_signed",
     "operators.dedup.minhash_signed.build_s"),
    ("sparvi_spark.operators.dedup", "minhash_lsh_pairs",
     "operators.dedup.minhash_lsh_pairs.build_s"),
    ("sparvi_spark.operators.dedup", "minhash_pairs_from_sigs",
     "operators.dedup.minhash_pairs_from_sigs.build_s"),
    ("sparvi_spark.operators.dedup", "dedup_near",
     "operators.dedup.dedup_near.build_s"),
    ("sparvi_spark.sources.state:StateStore", "append",
     "sources.state.StateStore.append"),
    ("sparvi_spark.sources.state:StateStore", "append_rows",
     "sources.state.StateStore.append_rows"),
    ("sparvi_spark.sources.state:StateStore", "read",
     "sources.state.StateStore.read"),
    ("sparvi_spark.sources.state:StateStore", "latest_profile",
     "sources.state.StateStore.latest_profile"),
]
OPS = ("profile", "validate", "schema", "anomaly", "trigger", "check")


def _resolve(path: str):
    import importlib

    mod, _, cls = path.partition(":")
    obj = importlib.import_module(mod)
    return getattr(obj, cls) if cls else obj


class _Span:
    __slots__ = ("child_s",)

    def __init__(self):
        self.child_s = 0.0


class Tracer:
    """Off until ``enabled`` is set; while off, each wrapper costs one
    attribute test."""

    def __init__(self, spark):
        self.spark = spark
        self.enabled = False
        self._stack: list[_Span] = []
        self.busy: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self.self_s: dict[str, float] = defaultdict(float)
        self.groups: dict[str, list[str]] = defaultdict(list)
        self.own_s = 0.0
        self._n_groups = 0

    # -- wrappers -----------------------------------------------------------
    def install(self) -> None:
        """Replace every WRAPPED name with its traced wrapper, for the
        life of the process."""
        for path, attr, name in WRAPPED:
            owner = _resolve(path)
            orig = owner.__dict__[attr] if isinstance(owner, type) \
                else getattr(owner, attr)
            setattr(owner, attr, self._wrapper(orig, name))

    def _wrapper(self, fn, name):
        tracer = self

        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        sp = _Span()
        self._stack.append(sp)
        t1 = time.perf_counter()
        try:
            yield sp
        finally:
            t2 = time.perf_counter()
            self._stack.pop()
            dur = t2 - t1
            self.busy[name] += dur
            self.calls[name] += 1
            self.self_s[name] += dur - sp.child_s
            if self._stack:
                self._stack[-1].child_s += dur
            self.own_s += (t1 - t0) + (time.perf_counter() - t2)

    # -- operations ---------------------------------------------------------
    @contextmanager
    def op(self, kind: str):
        """An engine operation or check: a span named ``engine.<kind>``
        whose Spark jobs land in their own job group."""
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        self._n_groups += 1
        gid = f"perfbench-{kind}-{self._n_groups}"
        sc.setJobGroup(gid, kind)
        self.groups[kind].append(gid)
        self.own_s += time.perf_counter() - t0
        try:
            with self.span(f"engine.{kind}"):
                yield
        finally:
            t1 = time.perf_counter()
            sc._jsc.clearJobGroup()
            self.own_s += time.perf_counter() - t1

    def spark_counts(self) -> dict[str, dict[str, list[int]]]:
        """Jobs, stages and tasks of every traced operation, per kind.
        Read after the run: the status store is fed by an asynchronous
        listener bus, so it is drained first."""
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        st = sc.statusTracker()
        out: dict[str, dict[str, list[int]]] = {}
        for kind, gids in self.groups.items():
            per = {"jobs": [], "stages": [], "tasks": []}
            for gid in gids:
                jobs = st.getJobIdsForGroup(gid)
                stages = tasks = 0
                for jid in jobs:
                    info = st.getJobInfo(jid)
                    if info is None:
                        continue
                    for sid in info.stageIds:
                        stages += 1
                        sinfo = st.getStageInfo(sid)
                        if sinfo is not None:
                            tasks += sinfo.numTasks
                per["jobs"].append(len(jobs))
                per["stages"].append(stages)
                per["tasks"].append(tasks)
            out[kind] = per
        return out


# ------------------------------------------------------------ process CPU

_TICK = os.sysconf("SC_CLK_TCK")


def proc_cpu_s(pid: int) -> float:
    """User + system CPU seconds of ``pid`` from /proc (0.0 off Linux)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    return (int(fields[11]) + int(fields[12])) / _TICK


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def read_steal() -> tuple[int, int]:
    """(steal ticks, total ticks) of the aggregate cpu line of /proc/stat.
    guest/guest_nice are already inside user/nice, so only the first
    eight fields are summed."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])
