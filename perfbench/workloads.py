"""The benchmark workloads, each driving the public API from outside.

A workload generates its inputs from the seed (``prepare``, not timed),
sets up the program side (``setup``, timed, repeated), runs an untimed
warm-up, and then runs steps back to back — a closed loop with one client
thread — until the measuring window closes. Each step yields the units
it ran; ``main`` names the workload's main unit kind. Every unit's
outputs are checked against what the generator planted (or the DuckDB
oracle); a unit whose call raised or whose output was wrong counts as
failed.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import time

import numpy as np
import pandas as pd

import datagen


_TICK = os.sysconf("SC_CLK_TCK")
# Threads of the JVM that compile or sweep code rather than run the
# program (names as /proc truncates them to 15 characters).
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")


def busy_cpu_s() -> float:
    """CPU seconds this machine has spent busy (user, nice, system, irq,
    softirq) since boot, from the aggregate line of /proc/stat. Idle time
    and hypervisor steal are not in it: the busy time of an operation does
    not grow when the host takes cores away from the machine."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:8]]
    return (v[0] + v[1] + v[2] + v[5] + v[6]) / _TICK


def _task_cpu_s(path: str) -> float:
    with open(path) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / _TICK


class CpuMeter:
    """Busy CPU of the machine less that of the JVM's JIT compiler and
    code-sweeper threads. How much compiling lands inside one operation
    depends on the timing of a fresh JVM's compile queue (a monitor cycle
    read 3 to 10 compiler-thread seconds from one day to the next); a
    long-running service pays it once. The JVM keeps a fixed set of
    compiler threads, so their task files are listed once."""

    def __init__(self, jvm_pid: int):
        base = f"/proc/{jvm_pid}/task"
        self.jit = []
        for tid in os.listdir(base):
            try:
                with open(f"{base}/{tid}/comm") as f:
                    name = f.read().strip()
            except OSError:
                continue
            if name.startswith(JIT_THREADS):
                self.jit.append(f"{base}/{tid}/stat")

    def __call__(self) -> float:
        jit = 0.0
        for path in self.jit:
            try:
                jit += _task_cpu_s(path)
            except OSError:
                pass
        return busy_cpu_s() - jit


class Unit:
    """One timed unit operation: its wall time, the CPU time it cost (see
    CpuMeter), and whether its outputs checked out."""

    __slots__ = ("kind", "seconds", "cpu_s", "ok")

    def __init__(self, kind: str, seconds: float, cpu_s: float, ok: bool):
        self.kind = kind
        self.seconds = seconds
        self.cpu_s = cpu_s
        self.ok = ok


class Workload:
    name = ""
    main = ""

    def __init__(self, spark, work: str, seed: int, tracer, toy: bool):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tr = tracer
        self.toy = toy
        self.errors: list[str] = []
        self.wh = ""
        self.cpu = CpuMeter(int(
            spark._jvm.java.lang.ProcessHandle.current().pid()))

    def prepare(self) -> None:
        raise NotImplementedError

    def setup(self, rep: int) -> None:
        raise NotImplementedError

    def warmup(self) -> None:
        raise NotImplementedError

    def step(self) -> list[Unit]:
        raise NotImplementedError

    def done(self) -> bool:
        """True when the window may close after the current step."""
        return True

    def _engine(self, rep: int):
        from sparvi_spark.engine import Engine

        self.wh = os.path.join(self.work, f"warehouse_{rep}")
        shutil.rmtree(self.wh, ignore_errors=True)
        return Engine(self.spark, self.wh)

    def fail(self, msg: str) -> bool:
        self.errors.append(msg)
        return False

    def unit(self, kind: str, run) -> Unit:
        """Time ``run()`` as one unit of ``kind``; ``run`` returns a
        function that checks the outputs after the timer has stopped. An
        exception fails the unit, not the run."""
        c0, t0 = self.cpu(), time.perf_counter()
        try:
            check = run()
            dt, dc = time.perf_counter() - t0, self.cpu() - c0
            ok = check()
        except Exception as exc:
            return Unit(kind, math.nan, math.nan,
                        self.fail(f"{kind} raised {exc!r}"))
        return Unit(kind, dt, dc, ok)


# ------------------------------------------------------- check comparison

def _cell(v) -> str:
    """Type-tagged cell text: an int and a float of equal value differ."""
    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, (bool, np.bool_)):
        return f"b:{bool(v)}"
    if isinstance(v, (float, np.floating)):
        return "NULL" if math.isnan(v) else f"f:{float(v):.9g}"
    if isinstance(v, (int, np.integer)):
        return f"i:{int(v)}"
    return str(v)


def result_hash(pdf: pd.DataFrame) -> str:
    """Order-insensitive hash of a result frame: columns sorted by name,
    rows sorted after cell normalisation."""
    cols = sorted(pdf.columns)
    rows = sorted(tuple(_cell(v) for v in r)
                  for r in pdf[cols].itertuples(index=False))
    h = hashlib.sha1(repr(cols).encode())
    for r in rows:
        h.update(repr(r).encode())
    return f"{len(rows)}:{h.hexdigest()}"


# ---------------------------------------------------------------- monitor

TABLE, NULL_COL = "customer", "c_mktsegment"
# The monitored columns: a key, a numeric and a categorical string column.
# A cycle's cost is mostly per Spark action and per column, not per row,
# so three columns keep one cycle within the run's time budget.
COLUMNS = ("c_custkey", "c_acctbal", NULL_COL)
HISTORY_DAYS = 20
PLANT_DAY = 1
# The day's check builders: p05 is a leader of the suite's driver-side
# build floor (its sketch pass runs while the plan is built).
DAY_CHECKS = ("p05_percentiles",)


class Monitor(Workload):
    """One simulated day per step: profile -> validate -> schema of the
    day's table, an anomaly run over history seeded at set-up, and a pass
    over a few check builders. Day 0 is the warm-up (first profile and
    schema baseline); day 1 carries a planted 60% row drop and an added
    column."""

    name = "monitor"
    main = "cycle"

    def prepare(self) -> None:
        import duckdb

        from sparvi_spark.checks import collect_all_checks

        sf = 0.001 if self.toy else 0.01
        self.base = datagen.testdata_tables(self.seed, sf)[TABLE].select(
            list(COLUMNS))
        rng = np.random.default_rng([self.seed, 1])
        n = self.base.num_rows
        self.history = [{
            "metric_name": "row_count",
            "metric_value": float(int(n * rng.uniform(0.98, 1.0))),
            "metric_type": "profile", "table_name": TABLE,
            "source": "profiler", "ts": datagen.day_ts(d)}
            for d in range(-HISTORY_DAYS, 0)]
        self.configs = [{"metric_name": "row_count", "table_name": TABLE,
                         "detection_method": "zscore", "min_data_points": 7}]
        self.sf_dir = os.path.join(self.work, "testdata")
        names = datagen.write_testdata(self.seed, 0.001, self.sf_dir)
        checks = collect_all_checks(prepared=False)
        self.checks = [(c, checks[c][0]) for c in DAY_CHECKS]
        con = duckdb.connect()
        for t in names:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.sf_dir}/{t}.parquet')")
        self.want = {c: result_hash(con.execute(checks[c][1]).fetchdf())
                     for c in DAY_CHECKS}
        con.close()
        self.day = 0
        self.build_s = self.exec_s = 0.0
        self.n_checks = 0

    def setup(self, rep: int) -> None:
        self.engine = self._engine(rep)
        self.engine.state.append_rows("historical_metrics", self.history)

    def _table(self, day: int):
        rng = np.random.default_rng([self.seed, 2, day])
        t, n_null = datagen.monitor_table(
            self.base, rng, NULL_COL, drop=day == PLANT_DAY,
            add_col=day >= PLANT_DAY)
        path = os.path.join(self.work, "tables", f"{TABLE}_{day}.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        datagen.write(t, path)
        return path, t.num_rows, n_null

    def _cycle(self, day: int) -> Unit:
        path, n_rows, n_null = self._table(day)
        ts = datagen.day_ts(day)
        eng, tr = self.engine, self.tr
        where = f"{TABLE} day {day}"
        got = {}

        def run():
            df = self.spark.read.parquet(path)
            with tr.op("profile"):
                got["prof"] = eng.run_profile(df, TABLE, as_of=ts)
            with tr.op("validate"):
                got["res"] = eng.run_validations(df, TABLE,
                                                 run_at=ts).toPandas()
            with tr.op("schema"):
                ch = eng.track_schema(df, TABLE, as_of=ts)
                got["changes"] = None if ch is None else ch.toPandas()
            return check

        def check() -> bool:
            ok = True
            prof, res, changes = got["prof"], got["res"], got["changes"]
            if prof["row_count"] != n_rows:
                ok = self.fail(f"{where}: row_count {prof['row_count']} "
                               f"!= {n_rows}")
            nulls = prof["completeness"][NULL_COL]["nulls"]
            if nulls != n_null:
                ok = self.fail(f"{where}: {NULL_COL} nulls {nulls} "
                               f"!= {n_null}")
            if len(res) == 0 or "is_valid" not in res.columns:
                ok = self.fail(f"{where}: empty validation result")
            if day == 0:
                if changes is not None:
                    ok = self.fail(f"{where}: changes on the baseline day")
                return ok
            want = [("column_added", "added_flag")] if day == PLANT_DAY else []
            have = [] if changes is None else sorted(
                zip(changes.change_type, changes.column_name))
            if have != want:
                ok = self.fail(f"{where}: schema changes {have} != {want}")
            return ok

        return self.unit("cycle", run)

    def _anomaly(self, day: int) -> Unit:
        got = {}

        def run():
            with self.tr.op("anomaly"):
                out = self.engine.run_anomaly_detection(
                    self.configs, as_of=datagen.day_ts(day))
                got["rows"] = None if out is None else out.toPandas()
            return check

        def check() -> bool:
            rows = got["rows"]
            if day < PLANT_DAY:
                return True
            hit = rows is not None and bool((
                (rows.table_name == TABLE) & (rows.metric_name == "row_count")
                & (rows.ts == pd.Timestamp(datagen.day_ts(PLANT_DAY)))).any())
            return hit or self.fail(f"day {day}: no anomaly row for the "
                                    f"planted row drop")

        return self.unit("anomaly", run)

    def _check(self, name: str, fn) -> Unit:
        got = {}

        def run():
            with self.tr.op("check"):
                t0 = time.perf_counter()
                df = fn(self.spark, self.sf_dir)
                t1 = time.perf_counter()
                got["pdf"] = df.toPandas()
                if self.tr.enabled:
                    self.build_s += t1 - t0
                    self.exec_s += time.perf_counter() - t1
                    self.n_checks += 1
            return check

        def check() -> bool:
            have = result_hash(got["pdf"])
            return have == self.want[name] or self.fail(
                f"{name}: result {have} != oracle {self.want[name]}")

        return self.unit("check", run)

    def step(self) -> list[Unit]:
        out = [self._cycle(self.day), self._anomaly(self.day)]
        out += [self._check(name, fn) for name, fn in self.checks]
        self.day += 1
        return out

    def warmup(self) -> None:
        self.step()

    def done(self) -> bool:
        # the planted day must be inside the measured window
        return self.day > PLANT_DAY


# ----------------------------------------------------------------- intake

WARM_TRIGGERS = 3
MIN_TRIGGERS = 2


class CorpusIntake(Workload):
    """``dedup_corpus_incremental`` microbatches against a signature store
    seeded by a first, larger batch and grown by every trigger. Each batch
    carries planted exact copies: in-batch, and of admitted docs."""

    name = "corpus_intake"
    main = "trigger"

    def prepare(self) -> None:
        self.batch = 50 if self.toy else 100
        self.seed_batch = 100
        self.corpus: list[str] = []
        self.next_id = 0
        self.trigger = 0

    def setup(self, rep: int) -> None:
        self.engine = self._engine(rep)
        # the intake's first state touch: the still-empty signature store
        self.engine.state.read("corpus_signatures").count()

    def step(self, n: int | None = None) -> list[Unit]:
        n = n or self.batch
        rng = np.random.default_rng([self.seed, 3, self.trigger])
        n_ib = n // 20
        n_vc = min(n // 20, len(self.corpus))
        batch, fresh = datagen.intake_batch(
            rng, self.next_id, n, self.corpus, n_ib, n_vc)
        path = os.path.join(self.work, "batches", f"b{self.trigger}.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        datagen.write(batch, path)
        self.next_id += n
        self.trigger += 1
        run_at = datagen.day_ts(self.trigger)
        want = (n_ib, n_vc, n - n_ib - n_vc)
        got = {}

        def run():
            docs = self.spark.read.parquet(path)
            with self.tr.op("trigger"):
                got["s"] = self.engine.dedup_corpus_incremental(
                    docs, "bench", run_at=run_at)
                got["kept"] = got["s"]["kept"].toPandas()
            return check

        def check() -> bool:
            s = got["s"]
            have = (s["n_in_batch_dups"], s["n_vs_corpus_dups"], s["n_kept"])
            if have != want or len(got["kept"]) != want[2]:
                return self.fail(
                    f"trigger {self.trigger}: (in-batch, vs-corpus, kept) "
                    f"{have} != planted {want}")
            return True

        u = self.unit("trigger", run)
        self.corpus.extend(fresh)
        return [u]

    def warmup(self) -> None:
        # the first trigger seeds the store; the small ones after it run
        # the same plans, so the JVM's compilers warm up cheaply
        self.step(self.seed_batch)
        for _ in range(WARM_TRIGGERS):
            self.step(self.batch // 2)
        self.warm = self.trigger

    def done(self) -> bool:
        return self.trigger >= self.warm + MIN_TRIGGERS


WORKLOADS = {w.name: w for w in (Monitor, CorpusIntake)}
