"""Benchmark of the sparvi_spark Engine, end to end and per layer.

Usage, from the repository root:

    python3 perfbench/run.py --workload monitor --seed 1 --seconds 5 --trace 0

Workloads are listed in BENCHMARK.json. With ``--trace 0`` the last line
of standard output is a JSON object with the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics of a traced run. The line
before it records the run's context: cores, seed, sample counts and the
hypervisor steal fraction over the window. Everything the run writes goes
to ``.perfbench_work/<pid>/`` under the repository root and is removed at
exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _env(work: str, cpus: int) -> None:
    """Pin the session to this box's cores and keep every file it writes
    inside ``work``. Spark's Python workers find the package through
    PYTHONPATH, whatever their working directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "spark-warehouse")
    # The JIT stops at its first tier (C1): the optimising tier keeps
    # compiling for minutes on a fresh JVM, so the CPU an operation costs
    # would drift with how far a run has got; C1 code settles within the
    # warm-up. The compiler threads are fixed in number so that their CPU
    # can be told apart from the program's (workloads.CpuMeter).
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        f"-XX:TieredStopAtLevel=1 -XX:-UseDynamicNumberOfCompilerThreads "
        f"-Dderby.system.home={tmp}' pyspark-shell")


def _stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def _dir_stats(path: str) -> tuple[int, int]:
    """(parquet files, bytes) under ``path``."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            files += n.endswith(".parquet")
            size += os.path.getsize(os.path.join(d, n))
    return files, size


def unit_of(name: str) -> str:
    if name == "state.mb":
        return "MB"
    if name.endswith(".calls"):
        return "count/op"
    if name == "state.files" or (name.startswith("spark.")
                                 and not name.endswith("_s")):
        return "count"
    if name in ("setup_s", "op_cpu_s", "spark.boot_s", "trace.op_p50_s",
                "trace.op_cpu_s"):
        return "s"
    return "s/op"


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--toy", action="store_true",
                    help="toy-sized inputs (smoke test)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "sparvi_spark", "engine.py")):
        log(f"no sparvi_spark package under {ROOT}")
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import spans
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _env(work, cpus)
    spark = None
    try:
        from sparvi_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        boot_s = time.perf_counter() - t0
        tr = spans.Tracer(spark)
        wl = WORKLOADS[args.workload](spark, work, args.seed, tr, args.toy)
        wl.prepare()
        # set-up: the workload's program-side staging on a fresh state
        # warehouse, several times; the session's cold JVM launch is
        # reported on its own (spark.boot_s). Like an operation, a set-up
        # is charged its CPU cost; its wall time goes to the context.
        setup, setup_cpu = [], []
        for rep in range(SETUP_REPS):
            c0, t0 = wl.cpu(), time.perf_counter()
            wl.setup(rep)
            setup.append(time.perf_counter() - t0)
            setup_cpu.append(wl.cpu() - c0)
        if args.trace:
            tr.install()
        t0 = time.perf_counter()
        wl.warmup()
        log(f"boot {boot_s:.1f}s setup {[round(s, 2) for s in setup]} "
            f"warmup {time.perf_counter() - t0:.1f}s")
        units, ctx = measure(wl, spark, tr, args, spans)
        metrics = {"setup_s": statistics.median(setup_cpu)} \
            if not args.trace \
            else {"spark.boot_s": boot_s}
        main_units = [u for u in units if u.kind == wl.main]
        ok_units = [u for u in main_units if u.ok]
        p50 = statistics.median(u.seconds for u in ok_units) \
            if ok_units else 0.0
        cpu = statistics.median(u.cpu_s for u in ok_units) \
            if ok_units else 0.0
        if args.trace:
            metrics["trace.op_p50_s"] = p50
            metrics["trace.op_cpu_s"] = cpu
            metrics.update(layer_metrics(wl, tr, spans, ctx, len(main_units)))
        else:
            metrics["op_cpu_s"] = cpu
        failed = sum(not u.ok for u in units)
        ctx.update(workload=args.workload, seed=args.seed, nproc=cpus,
                   trace=args.trace, main_unit=wl.main,
                   samples=len(main_units),
                   main_s=[round(u.seconds, 4) for u in main_units],
                   main_cpu_s=[round(u.cpu_s, 2) for u in main_units],
                   other_s=[round(u.seconds, 4) for u in units
                            if u.kind != wl.main],
                   other_samples=len(units) - len(main_units),
                   setup_samples=[round(s, 4) for s in setup],
                   setup_cpu_s=[round(s, 2) for s in setup_cpu],
                   errors=wl.errors[:20])
        ctx.pop("cpu", None)
        print(json.dumps({"context": ctx}))
        print(json.dumps({
            "correct": failed == 0 and not wl.errors,
            "attempted": len(units),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": unit_of(k)}
                        for k, v in sorted(metrics.items())},
        }))
        return 0
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)


def measure(wl, spark, tr, args, spans):
    """The timed window: steps back to back until ``seconds`` have passed
    and the workload may stop. A traced run traces every unit."""
    pid = spans.jvm_pid(spark)
    st0, py0, jvm0 = spans.read_steal(), os.times(), spans.proc_cpu_s(pid)
    tr.enabled = bool(args.trace)
    units = []
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < args.seconds or not wl.done():
        units.extend(wl.step())
    wall = time.perf_counter() - t0
    tr.enabled = False
    st1, py1, jvm1 = spans.read_steal(), os.times(), spans.proc_cpu_s(pid)
    return units, {
        "window_s": round(wall, 3),
        "steal_frac": round((st1[0] - st0[0]) / max(1, st1[1] - st0[1]), 4),
        "cpu": {"driver": (py1.user + py1.system) - (py0.user + py0.system),
                "jvm": jvm1 - jvm0},
    }


def layer_metrics(wl, tr, spans, ctx, n_main: int) -> dict[str, float]:
    """Per-layer metrics of a traced window. Times and call counts are
    per main unit (a table cycle, a trigger); Spark counts are the median
    per call of each operation kind."""
    n = max(1, n_main)
    m = {"driver.py_cpu_s": ctx["cpu"]["driver"] / n,
         "jvm.cpu_s": ctx["cpu"]["jvm"] / n,
         "trace.self_s": tr.own_s / n}
    counts = tr.spark_counts()
    for kind in spans.OPS:
        per = counts.get(kind, {})
        for what in ("jobs", "stages", "tasks"):
            vals = per.get(what)
            m[f"spark.{what}.{kind}"] = statistics.median(vals) if vals else 0
        m[f"engine.{kind}.self_s"] = tr.self_s.get(f"engine.{kind}", 0.0) / n
    for _path, _attr, name in spans.WRAPPED:
        if name.startswith("sources.state."):
            m[f"{name}.calls"] = tr.calls.get(name, 0) / n
            m[f"{name}.busy_s"] = tr.busy.get(name, 0.0) / n
        else:
            m[name] = tr.busy.get(name, 0.0) / n
    files, size = _dir_stats(wl.wh)
    m["state.files"] = files
    m["state.mb"] = size / 1e6
    k = max(1, getattr(wl, "n_checks", 0))
    m["checks.build_s"] = getattr(wl, "build_s", 0.0) / k
    m["checks.exec_s"] = getattr(wl, "exec_s", 0.0) / k
    return m


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
