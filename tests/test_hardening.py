"""Round-5 hardening regressions: pointer-file state commits, NULL
partition keys in incremental profiling, grouped anomaly fan-out, the V3
auto-appended row-growth rule, the hash-projection duplicate count, empty-
column percentiles, JDBC bound edge cases, and auto-detected media decoders.
"""

import os
import re
import time

import pytest
from pyspark.sql import functions as F

from sparvi_spark.operators.multimodal import pillow_available
from tests.conftest import SF_DIR


@pytest.fixture()
def engine(spark, tmp_path):
    from sparvi_spark.engine import Engine

    return Engine(spark, str(tmp_path / "warehouse"))


# ---------------------------------------------------------------------------
# pointer-file state commits
# ---------------------------------------------------------------------------

def test_state_pointer_commit_crash_safe(spark, tmp_path):
    """A crash between writing a new version dir and flipping the pointer
    must leave the previously committed state fully readable; the stray
    dir is GC'd by the next commit."""
    from sparvi_spark.sources.state import (
        StateStore,
        next_version,
        read_pointer,
    )

    st = StateStore(spark, str(tmp_path / "wh"))
    st.append_rows("engine_events", [
        {"event_type": "e", "table_name": f"t{i}", "details": "d",
         "detected_at": f"2026-01-0{i + 1} 00:00:00"} for i in range(3)])
    st.retain_latest("engine_events", ["table_name"], "detected_at", 2)
    base = st._path("engine_events")
    assert read_pointer(base) is not None
    before = sorted(r["table_name"] for r in st.read("engine_events").collect())
    assert before == ["t0", "t1", "t2"]

    # simulated crash: in-flight version dir exists, pointer never flipped
    stray = os.path.join(base, next_version(base))
    os.makedirs(stray)
    with open(os.path.join(stray, "part-00000.parquet"), "wb") as f:
        f.write(b"garbage-half-written")
    after = sorted(r["table_name"] for r in st.read("engine_events").collect())
    assert after == before  # committed state untouched

    # the next commit flips past the stray and GCs it
    st.retain_latest("engine_events", ["table_name"], "detected_at", 2)
    assert not os.path.exists(stray)
    versions = [d for d in os.listdir(base) if d.startswith("v_")]
    assert versions == [read_pointer(base)]


def test_incremental_state_commit_crash_safe(spark, engine):
    """Same protocol for the incremental sketch families: a stray
    uncommitted version dir must not shadow committed state or trip the
    bootstrap probe into a silent full re-scan."""
    from sparvi_spark.sources.state import next_version, read_pointer

    rows = [(p, float(i)) for p in ("a", "b") for i in range(20)]
    df = spark.createDataFrame(rows, "part string, v double")
    engine.run_incremental_profile(df, "tc", "part", ["v"])

    base = os.path.join(engine.state.root, "incremental", "tc", "stats")
    committed = read_pointer(base)
    assert committed is not None
    stray = os.path.join(base, next_version(base))
    os.makedirs(stray)  # crash: dir created, nothing flipped

    # unchanged rerun: reads committed state, detects nothing, no event
    n_events = engine.state.read("engine_events").where(
        F.col("event_type") == "incremental_profile").count()
    out = engine.run_incremental_profile(df, "tc", "part", ["v"]).collect()
    assert out[0]["cnt"] == 40
    assert engine.state.read("engine_events").where(
        F.col("event_type") == "incremental_profile").count() == n_events
    assert read_pointer(base) == committed


def test_incremental_commit_aborts_when_state_advances(spark, engine):
    """The optimistic pointer check: an incremental run whose fold was
    computed against state that ANOTHER engine advanced in the meantime
    must raise LeaseConflict instead of committing (which would silently
    drop the competitor's fold), and the committed state must be the
    competitor's."""
    import sparvi_spark.operators.incremental as inc
    from sparvi_spark.engine import Engine
    from sparvi_spark.sources.state import LeaseConflict, read_pointer

    rows = [(p, float(i)) for p in ("a", "b") for i in range(10)]
    df = spark.createDataFrame(rows, "part string, v double")
    engine.run_incremental_profile(df, "tc", "part", ["v"])  # bootstrap

    df2 = df.unionByName(spark.createDataFrame(
        [("c", float(i)) for i in range(5)], "part string, v double"))
    df3 = df.unionByName(spark.createDataFrame(
        [("d", float(i)) for i in range(5)], "part string, v double"))
    engine2 = Engine(spark, engine.state.root)
    real = inc.incremental_profile_full
    fired = []

    def racing(*a, **k):
        out = real(*a, **k)
        if not fired:  # competitor commits between our read and our lease
            fired.append(True)
            engine2.run_incremental_profile(df3, "tc", "part", ["v"])
        return out

    inc.incremental_profile_full = racing
    try:
        with pytest.raises(LeaseConflict, match="advanced"):
            engine.run_incremental_profile(df2, "tc", "part", ["v"])
    finally:
        inc.incremental_profile_full = real
    base = os.path.join(engine.state.root, "incremental", "tc", "stats")
    committed = os.path.join(base, read_pointer(base))
    parts = {r["partition_value"] for r in
             spark.read.parquet(committed).collect()}
    assert parts == {"a", "b", "d"}  # engine2's fold survived intact
    # and a plain rerun over df2 succeeds against the advanced state
    out = engine.run_incremental_profile(df2, "tc", "part", ["v"]).collect()
    assert out[0]["cnt"] == 25


def test_state_lease_mutual_exclusion(tmp_path):
    """The commit lease serializes racing writers: N threads hammering
    acquire -> read-modify-write a counter file -> release lose no
    update, and no two threads ever hold the lease at once."""
    import threading

    from sparvi_spark.sources.state import acquire_lease, release_lease

    base = str(tmp_path / "leased")
    counter = tmp_path / "counter.txt"
    counter.write_text("0")
    holders = []
    overlap = []
    lock = threading.Lock()

    def worker(i):
        for _ in range(8):
            owner = acquire_lease(base, owner=f"w{i}", wait_seconds=30.0)
            with lock:
                holders.append(owner)
                if len(holders) > 1:
                    overlap.append(tuple(holders))
            n = int(counter.read_text())
            time.sleep(0.002)  # widen the lost-update window
            counter.write_text(str(n + 1))
            with lock:
                holders.remove(owner)
            release_lease(base, owner)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert overlap == []
    assert int(counter.read_text()) == 4 * 8


def test_state_lease_takeover_and_verify(tmp_path):
    """An expired lease is stolen by the next acquirer; the old owner's
    verify fails afterwards (so a stalled writer aborts its flip instead
    of overwriting the successor). An UNEXPIRED lease blocks acquire with
    LeaseConflict at the wait deadline."""
    from sparvi_spark.sources.state import (
        LeaseConflict,
        acquire_lease,
        release_lease,
        verify_lease,
    )

    base = str(tmp_path / "leased")
    a = acquire_lease(base, owner="a", ttl_seconds=0.05)
    time.sleep(0.08)  # a's lease expires
    b = acquire_lease(base, owner="b", ttl_seconds=60.0, wait_seconds=5.0)
    assert not verify_lease(base, a)
    assert verify_lease(base, b)
    with pytest.raises(LeaseConflict):
        acquire_lease(base, owner="c", wait_seconds=0.2)
    release_lease(base, b)
    assert acquire_lease(base, owner="c", wait_seconds=1.0) == "c"


def test_state_table_format_gate_raises_when_missing(spark, tmp_path):
    """StateStore(table_format=...) fails at CONSTRUCTION when the
    format's jars are absent from the session — not at first write."""
    from sparvi_spark.sources.state import (
        StateStore, table_format_available)

    if not table_format_available(spark, "delta"):
        with pytest.raises(ValueError, match="delta"):
            StateStore(spark, str(tmp_path / "wh"), table_format="delta")
    # iceberg is rejected unconditionally: the v1 path writer used by
    # StateStore cannot bootstrap a never-written Iceberg table
    with pytest.raises(ValueError, match="iceberg"):
        StateStore(spark, str(tmp_path / "whi"), table_format="iceberg")
    # parquet never gates
    StateStore(spark, str(tmp_path / "wh2"))


def test_state_table_format_append_read_plumbing(spark, tmp_path):
    """The table-format code path (format-dispatched append + load +
    DDL-cast read) driven end-to-end with ORC — a registered file source
    standing in for the ACID formats whose jars this container lacks.
    ORC has no transaction log, so this covers the PLUMBING (dispatch,
    partitioning, schema alignment, empty-read contract), not the
    snapshot-isolated retain overwrite (delta-gated test below)."""
    from sparvi_spark.sources.state import StateStore

    st = StateStore(spark, str(tmp_path / "wh"), table_format="orc")
    assert st.read("engine_events").count() == 0  # empty contract
    st.append_rows("engine_events", [
        {"event_type": "e1", "table_name": "t", "details": "d",
         "detected_at": "2026-01-01 00:00:00"},
        {"event_type": "e2", "table_name": "t", "details": "d",
         "detected_at": "2026-02-01 00:00:00"}])
    st.append_rows("engine_events", [
        {"event_type": "e3", "table_name": "t", "details": "d",
         "detected_at": "2026-02-02 00:00:00"}])
    out = st.read("engine_events")
    assert out.count() == 3
    # run_date partition column materialized and typed per the DDL
    assert dict(out.dtypes)["run_date"] == "date"
    assert out.where("run_date = '2026-02-01'").count() == 1
    # the parquet reader must NOT see this root as its own layout
    assert sorted(
        r["event_type"] for r in out.collect()) == ["e1", "e2", "e3"]
    # a non-transactional format must REFUSE the retain overwrite: it
    # would read and overwrite the same path with no snapshot between
    with pytest.raises(ValueError, match="transactional"):
        st.retain_latest("engine_events", ["table_name"], "detected_at", 1)


def test_engine_flows_green_on_swapped_state_backend(spark, tmp_path):
    """Engine(state_format="orc"): the profile-run lifecycle (store ->
    metric tracking -> trends attach -> previous-profile read on rerun)
    works unchanged with the state backend swapped via config."""
    from sparvi_spark.engine import Engine

    eng = Engine(spark, str(tmp_path / "wh"), state_format="orc")
    df = spark.createDataFrame([(i, f"s{i % 3}") for i in range(20)],
                               "a int, b string")
    p1 = eng.run_profile(df, "t", as_of="2026-01-01 00:00:00")
    assert p1["row_count"] == 20
    p2 = eng.run_profile(df, "t", as_of="2026-01-02 00:00:00")
    assert p2["trends"]["row_counts"] == [20, 20]  # both runs stored
    assert eng.state.latest_profile("t")["row_count"] == 20


def test_state_table_format_retain_delta_when_available(spark, tmp_path):
    """Auto-activates if this container ever gains the delta jars: the
    ACID retain path (transactional overwrite, source==destination) must
    match the parquet pointer-protocol result."""
    from sparvi_spark.sources.state import (
        StateStore, table_format_available)

    if not table_format_available(spark, "delta"):
        pytest.skip("delta jars not on the session classpath")
    st = StateStore(spark, str(tmp_path / "wh"), table_format="delta")
    st.append_rows("engine_events", [
        {"event_type": "e", "table_name": f"t{i % 2}", "details": f"d{i}",
         "detected_at": f"2026-01-{i + 1:02d} 00:00:00"}
        for i in range(6)])
    st.retain_latest("engine_events", ["table_name"], "detected_at", 2)
    out = st.read("engine_events")
    assert out.count() == 4
    assert out.groupBy("table_name").count().where("count > 2").count() == 0


def test_state_lease_release_requires_ttl_margin(tmp_path):
    """release_lease is a no-op when the lease is within _RELEASE_MARGIN
    of expiry: a remove there could race an expiry-steal + fresh re-link
    and delete the SUCCESSOR's lease. The nearly-expired lease is left
    for the thieves' rename path, so the next acquirer still gets in
    after TTL."""
    from sparvi_spark.sources.state import (
        acquire_lease,
        read_lease,
        release_lease,
    )

    base = str(tmp_path / "leased")
    a = acquire_lease(base, owner="a", ttl_seconds=0.3)  # < margin
    release_lease(base, "a")
    assert read_lease(base) is not None  # no-op inside the margin
    time.sleep(0.35)
    # expired lease is stolen by the next acquirer as usual
    assert acquire_lease(base, owner="b", wait_seconds=5.0) == "b"
    release_lease(base, "b")  # ttl 120 default: well outside the margin
    assert read_lease(base) is None


_LEASE_WORKER_SRC = """
import json, os, sys, time
sys.path.insert(0, {repo!r})
from sparvi_spark.sources.state import acquire_lease, release_lease

base, counter, wid, n = sys.argv[1], sys.argv[2], sys.argv[3], int(sys.argv[4])
for _ in range(n):
    owner = acquire_lease(base, owner=wid, wait_seconds=60.0)
    cur = int(open(counter).read())
    time.sleep(0.002)  # widen the lost-update window
    with open(counter + ".tmp", "w") as f:
        f.write(str(cur + 1))
    os.replace(counter + ".tmp", counter)
    release_lease(base, owner)
print("ok")
"""


@pytest.mark.parametrize("root", ["tmp", "disk"])
def test_state_lease_cross_process_mutual_exclusion(tmp_path, root):
    """The os.link lease arbiter under REAL multi-process contention:
    N OS processes × M commits each through a read-modify-write counter
    lose no update. Threads share a Python VFS and GIL scheduling; this
    drives the protocol through separate kernels' view of link/rename
    on both a tmpfs-style pytest tmp dir and an explicitly local-disk
    root (the two filesystems a single-host deployment sees)."""
    import subprocess
    import sys
    import tempfile

    if root == "tmp":
        workdir = str(tmp_path)
    else:
        workdir = tempfile.mkdtemp(prefix="sparvi_lease_",
                                   dir="/var/tmp")
    base = os.path.join(workdir, "leased")
    counter = os.path.join(workdir, "counter.txt")
    with open(counter, "w") as f:
        f.write("0")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = _LEASE_WORKER_SRC.format(repo=repo)
    n_proc, n_commits = 4, 6
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", script, base, counter, f"p{i}",
             str(n_commits)],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        for i in range(n_proc)
    ]
    try:
        for p in procs:
            out, err = p.communicate(timeout=120)
            assert p.returncode == 0, err
            assert out.strip() == "ok"
        with open(counter) as f:
            assert int(f.read()) == n_proc * n_commits
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
        if root == "disk":
            import shutil
            shutil.rmtree(workdir, ignore_errors=True)


def test_state_retention_concurrent_commits_lose_nothing(spark, tmp_path):
    """Two engines compacting the same entity concurrently serialize on
    the lease: both commits succeed, the pointer ends on a complete
    version dir, no version-name collision corrupts data, and the final
    state is a valid retention result over every appended row."""
    import threading

    from sparvi_spark.sources.state import StateStore, read_pointer

    st = StateStore(spark, str(tmp_path / "wh"))
    st.append_rows("engine_events", [
        {"event_type": "e", "table_name": f"t{i % 3}", "details": f"d{i}",
         "detected_at": f"2026-01-{i + 1:02d} 00:00:00"}
        for i in range(9)])

    errs = []

    def compact():
        try:
            st.retain_latest("engine_events", ["table_name"],
                             "detected_at", 2)
        except Exception as exc:  # noqa: BLE001 — recorded for the assert
            errs.append(exc)

    threads = [threading.Thread(target=compact) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errs == []
    base = st._path("engine_events")
    current = read_pointer(base)
    versions = [d for d in os.listdir(base) if d.startswith("v_")]
    assert versions == [current]  # losers GC'd, winner committed
    out = st.read("engine_events").collect()
    assert len(out) == 6  # 3 keys x newest 2
    assert {r["table_name"] for r in out} == {"t0", "t1", "t2"}


# ---------------------------------------------------------------------------
# NULL partition keys in incremental profiling
# ---------------------------------------------------------------------------

def test_incremental_profile_null_partition_keys(spark, engine):
    """NULL partition values are first-class: they are sketched once (not
    re-flagged every run) and survive the deleted-partition purge."""
    from sparvi_spark.operators.incremental import incremental_profile_full

    rows = [("a", 1.0), ("a", 2.0), (None, 5.0), (None, 7.0),
            ("b", 3.0), ("b", 4.0)]
    df = spark.createDataFrame(rows, "part string, v double")
    p1 = engine.run_incremental_profile(df, "tn", "part", ["v"]).collect()
    assert p1[0]["cnt"] == 6

    # unchanged rerun: the NULL partition must NOT be re-flagged
    n_events = engine.state.read("engine_events").where(
        F.col("event_type") == "incremental_profile").count()
    engine.run_incremental_profile(df, "tn", "part", ["v"])
    assert engine.state.read("engine_events").where(
        F.col("event_type") == "incremental_profile").count() == n_events

    # dropping partition 'b' must purge only 'b' — NULL-keyed state stays
    shrunk = df.where("part is null or part <> 'b'")
    got = engine.run_incremental_profile(shrunk, "tn", "part", ["v"]) \
        .toPandas().sort_values("column_name").reset_index(drop=True)
    _, scratch = incremental_profile_full(shrunk, "part", ["v"])
    expect = scratch.toPandas().sort_values("column_name") \
        .reset_index(drop=True)
    assert got.equals(expect)
    assert got.iloc[0]["cnt"] == 4 and got.iloc[0]["max_val"] == 7.0


# ---------------------------------------------------------------------------
# grouped anomaly fan-out
# ---------------------------------------------------------------------------

def _seed_metric_series(engine):
    rows = []
    for t in ("t1", "t2", "t3"):
        for c in ("c1", "c2", None):
            for i in range(28):
                v = 100.0 + (i % 5)
                if i == 17:
                    v = 500.0  # the spike every detector should flag
                rows.append({
                    "metric_name": "m", "metric_value": v, "metric_type": "x",
                    "table_name": t, "column_name": c, "source": "s",
                    "ts": f"2026-01-{i + 2:02d} 00:00:00"})
    engine.state.append_rows("historical_metrics", rows)


def test_anomaly_grouped_fanout_matches_per_config_loop(spark, engine):
    """The (method, params)-grouped broadcast-join fan-out must emit
    exactly what the per-config loop did — including duplicate emission
    when a wildcard and a specific config match the same series."""
    from sparvi_spark.operators.anomalies import detect_anomalies
    from sparvi_spark.operators.trends import retain_latest

    _seed_metric_series(engine)
    as_of = "2026-02-01 00:00:00"
    configs = [
        {"metric_name": "m", "table_name": "t1"},                     # wildcard
        {"metric_name": "m", "table_name": "t1", "column_name": "c1"},  # overlap
        {"metric_name": "m", "table_name": "t2", "detection_method": "iqr"},
        {"metric_name": "m", "table_name": "t3", "sensitivity": 2.0},
        {"metric_name": "m", "table_name": "t9"},                     # no match
        {"metric_name": "m", "table_name": "t2", "is_active": False},
    ]
    def _key(r):
        return tuple("" if x is None else str(x) for x in r)

    got = engine.run_anomaly_detection(configs, as_of=as_of)
    got_rows = sorted((tuple(r) for r in got.collect()), key=_key)
    assert got_rows  # the spikes were found

    # reference loop (the reference's per-config ThreadPool semantics)
    metrics = engine.state.read("historical_metrics").where(
        F.col("ts") >= F.lit(as_of).cast("timestamp")
        - F.expr("interval 30 days"))
    keys = ["metric_name", "table_name", "column_name"]
    expect = []
    for cfg in configs:
        if not cfg.get("is_active", True):
            continue
        series = metrics.where(
            (F.col("metric_name") == cfg["metric_name"])
            & (F.col("table_name") == cfg.get("table_name", "")))
        if cfg.get("column_name"):
            series = series.where(F.col("column_name") == cfg["column_name"])
        series = retain_latest(series, keys, "ts", 1000).select(
            *keys, "ts", F.col("metric_value").alias("value"))
        det = detect_anomalies(series, keys, config=cfg,
                               order_col="ts", value_col="value")
        expect += [tuple(r) for r in det.where(F.col("is_anomaly")).select(
            *keys, "method", "ts", "value", "score", "threshold",
            "severity").collect()]
    assert got_rows == sorted(expect, key=_key)
    # the t1 spike appears TWICE per matched series overlap (wildcard +
    # specific config), as the loop emitted it
    t1c1 = [r for r in got_rows if r[1] == "t1" and r[2] == "c1"]
    assert len(t1c1) == 2


def test_anomaly_200_configs_one_group_stays_cheap(spark, engine):
    """200 same-method configs = ONE broadcast config table and one window
    subtree — wall time stays flat where the per-config loop built 200
    filtered subtrees (linear Catalyst analysis + 200 unions)."""
    _seed_metric_series(engine)
    configs = [
        {"metric_name": "m", "table_name": f"t{(i % 3) + 1}",
         "column_name": ["c1", "c2", None][i % 3]}
        for i in range(200)
    ]
    t0 = time.time()
    res = engine.run_anomaly_detection(configs, as_of="2026-02-01 00:00:00")
    n = res.count()
    elapsed = time.time() - t0
    assert n > 0
    assert elapsed < 20, f"200-config grouped run took {elapsed:.1f}s"


# ---------------------------------------------------------------------------
# V3 row growth auto-wired into Engine.run_validations
# ---------------------------------------------------------------------------

def test_row_growth_rule_auto_appended(spark, engine):
    df10 = spark.createDataFrame([(i,) for i in range(10)], "id int")
    # no prior row_count metric -> no growth rule generated
    res0 = engine.run_validations(df10, "growth_t", rules=None,
                                  run_at="2026-01-01 00:00:00")
    assert res0.where(
        F.col("rule_name") == "check_growth_t_row_growth").count() == 0

    engine.state.append_rows("historical_metrics", [{
        "metric_name": "row_count", "metric_value": 10.0,
        "metric_type": "profile", "table_name": "growth_t",
        "source": "profiler", "ts": "2026-01-01 00:00:00"}])

    # +40% jump -> rule present and failing
    df14 = spark.createDataFrame([(i,) for i in range(14)], "id int")
    res1 = engine.run_validations(df14, "growth_t", rules=None,
                                  run_at="2026-01-02 00:00:00")
    row = res1.where(
        F.col("rule_name") == "check_growth_t_row_growth").collect()
    assert len(row) == 1 and row[0]["is_valid"] is False

    # +10% -> rule present and passing
    df11 = spark.createDataFrame([(i,) for i in range(11)], "id int")
    res2 = engine.run_validations(df11, "growth_t", rules=None,
                                  run_at="2026-01-03 00:00:00")
    row = res2.where(
        F.col("rule_name") == "check_growth_t_row_growth").collect()
    assert len(row) == 1 and row[0]["is_valid"] is True


# ---------------------------------------------------------------------------
# hash-projection duplicate count (P9 scale path)
# ---------------------------------------------------------------------------

def test_duplicate_count_hash_matches_exact_with_null_positions(spark):
    from sparvi_spark.operators.profile import duplicate_count

    # (NULL,'a') vs ('a',NULL) must stay DISTINCT (xxhash64 skips nulls;
    # the position markers keep them apart)
    rows = [("a", None), (None, "a"), ("a", None), ("x", "y"), ("x", "y")]
    df = spark.createDataFrame(rows, "c1 string, c2 string")
    assert duplicate_count(df) == 2
    assert duplicate_count(df, exact=True) == 2


def test_p01_duplicate_shuffle_carries_hash_only(spark):
    """The fused P1+P9 check must shuffle the 8-byte hash, never
    full-width rows: no exchange key list contains a payload column."""
    from sparvi_spark.checks.profile_checks import q_row_counts

    q = q_row_counts(spark, SF_DIR)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "xxhash64" in plan
    for m in re.finditer(r"hashpartitioning\(([^)]*)\)", plan):
        assert "l_comment" not in m.group(1)
        assert "o_comment" not in m.group(1)
    # correctness unchanged vs the exact oracle formulation
    got = {r["table_name"]: (r["row_count"], r["duplicate_cnt"])
           for r in q.collect()}
    from sparvi_spark.testdata import load_table

    li = load_table(spark, "lineitem", SF_DIR)
    exact_dups = li.count() - li.dropDuplicates().count()
    assert got["lineitem"] == (li.count(), exact_dups)


# ---------------------------------------------------------------------------
# empty-column exact percentiles
# ---------------------------------------------------------------------------

def test_exact_percentiles_all_null_column_surfaces(spark):
    from sparvi_spark.operators.profile import exact_percentiles

    df = spark.createDataFrame(
        [(1.0, None), (2.0, None), (3.0, None)], "a double, b double")
    out = {r["column_name"]: r for r in
           exact_percentiles(df, ["a", "b"]).collect()}
    assert set(out) == {"a", "b"}
    assert out["a"]["p50"] == 2.0
    assert out["b"]["p25"] is None and out["b"]["p50"] is None
    # empty input: every requested column still surfaces (weighted path
    # left-joins from the literal requested frame)
    empty = spark.createDataFrame([], "a double, b double")
    out = {r["column_name"]: r for r in
           exact_percentiles(empty, ["a", "b"]).collect()}
    assert set(out) == {"a", "b"}
    assert out["a"]["p50"] is None


def test_exact_percentiles_refine_matches_bucketed(spark):
    """Sketch-then-refine equals the fully-exact bucketed plan on a big
    enough column for the refine main path to engage (n >> 3·accuracy),
    with both a duplicate-run-heavy column (whole window = one endpoint
    run) and a high-cardinality one; all-NULL and empty inputs surface
    the same NULL-quantile rows."""
    import pyspark.sql.functions as F

    from sparvi_spark.operators.profile import (
        exact_percentiles, exact_percentiles_refine)

    n = 30_000
    df = (spark.range(n)
          .select(
              (F.col("id") % 7).cast("double").alias("dup_heavy"),
              (F.xxhash64("id") % 100_000).cast("double").alias("spread"),
              F.lit(None).cast("double").alias("all_null")))
    cols = ["dup_heavy", "spread", "all_null"]
    want = {r["column_name"]: r for r in
            exact_percentiles(df, cols).collect()}
    got = {r["column_name"]: r for r in
           exact_percentiles_refine(df, cols, accuracy=2_000).collect()}
    assert set(got) == set(want)
    for c in cols:
        for q in ("p25", "p50", "p75"):
            assert got[c][q] == want[c][q], (c, q, got[c][q], want[c][q])

    empty = spark.createDataFrame([], "a double")
    out = exact_percentiles_refine(empty, ["a"]).collect()
    assert len(out) == 1 and out[0]["p50"] is None


def test_exact_percentiles_refine_route_parity(spark):
    """Every refine route agrees with the bucketed plan: the tie shortcut
    (duplicate-run columns whose probe pair pins the quantile in pass 1),
    the self-checking window path (``tie_shortcut=False`` forces it), and
    the bucketed fallback (NaN/±inf brackets, clamped p=0/1 probes). The
    mid-quantiles of low-card columns resolve via ties; p0/p100 always
    clamp and must route through window->fallback without losing
    exactness."""
    import math

    from sparvi_spark.operators.profile import (
        exact_percentiles, exact_percentiles_refine)

    rows = []
    for i in range(5_000):
        rows.append((
            float(i % 9),                                   # low-card clean
            float("nan") if i % 911 == 0 else float(i % 13),  # low-card NaN
            float("inf") if i == 0 else (-math.inf if i == 1
                                         else float(i % 11)),  # ±inf
        ))
    df = spark.createDataFrame(rows, "a double, b double, c double")
    cols = ["a", "b", "c"]
    want = {r["column_name"]: r for r in
            exact_percentiles(df, cols, ps=(0.0, 0.5, 1.0)).collect()}

    def check(out):
        for c in cols:
            for q in ("p0", "p50", "p100"):
                g, w = out[c][q], want[c][q]
                same = (g == w or (g is not None and w is not None
                                   and math.isnan(g) and math.isnan(w)))
                assert same, (c, q, g, w)

    tie = {r["column_name"]: r for r in exact_percentiles_refine(
        df, cols, ps=(0.0, 0.5, 1.0)).collect()}
    check(tie)
    win = {r["column_name"]: r for r in exact_percentiles_refine(
        df, cols, ps=(0.0, 0.5, 1.0), tie_shortcut=False).collect()}
    check(win)


# ---------------------------------------------------------------------------
# JDBC bound edge cases
# ---------------------------------------------------------------------------

def test_read_table_jdbc_empty_table_bounds(spark):
    """A partitioned read whose bounds probe returns NULL (empty table)
    must fall back to an unpartitioned read instead of raising."""
    from sparvi_spark.sources import read_table
    from sparvi_spark.sources.readers import _jdbc_url

    conn = {"type": "derby", "path": "memory:sparvi_empty",
            "driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    src = spark.range(0).selectExpr("id AS k", "id AS v")
    (src.write.format("jdbc").option("url", _jdbc_url(conn))
     .option("dbtable", "empty_t").option("driver", conn["driver"])
     .mode("overwrite").save())
    df = read_table(spark, conn, "empty_t",
                    partition_column="k", num_partitions=4)
    assert df.count() == 0


# ---------------------------------------------------------------------------
# broadcast threshold parsing with unit suffixes
# ---------------------------------------------------------------------------

def test_broadcast_threshold_join_parses_unit_suffix(spark):
    from sparvi_spark.operators.joins import broadcast_threshold_join

    fact = spark.range(1000).selectExpr("id AS k", "id * 2 AS v")
    dim = spark.range(10).selectExpr("id AS k", "id + 1 AS d")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10MB")
        j = broadcast_threshold_join(fact, dim, "k")
        assert "ResolvedHint" in j._jdf.queryExecution().analyzed().toString()
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j2 = broadcast_threshold_join(fact, dim, "k")
        assert "ResolvedHint" not in j2._jdf.queryExecution().analyzed().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


# ---------------------------------------------------------------------------
# opportunistic real decoders
# ---------------------------------------------------------------------------

def _media(spark, n=20):
    from sparvi_spark.operators.multimodal import documents_as_media
    from sparvi_spark.testdata import load_table

    return documents_as_media(load_table(spark, "documents", SF_DIR).limit(n))


def test_multimodal_auto_mode_falls_back_or_decodes(spark):
    from sparvi_spark.operators.multimodal import extract_image_features

    media = _media(spark)
    if not pillow_available():
        # no library -> auto == deterministic fake, never NotImplementedError
        auto = sorted(map(tuple, extract_image_features(media, fake="auto").collect()))
        fake = sorted(map(tuple, extract_image_features(media, fake=True).collect()))
        assert auto == fake

    # an injected decoder always wins on auto
    def dec(payload):
        return 1, 2, 3.0

    rows = extract_image_features(media, fake="auto", decoder=dec).collect()
    assert rows and all(r["width"] == 1 and r["height"] == 2 for r in rows)


@pytest.mark.skipif(not pillow_available(), reason="Pillow not installed")
def test_real_image_decode_with_pillow(spark):
    """Runs only where Pillow exists: real decode of a generated PNG."""
    import io

    from PIL import Image

    from sparvi_spark.operators.multimodal import extract_image_features

    buf = io.BytesIO()
    Image.new("L", (4, 3), color=128).save(buf, format="PNG")
    media = spark.createDataFrame(
        [(1, bytearray(buf.getvalue()), "image", "png")],
        "media_id long, payload binary, media_type string, format string")
    row = extract_image_features(media, fake="auto").collect()[0]
    assert (row["width"], row["height"]) == (4, 3)
    assert abs(row["mean_intensity"] - 128.0) < 0.01


def test_read_table_orc_roundtrip(spark, tmp_path):
    """ORC lake source (predicate pushdown + column pruning built in,
    like parquet) round-trips through read_table."""
    from sparvi_spark.sources import read_table
    from sparvi_spark.testdata import load_table

    nation = load_table(spark, "nation", SF_DIR)
    nation.coalesce(1).write.mode("overwrite").orc(str(tmp_path / "nation.orc"))
    got = read_table(spark, {"type": "orc", "path": str(tmp_path)}, "nation")
    expect = {(r["n_nationkey"], r["n_name"]) for r in nation.collect()}
    assert {(r["n_nationkey"], r["n_name"]) for r in got.collect()} == expect
    plan = (got.where(F.col("n_nationkey") == 3)
            ._jdf.queryExecution().executedPlan().toString())
    assert "PushedFilters" in plan or "pushedFilters" in plan


def test_incremental_top_values_durable(spark, engine):
    """The durable topvalues family: engine-maintained top-K matches a
    direct groupBy over the current data, across a partition refresh."""
    rows = [("a", float(i % 3)) for i in range(30)] + \
           [("b", float(i % 5)) for i in range(20)]
    df = spark.createDataFrame(rows, "part string, v double")
    engine.run_incremental_profile(df, "tv", "part", ["v"])

    def exact_top(d, k=10):
        return {r["v"]: r["cnt"] for r in
                d.groupBy(F.col("v").cast("string").alias("v"))
                .agg(F.count("*").alias("cnt")).collect()}

    got = {r["value"]: r["cnt"]
           for r in engine.incremental_top_values("tv").collect()}
    assert got == exact_top(df)

    # refresh partition 'b' only; folded top-K tracks the new data
    df2 = df.where("part <> 'b'").unionByName(
        spark.createDataFrame([("b", 9.0)] * 7, "part string, v double"))
    engine.run_incremental_profile(df2, "tv", "part", ["v"])
    got2 = {r["value"]: r["cnt"]
            for r in engine.incremental_top_values("tv").collect()}
    assert got2 == exact_top(df2)
    assert got2["9.0"] == 7

    with pytest.raises(FileNotFoundError):
        engine.incremental_top_values("never_profiled")


def test_read_corpus_jsonl_and_text(spark, tmp_path):
    """Corpus ingestion: jsonl and line-text dumps -> (doc_id, text,
    source_file) with deterministic unique ids."""
    import json as _json

    from sparvi_spark.sources import read_corpus

    jd = tmp_path / "dump"
    jd.mkdir()
    with open(jd / "a.jsonl", "w") as f:
        for i, t in enumerate(["hello world", "zweite zeile", "hello world"]):
            f.write(_json.dumps({"id": i, "text": t}) + "\n")
    with open(jd / "b.jsonl", "w") as f:
        f.write(_json.dumps({"id": 9, "text": "hello world"}) + "\n")

    # content-hash ids: in-file exact dups collapse, cross-file survive
    docs = read_corpus(spark, str(jd / "*.jsonl"), fmt="jsonl")
    rows = docs.collect()
    assert len(rows) == 3  # a: 2 distinct, b: 1
    assert len({r["doc_id"] for r in rows}) == 3
    assert sorted(r["text"] for r in rows) == \
        ["hello world", "hello world", "zweite zeile"]
    again = {r["doc_id"] for r in
             read_corpus(spark, str(jd / "*.jsonl"), fmt="jsonl").collect()}
    assert again == {r["doc_id"] for r in rows}  # ids are deterministic

    # dump-supplied ids pass through verbatim (no dedup)
    withids = read_corpus(spark, str(jd / "*.jsonl"), fmt="jsonl",
                          id_col="id")
    assert sorted(r["doc_id"] for r in withids.collect()) == [0, 1, 2, 9]

    with open(jd / "c.txt", "w") as f:
        f.write("line one\nline two\n")
    txt = read_corpus(spark, str(jd / "*.txt"), fmt="text")
    assert sorted(r["text"] for r in txt.collect()) == ["line one", "line two"]

    with pytest.raises(ValueError):
        read_corpus(spark, str(jd / "*.jsonl"), fmt="jsonl", text_col="nope")
    with pytest.raises(NotImplementedError):
        read_corpus(spark, str(jd), fmt="avro")


def test_arrow_lane_runs_from_outside_the_repository(tmp_path):
    """Arrow lanes run Python workers that import sparvi_spark by module
    name. A script that puts the repository root only on its own
    sys.path and starts from another directory must still run one: the
    session exports the root to the workers."""
    import subprocess
    import sys
    import textwrap

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = tmp_path / "arrow_lane.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {repo!r})
        from sparvi_spark.functions import local_df
        from sparvi_spark.operators.dedup import minhash_signed
        from sparvi_spark.session import get_spark

        spark = get_spark("arrow_lane_cwd")
        docs = local_df(spark, [(1, "aa bb cc dd"), (2, "aa bb cc ee")],
                        "doc_id int, text string")
        rows = minhash_signed(docs, "doc_id", "text", n=2, num_hashes=8,
                              hash_fn="arrow").collect()
        print("SIGNED", len(rows))
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run([sys.executable, str(script)], cwd=tmp_path,
                         env=env, capture_output=True, text=True,
                         timeout=600)
    assert "SIGNED 2" in out.stdout, out.stderr[-3000:]
