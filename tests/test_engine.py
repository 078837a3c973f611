"""Engine lifecycle end-to-end (SURVEY §3) + collection plans + sources."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


@pytest.fixture()
def engine(spark, tmp_path):
    from sparvi_spark.engine import Engine

    return Engine(spark, str(tmp_path / "warehouse"))


def _docs(spark):
    from sparvi_spark.testdata import load_table

    return load_table(spark, "documents", SF_DIR)


def test_profile_run_stores_and_trends(spark, engine):
    df = _docs(spark)
    p1 = engine.run_profile(df, "documents", as_of="2026-01-01 00:00:00")
    assert p1["row_count"] == df.count()
    assert p1["table_name"] == "documents"
    assert p1["trends"]["row_counts"] == [p1["row_count"]]

    # second run sees the first as previous_profile
    p2 = engine.run_profile(df, "documents", as_of="2026-01-02 00:00:00")
    assert p2["row_count_change"] == 0
    stored = engine.state.read("profiles")
    assert stored.where(F.col("table_name") == "documents").count() == 2
    # metric series accumulated for anomaly detection
    metrics = engine.state.read("historical_metrics")
    assert metrics.where(F.col("metric_name") == "row_count").count() == 2


def test_validation_run_stores_results(spark, engine):
    from sparvi_spark.operators.validation import generate_default_rules
    from sparvi_spark.testdata import SCHEMAS

    df = _docs(spark)
    rules = generate_default_rules(SCHEMAS["documents"], as_of="2026-01-01 00:00:00")
    res = engine.run_validations(df, "documents", rules)
    assert res.count() == len(rules)
    stored = engine.state.read("validation_results")
    assert stored.count() == len(rules)
    assert stored.where(F.col("is_valid").isNull()).count() == 0


def test_schema_tracking_bootstrap_then_diff(spark, engine):
    df = _docs(spark)
    first = engine.track_schema(df, "documents", primary_keys=("doc_id",),
                                as_of="2026-01-01 00:00:00")
    assert first is None  # S8 baseline bootstrap reports nothing

    changed = df.drop("lang").withColumn("extra", F.lit(1)) \
        .withColumn("n_chars", F.col("n_chars").cast("string"))
    changes = engine.track_schema(changed, "documents", primary_keys=("doc_id",),
                                  as_of="2026-01-02 00:00:00")
    kinds = {r["change_type"] for r in changes.collect()}
    assert {"column_removed", "column_added", "column_type_changed"} <= kinds
    stored = engine.state.read("schema_changes")
    assert stored.where(F.col("important")).count() >= 2  # removed + type change


def test_anomaly_detection_run(spark, engine):
    # seed a metric series with one obvious spike
    base = dt.datetime(2026, 1, 1)
    rows = [{"metric_name": "row_count", "metric_value": 100.0 + (i % 3),
             "metric_type": "profile", "table_name": "documents",
             "source": "profiler",
             "ts": (base + dt.timedelta(days=i)).strftime("%Y-%m-%d %H:%M:%S")}
            for i in range(20)]
    rows[15]["metric_value"] = 500.0
    engine.state.append_rows("historical_metrics", rows)
    res = engine.run_anomaly_detection(
        [{"metric_name": "row_count", "table_name": "documents",
          "detection_method": "zscore", "sensitivity": 1.0}],
        as_of="2026-01-21 00:00:00")
    found = res.collect()
    assert len(found) == 1 and found[0]["value"] == 500.0
    assert engine.state.read("anomaly_results").count() == 1


def test_collection_plan_tiers(spark):
    from sparvi_spark.plans import CollectionPlan, collect_metadata
    from sparvi_spark.testdata import load_table

    tables = {t: load_table(spark, t, SF_DIR) for t in ["region", "nation"]}
    meta = collect_metadata(tables, CollectionPlan(depth="high"),
                            primary_keys={"region": ("r_regionkey",)})
    assert meta["tables"] == ["region", "nation"]
    assert meta["row_counts"]["region"] == 5
    assert meta["keys"]["region"] == ["r_regionkey"]
    assert "r_regionkey__min" in meta["statistics"]["region"]
    low = collect_metadata(tables, CollectionPlan(depth="low"))
    assert low["row_counts"] == {} and low["statistics"] == {}


def test_table_size_bytes_matches_filesystem(spark, tmp_path):
    """P15: table size from the scan's FileIndex equals the bytes on
    disk (no job — metadata only), tracks a rewrite, and degrades to
    None for a non-file source."""
    import os

    from sparvi_spark.plans.collection import table_size_bytes

    out = str(tmp_path / "t.parquet")
    spark.range(0, 10_000).selectExpr("id", "id * 2 AS v") \
        .coalesce(2).write.parquet(out)
    df = spark.read.parquet(out)
    on_disk = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _d, fs in os.walk(out) for f in fs
        if f.endswith(".parquet"))
    got = table_size_bytes(df)
    assert got == on_disk and got > 0
    # rewrite grows the table; the size must follow without caching
    spark.range(0, 10_000).selectExpr("id", "id * 3 AS v") \
        .coalesce(1).write.mode("append").parquet(out)
    assert table_size_bytes(spark.read.parquet(out)) > got
    # non-file source: in-memory frames have no FileIndex
    assert table_size_bytes(spark.range(5)) is None


def test_read_table_parquet_source(spark):
    from sparvi_spark.sources import read_table

    df = read_table(spark, {"type": "parquet", "path": SF_DIR}, "region")
    assert df.count() == 5
    with pytest.raises(NotImplementedError):
        read_table(spark, {"type": "bigquery"}, "x")


def test_read_table_jdbc_roundtrip_derby(spark):
    """End-to-end JDBC path against in-process Derby (bundled with Spark):
    write a table over JDBC, read it back PARTITIONED through read_table,
    and assert the filter reaches the JDBC source as a pushed predicate —
    the plan shape every warehouse connector (Snowflake/Postgres) gets."""
    from sparvi_spark.sources import read_table

    conn = {"type": "derby", "path": "memory:sparvi_test",
            "driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    src = spark.range(0, 100).selectExpr(
        "id AS k", "cast(id % 7 as int) AS grp", "id * 2.5 AS val")
    from sparvi_spark.sources.readers import _jdbc_url

    (src.write.format("jdbc").option("url", _jdbc_url(conn))
     .option("dbtable", "usage_t").option("driver", conn["driver"])
     .mode("overwrite").save())

    df = read_table(spark, conn, "usage_t", partition_column="k",
                    num_partitions=4, lower_bound=0, upper_bound=100)
    assert df.rdd.getNumPartitions() == 4
    assert df.count() == 100
    filtered = df.where(F.col("grp") == 3)
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters:" in plan and "GRP" in plan.upper()
    assert filtered.count() == 100 // 7 + (1 if 3 < 100 % 7 else 0)
    back = sorted(r["k"] for r in df.where(F.col("k") < 5).collect())
    assert back == [0, 1, 2, 3, 4]


def test_read_table_csv_json_roundtrip(spark, tmp_path):
    """CSV and JSON lake sources round-trip through read_table with the
    same row content as the parquet original."""
    from sparvi_spark.sources import read_table
    from sparvi_spark.testdata import load_table

    nation = load_table(spark, "nation", SF_DIR)
    (nation.coalesce(1).write.mode("overwrite")
     .option("header", "true").csv(str(tmp_path / "nation.csv")))
    nation.coalesce(1).write.mode("overwrite").json(str(tmp_path / "nation.json"))

    csv_df = read_table(spark, {"type": "csv", "path": str(tmp_path)}, "nation")
    json_df = read_table(spark, {"type": "json", "path": str(tmp_path)}, "nation")
    expect = {(r["n_nationkey"], r["n_name"]) for r in nation.collect()}
    assert {(r["n_nationkey"], r["n_name"]) for r in csv_df.collect()} == expect
    assert {(r["n_nationkey"], r["n_name"]) for r in json_df.collect()} == expect


def test_incremental_profile_pushdown_prunes_scan(spark):
    """The changed-partitions filter must reach the parquet scan as a
    pushed filter — at scale this is what makes the incremental pass read
    only new data."""
    from sparvi_spark.operators.incremental import partition_stats

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    scan = ev.where(F.col("event_type").cast("string").isin(["click"]))
    stats = partition_stats(scan, "event_type", ["value"])
    plan = stats._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "event_type" in plan.split(
        "PushedFilters: [", 1)[1][:200]


def test_usage_patterns_from_event_log(spark, engine):
    """P16 analogue: access frequency from the engine's own event log."""
    for day in (1, 2, 3):
        engine.publish_event("profile_run", "documents", "ok",
                             at=f"2026-01-{day:02d} 00:00:00")
    engine.publish_event("validation_failure", "documents", "r1",
                         at="2026-01-03 12:00:00")
    engine.publish_event("profile_run", "orders", "ok",
                         at="2026-01-02 00:00:00")
    got = {r["table_name"]: r for r in
           engine.usage_patterns(as_of="2026-01-04 00:00:00").collect()}
    assert got["documents"]["access_count"] == 4
    assert got["documents"]["n_access_types"] == 2
    assert str(got["documents"]["last_accessed"]) == "2026-01-03 12:00:00"
    assert got["documents"]["hours_since_access"] == 12.0
    assert got["orders"]["access_count"] == 1


def test_state_retention_rewrite(spark, engine):
    df = _docs(spark)
    for day in range(1, 6):
        engine.run_profile(df, "documents", as_of=f"2026-01-{day:02d} 00:00:00",
                           attach_trends=False)
    assert engine.state.read("profiles").count() == 5
    engine.state.retain_latest("profiles", ["table_name"], "collected_at", n=2)
    kept = engine.state.read("profiles")
    assert kept.count() == 2
    latest = engine.state.latest_profile("documents")
    assert latest["timestamp"] == "2026-01-05 00:00:00"


def test_write_table_and_compact(spark, tmp_path):
    from sparvi_spark.sources.writers import compact_table, write_table

    df = _docs(spark).withColumn("part", F.col("doc_id") % 3)
    p = str(tmp_path / "out")
    write_table(df, p, mode="overwrite", partition_by=("part",), target_files=2)
    back = spark.read.parquet(p)
    assert back.count() == df.count()
    assert sorted(back.columns) == sorted(df.columns)

    p2 = str(tmp_path / "frag")
    df.repartition(16).write.parquet(p2)
    rows = compact_table(spark, p2, target_files=2)
    assert rows == df.count()
    import glob
    assert len(glob.glob(p2 + "/*.parquet")) <= 2
    assert spark.read.parquet(p2).count() == rows


def test_embedding_neardup_lsh_bucket_mode(spark):
    from sparvi_spark.operators.dedup import embedding_neardup_pairs
    from sparvi_spark.testdata import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, "embeddings", SF_DIR)
    exact = {(r["id_a"], r["id_b"]) for r in embedding_neardup_pairs(
        emb, "vec_id", "embedding", threshold=0.95).collect()}
    lsh = {(r["id_a"], r["id_b"]) for r in embedding_neardup_pairs(
        emb, "vec_id", "embedding", threshold=0.95, lsh_bits=4).collect()}
    assert lsh <= exact  # bucket restriction never invents pairs
    if exact:
        assert len(lsh) >= len(exact) * 0.5  # decent recall at 4 bits


def test_screen_corpus_gate_and_state(spark, engine):
    """Corpus ingest gate: summary math, state row, and the
    corpus_gate_failure event on breach. The corpus is built to fail the
    duplicate gate (half the docs are copies of one text) and pass with
    relaxed thresholds."""
    good = ("the quick brown fox jumps over the lazy dog and then runs "
            "far away to the old barn where it sleeps in the warm hay "
            "until morning comes and the farmer wakes it for a new day "
            "of chasing rabbits in the green field by the quiet river")
    rows = [(i, good + f" variant {i}") for i in range(10)]
    rows += [(100 + i, good) for i in range(10)]  # 10 exact copies
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    ref = spark.createDataFrame([(999, "completely unrelated benchmark "
                                  "text with its own words entirely")],
                                "doc_id int, text string")

    s = engine.screen_corpus(docs, "crawl1", ref=ref,
                             run_at="2026-01-02 00:00:00")
    assert s["n_docs"] == 20
    # 10 copies of one text -> 11 distinct -> dup_rate 9/20
    assert abs(s["dup_rate"] - 9 / 20) < 1e-9
    assert s["contamination_rate"] == 0.0
    assert 0.0 <= s["keep_rate"] <= 1.0
    assert s["gate_passed"] is False  # dup_rate 0.45 > default 0.2

    stored = engine.state.read("corpus_screens").collect()
    assert len(stored) == 1 and stored[0]["corpus_name"] == "crawl1"
    events = engine.state.read("engine_events").where(
        F.col("event_type") == "corpus_gate_failure").collect()
    assert len(events) == 1 and "dup_rate" in events[0]["details"]

    s2 = engine.screen_corpus(docs, "crawl1", ref=ref, max_dup_rate=0.5,
                              min_keep_rate=0.0,
                              run_at="2026-01-02 01:00:00")
    assert s2["gate_passed"] is True

    # optional classifier gate: an all-negative model fails every doc,
    # breaching min_classifier_pass_rate; the rate lands in state
    s3 = engine.screen_corpus(docs, "crawl1", max_dup_rate=0.5,
                              min_keep_rate=0.0,
                              classifier_weights=[-1.0] * 32,
                              run_at="2026-01-02 02:00:00")
    assert s3["classifier_pass_rate"] == 0.0
    assert s3["gate_passed"] is False
    ev = engine.state.read("engine_events").where(
        F.col("event_type") == "corpus_gate_failure").orderBy(
        F.col("detected_at").desc()).first()
    assert "classifier_pass_rate" in ev["details"]
    latest = engine.state.read("corpus_screens").orderBy(
        F.col("screened_at").desc()).first()
    assert latest["classifier_pass_rate"] == 0.0


def test_run_incremental_profile_durable(spark, engine):
    """Durable incremental profiling: bootstrap persists sketch state;
    an unchanged re-run detects zero changed partitions (no event, state
    untouched); appending rows to one partition refreshes only it and the
    folded profile matches a from-scratch run over the full data."""
    from sparvi_spark.operators.incremental import incremental_profile_full

    rows = [(p, float(i)) for p in ("a", "b") for i in range(50)]
    df = spark.createDataFrame(rows, "part string, v double")
    p1 = engine.run_incremental_profile(df, "t1", "part", ["v"]).collect()
    assert p1[0]["cnt"] == 100

    n_events = engine.state.read("engine_events").where(
        F.col("event_type") == "incremental_profile").count()
    engine.run_incremental_profile(df, "t1", "part", ["v"])  # no change
    assert engine.state.read("engine_events").where(
        F.col("event_type") == "incremental_profile").count() == n_events

    grown = df.unionByName(spark.createDataFrame(
        [("b", 999.0)], "part string, v double"))
    p3 = engine.run_incremental_profile(grown, "t1", "part", ["v"]) \
        .toPandas().sort_values("column_name").reset_index(drop=True)
    _, scratch = incremental_profile_full(grown, "part", ["v"])
    expect = scratch.toPandas().sort_values("column_name") \
        .reset_index(drop=True)
    assert p3.equals(expect)
    assert p3.iloc[0]["cnt"] == 101 and p3.iloc[0]["max_val"] == 999.0


def test_pipeline_demo():
    """scripts/pipeline_demo.py — the composed normalize -> filter ->
    dedup -> decontaminate -> index pipeline — runs green end-to-end in a
    fresh interpreter (own SparkSession, so: subprocess)."""
    import subprocess
    import sys as _sys
    from pathlib import Path

    demo = Path(__file__).resolve().parent.parent / "scripts" / "pipeline_demo.py"
    proc = subprocess.run(
        [_sys.executable, str(demo), SF_DIR],
        capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-2000:]
    stats = dict(
        line[2:].split(": ") for line in proc.stdout.splitlines()
        if line.startswith("# "))
    assert int(stats["n_clean"]) <= int(stats["n_raw"])
    assert int(stats["n_indexed"]) > 0


def test_run_incremental_profile_purges_deleted_partitions(spark, engine):
    """A partition dropped upstream must leave no orphan sketch state:
    the next run purges its rows and the profile matches from-scratch."""
    from sparvi_spark.operators.incremental import incremental_profile_full

    rows = [(p, float(i)) for p in ("a", "b") for i in range(30)]
    df = spark.createDataFrame(rows, "part string, v double")
    engine.run_incremental_profile(df, "t2", "part", ["v"])

    shrunk = df.where("part <> 'b'")
    got = engine.run_incremental_profile(shrunk, "t2", "part", ["v"]) \
        .toPandas().sort_values("column_name").reset_index(drop=True)
    _, scratch = incremental_profile_full(shrunk, "part", ["v"])
    expect = scratch.toPandas().sort_values("column_name") \
        .reset_index(drop=True)
    assert got.equals(expect)
    assert got.iloc[0]["cnt"] == 30


def test_drift_baseline_and_check(spark, tmp_path):
    """Stored-histogram drift flow: baseline once, check a shifted
    snapshot — metrics land in historical_metrics, the alert event fires,
    and an unshifted snapshot stays quiet."""
    import random

    from pyspark.sql import functions as F

    from sparvi_spark.engine import Engine

    eng = Engine(spark, str(tmp_path / "wh"))
    rng = random.Random(3)
    base_rows = [(i, rng.gauss(100, 10), rng.random()) for i in range(400)]
    base = spark.createDataFrame(base_rows, "id long, x double, y double")
    eng.save_drift_baseline(base, "t", ["x", "y"], bins=10,
                            as_of="2026-01-01 00:00:00")

    # no baseline for an unknown table
    assert eng.run_drift_check(base, "nope") is None

    # identical snapshot: zero drift, no event
    same = {r["column_name"]: r for r in
            eng.run_drift_check(base, "t", as_of="2026-01-02 00:00:00")
            .collect()}
    assert same["x"]["tvd"] == 0.0 and same["x"]["psi"] == 0.0
    assert eng.state.read("engine_events").where(
        F.col("event_type") == "distribution_drift").count() == 0

    # x shifted by +3 sigma, y untouched: only x alerts
    shifted = base.withColumn("x", F.col("x") + 30.0)
    out = {r["column_name"]: r for r in
           eng.run_drift_check(shifted, "t", as_of="2026-01-03 00:00:00")
           .collect()}
    assert out["x"]["psi"] > 0.2 and out["x"]["tvd"] > 0.2
    assert out["y"]["psi"] < 0.05
    ev = eng.state.read("engine_events").where(
        F.col("event_type") == "distribution_drift").collect()
    assert len(ev) == 1 and ev[0]["details"] == "x"
    # metrics recorded for the trend machinery (2 runs x 2 cols x 2 metrics)
    assert eng.state.read("historical_metrics").where(
        F.col("metric_type") == "drift").count() == 8


def test_export_training_corpus_end_to_end(spark, engine, tmp_path):
    """Gate -> filter -> deterministic dedup -> sharded export: breaching
    corpora never write; passing corpora land deduped in shard dirs with
    the manifest, and re-export is reproducible."""
    good = ("the quick brown fox jumps over the lazy dog and then runs "
            "far away to the old barn where it sleeps in the warm hay "
            "until morning comes and the farmer wakes it for a new day "
            "of chasing rabbits in the green field by the quiet river")
    dup = good + " with some extra closing words"
    rows = [(i, good + f" variant {i}") for i in range(12)]
    rows += [(100, dup), (101, dup)]             # dup pair: 100 survives
    rows += [(200, "tiny")]                      # fails quality rules
    docs = spark.createDataFrame(rows, "doc_id int, text string")

    # breach path: default max_dup_rate forces... dup_rate here is 1/15,
    # so breach via an impossible keep-rate gate instead
    out = str(tmp_path / "c1")
    s = engine.export_training_corpus(docs, "c1", out, n_shards=4,
                                      min_keep_rate=1.01,
                                      run_at="2026-01-05 00:00:00")
    assert s["exported"] is False
    import os
    assert not os.path.exists(out)

    s2 = engine.export_training_corpus(docs, "c1", out, n_shards=4,
                                       min_keep_rate=0.5, max_dup_rate=0.2,
                                       run_at="2026-01-05 01:00:00")
    assert s2["exported"] is True
    back = spark.read.parquet(out)
    ids = {r["doc_id"] for r in back.select("doc_id").collect()}
    assert 200 not in ids          # quality-filtered
    assert 100 in ids and 101 not in ids  # deterministic min-id survivor
    assert s2["n_exported"] == len(ids) == 13
    ev = engine.state.read("engine_events").where(
        F.col("event_type") == "corpus_exported").collect()
    assert len(ev) == 1 and "13 docs" in ev[0]["details"]


def test_export_training_corpus_tokenized_packs(spark, engine, tmp_path):
    """tokenize_merges + pack_ctx: the export also materializes BPE token
    shards — packs hold exactly ctx_len tokens (except each shard's final
    partial), concatenating to the same stream a driver-side reference
    chop produces, and the tokenizer model lands beside the shards."""
    import json
    import os

    from sparvi_spark.operators.tokenize import bpe_encode, train_bpe

    base = ("the quick brown fox jumps over the lazy dog and then runs "
            "far away to the old barn where it sleeps in the warm hay "
            "until morning comes and the farmer wakes it for a new day "
            "of chasing rabbits in the green field by the quiet river")
    docs = spark.createDataFrame(
        [(i, base + f" variant number {i}") for i in range(10)],
        "doc_id int, text string")
    out = str(tmp_path / "tok")
    ctx = 32
    s = engine.export_training_corpus(
        docs, "tok", out, n_shards=2, min_keep_rate=0.5,
        tokenize_merges=8, pack_ctx=ctx, run_at="2026-01-06 00:00:00")
    assert s["exported"] and s["tokenizer_merges"] == 8
    assert s["n_packs"] > 0 and s["n_tokens"] > ctx

    packs = spark.read.parquet(f"{out}.packs")
    rows = sorted(packs.collect(), key=lambda r: (int(r["shard"]), r["pack_id"]))
    # reference: re-encode the published docs with the shipped model and
    # chop each shard's id-ordered concatenated stream every ctx tokens
    model = json.load(open(f"{out}.tokenizer.json"))
    model = {"merges": [tuple(m) for m in model["merges"]],
             "vocab": model["vocab"]}
    pub = spark.read.parquet(out)
    enc = {r["doc_id"]: r["token_ids"]
           for r in bpe_encode(pub, model).collect()}
    import collections
    streams = collections.defaultdict(list)
    # shard key must match the engine's: pmod(xxhash64(doc_id), n_shards)
    shard_of = {r["doc_id"]: int(r["s"]) for r in pub.selectExpr(
        "doc_id", "pmod(xxhash64(doc_id), 2) AS s").collect()}
    for d in sorted(enc):
        streams[shard_of[d]].extend(enc[d])
    expect = {}
    for sh, stream in streams.items():
        for p in range(0, (len(stream) + ctx - 1) // ctx):
            expect[(sh, p)] = stream[p * ctx:(p + 1) * ctx]
    got = {(int(r["shard"]), int(r["pack_id"])): list(r["token_ids"])
           for r in rows}
    assert got == expect
    # every pack except each shard's last is exactly ctx tokens
    for (sh, p), toks in got.items():
        last = max(pp for (s2, pp) in got if s2 == sh)
        assert len(toks) == (ctx if p < last else len(toks))
        assert 0 < len(toks) <= ctx
    assert os.path.exists(f"{out}.tokenizer.json")
    assert s["n_tokens"] == sum(len(v) for v in enc.values())


def test_export_training_corpus_binpack_policy(spark, engine, tmp_path):
    """pack_policy='binpack': packs hold WHOLE documents (no doc id ever
    spans two packs), every pack fits ctx, the packed token streams are
    exactly the published docs' encodings in the packer's fill order,
    and an unknown policy raises before any write."""
    import json

    import pytest as _pt

    from sparvi_spark.operators.tokenize import bpe_encode

    base = ("the quick brown fox jumps over the lazy dog and then runs "
            "far away to the old barn where it sleeps in the warm hay "
            "until morning comes and the farmer wakes it for a new day "
            "of chasing rabbits in the green field by the quiet river")
    docs = spark.createDataFrame(
        [(i, base + " extra filler words" * (i % 3) + f" variant {i}")
         for i in range(10)],
        "doc_id int, text string")
    out = str(tmp_path / "bp")
    ctx = 512  # ~2-3 docs per bin at 8 merges, so bins genuinely pack
    s = engine.export_training_corpus(
        docs, "bp", out, n_shards=2, min_keep_rate=0.5,
        tokenize_merges=8, pack_ctx=ctx, pack_policy="binpack",
        run_at="2026-01-06 00:00:00")
    assert s["exported"] and s["pack_policy"] == "binpack"
    assert s["n_packs"] > 0

    packs = spark.read.parquet(f"{out}.packs").collect()
    # no pack exceeds ctx (whole docs + truncation guarantee)
    assert all(0 < len(r["token_ids"]) <= ctx for r in packs)
    # reference: re-encode the published docs with the shipped model
    model = json.load(open(f"{out}.tokenizer.json"))
    model = {"merges": [tuple(m) for m in model["merges"]],
             "vocab": model["vocab"]}
    pub = spark.read.parquet(out)
    enc = {r["doc_id"]: list(r["token_ids"])
           for r in bpe_encode(pub, model).collect()}
    # every doc's (possibly truncated) encoding appears CONTIGUOUSLY in
    # exactly one pack, and pack contents are nothing but those docs
    remaining = {d: ids[:ctx] for d, ids in enc.items() if ids}
    for r in packs:
        stream = list(r["token_ids"])
        while stream:
            hit = None
            for d, ids in remaining.items():
                if stream[:len(ids)] == ids:
                    hit = d
                    break
            assert hit is not None, "pack holds a non-doc prefix"
            stream = stream[len(remaining.pop(hit)):]
    assert not remaining  # every published doc landed in some pack
    # total token accounting matches the summary
    assert s["n_tokens"] == sum(min(len(v), ctx) for v in enc.values())
    with _pt.raises(ValueError, match="pack_policy"):
        engine.export_training_corpus(
            docs, "bp2", str(tmp_path / "bp2"), n_shards=2,
            min_keep_rate=0.5, tokenize_merges=8, pack_ctx=ctx,
            pack_policy="nope", run_at="2026-01-06 01:00:00")


def test_dedup_corpus_incremental_across_batches(spark, engine):
    """Batch 2 near-dups of batch-1 survivors are dropped WITHOUT re-reading
    batch 1 (signature state only); in-batch dups drop first; disjoint docs
    pass untouched; survivor signatures accumulate for the next batch."""
    base = ("the quick brown fox jumps over the lazy dog near the old barn "
            "by the quiet river where tall green reeds sway in the wind")
    b1 = spark.createDataFrame(
        [(1, base),
         (2, base + " extra tail words here"),      # near-dup of 1
         (3, "completely different text about compilers and parse trees "
             "emitting bytecode for a stack machine with constant folding")],
        "doc_id int, text string")
    s1 = engine.dedup_corpus_incremental(b1, "c1", threshold=0.5)
    assert s1["n_in"] == 3 and s1["n_in_batch_dups"] == 1
    assert s1["n_vs_corpus_dups"] == 0 and s1["n_kept"] == 2
    assert sorted(r["doc_id"] for r in s1["kept"].collect()) == [1, 3]

    b2 = spark.createDataFrame(
        [(10, base + " tiny edit at the end"),       # near-dup of stored 1
         (11, "fresh unseen prose about sailing boats across a cold sea "
              "under grey skies while gulls wheel and cry above the mast")],
        "doc_id int, text string")
    s2 = engine.dedup_corpus_incremental(b2, "c1", threshold=0.5)
    assert s2["n_in_batch_dups"] == 0 and s2["n_vs_corpus_dups"] == 1
    assert [r["doc_id"] for r in s2["kept"].collect()] == [11]

    # state now holds signatures for survivors 1, 3, 11 — and a THIRD
    # batch duplicating batch 2's survivor is caught too
    sigs = engine.state.read("corpus_signatures").where(
        F.col("corpus_name") == "c1")
    assert sorted(r["doc_id"] for r in sigs.collect()) == ["1", "11", "3"]
    b3 = spark.createDataFrame(
        [(20, "fresh unseen prose about sailing boats across a cold sea "
              "under grey skies while gulls wheel and cry above the deck")],
        "doc_id int, text string")
    s3 = engine.dedup_corpus_incremental(b3, "c1", threshold=0.5)
    assert s3["n_kept"] == 0 and s3["n_vs_corpus_dups"] == 1
    # a different corpus name shares nothing
    s4 = engine.dedup_corpus_incremental(b3, "other", threshold=0.5)
    assert s4["n_kept"] == 1
    ev = engine.state.read("engine_events").where(
        F.col("event_type") == "corpus_incremental_dedup").count()
    assert ev == 4


def test_export_training_corpus_curation_stages(spark, engine, tmp_path):
    """dedup_lines_min_count + strip_duplicate_spans_n rewrite text before
    the exact dedup: boilerplate lines vanish corpus-wide, duplicated
    passages are cut, docs scrubbed to nothing drop out, and the published
    text is the cleaned text."""
    footer = "subscribe to our newsletter for updates today"
    passage = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    # enough natural prose to clear the Gopher word-count/stopword gates;
    # each pad is UNIQUE (a shared pad would itself be a duplicated span)
    def pad(k):
        words = ["farmer", "market", "morning", "bread", "people", "town",
                 "sun", "hills", "river", "mill", "children", "games",
                 "shade", "trees", "wind", "stone", "wagon", "field"]
        out = []
        for i in range(55):
            out.append("the" if i % 3 == 0
                       else words[(k * 7 + i * (k + 2)) % len(words)]
                       + f"{k}{i}")
        return " ".join(out)

    docs = spark.createDataFrame(
        [(1, f"first document real content words here {pad(1)}\n{footer}"),
         (2, f"second document other content tokens {pad(2)}\n{footer}"),
         (3, f"third document {passage} trailing unique words {pad(3)}"),
         (4, f"fourth document {passage} different ending here {pad(4)}"),
         (5, footer)],  # nothing but boilerplate -> dropped
        "doc_id int, text string")
    s = engine.export_training_corpus(
        docs, "cur", str(tmp_path / "cur"), n_shards=2,
        min_keep_rate=0.0, require_gate=False,
        dedup_lines_min_count=3, strip_duplicate_spans_n=10,
        shuffle_seed=7, run_at="2026-01-07 00:00:00")
    assert s["exported"]
    pub = {r["doc_id"]: r["text"]
           for r in spark.read.parquet(str(tmp_path / "cur")).collect()}
    assert sorted(pub) == [1, 2, 3, 4]
    assert footer not in pub[1] and footer not in pub[2]
    assert passage not in pub[3] and passage not in pub[4]
    assert "first document real content" in pub[1]
    assert "trailing unique words" in pub[3]


def test_dedup_corpus_incremental_kept_schema_and_short_docs(spark, engine):
    """r13 internals guard: the kept checkpoint carries each survivor's
    signature and trigger counts ride observe() metrics — the CONTRACT
    must not move: (a) the returned kept frame has exactly the input
    columns (no __sig leak to callers/sinks), (b) docs too short to
    shingle (<n tokens) survive dedup and are returned in kept, but
    append NO signature row (they had none before either), (c) the
    observe-backed counts match the frames."""
    docs = spark.createDataFrame(
        [(1, "tiny"),                                   # < n tokens: no sig
         (2, "a much longer document about harvesting wild mushrooms in "
             "autumn forests after steady rain when the ground stays damp"),
         (3, "another distinct text describing rail freight schedules "
             "between inland terminals and the coastal container port")],
        "doc_id int, text string")
    s = engine.dedup_corpus_incremental(docs, "cshort", threshold=0.5)
    assert s["kept"].columns == ["doc_id", "text"]
    kept_ids = sorted(r["doc_id"] for r in s["kept"].collect())
    assert kept_ids == [1, 2, 3]
    assert s["n_in"] == 3 and s["n_kept"] == 3
    assert s["n_in_batch_dups"] == 0 and s["n_vs_corpus_dups"] == 0
    sigs = engine.state.read("corpus_signatures").where(
        F.col("corpus_name") == "cshort")
    assert sorted(r["doc_id"] for r in sigs.collect()) == ["2", "3"]


def test_dedup_corpus_incremental_sink_failure_leaves_no_state(spark, engine):
    """Replay safety: when the sink raises, NO signatures were appended —
    a retry of the same batch recomputes cleanly and admits everything
    (nothing matches 'its own' signature from the failed attempt)."""
    import pytest

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog by the river "
             "bank where tall reeds sway gently in the evening wind"),
         (2, "compilers parse source text into syntax trees then emit "
             "bytecode for a stack machine with constant folding")],
        "doc_id int, text string")

    class Boom(RuntimeError):
        pass

    def bad_sink(kept):
        raise Boom("sink failed")

    with pytest.raises(Boom):
        engine.dedup_corpus_incremental(docs, "cs", sink=bad_sink)
    assert engine.state.read("corpus_signatures").where(
        F.col("corpus_name") == "cs").count() == 0

    # retry with a working sink: full batch admitted exactly once
    seen = []
    s = engine.dedup_corpus_incremental(
        docs, "cs", sink=lambda kept: seen.append(kept.count()))
    assert s["n_kept"] == 2 and seen == [2]
    assert engine.state.read("corpus_signatures").where(
        F.col("corpus_name") == "cs").count() == 2


def test_dedup_corpus_incremental_hash_family_pinned(spark, engine):
    """Signature-scheme enforcement (r11): every appended row is stamped
    with (hash_family, shingle_n, num_hashes); a later batch signed under
    a different scheme raises instead of silently banding incomparable
    signatures (cross-family agreement ~0 would re-admit stored docs);
    legacy NULL-stamped rows warn and proceed."""
    import pytest

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog by the river "
             "bank where tall reeds sway gently in the evening wind")],
        "doc_id int, text string")
    engine.dedup_corpus_incremental(docs, "cf")
    row = engine.state.read("corpus_signatures").where(
        F.col("corpus_name") == "cf").collect()[0]
    assert (row["hash_family"], row["shingle_n"],
            row["num_hashes"]) == ("xxhash64", 3, 64)

    b2 = spark.createDataFrame([(2, "some fresh unseen prose here about "
                                    "boats and gulls above the mast")],
                               "doc_id int, text string")
    with pytest.raises(ValueError, match="incompatible"):
        engine.dedup_corpus_incremental(b2, "cf", hash_fn="portable")
    with pytest.raises(ValueError, match="incompatible"):
        engine.dedup_corpus_incremental(b2, "cf", num_hashes=32)
    # matching scheme still flows (memoized verdict, no rescan)
    s = engine.dedup_corpus_incremental(b2, "cf")
    assert s["n_kept"] == 1

    # legacy rows with no stamp: warn once, still banded against —
    # a near-dup of the legacy doc is caught (same construction)
    legacy_sig = engine.state.read("corpus_signatures").where(
        F.col("corpus_name") == "cf").select(
        F.lit("cl").alias("corpus_name"), "doc_id", "sig",
        "added_at")
    engine.state.append("corpus_signatures", legacy_sig)
    b3 = spark.createDataFrame(
        [(9, "the quick brown fox jumps over the lazy dog by the river "
             "bank where tall reeds sway gently in the evening breeze")],
        "doc_id int, text string")
    with pytest.warns(UserWarning, match="legacy"):
        s3 = engine.dedup_corpus_incremental(b3, "cl")
    assert s3["n_vs_corpus_dups"] == 1 and s3["n_kept"] == 0

    # memo invalidation (r11 review fix): the per-corpus verdict is keyed
    # on the state table's committed version pointer, so an EXTERNAL
    # re-sign (full rewrite + pointer flip, the documented remediation
    # for a scheme change) after one clean pass is caught on the next
    # batch instead of being banded against silently for the engine's
    # lifetime. Plain appends don't flip the pointer — they are covered
    # by the append lease, not the memo.
    import os as _os

    from sparvi_spark.sources.state import next_version, write_pointer

    base = engine.state._path("corpus_signatures")
    resigned = engine.state.read("corpus_signatures").select(
        "corpus_name", "doc_id", "sig",
        F.lit("portable").alias("hash_family"),
        F.lit(3).cast("int").alias("shingle_n"),
        F.lit(64).cast("int").alias("num_hashes"),
        F.lit(None).cast("array<bigint>").alias("band_hashes"),
        "added_at", "run_date")
    newv = next_version(base)
    (resigned.coalesce(1).write.partitionBy("run_date")
     .parquet(_os.path.join(base, newv)))
    write_pointer(base, newv)
    b4 = spark.createDataFrame([(11, "entirely new words about kites and "
                                     "string and a long afternoon")],
                               "doc_id int, text string")
    with pytest.raises(ValueError, match="incompatible"):
        engine.dedup_corpus_incremental(b4, "cf")


def test_restamp_corpus_signatures(spark, engine):
    """r12: the migration path for legacy NULL-stamped signature state —
    assert-or-stamp under an explicit family claim. Restamped state is
    then validated cleanly (no legacy warning, cross-batch dup still
    caught); a provably-wrong claim (signature width) and a claim
    contradicting existing stamps both raise before anything writes."""
    import warnings

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog by the river "
             "bank where tall reeds sway gently in the evening wind")],
        "doc_id int, text string")
    engine.dedup_corpus_incremental(docs, "rs")
    # fabricate a pre-stamping corpus: same sigs, stamps stripped
    legacy = engine.state.read("corpus_signatures").where(
        F.col("corpus_name") == "rs").select(
        F.lit("rl").alias("corpus_name"), "doc_id", "sig", "added_at")
    engine.state.append("corpus_signatures", legacy)

    # provably-wrong width claim raises, state untouched
    with pytest.raises(ValueError, match="provably"):
        engine.restamp_corpus_signatures("rl", "xxhash64", 3, 32)
    assert engine.state.read("corpus_signatures").where(
        (F.col("corpus_name") == "rl")
        & F.col("hash_family").isNull()).count() == 1

    out = engine.restamp_corpus_signatures("rl", "xxhash64", 3, 64,
                                           bands=16)
    assert out == {"n_rows": 1, "n_restamped": 1}
    row = engine.state.read("corpus_signatures").where(
        F.col("corpus_name") == "rl").collect()[0]
    assert (row["hash_family"], row["shingle_n"],
            row["num_hashes"]) == ("xxhash64", 3, 64)
    # bands= also backfills the precomputed band hashes
    assert row["band_hashes"] is not None and len(row["band_hashes"]) == 16
    # other corpora untouched
    assert engine.state.read("corpus_signatures").where(
        F.col("corpus_name") == "rs").count() == 1

    # restamped state validates silently AND still catches the dup
    b2 = spark.createDataFrame(
        [(9, "the quick brown fox jumps over the lazy dog by the river "
             "bank where tall reeds sway gently in the evening breeze")],
        "doc_id int, text string")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        s2 = engine.dedup_corpus_incremental(b2, "rl")
    assert not [w for w in caught if "legacy" in str(w.message)]
    assert s2["n_vs_corpus_dups"] == 1 and s2["n_kept"] == 0

    # claim contradicting AUTHORITATIVE stamps raises
    with pytest.raises(ValueError, match="contradicts"):
        engine.restamp_corpus_signatures("rl", "portable", 3, 64)


def test_classifier_sidecar_and_quality_overrides(spark, engine, tmp_path):
    """save/load classifier round-trips through the sidecar, and
    quality_overrides reach the export's Gopher filter (min_words low
    enough that short docs publish)."""
    from sparvi_spark.operators.classify import (
        load_classifier, save_classifier)

    save_classifier(spark, str(tmp_path / "m.json"), [0.5, -0.25], 0.125)
    w, b = load_classifier(spark, str(tmp_path / "m.json"))
    assert w == [0.5, -0.25] and b == 0.125

    docs = spark.createDataFrame(
        [(1, "the small doc with a few simple words to keep around"),
         (2, "and another one of the short documents in this tiny set")],
        "doc_id int, text string")
    s = engine.export_training_corpus(
        docs, "qo", str(tmp_path / "qo"), n_shards=1,
        require_gate=False, min_keep_rate=0.0,
        quality_overrides={"min_words": 5},
        run_at="2026-01-08 00:00:00")
    assert s["exported"] and s["n_exported"] == 2


def test_engine_ann_index_build_and_search(spark, engine):
    """Lifecycle glue: build a named index once, search it from the
    warehouse in a later call; results match the direct operator path."""
    from pyspark.sql import functions as F2

    from sparvi_spark.operators.similarity import (
        ivfpq_encode, ivfpq_topk, ivfpq_train)
    from sparvi_spark.testdata import load_table

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    m = engine.build_ann_index(emb, "vecs", nlist=4, m=4, k=8, iters=1,
                               run_at="2026-01-09 00:00:00")
    assert m["n_vectors"] == emb.count() and m["path"].endswith("ann/vecs")

    queries = emb.where(F2.col("vec_id") < 5)
    got = engine.ann_search(queries, "vecs", k=5, nprobe=2).toPandas()
    cents, books = ivfpq_train(emb, nlist=4, m=4, k=8, iters=1)
    want = ivfpq_topk(ivfpq_encode(emb, cents, books), queries,
                      cents, books, k=5, nprobe=2).toPandas()
    key = ["query_id", "rank"]
    assert got.sort_values(key).reset_index(drop=True).equals(
        want.sort_values(key).reset_index(drop=True))
    ev = engine.state.read("engine_events").where(
        F2.col("event_type") == "ann_index_built").count()
    assert ev == 1


def _plan_leaf(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()


def test_validation_and_schema_results_are_collected_once(spark, engine,
                                                          tmp_path):
    """run_validations / track_schema execute their Spark work once: the
    returned frame is a local relation over the same rows the state write
    and the event took, so it still equals them after the source is
    overwritten (a lazy result would re-read the changed source)."""
    from sparvi_spark.operators.validation import Rule

    src = str(tmp_path / "src.parquet")
    spark.range(100).selectExpr(
        "id", "cast(id % 7 as double) AS amount").write.parquet(src)
    df = spark.read.parquet(src)
    rules = [
        Rule("rows_is_100", "", "equals", 100, "agg", agg_expr="count(*)"),
        Rule("max_amount_below_5", "", "less_than", 5, "agg",
             agg_expr="max(amount)"),
        Rule("amount_outliers", "", "equals", 0, "outlier", column="amount"),
    ]
    run_at = "2026-01-01 00:00:00"
    res = engine.run_validations(df, "t", rules, run_at=run_at)
    engine.track_schema(df, "t", as_of=run_at)  # baseline
    day2 = "2026-01-02 00:00:00"
    changes = engine.track_schema(df.withColumn("extra", F.lit(1)), "t",
                                  as_of=day2)
    spark.range(3).selectExpr("id * 1000 AS id", "cast(99 as double) AS amount",
                              "'x' AS note").write.mode("overwrite").parquet(src)

    assert _plan_leaf(res) == "LocalRelation"
    assert _plan_leaf(changes) == "LocalRelation"
    cols = ["rule_name", "operator", "expected_lo", "expected_hi",
            "actual_value", "is_valid"]
    got = sorted(tuple(r) for r in res.select(*cols).collect())
    stored = sorted(tuple(r) for r in engine.state.read("validation_results")
                    .select(*cols).collect())
    assert got == stored
    assert dict((r[0], r[4]) for r in got) == {
        "rows_is_100": 100.0, "max_amount_below_5": 6.0,
        "amount_outliers": 0.0}
    events = {r["event_type"]: r["details"]
              for r in engine.state.read("engine_events").collect()}
    assert events["validation_failure"] == ",".join(
        sorted(r[0] for r in got if r[5] is False)) == "max_amount_below_5"

    ccols = ["change_type", "table_name", "column_name", "details",
             "important"]
    got_c = sorted(tuple(r) for r in changes.select(*ccols).collect())
    stored_c = sorted(tuple(r) for r in engine.state.read("schema_changes")
                      .select(*ccols).collect())
    assert got_c == stored_c == [("column_added", "t", "extra", None, False)]
    assert "schema_change" not in events  # column_added is not important


def test_run_validations_releases_pass_a_cache(spark, engine):
    """run_rules persists pass A (agg + outlier rules share it); a
    monitor calling run_validations per table per day must not add a
    CacheManager entry per call (neither must the record-shaped
    operators.validation.run_validations)."""
    from sparvi_spark.operators.validation import Rule, run_validations

    df = spark.range(50).selectExpr("id", "cast(id % 5 as double) AS v")
    rules = [Rule("rows", "", "equals", 50, "agg", agg_expr="count(*)"),
             Rule("v_outliers", "", "equals", 0, "outlier", column="v")]
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert cache.isEmpty()
    for day in range(1, 4):
        res = engine.run_validations(df, "t", rules,
                                     run_at=f"2026-01-0{day} 00:00:00")
        assert {r["rule_name"]: r["is_valid"] for r in res.collect()} == {
            "rows": True, "v_outliers": True}
    assert cache.isEmpty()
    assert [r["is_valid"] for r in run_validations(df, rules)] == [True, True]
    assert cache.isEmpty()
