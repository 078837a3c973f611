"""Physical-plan assertions: the properties that make these operators scale
(predicate pushdown to parquet, column pruning, broadcast dim joins, no
row-wise Python UDFs) must survive refactors."""

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _raw(spark, name, fresh=False):
    """Uncached read. ``fresh=True`` also drops existing persisted plans —
    Spark substitutes InMemoryRelation into any new plan whose subtree
    matches a cached one, which hides the parquet scan node."""
    if fresh:
        import sparvi_spark.testdata as td

        spark.catalog.clearCache()
        td._CACHE.clear()
    return spark.read.parquet(f"{SF_DIR}/{name}.parquet")


def test_filter_pushdown_reaches_scan(spark):
    df = _raw(spark, "documents", fresh=True).where(F.col("doc_id") < 120) \
        .select("doc_id")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,120)" in plan


def test_column_pruning_reaches_scan(spark):
    df = _raw(spark, "lineitem", fresh=True).select("l_orderkey", "l_quantity")
    plan = _plan(df)
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_ref_integrity_uses_broadcast_join(spark):
    from sparvi_spark.operators.validation import Rule, run_rules

    li = _raw(spark, "lineitem")
    orders = _raw(spark, "orders")
    rule = Rule("ri", "orphans", "equals", 0, "ref_integrity",
                column="l_orderkey", ref_table="orders", ref_column="o_orderkey")
    # run_rules pass B materializes eagerly; inspect the join plan it builds
    ref = orders.select(F.col("o_orderkey").alias("__rk0")).distinct()
    joined = li.join(F.broadcast(ref), F.col("l_orderkey") == F.col("__rk0"), "left")
    plan = _plan(joined)
    assert "BroadcastHashJoin" in plan
    # and the executed path produces the same count as an anti join
    res = {r["rule_name"]: r for r in
           run_rules(li, [rule], ref_tables={"orders": orders}).collect()}
    assert res["ri"]["actual_value"] == 0.0


def test_no_python_udfs_in_scalar_operators(spark):
    """Profiling/validation/dedup/text hot paths must stay JVM-side:
    no BatchEvalPython (row-wise) or ArrowEvalPython (pandas) nodes."""
    from sparvi_spark.operators.dedup import jaccard_pairs, simhash
    from sparvi_spark.operators.text import quality_features
    from sparvi_spark.checks.profile_checks import q_numeric_stats

    docs = _raw(spark, "documents")
    for df in [
        q_numeric_stats(spark, SF_DIR),
        jaccard_pairs(docs.limit(50), "doc_id", "text", n=2, threshold=0.5),
        simhash(docs.limit(50), "doc_id", "text"),
        quality_features(docs.limit(50)),
    ]:
        plan = _plan(df)
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


def test_multimodal_is_arrow_batched_not_rowwise(spark):
    from sparvi_spark.operators.multimodal import (
        documents_as_media,
        extract_image_features,
    )

    media = documents_as_media(_raw(spark, "documents").limit(10))
    plan = _plan(extract_image_features(media, fake=True))
    # mapInPandas shows as MapInPandas (Arrow batching), never BatchEvalPython
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_asof_join_single_exchange_no_join_node(spark):
    """The union+window as-of join must contain NO join operator at all —
    one hash exchange on the entity key, then window forward-fill. At 100 TB
    this is the difference between one shuffle and a range-join explosion."""
    from sparvi_spark.operators.joins import asof_join

    ev = _raw(spark, "events", fresh=True)
    ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id")
    purchases = (ev.where(F.col("event_type") == "purchase")
                 .groupBy("user_id", "ts").agg(F.max("value").alias("v")))
    plan = _plan(asof_join(clicks, purchases, by="user_id", ts_col="ts",
                           value_cols=["v"]))
    assert "Join" not in plan, plan


def test_range_join_is_equi_bucketed_not_nested_loop(spark):
    """The bucketed range join must execute as an equi hash join on the
    bucket key (then refine), never a BroadcastNestedLoopJoin over the
    raw BETWEEN predicate — the O(n*m) shape it exists to avoid."""
    from sparvi_spark.operators.joins import range_join

    li = _raw(spark, "lineitem", fresh=True).select("l_extendedprice")
    part = _raw(spark, "part").select(
        "p_partkey", (F.col("p_retailprice") - 100).alias("lo"),
        (F.col("p_retailprice") + 100).alias("hi"))
    plan = _plan(range_join(li, part, "l_extendedprice", "lo", "hi",
                            bucket_width=200.0))
    assert "NestedLoop" not in plan, plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_ivf_trained_assignment_is_map_only(spark):
    """Trained-IVF cell assignment must be a pure projection over the scan
    (literal centroids — no join, no exchange, no Python) and the search
    must broadcast the probe side."""
    from sparvi_spark.operators.similarity import (
        centroid_probe_expr,
        ivf_topk_trained,
    )

    emb = _raw(spark, "embeddings")
    cents = [(i, [float(i == d) for d in range(64)]) for i in range(4)]
    assign = emb.select(
        "vec_id", centroid_probe_expr("embedding", cents, nprobe=1)[0].alias("cell"))
    plan = _plan(assign)
    assert "Exchange" not in plan and "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    search = ivf_topk_trained(emb, emb.limit(3), cents, k=5, nprobe=2)
    splan = _plan(search)
    assert "BroadcastHashJoin" in splan


def test_topk_partial_aggregation(spark):
    """P8 top-K: the groupBy must do map-side partial aggregation (two
    HashAggregate levels) so the shuffle carries group counts, not rows."""
    df = _raw(spark, "lineitem").groupBy("l_returnflag") \
        .agg(F.count(F.lit(1)).alias("cnt"))
    plan = _plan(df)
    assert plan.count("HashAggregate") >= 2


def test_bucketed_join_has_no_exchange(spark):
    """Co-located bucketed join: neither side shuffles (SCALING.md)."""
    from sparvi_spark.sources.bucketing import colocated_join, write_bucketed

    li = _raw(spark, "lineitem").select("l_orderkey", "l_quantity")
    orders = _raw(spark, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice")
    write_bucketed(li, "b_lineitem", ["l_orderkey"], 8, sort_cols=["l_orderkey"])
    write_bucketed(orders, "b_orders", ["l_orderkey"], 8, sort_cols=["l_orderkey"])

    # disable broadcast: on testdata-sized inputs Spark correctly prefers a
    # BroadcastHashJoin (which bypasses bucketing); the property under test
    # is the big-big SortMergeJoin path where bucketing kills the shuffle
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = colocated_join(spark, "b_lineitem", "b_orders", "l_orderkey")
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan, plan
        # same row count as the plain (shuffling) join
        plain = li.join(orders, "l_orderkey").count()
        assert joined.count() == plain
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_run_rules_job_budget_and_single_stats_scan(spark, monkeypatch):
    """run_rules is eager: it runs every piece as one action and returns a
    local relation. That must cost no more Spark jobs than the lazy
    formulation it replaced did when collected (10 jobs on this input,
    measured at that revision with ``run_rules(li, rules).collect()``);
    pass A's wide stats aggregation must be persisted exactly once so its
    two consumers (unpivot, outlier bounds) do not each recompute the
    full-table scan; and run_rules must release that persist itself — no
    caller-side ``scoped_caches()`` — leaving the CacheManager empty."""
    import sparvi_spark.operators.validation as V
    from sparvi_spark.testdata import SCHEMAS

    li = _raw(spark, "lineitem", fresh=True)
    rules = V.generate_default_rules(SCHEMAS["lineitem"], as_of="2026-01-01 00:00:00")
    rules = [r for r in rules if r.kind != "ref_integrity"]

    persisted, real_persist = [], V.scoped_persist
    monkeypatch.setattr(V, "scoped_persist",
                        lambda df: persisted.append(df) or real_persist(df))

    cache = spark._jsparkSession.sharedState().cacheManager()
    assert cache.isEmpty()
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    result = V.run_rules(li, rules)
    jobs = set(tracker.getJobIdsForGroup(None)) - before
    assert len(jobs) <= 10, f"{len(jobs)} jobs"
    assert len(persisted) == 1
    assert cache.isEmpty()

    # the result is the collected values, not a plan over the source
    assert result._jdf.queryExecution().optimizedPlan().getClass() \
        .getSimpleName() == "LocalRelation"
    assert result.where(~F.col("is_valid").isNull()).count() == len(rules)


def test_minhash_prep_is_shuffle_free(spark):
    """Shingle sets, sizes, signatures and band hashes are per-row
    projections (SCALING.md round-2 redesign): the plan from scan to the
    persisted base frame must contain NO Exchange."""
    from sparvi_spark.operators.dedup import _doc_gram_arrays, _with_sig

    docs = _raw(spark, "documents", fresh=True)
    base = _with_sig(_doc_gram_arrays(docs, "doc_id", "text", 3), 16, "xxhash64") \
        .withColumn("__sz", F.size("__grams"))
    plan = _plan(base)
    assert "Exchange" not in plan, plan
    # portable mode must stay a projection too (oracle path)
    plan_p = _plan(_with_sig(_doc_gram_arrays(docs, "doc_id", "text", 1), 8, "portable"))
    assert "Exchange" not in plan_p, plan_p


def test_minhash_pipeline_exchange_budget(spark):
    """End-to-end LSH: only the candidate bucket-join and verification
    joins/dedup may shuffle — the exploded-distinct / min-groupBy / sizes
    shuffles of the naive formulation must not come back."""
    from sparvi_spark.operators.dedup import minhash_lsh_pairs

    docs = _raw(spark, "documents", fresh=True).limit(200)
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", n=3, num_hashes=16,
                              bands=4, threshold=0.5)
    plan = _plan(pairs)
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges <= 6, f"{n_exchanges} hash exchanges:\n{plan}"


def test_sessionize_single_exchange(spark):
    """The whole sessionize -> per-session -> per-user pipeline must shuffle
    the events table exactly once (hashpartitioning on user); both
    aggregations reuse the window's partitioning (SCALING.md round 2)."""
    from sparvi_spark.operators.sessions import session_stats

    ev = _raw(spark, "events", fresh=True)
    # normalize the raw ts column the same way load_table does: nanos-long
    # (legacy driver data) -> timestamp_micros; TIMESTAMP_NTZ -> TIMESTAMP
    if dict(ev.dtypes)["ts"] == "bigint":
        ev = ev.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    else:
        ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    plan = _plan(session_stats(ev, "user_id", "ts", 30.0, "event_id"))
    n = plan.count("Exchange hashpartitioning")
    assert n == 1, f"{n} hash exchanges:\n{plan}"


def test_hash_sample_is_narrow(spark):
    """Bernoulli hash sampling is a pure filter: no Exchange anywhere."""
    from sparvi_spark.operators.sampling import hash_sample

    docs = _raw(spark, "documents", fresh=True)
    plan = _plan(hash_sample(docs, "doc_id", 5))
    assert "Exchange" not in plan, plan


def test_contamination_no_cartesian(spark):
    """Contamination is linear: shingle hash-joins only — no cartesian or
    nested-loop join may appear for the doc x benchmark overlap."""
    from sparvi_spark.operators.dedup import contamination

    docs = _raw(spark, "documents", fresh=True)
    ref = docs.where(F.col("source") == "src0")
    cand = docs.where(F.col("source") != "src0")
    plan = _plan(contamination(cand, ref, "doc_id", "text", n=3))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_check_registry_is_exactly_50_oracle_paired(spark):
    """The driver records at most 50 (query, oracle) pairs; the registry
    must stay exactly 50, every entry oracle-backed, and keep its family
    coverage (accidentally dropping a family would silently lose its
    driver grade)."""
    from sparvi_spark.checks import DRIVER_CHECK_CAP, collect_all_checks

    checks = collect_all_checks()
    assert len(checks) == DRIVER_CHECK_CAP == 50
    assert all(sql is not None for _fn, sql in checks.values())
    # r6 repack (merged_checks.py): same families, fewer slots each —
    # the freed slots grade the round-5 LLM-pipeline ops (x24+, e1x)
    for fam, n_min in {"p": 11, "v": 2, "a": 3, "t": 6, "s": 1,
                       "d": 4, "x": 18, "m": 1, "e": 4}.items():
        got = sum(1 for name in checks if name.startswith(fam))
        assert got >= n_min, f"family {fam}: {got} < {n_min}"
    # the merged slots that carry multiple old families must be present
    for required in ("a01_anomaly_scores", "d02_pair_scores",
                     "x13_id_checksums", "t02_rollups", "t03_summaries",
                     "p14_misc_small", "x24_drift", "x27_doc_scores",
                     "x26_shard_split", "e10_tokenize_pack",
                     "x30_semantic_dedup", "x31_duplicate_spans",
                     "e11_sig_pairs", "e13_dedup_lines",
                     "e14_corpus_diff"):
        assert required in checks, required


def test_pq_encode_and_zorder_key_are_map_only(spark):
    """PQ byte-coding and the z-order key must be pure projections over
    the scan — no exchange, no join, no Python — so they hold as map-only
    passes over a 100 TB corpus."""
    from sparvi_spark.operators.similarity import pq_encode
    from sparvi_spark.sources.layout import zorder_key_expr

    emb = _raw(spark, "embeddings")
    books = [[[float((s + c + d) % 5) for d in range(8)]
              for c in range(4)] for s in range(8)]
    plan = _plan(pq_encode(emb, books))
    assert "Exchange" not in plan and "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    ev = _raw(spark, "events")
    keyed = ev.select(zorder_key_expr(ev, ["user_id", "value"], bits=10)
                      .alias("z"))
    plan = _plan(keyed)
    assert "Exchange" not in plan and "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_key_skew_profile(spark):
    from sparvi_spark.operators.skew import key_skew_profile

    rows = [(1, "x")] * 90 + [(k, "y") for k in range(2, 12)] + [(None, "z")] * 5
    df = spark.createDataFrame(rows, "k int, v string")
    summary, heaviest = key_skew_profile(df, ["k"], top=3)
    s = summary.collect()[0]
    assert s["n_keys"] == 12 and s["n_rows"] == 105
    assert s["max_count"] == 90 and s["null_key_rows"] == 5
    # avg = 105/12 = 8.75 -> imbalance = 90/8.75 ≈ 10.29 -> salt 11
    assert abs(s["imbalance"] - 10.2857) < 1e-3
    assert s["suggested_salt"] == 11
    top = heaviest.collect()
    assert top[0]["k"] == 1 and top[0]["cnt"] == 90 and top[0]["rank"] == 1

    # a balanced key needs no salt
    flat = spark.createDataFrame([(i % 4, i) for i in range(40)],
                                 "k int, v int")
    s2 = key_skew_profile(flat, ["k"])[0].collect()[0]
    assert s2["imbalance"] == 1.0 and s2["suggested_salt"] == 1


def test_plan_audit_and_assertions(spark, tmp_path):
    from sparvi_spark.plans.audit import assert_plan, plan_audit
    from tests.conftest import SF_DIR

    src = f"{SF_DIR}/lineitem.parquet"
    df = (spark.read.parquet(src)
          .where(F.col("l_orderkey") == 7)
          .select("l_orderkey", "l_quantity"))
    a = plan_audit(df)
    assert a["scans"] and a["scans"][0]["format"].lower() == "parquet"
    assert any("l_orderkey" in f for f in a["scans"][0]["pushed_filters"])
    assert set(a["scans"][0]["read_columns"]) == {"l_orderkey", "l_quantity"}
    assert a["python_nodes"] == [] and not a["has_cartesian"]
    assert_plan(df, max_exchanges=0, no_python=True, no_cartesian=True,
                pushed_filter_on="l_orderkey")

    # a Python stage is flagged
    from pyspark.sql.types import StructField, StructType, LongType

    def ident(it):
        yield from it

    pydf = spark.read.parquet(src).select("l_orderkey").mapInPandas(
        ident, StructType([StructField("l_orderkey", LongType())]))
    assert "MapInPandas" in plan_audit(pydf)["python_nodes"]
    with pytest.raises(AssertionError):
        assert_plan(pydf, no_python=True)

    # a groupBy costs one exchange; the cap catches regressions
    g = spark.read.parquet(src).groupBy("l_returnflag").count()
    assert plan_audit(g)["n_exchanges"] >= 1
    with pytest.raises(AssertionError):
        assert_plan(g, max_exchanges=0)


def test_new_pipeline_operator_plan_shapes(spark):
    """Plan-quality invariants for the round-5 operators: classifier
    scoring and shard/split assignment are map-only (ZERO exchanges, no
    Python nodes); numeric drift is two count-bounded aggregation
    exchanges + one broadcast-ish edge join and never a cartesian."""
    from sparvi_spark.operators.classify import linear_scores
    from sparvi_spark.operators.drift import numeric_drift
    from sparvi_spark.plans.audit import assert_plan, plan_audit
    from sparvi_spark.sources.export import eval_split_expr, shard_expr

    docs = spark.createDataFrame(
        [(i, f"some text number {i}") for i in range(50)],
        "doc_id long, text string")

    clf = linear_scores(docs, [0.1] * 32)
    assert_plan(clf, max_exchanges=0, no_python=True, no_cartesian=True)

    assign = docs.select(shard_expr("doc_id", 16),
                         eval_split_expr("doc_id", {"train": 0.9, "test": 0.1}))
    assert_plan(assign, max_exchanges=0, no_python=True)

    nums = spark.createDataFrame([(float(i),) for i in range(100)], "x double")
    drift = numeric_drift(nums, nums, ["x"])
    audit = assert_plan(drift, no_python=True, no_cartesian=True)
    # melt+counts aggs shuffle; the edges join must not add a full shuffle
    # of the melted rows beyond them
    assert audit["n_exchanges"] <= 4, audit


def test_semantic_dedup_assignment_is_map_only(spark):
    """The cluster-assignment HALF of semantic_dedup must be a pure
    projection over literal centroids: zero exchanges, zero Python nodes
    (the downstream pair join adds its bucketed shuffles; assignment
    itself must not)."""
    from sparvi_spark.operators.similarity import (
        _l2_dists_expr, l2_argmin_expr)
    from sparvi_spark.plans.audit import assert_plan
    from sparvi_spark.testdata import load_table

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    cents = [[0.1 * ((i + j) % 7) for j in range(64)] for i in range(4)]
    assigned = emb.withColumn(
        "__d", F.expr(_l2_dists_expr("`embedding`", cents))
    ).withColumn("cl", l2_argmin_expr("__d")).select("vec_id", "cl")
    assert_plan(assigned, max_exchanges=0, no_python=True,
                no_cartesian=True)


def test_semantic_dedup_plan_no_cartesian_no_python(spark):
    """End-to-end semantic_dedup plan: the pair join is cluster-bucketed
    (equi-join, never a cartesian) and everything stays JVM-side."""
    from sparvi_spark.operators.dedup import semantic_dedup
    from sparvi_spark.plans.audit import assert_plan
    from sparvi_spark.testdata import load_table

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    cents = [[0.1 * ((i + j) % 7) for j in range(64)] for i in range(4)]
    kept = semantic_dedup(emb, "vec_id", "embedding", threshold=0.3,
                          centroids=cents)
    assert_plan(kept, no_python=True, no_cartesian=True)


def test_duplicate_spans_plan_shape(spark):
    """duplicate_spans (hash mode): JVM-only, no cartesian, and the wide
    stages are bounded — gram count groupBy, the repeated-key semi-join,
    and the per-doc island window (plus AQE reuse), never a doc×doc
    join."""
    from sparvi_spark.operators.dedup import duplicate_spans
    from sparvi_spark.plans.audit import assert_plan, plan_audit
    from sparvi_spark.testdata import load_table

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    spans = duplicate_spans(docs, "doc_id", "text", n=8)
    a = assert_plan(spans, no_python=True, no_cartesian=True)
    assert a["n_exchanges"] <= 5, a


def test_gram_explode_plans_carry_no_inferred_generate_filter(spark):
    """InferFiltersFromGenerate is excluded session-wide (session.py):
    it substitutes the whole interpreted gram pipeline into a Filter
    below every explode — including the token split back INSIDE the
    transform lambda (O(tokens²)/doc; measured 47.2s -> 8.2s on the
    100× candidate shingle explode). Assert no optimized gram plan
    carries a transform(...) inside a Filter, and that the session conf
    actually pins the exclusion."""
    from pyspark.sql import functions as F

    from sparvi_spark.operators.dedup import (
        _doc_gram_arrays, contamination, minhash_lsh_pairs)
    from sparvi_spark.testdata import load_table

    assert "InferFiltersFromGenerate" in spark.conf.get(
        "spark.sql.optimizer.excludedRules", "")
    docs = load_table(spark, "documents", "/root/testdata/sf0.001")

    def filters_of(df):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return [ln for ln in plan.splitlines() if "Filter" in ln]

    exploded = _doc_gram_arrays(docs, "doc_id", "text", 3).select(
        "__id", F.explode("__grams").alias("s"))
    ref = docs.where("source = 'src0'")
    cand = docs.where("source <> 'src0'")
    for df in (exploded,
               contamination(cand, ref, "doc_id", "text", 3),
               minhash_lsh_pairs(docs, "doc_id", "text", n=3,
                                 num_hashes=16, bands=8, threshold=0.5)):
        for ln in filters_of(df):
            assert "transform(" not in ln, ln[:300]
