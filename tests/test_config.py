"""The engine-wide scale-mode switch (sparvi_spark.config): one knob
flips every oracle-parity default to its 100 TB backend — plan-asserted
— while explicit per-call arguments always win, and the two modes agree
on data away from threshold boundaries (the backends may differ in the
final ULP, never in the result set)."""

import pytest

from sparvi_spark.config import scale_mode, set_scale_mode
from tests.conftest import scale_mode_ctx


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_scale_mode_ctx_restores_and_set_flips():
    assert scale_mode() is False  # parity is the process default
    with scale_mode_ctx(True):
        assert scale_mode() is True
        with scale_mode_ctx(False):
            assert scale_mode() is False
        assert scale_mode() is True
    assert scale_mode() is False
    set_scale_mode(True)
    try:
        assert scale_mode() is True
    finally:
        set_scale_mode(False)


def test_scale_mode_flips_cosine_topk_to_gram_plan(spark):
    from sparvi_spark.operators.similarity import cosine_topk

    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(8)],
        "vec_id int, embedding array<float>")
    with scale_mode_ctx(True):
        plan_scale = _plan(cosine_topk(df, df, k=2))
        # explicit argument beats the mode
        plan_pinned = _plan(cosine_topk(df, df, k=2, backend="fold"))
    plan_parity = _plan(cosine_topk(df, df, k=2))
    assert "MapInPandas" in plan_scale  # BLAS partition-local top-k
    assert "MapInPandas" not in plan_pinned
    assert "MapInPandas" not in plan_parity


def test_scale_mode_flips_neardup_pairs_to_bucketed_gram(spark):
    """Scale mode must never run the n² brute join: an unbucketed call
    resolves to gram AND auto-buckets with lsh_bits=16; an EXPLICIT
    gram without a bucket still raises (the caller asked for a
    contradiction)."""
    from sparvi_spark.operators.dedup import embedding_neardup_pairs

    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(8)],
        "vec_id int, embedding array<float>")
    with scale_mode_ctx(True):
        plan_scale = _plan(embedding_neardup_pairs(df, "vec_id",
                                                   "embedding"))
        with pytest.raises(ValueError, match="bucket"):
            embedding_neardup_pairs(df, "vec_id", "embedding",
                                    pair_backend="gram")
    plan_parity = _plan(embedding_neardup_pairs(df, "vec_id", "embedding"))
    assert "FlatMapGroupsInPandas" in plan_scale  # per-bucket Gram
    assert "Join" not in plan_scale  # no brute pair join anywhere
    assert "FlatMapGroupsInPandas" not in plan_parity


def test_scale_mode_profile_uses_sketches_and_matches_exact(spark):
    """profile_table(exact=None) resolves to sketches at scale — and on
    small clean data the sketch answers EQUAL the exact ones (HLL is
    exact far below its precision; the hash-projection dup count has no
    collisions in 60 rows), so the whole document round-trips."""
    from sparvi_spark.operators.profile import profile_table

    rows = [(i % 20, f"s{i % 7}") for i in range(60)]
    df = spark.createDataFrame(rows, "a int, b string")
    exact_doc = profile_table(df, "t", exact=True)
    with scale_mode_ctx(True):
        scale_doc = profile_table(df, "t")
    assert scale_doc["row_count"] == exact_doc["row_count"] == 60
    assert scale_doc["distinct_counts"] == exact_doc["distinct_counts"]
    assert scale_doc["duplicate_count"] == exact_doc["duplicate_count"]


def test_engine_scale_mode_is_per_engine_not_process_global(spark, tmp_path):
    """Two engines with opposite modes coexist: constructing the second
    must not flip the first (the old process-global switch meant
    last-constructor-wins), and neither touches the process default."""
    from sparvi_spark.engine import Engine

    e_scale = Engine(spark, str(tmp_path / "wh"), scale_mode=True)
    e_parity = Engine(spark, str(tmp_path / "wh2"), scale_mode=False)
    assert e_scale.scale_mode is True      # unchanged by the 2nd engine
    assert e_parity.scale_mode is False
    assert scale_mode() is False           # process default untouched


def test_engine_scale_mode_resolves_from_spark_conf(spark, tmp_path):
    """Precedence: explicit arg > spark.sparvi.scaleMode conf > process
    default — so deployments configure it like any other Spark knob."""
    from sparvi_spark.config import SPARK_CONF_KEY
    from sparvi_spark.engine import Engine

    # no conf, no arg -> process default
    assert Engine(spark, str(tmp_path / "a")).scale_mode is False
    spark.conf.set(SPARK_CONF_KEY, "true")
    try:
        # conf wins over the process default
        assert Engine(spark, str(tmp_path / "b")).scale_mode is True
        # explicit arg wins over the conf
        assert Engine(spark, str(tmp_path / "c"),
                      scale_mode=False).scale_mode is False
    finally:
        spark.conf.unset(SPARK_CONF_KEY)
    # process default (set_scale_mode) is still the fallback
    set_scale_mode(True)
    try:
        assert Engine(spark, str(tmp_path / "d")).scale_mode is True
    finally:
        set_scale_mode(False)


def test_engine_run_profile_follows_engine_mode(spark, tmp_path):
    """run_profile(exact=None) resolves from the ENGINE's snapshot: a
    scale-mode engine writes a sketch-backed profile document even when
    the process default is parity (and vice versa nothing leaks)."""
    from sparvi_spark.engine import Engine

    df = spark.createDataFrame(
        [(i % 5, f"s{i % 3}") for i in range(40)], "a int, b string")
    eng = Engine(spark, str(tmp_path / "wh"), scale_mode=True)
    doc = eng.run_profile(df, "t", attach_trends=False)
    assert doc["profile_mode"] == "approx"
    assert scale_mode() is False  # process default untouched
    eng2 = Engine(spark, str(tmp_path / "wh2"), scale_mode=False)
    doc2 = eng2.run_profile(df, "t", attach_trends=False)
    assert doc2["profile_mode"] == "exact"


def test_graded_checks_pin_parity_backends_under_scale_mode(spark):
    """The oracle-graded checks must NOT follow the process-global scale
    mode: an Engine(scale_mode=True) anywhere in the process would
    otherwise flip them to gram lanes (ULP drift vs the DuckDB hash, and
    lsh auto-bucketing drops cross-bucket pairs)."""
    from sparvi_spark.checks.pipeline_checks import (
        q_cosine_topk, q_embedding_neardup, q_semantic_dedup)

    sf = "/root/testdata/sf0.001"
    with scale_mode_ctx(True):
        assert "MapInPandas" not in _plan(q_cosine_topk(spark, sf))
        assert "FlatMapGroupsInPandas" not in _plan(
            q_embedding_neardup(spark, sf))
        assert "FlatMapGroupsInPandas" not in _plan(
            q_semantic_dedup(spark, sf))


def test_scale_mode_semantic_dedup_parity_away_from_threshold(spark):
    """Mode on vs off: identical survivors when every cosine sits far
    from the threshold (ULP-level backend drift cannot flip a decision)."""
    from sparvi_spark.operators.dedup import semantic_dedup

    base = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]]
    rows = []
    for g, b in enumerate(base):
        for m in range(3):  # 3 near-identical members per group
            v = [x + (0.0005 * m if x else 0.0) for x in b]
            rows.append((g * 3 + m, v))
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    cents = base
    kept_parity = sorted(r["vec_id"] for r in semantic_dedup(
        df, "vec_id", "embedding", threshold=0.99,
        centroids=cents).collect())
    with scale_mode_ctx(True):
        kept_scale = sorted(r["vec_id"] for r in semantic_dedup(
            df, "vec_id", "embedding", threshold=0.99,
            centroids=cents).collect())
    assert kept_parity == kept_scale == [0, 3, 6]


def _bad_lane_calls():
    """(id, call(spark)) per lane-bearing operator, each passing one
    unknown lane name — near-misses of real values (case, spelling),
    the typo class an else-branch would swallow."""
    from sparvi_spark.operators import dedup as d
    from sparvi_spark.operators import profile as p
    from sparvi_spark.operators import similarity as s
    from sparvi_spark.operators.text import dedup_lines_corpus
    from sparvi_spark.sources.export import shard_expr

    def docs(spark):
        return spark.createDataFrame(
            [(1, "a b c d"), (2, "a b c e")], "doc_id int, text string")

    def sigs(spark, id_col):
        return spark.createDataFrame([(1, [1, 2, 3, 4])],
                                     f"{id_col} int, sig array<bigint>")

    def vecs(spark):
        return spark.createDataFrame([(1, [1.0, 0.0]), (2, [0.0, 1.0])],
                                     "vec_id int, embedding array<float>")

    return [
        ("numeric_sqls.lane",
         lambda sp: p.numeric_sqls(["x"], ["a"], "Scaled", ())),
        ("minhash_signatures.hash_fn", lambda sp: d.minhash_signatures(
            docs(sp), "doc_id", "text", hash_fn="xxHash64")),
        ("minhash_signed.hash_fn", lambda sp: d.minhash_signed(
            docs(sp), "doc_id", "text", hash_fn="Arrow")),
        ("minhash_lsh_pairs.hash_fn", lambda sp: d.minhash_lsh_pairs(
            docs(sp), "doc_id", "text", hash_fn="xxhash")),
        ("minhash_lsh_pairs_cross.hash_fn",
         lambda sp: d.minhash_lsh_pairs_cross(
             docs(sp), docs(sp), "doc_id", "text", hash_fn="murmur3")),
        ("minhash_pairs_from_sigs.hash_fn",
         lambda sp: d.minhash_pairs_from_sigs(
             sigs(sp, "id"), sigs(sp, "ref_id"), hash_fn="xxHash64")),
        ("minhash_pairs_from_sigs.small_side",
         lambda sp: d.minhash_pairs_from_sigs(
             sigs(sp, "id"), sigs(sp, "ref_id"), small_side="New")),
        ("simhash.hash_fn", lambda sp: d.simhash(
            docs(sp), "doc_id", "text", hash_fn="xxHash64")),
        ("simhash_pairs.hash_fn", lambda sp: d.simhash_pairs(
            docs(sp), "doc_id", "text", hash_fn="Portable")),
        ("contamination.backend", lambda sp: d.contamination(
            docs(sp), docs(sp), "doc_id", "text", backend="Arrow")),
        ("duplicate_spans.gram_mode", lambda sp: d.duplicate_spans(
            docs(sp), "doc_id", "text", gram_mode="xxhash64")),
        ("duplicate_spans.scope", lambda sp: d.duplicate_spans(
            docs(sp), "doc_id", "text", scope="crossdoc")),
        ("dedup_near.clustering", lambda sp: d.dedup_near(
            docs(sp), sp.createDataFrame([(1, 2)], "id_a int, id_b int"),
            "doc_id", clustering="component")),
        ("embedding_neardup_pairs.pair_backend",
         lambda sp: d.embedding_neardup_pairs(
             vecs(sp), "vec_id", "embedding", pair_backend="blas")),
        ("semantic_dedup.pair_backend", lambda sp: d.semantic_dedup(
            vecs(sp), "vec_id", "embedding", centroids=[[1.0, 0.0]],
            pair_backend="Gram")),
        ("semantic_dedup.keep", lambda sp: d.semantic_dedup(
            vecs(sp), "vec_id", "embedding", centroids=[[1.0, 0.0]],
            keep="max_id")),
        ("cosine_topk.backend", lambda sp: s.cosine_topk(
            vecs(sp), vecs(sp), backend="Fold")),
        ("ivf_topk_trained.assign_backend", lambda sp: s.ivf_topk_trained(
            vecs(sp), vecs(sp), [(0, [1.0, 0.0])], assign_backend="blas")),
        ("dedup_lines_corpus.hash_mode", lambda sp: dedup_lines_corpus(
            docs(sp), "doc_id", "text", hash_mode="xxhash64")),
        ("shard_expr.method", lambda sp: shard_expr("doc_id", 4,
                                                    method="xxhash64")),
    ]


@pytest.mark.parametrize("call", [c for _i, c in _bad_lane_calls()],
                         ids=[i for i, _c in _bad_lane_calls()])
def test_unknown_lane_name_raises(spark, call):
    """Every string-selected lane is validated in one place
    (config.check_lane): an unknown name raises, naming the allowed
    values, instead of silently running some other lane."""
    with pytest.raises(ValueError, match="expected one of"):
        call(spark)


def test_intake_unknown_hash_fn_raises_and_stores_nothing(spark, tmp_path):
    """The intake stamps ``hash_fn`` into the store as the corpus's
    hash family, so an unknown name must fail before any signature row
    is written."""
    from pyspark.sql import functions as F

    from sparvi_spark.engine import Engine

    engine = Engine(spark, str(tmp_path / "wh"))
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "compilers parse source text into syntax trees")],
        "doc_id int, text string")
    with pytest.raises(ValueError, match="hash_fn"):
        engine.dedup_corpus_incremental(docs, "c", hash_fn="xxHash64")
    assert engine.state.read("corpus_signatures").where(
        F.col("corpus_name") == "c").count() == 0
