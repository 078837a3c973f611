"""Unit tests for the training-data pipeline operators (dedup, similarity,
text, multimodal) on constructed micro-corpora with known answers."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),          # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat"),          # near dup of 1
        (4, "completely different text about spark engines here"),
        (5, "completely different text about spark engines here ok"),  # near dup of 4
        (6, "unrelated short doc"),
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_exact_duplicates(corpus):
    from sparvi_spark.operators.dedup import dedup_exact

    assert dedup_exact(corpus, ["text"]).count() == 5


def test_short_docs_never_crash_gram_pipelines(spark):
    """Documents with fewer than n tokens (and NULL/empty text) must be
    DROPPED, not crash: ``sequence(1, 0)`` is descending in Spark, so the
    old ``greatest(size-(n-1), 0)`` bound fed ``slice(toks, 0, n)`` and
    threw INVALID_PARAMETER_VALUE.START on any one-word document —
    killing every gram consumer (jaccard/minhash/contamination) on real
    corpora. gram_sql (the expression form over a staged tokens column)
    returns an empty array for short, NULL and empty docs."""
    from sparvi_spark.operators.dedup import (
        _doc_gram_arrays, contamination, gram_sql, jaccard_pairs,
        minhash_lsh_pairs, tokens_expr)

    rows = [(1, None), (2, ""), (3, "one"), (4, "one two"),
            (5, "aa bb cc dd ee"), (6, "aa bb cc dd ff")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r["__id"]: list(r["__grams"])
           for r in _doc_gram_arrays(df, "doc_id", "text", 3).collect()}
    assert set(got) == {5, 6} and "aa bb cc" in got[5]
    # every gram consumer completes on the same frame
    assert jaccard_pairs(df, "doc_id", "text", n=3,
                         threshold=0.4).count() == 1
    assert minhash_lsh_pairs(df, "doc_id", "text", n=3, num_hashes=16,
                             bands=8, threshold=0.3).count() >= 0
    contam = contamination(df.where("doc_id >= 4"), df.where("doc_id < 4"),
                           "doc_id", "text", n=3).collect()
    assert {r["doc_id"] for r in contam} == {5, 6}  # short cand dropped
    sh = (df.selectExpr("doc_id", f"{tokens_expr('text')} AS t")
          .selectExpr("doc_id", f"{gram_sql('t', 3)} AS s").collect())
    by_id = {r["doc_id"]: r["s"] for r in sh}
    assert by_id[1] == by_id[2] == by_id[3] == by_id[4] == []
    assert by_id[5] == ["aa bb cc", "bb cc dd", "cc dd ee"]
    assert gram_sql("t", 1) == "t"


def test_jaccard_pairs_exact_math(corpus):
    from sparvi_spark.operators.dedup import jaccard_pairs

    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in jaccard_pairs(corpus, "doc_id", "text", n=1,
                                    threshold=0.5).collect()}
    # docs 1/2 identical token sets -> jaccard 1.0
    assert pairs[(1, 2)] == 1.0
    # docs 1/3 share 8 of 9 distinct tokens (sets of 8; 'dog' vs 'cat'):
    # shared=7, union=9 -> 7/9
    assert pairs[(1, 3)] == round(7 / 9, 6)
    assert (4, 5) in pairs
    assert not any(6 in p for p in pairs)


def test_jaccard_hot_shingle_guard(corpus):
    from sparvi_spark.operators.dedup import DEFAULT_MAX_SHINGLE_DF, jaccard_pairs

    # default guard (10k) never triggers on small corpora: identical output
    assert DEFAULT_MAX_SHINGLE_DF >= 10_000
    base = sorted(map(tuple, jaccard_pairs(
        corpus, "doc_id", "text", n=1, threshold=0.5,
        max_shingle_df=None).collect()))
    assert sorted(map(tuple, jaccard_pairs(
        corpus, "doc_id", "text", n=1, threshold=0.5).collect())) == base
    # with cap=2 every token shared by docs 1/2/3 (df=3) is a stop-shingle
    # and drops from numerator AND denominator: doc1 keeps {dog} (df=2),
    # doc3 keeps {cat} (df=1) -> the (1,3) pair disappears entirely, while
    # identical docs 1/2 still score 1.0 on their surviving sets
    guarded = {(r["id_a"], r["id_b"]): r["jaccard"]
               for r in jaccard_pairs(corpus, "doc_id", "text", n=1,
                                      threshold=0.5,
                                      max_shingle_df=2).collect()}
    assert guarded[(1, 2)] == 1.0
    assert (1, 3) not in guarded
    assert guarded[(4, 5)] == round(7 / 8, 6)


def test_minhash_lsh_finds_near_dups(corpus):
    from sparvi_spark.operators.dedup import minhash_lsh_pairs

    pairs = {(r["id_a"], r["id_b"]) for r in
             minhash_lsh_pairs(corpus, "doc_id", "text", n=1, num_hashes=32,
                               bands=16, threshold=0.5).collect()}
    assert (1, 2) in pairs  # identical docs always collide in every band
    assert not any(6 in p for p in pairs)


def test_simhash_hamming(corpus):
    from sparvi_spark.operators.dedup import simhash, simhash_pairs

    fp = {r["doc_id"]: r["simhash"] for r in
          simhash(corpus, "doc_id", "text").collect()}
    assert fp[1] == fp[2]  # identical text -> identical fingerprint
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in
             simhash_pairs(corpus, "doc_id", "text", max_hamming=16).collect()}
    assert pairs[(1, 2)] == 0


def test_cosine_topk_ranks_self_neighbors(spark):
    from sparvi_spark.operators.similarity import cosine_topk

    rows = [(0, [1.0, 0.0, 0.0], 0), (1, [0.9, 0.1, 0.0], 0),
            (2, [0.0, 1.0, 0.0], 1), (3, [0.0, 0.95, 0.05], 1)]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<float>, label int")
    res = cosine_topk(emb, emb.where(F.col("vec_id") == 0), k=2).collect()
    ranked = [r["neighbor_id"] for r in sorted(res, key=lambda r: r["rank"])]
    assert ranked[0] == 1  # nearest is the almost-parallel vector


def test_cosine_topk_gram_backend_matches_fold(spark):
    """backend="gram" (partition-local BLAS top-k + exact merge, the
    100 TB brute-force shape) returns the same (query, neighbor, rank)
    triples as the fold-expression plan on the driver's embeddings table
    (cosines off-tie; the backends may differ in the final ULP). Also
    covers exclude_self, multi-partition corpora (partial top-k merge),
    NULL vectors, and the query-cap guard."""
    import pytest as _pt

    from sparvi_spark.operators.similarity import cosine_topk
    from sparvi_spark.testdata import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, "embeddings", SF_DIR).repartition(7)
    emb = emb.unionByName(
        spark.createDataFrame([(9999, None, 0)], emb.schema))
    queries = emb.where(F.col("vec_id") < 15)
    fold = {(r["query_id"], r["rank"]): r["neighbor_id"]
            for r in cosine_topk(emb, queries, k=5).collect()}
    gram = {(r["query_id"], r["rank"]): r["neighbor_id"]
            for r in cosine_topk(emb, queries, k=5,
                                 backend="gram").collect()}
    assert gram == fold and len(fold) == 15 * 5
    assert all(q != n for (q, _rk), n in gram.items())  # exclude_self
    with _pt.raises(ValueError, match="query matrix"):
        cosine_topk(emb, emb, k=1, backend="gram", max_gram_queries=3)


def test_cosine_topk_gram_random_stress(spark):
    """Randomized gram-vs-fold parity: several seeds, k both smaller and
    LARGER than a partition (the local-top-k truncation must still merge
    to the exact global answer), duplicate-heavy vectors (cosine ties).

    The contract being asserted: the two backends agree EXACTLY except
    inside a 6dp-cosine tie group — fold ranks raw doubles (the
    oracle-mirrored order) while gram ranks at the emitted precision so
    its id tie-break is deterministic across partitions (BLAS kernels
    are shape-dependent: bit-identical duplicate vectors in different
    partitions can score ULP apart, which under raw ordering interleaved
    duplicate runs by partition shape — the flake this replaced). So:
    per-rank rounded cosines identical; neighbors identical wherever the
    rounded cosine is unique; tie groups carry the same neighbor SET —
    except the group at the k-th cosine, which each backend may truncate
    differently (raw-order vs id-order picks within the group)."""
    from collections import Counter

    import numpy as np

    from sparvi_spark.operators.similarity import cosine_topk

    for seed, k in ((1, 3), (2, 17), (3, 7)):
        rng = np.random.default_rng(seed)
        base = rng.normal(size=(6, 8))
        vecs = [base[i % 6] + (rng.normal(scale=0.01, size=8)
                               if i % 3 else 0.0)  # exact dups -> cosine ties
                for i in range(60)]
        rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
        df = spark.createDataFrame(
            rows, "vec_id int, embedding array<double>").repartition(5)
        q = df.where(F.col("vec_id") < 6)

        def by_query(res):
            out = {}
            for r in res:
                out.setdefault(r["query_id"], []).append(
                    (r["rank"], r["neighbor_id"], r["cosine"]))
            return {qq: sorted(v) for qq, v in out.items()}

        fold = by_query(cosine_topk(df, q, k=k).collect())
        gram = by_query(cosine_topk(df, q, k=k, backend="gram").collect())
        assert fold.keys() == gram.keys()
        for qq in fold:
            fl, gl = fold[qq], gram[qq]
            assert len(fl) == len(gl) == min(k, 59), (seed, k, qq)
            # identical rounded-cosine sequence by rank
            assert [c for _, _, c in fl] == [c for _, _, c in gl], \
                (seed, k, qq)
            cnt = Counter(c for _, _, c in fl)
            kth = fl[-1][2]
            for (r1, n1, c1), (_r2, n2, _c2) in zip(fl, gl):
                if cnt[c1] == 1:  # untied cosine: neighbor must match
                    assert n1 == n2, (seed, k, qq, r1)
            for cval in cnt:
                if cval == kth:
                    continue  # the k-boundary group may straddle the cut
                    # and be truncated differently (raw-order vs id-order
                    # picks within the tie); every interior group must
                    # carry the same neighbor set
                s1 = {n for _, n, c in fl if c == cval}
                s2 = {n for _, n, c in gl if c == cval}
                assert s1 == s2, (seed, k, qq, cval)


def test_text_quality_and_langid(spark):
    from sparvi_spark.operators.text import lang_id_expr, quality_features

    rows = [(1, "the cat and the dog are in the house"),
            (2, "el gato y el perro en la casa"),
            (3, "!!! ??? ***")]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    feats = {r["doc_id"]: r for r in quality_features(docs).collect()}
    assert feats[1]["stopword_ratio"] > 0.3
    assert feats[3]["quality_score"] < feats[1]["quality_score"]
    langs = {r["doc_id"]: r["g"] for r in
             docs.select("doc_id", lang_id_expr("text").alias("g")).collect()}
    assert langs[1] == "en" and langs[2] == "es"


def test_repetition_features_hand_computed(spark):
    from sparvi_spark.operators.text import repetition_features

    rows = [
        # 6 tokens, 2 distinct; bigrams a-b/b-a/a-b/b-a/a-b -> "a b" x3 of 5
        (1, "a b a b a b"),
        (2, "all unique words here now"),        # no repeats, no repeat bigrams
        (3, "### @@@ ..."),                      # symbols, no alpha
        (4, "one"),                              # single token: bigram frac 0
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r["doc_id"]: r for r in repetition_features(docs).collect()}
    assert got[1]["n_tokens"] == 6
    assert got[1]["dup_token_frac"] == round(1 - 2 / 6, 6)
    assert got[1]["top_bigram_frac"] == round(3 / 5, 6)
    assert got[1]["alpha_word_frac"] == 1.0
    assert got[2]["dup_token_frac"] == 0.0
    assert got[2]["top_bigram_frac"] == round(1 / 4, 6)
    assert got[3]["alpha_word_frac"] == 0.0
    # "###" has 3 '#' marks, "@@@" 3 '@', "..." one ellipsis -> 7 marks / 3 tokens
    assert got[3]["symbol_word_ratio"] == round(7 / 3, 6)
    assert got[4]["top_bigram_frac"] == 0.0


def test_multimodal_plumbing_batch_shape(spark):
    from sparvi_spark.operators.multimodal import (
        documents_as_media,
        extract_image_features,
    )

    docs = spark.createDataFrame(
        [(1, "abcd"), (2, "efghij")], "doc_id int, text string")
    media = documents_as_media(docs)
    assert dict(media.dtypes)["payload"] == "binary"
    feats = extract_image_features(media, fake=True)
    got = {r["media_id"]: r for r in feats.collect()}
    assert got[1]["n_bytes"] == 4 and got[2]["n_bytes"] == 6
    with pytest.raises(Exception):
        extract_image_features(media, fake=False).collect()


def test_multimodal_audio_features(spark):
    from sparvi_spark.operators.multimodal import (
        documents_as_media,
        extract_audio_features,
    )

    docs = spark.createDataFrame(
        [(1, "abcd" * 4000), (2, "x"), (3, None)],
        "doc_id int, text string")
    media = documents_as_media(docs)
    got = {r["media_id"]: r for r in
           extract_audio_features(media, fake=True).collect()}
    assert got[1]["duration_s"] == 16000 / 16000  # 16k bytes @ 16kHz "PCM"
    assert got[1]["sample_rate"] == 16000 and got[1]["n_channels"] == 1
    assert got[1]["rms"] > 0
    assert got[3]["duration_s"] is None and got[3]["rms"] is None
    with pytest.raises(Exception):
        extract_audio_features(media, fake=False).collect()


def test_multimodal_real_decoder_seam(spark):
    """fake=False wiring end-to-end with an injected stub codec: the
    non-fake branch runs the same Arrow plumbing, NULL rows propagate, and
    decoder outputs land in the typed schema — proving a real library
    (Pillow/soundfile) plugs in without touching the Spark side."""
    from sparvi_spark.operators.multimodal import (
        documents_as_media,
        extract_audio_features,
        extract_image_features,
    )

    docs = spark.createDataFrame(
        [(1, "abcd"), (2, "efghij"), (3, None)], "doc_id int, text string")
    media = documents_as_media(docs)

    def img_codec(payload: bytes):
        return len(payload), 2 * len(payload), float(len(payload)) / 2

    got = {r["media_id"]: r for r in
           extract_image_features(media, fake=False,
                                  decoder=img_codec).collect()}
    assert got[1]["width"] == 4 and got[1]["height"] == 8
    assert got[2]["mean_intensity"] == 3.0
    assert got[3]["width"] is None and got[3]["n_bytes"] is None

    def audio_codec(payload: bytes):
        return len(payload) / 8000.0, 8000, 2, 0.5

    got = {r["media_id"]: r for r in
           extract_audio_features(media, fake=False,
                                  decoder=audio_codec).collect()}
    assert got[1]["duration_s"] == 4 / 8000.0
    assert got[1]["sample_rate"] == 8000 and got[1]["n_channels"] == 2
    assert got[3]["duration_s"] is None and got[3]["rms"] is None


def test_kmeans_ivf_trained_search(spark):
    """Lloyd's trainer recovers tight synthetic clusters and the trained
    IVF search matches brute-force top-1 on nearly every query."""
    import random

    from pyspark.sql import functions as F

    from sparvi_spark.operators.similarity import (
        cosine_topk,
        ivf_topk_trained,
        kmeans_train,
    )

    rng = random.Random(11)
    cents = [[rng.gauss(0, 1) for _ in range(16)] for _ in range(6)]
    rows = []
    vid = 0
    for ci, cent in enumerate(cents):
        for _ in range(25):
            rows.append((vid, [float(x + rng.gauss(0, 0.05)) for x in cent], ci))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<float>, label int")

    trained = kmeans_train(emb, k=6, iters=3)
    assert len(trained) == 6 and all(len(v) == 16 for _, v in trained)

    queries = emb.where(F.col("vec_id") % 25 == 0)  # one per true cluster
    exact = {r["query_id"]: r["neighbor_id"]
             for r in cosine_topk(emb, queries, k=1).collect()}
    approx = {r["query_id"]: r["neighbor_id"]
              for r in ivf_topk_trained(emb, queries, trained, k=1,
                                        nprobe=2).collect()}
    hits = sum(1 for q, n in exact.items() if approx.get(q) == n)
    assert hits >= 5  # >=5/6 top-1 recall with 2-probe on tight clusters

    # determinism: retraining yields identical centroids (hash-based init,
    # decimal-exact means)
    assert kmeans_train(emb, k=6, iters=3) == trained

    # assign_backend="gram" (BLAS corpus assignment, the large-nlist
    # path) returns the identical result set on well-separated clusters,
    # including a NULL corpus vector (NULL cell -> joins no probe)
    emb2 = emb.unionByName(spark.createDataFrame(
        [(9999, None, 0)], emb.schema)).repartition(5)
    fold = sorted(map(tuple, ivf_topk_trained(
        emb2, queries, trained, k=3, nprobe=2).collect()))
    gram = sorted(map(tuple, ivf_topk_trained(
        emb2, queries, trained, k=3, nprobe=2,
        assign_backend="gram").collect()))
    assert gram == fold and len(fold) == 6 * 3

    # every cosine top-k path shares one rank tail: on the sf0.001
    # embeddings, IVF over one constant bucket and trained IVF probing
    # every cell (both assignment lanes) equal brute force row for row
    from sparvi_spark.operators.similarity import (
        ivf_topk, kmeans_train_sampled)
    from sparvi_spark.testdata import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, "embeddings", SF_DIR).withColumn("one", F.lit(0))
    queries = emb.where(F.col("vec_id") < 8)
    brute = sorted(map(tuple, cosine_topk(emb, queries, k=5,
                                          backend="fold").collect()))
    assert len(brute) == 8 * 5
    assert sorted(map(tuple, ivf_topk(emb, queries, "one",
                                      k=5).collect())) == brute
    cells = kmeans_train_sampled(emb, k=4, sample_size=256)
    for lane in ("fold", "gram"):
        got = ivf_topk_trained(emb, queries, cells, k=5, nprobe=len(cells),
                               assign_backend=lane)
        assert sorted(map(tuple, got.collect())) == brute, lane


def test_kmeans_sampled_trainer_matches_search_quality(spark):
    """The one-job sample trainer (numpy Lloyd's over a deterministic
    hash-sample) gives the same trained-IVF search quality as the
    distributed trainer, and is partitioning-invariant."""
    import random

    from pyspark.sql import functions as F

    from sparvi_spark.operators.similarity import (
        cosine_topk,
        ivf_topk_trained,
        kmeans_train_sampled,
    )

    rng = random.Random(11)
    cents = [[rng.gauss(0, 1) for _ in range(16)] for _ in range(6)]
    rows = []
    vid = 0
    for cent in cents:
        for _ in range(25):
            rows.append((vid, [float(x + rng.gauss(0, 0.05)) for x in cent]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<float>")

    trained = kmeans_train_sampled(emb, k=6, sample_size=100, iters=10)
    assert len(trained) == 6 and all(len(v) == 16 for _, v in trained)

    queries = emb.where(F.col("vec_id") % 25 == 0)
    exact = {r["query_id"]: r["neighbor_id"]
             for r in cosine_topk(emb, queries, k=1).collect()}
    approx = {r["query_id"]: r["neighbor_id"]
              for r in ivf_topk_trained(emb, queries, trained, k=1,
                                        nprobe=2).collect()}
    hits = sum(1 for q, n in exact.items() if approx.get(q) == n)
    assert hits >= 5  # >=5/6 top-1 recall with 2-probe on tight clusters

    # partitioning-invariant: the hash-ordered sample is a total order
    assert kmeans_train_sampled(
        emb.repartition(7), k=6, sample_size=100, iters=10) == trained


def test_sessionize_gap_rule(spark):
    from sparvi_spark.operators.sessions import session_stats, sessionize

    rows = [
        (1, 1, "2024-01-01 10:00:00"),
        (1, 2, "2024-01-01 10:10:00"),   # same session (10 min gap)
        (1, 3, "2024-01-01 11:00:00"),   # new session (50 min gap)
        (2, 4, "2024-01-01 09:00:00"),   # single-event session
    ]
    df = spark.createDataFrame(
        rows, "user_id int, event_id int, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    s = {(r["user_id"], r["event_id"]): r["session_no"]
         for r in sessionize(df, "user_id", "ts", 30.0, "event_id").collect()}
    assert s == {(1, 1): 1, (1, 2): 1, (1, 3): 2, (2, 4): 1}

    stats = {r["user_id"]: r for r in
             session_stats(df, "user_id", "ts", 30.0, "event_id").collect()}
    assert stats[1]["n_sessions"] == 2
    assert stats[1]["max_session_events"] == 2
    assert stats[1]["total_session_us"] == 600_000_000  # 10 min, exact
    assert stats[2]["n_sessions"] == 1
    assert stats[2]["total_session_us"] == 0


def test_hash_sampling_deterministic(spark):
    from sparvi_spark.operators.sampling import hash_sample, stratified_sample

    df = spark.createDataFrame(
        [(i, f"s{i % 3}") for i in range(300)], "id int, src string")
    a = sorted(r["id"] for r in hash_sample(df, "id", 10).collect())
    # repartitioning must NOT change the sample (the df.sample failure mode)
    b = sorted(r["id"] for r in hash_sample(df.repartition(7), "id", 10).collect())
    assert a == b and 0 < len(a) < 60  # ~10% of 300, hash-spread

    st = stratified_sample(df, ["src"], 5, "id")
    per = {r["src"]: r["cnt"] for r in
           st.groupBy("src").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert per == {"s0": 5, "s1": 5, "s2": 5}
    # deterministic under re-run
    assert sorted(r["id"] for r in st.collect()) == \
           sorted(r["id"] for r in stratified_sample(df, ["src"], 5, "id").collect())


def test_numeric_histogram_bins(spark):
    from sparvi_spark.operators.profile import numeric_histogram

    df = spark.createDataFrame([(float(i),) for i in range(100)], "v double")
    out = {r["bin"]: r for r in numeric_histogram(df, "v", bins=10).collect()}
    assert len(out) == 10
    assert all(out[b]["cnt"] == 10 for b in range(10))
    assert out[0]["lo"] == 0.0 and out[9]["hi"] == 99.0
    # max value clamps into last bin, not bins
    assert 9 in out and 10 not in out


def test_contamination_fractions(spark):
    from sparvi_spark.operators.dedup import contamination

    ref = spark.createDataFrame(
        [(100, "a b c d e")], "doc_id int, text string")
    cand = spark.createDataFrame(
        [(1, "a b c d e"),        # fully contained
         (2, "a b c x y z"),      # 1 of 4 shingles hits ('a b c')
         (3, "p q r s t")],       # disjoint
        "doc_id int, text string")
    out = {r["doc_id"]: r for r in
           contamination(cand, ref, "doc_id", "text", n=3).collect()}
    assert out[1]["contamination_frac"] == 1.0
    assert out[2]["n_shingles"] == 4 and out[2]["n_contaminated"] == 1
    assert out[3]["contamination_frac"] == 0.0


def test_contamination_arrow_backend_parity(spark):
    """The Arrow rolling-hash lane (scale-mode default) must produce the
    SAME rows as the oracle-parity string path: same docs, same
    n_shingles (distinct hashes == distinct strings barring 64-bit
    collisions), same hit counts — on hostile inputs (1-word docs, NULL
    text, duplicated shingles) and on the real documents table."""
    from pyspark.sql import functions as F

    from sparvi_spark.operators.dedup import contamination
    from sparvi_spark.testdata import load_table

    hostile = spark.createDataFrame(
        [(1, None), (2, ""), (3, "one"), (4, "a b c a b c a b c"),
         (5, "a b c d e"), (6, "x\ty  z w v"), (7, "a b c x y z")],
        "doc_id int, text string")
    frames = [
        (hostile.where("doc_id >= 4"), hostile.where("doc_id < 4")),
    ]
    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    frames.append((docs.where(F.col("source") != "src0"),
                   docs.where(F.col("source") == "src0")))
    for cand, ref in frames:
        expr = sorted(contamination(cand, ref, "doc_id", "text", n=3,
                                    backend="expr").collect())
        arrow = sorted(contamination(cand, ref, "doc_id", "text", n=3,
                                     backend="arrow").collect())
        assert arrow == expr
    # scale mode flips the default to the arrow lane; explicit arg wins
    from tests.conftest import scale_mode_ctx

    with scale_mode_ctx(True):
        got = sorted(contamination(hostile.where("doc_id >= 4"),
                                   hostile.where("doc_id < 4"),
                                   "doc_id", "text", n=3).collect())
    assert got == sorted(contamination(
        hostile.where("doc_id >= 4"), hostile.where("doc_id < 4"),
        "doc_id", "text", n=3, backend="expr").collect())


def test_arrow_gram_lanes_agree(spark):
    """The three Arrow gram lanes build their keys from one rolling
    combine: per doc, the MinHash lane's ``__grams`` set, the shingle
    lane's ``gram`` set and the distinct window ``key``s are equal, and
    window positions count from 0 within each doc. One partition puts
    every doc in one Arrow batch, so the cross-document window mask
    runs; the corpus has short docs, NULL and empty text, and repeated
    grams."""
    from sparvi_spark.operators.dedup import (
        _gram_hash_sig_arrow, _shingle_hash_rows, _window_hash_rows)

    texts = {1: "a b c a b c a b c", 2: None, 3: "one", 4: "x y",
             5: "p q r s t", 6: "A  b\tc d", 7: "", 8: "a b c d e f a b c",
             9: "r s t u"}
    docs = spark.createDataFrame(list(texts.items()),
                                 "doc_id int, text string").coalesce(1)
    n = 3
    lengths = {k: len(v.lower().split()) for k, v in texts.items()
               if v is not None}
    want = {k for k, ln in lengths.items() if ln >= n}
    sig_sets = {r["__id"]: set(r["__grams"]) for r in
                _gram_hash_sig_arrow(docs, "doc_id", "text", n, 8).collect()}
    shingle_sets, windows = {}, {}
    for r in _shingle_hash_rows(docs, "doc_id", "text", n).collect():
        shingle_sets.setdefault(r["__id"], set()).add(r["gram"])
        assert r["n_shingles"] == len(sig_sets[r["__id"]])
    for r in _window_hash_rows(docs, "doc_id", "text", n).collect():
        windows.setdefault(r["__id"], []).append((r["pos"], r["key"]))
    assert set(sig_sets) == set(shingle_sets) == set(windows) == want
    for k in want:
        keys = {key for _p, key in windows[k]}
        assert sig_sets[k] == shingle_sets[k] == keys, k
        assert sorted(p for p, _k in windows[k]) == \
            list(range(lengths[k] - n + 1)), k
    # repeated grams collapse in the sets but not in the windows
    assert len(windows[1]) == 7 and len(sig_sets[1]) == 3
    # equal token runs hash equally across docs ('p q r' vs 'r s t')
    assert sig_sets[5] & sig_sets[9]


def test_minhash_lsh_bounded_lane_identical_pairs(spark):
    """``bounded=True`` (r13, the intake's microbatch contract) only
    changes join BUILD strategy (explicit broadcasts instead of
    AQE-staged shuffles) — the pair set, jaccard values, and the
    dedup_near survivor set must be identical to the default lane."""
    from sparvi_spark.operators.dedup import dedup_near, minhash_lsh_pairs
    from sparvi_spark.testdata import load_table

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    kw = dict(n=3, num_hashes=64, bands=16, threshold=0.5,
              hash_fn="xxhash64")
    base = minhash_lsh_pairs(docs, "doc_id", "text", **kw)
    bnd = minhash_lsh_pairs(docs, "doc_id", "text", bounded=True, **kw)
    key = lambda df: sorted((r["id_a"], r["id_b"], r["jaccard"])
                            for r in df.collect())
    pairs = key(base)
    assert pairs and key(bnd) == pairs
    kept = sorted(r["doc_id"] for r in
                  dedup_near(docs, base, "doc_id").collect())
    assert sorted(r["doc_id"] for r in
                  dedup_near(docs, bnd, "doc_id",
                             bounded=True).collect()) == kept


def test_minhash_arrow_lane_matches_expr_pairs(spark):
    """hash_fn='arrow' (vectorized numpy gram-hash + affine signature lane)
    must emit the SAME verified pairs with the SAME exact-Jaccard values
    as the xxhash64 expression path on corpora whose near-dups are well
    clear of the banding recall boundary: candidates may differ between
    hash families, but verification is exact either way, so any pair at
    jaccard >= threshold that both bandings surface carries identical
    numbers. Also covers signatures (shape + in-doc stability), the
    cross variant, hostile short docs, and the scale-mode default."""
    from pyspark.sql import functions as F

    from tests.conftest import scale_mode_ctx
    from sparvi_spark.operators.dedup import (
        minhash_lsh_pairs, minhash_lsh_pairs_cross, minhash_signatures)
    from sparvi_spark.testdata import load_table

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    kw = dict(n=3, num_hashes=64, bands=16, threshold=0.5)
    expr_pairs = sorted(
        (r["id_a"], r["id_b"], r["jaccard"]) for r in
        minhash_lsh_pairs(docs, "doc_id", "text",
                          hash_fn="xxhash64", **kw).collect())
    arrow_pairs = sorted(
        (r["id_a"], r["id_b"], r["jaccard"]) for r in
        minhash_lsh_pairs(docs, "doc_id", "text",
                          hash_fn="arrow", **kw).collect())
    assert expr_pairs and arrow_pairs == expr_pairs
    with scale_mode_ctx(True):  # None resolves to the arrow lane
        assert sorted(
            (r["id_a"], r["id_b"], r["jaccard"]) for r in
            minhash_lsh_pairs(docs, "doc_id", "text", **kw).collect()
        ) == expr_pairs

    # hostile short docs: the arrow lane drops <n-token docs like expr
    hostile = spark.createDataFrame(
        [(1, None), (2, ""), (3, "one"),
         (5, "aa bb cc dd ee"), (6, "aa bb cc dd ff")],
        "doc_id int, text string")
    hp = minhash_lsh_pairs(hostile, "doc_id", "text", n=3, num_hashes=16,
                           bands=8, threshold=0.3, hash_fn="arrow")
    assert {(r["id_a"], r["id_b"]) for r in hp.collect()} == {(5, 6)}
    # n=1 (token-set) edge: the rolling-combine loop is a no-op and the
    # jaccard must equal the expr lane's token-set numbers exactly
    for fn in ("xxhash64", "arrow"):
        p1 = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
              minhash_lsh_pairs(hostile, "doc_id", "text", n=1,
                                num_hashes=16, bands=16,
                                threshold=0.3, hash_fn=fn).collect()}
        assert p1 == {(5, 6): 0.666667}  # |{aa,bb,cc,dd}| / |6 tokens|

    # signatures: right shape, and identical docs sign identically
    sigs = {r["doc_id"]: list(r["sig"]) for r in minhash_signatures(
        hostile, "doc_id", "text", n=3, num_hashes=16,
        hash_fn="arrow").collect()}
    assert set(sigs) == {5, 6} and len(sigs[5]) == 16
    twin = spark.createDataFrame(
        [(7, "aa bb cc dd ee")], "doc_id int, text string")
    tsig = minhash_signatures(twin, "doc_id", "text", n=3, num_hashes=16,
                              hash_fn="arrow").collect()[0]["sig"]
    assert list(tsig) == sigs[5]

    # cross variant agrees with the expr cross on the same corpus split
    cand = docs.where(F.col("source") != "src0")
    ref = docs.where(F.col("source") == "src0")
    for fn in ("xxhash64", "arrow"):
        got = sorted((r["id"], r["ref_id"], r["jaccard"]) for r in
                     minhash_lsh_pairs_cross(cand, ref, "doc_id", "text",
                                             hash_fn=fn, **kw).collect())
        if fn == "xxhash64":
            expr_cross = got
        else:
            assert got == expr_cross


def test_simhash_arrow_lane_matches_expr(spark):
    """hash_fn='arrow' simhash votes over the SAME xxhash64 token hashes
    as the expression lane, so fingerprints (and therefore banded pairs)
    are bit-identical — not just statistically close. r12: NULL-text
    docs are DROPPED in every lane (previously the expr lane's vote
    CASEs collapsed NULL to fingerprint 0, so a scale-mode flip changed
    the returned row set on dirty data); row sets are now identical
    including null docs. Also pins the scale-mode default."""
    from pyspark.sql import functions as F

    from tests.conftest import scale_mode_ctx
    from sparvi_spark.operators.dedup import simhash, simhash_pairs
    from sparvi_spark.testdata import load_table

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    expr_fp = {r["doc_id"]: r["simhash"] for r in
               simhash(docs, "doc_id", "text", hash_fn="xxhash64").collect()}
    arrow_fp = {r["doc_id"]: r["simhash"] for r in
                simhash(docs, "doc_id", "text", hash_fn="arrow").collect()}
    assert arrow_fp
    assert all(expr_fp[k] == v for k, v in arrow_fp.items())
    assert len(arrow_fp) == len(expr_fp)  # sf0.001 docs has no null text
    # hostile rows: empty string tokenizes to [''] (fingerprinted in both
    # lanes, identically); NULL text drops in EVERY lane (r12 — the expr
    # lanes previously zeroed it, pairing all null docs at hamming 0)
    hostile = spark.createDataFrame(
        [(1, None), (2, ""), (3, "aa bb cc")], "doc_id int, text string")
    hx = {r["doc_id"]: r["simhash"] for r in
          simhash(hostile, "doc_id", "text", hash_fn="xxhash64").collect()}
    ha = {r["doc_id"]: r["simhash"] for r in
          simhash(hostile, "doc_id", "text", hash_fn="arrow").collect()}
    hp = {r["doc_id"]: r["simhash"] for r in
          simhash(hostile, "doc_id", "text", hash_fn="portable").collect()}
    assert set(ha) == set(hx) == set(hp) == {2, 3}
    assert ha[2] == hx[2] and ha[3] == hx[3]
    # pairs ride the identical fingerprints -> identical pair sets
    kw = dict(max_hamming=8, bits=64, n_chunks=4)
    pe = sorted((r["id_a"], r["id_b"], r["hamming"]) for r in simhash_pairs(
        docs, "doc_id", "text", hash_fn="xxhash64", **kw).collect())
    pa = sorted((r["id_a"], r["id_b"], r["hamming"]) for r in simhash_pairs(
        docs, "doc_id", "text", hash_fn="arrow", **kw).collect())
    assert pe and pa == pe
    with scale_mode_ctx(True):  # None resolves to the arrow lane
        assert sorted(
            (r["id_a"], r["id_b"], r["hamming"]) for r in
            simhash_pairs(docs, "doc_id", "text", **kw).collect()) == pe


def test_minhash_banding_recall_vs_theory(spark):
    """Statistical recall pin for MinHash banding (r11, VERDICT r10 #3):
    plant pairs with EXACT known Jaccard across [0.80, 0.99] and assert
    every lane's observed pair recall clears the banding math's
    expectation 1-(1-J^r)^b minus a tolerance. The r10 KM defect (see
    ``_with_sig``'s history note: Kirsch-Mitzenmacher h1+i*h2 correlates
    MinHash slots — the argmin is captured by the gram with the smallest
    h2, so a near-dup pair whose smallest-h2 gram falls in the symmetric
    difference loses ~every band at once) survived 8 rounds because no
    test asserted recall against this bound; a numpy replica of the KM
    construction over the same corpus is kept below as a NEGATIVE
    control proving the assertion has teeth. Deterministic end to end:
    fixed corpus, fixed hash families, fixed numpy seed."""
    import numpy as np

    from sparvi_spark.operators.dedup import minhash_lsh_pairs

    # Pair k: docs (2k, 2k+1) over a PRIVATE token universe (p{k}…) so no
    # cross-pair candidate can confound recall. Both docs share the first
    # 100-m tokens; each holds m private ones -> token-SET (n=1 shingles)
    # jaccard is exactly (100-m)/(100+m). m in 1..11 spans J 0.98->0.80.
    n_pairs, rows, true_j = 88, [], {}
    for k in range(n_pairs):
        m = 1 + k % 11
        shared = [f"p{k}s{i}" for i in range(100 - m)]
        a = shared + [f"p{k}a{i}" for i in range(m)]
        b = shared + [f"p{k}b{i}" for i in range(m)]
        rows += [(2 * k, " ".join(a)), (2 * k + 1, " ".join(b))]
        true_j[k] = (100 - m) / (100 + m)
    docs = spark.createDataFrame(rows, "doc_id int, text string")

    num_hashes, bands = 64, 16
    r = num_hashes // bands
    expect = np.mean([1 - (1 - j ** r) ** bands for j in true_j.values()])
    assert expect > 0.999  # every planted pair is deep in the keep zone
    bound = expect - 0.05  # tolerance: >=84/88 pairs must surface

    for lane in ("xxhash64", "portable", "arrow"):
        got = {(r_["id_a"], r_["id_b"]) for r_ in minhash_lsh_pairs(
            docs, "doc_id", "text", n=1, num_hashes=num_hashes,
            bands=bands, threshold=0.5, hash_fn=lane).collect()}
        recall = sum((2 * k, 2 * k + 1) in got
                     for k in range(n_pairs)) / n_pairs
        assert recall >= bound, (lane, recall, bound)

    # NEGATIVE control: the retired KM construction over the same corpus
    # (two independent P-bounded base hashes per token — the retired lane
    # staged pmod'd hashes, so h1 + 63*h2 < 2^36 never wraps — slot i =
    # min(h1 + i*h2)) banded the same way misses far more than the bound
    # allows: as i grows the argmin is captured by the smallest-h2 token,
    # so recall collapses to ~P(argmin-h2 token is shared) ≈ J instead of
    # 1-(1-J^r)^b. I.e. this test would have FAILED on the pre-r10 lane.
    rng = np.random.default_rng(11)
    km_hits = 0
    for k in range(n_pairs):
        toks_a = rows[2 * k][1].split()
        toks_b = rows[2 * k + 1][1].split()
        uni = sorted(set(toks_a) | set(toks_b))
        h1 = dict(zip(uni, rng.integers(0, 2 ** 30, len(uni))))
        h2 = dict(zip(uni, rng.integers(0, 2 ** 30, len(uni))))
        def km_sig(toks):
            a1 = np.array([h1[t] for t in set(toks)], dtype=np.int64)
            a2 = np.array([h2[t] for t in set(toks)], dtype=np.int64)
            return [int((a1 + i * a2).min()) for i in range(num_hashes)]
        sa, sb = km_sig(toks_a), km_sig(toks_b)
        km_hits += any(sa[b * r:(b + 1) * r] == sb[b * r:(b + 1) * r]
                       for b in range(bands))
    assert km_hits / n_pairs < bound  # KM would flunk the pin above


def test_pattern_counts_groups(spark):
    from sparvi_spark.operators.text import pattern_counts

    df = spark.createDataFrame(
        [("a", "mail me at bob@example.com or sue@test.org"),
         ("a", "no pii here"),
         ("b", "server 10.0.0.1 and 192.168.1.1")],
        "src string, text string")
    out = {(r["src"], r["pattern"]): (r["n_rows_matched"], r["n_matches"])
           for r in pattern_counts(df, "text", group_by="src").collect()}
    assert out[("a", "email")] == (1, 2)
    assert out[("b", "ipv4")] == (1, 2)
    assert out[("b", "email")] == (0, 0)


def test_bucket_centroids_exact(spark):
    from sparvi_spark.operators.similarity import bucket_centroids

    df = spark.createDataFrame(
        [(0, [1.0, 2.0]), (0, [3.0, 4.0]), (1, [10.0, 20.0])],
        "label int, embedding array<double>")
    out = {(r["label"], r["dim"]): (r["centroid"], r["n_vectors"])
           for r in bucket_centroids(df, "label", "embedding").collect()}
    assert out[(0, 0)] == (2.0, 2)
    assert out[(0, 1)] == (3.0, 2)
    assert out[(1, 0)] == (10.0, 1)


def test_mixture_sample_quotas_and_determinism(spark):
    from sparvi_spark.operators.sampling import mixture_sample

    rows = [(i, f"src{i % 4}") for i in range(100)]  # 25 per source
    df = spark.createDataFrame(rows, "doc_id int, source string")
    props = {"src0": 0.5, "src1": 0.3, "src2": 0.2}

    out = mixture_sample(df, "source", "doc_id", props)
    counts = {r["source"]: r["n"] for r in
              out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    # n_out = min(25/0.5, 25/0.3, 25/0.2) = 50 -> quotas 25/15/10; the
    # binding group (src0) is kept whole, src3 (no target) is dropped
    assert counts == {"src0": 25, "src1": 15, "src2": 10}

    # deterministic: identical selection on re-run
    ids = sorted(r["doc_id"] for r in out.collect())
    ids2 = sorted(r["doc_id"] for r in
                  mixture_sample(df, "source", "doc_id", props).collect())
    assert ids == ids2

    # prefix property: shrinking src1's share only REMOVES rows from src1
    smaller = mixture_sample(df, "source", "doc_id",
                             {"src0": 0.5, "src1": 0.25, "src2": 0.25})
    s1_small = {r["doc_id"] for r in
                smaller.where(F.col("source") == "src1").collect()}
    s1_big = {r["doc_id"] for r in
              out.where(F.col("source") == "src1").collect()}
    assert s1_small <= s1_big


def test_dedup_near_connected_components(spark):
    """Greedy vs CC on a transitive chain: pairs (1,3),(2,3) — greedy
    keeps 1 AND 2 (over-keep), components keeps only the cluster min."""
    from sparvi_spark.operators.dedup import connected_components, dedup_near

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 7)], "doc_id int, quality double")
    pairs = spark.createDataFrame(
        [(1, 3), (2, 3), (5, 6)], "id_a int, id_b int")

    comp = {r["node"]: r["comp"] for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}

    greedy = sorted(r["doc_id"] for r in
                    dedup_near(df, pairs, "doc_id").collect())
    assert greedy == [1, 2, 4, 5]          # over-keeps 2
    cc = sorted(r["doc_id"] for r in
                dedup_near(df, pairs, "doc_id",
                           clustering="components").collect())
    assert cc == [1, 4, 5]                 # one survivor per component
    # quality-aware CC: highest quality in each component survives
    cc_q = sorted(r["doc_id"] for r in
                  dedup_near(df, pairs, "doc_id", prefer_col="quality",
                             clustering="components").collect())
    assert cc_q == [3, 4, 6]
    # long chain converges within the iteration bound (pointer jumping)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 40)], "id_a int, id_b int")
    comp = {r["node"]: r["comp"] for r in
            connected_components(chain, max_iters=12).collect()}
    assert set(comp.values()) == {1}


def test_chunk_documents_windows(spark):
    from sparvi_spark.operators.text import chunk_documents

    toks = " ".join(f"t{i}" for i in range(10))  # 10 tokens
    docs = spark.createDataFrame([(1, toks), (2, "short doc")],
                                 "doc_id int, text string")
    out = chunk_documents(docs, chunk_tokens=4, overlap=1)
    got = {(r["doc_id"], r["chunk_idx"]): (r["chunk_text"], r["n_tokens"])
           for r in out.collect()}
    # stride 3, starts 1/4/7 (greatest(10-1,1)=9 caps the last start)
    assert got[(1, 0)] == ("t0 t1 t2 t3", 4)
    assert got[(1, 1)] == ("t3 t4 t5 t6", 4)
    assert got[(1, 2)] == ("t6 t7 t8 t9", 4)
    assert (1, 3) not in got
    # shorter than one chunk -> single chunk with its real token count
    assert got[(2, 0)] == ("short doc", 2)
    with pytest.raises(ValueError):
        chunk_documents(docs, chunk_tokens=4, overlap=4)


def test_mixture_sample_binding_group_kept_whole_and_errors(spark):
    from sparvi_spark.operators.sampling import mixture_sample

    # IEEE-truncation regression: n=6, p=0.35 -> int(n_out*0.35) would be 5
    rows = [(i, "a") for i in range(6)] + [(100 + i, "b") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id int, source string")
    out = mixture_sample(df, "source", "doc_id", {"a": 0.35, "b": 0.65})
    counts = {r["source"]: r["n"] for r in
              out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts["a"] == 6  # the binding group is kept whole

    with pytest.raises(ValueError, match="no rows"):
        mixture_sample(df, "source", "doc_id", {"a": 0.5, "ghost": 0.5})
    with pytest.raises(ValueError, match="positive share"):
        mixture_sample(df, "source", "doc_id", {})


def test_dedup_near_prefer_column(spark, corpus):
    """Quality-aware survivor selection: the HIGHER-quality member of a
    near-dup pair survives, overriding the default smallest-id policy."""
    from sparvi_spark.operators.dedup import dedup_near, jaccard_pairs

    pairs = jaccard_pairs(corpus, "doc_id", "text", n=1, threshold=0.5)
    # default: smallest id survives -> 2, 3, 5 dropped
    assert {r["doc_id"] for r in dedup_near(corpus, pairs, "doc_id").collect()} \
        == {1, 4, 6}
    # prefer longer docs: 5 ("... ok") beats 4; ties (1 vs 2) keep smaller id
    scored = corpus.withColumn("q", F.length("text"))
    kept = {r["doc_id"] for r in
            dedup_near(scored, pairs, "doc_id", prefer_col="q").collect()}
    assert 5 in kept and 4 not in kept
    assert 1 in kept and 2 not in kept  # tie -> smaller id survives
    assert 6 in kept


def test_bloom_members_and_contamination(spark):
    """Broadcast-Bloom screen: (1) every true member passes the filter
    (no false negatives, both hash modes); (2) contamination via bloom is
    a superset of the exact screen and identical when the filter is big
    enough; (3) the candidate-side plan is join-free — the probe is a
    projection after a broadcast of the one-row filter."""
    from sparvi_spark.operators.bloom import (
        bloom_build,
        bloom_filter_members,
        contamination_bloom,
    )
    from sparvi_spark.operators.dedup import contamination

    ref = spark.createDataFrame(
        [(f"tok{i}",) for i in range(200)], "s string")
    probe = spark.createDataFrame(
        [(f"tok{i}",) for i in range(150, 400)], "s string")
    for portable in (False, True):
        bloom = bloom_build(ref, "s", n_bits=1 << 12, k=4, portable=portable)
        kept = {r["s"] for r in bloom_filter_members(
            probe, bloom, "s", n_bits=1 << 12, k=4, portable=portable).collect()}
        assert {f"tok{i}" for i in range(150, 200)} <= kept  # no false negs
        # 4096 bits / 200 keys -> FPR well under 10%
        assert len(kept) - 50 < 25

    docs = spark.createDataFrame(
        [(1, "a", "the quick brown fox jumps over the lazy dog"),
         (2, "b", "the quick brown fox jumps over a sleepy cat"),
         (3, "b", "completely unrelated text about spark plans here"),
         (4, "b", "the quick brown fox jumps over the lazy dog indeed")],
        "doc_id int, source string, text string")
    ref_d = docs.where(F.col("source") == "a")
    cand = docs.where(F.col("source") != "a")
    exact = {r["doc_id"]: r["n_contaminated"] for r in
             contamination(cand, ref_d, "doc_id", "text", n=3).collect()}
    approx = {r["doc_id"]: r["n_contaminated"] for r in
              contamination_bloom(cand, ref_d, "doc_id", "text", n=3,
                                  n_bits=1 << 16, k=4).collect()}
    assert set(exact) == set(approx)
    assert all(approx[d] >= exact[d] for d in exact)
    assert approx == exact  # 65536 bits vs ~40 shingles: no false positives

    plan = contamination_bloom(
        cand, ref_d, "doc_id", "text", n=3)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
    # the only sort-merge/hash joins allowed are none: candidate side is
    # scan -> project -> probe; all Exchanges belong to the filter build
    # and the final per-doc aggregation
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_pq_train_encode_search_recall(spark):
    """Trained product quantization: codes are valid, the coded corpus is
    m ints per vector, and ADC top-10 recalls far more of the exact top-10
    than chance on the sf0.001 embeddings (unit-norm vectors, so exact
    cosine ranking == exact L2 ranking)."""
    from sparvi_spark.operators.similarity import (
        cosine_topk,
        pq_encode,
        pq_topk,
        pq_train,
    )
    from sparvi_spark.testdata import load_table

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    n = emb.count()
    books = pq_train(emb, m=8, k=16, iters=2)
    assert len(books) == 8 and all(len(b) == 16 for b in books)
    codes = pq_encode(emb, books)
    row = codes.first()
    assert len(row["codes"]) == 8
    assert all(0 <= c < 16 for c in row["codes"])

    queries = emb.where(F.col("vec_id") < 10)
    pq = pq_topk(codes, queries, books, k=10).toPandas()
    exact = cosine_topk(emb, queries, k=10).toPandas()
    assert set(pq.columns) == {"query_id", "neighbor_id", "rank", "adc_dist"}
    hits = sum(
        len(set(pq[pq.query_id == q].neighbor_id)
            & set(exact[exact.query_id == q].neighbor_id))
        for q in range(10))
    recall = hits / 100.0
    # chance recall is 10/n; PQ should be an order of magnitude above it
    assert recall > max(0.15, 3 * 10.0 / n), recall


def test_zorder_layout_tightens_file_spans(spark, tmp_path):
    """Z-order clustered write: per-file min/max spans of BOTH interleaved
    columns shrink vs a hash-random layout (i.e. footer-stat pruning works
    for either predicate), and the rewrite preserves the data."""
    from sparvi_spark.sources.layout import (
        file_column_spans,
        write_zordered,
        zorder_key_expr,
    )
    from sparvi_spark.testdata import load_table

    ev = load_table(spark, "events", "/root/testdata/sf0.001")
    zp, rp = str(tmp_path / "z"), str(tmp_path / "r")
    write_zordered(ev, zp, ["user_id", "value"], bits=10, target_files=6)
    ev.repartition(6, "event_id").write.mode("overwrite").parquet(rp)

    assert spark.read.parquet(zp).count() == ev.count()

    def avg_span(path, col):
        sp = file_column_spans(spark, path, [col]).toPandas()
        return float((sp[f"mx_{col}"] - sp[f"mn_{col}"]).mean())

    for col in ("user_id", "value"):
        assert avg_span(zp, col) < 0.85 * avg_span(rp, col), col

    # key fits n_cols*bits bits and is deterministic
    keys = ev.select(zorder_key_expr(ev, ["user_id", "value"], bits=10)
                     .alias("z")).toPandas()["z"]
    assert keys.between(0, (1 << 20) - 1).all()
    with pytest.raises(ValueError, match="exceeds a long"):
        zorder_key_expr(ev, ["user_id", "value"], bits=32)


def test_text_normalization_hand_cases(spark):
    """clean_text: controls stripped, horizontal runs collapsed, spaces
    tidied around newlines, 3+ blank runs squeezed, ends trimmed.
    dedup_lines: first occurrence kept, order preserved."""
    from sparvi_spark.operators.text import clean_text_expr, dedup_lines_expr

    df = spark.createDataFrame(
        [("  hello\t\tworld \n\n\n\n line2  \x07bell \nx\nx\n other ",),
         ("a\nb\na\nc\nb\na",), ("", ), ("one",)],
        "t string")
    rows = df.select(clean_text_expr("t").alias("c"),
                     dedup_lines_expr("t").alias("d")).collect()
    assert rows[0]["c"] == "hello world\n\nline2 bell\nx\nx\nother"
    assert rows[0]["d"] == "  hello\t\tworld \n\n line2  \x07bell \nx\n other "
    assert rows[1]["d"] == "a\nb\nc"
    assert rows[2]["c"] == "" and rows[2]["d"] == ""
    assert rows[3]["c"] == "one" and rows[3]["d"] == "one"


def test_dedup_lines_in_doc_modes_agree_and_scale(spark):
    """dedup_lines_in_doc: the expr branch (every doc under a large
    line_cap), the explode branch (line_cap=0) and the default routing
    produce identical results on mixed docs; the explode path handles a
    10k-line doc (the O(L²) expr path's pathological case) in bounded
    time, matching a Python first-occurrence reference."""
    import random
    import time

    from sparvi_spark.operators.text import dedup_lines_in_doc

    rng = random.Random(11)
    small_docs = []
    for i in range(20):
        lines = [f"line {rng.randint(0, 12)}" for _ in range(rng.randint(0, 40))]
        small_docs.append((i, "\n".join(lines)))
    small_docs.append((98, None))
    small_docs.append((99, ""))
    df = spark.createDataFrame(small_docs, "doc_id int, text string")

    def ref(text):
        if text is None:
            return None
        seen, out = set(), []
        for l in text.split("\n"):
            if l not in seen:
                seen.add(l)
                out.append(l)
        return "\n".join(out)

    expected = {i: ref(t) for i, t in small_docs}
    for line_cap in (10**6, 0, 512):
        got = {r["doc_id"]: r["text_dedup"]
               for r in dedup_lines_in_doc(
                   df, "doc_id", "text", line_cap=line_cap).collect()}
        assert got == expected, line_cap

    # pathological doc: 10_000 lines over a 500-line vocabulary
    big = "\n".join(f"boiler {rng.randint(0, 500)}" for _ in range(10_000))
    bdf = spark.createDataFrame([(1, big), (2, "a\nb\na")],
                                "doc_id int, text string")
    t0 = time.time()
    got = {r["doc_id"]: r["text_dedup"]
           for r in dedup_lines_in_doc(bdf, "doc_id", "text").collect()}
    wall = time.time() - t0
    assert got == {1: ref(big), 2: "a\nb"}
    assert wall < 60, f"auto routing failed to keep 10k-line doc linear: {wall}s"


def test_pca_train_project_and_normalize(spark):
    """Distributed PCA: gram/mean/covariance match numpy exactly, the
    top-k eigenvectors match numpy's (sign-fixed), the map-only projection
    reproduces (X-mean)W^T to float precision, and l2_normalize yields
    unit norms."""
    import numpy as np

    from sparvi_spark.operators.vectors import (
        l2_normalize_expr,
        pca_project,
        pca_train,
    )
    from sparvi_spark.testdata import load_table

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    rows = sorted(emb.select("vec_id", "embedding").collect(),
                  key=lambda r: r["vec_id"])
    X = np.array([r["embedding"] for r in rows], dtype="float64")

    mean, comps = pca_train(emb, k=4)
    vals, vecs = np.linalg.eigh(np.cov(X.T, bias=True))
    for j, oj in enumerate(np.argsort(vals)[::-1][:4]):
        v = vecs[:, oj]
        if abs(v.min()) > abs(v.max()):
            v = -v
        assert np.abs(np.array(comps[j]) - v).max() < 1e-8

    P = np.array(pca_project(emb, mean, comps).toPandas()
                 .sort_values("vec_id")["pca"].tolist())
    ref = (X - np.array(mean)) @ np.array(comps).T
    assert np.abs(P - ref).max() < 1e-12

    norms = (emb.select(l2_normalize_expr("embedding").alias("nv"))
             .selectExpr("aggregate(zip_with(nv, nv, (x, y) -> x * y), "
                         "cast(0 as double), (a, v) -> a + v) as n2")
             .toPandas())
    assert np.abs(norms["n2"] - 1.0).max() < 1e-9


def test_ivfpq_index_recall_and_shape(spark):
    """Composed IVF-PQ index: training produces nlist centroids and m
    codebooks; the encoded corpus is (vec_id, cell, codes) from map-only
    projections; nprobe search recalls far more of the exact top-10 than
    chance while scanning only nprobe/nlist of the coded corpus."""
    from pyspark.sql import functions as F2

    from sparvi_spark.operators.similarity import (
        cosine_topk,
        ivfpq_encode,
        ivfpq_topk,
        ivfpq_train,
    )
    from sparvi_spark.testdata import load_table

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.01")
    n = emb.count()
    cents, books = ivfpq_train(emb, nlist=8, m=8, k=16, iters=2)
    assert len(cents) == 8 and len(books) == 8 and len(books[0]) == 16

    idx = ivfpq_encode(emb, cents, books)
    row = idx.first()
    assert 0 <= row["cell"] < 8 and len(row["codes"]) == 8
    assert idx.count() == n

    queries = emb.where(F2.col("vec_id") < 20)
    got = ivfpq_topk(idx, queries, cents, books, k=10, nprobe=3).toPandas()
    exact = cosine_topk(emb, queries, k=10).toPandas()
    assert set(got.columns) == {"query_id", "neighbor_id", "rank",
                                "adc_dist"}
    hits = sum(
        len(set(got[got.query_id == q].neighbor_id)
            & set(exact[exact.query_id == q].neighbor_id))
        for q in range(20))
    recall = hits / 200.0
    assert recall > max(0.12, 3 * 10.0 / n), recall


def test_review_fixes_null_and_string_id_paths(spark):
    """Regression pins for review findings: (1) NULL text FAILS the
    quality gate (coalesced flags, not NULL-propagated keep=true);
    (2) components-clustering near-dedup works on STRING doc ids with
    prefer_col (no arithmetic negation of the id); (3) the HLL sketch
    ignores NULLs like COUNT(DISTINCT); (4) streaming-dedup's content key
    distinguishes different null patterns."""
    from sparvi_spark.operators.dedup import dedup_near
    from sparvi_spark.operators.incremental import (
        partition_distinct_sketch,
        sketch_distinct,
    )
    from sparvi_spark.operators.text import quality_filter

    docs = spark.createDataFrame(
        [(1, None), (2, "the quick brown fox jumps over a lazy dog and "
                        "then keeps running through the field all day")],
        "doc_id int, text string")
    flags = {r["doc_id"]: r for r in
             quality_filter(docs, "text", "doc_id", min_words=5).collect()}
    assert flags[1]["keep"] is False and flags[1]["n_failed"] == 7
    assert flags[2]["n_failed"] < 7

    corp = spark.createDataFrame(
        [("a", "x y z", 1.0), ("b", "x y z", 9.0), ("c", "x y z", 5.0)],
        "doc_id string, text string, q double")
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "id_a string, id_b string")
    kept = {r["doc_id"] for r in dedup_near(
        corp, pairs, "doc_id", prefer_col="q",
        clustering="components").collect()}
    assert kept == {"b"}  # one survivor per component, highest quality

    vals = spark.createDataFrame(
        [("p", None), ("p", None), ("p", 1.0), ("p", 2.0)],
        "part string, v double")
    est = sketch_distinct(
        partition_distinct_sketch(vals, "part", ["v"])).collect()
    assert est[0]["distinct_est"] == 2  # nulls not counted

    from sparvi_spark.streaming.dedup import streaming_dedup_exact  # noqa: F401
    from pyspark.sql import functions as F2

    two = spark.createDataFrame(
        [("x", None), (None, "x")], "a string, b string")
    keys = two.select(F2.xxhash64(
        F2.coalesce(F2.col("a").cast("string"), F2.lit("<<NULL>>")),
        F2.coalesce(F2.col("b").cast("string"), F2.lit("<<NULL>>")))
        .alias("k")).collect()
    assert keys[0]["k"] != keys[1]["k"]


def test_redact_pii_rewrites_and_counts(spark):
    from sparvi_spark.operators.text import redact_pii

    rows = [
        (1, "mail me at bob@example.com or visit https://x.org/a"),
        (2, "server 192.168.0.1 call +1 (555) 123-4567"),
        (3, "nothing sensitive here"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r for r in redact_pii(df, "text").collect()}
    assert out[1]["text_redacted"] == "mail me at <email> or visit <url>"
    assert out[1]["n_redactions"] == 2
    assert out[2]["text_redacted"] == "server <ipv4> call <phone>"
    assert out[2]["n_redactions"] == 2
    assert out[3]["text_redacted"] == "nothing sensitive here"
    assert out[3]["n_redactions"] == 0
    assert out[4]["text_redacted"] is None and out[4]["n_redactions"] == 0


def test_minhash_cross_finds_planted_near_dups(spark):
    """Cross-corpus near-dup pairs: planted lightly-edited copies of ref
    docs are flagged; unrelated docs are not; no within-corpus pairs."""
    from sparvi_spark.operators.dedup import minhash_lsh_pairs_cross

    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep dark forest tonight")
    ref = spark.createDataFrame(
        [(100, base), (101, "completely different reference content here "
                            "about cooking pasta with fresh tomatoes")],
        "doc_id long, text string")
    cand = spark.createDataFrame(
        [(1, base.replace("tonight", "today")),      # near-dup of 100
         (2, base),                                   # exact dup of 100
         (3, "unrelated candidate text about orbital mechanics and "
             "satellite telemetry downlink budgets")],
        "doc_id long, text string")
    pairs = minhash_lsh_pairs_cross(cand, ref, "doc_id", "text",
                                    n=2, num_hashes=32, bands=16,
                                    threshold=0.6)
    got = {(r["id"], r["ref_id"]): r["jaccard"] for r in pairs.collect()}
    assert (2, 100) in got and got[(2, 100)] == 1.0
    assert (1, 100) in got and got[(1, 100)] >= 0.6
    assert all(i != 3 for i, _ in got)
    # decontamination shape: anti-join drops the flagged candidates
    kept = cand.join(pairs.select("id").distinct(),
                     cand["doc_id"] == F.col("id"), "left_anti")
    assert sorted(r["doc_id"] for r in kept.collect()) == [3]


def test_sig_pairs_intake_lane_single_store_scan(spark, tmp_path):
    """The small_side="new" intake lane (r12): identical pairs to the
    planner-choice lane on the same inputs, while the stored side is
    scanned exactly ONCE — its band rows carry the signature through
    the join, so verification needs no second O(state) pass."""
    from pyspark.sql import functions as F

    from sparvi_spark.operators.dedup import (band_hashes_expr,
                                              minhash_pairs_from_sigs)

    (spark.range(40).selectExpr("cast(id as string) as id")
     .selectExpr("id", "transform(sequence(1, 32), "
                 "i -> xxhash64(id, i)) as sig")
     .write.parquet(str(tmp_path / "new")))
    (spark.range(200).selectExpr("cast(id + 20 as string) as ref_id")
     .selectExpr("ref_id", "transform(sequence(1, 32), "
                 "i -> xxhash64(ref_id, i)) as sig")
     .withColumn("band_hashes",
                 F.expr(band_hashes_expr("xxhash64", 32, 8)))
     .write.parquet(str(tmp_path / "ref")))
    new = spark.read.parquet(str(tmp_path / "new"))
    ref = spark.read.parquet(str(tmp_path / "ref"))
    kw = dict(num_hashes=32, bands=8, threshold=0.5, hash_fn="xxhash64",
              ref_bands_col="band_hashes")
    intake = minhash_pairs_from_sigs(new, ref, small_side="new", **kw)
    default = minhash_pairs_from_sigs(new, ref, **kw)
    got = sorted(map(tuple, intake.collect()))
    assert got == sorted(map(tuple, default.collect()))
    # ids 20..39 share the ref construction -> 20 exact-signature pairs
    assert len(got) == 20 and all(r[2] == 1.0 for r in got)
    # the FINAL adaptive plan scans the store exactly once (no verify
    # re-scan) and never shuffles it
    plan = intake._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    ref_scans = [ln for ln in final.splitlines()
                 if "FileScan parquet" in ln and "/ref" in ln]
    assert len(ref_scans) == 1, final
    assert "SortMergeJoin" not in final, final


def test_temperature_sampling(spark):
    """tau=1 keeps everything; tau=0 equalizes to the smallest group;
    intermediate tau raises the tail's share, all deterministically."""
    from sparvi_spark.operators.sampling import (
        temperature_proportions,
        temperature_sample,
    )

    rows = [("big", i) for i in range(80)] + [("small", 1000 + i)
                                             for i in range(20)]
    df = spark.createDataFrame(rows, "grp string, id long")

    assert temperature_sample(df, "grp", "id", 1.0).count() == 100

    t0 = temperature_sample(df, "grp", "id", 0.0)
    by = {r[0]: r[1] for r in t0.groupBy("grp").count().collect()}
    assert by == {"big": 20, "small": 20}

    p = temperature_proportions({"big": 80, "small": 20}, 0.5)
    assert 0.2 < p["small"] < 0.5 and abs(sum(p.values()) - 1.0) < 1e-12
    mid = temperature_sample(df, "grp", "id", 0.5)
    m = {r[0]: r[1] for r in mid.groupBy("grp").count().collect()}
    assert m["small"] / (m["small"] + m["big"]) > 0.2  # tail share raised

    # determinism across invocations
    a = sorted(r["id"] for r in mid.collect())
    b = sorted(r["id"] for r in
               temperature_sample(df, "grp", "id", 0.5).collect())
    assert a == b

    with pytest.raises(ValueError):
        temperature_proportions({"g": 5}, -1.0)


def test_pack_sequences_binpack_next_fit_decreasing(spark):
    """No-split packing: every doc lands whole in one bin, bins never
    exceed ctx_len, placement replays a hand-run next-fit-decreasing,
    oversized docs truncate-and-flag, and the assignment is deterministic
    (mergesort on a total order)."""
    from sparvi_spark.operators.text import (
        binpack_summary, pack_sequences_binpack)

    # one shard (n_shards=1): lengths 7,6,5,3,2 -> NFD at ctx 9:
    # [7]->bin0 fill7; 6 overflows -> bin1 fill6; 5 overflows -> bin2
    # fill5; 3 fits bin2 fill8; 2 overflows -> bin3 fill2. Plus a
    # 12-token doc truncated to 9 -> sorts FIRST, its own bin, and an
    # empty-text doc — 1 token under the whitespace tokenizer (split('')
    # = [''] in BOTH engines, the e09 oracle convention) — lands last.
    rows = [(1, "a " * 7), (2, "b " * 6), (3, "c " * 5), (4, "d " * 3),
            (5, "e " * 2), (6, "f " * 12), (7, "")]
    df = spark.createDataFrame([(i, t.strip()) for i, t in rows],
                               "doc_id long, text string")
    packed = pack_sequences_binpack(df, ctx_len=9, n_shards=1)
    got = {r.doc_id: (r.n_tokens, r.truncated, r.pack_idx, r.pack_fill)
           for r in packed.collect()}
    assert got == {6: (9, True, 0, 9), 1: (7, False, 1, 7),
                   2: (6, False, 2, 6), 3: (5, False, 3, 5),
                   4: (3, False, 3, 8), 5: (2, False, 4, 2),
                   7: (1, False, 4, 3)}
    summ = {r.pack_idx: (r.n_docs, r.n_tokens) for r in
            binpack_summary(packed, 9).collect()}
    assert summ == {0: (1, 9), 1: (1, 7), 2: (1, 6), 3: (2, 8), 4: (2, 3)}
    # bins never exceed ctx at any shard count, and runs are deterministic
    p3 = pack_sequences_binpack(df, ctx_len=9, n_shards=3)
    assert p3.where("pack_fill > 9").count() == 0
    assert sorted(map(tuple, p3.collect())) == sorted(
        map(tuple, pack_sequences_binpack(df, 9, n_shards=3).collect()))


def test_pack_sequences_concat_and_chop(spark):
    """Packing lays tokens out in doc_id order and cuts every ctx_len:
    segments tile each document, packs are exactly full except the last,
    and a straddling document splits with correct offsets."""
    from pyspark.sql import functions as F

    from sparvi_spark.operators.text import pack_sequences, pack_summary

    rows = [(1, "a " * 5), (2, "b " * 7), (3, "c " * 3), (4, "")]
    df = spark.createDataFrame([(i, t.strip()) for i, t in rows],
                               "doc_id long, text string")
    packed = pack_sequences(df, ctx_len=8).orderBy("doc_id", "seg_idx")
    got = [(r.doc_id, r.pack_id, r.seg_idx, r.seg_start, r.seg_tokens)
           for r in packed.collect()]
    # layout: doc1 tokens 0-4 (pack 0), doc2 tokens 5-11 (packs 0+1),
    # doc3 tokens 12-14 (pack 1); doc4 is empty -> "" tokenizes to one
    # empty token under split semantics, so it occupies one slot (pack 1)
    assert got == [
        (1, 0, 0, 0, 5),
        (2, 0, 0, 0, 3), (2, 1, 1, 3, 4),
        (3, 1, 0, 0, 3),
        (4, 1, 0, 0, 1),
    ]
    summ = {(r.pack_id): (r.n_docs, r.n_tokens, r.fill_ratio)
            for r in pack_summary(packed, 8).collect()}
    assert summ[0] == (2, 8, 1.0)       # full pack (doc1 + doc2 head)
    assert summ[1] == (3, 8, 1.0)       # doc2 tail + doc3 + doc4

    # shard-local: identical docs in two shards pack independently
    sharded = df.withColumn("sh", F.pmod(F.col("doc_id"), F.lit(2)))
    p2 = pack_sequences(sharded, ctx_len=8, shard_col="sh")
    per_shard = {(r.shard, r.doc_id, r.pack_id) for r in p2.collect()}
    # shard 1 holds docs 1,3 (5+3 tokens = one pack 0)
    assert (1, 1, 0) in per_shard and (1, 3, 0) in per_shard
    # shard 0 holds docs 2,4: doc2 7 tokens pack 0, doc4 token -> pack 0
    assert (0, 2, 0) in per_shard and (0, 4, 0) in per_shard


def test_numeric_drift_matches_numpy(spark):
    """tvd/chi2/psi against a straight numpy implementation of the same
    smoothed-histogram formulas, plus the clamp and no-drift behaviors."""
    import math
    import random

    import numpy as np

    from sparvi_spark.operators.drift import numeric_drift

    rng = random.Random(7)
    base = [rng.gauss(50, 10) for _ in range(500)]
    shifted = [v + 15 for v in base]  # mean shift: every metric must fire
    e = spark.createDataFrame([(v,) for v in base], "x double")
    a = spark.createDataFrame([(v,) for v in shifted], "x double")

    row = numeric_drift(e, a, ["x"], bins=10).collect()[0]
    assert row["n_expected"] == 500 and row["n_actual"] == 500

    bins = 10
    mn, mx = min(base), max(base)
    def hist(vals):
        h = np.zeros(bins)
        for v in vals:
            b = int(min(max(math.floor((v - mn) / (mx - mn) * bins), 0),
                        bins - 1))
            h[b] += 1
        return (h + 0.5) / (len(vals) + 0.5 * bins)
    pe, pa = hist(base), hist(shifted)
    assert abs(row["tvd"] - 0.5 * np.abs(pa - pe).sum()) < 1e-6
    assert abs(row["chi2"] - (((pa - pe) ** 2) / pe).sum()) < 1e-6
    assert abs(row["psi"] - ((pa - pe) * np.log(pa / pe)).sum()) < 1e-6
    assert row["tvd"] > 0.3 and row["psi"] > 0.2  # major shift flagged

    # identical snapshots: all three metrics are exactly zero
    same = numeric_drift(e, e, ["x"], bins=10).collect()[0]
    assert same["tvd"] == 0.0 and same["chi2"] == 0.0 and same["psi"] == 0.0


def test_categorical_drift_full_outer_categories(spark):
    from sparvi_spark.operators.drift import categorical_drift

    e = spark.createDataFrame(
        [("a",)] * 6 + [("b",)] * 3 + [(None,)], "c string")
    a = spark.createDataFrame(
        [("a",)] * 2 + [("b",)] * 6 + [("new",)] * 2, "c string")
    rows = {r["category"]: r for r in categorical_drift(e, a, "c").collect()}
    assert set(rows) == {"a", "b", "new", "<<NULL>>"}
    assert rows["new"]["p_expected"] == 0.0 and rows["new"]["p_actual"] == 0.2
    assert rows["<<NULL>>"]["p_actual"] == 0.0
    assert abs(rows["a"]["delta"] - (0.2 - 0.6)) < 1e-9
    # ordered by |delta| desc
    ordered = [r["category"] for r in categorical_drift(e, a, "c").collect()]
    assert ordered[0] == "a"


def test_shard_export_roundtrip_and_determinism(spark, tmp_path):
    """Sharded export: every row lands in exactly one shard dir, shard
    assignment is partitioning-invariant, re-export is row-identical, and
    the manifest matches the plan."""
    from sparvi_spark.sources.export import export_shards, shard_plan

    df = spark.range(0, 500).selectExpr(
        "id AS doc_id", "concat('t', id) AS text")
    plan = {r["shard"]: r["n_rows"]
            for r in shard_plan(df, "doc_id", 8).collect()}
    assert sum(plan.values()) == 500 and set(plan) <= set(range(8))
    assert max(plan.values()) < 3 * 500 / 8  # hash balance, no mega-shard

    out = str(tmp_path / "shards")
    manifest = {r["shard"]: r["n_rows"]
                for r in export_shards(df, out, "doc_id", 8).collect()}
    assert manifest == plan

    back = spark.read.parquet(out)
    assert back.count() == 500
    assert back.select("doc_id").distinct().count() == 500

    # determinism: different input partitioning, identical shard contents
    out2 = str(tmp_path / "shards2")
    export_shards(df.repartition(13), out2, "doc_id", 8)
    a = spark.read.parquet(out).select("shard", "doc_id", "text")
    b = spark.read.parquet(out2).select("shard", "doc_id", "text")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    # portable method matches the oracle-side affine arithmetic
    from sparvi_spark.operators.sampling import HASH_A, HASH_B, HASH_M
    rows = shard_plan(df, "doc_id", 4, method="portable").collect()
    import collections
    expect = collections.Counter(
        ((i * HASH_A + HASH_B) % HASH_M) % 4 for i in range(500))
    assert {r["shard"]: r["n_rows"] for r in rows} == dict(expect)


def test_linear_classifier_scores_match_python(spark):
    """The hashed linear scorer equals a pure-Python replay of the same
    quantized arithmetic, and the sign/label behaviors hold."""
    from sparvi_spark.operators.classify import (
        WEIGHT_SCALE,
        linear_scores,
        quantize_weights,
    )
    from sparvi_spark.operators.dedup import PORTABLE_P

    dim = 64
    weights = [(((j + 1) * 2654435761) % 1000003) / 1000003 - 0.5
               for j in range(dim)]
    qw = quantize_weights(weights)

    rows = [(1, "good clean text here"), (2, "Spam SPAM buy now"),
            (3, ""), (4, "one")]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r["doc_id"]: r for r in
           linear_scores(docs, weights, bias=0.1).collect()}

    def tok_hash(t):
        acc = 0
        for ch in t:
            acc = (acc * 131 + ord(ch)) % PORTABLE_P
        return acc

    import re
    for doc_id, text in rows:
        toks = re.split(r"\s+", text.strip().lower())
        s = sum(qw[tok_hash(t) % dim] for t in toks)
        margin = (0.1 + s / float(WEIGHT_SCALE)) / len(toks)
        r = got[doc_id]
        assert r["n_tokens"] == len(toks), (doc_id, toks)
        assert abs(r["margin"] - round(margin, 9)) < 1e-12, doc_id
        assert r["label"] == (margin > 0), doc_id

    probs = docs.select("doc_id").join(
        linear_scores(docs, weights, bias=0.1), "doc_id").select(
        "doc_id", F.expr("1.0d / (1.0d + exp(-margin))").alias("p")).collect()
    assert all(0.0 < r["p"] < 1.0 for r in probs)


def test_bigram_lm_scores_hand_computed(spark):
    """Self-scored bigram LM equals a pure-Python replay of the smoothed
    transition math, and the gibberish doc ranks at the bottom."""
    import re
    from collections import Counter

    from sparvi_spark.operators.lm import self_lm_score

    rows = [(1, "the cat sat on the mat"),
            (2, "the cat sat on the rug"),
            (3, "zx qv pk wq"),  # transitions seen nowhere else
            (4, "one"),          # single token: no bigrams, excluded
            (5, "the cat sat on the mat"),
            (6, "the cat sat on the mat")]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r["doc_id"]: r for r in self_lm_score(docs).collect()}
    assert set(got) == {1, 2, 3, 5, 6}

    tok = lambda t: re.split(r"\s+", t.strip().lower())  # noqa: E731
    bgs, ctx, vocab = Counter(), Counter(), set()
    for _i, t in rows:
        ts = tok(t)
        vocab.update(ts)
        for a, b in zip(ts, ts[1:]):
            bgs[(a, b)] += 1
            ctx[a] += 1
    V = len(vocab)
    for doc_id, t in rows[:3]:
        ts = tok(t)
        ps = [(bgs[(a, b)] + 0.5) / (ctx[a] + 0.5 * V)
              for a, b in zip(ts, ts[1:])]
        r = got[doc_id]
        assert r["n_bigrams"] == len(ps)
        assert abs(r["avg_p"] - round(sum(round(p, 15) for p in ps)
                                      / len(ps), 9)) < 1e-12, doc_id
    # common-transition docs outrank the gibberish doc
    assert got[1]["avg_p"] > got[3]["avg_p"]
    assert got[2]["avg_p"] > got[3]["avg_p"]


def test_mad_detector_catches_masked_spike(spark):
    """Median/MAD robustness: one extreme spike inflates mean/std enough
    to hide a second moderate spike from the z-score; MAD flags both."""
    from sparvi_spark.operators.anomalies import mad_anomalies, zscore_anomalies

    vals = [100.0 + (i % 3) for i in range(30)]
    vals[10] = 10000.0  # extreme spike
    vals[20] = 160.0    # moderate spike, masked for the z-score
    rows = [("m", f"2026-01-{i + 1:02d}", v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "metric_name string, ts string, value double")

    z = {r["ts"]: r["is_anomaly"]
         for r in zscore_anomalies(df, ["metric_name"]).collect()}
    m = {r["ts"]: r["is_anomaly"]
         for r in mad_anomalies(df, ["metric_name"]).collect()}
    assert z["2026-01-11"] and m["2026-01-11"]     # both see the big one
    assert not z["2026-01-21"] and m["2026-01-21"]  # only MAD sees the masked one
    assert not any(m[f"2026-01-{i + 1:02d}"] for i in range(30)
                   if i not in (10, 20))  # no false positives

    # degenerate: constant series -> mad 0 -> all scores 0
    const = spark.createDataFrame(
        [("c", str(i), 5.0) for i in range(6)],
        "metric_name string, ts string, value double")
    out = mad_anomalies(const, ["metric_name"]).collect()
    assert all(r["score"] == 0.0 and not r["is_anomaly"] for r in out)


def test_eval_split_and_leakage_safety(spark):
    """Deterministic eval splits: fractions hold approximately, assignment
    is partitioning-invariant, and the leakage-safe variant puts planted
    near-duplicates on the SAME side while a plain id-split does not
    (checked over many id rotations to avoid a lucky-hash pass)."""
    from sparvi_spark.sources.export import eval_split_expr, leakage_safe_split

    df = spark.range(0, 2000).selectExpr("id AS doc_id")
    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    counts = {r["split"]: r["c"] for r in
              df.select(eval_split_expr("doc_id", fr))
              .groupBy("split").agg(F.count("*").alias("c")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert 0.74 < counts["train"] / 2000 < 0.86
    # deterministic across partitionings
    a = {r["doc_id"]: r["split"] for r in
         df.select("doc_id", eval_split_expr("doc_id", fr)).collect()}
    b = {r["doc_id"]: r["split"] for r in
         df.repartition(7).select("doc_id",
                                  eval_split_expr("doc_id", fr)).collect()}
    assert a == b

    # bad fractions rejected
    with pytest.raises(ValueError):
        eval_split_expr("doc_id", {"train": 0.5, "val": 0.1})

    # planted near-dup pairs: same text modulo one word, ids far apart so
    # a plain per-id split frequently separates them
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    rows = []
    for g in range(20):
        rows.append((g, base + f" group{g} one"))
        rows.append((1000 + 7 * g, base + f" group{g} two"))
    for j in range(40):  # unrelated filler
        rows.append((5000 + j, f"totally different filler text number {j} "
                     "with its own words and nothing shared"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fr2 = {"train": 0.5, "test": 0.5}
    safe = {r["doc_id"]: r["split"] for r in
            leakage_safe_split(docs, fr2, n=1, threshold=0.5).collect()}
    assert len(safe) == len(rows)
    for g in range(20):
        assert safe[g] == safe[1000 + 7 * g], f"pair {g} straddles splits"
    # and the split is not degenerate
    assert len(set(safe.values())) == 2


def test_bpe_train_encode_roundtrip(spark):
    from sparvi_spark.operators.tokenize import (
        END_OF_WORD, bpe_encode, train_bpe)

    texts = [
        "the cat sat on the mat",
        "the cat ate the rat",
        "low lower lowest slow slower",
        "the low cat sat",
    ] * 3
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string")

    model = train_bpe(df, num_merges=20, text_col="text")
    assert len(model["merges"]) == 20
    # frequent whole words should have merged into single tokens
    assert "the" + END_OF_WORD in model["vocab"]
    # determinism: retrain gives identical merges and vocab
    model2 = train_bpe(df, num_merges=20, text_col="text")
    assert model2 == model

    enc = bpe_encode(df, model).orderBy("doc_id").collect()
    assert len(enc) == len(texts)
    inv = {i: s for s, i in model["vocab"].items()}
    for r in enc:
        assert r["n_tokens"] == len(r["token_ids"])
        assert all(t != 0 for t in r["token_ids"])  # no unks: closed corpus
        # decode: concatenate symbols, split at end-of-word markers
        decoded = "".join(inv[t] for t in r["token_ids"])
        words = [w for w in decoded.split(END_OF_WORD) if w]
        assert words == texts[r["doc_id"]].split()
    # unknown characters at encode time -> unk_id, never a crash
    odd = spark.createDataFrame([(0, "zzz éé")],
                                "doc_id int, text string")
    out = bpe_encode(odd, model, unk_id=0).collect()[0]
    assert out["n_tokens"] >= 2 and 0 in out["token_ids"]


def test_bpe_merge_order_matches_reference_greedy(spark):
    # hand-check: corpus where pair frequencies force a known merge order
    from sparvi_spark.operators.tokenize import train_bpe

    df = spark.createDataFrame(
        [(0, "aaab aaab aaab ab")], "doc_id int, text string")
    model = train_bpe(df, num_merges=2, text_col="text")
    # 'aa' appears 2x per 'aaab' (overlap counted once per adjacent pos:
    # positions (a,a),(a,a) -> 2) * 3 words = 6; 'ab' appears 4x; so the
    # first merge is ('a','a'); after it, words are (aa,ab)... next best
    # is ('a','b') with count 4.
    assert model["merges"][0] == ("a", "a")
    assert model["merges"][1] == ("a", "b")


# ---------------------------------------------------------------------------
# SemDeDup (dedup.semantic_dedup)
# ---------------------------------------------------------------------------

def _semdedup_fixture(spark):
    # three tight groups around distinct anchors + two isolated points;
    # vectors normalized so cosine is the inner product
    import numpy as np

    rng = np.random.default_rng(7)
    anchors = rng.normal(size=(3, 8))
    rows = []
    vid = 0
    for g, a in enumerate(anchors):
        for _ in range(4):  # 4 near-identical members per group
            v = a + rng.normal(scale=0.01, size=8)
            rows.append((vid, g, [float(x) for x in v / np.linalg.norm(v)]))
            vid += 1
    for _ in range(2):  # isolated points
        v = rng.normal(size=8)
        rows.append((vid, -1, [float(x) for x in v / np.linalg.norm(v)]))
        vid += 1
    return rows, spark.createDataFrame(
        rows, "vec_id int, grp int, embedding array<float>")


def test_semantic_dedup_matches_numpy_reference(spark):
    import numpy as np

    from sparvi_spark.operators.dedup import semantic_dedup

    rows, df = _semdedup_fixture(spark)
    kept = semantic_dedup(df, "vec_id", "embedding",
                          threshold=0.98, k=4, sample_size=1000)
    kept_ids = sorted(r["vec_id"] for r in kept.collect())
    # numpy reference with the SAME policy: brute pairs >= .98 (spark-side
    # clustering only PARTITIONS the pair search; every true near-dup pair
    # sits in one tight cluster so no pair is lost), greedy keep-smallest
    x = np.array([r[2] for r in rows], dtype="float64")
    x = x / np.linalg.norm(x, axis=1, keepdims=True)
    sim = x @ x.T
    dups = {j for i in range(len(rows)) for j in range(i + 1, len(rows))
            if sim[i, j] >= 0.98}
    expect = sorted(set(range(len(rows))) - dups)
    assert kept_ids == expect
    # each 4-member group collapsed to its smallest id; isolated survive
    assert kept_ids == [0, 4, 8, 12, 13]
    assert set(kept.columns) == {"vec_id", "grp", "embedding"}


def test_semantic_dedup_gram_backend_matches_fold(spark):
    """pair_backend="gram" (per-cluster numpy Gram blocks, the scale
    path) returns the same pair set and survivors as the fold-expression
    join on data whose cosines sit far from the threshold (the backends
    may differ in the last ULP, never more). Also exercises the blocked
    path (block=2048 internally; here every cluster is one block) and
    NULL-vector drop parity."""
    from pyspark.sql import functions as F

    from sparvi_spark.operators.dedup import (
        embedding_neardup_pairs, semantic_dedup)

    rows, df = _semdedup_fixture(spark)
    df = df.unionByName(spark.createDataFrame(
        [(99, 0, None)], df.schema))  # NULL vector must drop in both
    # ids 4g..4g+3 are group g's members -> //4 keeps each group together
    assigned = df.withColumn(
        "__b", F.floor(F.col("vec_id") / 4).cast("int"))
    fold = {(r["id_a"], r["id_b"]) for r in embedding_neardup_pairs(
        assigned, "vec_id", "embedding", threshold=0.98,
        bucket_col="__b").collect()}
    gram = {(r["id_a"], r["id_b"]) for r in embedding_neardup_pairs(
        assigned, "vec_id", "embedding", threshold=0.98,
        bucket_col="__b", pair_backend="gram").collect()}
    assert gram == fold and fold  # same non-empty pair set
    kept_f = sorted(r["vec_id"] for r in semantic_dedup(
        df, "vec_id", "embedding", threshold=0.98, k=4,
        sample_size=1000).collect())
    kept_g = sorted(r["vec_id"] for r in semantic_dedup(
        df, "vec_id", "embedding", threshold=0.98, k=4,
        sample_size=1000, pair_backend="gram").collect())
    assert kept_g == kept_f


def test_gram_pairs_null_bucket_and_duplicate_id_contracts(spark):
    """Two contracts the gram backend must share with the fold path:
    (1) NULL buckets match NOTHING (the fold's ba == bb join semantics)
    instead of pooling into one applyInPandas group; (2) rows that share
    a duplicate id value never emit an (x, x) self-pair — the fold's
    id_a < id_b predicate is strict on VALUES, while an index-based
    triangle would pair distinct rows with equal ids."""
    from sparvi_spark.operators.dedup import embedding_neardup_pairs

    e = [1.0, 0.0, 0.0]
    # ids 0/1 near-identical but in NULL buckets; ids 2/2 duplicates in
    # bucket 7; id 3 alone in bucket 8
    df = spark.createDataFrame(
        [(0, e, None), (1, e, None), (2, e, 7), (2, e, 7), (3, e, 8)],
        "vec_id int, embedding array<float>, b int")
    for backend in ("fold", "gram"):
        pairs = {(r["id_a"], r["id_b"]) for r in embedding_neardup_pairs(
            df, "vec_id", "embedding", threshold=0.9, bucket_col="b",
            pair_backend=backend).collect()}
        assert pairs == set(), backend  # no NULL-bucket or self pairs


def test_similarity_backend_validation_raises(spark):
    """Unknown backend strings raise instead of silently falling through
    to the fold path (a typo like 'Gram' at 100 TB would otherwise run
    the interpreted-expression plan)."""
    from sparvi_spark.operators.similarity import (
        cosine_topk, ivf_topk_trained)

    df = spark.createDataFrame([(0, [1.0, 0.0])],
                               "vec_id int, embedding array<float>")
    with pytest.raises(ValueError, match="backend"):
        cosine_topk(df, df, backend="Gram")
    with pytest.raises(ValueError, match="assign_backend"):
        ivf_topk_trained(df, df, [(0, [1.0, 0.0])], assign_backend="blas")


def test_semantic_dedup_far_from_centroid_keeps_outlier(spark):
    from pyspark.sql import functions as F

    from sparvi_spark.operators.dedup import semantic_dedup

    # one duplicate group where member 2 is FARTHEST from the centroid:
    # far_from_centroid must keep 2, min_id would keep 0
    base = [1.0, 0.0, 0.0, 0.0]
    near = [0.9999, 0.0141, 0.0, 0.0]
    far = [0.999, 0.0447, 0.0, 0.0]
    df = spark.createDataFrame(
        [(0, base), (1, near), (2, far), (9, [0.0, 0.0, 1.0, 0.0])],
        "vec_id int, embedding array<float>")
    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 0.0, 1.0, 0.0]]
    kept = semantic_dedup(df, "vec_id", "embedding", threshold=0.999,
                          centroids=cents, keep="far_from_centroid",
                          clustering="components")
    assert sorted(r["vec_id"] for r in kept.collect()) == [2, 9]
    kept_min = semantic_dedup(df, "vec_id", "embedding", threshold=0.999,
                              centroids=cents, clustering="components")
    assert sorted(r["vec_id"] for r in kept_min.collect()) == [0, 9]


# ---------------------------------------------------------------------------
# Exact duplicate-passage spans (dedup.duplicate_spans)
# ---------------------------------------------------------------------------

def _spans_reference(texts: dict, n: int, min_count: int, scope: str):
    """Driver-side reference: positional n-grams, counts, interval merge."""
    import collections

    grams = collections.defaultdict(list)  # gram -> [(doc, pos)]
    toks = {d: t.lower().split() for d, t in texts.items()}
    for d, tt in toks.items():
        for i in range(len(tt) - n + 1):
            grams[tuple(tt[i:i + n])].append((d, i))
    hot = set()
    for g, occ in grams.items():
        if scope == "corpus" and len(occ) >= min_count:
            hot.add(g)
        if scope == "cross_doc" and len({d for d, _ in occ}) >= 2:
            hot.add(g)
    spans = []
    for d, tt in toks.items():
        marks = sorted(i for i in range(len(tt) - n + 1)
                       if tuple(tt[i:i + n]) in hot)
        cur = None
        for i in marks:
            if cur and i <= cur[1]:
                cur[1] = max(cur[1], i + n)
                cur[2] += 1
            else:
                if cur:
                    spans.append((d, cur[0], cur[1], cur[1] - cur[0], cur[2]))
                cur = [i, i + n, 1]
        if cur:
            spans.append((d, cur[0], cur[1], cur[1] - cur[0], cur[2]))
    return sorted(spans)


def test_duplicate_spans_matches_reference(spark):
    from sparvi_spark.operators.dedup import duplicate_spans

    shared = "the quick brown fox jumps over the lazy dog every single day"
    texts = {
        0: f"alpha beta {shared} gamma delta epsilon zeta eta theta",
        1: f"one two three {shared} four five six seven eight nine ten",
        2: "totally unrelated words that never repeat anywhere at all kept",
        # self-repetition inside one doc (corpus scope catches, cross not)
        3: "x y z repeat me now x y z repeat me now tail words here end",
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id int, text string")
    for scope in ("corpus", "cross_doc"):
        for mode in ("hash", "exact", "arrow"):
            got = sorted(
                (r["doc_id"], r["span_start"], r["span_end"],
                 r["span_tokens"], r["n_windows"])
                for r in duplicate_spans(
                    df, "doc_id", "text", n=5, scope=scope,
                    gram_mode=mode).collect())
            assert got == _spans_reference(texts, 5, 2, scope), (scope, mode)
    # corpus scope found doc 3's self-repeat; cross_doc did not
    corpus_docs = {s[0] for s in _spans_reference(texts, 5, 2, "corpus")}
    cross_docs = {s[0] for s in _spans_reference(texts, 5, 2, "cross_doc")}
    assert 3 in corpus_docs and 3 not in cross_docs


def test_remove_duplicate_spans_rebuilds_text(spark):
    from sparvi_spark.operators.dedup import (
        duplicate_spans, remove_duplicate_spans)

    shared = "a b c d e f g h"
    texts = {0: f"pre1 pre2 {shared} post1 post2",
             1: f"left {shared} right mid end",
             2: "untouched words stay exactly as they are here"}
    df = spark.createDataFrame(list(texts.items()), "doc_id int, text string")
    spans = duplicate_spans(df, "doc_id", "text", n=8)
    out = {r["doc_id"]: (r["text_clean"], r["n_tokens_removed"])
           for r in remove_duplicate_spans(
               df, spans, "doc_id", "text").collect()}
    assert out[0] == ("pre1 pre2 post1 post2", 8)
    assert out[1] == ("left right mid end", 8)
    assert out[2] == ("untouched words stay exactly as they are here", 0)


def test_train_nb_classifier_separates_and_matches_reference(spark):
    """Trainer: weights match a pure-Python recomputation exactly (same
    driver-side math over the same exact counts), and the trained model
    pushed through linear_scores separates held-out docs by vocabulary."""
    import math

    from sparvi_spark.operators.classify import (
        linear_scores, train_nb_classifier)

    good = ["the study presents careful analysis of measured results",
            "we evaluate methods with rigorous experiments and data",
            "analysis of the measured data shows careful methods"]
    bad = ["click here buy now cheap deal wow offer",
           "free prize click now buy cheap wow bonus",
           "cheap deal free bonus prize offer click"]
    df = spark.createDataFrame(
        [(i, t, 1) for i, t in enumerate(good)]
        + [(10 + i, t, 0) for i, t in enumerate(bad)],
        "doc_id int, text string, y int")
    dim, alpha = 64, 1.0
    weights, bias = train_nb_classifier(df, "y", dim=dim, alpha=alpha)
    assert len(weights) == dim and bias == 0.0  # balanced classes

    # pure-Python reference over the same hash
    P = 1_000_000_007
    def th(t):
        acc = 0
        for ch in t:
            acc = (acc * 131 + ord(ch)) % P
        return acc % dim
    cnt = {}
    for t, y in [(t, 1) for t in good] + [(t, 0) for t in bad]:
        for w in t.lower().split():
            b = th(w)
            c = cnt.setdefault(b, [0, 0])
            c[0 if y else 1] += 1
    tp = sum(v[0] for v in cnt.values())
    tn = sum(v[1] for v in cnt.values())
    expect = [
        math.log((cnt.get(b, (0, 0))[0] + alpha) / (tp + alpha * dim))
        - math.log((cnt.get(b, (0, 0))[1] + alpha) / (tn + alpha * dim))
        for b in range(dim)]
    assert weights == expect

    held = spark.createDataFrame(
        [(100, "careful measured experiments data analysis"),
         (101, "buy cheap prize click wow")],
        "doc_id int, text string")
    got = {r["doc_id"]: r["label"]
           for r in linear_scores(held, weights, bias=bias).collect()}
    assert got == {100: True, 101: False}


def test_shard_export_shuffle_seed_epoch_orders(spark, tmp_path):
    """shuffle_seed randomizes within-shard order deterministically:
    same seed re-exports byte-identically, different seeds permute, and
    membership/manifest never change."""
    from sparvi_spark.sources.export import export_shards

    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(200)], "doc_id int, text string")
    p1, p2, p3 = (str(tmp_path / d) for d in ("e1", "e2", "e3"))
    m1 = export_shards(df, p1, "doc_id", 4, shuffle_seed=1).collect()
    m2 = export_shards(df, p2, "doc_id", 4, shuffle_seed=1).collect()
    m3 = export_shards(df, p3, "doc_id", 4, shuffle_seed=2).collect()
    assert [tuple(r) for r in m1] == [tuple(r) for r in m2] \
        == [tuple(r) for r in m3]

    def order(p, shard):
        # parquet row order within the shard dir IS the loader's order
        return [r["doc_id"] for r in
                spark.read.parquet(f"{p}/shard={shard}").collect()]

    assert order(p1, 0) == order(p2, 0)          # same seed -> same order
    assert order(p1, 0) != sorted(order(p1, 0))  # actually shuffled
    assert order(p1, 0) != order(p3, 0)          # seed changes the epoch
    assert sorted(order(p1, 0)) == sorted(order(p3, 0))  # same membership


def test_dedup_lines_corpus_c4_rule(spark):
    """Corpus-wide line dedup: a line repeated >= min_count times across
    the corpus vanishes from EVERY doc (including its first occurrence —
    the C4 rule), rarer lines survive, order is preserved, and hash mode
    equals exact mode."""
    from sparvi_spark.operators.text import dedup_lines_corpus

    boiler = "accept our cookies to continue"
    texts = {
        0: f"{boiler}\nunique alpha content\nshared twice line",
        1: f"intro beta words\n{boiler}\nmore beta text",
        2: f"{boiler}\nshared twice line\ngamma closing remark",
        3: "entirely unrelated document with no repeats at all",
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id int, text string")
    for mode in ("hash", "exact"):
        out = {r["doc_id"]: (r["text_clean"], r["n_lines_removed"])
               for r in dedup_lines_corpus(
                   df, "doc_id", "text", min_count=3,
                   hash_mode=mode).collect()}
        # boiler occurs 3x -> dropped everywhere; "shared twice line"
        # occurs 2x -> kept
        assert out[0] == ("unique alpha content\nshared twice line", 1), mode
        assert out[1] == ("intro beta words\nmore beta text", 1), mode
        assert out[2] == ("shared twice line\ngamma closing remark", 1), mode
        assert out[3] == (texts[3], 0), mode
    # min_count=2 also removes the twice-shared line
    out2 = {r["doc_id"]: r["text_clean"]
            for r in dedup_lines_corpus(df, "doc_id", "text",
                                        min_count=2).collect()}
    assert out2[0] == "unique alpha content"
    assert out2[2] == "gamma closing remark"


def test_corpus_diff_statuses(spark):
    from sparvi_spark.operators.corpus import corpus_diff

    old = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma"), (4, None), (5, "eps")],
        "doc_id int, text string")
    new = spark.createDataFrame(
        [(2, "beta"),            # unchanged
         (3, "gamma edited"),    # modified
         (4, ""),                # NULL -> '' counts as modified
         (5, None),              # '' ... -> NULL also modified
         (6, "zeta")],           # added
        "doc_id int, text string")
    got = {r["doc_id"]: r["status"]
           for r in corpus_diff(old, new).collect()}
    assert got == {1: "removed", 3: "modified", 4: "modified",
                   5: "modified", 6: "added"}


def test_remove_duplicate_spans_preserves_case_and_passthrough(spark):
    """Span-free docs pass through byte-identical (casing, newlines,
    runs of spaces); rewritten docs keep original token casing."""
    from sparvi_spark.operators.dedup import (
        duplicate_spans, remove_duplicate_spans)

    shared = "A B C D E F G H"
    untouched = "Mixed CASE text\nwith newline  and  double  spaces"
    df = spark.createDataFrame(
        [(0, f"PRE One {shared} post tail"),
         (1, f"Left {shared} Right Mid End"),
         (2, untouched),
         (3, None)],
        "doc_id int, text string")
    spans = duplicate_spans(df, "doc_id", "text", n=8)
    out = {r["doc_id"]: (r["text_clean"], r["n_tokens_removed"])
           for r in remove_duplicate_spans(
               df, spans, "doc_id", "text").collect()}
    assert out[0] == ("PRE One post tail", 8)      # casing survives
    assert out[1] == ("Left Right Mid End", 8)
    assert out[2] == (untouched, 0)                 # byte-identical
    assert out[3] == (None, 0)


def test_numeric_drift_unequal_sizes_counts_empty_bins(spark):
    """ne != na with bins empty on BOTH sides: the smoothing-only terms of
    those bins must appear in every metric (the dense-formula contract the
    numpy reference uses)."""
    import math

    import numpy as np

    from sparvi_spark.operators.drift import numeric_drift

    # baseline 1000 rows over a wide range; current 10 rows in one corner
    base = [float(i % 100) for i in range(1000)]
    cur = [5.0] * 10
    e = spark.createDataFrame([(v,) for v in base], "x double")
    a = spark.createDataFrame([(v,) for v in cur], "x double")
    bins = 10
    row = numeric_drift(e, a, ["x"], bins=bins).collect()[0]

    mn, mx = min(base), max(base)
    def hist(vals):
        h = np.zeros(bins)
        for v in vals:
            b = int(min(max(math.floor((v - mn) / (mx - mn) * bins), 0),
                        bins - 1))
            h[b] += 1
        return (h + 0.5) / (len(vals) + 0.5 * bins)
    pe, pa = hist(base), hist(cur)
    assert abs(row["tvd"] - 0.5 * np.abs(pa - pe).sum()) < 1e-6
    assert abs(row["chi2"] - (((pa - pe) ** 2) / pe).sum()) < 1e-6
    assert abs(row["psi"] - ((pa - pe) * np.log(pa / pe)).sum()) < 1e-6


def test_ivfpq_index_save_load_roundtrip(spark, tmp_path):
    """Persisted index: save encodes + writes cell-partitioned codes and
    the model sidecar; load + search returns the IDENTICAL result the
    in-memory index gives (same model, same codes, same ADC math)."""
    from pyspark.sql import functions as F2

    from sparvi_spark.operators.similarity import (
        ivfpq_encode, ivfpq_topk, ivfpq_train)
    from sparvi_spark.sources.index_io import (
        load_ivfpq_index, save_ivfpq_index)
    from sparvi_spark.testdata import load_table

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.01")
    cents, books = ivfpq_train(emb, nlist=8, m=8, k=16, iters=2)
    path = str(tmp_path / "ivfpq")
    manifest = save_ivfpq_index(emb, path, cents, books)
    assert manifest["n_vectors"] == emb.count()
    assert 0 < manifest["n_cells"] <= 8 and manifest["m"] == 8

    codes, cents2, books2 = load_ivfpq_index(spark, path)
    assert cents2 == [(int(b), [float(x) for x in v]) for b, v in cents]
    queries = emb.where(F2.col("vec_id") < 10)
    mem = ivfpq_topk(ivfpq_encode(emb, cents, books), queries,
                     cents, books, k=5, nprobe=3).toPandas()
    disk = ivfpq_topk(codes, queries, cents2, books2,
                      k=5, nprobe=3).toPandas()
    key = ["query_id", "rank"]
    assert mem.sort_values(key).reset_index(drop=True).equals(
        disk.sort_values(key).reset_index(drop=True))
    # cell partitioning exists on disk: nprobe search prunes directories
    import os
    assert any(e.startswith("cell=") for e in os.listdir(path))


def test_ivfpq_index_save_nondefault_id_and_empty(spark, tmp_path):
    """Non-default id_col saves and searches (ids canonicalized to
    vec_id, source column recorded in the sidecar); a zero-row input
    yields an empty manifest instead of a crash."""
    import json

    from pyspark.sql import functions as F2

    from sparvi_spark.operators.similarity import ivfpq_topk, ivfpq_train
    from sparvi_spark.sources.index_io import (
        load_ivfpq_index, save_ivfpq_index)
    from sparvi_spark.testdata import load_table

    emb = (load_table(spark, "embeddings", "/root/testdata/sf0.001")
           .withColumnRenamed("vec_id", "doc_id"))
    cents, books = ivfpq_train(emb, nlist=4, m=4, k=8, iters=1,
                               id_col="doc_id")
    path = str(tmp_path / "idx")
    m = save_ivfpq_index(emb, path, cents, books, id_col="doc_id")
    assert m["n_vectors"] == emb.count()
    model = json.loads(open(f"{path}.model.json").read())
    assert model["id_col"] == "doc_id"
    codes, c2, b2 = load_ivfpq_index(spark, path)
    hits = ivfpq_topk(codes, emb.where(F2.col("doc_id") < 3), c2, b2,
                      id_col="doc_id", k=3, nprobe=2).collect()
    assert len(hits) > 0

    empty = emb.where(F2.col("doc_id") < -1)
    m0 = save_ivfpq_index(empty, str(tmp_path / "idx0"), cents, books,
                          id_col="doc_id")
    assert m0 == {"n_vectors": 0, "n_cells": 0, "m": 4}


def test_classifier_eval_auc_matches_rank_reference(spark):
    """classifier_eval's grouped-count AUC equals the Mann-Whitney
    rank-statistic reference (average ranks for ties) on a tie-heavy
    frame; degenerate one-class frames return NULL; round_to groups
    continuous scores before counting."""
    import numpy as np

    from sparvi_spark.operators.classify import classifier_eval

    rng = np.random.default_rng(5)
    scores = np.concatenate([rng.integers(0, 20, 300),    # heavy ties
                             rng.integers(10, 30, 200)])
    labels = np.concatenate([np.zeros(300, int), np.ones(200, int)])
    df = spark.createDataFrame(
        [(int(s), int(y)) for s, y in zip(scores, labels)],
        "score int, y int")
    got = classifier_eval(df, "y", "score").collect()[0]
    # reference: U statistic from average ranks
    order = np.argsort(scores, kind="stable")
    ranks = np.empty(len(scores), float)
    sorted_scores = scores[order]
    i = 0
    while i < len(sorted_scores):
        j = i
        while j < len(sorted_scores) and sorted_scores[j] == sorted_scores[i]:
            j += 1
        ranks[order[i:j]] = (i + 1 + j) / 2.0  # average 1-based rank
        i = j
    n_pos, n_neg = int(labels.sum()), int((1 - labels).sum())
    u = ranks[labels == 1].sum() - n_pos * (n_pos + 1) / 2.0
    assert got["n_pos"] == n_pos and got["n_neg"] == n_neg
    assert got["auc"] == round(u / (n_pos * n_neg), 9)
    # one-class frame -> NULL auc, not a divide
    one = spark.createDataFrame([(1, 1), (2, 1)], "score int, y int")
    assert classifier_eval(one, "y", "score").collect()[0]["auc"] is None
    # continuous scores quantize through round_to (same grouped plan)
    cont = spark.createDataFrame(
        [(float(s) + 1e-12, int(y)) for s, y in zip(scores, labels)],
        "score double, y int")
    got2 = classifier_eval(cont, "y", "score", round_to=6).collect()[0]
    assert got2["auc"] == got["auc"]


def test_precision_recall_table_matches_reference(spark):
    """Every (threshold, n_kept, tp, precision, recall) row equals the
    brute-force keep-score>=t reference."""
    import numpy as np

    from sparvi_spark.operators.classify import precision_recall_table

    rng = np.random.default_rng(11)
    scores = rng.integers(0, 10, 200)
    labels = (scores + rng.integers(-3, 4, 200) > 5).astype(int)
    df = spark.createDataFrame(
        [(int(s), int(y)) for s, y in zip(scores, labels)],
        "score int, y int")
    rows = {r["threshold"]: r
            for r in precision_recall_table(df, "y", "score").collect()}
    all_pos = int(labels.sum())
    for t in np.unique(scores):
        keep = scores >= t
        r = rows[int(t)]
        assert r["n_kept"] == int(keep.sum())
        assert r["tp"] == int(labels[keep].sum())
        assert r["precision"] == round(float(labels[keep].sum())
                                       / keep.sum(), 9)
        assert r["recall"] == round(float(labels[keep].sum())
                                    / all_pos, 9)


def test_vocab_drift_and_tvd_match_reference(spark):
    """vocab_drift rows and vocab_tvd equal a driver-side counting
    reference; disjoint vocabularies give tvd == 1.0, identical corpora
    give 0.0; min_count drops rare tokens without moving probabilities."""
    from collections import Counter

    from sparvi_spark.operators.drift import vocab_drift, vocab_tvd

    a_rows = [(1, "apple banana apple cherry"), (2, "banana apple date")]
    b_rows = [(3, "apple banana banana fig"), (4, "fig fig grape")]
    df_a = spark.createDataFrame(a_rows, "doc_id int, text string")
    df_b = spark.createDataFrame(b_rows, "doc_id int, text string")
    ca = Counter(t for _, s in a_rows for t in s.split())
    cb = Counter(t for _, s in b_rows for t in s.split())
    ta, tb = sum(ca.values()), sum(cb.values())
    got = {r["token"]: r for r in
           vocab_drift(df_a, df_b, top_k=100).collect()}
    assert set(got) == set(ca) | set(cb)
    for tok, r in got.items():
        assert r["n_a"] == ca.get(tok, 0) and r["n_b"] == cb.get(tok, 0)
        assert r["delta"] == round(ca.get(tok, 0) / ta
                                   - cb.get(tok, 0) / tb, 9), tok
    ref_tvd = round(sum(abs(ca.get(t, 0) / ta - cb.get(t, 0) / tb)
                        for t in set(ca) | set(cb)) / 2, 9)
    row = vocab_tvd(df_a, df_b).collect()[0]
    assert abs(row["tvd"] - ref_tvd) < 1e-9
    assert row["n_tokens_union"] == len(set(ca) | set(cb))
    # identical corpora -> 0; disjoint vocabularies -> 1
    assert vocab_tvd(df_a, df_a).collect()[0]["tvd"] == 0.0
    dj = spark.createDataFrame([(9, "zulu yankee xray")],
                               "doc_id int, text string")
    assert vocab_tvd(df_a, dj).collect()[0]["tvd"] == 1.0
    # min_count drops the long tail but keeps probabilities intact
    only_common = vocab_drift(df_a, df_b, top_k=100,
                              min_count=2).collect()
    assert all(r["n_a"] >= 2 or r["n_b"] >= 2 for r in only_common)
    appl = next(r for r in only_common if r["token"] == "apple")
    assert appl["p_a"] == round(ca["apple"] / ta, 9)  # total unchanged
