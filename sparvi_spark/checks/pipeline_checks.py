"""Training-data pipeline checks: dedup, similarity search, text analysis,
multimodal plumbing — paired with DuckDB oracles wherever the math is
engine-portable (fold-based dot products, integer rolling hashes); MinHash/
SimHash use engine hash builtins and register as rows-only checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparvi_spark.operators.dedup import (
    PORTABLE_BAND_M,
    PORTABLE_P,
    _affine_params,
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash_pairs,
)
from sparvi_spark.operators.multimodal import documents_as_media, extract_image_features
from sparvi_spark.operators.similarity import cosine_topk, ivf_topk
from sparvi_spark.operators.text import (
    LANG_MARKERS,
    STOPWORDS_EN,
    fingerprint_expr,
    lang_id_expr,
    quality_features,
    top_tokens,
)
from sparvi_spark.testdata import load_table

DOC_CAP = 120  # doc_id bound for O(n²) pair checks


def capped_docs(spark: SparkSession, sf_dir: str):
    """documents capped to DOC_CAP rows, coalesced to the small shuffle
    width: the cached table keeps 32 partitions for FULL-table shingle
    work (testdata._CPU_HEAVY_TABLES), but a 120-row capped frame read
    through them costs 32 near-empty tasks per scan stage — and the pair
    pipelines scan it 3-4x. coalesce merges the cached partitions at
    read (no shuffle); the cap is a constant, so this never bounds
    parallelism at any SF. Measured 1.06s -> 0.62s on the d02 jaccard
    part at sf0.1. The DataFrame OBJECT is memoized per (session,
    sf_dir) — 16 checks build on it, and each DataFrame op costs a
    serialized 2-8ms analysis round (plan reuse only; execution is
    untouched). The memo lives INSIDE testdata._CACHE so every existing
    cache-reset site (bench/suite isolate(), test fixtures) clears it
    together with the table objects it wraps — a private dict here would
    survive those resets, pin stopped sessions, and skip load_table's
    per-call profile re-tuning on alternating sf dirs. The memo honors
    the same SPARK_GRAFT_NO_CACHE=1 escape hatch load_table does — with
    the flag set, nothing (table or capped view) is memoized."""
    import os

    from sparvi_spark import testdata

    cache_on = os.environ.get("SPARK_GRAFT_NO_CACHE") != "1"
    key = (id(spark._jsparkSession), sf_dir, "__capped_documents")
    if cache_on:
        cached = testdata._CACHE.get(key)
        if cached is not None:
            # load_table re-applies the session tuning profile per call;
            # keep that behavior on memo hits too
            load_table(spark, "documents", sf_dir)
            return cached
    out = (load_table(spark, "documents", sf_dir)
           .where(F.col("doc_id") < DOC_CAP).coalesce(8))
    if cache_on:
        testdata._CACHE[key] = out
    return out


_DUCK_TOKS = "string_split_regex(lower(trim(text)), '\\s+')"
_SPARK_TOKS = "split(lower(trim(text)), '\\\\s+')"


def _duck_portable_hash(col: str) -> str:
    """DuckDB twin of ``dedup.portable_hash_expr``: the character-fold
    polynomial hash of a string column -> [0, P)."""
    return (f"list_reduce(list_prepend(cast(0 as bigint), "
            f"list_transform(range(1, strlen({col}) + 1), "
            f"i -> cast(ascii(substring({col}, i, 1)) as bigint))), "
            f"(acc, c) -> (acc * 131 + c) % {PORTABLE_P})")


# ---------------------------------------------------------------------------
# d01 exact dedup stats per source
# ---------------------------------------------------------------------------

def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("text").alias("n_distinct_texts"),
        (F.count(F.lit(1)) - F.countDistinct("text")).alias("dup_count"),
    )


SQL_EXACT_DEDUP = """
SELECT source, count(*) AS n_rows, count(distinct text) AS n_distinct_texts,
  count(*) - count(distinct text) AS dup_count
FROM documents GROUP BY source
""".strip()

# ---------------------------------------------------------------------------
# d02 token-set (1-gram) Jaccard near-dup pairs — exact, oracle-checked
# ---------------------------------------------------------------------------

JACCARD_T = 0.9


def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = capped_docs(spark, sf_dir)
    return jaccard_pairs(docs, "doc_id", "text", n=1, threshold=JACCARD_T)


SQL_JACCARD_PAIRS = f"""
WITH sh AS (SELECT DISTINCT doc_id AS id, unnest({_DUCK_TOKS}) AS shingle
            FROM documents WHERE doc_id < {DOC_CAP}),
sz AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
shared AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS shared
           FROM sh a JOIN sh b USING (shingle) WHERE a.id < b.id GROUP BY 1, 2)
SELECT id_a, id_b, shared, x.sz AS sz_a, y.sz AS sz_b,
  round(shared * cast(1 as double) / (x.sz + y.sz - shared), 6) AS jaccard
FROM shared JOIN sz x ON id_a = x.id JOIN sz y ON id_b = y.id
WHERE round(shared * cast(1 as double) / (x.sz + y.sz - shared), 6) >= {JACCARD_T}
""".strip()

# ---------------------------------------------------------------------------
# d07 near-dedup materialization: survivors after dropping the larger id of
# every Jaccard>=T pair (greedy keep-smallest policy)
# ---------------------------------------------------------------------------

def q_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparvi_spark.operators.dedup import dedup_near

    docs = capped_docs(spark, sf_dir)
    pairs = jaccard_pairs(docs, "doc_id", "text", n=1, threshold=JACCARD_T)
    kept = dedup_near(docs, pairs, "doc_id")
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("doc_id").alias("id_checksum"),
    )


SQL_DEDUP_CORPUS = f"""
WITH sh AS (SELECT DISTINCT doc_id AS id, unnest({_DUCK_TOKS}) AS shingle
            FROM documents WHERE doc_id < {DOC_CAP}),
sz AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
shared AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS shared
           FROM sh a JOIN sh b USING (shingle) WHERE a.id < b.id GROUP BY 1, 2),
dups AS (SELECT DISTINCT id_b FROM shared
         JOIN sz x ON id_a = x.id JOIN sz y ON id_b = y.id
         WHERE round(shared * cast(1 as double) / (x.sz + y.sz - shared), 6)
               >= {JACCARD_T})
SELECT source, count(*) AS n_kept, cast(sum(doc_id) as bigint) AS id_checksum
FROM documents WHERE doc_id < {DOC_CAP}
  AND doc_id NOT IN (SELECT id_b FROM dups)
GROUP BY source
""".strip()

# ---------------------------------------------------------------------------
# d03 MinHash-LSH, portable-hash mode: the ORACLE recomputes the identical
# polynomial base hash, affine signature slots, band folds, candidate pairs,
# and exact-Jaccard verification. d04 SimHash stays rows-only (64-bit
# engine-native hashing has no portable DuckDB twin).
# ---------------------------------------------------------------------------

MH_HASHES, MH_BANDS = 16, 4


def _duck_minhash_ctes() -> str:
    """The sh/hx/sig/banded CTEs, the DuckDB twin of portable-mode
    ``dedup.minhash_signed`` + ``band_hashes_expr`` over the DOC_CAP docs:
    distinct token shingles per (id, src), their polynomial base hash x,
    MH_HASHES affine-min slots h0.. and MH_BANDS band folds bh."""
    rpb = MH_HASHES // MH_BANDS
    mins = ", ".join(f"min(({a} * x + {b}) % {PORTABLE_P}) AS h{i}"
                     for i, (a, b) in enumerate(
                         map(_affine_params, range(MH_HASHES))))
    band_selects = []
    for bnd in range(MH_BANDS):
        expr = "0"
        for k in range(bnd * rpb, (bnd + 1) * rpb):
            expr = f"(({expr}) * {PORTABLE_BAND_M} + h{k}) % {PORTABLE_P}"
        band_selects.append(
            f"SELECT id, src, {bnd} AS band, {expr} AS bh FROM sig")
    return f"""sh AS (SELECT DISTINCT doc_id AS id, source AS src,
              unnest({_DUCK_TOKS}) AS shingle
            FROM documents WHERE doc_id < {DOC_CAP}),
hx AS (SELECT id, src, {_duck_portable_hash("shingle")} AS x FROM sh),
sig AS (SELECT id, src, {mins} FROM hx GROUP BY id, src),
banded AS ({" UNION ALL ".join(band_selects)})"""


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = capped_docs(spark, sf_dir)
    return minhash_lsh_pairs(docs, "doc_id", "text", n=1, num_hashes=MH_HASHES,
                             bands=MH_BANDS, threshold=JACCARD_T,
                             hash_fn="portable")


def _sql_minhash_lsh() -> str:
    return f"""
WITH {_duck_minhash_ctes()},
cands AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
          FROM banded a JOIN banded b ON a.band = b.band AND a.bh = b.bh
          WHERE a.id < b.id),
sz AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
shared AS (SELECT c.id_a, c.id_b, count(*) AS shared
           FROM cands c
           JOIN sh a ON a.id = c.id_a
           JOIN sh b ON b.id = c.id_b AND b.shingle = a.shingle
           GROUP BY c.id_a, c.id_b)
SELECT id_a, id_b,
  round(shared * cast(1 as double) / (x.sz + y.sz - shared), 6) AS jaccard
FROM shared JOIN sz x ON id_a = x.id JOIN sz y ON id_b = y.id
WHERE round(shared * cast(1 as double) / (x.sz + y.sz - shared), 6)
      >= {JACCARD_T}
""".strip()


SQL_MINHASH_LSH = _sql_minhash_lsh()


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = capped_docs(spark, sf_dir)
    return simhash_pairs(docs, "doc_id", "text", max_hamming=10)


# d06: portable SimHash fingerprints — the oracle reproduces the token
# hashes, per-bit majority votes, and bit packing exactly (30-bit portable
# base hash; the 64-bit xxhash64 variant above stays the production path).

SIMHASH_BITS = 30


def q_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparvi_spark.operators.dedup import simhash

    docs = capped_docs(spark, sf_dir)
    return simhash(docs, "doc_id", "text", hash_fn="portable", bits=SIMHASH_BITS)


def _sql_simhash_portable() -> str:
    votes = ", ".join(
        f"sum(case when (h >> {b}) & 1 = 1 then 1 else -1 end) AS v{b}"
        for b in range(SIMHASH_BITS)
    )
    pack = " + ".join(
        f"(case when v{b} > 0 then cast({1 << b} as bigint) else 0 end)"
        for b in range(SIMHASH_BITS)
    )
    return f"""
WITH toks AS (SELECT doc_id AS id, unnest({_DUCK_TOKS}) AS t
              FROM documents WHERE doc_id < {DOC_CAP}),
hx AS (SELECT id, {_duck_portable_hash("t")} AS h FROM toks),
votes AS (SELECT id, {votes} FROM hx GROUP BY id)
SELECT id AS doc_id, {pack} AS simhash FROM votes
""".strip()


SQL_SIMHASH_PORTABLE = _sql_simhash_portable()


# d08: portable SimHash PAIRS — banding with n_chunks=4 > max_hamming=3
# guarantees exact recall (pigeonhole), so the oracle can brute-force all
# pairs over the d06 fingerprint CTE with bit_count(xor(...)) <= h.

SIMHASH_MAX_HAMMING = 3


def q_simhash_pairs_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = capped_docs(spark, sf_dir)
    pairs = simhash_pairs(docs, "doc_id", "text",
                          max_hamming=SIMHASH_MAX_HAMMING,
                          hash_fn="portable", bits=SIMHASH_BITS)
    # bit_count returns int in Spark / tinyint in DuckDB; align on bigint
    return pairs.select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


def _sql_simhash_pairs_portable() -> str:
    fp = _sql_simhash_portable()
    return f"""
WITH fp AS ({fp})
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  cast(bit_count(xor(a.simhash, b.simhash)) as bigint) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
""".strip()


SQL_SIMHASH_PAIRS_PORTABLE = _sql_simhash_pairs_portable()


# ---------------------------------------------------------------------------
# d05 embedding-cosine near-dup pairs (fold dot product, oracle-checked)
# ---------------------------------------------------------------------------

EMB_CAP = 100
COSINE_T = 0.3

_DUCK_DOT = (
    "list_reduce(list_prepend(cast(0 as double), "
    "list_transform(range(1, len({a}) + 1), "
    "i -> cast({a}[i] as double) * cast({b}[i] as double))), "
    "(acc, v) -> acc + v)"
)


def _duck_cosine(a: str, b: str) -> str:
    dot = _DUCK_DOT.format(a=a, b=b)
    na = _DUCK_DOT.format(a=a, b=a)
    nb = _DUCK_DOT.format(a=b, b=b)
    return f"({dot} / (sqrt({na}) * sqrt({nb})))"


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparvi_spark.operators.dedup import embedding_neardup_pairs

    emb = (load_table(spark, "embeddings", sf_dir)
           .where(F.col("vec_id") < EMB_CAP).coalesce(8))
    # pair_backend pinned: the graded parity surface must not follow the
    # process-global scale mode (Engine(scale_mode=True) anywhere in the
    # process would otherwise flip this to gram + lsh buckets)
    return embedding_neardup_pairs(emb, "vec_id", "embedding",
                                   threshold=COSINE_T, pair_backend="fold")


SQL_EMBEDDING_NEARDUP = f"""
WITH v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {EMB_CAP}),
p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        {_duck_cosine('a.embedding', 'b.embedding')} AS cosine
      FROM v a, v b WHERE a.vec_id < b.vec_id)
SELECT id_a, id_b, round(cosine, 6) AS cosine FROM p WHERE cosine >= {COSINE_T}
""".strip()

# ---------------------------------------------------------------------------
# x01 brute-force cosine top-k / x02 IVF (label-bucketed) top-k
# ---------------------------------------------------------------------------

N_QUERIES = 5
TOP_K = 10


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.where(F.col("vec_id") < N_QUERIES)
    return cosine_topk(emb, queries, k=TOP_K, backend="fold")  # pin parity


SQL_COSINE_TOPK = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id < {N_QUERIES}),
scored AS (SELECT q.query_id, e.vec_id AS neighbor_id,
             {_duck_cosine('e.embedding', 'q.qv')} AS cosine
           FROM embeddings e, q WHERE e.vec_id <> q.query_id)
SELECT query_id, neighbor_id,
  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC)
    AS rank,
  round(cosine, 6) AS cosine
FROM scored
QUALIFY row_number() OVER (PARTITION BY query_id
                           ORDER BY cosine DESC, neighbor_id ASC) <= {TOP_K}
""".strip()


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.where(F.col("vec_id") < N_QUERIES)
    return ivf_topk(emb, queries, bucket_col="label", k=TOP_K)


SQL_IVF_TOPK = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS qb
           FROM embeddings WHERE vec_id < {N_QUERIES}),
scored AS (SELECT q.query_id, e.vec_id AS neighbor_id,
             {_duck_cosine('e.embedding', 'q.qv')} AS cosine
           FROM embeddings e JOIN q ON e.label = q.qb
           WHERE e.vec_id <> q.query_id)
SELECT query_id, neighbor_id,
  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC)
    AS rank,
  round(cosine, 6) AS cosine
FROM scored
QUALIFY row_number() OVER (PARTITION BY query_id
                           ORDER BY cosine DESC, neighbor_id ASC) <= {TOP_K}
""".strip()

# ---------------------------------------------------------------------------
# x03 text quality features
# ---------------------------------------------------------------------------

def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = capped_docs(spark, sf_dir)
    return quality_features(docs, repetition=True)


_DUCK_STOP = ", ".join(f"'{w}'" for w in STOPWORDS_EN)

# Staged CTEs compute each per-row array exactly once (tk -> sorted bigrams
# -> run ends), then the longest equal-run of the sorted bigram list gives
# the most-frequent-bigram multiplicity in O(n log n) — mirroring the Spark
# aggregate-struct pass. Run ends = indices whose successor differs (OOB
# list index -> NULL, TRUE OR NULL = TRUE at the last element); run lengths
# = ends[j] - ends[j-1] (ends[0] -> NULL -> 0).
SQL_TEXT_QUALITY = f"""
WITH t0 AS (SELECT doc_id, text, {_DUCK_TOKS} AS tk
            FROM documents WHERE doc_id < {DOC_CAP}),
t1 AS (SELECT *, list_sort(list_transform(range(1, len(tk)),
         i -> concat_ws(' ', tk[i], tk[i + 1]))) AS sbg FROM t0),
t2 AS (SELECT *, list_filter(range(1, len(sbg) + 1),
         i -> i = len(sbg) or sbg[i] <> sbg[i + 1]) AS ends FROM t1),
f AS (SELECT doc_id, length(text) AS n_chars,
  len(tk) AS n_tokens,
  round(list_sum(list_transform(tk, t -> length(t)))
        * cast(1 as double) / greatest(len(tk), 1), 4) AS avg_token_len,
  round(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))
        * cast(1 as double) / greatest(length(text), 1), 4) AS punct_ratio,
  round(len(list_filter(tk, t -> list_contains([{_DUCK_STOP}], t)))
        * cast(1 as double) / greatest(len(tk), 1), 4) AS stopword_ratio,
  round(1.0 - len(list_distinct(tk)) * cast(1 as double)
        / greatest(len(tk), 1), 6) AS dup_token_frac,
  case when len(tk) >= 2 then
    round(list_max(list_transform(range(1, len(ends) + 1),
            j -> ends[j] - coalesce(ends[j - 1], 0))) * cast(1 as double)
      / (len(tk) - 1), 6) else cast(0.0 as double) end AS top_bigram_frac,
  round(len(regexp_extract_all(text, '[#@*]|[.][.][.]'))
        * cast(1 as double) / greatest(len(tk), 1), 6)
    AS symbol_word_ratio,
  round(len(list_filter(tk, t -> regexp_matches(t, '[a-z]')))
        * cast(1 as double) / greatest(len(tk), 1), 6)
    AS alpha_word_frac
 FROM t2)
SELECT *, round(greatest(1.0
  - case when n_tokens < 5 then 0.4 else 0.0 end
  - case when punct_ratio > 0.3 then 0.3 else 0.0 end
  - case when stopword_ratio = 0.0 then 0.2 else 0.0 end
  - case when avg_token_len < 2 or avg_token_len > 12 then 0.2 else 0.0 end,
  0.0), 4) AS quality_score
FROM f
""".strip()

# ---------------------------------------------------------------------------
# x04 language-ID confusion matrix (stopword-hit heuristic vs labeled lang)
# ---------------------------------------------------------------------------

def q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return (
        docs.withColumn("guessed", lang_id_expr("text"))
        .groupBy("lang", "guessed").agg(F.count(F.lit(1)).alias("cnt"))
    )


def _sql_langid() -> str:
    langs = sorted(LANG_MARKERS)
    hits = ", ".join(
        "len(list_filter({toks}, t -> list_contains([{words}], t))) AS h_{lang}".format(
            toks=_DUCK_TOKS,
            words=", ".join(f"'{w}'" for w in LANG_MARKERS[lang]),
            lang=lang,
        )
        for lang in langs
    )
    best = "greatest(" + ", ".join(f"h_{lang}" for lang in langs) + ")"
    case = "case when " + best + " = 0 then 'und' " + " ".join(
        f"when h_{lang} = {best} then '{lang}'" for lang in langs
    ) + " end"
    return (
        f"WITH h AS (SELECT lang, {hits} FROM documents) "
        f"SELECT lang, {case} AS guessed, count(*) AS cnt FROM h GROUP BY 1, 2"
    )


SQL_LANGID = _sql_langid()

# ---------------------------------------------------------------------------
# x05 rolling-hash fingerprint (portable integer arithmetic)
# ---------------------------------------------------------------------------

def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = capped_docs(spark, sf_dir)
    return docs.select("doc_id", fingerprint_expr("text").alias("fingerprint"))


SQL_FINGERPRINT = f"""
SELECT doc_id, list_reduce(
  list_prepend(cast(0 as bigint),
    list_transform({_DUCK_TOKS},
      t -> cast(ascii(substring(t, 1, 1)) * 1000 + length(t) as bigint))),
  (acc, v) -> (acc * 31 + v) % 1000000007) AS fingerprint
FROM documents WHERE doc_id < {DOC_CAP}
""".strip()

# ---------------------------------------------------------------------------
# x06 corpus top tokens
# ---------------------------------------------------------------------------

def q_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return top_tokens(docs, "text", k=10)


SQL_TOP_TOKENS = f"""
WITH toks AS (SELECT unnest({_DUCK_TOKS}) AS token FROM documents),
counted AS (SELECT token, count(*) AS cnt FROM toks WHERE token <> ''
            GROUP BY token)
SELECT token, cnt,
  row_number() OVER (ORDER BY cnt DESC, token ASC) AS rank
FROM counted QUALIFY row_number() OVER (ORDER BY cnt DESC, token ASC) <= 10
""".strip()

# ---------------------------------------------------------------------------
# m01 multimodal decode plumbing (mapInPandas; deterministic fake decoder)
# ---------------------------------------------------------------------------

def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = capped_docs(spark, sf_dir)
    media = documents_as_media(docs)
    feats = extract_image_features(media, fake=True)
    return feats.select("media_id", "width", "height", "n_bytes")


SQL_MULTIMODAL_FEATURES = f"""
SELECT doc_id AS media_id,
  cast(strlen(text) % 640 + 1 as int) AS width,
  cast(strlen(text) % 480 + 1 as int) AS height,
  cast(strlen(text) as bigint) AS n_bytes
FROM documents WHERE doc_id < {DOC_CAP}
""".strip()


# ---------------------------------------------------------------------------
# x07 as-of join: each click joined to the user's latest preceding purchase
# (Spark: union+window forward-fill; oracle: DuckDB's native ASOF JOIN)
# ---------------------------------------------------------------------------

def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparvi_spark.operators.joins import asof_join

    ev = load_table(spark, "events", sf_dir)
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id")
    purchases = (ev.where(F.col("event_type") == "purchase")
                 .groupBy("user_id", "ts")
                 .agg(F.round(F.max("value"), 4).alias("purchase_value")))
    out = asof_join(clicks, purchases, by="user_id", ts_col="ts",
                    value_cols=["purchase_value"])
    return out.select(
        "user_id", "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        F.col("right_purchase_value").alias("purchase_value"),
    )


SQL_ASOF_JOIN = """
WITH clicks AS (SELECT user_id, ts, event_id FROM events
                WHERE event_type = 'click'),
purchases AS (SELECT user_id, ts, round(max(value), 4) AS purchase_value
              FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
SELECT c.user_id, c.event_id,
  strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts, p.purchase_value
FROM clicks c ASOF LEFT JOIN purchases p
  ON c.user_id = p.user_id AND c.ts >= p.ts
""".strip()


# ---------------------------------------------------------------------------
# x08 range join: lineitem prices into part price bands — bucketed equi-join
# prefilter + exact BETWEEN refine vs the oracle's plain theta join
# ---------------------------------------------------------------------------

RANGE_PART_CAP, RANGE_ORDER_CAP, RANGE_HALF_W = 100, 2000, 100.0


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparvi_spark.operators.joins import range_join

    points = (load_table(spark, "lineitem", sf_dir)
              .where(F.col("l_orderkey") < RANGE_ORDER_CAP)
              .select("l_extendedprice"))
    intervals = (load_table(spark, "part", sf_dir)
                 .where(F.col("p_partkey") < RANGE_PART_CAP)
                 .select("p_partkey",
                         (F.col("p_retailprice") - RANGE_HALF_W).alias("lo"),
                         (F.col("p_retailprice") + RANGE_HALF_W).alias("hi")))
    joined = range_join(points, intervals, "l_extendedprice", "lo", "hi",
                        bucket_width=2 * RANGE_HALF_W)
    return joined.groupBy("p_partkey").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")), 2)
        .cast("double").alias("sum_price"),
    )


SQL_RANGE_JOIN = f"""
SELECT p_partkey, count(*) AS n_points,
  cast(round(sum(cast(l_extendedprice as decimal(18,2))), 2) as double)
    AS sum_price
FROM part, lineitem
WHERE p_partkey < {RANGE_PART_CAP} AND l_orderkey < {RANGE_ORDER_CAP}
  AND l_extendedprice BETWEEN p_retailprice - {RANGE_HALF_W}
                          AND p_retailprice + {RANGE_HALF_W}
GROUP BY p_partkey
""".strip()


# ---------------------------------------------------------------------------
# x09 semi-structured profiling: stats on a field INSIDE the events.props
# JSON column (get_json_object vs DuckDB ->> extraction)
# ---------------------------------------------------------------------------

def q_json_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparvi_spark.operators.profile import json_field_stats

    ev = load_table(spark, "events", sf_dir)
    out = json_field_stats(ev, "props", ["k"], group_by="event_type")
    return out.select(
        "event_type", "row_count", "k__present", "k__min", "k__max",
        F.round("k__sum", 2).alias("k__sum"))


SQL_JSON_PROFILE = """
SELECT event_type, count(*) AS row_count,
  count(props ->> 'k') AS k__present,
  min(cast(props ->> 'k' as double)) AS k__min,
  max(cast(props ->> 'k' as double)) AS k__max,
  round(cast(sum(cast(cast(props ->> 'k' as double) as decimal(28,8)))
             as double), 2) AS k__sum
FROM events GROUP BY event_type
""".strip()



# ---------------------------------------------------------------------------
# x10 gap-based sessionization (events): one shuffle on user_id, lag +
# running-sum windows; integer-microsecond gap math for oracle parity
# ---------------------------------------------------------------------------

SESSION_GAP_MIN = 30.0


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparvi_spark.operators.sessions import session_stats

    ev = load_table(spark, "events", sf_dir)
    return session_stats(ev, "user_id", "ts", gap_minutes=SESSION_GAP_MIN,
                         tiebreak_col="event_id")


SQL_SESSIONIZE = f"""
WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
o AS (SELECT user_id, us,
        lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_us,
        event_id FROM e),
f AS (SELECT user_id, us, event_id,
        CASE WHEN prev_us IS NULL OR us - prev_us > {int(SESSION_GAP_MIN * 60_000_000)}
             THEN 1 ELSE 0 END AS new_s FROM o),
s AS (SELECT user_id, us,
        sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                         ROWS UNBOUNDED PRECEDING) AS session_no FROM f),
per AS (SELECT user_id, session_no, count(*) AS n_events,
          max(us) - min(us) AS dur_us FROM s GROUP BY 1, 2)
SELECT user_id, count(*) AS n_sessions,
  cast(sum(n_events) as bigint) AS n_events,
  cast(max(n_events) as bigint) AS max_session_events,
  cast(sum(dur_us) as bigint) AS total_session_us
FROM per GROUP BY user_id
""".strip()


# ---------------------------------------------------------------------------
# x11 equal-width histogram over lineitem prices (distribution_data of the
# profile contract, SURVEY §1.3)
# ---------------------------------------------------------------------------

HIST_BINS = 20


def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparvi_spark.operators.profile import numeric_histogram

    li = load_table(spark, "lineitem", sf_dir)
    return numeric_histogram(li, "l_extendedprice", bins=HIST_BINS)


SQL_HISTOGRAM = f"""
WITH s AS (SELECT min(l_extendedprice) AS mn, max(l_extendedprice) AS mx
           FROM lineitem),
b AS (SELECT CASE WHEN mx = mn THEN 0
        ELSE least(cast(floor((l_extendedprice - mn) / ((mx - mn) / {HIST_BINS}))
                   as bigint), {HIST_BINS - 1}) END AS bin, mn, mx
      FROM lineitem, s WHERE l_extendedprice IS NOT NULL)
SELECT bin, round(mn + bin * ((mx - mn) / {HIST_BINS}), 6) AS lo,
  round(mn + (bin + 1) * ((mx - mn) / {HIST_BINS}), 6) AS hi,
  count(*) AS cnt
FROM b GROUP BY bin, mn, mx
""".strip()


# ---------------------------------------------------------------------------
# x12 multi-pattern scan (PII shapes + content patterns) per source
# ---------------------------------------------------------------------------

def q_pattern_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparvi_spark.operators.text import pattern_counts

    docs = load_table(spark, "documents", sf_dir)
    return pattern_counts(docs, "text", group_by="source")


def _sql_pattern_scan() -> str:
    from sparvi_spark.operators.text import PII_PATTERNS

    wide = ", ".join(
        f"cast(sum(CASE WHEN len(regexp_extract_all(text, '{rx}')) > 0 "
        f"THEN 1 ELSE 0 END) as bigint) AS {name}__rows, "
        f"cast(sum(len(regexp_extract_all(text, '{rx}'))) as bigint) "
        f"AS {name}__matches"
        for name, rx in PII_PATTERNS.items()
    )
    unions = " UNION ALL ".join(
        f"SELECT source, '{name}' AS pattern, {name}__rows AS n_rows_matched, "
        f"{name}__matches AS n_matches FROM w"
        for name in PII_PATTERNS
    )
    return f"WITH w AS (SELECT source, {wide} FROM documents GROUP BY source) {unions}"


SQL_PATTERN_SCAN = _sql_pattern_scan()


# ---------------------------------------------------------------------------
# x13/x14 deterministic sampling (portable affine hash; reproducible across
# engines, partitionings, and cluster sizes)
# ---------------------------------------------------------------------------

SAMPLE_PCT, STRAT_N = 5, 3


def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparvi_spark.operators.sampling import hash_sample

    docs = load_table(spark, "documents", sf_dir)
    return hash_sample(docs, "doc_id", SAMPLE_PCT).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum("doc_id").cast("bigint").alias("id_checksum"),
    )


def _duck_hash(id_col: str) -> str:
    """Mirror of sampling.hash_expr incl. its pmod semantics: DuckDB's %
    keeps the dividend sign like Spark's, so the non-negative form is
    ((h % m) + m) % m — identical values for non-negative keys."""
    from sparvi_spark.operators.sampling import HASH_A, HASH_B, HASH_M

    h = f"(cast({id_col} as bigint) * {HASH_A} + {HASH_B})"
    return f"((({h}) % {HASH_M}) + {HASH_M}) % {HASH_M}"


SQL_HASH_SAMPLE = f"""
SELECT source, count(*) AS n_sampled, cast(sum(doc_id) as bigint) AS id_checksum
FROM documents WHERE ({_duck_hash('doc_id')}) % 100 < {SAMPLE_PCT}
GROUP BY source
""".strip()


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparvi_spark.operators.sampling import stratified_sample

    docs = load_table(spark, "documents", sf_dir)
    return stratified_sample(docs, ["source"], STRAT_N, "doc_id").select(
        "source", "doc_id")


SQL_STRATIFIED_SAMPLE = f"""
SELECT source, doc_id FROM documents
QUALIFY row_number() OVER (PARTITION BY source
  ORDER BY {_duck_hash('doc_id')}, doc_id) <= {STRAT_N}
""".strip()


# ---------------------------------------------------------------------------
# x15 benchmark-contamination screening: 3-gram shingle overlap of every
# candidate doc against the src0 "benchmark" corpus
# ---------------------------------------------------------------------------

CONTAM_REF_SOURCE, CONTAM_N = "src0", 3


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparvi_spark.operators.dedup import contamination

    docs = load_table(spark, "documents", sf_dir)
    ref = docs.where(F.col("source") == CONTAM_REF_SOURCE)
    cand = docs.where(F.col("source") != CONTAM_REF_SOURCE)
    return contamination(cand, ref, "doc_id", "text", n=CONTAM_N)


SQL_CONTAMINATION = f"""
WITH toks AS (SELECT doc_id, source, {_DUCK_TOKS} AS t FROM documents),
g AS (SELECT doc_id, source,
        unnest(list_transform(range(1, greatest(len(t) - {CONTAM_N - 1}, 0) + 1),
          i -> concat_ws(' ', t[i], t[i + 1], t[i + 2]))) AS shingle FROM toks),
d AS (SELECT DISTINCT doc_id, source, shingle FROM g),
refset AS (SELECT DISTINCT shingle FROM d WHERE source = '{CONTAM_REF_SOURCE}'),
cand AS (SELECT doc_id, shingle FROM d WHERE source <> '{CONTAM_REF_SOURCE}'),
tot AS (SELECT doc_id, count(*) AS n_shingles FROM cand GROUP BY 1),
hit AS (SELECT doc_id, count(*) AS n_contaminated FROM cand
        WHERE shingle IN (SELECT shingle FROM refset) GROUP BY 1)
SELECT t.doc_id, t.n_shingles, coalesce(h.n_contaminated, 0) AS n_contaminated,
  round(coalesce(h.n_contaminated, 0) * cast(1 as double) / t.n_shingles, 6)
    AS contamination_frac
FROM tot t LEFT JOIN hit h USING (doc_id)
""".strip()


# ---------------------------------------------------------------------------
# x16 per-source token accounting (whitespace + BPE-ish tokenizers)
# ---------------------------------------------------------------------------

def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparvi_spark.operators.text import BPE_TOKEN_REGEX

    docs = load_table(spark, "documents", sf_dir)
    ws = F.expr(f"size({_SPARK_TOKS})")
    bpe = F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_TOKEN_REGEX), F.lit(0)))
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(ws).cast("bigint").alias("ws_tokens"),
        F.sum(bpe).cast("bigint").alias("bpe_tokens"),
        F.round(F.avg(ws), 6).alias("avg_ws_tokens"),
    )


def _sql_token_stats() -> str:
    from sparvi_spark.operators.text import BPE_TOKEN_REGEX

    bpe = f"len(regexp_extract_all(text, '{BPE_TOKEN_REGEX}'))"
    return f"""
SELECT source, count(*) AS n_docs,
  cast(sum(len({_DUCK_TOKS})) as bigint) AS ws_tokens,
  cast(sum({bpe}) as bigint) AS bpe_tokens,
  round(avg(len({_DUCK_TOKS})), 6) AS avg_ws_tokens
FROM documents GROUP BY source
""".strip()


SQL_TOKEN_STATS = _sql_token_stats()


# ---------------------------------------------------------------------------
# x17 IVF training step: per-label centroid vectors (decimal-exact means)
# ---------------------------------------------------------------------------

def q_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparvi_spark.operators.similarity import bucket_centroids

    emb = load_table(spark, "embeddings", sf_dir)
    return bucket_centroids(emb, "label", "embedding")


SQL_CENTROIDS = """
WITH e AS (SELECT label, unnest(embedding) AS v,
             generate_subscripts(embedding, 1) - 1 AS dim FROM embeddings)
SELECT label, dim,
  round(cast(sum(cast(cast(v as double) as decimal(27,9))) as double)
        / count(*), 6) AS centroid,
  count(*) AS n_vectors
FROM e GROUP BY label, dim
""".strip()


# ---------------------------------------------------------------------------
# Merged recorded checks (driver caps recorded checks at 50 —
# checks.__init__.DRIVER_CHECK_CAP): same-schema variants share one slot.
# ---------------------------------------------------------------------------

from sparvi_spark.checks import union_check  # noqa: E402


def _q_simhash_as_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return q_simhash_portable(spark, sf_dir).select(
        "doc_id", F.col("simhash").alias("fingerprint"))


SQL_SIMHASH_AS_FINGERPRINT = (
    f"SELECT doc_id, simhash AS fingerprint FROM ({SQL_SIMHASH_PORTABLE}) sp"
)


def q_stratified_sample_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x14 reshaped to x13's aggregate schema — the id_checksum pins exactly
    WHICH rows were sampled, so determinism is still fully graded."""
    return q_stratified_sample(spark, sf_dir).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum("doc_id").cast("bigint").alias("id_checksum"),
    )


SQL_STRATIFIED_SAMPLE_AGG = (
    f"SELECT source, count(*) AS n_sampled, "
    f"cast(sum(doc_id) as bigint) AS id_checksum "
    f"FROM ({SQL_STRATIFIED_SAMPLE}) ss GROUP BY source"
)


CHECKS = {
    # x05 rolling-hash fingerprint shares d06's slot; IVF top-k shares the
    # brute-force slot (x01). d04 (engine-native 64-bit SimHash pairs) is
    # unit-tested and rows-only — it cedes its slot; see EXTRA_CHECKS.
    # Since r6 the pair checks d02/d03/d05 share merged_checks.
    # d02_pair_scores, and x13/d07 share merged_checks.x13_id_checksums
    # (with t14) — the freed slots grade the round-5 LLM-pipeline families;
    # standalone shapes stay in EXTRA_CHECKS.
    "d01_exact_dedup": (q_exact_dedup, SQL_EXACT_DEDUP),
    "d06_fingerprints": union_check([
        ("simhash", _q_simhash_as_fingerprint, SQL_SIMHASH_AS_FINGERPRINT),
        ("rolling", q_fingerprint, SQL_FINGERPRINT),
    ], tag_col="method"),
    "d08_simhash_pairs_portable": (q_simhash_pairs_portable, SQL_SIMHASH_PAIRS_PORTABLE),
    "x01_ann_topk": union_check([
        ("brute", q_cosine_topk, SQL_COSINE_TOPK),
        ("ivf", q_ivf_topk, SQL_IVF_TOPK),
    ], tag_col="method"),
    "x03_text_quality": (q_text_quality, SQL_TEXT_QUALITY),
    "x04_langid": (q_langid, SQL_LANGID),
    "x07_asof_join": (q_asof_join, SQL_ASOF_JOIN),
    "x08_range_join": (q_range_join, SQL_RANGE_JOIN),
    "x09_json_profile": (q_json_profile, SQL_JSON_PROFILE),
    "x10_sessionize": (q_sessionize, SQL_SESSIONIZE),
    "x11_histogram": (q_histogram, SQL_HISTOGRAM),
    "x12_pattern_scan": (q_pattern_scan, SQL_PATTERN_SCAN),
    "x15_contamination": (q_contamination, SQL_CONTAMINATION),
    "x16_token_stats": (q_token_stats, SQL_TOKEN_STATS),
    "x17_centroids": (q_centroids, SQL_CENTROIDS),
    "m01_multimodal_features": (q_multimodal_features, SQL_MULTIMODAL_FEATURES),
}

def q_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fold events in three uneven out-of-order batches; the merged state
    must equal the oracle's one-shot full rollup (mergeable partials)."""
    from sparvi_spark.operators.trends import incremental_time_rollup

    ev = load_table(spark, "events", sf_dir)
    state = None
    for m in (2, 0, 1):
        batch = ev.where(F.col("event_id") % 3 == m)
        state = incremental_time_rollup(state, batch, "ts", "event_type",
                                        "value", 6 * 3600)
    return state.select(
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        "key", "n", F.col("sum_dec").cast("double").alias("sum_value"))


SQL_INCREMENTAL_ROLLUP = """
SELECT strftime(to_timestamp(floor(epoch(ts) / 21600) * 21600),
                '%Y-%m-%d %H:%M:%S') AS bucket,
  event_type AS key, count(*) AS n,
  cast(sum(cast(value as decimal(28,8))) as double) AS sum_value
FROM events GROUP BY 1, 2
""".strip()


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparvi_spark.operators.multimodal import extract_audio_features

    docs = capped_docs(spark, sf_dir)
    media = documents_as_media(docs)
    return extract_audio_features(media, fake=True).select(
        "media_id", "duration_s", "sample_rate", "n_channels")


# sample_rate/n_channels NULL-propagate with the payload (the Spark fake
# emits NULL for NULL payloads; documents.text is nullable in the schema)
SQL_AUDIO_FEATURES = f"""
SELECT doc_id AS media_id,
  strlen(text) * cast(1 as double) / 16000 AS duration_s,
  case when text is null then null else cast(16000 as int) end AS sample_rate,
  case when text is null then null else cast(1 as int) end AS n_channels
FROM documents WHERE doc_id < {DOC_CAP}
""".strip()


CHUNK_TOKENS, CHUNK_OVERLAP = 16, 4


def q_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparvi_spark.operators.text import chunk_documents

    docs = capped_docs(spark, sf_dir)
    return chunk_documents(docs, chunk_tokens=CHUNK_TOKENS,
                           overlap=CHUNK_OVERLAP)


SQL_CHUNKING = f"""
WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS tk
           FROM documents WHERE doc_id < {DOC_CAP} AND text IS NOT NULL),
s AS (SELECT doc_id, tk,
        unnest(range(1, greatest(len(tk) - {CHUNK_OVERLAP}, 1) + 1,
                     {CHUNK_TOKENS - CHUNK_OVERLAP})) AS st
      FROM t)
SELECT doc_id, cast((st - 1) // {CHUNK_TOKENS - CHUNK_OVERLAP} as int)
    AS chunk_idx,
  array_to_string(tk[st:st + {CHUNK_TOKENS} - 1], ' ') AS chunk_text,
  cast(len(tk[st:st + {CHUNK_TOKENS} - 1]) as int) AS n_tokens
FROM s
""".strip()


MIX_PROPS = {"src0": 0.5, "src1": 0.3, "src2": 0.2}


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparvi_spark.operators.sampling import mixture_sample

    docs = load_table(spark, "documents", sf_dir)
    out = mixture_sample(docs, "source", "doc_id", MIX_PROPS)
    return out.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("doc_id").cast("bigint").alias("id_checksum"))


def _sql_mixture_sample() -> str:
    vals = ", ".join(f"('{g}', {p})" for g, p in MIX_PROPS.items())
    return f"""
WITH props(source, p) AS (VALUES {vals}),
cnt AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
nout AS (SELECT min(n / p) AS n_out FROM cnt JOIN props USING (source)
         WHERE p > 0),
quota AS (SELECT props.source, cast(floor(n_out * p + 1e-9) as bigint) AS q
          FROM props, nout),
ranked AS (SELECT doc_id, d.source,
  row_number() OVER (PARTITION BY d.source ORDER BY
    {_duck_hash('doc_id')}, doc_id) AS rn
 FROM documents d JOIN props ON d.source = props.source)
SELECT r.source, count(*) AS n_kept, cast(sum(doc_id) as bigint) AS id_checksum
FROM ranked r JOIN quota USING (source) WHERE rn <= q GROUP BY r.source
""".strip()


# not registered (cap): kept for scripts/check_oracle.py local verification
# x18: broadcast-Bloom contamination screen (operators/bloom.py), portable
# hash family. The oracle needs NO bit arithmetic: a bloom hit — false
# positives included — is exactly "all k probe positions are in the union
# of the reference set's probe positions", so DuckDB checks position-SET
# membership while Spark runs the real packed-word filter; the outputs
# (which are what the check hashes) agree bit-for-bit. n_bits is sized
# DOWN (2^14) so real false positives occur at sf0.01 and parity is
# exercised on them, not just on true hits.

BLOOM_BITS, BLOOM_K = 1 << 14, 4


def q_bloom_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparvi_spark.operators.bloom import contamination_bloom

    docs = load_table(spark, "documents", sf_dir)
    ref = docs.where(F.col("source") == CONTAM_REF_SOURCE)
    cand = docs.where(F.col("source") != CONTAM_REF_SOURCE)
    return contamination_bloom(cand, ref, "doc_id", "text", n=CONTAM_N,
                               n_bits=BLOOM_BITS, k=BLOOM_K, portable=True)


def _sql_bloom_contamination() -> str:
    pos = [f"(({a} * h + {b}) % {PORTABLE_P}) % {BLOOM_BITS}"
           for a, b in (_affine_params(j) for j in range(BLOOM_K))]
    ref_union = " UNION ".join(
        f"SELECT {p} AS pos FROM hx WHERE source = '{CONTAM_REF_SOURCE}'"
        for p in pos)
    hit = " AND ".join(f"({p}) IN (SELECT pos FROM refpos)" for p in pos)
    return f"""
WITH toks AS (SELECT doc_id, source, {_DUCK_TOKS} AS t FROM documents),
g AS (SELECT doc_id, source,
        unnest(list_transform(range(1, greatest(len(t) - {CONTAM_N - 1}, 0) + 1),
          i -> concat_ws(' ', t[i], t[i + 1], t[i + 2]))) AS shingle FROM toks),
d AS (SELECT DISTINCT doc_id, source, shingle FROM g),
hx AS (SELECT doc_id, source, {_duck_portable_hash("shingle")} AS h FROM d),
refpos AS ({ref_union}),
cand AS (SELECT doc_id, h, ({hit}) AS hit
         FROM hx WHERE source <> '{CONTAM_REF_SOURCE}')
SELECT doc_id, count(*) AS n_shingles,
  cast(sum(case when hit then 1 else 0 end) as bigint) AS n_contaminated,
  round(sum(case when hit then 1 else 0 end) * cast(1 as double) / count(*), 6)
    AS contamination_frac
FROM cand GROUP BY doc_id
""".strip()


# x21: Gopher-rule quality filter (text.quality_filter) — the keep/drop
# decision layer with per-rule flags; the oracle replays every rule's
# threshold comparison on the same token/line features.


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparvi_spark.operators.text import quality_filter

    docs = load_table(spark, "documents", sf_dir)
    return quality_filter(docs, "text", "doc_id", min_words=10)


def _sql_quality_filter() -> str:
    from sparvi_spark.operators.text import GOPHER_THRESHOLDS, STOPWORDS_EN

    t = dict(GOPHER_THRESHOLDS, min_words=10)
    stops = ", ".join(f"'{w}'" for w in STOPWORDS_EN)
    return f"""
WITH t0 AS (SELECT doc_id, text, {_DUCK_TOKS} AS tk,
              string_split(text, chr(10)) AS ls FROM documents),
f AS (SELECT doc_id, tk, ls, len(tk) AS nt, len(ls) AS nl,
  list_sum(list_transform(tk, x -> length(x))) * cast(1 as double)
    / greatest(len(tk), 1) AS avg_len,
  len(regexp_extract_all(text, '[#@*]|[.][.][.]')) AS sym,
  len(list_filter(tk, x -> regexp_matches(x, '[a-zA-Z]'))) AS alpha,
  len(list_filter(ls, l -> substring(ltrim(l), 1, 1) in ('-', '*')))
    AS bullets,
  len(list_filter(ls, l -> rtrim(l) LIKE '%...')) AS ell,
  len(list_filter(tk, x -> list_contains([{stops}], x))) AS stops
 FROM t0),
g AS (SELECT doc_id,
  coalesce(nt >= {t['min_words']} AND nt <= {t['max_words']}, false)
    AS pass_word_count,
  coalesce(avg_len >= {t['min_avg_word_len']!r}
    AND avg_len <= {t['max_avg_word_len']!r}, false) AS pass_avg_word_len,
  coalesce(sym * cast(1 as double) / greatest(nt, 1)
    <= {t['max_symbol_word_ratio']!r}, false) AS pass_symbol_ratio,
  coalesce(alpha * cast(1 as double) / greatest(nt, 1)
    >= {t['min_alpha_word_frac']!r}, false) AS pass_alpha_frac,
  coalesce(bullets * cast(1 as double) / greatest(nl, 1)
    <= {t['max_bullet_line_frac']!r}, false) AS pass_bullet_lines,
  coalesce(ell * cast(1 as double) / greatest(nl, 1)
    <= {t['max_ellipsis_line_frac']!r}, false) AS pass_ellipsis_lines,
  coalesce(stops >= {t['min_stopword_hits']}, false) AS pass_stopwords
 FROM f)
SELECT *,
  cast((case when pass_word_count then 0 else 1 end)
     + (case when pass_avg_word_len then 0 else 1 end)
     + (case when pass_symbol_ratio then 0 else 1 end)
     + (case when pass_alpha_frac then 0 else 1 end)
     + (case when pass_bullet_lines then 0 else 1 end)
     + (case when pass_ellipsis_lines then 0 else 1 end)
     + (case when pass_stopwords then 0 else 1 end) as int) AS n_failed,
  (pass_word_count AND pass_avg_word_len AND pass_symbol_ratio
   AND pass_alpha_frac AND pass_bullet_lines AND pass_ellipsis_lines
   AND pass_stopwords) AS keep
FROM g
""".strip()


# x22: text normalization (text.clean_text_expr / dedup_lines_expr) —
# whitespace canonicalization and order-preserving in-document line dedup,
# verified string-for-string. DuckDB regexp_replace needs the 'g' flag
# (Spark's is global by default) and real newlines via chr(10) in
# replacements (Java replaceAll escapes backslash-n to 'n').


def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparvi_spark.operators.text import clean_text_expr, dedup_lines_expr

    docs = load_table(spark, "documents", sf_dir)
    return docs.select(
        "doc_id",
        clean_text_expr("text").alias("clean_text"),
        dedup_lines_expr("text").alias("dedup_text"))


SQL_TEXT_NORMALIZE = r"""
WITH c AS (SELECT doc_id,
  regexp_replace(
    regexp_replace(
      regexp_replace(text, '[\x00-\x08\x0b-\x1f]', '', 'g'),
      '[ \t]+', ' ', 'g'),
    ' ?\n ?', chr(10), 'g') AS c1,
  string_split(text, chr(10)) AS ls
 FROM documents)
SELECT doc_id,
  trim(regexp_replace(c1, '\n{3,}', chr(10) || chr(10), 'g')) AS clean_text,
  array_to_string(list_filter(ls, (l, i) ->
    not list_contains(list_slice(ls, 1, i - 1), l)), chr(10)) AS dedup_text
FROM c
""".strip()


# x23: PCA projection (vectors.pca_project_expr) with a pinned synthetic
# mean/components (training collects Spark-side state an import-time SQL
# string cannot reproduce; it is unit-tested against numpy). Both engines
# evaluate the same fold — centered zip_with product, left-associated from
# a 0.0 seed — so coordinates match bit-for-bit after round(12).

PCA_K, PCA_DIM = 4, 64


def _pca_fixture() -> tuple[list[float], list[list[float]]]:
    mean = [((d * 37) % 11 - 5) / 10.0 for d in range(PCA_DIM)]
    comps = [[((j * 131 + d * 29) % 17 - 8) / 20.0 for d in range(PCA_DIM)]
             for j in range(PCA_K)]
    return mean, comps


def q_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparvi_spark.operators.vectors import pca_project_expr

    mean, comps = _pca_fixture()
    emb = load_table(spark, "embeddings", sf_dir)
    return emb.select(
        "vec_id",
        pca_project_expr("embedding", mean, comps, round_to=12).alias("pca"))


def _sql_pca_project() -> str:
    mean, comps = _pca_fixture()
    mean_lit = "[" + ", ".join(repr(x) for x in mean) + "]"
    comp_lits = ", ".join(
        "[" + ", ".join(repr(x) for x in c) + "]" for c in comps)
    centered = (f"list_transform(range(1, {PCA_DIM} + 1), i -> "
                f"cast(embedding[i] as double) - ({mean_lit})[i])")
    return f"""
WITH c AS (SELECT vec_id, {centered} AS ctr FROM embeddings)
SELECT vec_id, list_transform([{comp_lits}], w ->
  round(list_reduce(list_prepend(cast(0 as double),
    list_transform(range(1, {PCA_DIM} + 1), i -> ctr[i] * w[i])),
    (acc, v) -> acc + v), 12)) AS pca
FROM c
""".strip()


# x19: product-quantization encode + ADC search (operators/similarity.py
# pq_*). The check pins a FIXED synthetic codebook (the trained path is
# unit-tested for recall; training collects Spark-side state that an
# import-time SQL string cannot reproduce) and verifies the quantizer
# mechanics end-to-end: both engines compute identical left-associated
# squared-distance chains, take the FIRST minimum (array_position /
# list_indexof both scan left-to-right, so ties break to the smaller
# code), and score pairs by m table lookups.

PQ_M, PQ_K, PQ_DIM, PQ_TOPK, PQ_NQUERIES = 4, 8, 64, 10, 10


def _pq_books() -> list[list[list[float]]]:
    sub = PQ_DIM // PQ_M
    return [[[((s * 131 + c * 31 + d * 17) % 23 - 11) / 10.0
              for d in range(sub)] for c in range(PQ_K)] for s in range(PQ_M)]


def q_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparvi_spark.operators.similarity import pq_encode, pq_topk

    emb = load_table(spark, "embeddings", sf_dir)
    books = _pq_books()
    codes = pq_encode(emb, books)
    queries = emb.where(F.col("vec_id") < PQ_NQUERIES)
    return pq_topk(codes, queries, books, k=PQ_TOPK)


def _sql_pq_adc() -> str:
    books = _pq_books()
    sub = PQ_DIM // PQ_M

    def dists(vec: str, s: int) -> str:
        # identical IEEE order to similarity._l2_dists_expr: fold over
        # per-dim terms in index order from a 0.0 seed; DuckDB lists are
        # 1-based and have no zip, so the term list comes from range()
        books_lit = ", ".join(
            "[" + ", ".join(repr(x) for x in c) + "]" for c in books[s])
        sl = f"list_slice({vec}, {s * sub + 1}, {s * sub + sub})"
        return (
            f"list_transform([{books_lit}], c -> "
            f"list_reduce(list_prepend(cast(0 as double), "
            f"list_transform(range(1, {sub} + 1), i -> "
            f"(cast({sl}[i] as double) - c[i]) * "
            f"(cast({sl}[i] as double) - c[i]))), "
            f"(acc, v) -> acc + v))")

    code_cols = ", ".join(
        f"list_indexof({dists('embedding', s)}, "
        f"list_min({dists('embedding', s)})) - 1 AS c{s}"
        for s in range(PQ_M))
    qt_cols = ", ".join(
        f"{dists('embedding', s)} AS qt{s}" for s in range(PQ_M))
    score = " + ".join(f"q.qt{s}[c.c{s} + 1]" for s in range(PQ_M))
    return f"""
WITH c AS (SELECT vec_id, {code_cols} FROM embeddings),
q AS (SELECT vec_id AS query_id, {qt_cols} FROM embeddings
      WHERE vec_id < {PQ_NQUERIES}),
scored AS (SELECT q.query_id, c.vec_id AS neighbor_id,
             {score} AS adc FROM c, q WHERE c.vec_id <> q.query_id)
SELECT query_id, neighbor_id, rank, round(adc, 6) AS adc_dist FROM (
  SELECT query_id, neighbor_id, adc,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY adc ASC, neighbor_id ASC) AS rank
  FROM scored) WHERE rank <= {PQ_TOPK}
""".strip()


# x20: z-order clustering key (sources/layout.py). The Spark side inlines
# driver-collected min/max as double literals; the oracle computes the
# same stats in a subquery — identical doubles, so the linear rank
# ((v-mn)/(mx-mn)*2^bits, floored, clamped) and the bit interleave agree
# exactly. Covers bigint, double, and timestamp (epoch-seconds) columns.

ZORDER_BITS, ZORDER_CAP = 12, 1000
ZORDER_COLS = ["user_id", "value", "ts"]


def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparvi_spark.sources.layout import zorder_key_expr

    ev = load_table(spark, "events", sf_dir)
    return (ev.select(
        "event_id",
        zorder_key_expr(ev, ZORDER_COLS, bits=ZORDER_BITS).alias("zkey"))
        .where(F.col("event_id") < ZORDER_CAP))


def _sql_zorder_key() -> str:
    n, bits = len(ZORDER_COLS), ZORDER_BITS
    top = (1 << bits) - 1

    def rank(col: str, mn: str, mx: str) -> str:
        v = f"epoch({col})" if col == "ts" else f"cast({col} as double)"
        return (f"cast(least(floor(({v} - {mn}) / ({mx} - {mn}) "
                f"* {top + 1}), {top}) as bigint)")

    stats = ", ".join(
        f"{'epoch(' if c == 'ts' else 'cast('}"
        f"{f'min({c})) ' if c == 'ts' else f'min({c}) as double) '}AS mn_{c}, "
        f"{'epoch(' if c == 'ts' else 'cast('}"
        f"{f'max({c})) ' if c == 'ts' else f'max({c}) as double) '}AS mx_{c}"
        for c in ZORDER_COLS)
    parts = []
    for i, c in enumerate(ZORDER_COLS):
        r = rank(c, f"mn_{c}", f"mx_{c}")
        parts.append(
            f"(list_reduce(list_prepend(cast(0 as bigint), "
            f"list_transform(range(0, {bits}), b -> "
            f"((({r}) >> b) & 1) << (b * {n} + {i}))), "
            f"(acc, v) -> acc | v))")
    return f"""
WITH s AS (SELECT {stats} FROM events)
SELECT event_id, {' | '.join(parts)} AS zkey
FROM events, s WHERE event_id < {ZORDER_CAP}
""".strip()


def q_neardup_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus near-dup pairs (near-dup-level decontamination),
    portable-hash mode: candidate = non-src0 docs, reference = src0 docs.
    The oracle recomputes the identical polynomial/affine/band pipeline
    with the two sides split by source."""
    from sparvi_spark.operators.dedup import minhash_lsh_pairs_cross

    docs = capped_docs(spark, sf_dir)
    cand = docs.where(F.col("source") != "src0")
    ref = docs.where(F.col("source") == "src0")
    return minhash_lsh_pairs_cross(
        cand, ref, "doc_id", "text", n=1, num_hashes=MH_HASHES,
        bands=MH_BANDS, threshold=JACCARD_T, hash_fn="portable")


def _sql_neardup_cross() -> str:
    return f"""
WITH {_duck_minhash_ctes()},
cands AS (SELECT DISTINCT a.id AS id, b.id AS ref_id
          FROM banded a JOIN banded b ON a.band = b.band AND a.bh = b.bh
          WHERE a.src <> 'src0' AND b.src = 'src0'),
sz AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
shared AS (SELECT c.id, c.ref_id, count(*) AS shared
           FROM cands c
           JOIN sh a ON a.id = c.id
           JOIN sh b ON b.id = c.ref_id AND b.shingle = a.shingle
           GROUP BY c.id, c.ref_id)
SELECT shared.id AS id, shared.ref_id AS ref_id,
  round(shared * cast(1 as double) / (x.sz + y.sz - shared), 6) AS jaccard
FROM shared JOIN sz x ON shared.id = x.id JOIN sz y ON shared.ref_id = y.id
WHERE round(shared * cast(1 as double) / (x.sz + y.sz - shared), 6)
      >= {JACCARD_T}
""".strip()


SIG_EST_T = 0.25


def q_sig_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature-only cross pairs (Engine.dedup_corpus_incremental's
    stage-2 estimator, dedup.minhash_pairs_from_sigs), portable mode: the
    oracle recomputes the identical signatures, band hashes, AND the
    matching-component fraction bit-for-bit — proving the stateless
    estimator path end to end."""
    from sparvi_spark.operators.dedup import (
        minhash_pairs_from_sigs, minhash_signatures)

    docs = capped_docs(spark, sf_dir)
    new_sigs = minhash_signatures(
        docs.where(F.col("source") != "src0"), "doc_id", "text",
        n=1, num_hashes=MH_HASHES, hash_fn="portable").select(
        F.col("doc_id").alias("id"), "sig")
    ref_sigs = minhash_signatures(
        docs.where(F.col("source") == "src0"), "doc_id", "text",
        n=1, num_hashes=MH_HASHES, hash_fn="portable").select(
        F.col("doc_id").alias("ref_id"), "sig")
    return minhash_pairs_from_sigs(
        new_sigs, ref_sigs, num_hashes=MH_HASHES, bands=MH_BANDS,
        threshold=SIG_EST_T, hash_fn="portable")


def _sql_sig_pairs() -> str:
    match = " + ".join(
        f"(CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END)"
        for i in range(MH_HASHES))
    return f"""
WITH {_duck_minhash_ctes()},
cands AS (SELECT DISTINCT a.id AS id, b.id AS ref_id
          FROM banded a JOIN banded b ON a.band = b.band AND a.bh = b.bh
          WHERE a.src <> 'src0' AND b.src = 'src0'),
est AS (SELECT c.id, c.ref_id,
          round(({match}) / cast({MH_HASHES} as double), 6) AS est_jaccard
        FROM cands c JOIN sig a ON a.id = c.id AND a.src <> 'src0'
        JOIN sig b ON b.id = c.ref_id AND b.src = 'src0')
SELECT id, ref_id, est_jaccard FROM est WHERE est_jaccard >= {SIG_EST_T}
""".strip()


NB_DIM = 512


def q_token_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed half of NB classifier training
    (classify.token_bucket_counts): per-hash-bucket class counts, label =
    (lang = 'en'). Exact integers — the oracle replays the identical
    portable token hash and grouping bit-for-bit. The driver-side log-odds
    math on top is engine-independent Python
    (test_train_nb_classifier_separates_and_matches_reference)."""
    from sparvi_spark.operators.classify import token_bucket_counts

    docs = (capped_docs(spark, sf_dir)
            .selectExpr("text", "cast(lang = 'en' as int) AS y"))
    return token_bucket_counts(docs, "y", dim=NB_DIM)


def _sql_token_buckets() -> str:
    return f"""
WITH t AS (SELECT cast(lang = 'en' as int) AS y, unnest({_DUCK_TOKS}) AS tk
           FROM documents WHERE doc_id < {DOC_CAP}),
h AS (SELECT y, cast({_duck_portable_hash("tk")} % {NB_DIM} as int) AS bucket
      FROM t)
SELECT bucket, cast(sum(y) as bigint) AS n_pos,
  cast(sum(1 - y) as bigint) AS n_neg FROM h GROUP BY bucket
""".strip()


def q_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide line dedup (C4 boilerplate rule, text.dedup_lines_corpus)
    — the testdata text is single-line, so both engines build the SAME
    deterministic 3-line docs (content prefix + a shared footer + the lang
    tag): the footer is hot everywhere, lang lines are hot per language
    group, content lines are mostly unique. exact mode (string keys); the
    8-byte-hash scale path is proven equal in test_dedup_lines_corpus_c4_rule."""
    from sparvi_spark.operators.text import dedup_lines_corpus

    docs = (capped_docs(spark, sf_dir)
            .selectExpr(
                "doc_id",
                "concat(substring(coalesce(text, ''), 1, 40), '\\n', "
                "'standard footer line', '\\n', lang) AS text"))
    return dedup_lines_corpus(docs, "doc_id", "text", min_count=3,
                              hash_mode="exact").select(
        "doc_id", "text_clean", "n_lines_removed")


SQL_DEDUP_LINES = f"""
WITH d AS (SELECT doc_id,
             concat(substring(coalesce(text, ''), 1, 40), chr(10),
                    'standard footer line', chr(10), lang) AS s
           FROM documents WHERE doc_id < {DOC_CAP}),
l AS (SELECT doc_id, cast(i as int) AS li,
        list_extract(string_split(s, chr(10)), i) AS line
      FROM d, unnest(range(1, len(string_split(s, chr(10))) + 1)) u(i)),
hot AS (SELECT line FROM l GROUP BY line HAVING count(*) >= 3)
SELECT doc_id,
  coalesce(string_agg(CASE WHEN line NOT IN (SELECT line FROM hot)
                           THEN line END, chr(10) ORDER BY li), '')
    AS text_clean,
  cast(count(CASE WHEN line IN (SELECT line FROM hot) THEN 1 END) as int)
    AS n_lines_removed
FROM l GROUP BY doc_id
""".strip()


def q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff (operators/corpus.py): both engines derive
    old (doc_id < 400) and new (100 <= doc_id < 500, every 7th doc's
    text rewritten) from the same base table, so added/removed/modified
    statuses must agree exactly. The Spark side compares 8-byte xxhash64
    projections (the join never carries text); the oracle compares the
    text itself — equal verdicts unless a 64-bit collision hides a
    modification."""
    from sparvi_spark.operators.corpus import corpus_diff

    docs = load_table(spark, "documents", sf_dir)
    old = docs.where(F.col("doc_id") < 400).select("doc_id", "text")
    new = (docs.where((F.col("doc_id") >= 100) & (F.col("doc_id") < 500))
           .selectExpr(
               "doc_id",
               "case when doc_id % 7 = 0 then concat(coalesce(text, ''), "
               "' rewritten') else text end AS text"))
    return corpus_diff(old, new)


SQL_CORPUS_DIFF = """
WITH old AS (SELECT doc_id, text FROM documents WHERE doc_id < 400),
new AS (SELECT doc_id,
          CASE WHEN doc_id % 7 = 0
               THEN concat(coalesce(text, ''), ' rewritten')
               ELSE text END AS text
        FROM documents WHERE doc_id >= 100 AND doc_id < 500),
j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        o.doc_id IS NULL AS is_added, n.doc_id IS NULL AS is_removed,
        coalesce(o.text, chr(1)) <> coalesce(n.text, chr(1)) AS is_mod
      FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id)
SELECT doc_id, CASE WHEN is_added THEN 'added'
                    WHEN is_removed THEN 'removed'
                    WHEN is_mod THEN 'modified' END AS status
FROM j WHERE is_added OR is_removed OR is_mod
""".strip()


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction parity: deterministic PII spans are appended to each
    doc (both engines build the identical input), then the chained
    regexp_replace pipeline must rewrite them identically and agree on the
    insertion count."""
    from sparvi_spark.operators.text import redact_pii

    docs = (load_table(spark, "documents", sf_dir)
            .where(F.col("doc_id") < 100)
            .select("doc_id", F.concat(
                F.coalesce(F.col("text"), F.lit("")),
                F.lit(" contact a"), F.col("doc_id").cast("string"),
                F.lit("@ex.org or https://ex.org/p"),
                F.col("doc_id").cast("string"),
                F.lit(" ip 10.0.0."), (F.col("doc_id") % 256).cast("string"),
            ).alias("text")))
    return redact_pii(docs, "text").select(
        "doc_id", "text_redacted", "n_redactions")


def _sql_pii_redact() -> str:
    from sparvi_spark.operators.text import PII_PATTERNS

    order = ["email", "ipv4", "phone", "url"]
    inner = ("concat(coalesce(text, ''), ' contact a', cast(doc_id as varchar), "
             "'@ex.org or https://ex.org/p', cast(doc_id as varchar), "
             "' ip 10.0.0.', cast(doc_id % 256 as varchar))")
    redacted, counts = inner, []
    for name in order:
        rx = PII_PATTERNS[name].replace("'", "''")
        counts.append(
            f"cast(len(regexp_extract_all({redacted}, '{rx}')) as bigint)")
        redacted = f"regexp_replace({redacted}, '{rx}', '<{name}>', 'g')"
    return (
        f"SELECT doc_id, {redacted} AS text_redacted, "
        f"({' + '.join(counts)}) AS n_redactions "
        f"FROM documents WHERE doc_id < 100"
    )


def q_topk_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable top-K sketch (incremental P8): per-source truncated value
    counts folded to the global top-5 languages. Exact here because each
    partition's kept set (k*oversample = 40) covers its distinct langs —
    the documented exactness condition — so the DuckDB oracle is the plain
    global top-k with the profiler's tie-break."""
    from sparvi_spark.operators.incremental import (
        partition_topk_sketch,
        sketch_topk,
    )

    docs = load_table(spark, "documents", sf_dir)
    sk = partition_topk_sketch(docs, "source", ["lang"], k=5, oversample=8)
    return sketch_topk(sk, k=5)


SQL_TOPK_SKETCH = """
SELECT column_name, value, cnt, rank FROM (
  SELECT 'lang' AS column_name, cast(lang AS varchar) AS value,
         cast(count(*) AS bigint) AS cnt,
         cast(row_number() OVER (ORDER BY count(*) DESC,
              cast(lang AS varchar) ASC) AS int) AS rank
  FROM documents WHERE lang IS NOT NULL GROUP BY lang) t
WHERE rank <= 5
""".strip()


# ---------------------------------------------------------------------------
# e07 sequence packing (concat-and-chop context windows, shard-local)
# ---------------------------------------------------------------------------

PACK_CTX = 128
PACK_SHARDS = 3


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparvi_spark.operators.text import pack_sequences

    docs = load_table(spark, "documents", sf_dir).withColumn(
        "shard_key", F.pmod(F.col("doc_id"), F.lit(PACK_SHARDS)))
    packed = pack_sequences(docs, PACK_CTX, shard_col="shard_key")
    return packed.withColumn("n_tokens", F.col("n_tokens").cast("int"))


SQL_PACK_SEQUENCES = f"""
WITH t AS (SELECT doc_id % {PACK_SHARDS} AS shard, doc_id,
             len({_DUCK_TOKS}) AS n_tokens
           FROM documents WHERE text IS NOT NULL),
c AS (SELECT shard, doc_id, n_tokens,
        sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum
      FROM t WHERE n_tokens > 0),
s AS (SELECT shard, doc_id, n_tokens, cum,
        unnest(generate_series(cast((cum - n_tokens) // {PACK_CTX} as bigint),
                               cast((cum - 1) // {PACK_CTX} as bigint)))
          AS pack_id
      FROM c)
SELECT shard, doc_id, cast(n_tokens as int) AS n_tokens,
  cast(pack_id as bigint) AS pack_id,
  cast(pack_id - (cum - n_tokens) // {PACK_CTX} as int) AS seg_idx,
  cast(greatest(pack_id * {PACK_CTX}, cum - n_tokens) - (cum - n_tokens)
       as bigint) AS seg_start,
  cast(least((pack_id + 1) * {PACK_CTX}, cum)
       - greatest(pack_id * {PACK_CTX}, cum - n_tokens) as bigint)
    AS seg_tokens
FROM s
""".strip()


# ---------------------------------------------------------------------------
# e15 whole-document bin packing (next-fit-decreasing, shard-local) — the
# no-split complement of e09's concat-and-chop; the oracle replays the
# sequential next-fit with a recursive CTE, bit for bit
# ---------------------------------------------------------------------------

BINPACK_CTX = 96


def q_binpack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparvi_spark.operators.text import pack_sequences_binpack

    docs = capped_docs(spark, sf_dir)
    return pack_sequences_binpack(docs, BINPACK_CTX,
                                  n_shards=PACK_SHARDS,
                                  shard_method="portable")


def _sql_binpack() -> str:
    return f"""
WITH RECURSIVE raw AS (
  SELECT cast(({_duck_hash('doc_id')}) % {PACK_SHARDS} as int) AS shard,
    doc_id, len({_DUCK_TOKS}) AS rawn
  FROM documents WHERE doc_id < {DOC_CAP}),
t AS (SELECT shard, doc_id,
        least(rawn, {BINPACK_CTX}) AS n_tokens,
        rawn > {BINPACK_CTX} AS truncated
      FROM raw WHERE rawn IS NOT NULL AND rawn > 0),
d AS (SELECT *, row_number() OVER (PARTITION BY shard
        ORDER BY n_tokens DESC, doc_id ASC) AS rn
      FROM t),
step AS (
  SELECT shard, rn, doc_id, n_tokens, truncated,
    cast(0 as bigint) AS pack_idx, n_tokens AS pack_fill
  FROM d WHERE rn = 1
  UNION ALL
  SELECT d.shard, d.rn, d.doc_id, d.n_tokens, d.truncated,
    CASE WHEN s.pack_fill + d.n_tokens <= {BINPACK_CTX}
         THEN s.pack_idx ELSE s.pack_idx + 1 END,
    CASE WHEN s.pack_fill + d.n_tokens <= {BINPACK_CTX}
         THEN s.pack_fill + d.n_tokens ELSE d.n_tokens END
  FROM step s JOIN d ON d.shard = s.shard AND d.rn = s.rn + 1
)
SELECT shard, doc_id, cast(n_tokens as bigint) AS n_tokens, truncated,
  pack_idx, cast(pack_fill as bigint) AS pack_fill
FROM step
""".strip()


# ---------------------------------------------------------------------------
# x24/x25: distribution drift between snapshots (operators/drift.py) —
# baseline = orders before 1998, current = 1998+. tvd/chi2 are pure IEEE
# basic arithmetic over exact integer counts (decimal-routed sums), so they
# value-hash; psi (transcendental ln) is dropped from the oracle projection
# and covered by the numpy unit test instead.
# ---------------------------------------------------------------------------

DRIFT_SPLIT = "1998-01-01 00:00:00"
DRIFT_COLS = ["o_totalprice", "o_custkey"]
DRIFT_BINS = 10


def q_numeric_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparvi_spark.operators.drift import numeric_drift

    orders = load_table(spark, "orders", sf_dir)
    split = F.lit(DRIFT_SPLIT).cast("timestamp")
    return numeric_drift(
        orders.where(F.col("o_orderdate") < split),
        orders.where(F.col("o_orderdate") >= split),
        DRIFT_COLS, bins=DRIFT_BINS,
    ).select("column_name", "n_expected", "n_actual", "tvd", "chi2")


def _sql_numeric_drift() -> str:
    b = DRIFT_BINS
    melt = " UNION ALL ".join(
        f"SELECT '{c}' AS column_name, cast({c} as double) AS v, "
        f"CASE WHEN o_orderdate < TIMESTAMP '{DRIFT_SPLIT}' "
        f"THEN 'e' ELSE 'a' END AS side "
        f"FROM orders WHERE {c} IS NOT NULL"
        for c in DRIFT_COLS)
    pe = f"((ce + 0.5) / (ne + 0.5 * {b}))"
    pa = f"((ca + 0.5) / (na + 0.5 * {b}))"
    # closed-form smoothing term for bins empty on BOTH sides (mirrors
    # drift_metrics' missing-bin correction bit for bit)
    pe0 = f"(0.5 / (cast(max(ne) as double) + 0.5 * {b}))"
    pa0 = f"(0.5 / (cast(max(na) as double) + 0.5 * {b}))"
    return f"""
WITH m AS ({melt}),
edges AS (SELECT column_name,
    min(CASE WHEN side = 'e' THEN v END) AS mn,
    max(CASE WHEN side = 'e' THEN v END) AS mx
  FROM m GROUP BY 1),
binned AS (SELECT m.column_name, side,
    CASE WHEN mx > mn
         THEN greatest(least(floor((v - mn) / (mx - mn) * {b}), {b} - 1), 0)
         ELSE 0 END AS bkt
  FROM m JOIN edges USING (column_name)),
counts AS (SELECT column_name, bkt,
    count(CASE WHEN side = 'e' THEN 1 END) AS ce,
    count(CASE WHEN side = 'a' THEN 1 END) AS ca
  FROM binned GROUP BY 1, 2),
terms AS (SELECT column_name, ce, ca,
    sum(ce) OVER (PARTITION BY column_name) AS ne,
    sum(ca) OVER (PARTITION BY column_name) AS na
  FROM counts),
t2 AS (SELECT column_name, ne, na,
    cast(round(abs({pa} - {pe}), 15) as decimal(38,18)) AS tvd_t,
    cast(round(({pa} - {pe}) * ({pa} - {pe}) / {pe}, 15)
         as decimal(38,18)) AS chi2_t
  FROM terms)
SELECT column_name,
  cast(max(ne) as bigint) AS n_expected,
  cast(max(na) as bigint) AS n_actual,
  round(cast((sum(tvd_t) + cast(round(cast({b} - count(*) as double) *
    abs({pa0} - {pe0}), 15) as decimal(38,18)))
    * 0.5 as double), 9) AS tvd,
  round(cast(sum(chi2_t) + cast(round(cast({b} - count(*) as double) *
    (({pa0} - {pe0}) * ({pa0} - {pe0}) / {pe0}), 15)
         as decimal(38,18)) as double), 9) AS chi2
FROM t2 GROUP BY 1
""".strip()


def q_categorical_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparvi_spark.operators.drift import categorical_drift

    orders = load_table(spark, "orders", sf_dir)
    split = F.lit(DRIFT_SPLIT).cast("timestamp")
    return categorical_drift(
        orders.where(F.col("o_orderdate") < split),
        orders.where(F.col("o_orderdate") >= split),
        "o_orderpriority")


def _sql_categorical_drift() -> str:
    return f"""
WITH e AS (SELECT coalesce(cast(o_orderpriority as varchar), '<<NULL>>')
      AS category, count(*) AS c_e
    FROM orders WHERE o_orderdate < TIMESTAMP '{DRIFT_SPLIT}' GROUP BY 1),
a AS (SELECT coalesce(cast(o_orderpriority as varchar), '<<NULL>>')
      AS category, count(*) AS c_a
    FROM orders WHERE o_orderdate >= TIMESTAMP '{DRIFT_SPLIT}' GROUP BY 1),
b AS (SELECT category,
    coalesce(c_e, 0) AS c_e, coalesce(c_a, 0) AS c_a
  FROM e FULL OUTER JOIN a USING (category)),
w AS (SELECT category, c_e, c_a,
    sum(c_e) OVER () AS ne, sum(c_a) OVER () AS na FROM b),
p AS (SELECT category,
    round(cast(c_e as double) / ne, 9) AS p_expected,
    round(cast(c_a as double) / na, 9) AS p_actual,
    round(cast(c_a as double) / na - cast(c_e as double) / ne, 9) AS delta
  FROM w)
SELECT category, p_expected, p_actual, delta, abs(delta) AS abs_delta
FROM p ORDER BY abs_delta DESC, category
""".strip()


# ---------------------------------------------------------------------------
# x26: training-data shard plan (sources/export.py) — portable-hash shard
# assignment recomputed bit-for-bit by DuckDB, per-shard counts + id spans.
# ---------------------------------------------------------------------------

N_SHARDS = 8


def q_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparvi_spark.sources.export import shard_plan

    docs = load_table(spark, "documents", sf_dir)
    return shard_plan(docs, "doc_id", N_SHARDS, method="portable")


def _sql_shard_plan() -> str:
    from sparvi_spark.operators.sampling import HASH_A, HASH_B, HASH_M

    shard = (f"cast(((doc_id * {HASH_A} + {HASH_B}) % {HASH_M}) "
             f"% {N_SHARDS} as int)")
    return f"""
SELECT {shard} AS shard, cast(count(*) as bigint) AS n_rows,
  min(doc_id) AS min_id, max(doc_id) AS max_id
FROM documents GROUP BY 1 ORDER BY 1
""".strip()


# ---------------------------------------------------------------------------
# x27: hashed linear classifier scoring (operators/classify.py) — a
# deterministic pseudo-model (weights from an affine generator, so both
# sides build the identical quantized table); margins are exact integer
# sums + one IEEE division, so they value-hash bit-for-bit.
# ---------------------------------------------------------------------------

CLF_DIM = 256
CLF_BIAS = 0.05


def _clf_weights() -> list[float]:
    return [(((j + 1) * 2654435761) % 1000003) / 1000003 - 0.5
            for j in range(CLF_DIM)]


def q_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compared columns are the EXACT ones: int64 feature_sum + token
    count + the unrounded-sign label. The margin double is identical in
    both engines but its decimal rounding is not (shortest-repr HALF_UP
    vs binary-value rounding diverge on tie digits — observed at sf0.1),
    so the rounded margin stays out of the hash."""
    from sparvi_spark.operators.classify import linear_scores

    docs = load_table(spark, "documents", sf_dir)
    return linear_scores(docs, _clf_weights(), bias=CLF_BIAS,
                         emit_sum=True).select(
        "doc_id", "n_tokens", "feature_sum", "label")


def _sql_classifier_scores() -> str:
    from sparvi_spark.operators.classify import (
        WEIGHT_SCALE,
        quantize_weights,
    )
    qw = quantize_weights(_clf_weights())
    wlist = "[%s]" % ", ".join(str(w) for w in qw)
    tok_hash = _duck_portable_hash("t")
    return f"""
WITH d AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, len(toks) AS n_tokens,
        list_reduce(list_prepend(cast(0 as bigint),
          list_transform(toks, t ->
            cast({wlist}[cast(({tok_hash}) % {CLF_DIM} as int) + 1]
                 as bigint))),
          (a, b) -> a + b) AS fsum
      FROM d),
m AS (SELECT doc_id, n_tokens, fsum,
        ({CLF_BIAS} + cast(fsum as double) / {WEIGHT_SCALE}.0)
          / cast(n_tokens as double) AS margin
      FROM s)
SELECT doc_id, cast(n_tokens as int) AS n_tokens,
  cast(fsum as bigint) AS feature_sum, margin > 0.0 AS label
FROM m
""".strip()



def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x28: self-scored bigram LM (operators/lm.py) — probabilities are
    exact-integer ratios; per-doc means route through decimal."""
    from sparvi_spark.operators.lm import self_lm_score

    return self_lm_score(load_table(spark, "documents", sf_dir))


SQL_LM_SCORE = f"""
WITH d AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
bg0 AS (SELECT doc_id,
          unnest(list_transform(range(1, len(toks)),
            i -> {{'w1': toks[i], 'w2': toks[i + 1]}})) AS p
        FROM d WHERE len(toks) >= 2),
bg AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM bg0),
cb AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
cx AS (SELECT w1, sum(c12) AS c1 FROM cb GROUP BY 1),
vz AS (SELECT count(DISTINCT w) AS v
       FROM (SELECT unnest(toks) AS w FROM d)),
s AS (SELECT b.doc_id,
        cast(round((c12 + 0.5) / (c1 + 0.5 * v), 15)
             as decimal(38,18)) AS p
      FROM bg b JOIN cb USING (w1, w2) JOIN cx USING (w1) CROSS JOIN vz)
SELECT doc_id, cast(count(*) as bigint) AS n_bigrams,
  round(cast(sum(p) as double) / count(*), 9) AS avg_p
FROM s GROUP BY 1
""".strip()



SPLIT_FRACTIONS = {"train": 0.8, "val": 0.1, "test": 0.1}


def q_eval_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x29: deterministic eval-split assignment (sources/export.py),
    portable-hash cutoffs recomputed bit-for-bit by DuckDB."""
    from sparvi_spark.sources.export import eval_split_expr

    docs = load_table(spark, "documents", sf_dir)
    return (docs.select("doc_id",
                        eval_split_expr("doc_id", SPLIT_FRACTIONS,
                                        method="portable"))
            .groupBy("split").agg(F.expr("count(1)").alias("n"),
                                  F.expr("min(doc_id)").alias("min_id"))
            .orderBy("split"))


def _sql_eval_split() -> str:
    from sparvi_spark.operators.sampling import HASH_A, HASH_B, HASH_M

    h = f"((doc_id * {HASH_A} + {HASH_B}) % {HASH_M})"
    names = list(SPLIT_FRACTIONS)
    cum, whens = 0.0, []
    for name in names[:-1]:
        cum += SPLIT_FRACTIONS[name]
        whens.append(f"WHEN {h} < {int(cum * HASH_M)} THEN '{name}'")
    case = "CASE " + " ".join(whens) + f" ELSE '{names[-1]}' END"
    return f"""
SELECT {case} AS split, cast(count(*) as bigint) AS n,
  min(doc_id) AS min_id
FROM documents GROUP BY 1 ORDER BY 1
""".strip()


def q_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE encode with num_merges=0 — the degenerate model where every
    word becomes chars + the end-of-word marker, so n_tokens is exactly
    SQL-computable (non-whitespace char count + word count) and n_unk
    must be 0 (vocab trained on the same slice). This oracle-checks the
    whole Arrow/mapInPandas machinery (normalization, memoized word
    encode, vocab lookup, output schema); the merge path is covered by
    unit tests (greedy order is not SQL-expressible)."""
    from sparvi_spark.operators.tokenize import bpe_encode, train_bpe

    docs = capped_docs(spark, sf_dir)
    model = train_bpe(docs, num_merges=0, text_col="text")
    enc = bpe_encode(docs, model)
    return enc.selectExpr(
        "doc_id",
        "n_tokens",
        "cast(size(filter(token_ids, t -> t = 0)) as int) AS n_unk")


SQL_BPE_TOKENIZE = f"""
WITH t AS (SELECT doc_id, lower(trim(coalesce(text, ''))) AS s
           FROM documents WHERE doc_id < {DOC_CAP})
SELECT doc_id,
  cast(length(regexp_replace(s, '\\s', '', 'g'))
       + len(list_filter(string_split_regex(s, '\\s+'), x -> x <> ''))
       as int) AS n_tokens,
  cast(0 as int) AS n_unk
FROM t
""".strip()


# ---------------------------------------------------------------------------
# x30: SemDeDup (dedup.semantic_dedup) — literal pinned centroids so the
# oracle replays the identical map-only L2 assignment (same fold order as
# similarity._l2_dists_expr / the x19 ADC oracle), the identical
# within-cluster fold-cosine pair search, and the identical greedy
# keep-smallest policy. k-means training itself is covered by unit tests
# (test_semantic_dedup_matches_numpy_reference trains live).
# ---------------------------------------------------------------------------

SEM_CAP, SEM_K, SEM_DIM, SEM_T = 150, 4, 64, 0.3


def _sem_centroids() -> list[list[float]]:
    return [[((c * 37 + d * 11) % 19 - 9) / 10.0 for d in range(SEM_DIM)]
            for c in range(SEM_K)]


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparvi_spark.operators.dedup import semantic_dedup

    emb = (load_table(spark, "embeddings", sf_dir)
        .where(F.col("vec_id") < SEM_CAP).coalesce(8))
    kept = semantic_dedup(emb, "vec_id", "embedding", threshold=SEM_T,
                          centroids=_sem_centroids(), pair_backend="fold")
    return kept.select("vec_id", "label")


def _sql_semantic_dedup() -> str:
    cents = ", ".join(
        "[" + ", ".join(repr(x) for x in c) + "]" for c in _sem_centroids())
    dists = (
        f"list_transform([{cents}], c -> "
        f"list_reduce(list_prepend(cast(0 as double), "
        f"list_transform(range(1, {SEM_DIM} + 1), i -> "
        f"(cast(embedding[i] as double) - c[i]) * "
        f"(cast(embedding[i] as double) - c[i]))), "
        f"(acc, v) -> acc + v))")
    return f"""
WITH v AS (SELECT vec_id, label, embedding FROM embeddings
           WHERE vec_id < {SEM_CAP}),
a AS (SELECT vec_id, label, embedding,
        list_indexof({dists}, list_min({dists})) - 1 AS cl FROM v),
p AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b,
        {_duck_cosine('x.embedding', 'y.embedding')} AS cosine
      FROM a x JOIN a y ON x.cl = y.cl AND x.vec_id < y.vec_id),
dups AS (SELECT DISTINCT id_b FROM p WHERE cosine >= {SEM_T})
SELECT vec_id, label FROM v WHERE vec_id NOT IN (SELECT id_b FROM dups)
""".strip()


# ---------------------------------------------------------------------------
# x31: exact duplicate-passage spans (dedup.duplicate_spans, ExactSubstr
# analogue) — gram_mode="exact" keys windows by the token string itself,
# so the oracle replays the same positional n-grams, corpus-wide counts,
# and island merge. The 8-byte hash scale path is proven equal to exact
# mode in test_duplicate_spans_matches_reference.
# ---------------------------------------------------------------------------

SPAN_N = 8


SPAN_CAP = 500  # duplicated docs live across the id range; plan is linear


def q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparvi_spark.operators.dedup import duplicate_spans

    docs = (load_table(spark, "documents", sf_dir)
            .where(F.col("doc_id") < SPAN_CAP).coalesce(8))
    return duplicate_spans(docs, "doc_id", "text", n=SPAN_N,
                           gram_mode="exact")


SQL_DUPLICATE_SPANS = f"""
WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS tk FROM documents
           WHERE doc_id < {SPAN_CAP}),
w AS (SELECT doc_id, cast(i - 1 as int) AS pos,
        array_to_string(list_slice(tk, i, i + {SPAN_N} - 1), chr(31)) AS key
      FROM t, unnest(range(1, len(tk) - {SPAN_N} + 2)) AS u(i)
      WHERE len(tk) >= {SPAN_N}),
h AS (SELECT key FROM w GROUP BY key HAVING count(*) >= 2),
r AS (SELECT doc_id, pos FROM w WHERE key IN (SELECT key FROM h)),
i AS (SELECT doc_id, pos, pos + {SPAN_N} AS e,
        max(pos + {SPAN_N}) OVER (PARTITION BY doc_id ORDER BY pos
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
      FROM r),
j AS (SELECT *, sum(CASE WHEN pm IS NULL OR pos > pm THEN 1 ELSE 0 END)
        OVER (PARTITION BY doc_id ORDER BY pos
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM i)
SELECT doc_id, min(pos) AS span_start, cast(max(e) as int) AS span_end,
  cast(max(e) - min(pos) as int) AS span_tokens, count(*) AS n_windows
FROM j GROUP BY doc_id, island
""".strip()


# ---------------------------------------------------------------------------
# e16/e17: classifier EVALUATION — exact grouped-count AUC and the
# precision/recall threshold sweep (operators/classify.classifier_eval /
# precision_recall_table) over the deterministic pseudo-model's int64
# feature sums, labels from the documents table's lang column. Every
# compared number is integer counts + one division, so both engines
# hash-match bit-for-bit.
# ---------------------------------------------------------------------------

def _clf_eval_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    # keep_cols carries lang through the scoring projections — no re-join
    # of documents on doc_id (r10; the oracle SQL keeps its join, DuckDB's
    # natural form — values identical, it's the same label per row)
    from sparvi_spark.operators.classify import linear_scores

    docs = load_table(spark, "documents", sf_dir)
    scored = linear_scores(docs, _clf_weights(), bias=CLF_BIAS,
                           emit_sum=True, keep_cols=["lang"])
    return scored.selectExpr("doc_id", "feature_sum",
                             "cast(lang = 'en' as int) AS y")


def q_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparvi_spark.operators.classify import classifier_eval

    return classifier_eval(_clf_eval_scored(spark, sf_dir),
                           "y", "feature_sum")


def q_classifier_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparvi_spark.operators.classify import precision_recall_table

    return precision_recall_table(_clf_eval_scored(spark, sf_dir),
                                  "y", "feature_sum")


_CLF_EVAL_BASE = """
scored AS ({scores_sql}),
lab AS (SELECT s.feature_sum AS sc, CAST(d.lang = 'en' AS INT) AS y
        FROM scored s JOIN documents d ON s.doc_id = d.doc_id)
""".strip()


def _sql_classifier_eval() -> str:
    return f"""
WITH {_CLF_EVAL_BASE.format(scores_sql=_sql_classifier_scores())},
g AS (SELECT sc, sum(y) AS pos, sum(1 - y) AS neg FROM lab GROUP BY sc),
c AS (SELECT pos, neg,
        coalesce(sum(neg) OVER (ORDER BY sc ROWS BETWEEN UNBOUNDED
          PRECEDING AND 1 PRECEDING), 0) AS cneg FROM g)
SELECT cast(sum(pos) as bigint) AS n_pos, cast(sum(neg) as bigint) AS n_neg,
  CASE WHEN sum(pos) > 0 AND sum(neg) > 0 THEN
    round(cast(sum(2 * pos * cneg + pos * neg) as double)
          / (2.0 * sum(pos) * sum(neg)), 9) END AS auc
FROM c
""".strip()


def _sql_classifier_pr() -> str:
    return f"""
WITH {_CLF_EVAL_BASE.format(scores_sql=_sql_classifier_scores())},
g AS (SELECT sc AS threshold, count(*) AS n, sum(y) AS pos
      FROM lab GROUP BY sc)
SELECT threshold,
  cast(sum(n) OVER wd as bigint) AS n_kept,
  cast(sum(pos) OVER wd as bigint) AS tp,
  round(cast(sum(pos) OVER wd as double) / sum(n) OVER wd, 9) AS precision,
  CASE WHEN sum(pos) OVER () > 0 THEN
    round(cast(sum(pos) OVER wd as double) / sum(pos) OVER (), 9)
  END AS recall
FROM g
WINDOW wd AS (ORDER BY threshold DESC ROWS BETWEEN UNBOUNDED PRECEDING
              AND CURRENT ROW)
""".strip()


# ---------------------------------------------------------------------------
# e18/e19: token-level vocabulary drift between the src0 sub-corpus and
# the rest (operators/drift.vocab_drift / vocab_tvd) — counts are exact
# integers, probabilities one IEEE division, the TVD terms decimal-routed,
# so both engines hash-match.
# ---------------------------------------------------------------------------

VOCAB_TOP_K, VOCAB_MIN_COUNT = 25, 2


def _vocab_sides(spark: SparkSession, sf_dir: str):
    docs = load_table(spark, "documents", sf_dir)
    return (docs.where(F.col("source") == "src0"),
            docs.where(F.col("source") != "src0"))


def q_vocab_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparvi_spark.operators.drift import vocab_drift

    a, b = _vocab_sides(spark, sf_dir)
    return vocab_drift(a, b, top_k=VOCAB_TOP_K, min_count=VOCAB_MIN_COUNT)


def q_vocab_tvd(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparvi_spark.operators.drift import vocab_tvd

    a, b = _vocab_sides(spark, sf_dir)
    return vocab_tvd(a, b)


_VOCAB_BASE = f"""
ca AS (SELECT tk AS token, count(*) AS n_a
       FROM (SELECT unnest({_DUCK_TOKS}) AS tk FROM documents
             WHERE source = 'src0') GROUP BY 1),
cb AS (SELECT tk AS token, count(*) AS n_b
       FROM (SELECT unnest({_DUCK_TOKS}) AS tk FROM documents
             WHERE source <> 'src0') GROUP BY 1),
j AS (SELECT coalesce(ca.token, cb.token) AS token,
        coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
      FROM ca FULL OUTER JOIN cb ON ca.token = cb.token),
t AS (SELECT (SELECT sum(n_a) FROM ca) AS ta,
             (SELECT sum(n_b) FROM cb) AS tb)
""".strip()


def _sql_vocab_drift() -> str:
    return f"""
WITH {_VOCAB_BASE}
SELECT token, cast(n_a as bigint) AS n_a, cast(n_b as bigint) AS n_b,
  round(cast(n_a as double) / ta, 9) AS p_a,
  round(cast(n_b as double) / tb, 9) AS p_b,
  round(cast(n_a as double) / ta - cast(n_b as double) / tb, 9) AS delta
FROM j CROSS JOIN t
WHERE n_a >= {VOCAB_MIN_COUNT} OR n_b >= {VOCAB_MIN_COUNT}
ORDER BY abs(cast(n_a as double) / ta - cast(n_b as double) / tb) DESC,
  token ASC
LIMIT {VOCAB_TOP_K}
""".strip()


def _sql_vocab_tvd() -> str:
    return f"""
WITH {_VOCAB_BASE}
SELECT round(cast(sum(cast(round(abs(cast(n_a as double) / ta
    - cast(n_b as double) / tb), 15) as decimal(38,18))) as double)
    / 2.0, 9) AS tvd,
  cast(count(*) as bigint) AS n_tokens_union
FROM j CROSS JOIN t
""".strip()


EXTRA_CHECKS = {
    "e16_classifier_auc": (q_classifier_eval, _sql_classifier_eval()),
    "e17_classifier_pr": (q_classifier_pr, _sql_classifier_pr()),
    "e18_vocab_drift": (q_vocab_drift, _sql_vocab_drift()),
    "e19_vocab_tvd": (q_vocab_tvd, _sql_vocab_tvd()),
    # x30/x31/e11/e13/e14 were promoted verbatim to the driver-graded set
    # in r6 (merged_checks.py); x24-x29 are graded there in merged form —
    # their standalone shapes below stay for local fine-grained diagnosis,
    # as do d02/d03/d05/d07/x06/x13 whose slots were merged.
    "d02_jaccard_pairs": (q_jaccard_pairs, SQL_JACCARD_PAIRS),
    "d03_minhash_lsh": (q_minhash_lsh, SQL_MINHASH_LSH),
    "d05_embedding_neardup": (q_embedding_neardup, SQL_EMBEDDING_NEARDUP),
    "d07_dedup_corpus": (q_dedup_corpus, SQL_DEDUP_CORPUS),
    "x06_top_tokens": (q_top_tokens, SQL_TOP_TOKENS),
    "x13_sampling": union_check([
        ("bernoulli", q_hash_sample, SQL_HASH_SAMPLE),
        ("stratified", q_stratified_sample_agg, SQL_STRATIFIED_SAMPLE_AGG),
    ], tag_col="method"),
    "x24_numeric_drift": (q_numeric_drift, _sql_numeric_drift()),
    "x25_categorical_drift": (q_categorical_drift, _sql_categorical_drift()),
    "x26_shard_plan": (q_shard_plan, _sql_shard_plan()),
    "x27_classifier_scores": (q_classifier_scores, _sql_classifier_scores()),
    "x28_lm_score": (q_lm_score, SQL_LM_SCORE),
    "x29_eval_split": (q_eval_split, _sql_eval_split()),
    "d04_simhash_pairs": (q_simhash_pairs, None),
    "e04_topk_sketch": (q_topk_sketch, SQL_TOPK_SKETCH),
    "e05_neardup_cross": (q_neardup_cross, _sql_neardup_cross()),
    "e12_token_buckets": (q_token_buckets, _sql_token_buckets()),
    "e06_pii_redact": (q_pii_redact, _sql_pii_redact()),
    "x18_bloom_contamination": (q_bloom_contamination,
                                _sql_bloom_contamination()),
    "x19_pq_adc": (q_pq_adc, _sql_pq_adc()),
    "x20_zorder_key": (q_zorder_key, _sql_zorder_key()),
    "x21_quality_filter": (q_quality_filter, _sql_quality_filter()),
    "x22_text_normalize": (q_text_normalize, SQL_TEXT_NORMALIZE),
    "x23_pca_project": (q_pca_project, _sql_pca_project()),
    "e01_incremental_rollup": (q_incremental_rollup, SQL_INCREMENTAL_ROLLUP),
    "m02_audio_features": (q_audio_features, SQL_AUDIO_FEATURES),
    "e02_mixture_sample": (q_mixture_sample, _sql_mixture_sample()),
    "e03_chunking": (q_chunking, SQL_CHUNKING),
    "e09_pack_sequences": (q_pack_sequences, SQL_PACK_SEQUENCES),
    "e10_bpe_tokenize": (q_bpe_tokenize, SQL_BPE_TOKENIZE),
    "e15_binpack": (q_binpack, _sql_binpack()),
}
