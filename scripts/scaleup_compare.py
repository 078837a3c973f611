"""Scale-up crossover: the SAME queries, Spark vs DuckDB, at 1x and 10x
sf0.1 — evidence for the central scaling claim in SCALING.md.

At sf0.1 the oracle-suite comparison is dominated by Spark's fixed
per-query scheduling/JIT floor (~0.25s), which is FLAT in data size;
DuckDB's floor is microseconds, so it wins small. This script multiplies
the data 10x (rows duplicated with remapped keys into /tmp, one-off) and
re-times representative queries in BOTH engines under the same fresh-run
protocol. What should happen — and what SCALING.md records — is that
per-query ratios collapse toward compute parity (scan-bound profile
aggregates) or cross over to Spark (expression-heavy text/dedup paths
that parallelize across 32 cores).

Usage: python scripts/scaleup_compare.py [base_sf_dir] [multiplier] [only]
``only`` is an optional comma-list of query names — the 100x extension
runs just the three families whose 1x->10x slope was flattest-to-worst
(SCALING.md round-7 table) without paying for a 100x lineitem build.
Prints one JSON line: {"queries": {name: {"spark_1x":…, "duck_1x":…,
"spark_Nx":…, "duck_Nx":…}}, …}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
MULT = int(sys.argv[2]) if len(sys.argv) > 2 else 10
ONLY = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
SCALE_DIR = f"/tmp/sparvi_scaleup_x{MULT}"

# which scaled tables each query reads (build only what the run needs)
_QUERY_TABLES = {
    "profile_numeric": {"lineitem"}, "percentiles": {"lineitem"},
    # r11: the scale-mode sum lane (numeric_exprs exact=False, double
    # accumulation) vs the decimal parity lane — the profile fold A/B
    "profile_numeric_scale": {"lineitem"},
    "percentiles_refine": {"lineitem"}, "langid": {"documents"},
    "text_quality": {"documents"}, "dedup_minhash": {"documents"},
    "dup_spans": {"documents"}, "semantic_dedup": {"embeddings"},
    "dedup_lines": {"documents"}, "classifier_score": {"documents"},
    "shard_split": {"documents"}, "ann_topk": {"embeddings"},
    # r9 additions (VERDICT r8 task 4): the two heaviest graded families
    # whose linear-by-construction claims had no multi-decade evidence
    "tokenize_pack": {"documents"}, "contamination": {"documents"},
    # r10: A/B of the Arrow rolling-hash shingle lane (VERDICT r9 task 3)
    # against the same DuckDB baseline as the expr path, plus the one
    # gram consumer (e11 signature pairs) the sweep never covered
    "contamination_arrow": {"documents"}, "sig_pairs": {"documents"},
    "dup_spans_arrow": {"documents"}, "sig_pairs_arrow": {"documents"},
    # r11: the last unswept graded gram family (VERDICT r10 task 4)
    "simhash_pairs": {"documents"}, "simhash_pairs_arrow": {"documents"},
}

if ONLY is not None:
    unknown = ONLY - set(_QUERY_TABLES)
    if unknown:
        sys.exit(f"unknown query name(s) {sorted(unknown)}; "
                 f"valid: {sorted(_QUERY_TABLES)}")


_ALPHA = "abcdefghijklmnopqrstuvwxyz"


def build_scaled(spark) -> None:
    """documents / lineitem duplicated MULT x with remapped ids (each copy
    offset so keys stay unique) — written once, reused across runs.

    Document TEXT is rotated through a per-copy alphabet substitution
    (Caesar-style translate): a character bijection applied uniformly
    within a copy preserves every within-copy shingle/Jaccard relationship
    EXACTLY while making cross-copy texts dissimilar. Without it, a
    duplicate clique of k docs in the base becomes one clique of MULT*k in
    the scaled set, candidate pairs grow with MULT² and the "10x data"
    benchmark silently times a 100x candidate workload in both engines
    (this is what made the originally recorded crossover table
    irreproducible — the structure, not the engines, had changed)."""
    from pyspark.sql import functions as F

    from sparvi_spark.testdata import load_table

    os.makedirs(SCALE_DIR, exist_ok=True)
    needed = (set().union(*(_QUERY_TABLES[q] for q in ONLY)) if ONLY
              else {"documents", "lineitem", "embeddings"})
    for table, key in (("documents", "doc_id"), ("lineitem", None),
                       ("embeddings", "vec_id")):
        if table not in needed:
            continue
        out = os.path.join(SCALE_DIR, f"{table}.parquet")
        # _SUCCESS gates the skip: a killed prior run leaves partial dirs
        if os.path.exists(os.path.join(out, "_SUCCESS")):
            continue
        df = load_table(spark, table, BASE)
        n = df.count()
        copies = []
        for i in range(MULT):
            c = df
            if key is not None:
                c = c.withColumn(key, F.col(key) + F.lit(i * n * 10))
            if table == "documents" and i > 0:
                rot = _ALPHA[i:] + _ALPHA[:i]
                c = c.withColumn("text", F.translate(
                    "text", _ALPHA + _ALPHA.upper(), rot + rot.upper()))
            if table == "embeddings" and i > 0:
                # per-copy SIGN FLIP (orthogonal diagonal transform): every
                # within-copy cosine is preserved EXACTLY, while a vector's
                # cross-copy twin scatters to ~0 cosine — without it each
                # copy adds an exact duplicate of every vector and SemDeDup
                # pair counts grow MULT^2 (the same clique-growth trap the
                # text rotation above guards against). The sign bit MUST
                # come from a real mix: an earlier affine-mod-2 version
                # ((d+1)*odd + i*odd) % 2 collapses to parity(d+1+i) —
                # only TWO sign patterns, so same-parity copies were exact
                # duplicates and the sweep timed the clique workload it
                # claimed to avoid (caught in round-7 review).
                c = c.withColumn("embedding", F.expr(
                    f"transform(embedding, (x, d) -> cast(x * (case when "
                    f"pmod(xxhash64(d, {i}), 2) = 0 "
                    f"then 1.0 else -1.0 end) as float))"))
            copies.append(c)
        big = copies[0]
        for c in copies[1:]:
            big = big.unionByName(c)
        big.repartition(32).write.mode("overwrite").parquet(out)


def data_centroids(sf_dir: str, k: int) -> list[list[float]]:
    """k centroids sampled deterministically FROM the embeddings (every
    n/k-th vector by vec_id order) — synthetic-generator centroids can
    land far from the data and collapse the assignment into one or two
    clusters, turning the within-cluster pair search quadratic. Both
    engines get the identical literals."""
    import duckdb

    p = os.path.join(sf_dir, "embeddings.parquet")
    if os.path.isdir(p):
        p = os.path.join(p, "*.parquet")
    con = duckdb.connect()
    n = con.execute(
        f"SELECT count(*) FROM read_parquet('{p}')").fetchone()[0]
    step = max(n // k, 1)
    rows = con.execute(f"""
        SELECT embedding FROM (
          SELECT embedding, row_number() OVER (ORDER BY vec_id) AS rn
          FROM read_parquet('{p}'))
        WHERE (rn - 1) % {step} = 0 ORDER BY rn LIMIT {k}""").fetchall()
    con.close()
    return [[float(x) for x in r[0]] for r in rows]


def spark_queries(spark, sf_dir, sem_cents):
    from pyspark.sql import functions as F

    from sparvi_spark.checks.pipeline_checks import (
        CLF_BIAS, N_SHARDS, _clf_weights)
    from sparvi_spark.operators.classify import linear_scores
    from sparvi_spark.operators.dedup import (
        duplicate_spans, minhash_lsh_pairs, semantic_dedup)
    from sparvi_spark.operators.profile import (
        exact_percentiles, exact_percentiles_refine)
    from sparvi_spark.operators.similarity import cosine_topk
    from sparvi_spark.operators.text import (
        dedup_lines_corpus, lang_id_expr, quality_features)
    from sparvi_spark.sources.export import shard_plan

    def docs():
        d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        return d

    def li():
        return spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))

    def emb():
        return spark.read.parquet(os.path.join(sf_dir,
                                               "embeddings.parquet"))

    def docs3():
        # the same deterministic 3-line build as the graded e13 check
        # (testdata text is single-line), uncapped
        return docs().selectExpr(
            "doc_id",
            "concat(substring(coalesce(text, ''), 1, 40), '\\n', "
            "'standard footer line', '\\n', lang) AS text")

    return {
        "profile_numeric": lambda: li().agg(*[
            e for c in ("l_quantity", "l_extendedprice", "l_discount")
            for e in (F.count(c).alias(f"{c}_n"),
                      F.sum(F.col(c).cast("decimal(28,8)")).alias(f"{c}_s"),
                      F.min(c).alias(f"{c}_mn"), F.max(c).alias(f"{c}_mx"))]),
        # the 100 TB profile lane: identical aggregate set, DOUBLE sums
        # (operators/profile.numeric_exprs exact=False) — Spark's decimal
        # agg buffer above precision 18 is BigDecimal-per-row and made
        # the parity lane 18x slower than DuckDB at 100x (r11)
        "profile_numeric_scale": lambda: li().agg(*[
            e for c in ("l_quantity", "l_extendedprice", "l_discount")
            for e in (F.count(c).alias(f"{c}_n"),
                      F.sum(F.col(c).cast("double")).alias(f"{c}_s"),
                      F.min(c).alias(f"{c}_mn"), F.max(c).alias(f"{c}_mx"))]),
        "percentiles": lambda: exact_percentiles(
            li(), ["l_quantity", "l_extendedprice", "l_discount"]),
        # same exact result via the sketch-then-refine path — the plan
        # whose intermediates stay O(n/accuracy) instead of shuffling
        # every distinct value (operators/profile.exact_percentiles_refine)
        "percentiles_refine": lambda: exact_percentiles_refine(
            li(), ["l_quantity", "l_extendedprice", "l_discount"]),
        "langid": lambda: (docs().select(lang_id_expr("text").alias("g"))
                           .groupBy("g").count()),
        "text_quality": lambda: (
            quality_features(docs(), repetition=True)
            .agg(F.avg("quality_score"), F.avg("dup_token_frac"))),
        "dedup_minhash": lambda: minhash_lsh_pairs(
            docs(), "doc_id", "text", n=3, num_hashes=16, bands=16,
            threshold=0.8).groupBy().count(),
        # exact duplicate-passage spans (ExactSubstr analogue) — strictly
        # linear positional-n-gram pipeline; 8-byte hash keys on the
        # Spark side, raw gram strings on DuckDB's (its natural form)
        "dup_spans": lambda: duplicate_spans(
            docs(), "doc_id", "text", n=8, gram_mode="hash").agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum("span_tokens").alias("tok_total")),
        # r10: the positional Arrow window-hash lane, same DuckDB baseline
        "dup_spans_arrow": lambda: duplicate_spans(
            docs(), "doc_id", "text", n=8, gram_mode="arrow").agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum("span_tokens").alias("tok_total")),
        # r7 additions: the families the driver started grading in r6
        # (VERDICT r6 task 4) — SemDeDup, corpus line dedup, classifier
        # scoring, shard export — full-scale, aggregated to small outputs
        # so the timer measures compute, not pandas transfer
        # gram backend = the scale path (per-cluster numpy Gram blocks);
        # the fold default is the oracle-parity path and measured 21.7s
        # on the 10x sweep where this runs ~2s
        "semantic_dedup": lambda: semantic_dedup(
            emb(), "vec_id", "embedding", threshold=0.3,
            centroids=sem_cents, pair_backend="gram").agg(
            F.count(F.lit(1)).alias("n_kept")),
        "dedup_lines": lambda: dedup_lines_corpus(
            docs3(), "doc_id", "text", min_count=3,
            hash_mode="exact").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_lines_removed").alias("removed")),
        "classifier_score": lambda: linear_scores(
            docs(), _clf_weights(), bias=CLF_BIAS, emit_sum=True).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("feature_sum").alias("fsum"),
            F.sum(F.col("label").cast("long")).alias("n_pos")),
        "shard_split": lambda: shard_plan(
            docs(), "doc_id", N_SHARDS, method="portable"),
        # brute-force kNN over the full embeddings table, gram backend
        # (partition-local BLAS top-k, only k*partitions*queries rows
        # shuffle to the merge — the 100 TB brute shape; fold is the
        # oracle-parity default)
        "ann_topk": lambda: cosine_topk(
            emb(), emb().where(F.col("vec_id") < 20), k=10,
            backend="gram"),
        # BPE encode (Arrow mapInPandas, memoized word encode) + chop
        # packing (cumsum layout + array reassembly) — the e10 family at
        # full scale. The model trains on a FIXED slice (copy-0 ids, so
        # training cost is constant across multipliers; num_merges=0 =
        # the same degenerate char model the graded check uses) — the
        # claim under test is encode+pack LINEARITY in corpus size.
        "tokenize_pack": lambda: _tokenize_pack(docs()),
        # x15 at full scale: candidate corpus screened against the src0
        # reference via distinct-shingle semi-join; ref grows with the
        # data (every copy keeps its source), the honest scaling.
        "contamination": lambda: _contamination(docs(), "expr"),
        # the same screen on the Arrow rolling-hash lane (scale-mode
        # default) — identical counts modulo 64-bit collisions, so both
        # rows share one DuckDB baseline
        "contamination_arrow": lambda: _contamination(docs(), "arrow"),
        # e11 incremental signature state at full scale: sign both sides
        # (xxhash64 base + affine-permutation slots, the production
        # path), band join new vs stored, estimator verify — the
        # monitor-shape claim
        "sig_pairs": lambda: _sig_pairs(docs(), "xxhash64"),
        "sig_pairs_arrow": lambda: _sig_pairs(docs(), "arrow"),
        # r11: SimHash pigeonhole pairs (d06/d08 family) — the last
        # graded gram family without multi-decade rows. The vote build
        # is the same interpreted-HOF shape that cost contamination
        # 7x/core pre-Arrow; the A/B isolates the new numpy vote lane
        # (bit-identical fingerprints -> identical pair counts).
        "simhash_pairs": lambda: _simhash_pairs(docs(), "xxhash64"),
        "simhash_pairs_arrow": lambda: _simhash_pairs(docs(), "arrow"),
    }


def _contamination(d, backend):
    from pyspark.sql import functions as F

    from sparvi_spark.operators.dedup import contamination

    return contamination(
        d.where(F.col("source") != "src0"),
        d.where(F.col("source") == "src0"),
        "doc_id", "text", n=3, backend=backend,
    ).agg(F.count(F.lit(1)).alias("n_docs"),
          F.sum("n_contaminated").alias("hits"))


def _simhash_pairs(d, hash_fn):
    from pyspark.sql import functions as F

    from sparvi_spark.operators.dedup import simhash_pairs

    # production shape: 64-bit fingerprints, 4x16-bit pigeonhole chunks,
    # hamming <= 3 (exact recall at < n_chunks). Aggregated so the timer
    # measures the vote build + band join, not pandas transfer.
    return simhash_pairs(d, "doc_id", "text", max_hamming=3,
                         hash_fn=hash_fn, bits=64, n_chunks=4).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("hamming").alias("ham_sum"))


def _sig_pairs(d, hash_fn):
    from pyspark.sql import functions as F

    from sparvi_spark.operators.dedup import (
        minhash_pairs_from_sigs, minhash_signatures)

    # n=3 shingles, NOT the graded check's capped n=1: over full synthetic
    # corpora, 1-gram token SETS are near-identical across docs (shared
    # generator vocabulary), so n=1 banding emits ~956k candidates from
    # 4.1k x 0.9k docs — a quadratic verify workload that measures the
    # blowup, not the monitor. 3-gram sets are doc-specific (1,633
    # candidates on the same corpus), the production shape.
    new_sigs = minhash_signatures(
        d.where(F.col("source") != "src0"), "doc_id", "text", n=3,
        num_hashes=64, hash_fn=hash_fn).select(
        F.col("doc_id").alias("id"), "sig")
    ref_sigs = minhash_signatures(
        d.where(F.col("source") == "src0"), "doc_id", "text", n=3,
        num_hashes=64, hash_fn=hash_fn).select(
        F.col("doc_id").alias("ref_id"), "sig")
    return minhash_pairs_from_sigs(
        new_sigs, ref_sigs, num_hashes=64, bands=16, threshold=0.5).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.sum("est_jaccard"), 3).alias("est_sum"))


def _tokenize_pack(d):
    from pyspark.sql import functions as F

    from sparvi_spark.operators.tokenize import (
        bpe_encode, pack_token_ids, train_bpe)

    model = train_bpe(d.where("doc_id < 500"), num_merges=0,
                      text_col="text")
    enc = bpe_encode(d, model)
    packed = pack_token_ids(
        enc.withColumn("__shard",
                       F.expr("pmod(xxhash64(doc_id), 64)")),
        2048, shard_col="__shard")
    return packed.agg(F.count(F.lit(1)).alias("n_packs"),
                      F.sum("n_tokens").alias("n_tokens"))


DUCK_SQL = {
    "profile_numeric": """
SELECT count(l_quantity), sum(cast(l_quantity as decimal(28,8))),
  min(l_quantity), max(l_quantity),
  count(l_extendedprice), sum(cast(l_extendedprice as decimal(28,8))),
  min(l_extendedprice), max(l_extendedprice),
  count(l_discount), sum(cast(l_discount as decimal(28,8))),
  min(l_discount), max(l_discount) FROM lineitem""",
    "percentiles": """
SELECT quantile_cont(l_quantity, [0.25, 0.5, 0.75]),
  quantile_cont(l_extendedprice, [0.25, 0.5, 0.75]),
  quantile_cont(l_discount, [0.25, 0.5, 0.75]) FROM lineitem""",
}


def main() -> None:
    import duckdb

    from sparvi_spark.session import get_spark
    from sparvi_spark.checks.pipeline_checks import _DUCK_TOKS

    spark = get_spark("scaleup")
    spark.sparkContext.setLogLevel("ERROR")
    build_scaled(spark)

    # DuckDB equivalents for the text/dedup paths (same token/shingle
    # idioms as the oracle checks, uncapped)
    lang_markers = {
        "en": ["the", "and", "of", "to", "is", "a"],
        "de": ["der", "die", "und", "das", "ist", "ein"],
        "fr": ["le", "la", "et", "les", "est", "une"],
        "es": ["el", "la", "y", "los", "es", "una"],
        "zh": ["的", "是", "了", "在", "和", "有"],
    }
    hit_cols = ", ".join(
        "len(list_filter(tk, t -> list_contains([{}], t))) AS h_{}".format(
            ", ".join(f"'{w}'" for w in ws), lang)
        for lang, ws in lang_markers.items())
    langs = list(lang_markers)
    pick = ("CASE greatest(" + ", ".join(f"h_{la}" for la in langs) + ") "
            + " ".join(f"WHEN h_{la} THEN '{la}'" for la in langs) + " END")
    dup_spans_sql = f"""
WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS tk FROM documents),
w AS (SELECT doc_id, cast(i - 1 as int) AS pos,
        array_to_string(list_slice(tk, i, i + 7), chr(31)) AS key
      FROM t, unnest(range(1, len(tk) - 6)) AS u(i) WHERE len(tk) >= 8),
h AS (SELECT key FROM w GROUP BY key HAVING count(*) >= 2),
r AS (SELECT doc_id, pos FROM w WHERE key IN (SELECT key FROM h)),
i AS (SELECT doc_id, pos, pos + 8 AS e,
        max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM r),
j AS (SELECT *, sum(CASE WHEN pm IS NULL OR pos > pm THEN 1 ELSE 0 END)
        OVER (PARTITION BY doc_id ORDER BY pos
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM i),
sp AS (SELECT doc_id, max(e) - min(pos) AS span_tokens
       FROM j GROUP BY doc_id, island)
SELECT count(*) AS n_spans, sum(span_tokens) AS tok_total FROM sp"""
    duck = {
        "dup_spans": dup_spans_sql,
        "dup_spans_arrow": dup_spans_sql,  # one baseline for the A/B
        "profile_numeric": DUCK_SQL["profile_numeric"],
        # DuckDB's native double sums — the fair baseline for the
        # Spark double-sum scale lane
        "profile_numeric_scale": """
SELECT count(l_quantity), sum(l_quantity),
  min(l_quantity), max(l_quantity),
  count(l_extendedprice), sum(l_extendedprice),
  min(l_extendedprice), max(l_extendedprice),
  count(l_discount), sum(l_discount),
  min(l_discount), max(l_discount) FROM lineitem""",
        "percentiles": DUCK_SQL["percentiles"],
        "percentiles_refine": DUCK_SQL["percentiles"],
        "langid": f"""
WITH t0 AS (SELECT {_DUCK_TOKS} AS tk FROM documents),
g AS (SELECT {hit_cols} FROM t0)
SELECT {pick} AS guessed, count(*) FROM g GROUP BY 1""",
        "text_quality": f"""
WITH t0 AS (SELECT text, {_DUCK_TOKS} AS tk FROM documents)
SELECT avg(list_sum(list_transform(tk, t -> length(t)))
           * cast(1 as double) / greatest(len(tk), 1)),
  avg(1.0 - len(list_distinct(tk)) * cast(1 as double)
      / greatest(len(tk), 1))
FROM t0""",
        # same pipeline shape as the Spark side: per-doc distinct 3-gram
        # sets, 16 min-hashes, 16 bands (1 row/band), bucket self-join,
        # exact-Jaccard verification on candidates via list overlap
        "dedup_minhash": f"""
WITH t0 AS (SELECT doc_id, {_DUCK_TOKS} AS tk FROM documents),
g AS (SELECT doc_id, list_distinct(list_transform(
        range(1, greatest(len(tk) - 2, 0) + 1),
        i -> concat_ws(' ', tk[i], tk[i + 1], tk[i + 2]))) AS grams FROM t0
      WHERE len(tk) >= 3),
sig AS (SELECT doc_id, grams,
          {", ".join(f"list_min(list_transform(grams, s -> hash(s || '|{i}'))) AS h{i}" for i in range(16))}
        FROM g),
banded AS ({" UNION ALL ".join(
            f"SELECT doc_id, {b} AS band, h{b} AS bh FROM sig"
            for b in range(16))}),
cands AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
          FROM banded a JOIN banded b ON a.band = b.band AND a.bh = b.bh
          WHERE a.doc_id < b.doc_id),
verified AS (SELECT ida, idb,
    len(list_intersect(x.grams, y.grams)) AS shared,
    len(x.grams) AS sa, len(y.grams) AS sb
  FROM cands JOIN sig x ON x.doc_id = ida JOIN sig y ON y.doc_id = idb)
SELECT count(*) FROM verified
WHERE shared * cast(1 as double) / (sa + sb - shared) >= 0.8""",
    }

    # r7 additions (same shapes as the graded checks, uncapped + aggregated)
    from sparvi_spark.checks.pipeline_checks import (
        CLF_BIAS,
        N_SHARDS,
        _clf_weights,
        _sql_classifier_scores,
    )
    from sparvi_spark.operators.sampling import HASH_A, HASH_B, HASH_M

    duck["dedup_lines"] = """
WITH d AS (SELECT doc_id,
             concat(substring(coalesce(text, ''), 1, 40), chr(10),
                    'standard footer line', chr(10), lang) AS s
           FROM documents),
l AS (SELECT doc_id, cast(i as int) AS li,
        list_extract(string_split(s, chr(10)), i) AS line
      FROM d, unnest(range(1, len(string_split(s, chr(10))) + 1)) u(i)),
hot AS (SELECT line FROM l GROUP BY line HAVING count(*) >= 3)
SELECT count(DISTINCT doc_id) AS n_docs,
  count(CASE WHEN line IN (SELECT line FROM hot) THEN 1 END) AS removed
FROM l"""
    duck["classifier_score"] = (
        "WITH scored AS (" + _sql_classifier_scores() + ") "
        "SELECT count(*) AS n, sum(feature_sum) AS fsum, "
        "sum(CASE WHEN label THEN 1 ELSE 0 END) AS n_pos FROM scored")
    shard = (f"cast(((doc_id * {HASH_A} + {HASH_B}) % {HASH_M}) "
             f"% {N_SHARDS} as int)")
    duck["shard_split"] = f"""
SELECT {shard} AS shard, cast(count(*) as bigint) AS n_rows,
  min(doc_id) AS min_id, max(doc_id) AS max_id
FROM documents GROUP BY 1 ORDER BY 1"""

    # r9: tokenize+pack — DuckDB replays the token COUNTS (the e10
    # oracle's arithmetic form) and the chop-pack segment LAYOUT; it
    # does not materialize per-pack id arrays the way the Spark side
    # does (collect_list + flatten), so this baseline is conservative
    # FOR DUCKDB — the slope comparison is what the table is for.
    duck["tokenize_pack"] = """
WITH t AS (SELECT doc_id, lower(trim(coalesce(text, ''))) AS s
           FROM documents),
n AS (SELECT doc_id % 64 AS shard, doc_id,
        cast(length(regexp_replace(s, '\\s', '', 'g'))
             + len(list_filter(string_split_regex(s, '\\s+'),
                               x -> x <> '')) as bigint) AS n_tokens
      FROM t),
c AS (SELECT shard, doc_id, n_tokens,
        sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum
      FROM n WHERE n_tokens > 0),
s AS (SELECT shard, doc_id,
        unnest(generate_series(cast((cum - n_tokens) // 2048 as bigint),
                               cast((cum - 1) // 2048 as bigint)))
          AS pack_id
      FROM c)
SELECT count(DISTINCT (shard, pack_id)) AS n_packs,
  (SELECT sum(n_tokens) FROM n) AS n_tokens FROM s"""

    # r9: contamination — the x15 oracle shape uncapped + aggregated
    duck["contamination"] = """
WITH toks AS (SELECT doc_id, source,
                string_split_regex(lower(trim(text)), '\\s+') AS t
              FROM documents),
g AS (SELECT doc_id, source,
        unnest(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
          i -> concat_ws(' ', t[i], t[i + 1], t[i + 2]))) AS shingle
      FROM toks),
d AS (SELECT DISTINCT doc_id, source, shingle FROM g),
refset AS (SELECT DISTINCT shingle FROM d WHERE source = 'src0'),
cand AS (SELECT doc_id, shingle FROM d WHERE source <> 'src0'),
tot AS (SELECT doc_id, count(*) AS n_shingles FROM cand GROUP BY 1),
hit AS (SELECT doc_id, count(*) AS n_contaminated FROM cand
        WHERE shingle IN (SELECT shingle FROM refset) GROUP BY 1)
SELECT count(*) AS n_docs, sum(coalesce(h.n_contaminated, 0)) AS hits
FROM tot t LEFT JOIN hit h USING (doc_id)"""
    # the Arrow A/B row screens the same workload — one DuckDB baseline
    duck["contamination_arrow"] = duck["contamination"]

    # r10/r11: e11 at full scale. DuckDB gets the SAME affine-permutation
    # construction the Spark path ships (ONE string hash per gram staged
    # as a base array, then slot i = min((a_i*x+b_i) mod P) as cheap int
    # combos), not 64 string-hash passes and not the retired KM
    # double-hash — the baseline should pay the shipped algorithm's
    # cost, not a strawman's or a superseded scheme's.
    from sparvi_spark.operators.dedup import PORTABLE_P, _affine_params

    _H, _B, _RPB, _T = 64, 16, 4, 0.5
    _ab = [_affine_params(i) for i in range(_H)]
    _sig_cols = ", ".join(
        f"list_min(list_transform(h1, x -> (x * {a} + {b}) "
        f"% {PORTABLE_P})) AS s{i}" for i, (a, b) in enumerate(_ab))
    _band_rows = " UNION ALL ".join(
        "SELECT doc_id, src, {b} AS band, hash(concat_ws('|', {cols})) "
        "AS bh FROM sig".format(
            b=b, cols=", ".join(f"s{k}"
                                for k in range(b * _RPB, (b + 1) * _RPB)))
        for b in range(_B))
    _match = " + ".join(
        f"(CASE WHEN a.s{i} = b.s{i} THEN 1 ELSE 0 END)" for i in range(_H))
    duck["sig_pairs"] = f"""
WITH tk0 AS (SELECT doc_id, source AS src, {_DUCK_TOKS} AS tk
             FROM documents),
t0 AS (SELECT doc_id, src, list_distinct(list_transform(
         range(1, greatest(len(tk) - 2, 0) + 1),
         i -> concat_ws(' ', tk[i], tk[i + 1], tk[i + 2]))) AS grams
       FROM tk0 WHERE len(tk) >= 3),
g AS (SELECT doc_id, src, grams FROM t0 WHERE len(grams) >= 1),
h AS (SELECT doc_id, src,
        list_transform(grams,
          s -> CAST(hash(s) % {PORTABLE_P} AS BIGINT)) AS h1
      FROM g),
sig AS (SELECT doc_id, src, {_sig_cols} FROM h),
banded AS ({_band_rows}),
cands AS (SELECT DISTINCT a.doc_id AS id, b.doc_id AS ref_id
          FROM banded a JOIN banded b ON a.band = b.band AND a.bh = b.bh
          WHERE a.src <> 'src0' AND b.src = 'src0'),
est AS (SELECT c.id, c.ref_id, ({_match}) / 64.0 AS ej
        FROM cands c JOIN sig a ON a.doc_id = c.id AND a.src <> 'src0'
        JOIN sig b ON b.doc_id = c.ref_id AND b.src = 'src0')
SELECT count(*) AS n_pairs, round(sum(ej), 3) AS est_sum
FROM est WHERE ej >= {_T}"""
    duck["sig_pairs_arrow"] = duck["sig_pairs"]  # one baseline for the A/B

    # r11: SimHash — DuckDB replays the SAME construction (one hash per
    # token occurrence, 64 majority-vote bits packed to a ubigint, 4x16
    # pigeonhole chunks, bit_count verify). Like sig_pairs, the baseline
    # pays the algorithm's per-slot loop, not a strawman's 64 string-hash
    # passes; its hash family differs from xxhash64, so pair counts can
    # differ on borderline fingerprints — the slope is the claim.
    # bit values as precomputed literals: DuckDB's << evaluates 1 << 63
    # in signed space and raises Out of Range before the UBIGINT cast
    _sh_expr = " | ".join(
        f"(CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN "
        f"(x >> {b}) & 1 = 1 THEN 1 ELSE -1 END)) > 0 "
        f"THEN {1 << b}::UBIGINT ELSE 0::UBIGINT END)"
        for b in range(64))
    # like the Spark side (r11), band DISTINCT fingerprints and expand:
    # identical-fp cliques otherwise contribute k² candidate rows each
    # (1.4e9 vs 9.1e6 at 500k docs) — the algorithm both engines pay
    duck["simhash_pairs"] = f"""
WITH tk AS (SELECT doc_id, {_DUCK_TOKS} AS tk FROM documents),
h AS (SELECT doc_id, list_transform(tk, t -> hash(t)) AS hs
      FROM tk WHERE len(tk) >= 1),
sim AS (SELECT doc_id, ({_sh_expr}) AS sh FROM h),
fps AS (SELECT DISTINCT sh FROM sim),
ch AS (SELECT sh, c, (sh >> (c * 16)) & 65535 AS chv
       FROM fps, unnest([0, 1, 2, 3]) AS u(c)),
fpp AS (SELECT DISTINCT a.sh AS fa, b.sh AS fb,
          bit_count(xor(a.sh, b.sh)) AS hamming
        FROM ch a JOIN ch b ON a.c = b.c AND a.chv = b.chv
        WHERE a.sh < b.sh AND bit_count(xor(a.sh, b.sh)) <= 3),
pairs AS (
  SELECT least(x.doc_id, y.doc_id) AS ida,
         greatest(x.doc_id, y.doc_id) AS idb, p.hamming
  FROM fpp p JOIN sim x ON x.sh = p.fa JOIN sim y ON y.sh = p.fb
  UNION ALL
  SELECT x.doc_id, y.doc_id, 0
  FROM sim x JOIN sim y ON x.sh = y.sh AND x.doc_id < y.doc_id)
SELECT count(*) AS n_pairs, sum(hamming) AS ham_sum FROM pairs"""
    duck["simhash_pairs_arrow"] = duck["simhash_pairs"]

    from sparvi_spark.checks.pipeline_checks import _duck_cosine

    duck["ann_topk"] = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id < 20),
s AS (SELECT q.query_id, e.vec_id AS neighbor_id,
        {_duck_cosine('e.embedding', 'q.qv')} AS cosine
      FROM embeddings e, q WHERE e.vec_id <> q.query_id)
SELECT query_id, neighbor_id,
  row_number() OVER (PARTITION BY query_id
                     ORDER BY cosine DESC, neighbor_id) AS rank,
  round(cosine, 6) AS cosine
FROM s QUALIFY rank <= 10"""

    def duck_semantic_dedup(cents: list[list[float]]) -> str:
        from sparvi_spark.checks.pipeline_checks import _duck_cosine

        dim = len(cents[0])
        carr = ", ".join(
            "[" + ", ".join(repr(x) for x in c) + "]" for c in cents)
        dists = (
            f"list_transform([{carr}], c -> "
            f"list_reduce(list_prepend(cast(0 as double), "
            f"list_transform(range(1, {dim} + 1), i -> "
            f"(cast(embedding[i] as double) - c[i]) * "
            f"(cast(embedding[i] as double) - c[i]))), "
            f"(acc, v) -> acc + v))")
        return f"""
WITH v AS (SELECT vec_id, embedding FROM embeddings),
a AS (SELECT vec_id, embedding,
        list_indexof({dists}, list_min({dists})) - 1 AS cl FROM v),
p AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b,
        {_duck_cosine('x.embedding', 'y.embedding')} AS cosine
      FROM a x JOIN a y ON x.cl = y.cl AND x.vec_id < y.vec_id),
dups AS (SELECT DISTINCT id_b FROM p WHERE cosine >= 0.3)
SELECT count(*) AS n_kept FROM v
WHERE vec_id NOT IN (SELECT id_b FROM dups)"""

    from sparvi_spark.testdata import _tune_for_dir

    results: dict[str, dict[str, float]] = {}
    for tag, sf_dir in (("1x", BASE), (f"{MULT}x", SCALE_DIR)):
        # size the session's shuffle width to THIS dir (the queries below
        # read raw parquet, so the load_table-side tuner never sees it)
        _tune_for_dir(spark, sf_dir)
        needed = (set().union(*(_QUERY_TABLES[q] for q in ONLY)) if ONLY
                  else {"documents", "lineitem", "embeddings"})
        con = duckdb.connect()
        for t in sorted(needed):
            p = f"{sf_dir}/{t}.parquet"
            if os.path.isdir(p):  # Spark writes a directory of part files
                p = f"{p}/*.parquet"
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        # SemDeDup scale discipline: k grows with the data (fixed ~250
        # vectors/cluster) — that is how the operator is meant to be run
        # at 100 TB (cluster SIZE bounded, clusters parallelize); a fixed
        # k would grow every cluster MULT-fold and time a MULT^2 pair
        # workload in both engines. Centroids sampled from the data,
        # identical literals on both sides.
        sem_k = max(8, 8 * (1 if sf_dir == BASE else MULT))
        sem_cents = None
        if ONLY is None or "semantic_dedup" in ONLY:
            sem_cents = data_centroids(sf_dir, sem_k)
            duck["semantic_dedup"] = duck_semantic_dedup(sem_cents)
        sq = spark_queries(spark, sf_dir, sem_cents)
        for name in sq:
            if ONLY is not None and name not in ONLY:
                continue
            best_d = 1e9
            for _ in range(2):
                t0 = time.perf_counter()
                con.execute(duck[name]).fetchall()
                best_d = min(best_d, time.perf_counter() - t0)
            # symmetric timer boundary: DataFrame build + Catalyst planning
            # + execution all inside the clock, exactly as DuckDB's
            # con.execute() pays parse+plan+run inside its clock.
            # clearCache BEFORE each rep (r11): operators that _persist
            # an internal frame (simhash_pairs fingerprints, the LSH
            # signed base) register it in the session CacheManager, and
            # Spark matches caches by canonicalized plan — so rep 2 of
            # an identical query would read rep 1's cache and best-of-2
            # silently times a cache scan instead of the build.
            best_s = 1e9
            for _ in range(2):
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                sq[name]().toPandas()
                best_s = min(best_s, time.perf_counter() - t0)
            r = results.setdefault(name, {})
            r[f"spark_{tag}"] = round(best_s, 3)
            r[f"duck_{tag}"] = round(best_d, 3)
            print(f"# {name} {tag}: spark {best_s:.2f}s duck {best_d:.2f}s",
                  file=sys.stderr)
        con.close()
    print(json.dumps({"multiplier": MULT, "queries": results}))
    spark.stop()


if __name__ == "__main__":
    main()
