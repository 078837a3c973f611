"""Round-6 repack of the driver's 50 recorded slots.

The driver records at most ``DRIVER_CHECK_CAP`` (50) oracle pairs per round
(checks/__init__.py). Rounds 1-5 filled all 50 with the SURVEY §2 families;
the 13 round-5 LLM-pipeline checks (drift, classifier/LM scoring, SemDeDup,
duplicate spans, corpus line dedup, shard export, eval splits, BPE encode,
sequence packing, incremental signatures, corpus diff) were verified only by
the local replica (``EXTRA_CHECKS``). This module frees 9 slots by merging
same-family checks — the tag-union pattern already graded since r3
(a01 global+rolling, d06 simhash+rolling, x01 brute+ivf, x13
bernoulli+stratified) — and registers the round-5 families in the freed
slots. NOTHING is dropped: every previously-graded value still flows into a
recorded hash, via either an aligned superset union (same meaning columns,
NULL-padded extras CAST to DOUBLE so both engines materialize float64) or a
long-format melt (keys stringified, numeric metrics as DOUBLE, string
metrics as STRING). Standalone shapes stay in each module's EXTRA_CHECKS for
local fine-grained diagnosis (scripts/check_oracle.py runs both).

Slot map (old graded names -> new slot):
- a01_zscore + a03_iqr              -> a01_anomaly_scores (4-part union)
- d02_jaccard_pairs + d03_minhash_lsh + d05_embedding_neardup
                                    -> d02_pair_scores (aligned)
- x13_sampling + d07_dedup_corpus + t14_retention
                                    -> x13_id_checksums (aligned; checksums
                                       stay BIGINT — never through DOUBLE)
- t02_daily_rollup + t05_dashboard_daily -> t02_rollups (melt)
- t03_health_summary + t06_anomaly_summary -> t03_summaries (melt)
- p14_preview + t13_metric_history + x06_top_tokens -> p14_misc_small (melt)
New round-5 slots: x24_drift (x24+x25), x27_doc_scores (x27+x28),
x26_shard_split (x26+x29), e10_tokenize_pack (e10+e09), and the singles
x30_semantic_dedup, x31_duplicate_spans, e11_sig_pairs, e13_dedup_lines,
e14_corpus_diff promoted verbatim from EXTRA.
Round-10: the round-9 families join their natural slots — e16/e17
(classifier AUC + P/R sweep) as x27_doc_scores melt parts clf_auc /
clf_pr, e18/e19 (vocabulary drift + TVD) as x24_drift parts vocab /
vocab_tvd. The AUC and PR parts deliberately derive from ONE identical
grouped subplan (classify._score_class_counts) so the union's physical
plan ReusedExchange runs the scoring pass once for both.

Spark sides: the a01, t02, t03, x24 and the retention and metric-history
parts render the operators' own SQL-text builders (operators/anomalies.py,
operators/trends.py, operators/drift.py), so a graded slot and the
operator it grades run one text. The x13 sampling and dedup-corpus parts,
the p14 preview and top-tokens parts and the x27 evaluation parts are
still hand-written copies of their operators.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sparvi_spark.checks import (
    aligned_union_check,
    melt_part_sql,
    melted_check,
    table_views,
    union_check,
)
from sparvi_spark.checks.anomaly_checks import (
    SQL_IQR_GLOBAL,
    SQL_IQR_ROLLING,
    SQL_ZSCORE_GLOBAL,
    SQL_ZSCORE_ROLLING,
    _series_view,
    q_anomaly_scores_4way,
    q_iqr_global,
    q_iqr_rolling,
    q_zscore_global,
    q_zscore_rolling,
)
from sparvi_spark.checks.pipeline_checks import (
    SQL_BPE_TOKENIZE,
    SQL_CORPUS_DIFF,
    SQL_DEDUP_CORPUS,
    SQL_DEDUP_LINES,
    SQL_DUPLICATE_SPANS,
    SQL_EMBEDDING_NEARDUP,
    SQL_HASH_SAMPLE,
    SQL_JACCARD_PAIRS,
    SQL_LM_SCORE,
    SQL_MINHASH_LSH,
    SQL_PACK_SEQUENCES,
    SQL_STRATIFIED_SAMPLE_AGG,
    SQL_TOP_TOKENS,
    _sql_binpack,
    _sql_categorical_drift,
    _sql_classifier_eval,
    _sql_classifier_pr,
    _sql_classifier_scores,
    _sql_eval_split,
    _sql_numeric_drift,
    _sql_vocab_drift,
    _sql_vocab_tvd,
    _sql_semantic_dedup,
    _sql_shard_plan,
    _sql_sig_pairs,
    q_binpack,
    q_bpe_tokenize,
    q_categorical_drift,
    q_classifier_eval,
    q_classifier_pr,
    q_classifier_scores,
    q_corpus_diff,
    q_dedup_corpus,
    q_dedup_lines,
    q_duplicate_spans,
    q_embedding_neardup,
    q_eval_split,
    q_hash_sample,
    q_jaccard_pairs,
    q_lm_score,
    q_minhash_lsh,
    q_numeric_drift,
    q_pack_sequences,
    q_semantic_dedup,
    q_shard_plan,
    q_sig_pairs,
    q_stratified_sample_agg,
    q_top_tokens,
    q_vocab_drift,
    q_vocab_tvd,
)
from sparvi_spark.checks.profile_checks import SQL_PREVIEW, q_preview
from sparvi_spark.checks.trend_checks import (
    SQL_ANOMALY_SUMMARY_COMBINED,
    SQL_DAILY_ROLLUP,
    SQL_DASHBOARD_COMBINED,
    SQL_HEALTH_SUMMARY,
    SQL_METRIC_HISTORY,
    SQL_RETENTION,
    anomaly_summary_combined_sql,
    daily_rollup_sql,
    dashboard_sql,
    health_summary_sql,
    metric_history_sql,
    q_anomaly_summary_combined,
    q_daily_rollup,
    q_dashboard_combined,
    q_health_summary,
    q_metric_history,
    q_retention,
    retention_sql,
)
from sparvi_spark.functions import ident, sql_str
from sparvi_spark.operators.drift import (
    categorical_drift_sql,
    numeric_drift_sql,
    vocab_drift_sql,
    vocab_tvd_sql,
)

_PAIR_PAD = {"shared": "CAST(NULL AS DOUBLE)", "sz_a": "CAST(NULL AS DOUBLE)",
             "sz_b": "CAST(NULL AS DOUBLE)"}

# a01: the Spark side uses the hand-fused builder (finalize + tag in one
# projection per part — see q_anomaly_scores_4way); the oracle SQL is the
# identical union_check-generated text over the four standalone checks.
_A01_SQL = union_check([
    ("zscore_global", q_zscore_global, SQL_ZSCORE_GLOBAL),
    ("zscore_rolling", q_zscore_rolling, SQL_ZSCORE_ROLLING),
    ("iqr_global", q_iqr_global, SQL_IQR_GLOBAL),
    ("iqr_rolling", q_iqr_rolling, SQL_IQR_ROLLING),
], tag_col="method")[1]

# x13: the four id-checksum parts; the SQL comes from the shared
# aligned-union spec, the Spark side is hand-fused (r11) — the two
# sampling parts previously each scanned documents (one filter-agg, one
# window-agg); the fused builder computes the hash ONCE per row, ranks
# once, and emits BOTH parts' (n, checksum) aggregates from one grouped
# frame via a two-struct explode: one scan + one shuffle for the pair,
# bit-identical integers. dedup_corpus/retention are unrelated subplans
# and build as before.
_X13_PARTS = [
    ("sample_bernoulli", q_hash_sample, SQL_HASH_SAMPLE,
     {"key": "source", "n": "n_sampled", "id_checksum": "id_checksum"}),
    ("sample_stratified", q_stratified_sample_agg,
     SQL_STRATIFIED_SAMPLE_AGG,
     {"key": "source", "n": "n_sampled", "id_checksum": "id_checksum"}),
    ("dedup_corpus", q_dedup_corpus, SQL_DEDUP_CORPUS,
     {"key": "source", "n": "n_kept", "id_checksum": "id_checksum"}),
    ("retention", q_retention, SQL_RETENTION,
     {"key": "CAST(user_id AS STRING)", "n": "kept",
      "id_checksum": "id_checksum"}),
]
_X13_COLS = ["key", "n", "id_checksum"]
_X13_SQL = aligned_union_check(_X13_PARTS, columns=_X13_COLS)[1]


# d02: the three pair-score parts with the gram work SHARED (r12). The
# registry previously built each part independently: the jaccard part
# and the minhash part each ran the capped-docs gram build (tokenize +
# array_distinct per doc), and the jaccard part additionally paid a
# stop-shingle groupBy+join+groupBy chain that is a provable no-op here
# (DOC_CAP=120 docs means every shingle's document frequency is <= 120,
# far under DEFAULT_MAX_SHINGLE_DF=10_000 — and the declared oracle SQL
# has no stop-shingle filter at all, so the unfiltered form IS the
# declared semantics). The fused builder persists ONE minhash_signed
# base (__id, __grams, __sz, sig) and derives:
#   - the jaccard part from base (explode __grams; sizes are the __sz
#     projection — no sizes groupBy, no hot-shingle subplan: 3 fewer
#     exchanges),
#   - the minhash part via minhash_lsh_pairs(signed=base) (no second
#     gram+signature build),
#   - the embedding part unchanged (independent input table).
# Values are bit-identical (same gram sets, same counts, same rounding)
# — pinned by snapshot parity at sf0.001/0.01/0.1; the generated oracle
# SQL is unchanged.
_D02_COLS = ["id_a", "id_b", "shared", "sz_a", "sz_b", "score"]
_D02_PARTS = [
    ("jaccard_exact", q_jaccard_pairs, SQL_JACCARD_PAIRS, {
        "id_a": "id_a", "id_b": "id_b",
        "shared": "CAST(shared AS DOUBLE)",
        "sz_a": "CAST(sz_a AS DOUBLE)", "sz_b": "CAST(sz_b AS DOUBLE)",
        "score": "jaccard"}),
    ("minhash_lsh", q_minhash_lsh, SQL_MINHASH_LSH,
     {"id_a": "id_a", "id_b": "id_b", "score": "jaccard", **_PAIR_PAD}),
    ("embedding_cosine", q_embedding_neardup, SQL_EMBEDDING_NEARDUP,
     {"id_a": "id_a", "id_b": "id_b", "score": "cosine", **_PAIR_PAD}),
]
_D02_SQL = aligned_union_check(_D02_PARTS, columns=_D02_COLS)[1]


def q_pair_scores_fused(spark, sf_dir):
    """d02 Spark side (see the comment block above)."""
    from sparvi_spark.checks.pipeline_checks import (
        JACCARD_T,
        MH_BANDS,
        MH_HASHES,
        capped_docs,
    )
    from sparvi_spark.operators.dedup import minhash_lsh_pairs, minhash_signed
    from sparvi_spark.session import scoped_persist

    docs = capped_docs(spark, sf_dir)
    base = scoped_persist(minhash_signed(docs, "doc_id", "text", 1,
                                         MH_HASHES, "portable"))
    # jaccard part over the shared base — unfiltered oracle semantics:
    # the per-doc set size is the gram-array size (a projection), and the
    # all-pairs shared counts come straight off the exploded sets
    sh = base.selectExpr("__id", "explode(__grams) AS shingle")
    shared = (sh.selectExpr("__id AS id_a", "shingle")
              .join(sh.selectExpr("__id AS id_b", "shingle"), "shingle")
              .where(F.col("id_a") < F.col("id_b"))
              .groupBy("id_a", "id_b")
              .agg(F.count(F.lit(1)).alias("shared")))
    jac = (shared
           .join(base.selectExpr("__id AS id_a", "__sz AS sz_a"), "id_a")
           .join(base.selectExpr("__id AS id_b", "__sz AS sz_b"), "id_b")
           .selectExpr(
               "id_a", "id_b", "shared", "sz_a", "sz_b",
               "round(shared * cast(1 as double) "
               "/ (sz_a + sz_b - shared), 6) AS jaccard")
           .where(F.col("jaccard") >= JACCARD_T))
    frames = {
        "jaccard_exact": jac,
        "minhash_lsh": minhash_lsh_pairs(
            docs, "doc_id", "text", n=1, num_hashes=MH_HASHES,
            bands=MH_BANDS, threshold=JACCARD_T, hash_fn="portable",
            signed=base),
        "embedding_cosine": q_embedding_neardup(spark, sf_dir),
    }
    from sparvi_spark.checks import _sq

    out = None
    for tag, _f, _sql, exprs in _D02_PARTS:
        d = frames[tag].selectExpr(
            f"'{_sq(tag)}' as part",
            *[f"{exprs[c]} AS {c}" for c in _D02_COLS])
        out = d if out is None else out.unionAll(d)
    return out


# x27: the four doc-scores parts, ONE melt spec used twice — the
# generated oracle SQL pairs with a hand-fused Spark builder (the a01
# idiom) so the classifier scoring pass runs ONCE for the classifier,
# clf_auc, and clf_pr parts instead of once per part. The per-part fns
# in the spec stay for scripts/check_oracle.py's standalone diagnosis.
_X27_PARTS = [
    ("classifier", q_classifier_scores, _sql_classifier_scores(),
     ["doc_id"], ["n_tokens", "feature_sum", "label"], []),
    ("lm_bigram", q_lm_score, SQL_LM_SCORE, ["doc_id"],
     ["n_bigrams", "avg_p"], []),
    # r10: classifier EVALUATION (round-9 e16/e17) driver-graded in the
    # classifier slot — exact grouped-count AUC and the P/R sweep
    ("clf_auc", q_classifier_eval, _sql_classifier_eval(), [],
     ["n_pos", "n_neg", "auc"], []),
    ("clf_pr", q_classifier_pr, _sql_classifier_pr(), ["threshold"],
     ["n_kept", "tp", "precision", "recall"], []),
]
_X27_SQL = melted_check(_X27_PARTS)[1]


def q_doc_scores_fused(spark, sf_dir):
    """x27 Spark side, hand-fused (r11, restructured r12): ONE
    ``linear_scores`` pass — localCheckpoint-pinned, n_docs small rows —
    feeds the classifier melt part (direct projection) AND both
    evaluation parts (grouped by feature_sum; AUC and P/R still share
    their exchange). Values are bit-identical: the checkpoint is a
    materialization point, not a recompute. The lm_bigram part shares
    the slot's single tokenize via ``tokens_col``.

    r12 change (results unchanged, pinned by snapshot parity): the
    four-part melt union was ~25 chained Dataset creations (each a py4j
    round trip + eager re-analysis); it is now ONE spark.sql statement
    over temp views of the two checkpointed frames, with the eval parts'
    SQL text copied stage-for-stage from classifier_eval /
    precision_recall_table (identical per-score subplan text, so their
    exchange is still deduped at runtime). Running the two eager
    materializations from a 2-thread pool (guide §2.6) was tried and
    measured a wash with extra variance — the jobs are too short for
    tail back-fill to pay on this workload — so they stay sequential."""
    from sparvi_spark.checks import dir_tag
    from sparvi_spark.checks.pipeline_checks import (
        CLF_BIAS,
        _clf_weights,
    )
    from sparvi_spark.operators.classify import linear_scores
    from sparvi_spark.operators.dedup import tokens_expr
    from sparvi_spark.operators.lm import self_lm_score
    from sparvi_spark.testdata import load_table

    docs = load_table(spark, "documents", sf_dir)
    # ONE tokenize EXPRESSION for the whole slot: the classifier fold
    # and the bigram LM consume the same lowercased-whitespace split.
    # r12: the r11 tk.persist is gone — the LM result is now fully lazy
    # (self_lm_score persists nothing), so the only frame materialized at
    # build time is the checkpointed classifier scoring (5k small rows),
    # which reads the tokenize projection exactly once; caching a frame
    # with one live consumer only adds the cache write. The LM subtree
    # re-derives the split at exec time (a 0.05s parquet scan at sf0.1 —
    # cheaper than the checkpoint materialization + cache round trip it
    # replaced, measured on the whole check below).
    tk = docs.selectExpr(
        "doc_id", "lang", f"{tokens_expr('text')} AS __tk")
    scored = linear_scores(tk, _clf_weights(), bias=CLF_BIAS,
                           emit_sum=True, keep_cols=["lang"],
                           tokens_col="__tk").localCheckpoint()
    lm = self_lm_score(tk, tokens_col="__tk")
    tag = dir_tag(sf_dir)
    sv, lv = f"x27_scored__{tag}", f"x27_lm__{tag}"
    scored.createOrReplaceTempView(sv)
    lm.createOrReplaceTempView(lv)
    # SQL texts mirror classifier_eval / precision_recall_table /
    # _score_class_counts expression-for-expression (classify.py).
    lab = (f"SELECT doc_id, feature_sum, cast(lang = 'en' as int) AS y "
           f"FROM {sv}")
    per_score = (
        f"SELECT __s, count(1) AS n, sum(__y) AS pos FROM ("
        f"SELECT `feature_sum` AS __s, cast(`y` as int) AS __y "
        f"FROM ({lab})) WHERE __s is not null and __y is not null "
        f"GROUP BY __s")
    w_auc = ("(ORDER BY __s ROWS BETWEEN UNBOUNDED PRECEDING "
             "AND 1 PRECEDING)")
    auc = (
        f"SELECT cast(n_pos as bigint) AS n_pos, "
        f"cast(n_neg as bigint) AS n_neg, "
        f"case when n_pos > 0 and n_neg > 0 then "
        f"round(cast(__num2 as double) / (2.0d * n_pos * n_neg), 9) end "
        f"AS auc FROM ("
        f"SELECT sum(pos) AS n_pos, sum(neg) AS n_neg, "
        f"sum(2 * pos * cneg + pos * neg) AS __num2 FROM ("
        f"SELECT pos, n - pos AS neg, "
        f"coalesce(sum(n - pos) OVER {w_auc}, 0L) AS cneg "
        f"FROM ({per_score})))")
    wdesc = ("(ORDER BY threshold DESC ROWS BETWEEN UNBOUNDED PRECEDING "
             "AND CURRENT ROW)")
    wall = ("(ORDER BY threshold ROWS BETWEEN UNBOUNDED PRECEDING AND "
            "UNBOUNDED FOLLOWING)")
    pr = (
        f"SELECT threshold, cast(n_kept as bigint) AS n_kept, "
        f"cast(tp as bigint) AS tp, "
        f"round(cast(tp as double) / n_kept, 9) AS precision, "
        f"case when __all_pos > 0 then "
        f"round(cast(tp as double) / __all_pos, 9) end AS recall FROM ("
        f"SELECT threshold, sum(n) OVER {wdesc} AS n_kept, "
        f"sum(pos) OVER {wdesc} AS tp, "
        f"sum(pos) OVER {wall} AS __all_pos FROM ("
        f"SELECT __s AS threshold, n, pos FROM ({per_score})))")
    part_sqls = {
        "classifier": (f"SELECT doc_id, n_tokens, feature_sum, label "
                       f"FROM {sv}"),
        "lm_bigram": f"SELECT * FROM {lv}",
        "clf_auc": auc,
        "clf_pr": pr,
    }
    return _melt_statement(spark, _X27_PARTS, part_sqls)


# ---------------------------------------------------------------------------
# r12 one-statement Spark builders: each slot renders ONE Spark-SQL
# statement over per-(session, sf_dir) temp views (see checks/__init__
# _VIEWS comment) and calls spark.sql once, replacing 15-40 chained
# Dataset creations (each a py4j round trip + eager re-analysis). The
# anomaly, trend and drift parts render the SQL-text builders of
# operators/anomalies.py, operators/trends.py and operators/drift.py (the
# trend compositions through trend_checks.py) — the same text the
# operators and the EXTRA checks run, so the slot grades the operator.
# The sampling, dedup-corpus and top-tokens parts and the preview are
# still written here. Values are pinned by scripts/snapshot_checks.py at
# all three SFs, and the DuckDB oracle SQL is generated from the same
# part specs.
# ---------------------------------------------------------------------------

def _melt_statement(spark, parts, texts):
    """ONE spark.sql statement: each part's text ``texts[tag]`` melted
    the way ``melted_check`` melts that part's frame."""
    return spark.sql(" UNION ALL ".join(
        melt_part_sql(texts[tag], tag, keys, nums, strs)
        for tag, _f, _sql, keys, nums, strs in parts))


_T02_PARTS = [
    ("daily_rollup", q_daily_rollup, SQL_DAILY_ROLLUP, ["day"],
     ["passed", "failed", "seen", "health_score"], []),
    ("dashboard_daily", q_dashboard_combined, SQL_DASHBOARD_COMBINED,
     ["day"],
     ["total", "high", "medium", "low", "avg_value", "n_entities",
      "n_rows"], []),
]


def q_rollups_fused(spark, sf_dir):
    ev = table_views(spark, sf_dir, ["events"])["events"]
    return _melt_statement(spark, _T02_PARTS, {
        "daily_rollup": daily_rollup_sql(ev),
        "dashboard_daily": dashboard_sql(ev, _series_view(spark, sf_dir))})


_T03_PARTS = [
    ("health_summary", q_health_summary, SQL_HEALTH_SUMMARY, ["grp"],
     ["total_rules", "passing", "failing", "health_score"], ["last_run"]),
    ("anomaly_summary", q_anomaly_summary_combined,
     SQL_ANOMALY_SUMMARY_COMBINED, ["section", "key"], ["cnt"], []),
]


def q_summaries_fused(spark, sf_dir):
    ev = table_views(spark, sf_dir, ["events"])["events"]
    return _melt_statement(spark, _T03_PARTS, {
        "health_summary": health_summary_sql(ev),
        "anomaly_summary": anomaly_summary_combined_sql(
            _series_view(spark, sf_dir))})


def _sp_top_tokens(documents: str) -> str:
    from sparvi_spark.operators.dedup import tokens_expr

    counted = (f"SELECT token, count(1) AS cnt FROM (SELECT "
               f"explode({tokens_expr('text')}) AS token FROM {documents}) "
               f"WHERE token != '' GROUP BY token")
    topk = (f"SELECT token, cnt FROM ({counted}) "
            f"ORDER BY cnt DESC, token ASC LIMIT 10")
    return (f"SELECT token, cnt, row_number() OVER (ORDER BY cnt DESC, "
            f"token ASC) AS rank FROM ({topk})")


_P14_PARTS = [
    ("preview", q_preview, SQL_PREVIEW, ["c_custkey"],
     ["c_nationkey", "c_acctbal"], ["c_name", "c_mktsegment"]),
    ("metric_history", q_metric_history, SQL_METRIC_HISTORY,
     ["metric_name", "event_id"], ["metric_value"], ["ts_s"]),
    ("top_tokens", q_top_tokens, SQL_TOP_TOKENS, ["token"],
     ["cnt", "rank"], []),
]


def q_misc_small_fused(spark, sf_dir):
    v = table_views(spark, sf_dir, ["events", "customer", "documents"])
    return _melt_statement(spark, _P14_PARTS, {
        "preview": f"SELECT * FROM {v['customer']} ORDER BY c_custkey LIMIT 50",
        "metric_history": metric_history_sql(v["events"]),
        "top_tokens": _sp_top_tokens(v["documents"])})


# -- x13: fused sampling + dedup_corpus + retention, one statement ---------

def _sp_sampling_fused(documents: str) -> str:
    from sparvi_spark.checks.pipeline_checks import SAMPLE_PCT, STRAT_N
    from sparvi_spark.operators.sampling import HASH_A, HASH_B, HASH_M

    h = f"pmod(cast(doc_id as bigint) * {HASH_A}L + {HASH_B}L, {HASH_M}L)"
    inner = (f"SELECT source, doc_id, __bk, row_number() OVER ("
             f"PARTITION BY source ORDER BY {h}, doc_id) AS __rk FROM ("
             f"SELECT source, doc_id, {h} % 100 AS __bk FROM {documents})")
    base = (f"SELECT source, "
            f"cast(sum(case when __bk < {SAMPLE_PCT} then 1 else 0 end) "
            f"as bigint) AS bn, "
            f"cast(sum(case when __bk < {SAMPLE_PCT} then doc_id else 0 "
            f"end) as bigint) AS bc, "
            f"cast(sum(case when __rk <= {STRAT_N} then 1 else 0 end) "
            f"as bigint) AS sn, "
            f"cast(sum(case when __rk <= {STRAT_N} then doc_id else 0 "
            f"end) as bigint) AS sc FROM ({inner}) GROUP BY source")
    return (f"SELECT u.part AS part, u.key AS key, u.n AS n, "
            f"u.id_checksum AS id_checksum FROM (SELECT explode(array("
            f"named_struct('part', 'sample_bernoulli', 'key', source, "
            f"'n', bn, 'id_checksum', bc), "
            f"named_struct('part', 'sample_stratified', 'key', source, "
            f"'n', sn, 'id_checksum', sc))) AS u FROM ({base})) "
            f"WHERE u.n > 0")


def _sp_dedup_corpus(documents: str) -> str:
    from sparvi_spark.checks.pipeline_checks import DOC_CAP, JACCARD_T
    from sparvi_spark.operators.dedup import tokens_expr

    sh = (f"SELECT DISTINCT doc_id AS id, shingle FROM (SELECT doc_id, "
          f"explode({tokens_expr('text')}) AS shingle FROM {documents} "
          f"WHERE doc_id < {DOC_CAP})")
    sz = f"SELECT id, count(1) AS sz FROM ({sh}) GROUP BY id"
    shared = (f"SELECT a.id AS id_a, b.id AS id_b, count(1) AS shared "
              f"FROM ({sh}) a JOIN ({sh}) b USING (shingle) "
              f"WHERE a.id < b.id GROUP BY a.id, b.id")
    dups = (f"SELECT DISTINCT id_b FROM ({shared}) "
            f"JOIN ({sz}) x ON id_a = x.id JOIN ({sz}) y ON id_b = y.id "
            f"WHERE round(shared * cast(1 as double) "
            f"/ (x.sz + y.sz - shared), 6) >= {JACCARD_T}")
    return (f"SELECT source, count(1) AS n_kept, "
            f"cast(sum(doc_id) as bigint) AS id_checksum "
            f"FROM {documents} WHERE doc_id < {DOC_CAP} "
            f"AND doc_id NOT IN ({dups}) GROUP BY source")


def q_id_checksums_fused_sql(spark, sf_dir):
    v = table_views(spark, sf_dir, ["documents", "events"])
    stmts = [_sp_sampling_fused(v["documents"])]
    stmts.append(
        f"SELECT 'dedup_corpus' as part, source AS key, n_kept AS n, "
        f"id_checksum AS id_checksum FROM ({_sp_dedup_corpus(v['documents'])})")
    stmts.append(
        f"SELECT 'retention' as part, CAST(user_id AS STRING) AS key, "
        f"kept AS n, id_checksum AS id_checksum "
        f"FROM ({retention_sql(v['events'])})")
    return spark.sql(" UNION ALL ".join(stmts))


# -- x24: numeric + categorical + vocab drift, one statement ---------------

_X24_PARTS = [
    ("numeric", q_numeric_drift, _sql_numeric_drift(), ["column_name"],
     ["n_expected", "n_actual", "tvd", "chi2"], []),
    ("categorical", q_categorical_drift, _sql_categorical_drift(),
     ["category"], ["p_expected", "p_actual", "delta", "abs_delta"], []),
    # r10: the round-9 vocabulary-drift family, previously EXTRA-only
    # (e18/e19) — now driver-graded in the drift slot it belongs to
    ("vocab", q_vocab_drift, _sql_vocab_drift(), ["token"],
     ["n_a", "n_b", "p_a", "p_b", "delta"], []),
    ("vocab_tvd", q_vocab_tvd, _sql_vocab_tvd(), [],
     ["tvd", "n_tokens_union"], []),
]


def q_drift_fused(spark, sf_dir):
    """x24 Spark side: the drift builders over tagged relations, each
    ONE scan with a CASE side (the oracle's declared construction; a
    filtered scan per side reads the table twice per pass). A NULL order
    date lands on the actual side of the numeric melt (the oracle's
    CASE) and on neither side of the categorical counts (its per-side
    WHEREs); a NULL source matches neither ``= 'src0'`` nor
    ``<> 'src0'``. The vocab and vocab_tvd parts share one counts
    subplan, so ReusedExchange runs the token pass once."""
    from sparvi_spark.checks.pipeline_checks import (
        DRIFT_BINS,
        DRIFT_COLS,
        DRIFT_SPLIT,
        VOCAB_MIN_COUNT,
        VOCAB_TOP_K,
    )

    v = table_views(spark, sf_dir, ["orders", "documents"])
    split = f"cast({sql_str(DRIFT_SPLIT)} as timestamp)"
    cols = ", ".join(ident(c) for c in DRIFT_COLS)
    num = (f"(SELECT {cols}, case when o_orderdate < {split} then 1 "
           f"else 0 end AS __side FROM {v['orders']})")
    cat = (f"(SELECT o_orderpriority, case when o_orderdate < {split} "
           f"then 1 when o_orderdate >= {split} then 0 end AS __side "
           f"FROM {v['orders']})")
    docs = (f"(SELECT text, case when source = 'src0' then 1 else 0 end "
            f"AS __side FROM {v['documents']} WHERE source IS NOT NULL)")
    return _melt_statement(spark, _X24_PARTS, {
        "numeric": numeric_drift_sql(num, DRIFT_COLS, DRIFT_BINS),
        "categorical": categorical_drift_sql(cat, "o_orderpriority"),
        "vocab": vocab_drift_sql(docs, "text", VOCAB_TOP_K, VOCAB_MIN_COUNT),
        "vocab_tvd": vocab_tvd_sql(docs),
    })


CHECKS = {
    # -- merged slots for previously-graded families --------------------
    "a01_anomaly_scores": (q_anomaly_scores_4way, _A01_SQL),
    "d02_pair_scores": (q_pair_scores_fused, _D02_SQL),
    # r12: the five slots below keep their generated oracle SQL but build
    # the Spark side as ONE spark.sql statement (see the r12 comment above)
    "x13_id_checksums": (q_id_checksums_fused_sql, _X13_SQL),
    "t02_rollups": (q_rollups_fused, melted_check(_T02_PARTS)[1]),
    "t03_summaries": (q_summaries_fused, melted_check(_T03_PARTS)[1]),
    "p14_misc_small": (q_misc_small_fused, melted_check(_P14_PARTS)[1]),
    # -- round-5 LLM-pipeline families, now driver-graded ----------------
    "x24_drift": (q_drift_fused, melted_check(_X24_PARTS)[1]),
    "x27_doc_scores": (q_doc_scores_fused, _X27_SQL),
    "x26_shard_split": aligned_union_check([
        ("shard_plan", q_shard_plan, _sql_shard_plan(),
         {"key": "CAST(shard AS STRING)", "n": "n_rows",
          "min_id": "min_id", "max_id": "CAST(max_id AS DOUBLE)"}),
        ("eval_split", q_eval_split, _sql_eval_split(),
         {"key": "split", "n": "n", "min_id": "min_id",
          "max_id": "CAST(NULL AS DOUBLE)"}),
    ], columns=["key", "n", "min_id", "max_id"]),
    "e10_tokenize_pack": melted_check([
        ("bpe_encode", q_bpe_tokenize, SQL_BPE_TOKENIZE, ["doc_id"],
         ["n_tokens", "n_unk"], []),
        ("pack", q_pack_sequences, SQL_PACK_SEQUENCES,
         ["doc_id", "seg_idx"],
         ["shard", "n_tokens", "pack_id", "seg_start", "seg_tokens"], []),
        # r8: the no-split complement — next-fit-decreasing whole-document
        # bins, oracle-replayed sequentially via a recursive CTE
        ("binpack", q_binpack, _sql_binpack(), ["doc_id"],
         ["shard", "n_tokens", "truncated", "pack_idx", "pack_fill"], []),
    ]),
    "x30_semantic_dedup": (q_semantic_dedup, _sql_semantic_dedup()),
    "x31_duplicate_spans": (q_duplicate_spans, SQL_DUPLICATE_SPANS),
    "e11_sig_pairs": (q_sig_pairs, _sql_sig_pairs()),
    "e13_dedup_lines": (q_dedup_lines, SQL_DEDUP_LINES),
    "e14_corpus_diff": (q_corpus_diff, SQL_CORPUS_DIFF),
}
