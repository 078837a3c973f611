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
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sparvi_spark.checks import aligned_union_check, melted_check, union_check
from sparvi_spark.checks.anomaly_checks import (
    SQL_IQR_GLOBAL,
    SQL_IQR_ROLLING,
    SQL_ZSCORE_GLOBAL,
    SQL_ZSCORE_ROLLING,
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
    q_anomaly_summary_combined,
    q_daily_rollup,
    q_dashboard_combined,
    q_health_summary,
    q_metric_history,
    q_retention,
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
    from sparvi_spark.checks import dir_tag, melt_part_sql
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
    sql = " UNION ALL ".join(
        melt_part_sql(part_sqls[tag_], tag_, keys, nums, strs)
        for tag_, _f, _sql, keys, nums, strs in _X27_PARTS)
    return spark.sql(sql)


# ---------------------------------------------------------------------------
# r12 one-statement Spark builders for the remaining hot slots: each slot
# renders ONE Spark-SQL statement over per-(session, sf_dir) temp views
# (see checks/__init__ _VIEWS comment) and calls spark.sql once, replacing
# 15-40 chained Dataset creations (each a py4j round trip + eager
# re-analysis). The anomaly parts call the detector and format builders
# of operators/anomalies.py, the one text both the operators and the
# checks run. The other parts mirror their part builders' expression text
# stage for stage, so every value is bit-identical — pinned by
# scripts/snapshot_checks.py at all three SFs, and by the unchanged
# DuckDB oracle SQL (still generated from the same part specs).
# ---------------------------------------------------------------------------

from sparvi_spark.checks import melt_part_sql, table_views  # noqa: E402
from sparvi_spark.checks.anomaly_checks import _series_view  # noqa: E402
from sparvi_spark.checks.trend_checks import (  # noqa: E402
    SPINE_END,
    SPINE_START,
)
from sparvi_spark.operators.anomalies import format_sql, zscore_sql  # noqa: E402
from sparvi_spark.operators.trends import spine_sql  # noqa: E402

_HS = ("case when (passing + failing) > 0 then "
       "round(passing * cast(100 as double) / (passing + failing), 2) end")


def _sp_results(events: str) -> str:
    # trend_checks._results: validation-result emulation over events
    return (f"SELECT user_id AS rule_id, event_id, ts AS run_at, "
            f"(event_type != 'error') AS is_valid FROM {events}")


def _sp_latest(src: str, part_keys: str, extra_cols: str = "") -> str:
    # trends.retain_latest(keys, run_at, 1, tiebreak=[event_id])
    return (f"SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY "
            f"{part_keys} ORDER BY run_at DESC, event_id DESC) AS __rn "
            f"FROM ({src})) WHERE __rn = 1")


def _sp_daily_rollup(events: str) -> str:
    results = (f"SELECT user_id AS rule_id, event_id, ts AS run_at, "
               f"(event_type != 'error') AS is_valid, to_date(ts) AS day "
               f"FROM {events}")
    latest = _sp_latest(results, "rule_id, day")
    per_day = (f"SELECT day, count(case when is_valid then 1 end) AS passed, "
               f"count(case when not is_valid then 1 end) AS failed, "
               f"count(1) AS seen FROM ({latest}) GROUP BY day")
    spine = spine_sql(SPINE_START, SPINE_END)
    return (
        f"SELECT date_format(spine.day, 'yyyy-MM-dd') AS day, "
        f"coalesce(passed, 0) AS passed, coalesce(failed, 0) AS failed, "
        f"coalesce(seen, 0) AS seen, "
        f"case when coalesce(passed, 0) + coalesce(failed, 0) > 0 then "
        f"round(passed * cast(100 as double) / (passed + failed), 2) end "
        f"AS health_score "
        f"FROM ({spine}) spine LEFT JOIN ({per_day}) per_day "
        f"ON spine.day = per_day.day")


def _sp_anomalies(series: str) -> str:
    # trend_checks._anomalies: zscore @ sensitivity 2 + format_anomalies
    det = zscore_sql(series, ["metric_name"], sensitivity=2.0)
    return format_sql(f"({det})", "zscore", ["metric_name"])


def _sp_dashboard_combined(events: str, series: str) -> str:
    daily = (f"SELECT to_date(ts) AS day, count(1) AS total, "
             f"count(case when severity = 'high' then 1 end) AS high, "
             f"count(case when severity = 'medium' then 1 end) AS medium, "
             f"count(case when severity = 'low' then 1 end) AS low "
             f"FROM ({_sp_anomalies(series)}) GROUP BY to_date(ts)")
    spine = spine_sql(SPINE_START, SPINE_END)
    trend = (f"SELECT date_format(day, 'yyyy-MM-dd') AS day, total, high, "
             f"medium, low FROM (SELECT spine.day, "
             f"coalesce(total, 0) AS total, coalesce(high, 0) AS high, "
             f"coalesce(medium, 0) AS medium, coalesce(low, 0) AS low "
             f"FROM ({spine}) spine LEFT JOIN ({daily}) daily "
             f"ON spine.day = daily.day)")
    dd = (f"SELECT date_format(to_date(ts), 'yyyy-MM-dd') AS day, "
          f"round(cast(sum(cast(value as decimal(18,2))) as double) "
          f"/ count(value), 4) AS avg_value, "
          f"count(distinct user_id) AS n_entities, count(1) AS n_rows "
          f"FROM {events} GROUP BY date_format(to_date(ts), 'yyyy-MM-dd')")
    return (f"SELECT day, total, high, medium, low, avg_value, n_entities, "
            f"n_rows FROM ({trend}) LEFT JOIN ({dd}) USING (day)")


def _sp_health_summary(events: str) -> str:
    latest = _sp_latest(_sp_results(events), "rule_id")
    agg = (f"SELECT count(1) AS total_rules, "
           f"count(case when is_valid then 1 end) AS passing, "
           f"count(case when not is_valid then 1 end) AS failing, "
           f"date_format(max(run_at), 'yyyy-MM-dd HH:mm:ss') AS last_run "
           f"FROM ({latest})")
    res2 = (f"SELECT event_type AS grp, user_id AS rule_id, event_id, "
            f"ts AS run_at, (value > 100) AS is_valid FROM {events}")
    latest2 = _sp_latest(res2, "grp, rule_id")
    agg2 = (f"SELECT grp, count(1) AS total_rules, "
            f"count(case when is_valid then 1 end) AS passing, "
            f"count(case when not is_valid then 1 end) AS failing, "
            f"date_format(max(run_at), 'yyyy-MM-dd HH:mm:ss') AS last_run "
            f"FROM ({latest2}) GROUP BY grp")
    return (f"SELECT '__overall__' AS grp, total_rules, passing, failing, "
            f"last_run, {_HS} AS health_score FROM ({agg}) "
            f"UNION ALL "
            f"SELECT grp, total_rules, passing, failing, last_run, "
            f"{_HS} AS health_score FROM ({agg2})")


def _sp_anomaly_summary_combined(series: str) -> str:
    anom = _sp_anomalies(series)
    sev = (f"SELECT 'severity' AS section, severity AS key, cnt FROM ("
           f"SELECT severity, count(1) AS cnt FROM ({anom}) "
           f"GROUP BY severity)")
    top = (f"SELECT 'top_metric' AS section, metric_name AS key, cnt FROM ("
           f"SELECT metric_name, cnt FROM (SELECT *, row_number() OVER ("
           f"ORDER BY cnt DESC, metric_name ASC) AS __rn FROM ("
           f"SELECT metric_name, count(1) AS cnt FROM ({anom}) "
           f"GROUP BY metric_name)) WHERE __rn <= 3)")
    return f"{sev} UNION ALL {top}"


def q_rollups_fused(spark, sf_dir):
    v = table_views(spark, sf_dir, ["events"])
    series = _series_view(spark, sf_dir)
    sql = " UNION ALL ".join([
        melt_part_sql(_sp_daily_rollup(v["events"]), "daily_rollup",
                      ["day"], ["passed", "failed", "seen", "health_score"],
                      []),
        melt_part_sql(_sp_dashboard_combined(v["events"], series),
                      "dashboard_daily", ["day"],
                      ["total", "high", "medium", "low", "avg_value",
                       "n_entities", "n_rows"], []),
    ])
    return spark.sql(sql)


def q_summaries_fused(spark, sf_dir):
    v = table_views(spark, sf_dir, ["events"])
    series = _series_view(spark, sf_dir)
    sql = " UNION ALL ".join([
        melt_part_sql(_sp_health_summary(v["events"]), "health_summary",
                      ["grp"],
                      ["total_rules", "passing", "failing", "health_score"],
                      ["last_run"]),
        melt_part_sql(_sp_anomaly_summary_combined(series),
                      "anomaly_summary", ["section", "key"], ["cnt"], []),
    ])
    return spark.sql(sql)


def _sp_metric_history(events: str) -> str:
    from sparvi_spark.checks.trend_checks import FETCH_LIMIT, FETCH_SINCE

    base = (f"SELECT event_type AS metric_name, event_id, "
            f"value AS metric_value, ts FROM {events}")
    fetched = (f"SELECT * FROM ({base}) WHERE metric_name = 'click' "
               f"AND ts >= cast('{FETCH_SINCE}' as timestamp) "
               f"ORDER BY ts DESC, event_id DESC LIMIT {FETCH_LIMIT}")
    return (f"SELECT metric_name, event_id, "
            f"round(metric_value, 4) AS metric_value, "
            f"date_format(ts, 'yyyy-MM-dd HH:mm:ss') AS ts_s "
            f"FROM ({fetched})")


def _sp_top_tokens(documents: str) -> str:
    from sparvi_spark.operators.dedup import tokens_expr

    counted = (f"SELECT token, count(1) AS cnt FROM (SELECT "
               f"explode({tokens_expr('text')}) AS token FROM {documents}) "
               f"WHERE token != '' GROUP BY token")
    topk = (f"SELECT token, cnt FROM ({counted}) "
            f"ORDER BY cnt DESC, token ASC LIMIT 10")
    return (f"SELECT token, cnt, row_number() OVER (ORDER BY cnt DESC, "
            f"token ASC) AS rank FROM ({topk})")


def q_misc_small_fused(spark, sf_dir):
    v = table_views(spark, sf_dir, ["events", "customer", "documents"])
    sql = " UNION ALL ".join([
        melt_part_sql(f"SELECT * FROM {v['customer']} "
                      f"ORDER BY c_custkey LIMIT 50",
                      "preview", ["c_custkey"],
                      ["c_nationkey", "c_acctbal"],
                      ["c_name", "c_mktsegment"]),
        melt_part_sql(_sp_metric_history(v["events"]), "metric_history",
                      ["metric_name", "event_id"], ["metric_value"],
                      ["ts_s"]),
        melt_part_sql(_sp_top_tokens(v["documents"]), "top_tokens",
                      ["token"], ["cnt", "rank"], []),
    ])
    return spark.sql(sql)


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


def _sp_retention(events: str) -> str:
    kept = (f"SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY "
            f"user_id ORDER BY ts DESC, event_id DESC) AS __rn "
            f"FROM {events}) WHERE __rn <= 10")
    return (f"SELECT user_id, count(1) AS kept, "
            f"sum(event_id) AS id_checksum FROM ({kept}) GROUP BY user_id")


def q_id_checksums_fused_sql(spark, sf_dir):
    v = table_views(spark, sf_dir, ["documents", "events"])
    stmts = [_sp_sampling_fused(v["documents"])]
    stmts.append(
        f"SELECT 'dedup_corpus' as part, source AS key, n_kept AS n, "
        f"id_checksum AS id_checksum FROM ({_sp_dedup_corpus(v['documents'])})")
    stmts.append(
        f"SELECT 'retention' as part, CAST(user_id AS STRING) AS key, "
        f"kept AS n, id_checksum AS id_checksum "
        f"FROM ({_sp_retention(v['events'])})")
    return spark.sql(" UNION ALL ".join(stmts))


# -- x24: numeric + categorical + vocab drift, one statement ---------------

def _sp_numeric_drift(orders: str) -> str:
    from sparvi_spark.checks.pipeline_checks import (
        DRIFT_BINS,
        DRIFT_COLS,
        DRIFT_SPLIT,
    )
    from sparvi_spark.operators.drift import _DEC, bucket_expr

    b = DRIFT_BINS
    split = f"cast('{DRIFT_SPLIT}' as timestamp)"

    # ONE scan per pass with a CASE side (r12) — the previous two
    # per-side filtered scans read orders twice per pass (4x per
    # statement, since m feeds both edges and binned). This is also the
    # DECLARED construction: the oracle melt is `CASE WHEN o_orderdate <
    # split THEN 'e' ELSE 'a' END` over one scan (NULL order dates land
    # in 'a' on both engines; the old per-side WHERE dropped them).
    # Keys are INTS end to end (r12): the melt emits a column INDEX and
    # side flag instead of name/'e' strings — string group keys force
    # every hash aggregate off the fixed-width fast map (the p01 lesson:
    # 0.81s -> 0.049s for an identical plan at sf0.1); the name attaches
    # back via a CASE over the final per-column rows.
    stack = ", ".join(f"{i}, cast(`{c}` as double)"
                      for i, c in enumerate(DRIFT_COLS))
    name_case = ("case " + " ".join(
        f"when __ci = {i} then '{c}'" for i, c in enumerate(DRIFT_COLS))
        + " end")
    m = (f"SELECT __ci, v, __e FROM ("
         f"SELECT stack({len(DRIFT_COLS)}, {stack}) as (__ci, v), "
         f"case when o_orderdate < {split} then 1 else 0 end as __e "
         f"FROM {orders}) WHERE v is not null")
    edges = (f"SELECT __ci, "
             f"min(case when __e = 1 then v end) AS mn, "
             f"max(case when __e = 1 then v end) AS mx "
             f"FROM ({m}) GROUP BY __ci")
    binned = (f"SELECT /*+ BROADCAST(edges) */ __ci, __e, "
              f"{bucket_expr(b)} AS b FROM ({m}) m JOIN ({edges}) edges "
              f"USING (__ci)")
    counts = (f"SELECT __ci, b, "
              f"count(case when __e = 1 then 1 end) AS ce, "
              f"count(case when __e = 0 then 1 end) AS ca "
              f"FROM ({binned}) GROUP BY __ci, b")
    pe = (f"((cast(ce as double) + 0.5d) / "
          f"(cast(ne as double) + 0.5d * {b}))")
    pa = (f"((cast(ca as double) + 0.5d) / "
          f"(cast(na as double) + 0.5d * {b}))")
    terms = (f"SELECT __ci, ne, na, "
             f"cast(round(abs({pa} - {pe}), 15) as {_DEC}) AS __tvd_t, "
             f"cast(round(({pa} - {pe}) * ({pa} - {pe}) / {pe}, 15) "
             f"as {_DEC}) AS __chi2_t FROM ("
             f"SELECT __ci, ce, ca, "
             f"sum(ce) OVER (PARTITION BY __ci) AS ne, "
             f"sum(ca) OVER (PARTITION BY __ci) AS na "
             f"FROM ({counts}))")
    pe0 = f"(0.5d / (cast(max(ne) as double) + 0.5d * {b}))"
    pa0 = f"(0.5d / (cast(max(na) as double) + 0.5d * {b}))"
    miss = f"cast({b} - count(1) as double)"
    return (f"SELECT {name_case} AS column_name, n_expected, n_actual, "
            f"tvd, chi2 FROM (SELECT __ci, "
            f"max(ne) AS n_expected, max(na) AS n_actual, "
            f"round(cast((sum(__tvd_t) + cast(round({miss} * "
            f"abs({pa0} - {pe0}), 15) as {_DEC})) * 0.5 as double), 9) "
            f"AS tvd, "
            f"round(cast(sum(__chi2_t) + cast(round({miss} * "
            f"(({pa0} - {pe0}) * ({pa0} - {pe0}) / {pe0}), 15) "
            f"as {_DEC}) as double), 9) AS chi2 "
            f"FROM ({terms}) GROUP BY __ci)")


def _sp_categorical_drift(orders: str) -> str:
    from sparvi_spark.checks.pipeline_checks import DRIFT_SPLIT

    split = f"cast('{DRIFT_SPLIT}' as timestamp)"

    # ONE scan + ONE groupBy (r12) — replaces two per-side scans and a
    # full-outer join of the per-side aggregates. CASE-counting both
    # sides in one aggregation yields the same (category, c_e, c_a)
    # rows: a NULL order date counts in NEITHER case branch (exactly the
    # oracle's per-side WHERE), and the HAVING reproduces the full-outer
    # row set (the oracle emits a category iff it has rows on at least
    # one side; a hypothetical category whose rows all have NULL dates
    # would otherwise appear here as (0, 0)).
    both = (f"SELECT category, "
            f"count(case when o_orderdate < {split} then 1 end) AS c_e, "
            f"count(case when o_orderdate >= {split} then 1 end) AS c_a "
            f"FROM (SELECT "
            f"coalesce(cast(`o_orderpriority` as string), '<<NULL>>') "
            f"AS category, o_orderdate FROM {orders}) "
            f"GROUP BY category HAVING c_e > 0 OR c_a > 0")
    p = (f"SELECT category, "
         f"round(cast(c_e as double) / ne, 9) AS p_expected, "
         f"round(cast(c_a as double) / na, 9) AS p_actual, "
         f"round(cast(c_a as double) / na - cast(c_e as double) / ne, 9) "
         f"AS delta FROM (SELECT category, c_e, c_a, "
         f"sum(c_e) OVER () AS ne, sum(c_a) OVER () AS na FROM ({both}))")
    return (f"SELECT category, p_expected, p_actual, delta, "
            f"abs(delta) AS abs_delta FROM ({p}) "
            f"ORDER BY abs_delta DESC, category")


def _sp_vocab_base(documents: str) -> str:
    from sparvi_spark.operators.dedup import tokens_expr

    toks = tokens_expr("text")
    # ONE scan with a CASE tag (r12; was a two-scan union). The explicit
    # NOT NULL filter preserves the per-side WHERE semantics both the
    # old form and the oracle share: a NULL source matches neither
    # `= 'src0'` nor `<> 'src0'`.
    tagged = (f"SELECT case when source = 'src0' then 1 else 0 end AS __a, "
              f"{toks} AS __t FROM {documents} WHERE source IS NOT NULL")
    counts = (f"SELECT token, cast(sum(__a) as bigint) AS n_a, "
              f"cast(sum(1 - __a) as bigint) AS n_b FROM ("
              f"SELECT __a, explode(__t) AS token FROM ({tagged})) "
              f"GROUP BY token")
    return (f"SELECT /*+ BROADCAST(tot) */ * FROM ({counts}) CROSS JOIN "
            f"(SELECT sum(n_a) AS ta, sum(n_b) AS tb FROM ({counts})) tot")


def _sp_vocab_drift(documents: str) -> str:
    from sparvi_spark.checks.pipeline_checks import (
        VOCAB_MIN_COUNT,
        VOCAB_TOP_K,
    )

    pa = "cast(n_a as double) / ta"
    pb = "cast(n_b as double) / tb"
    return (f"SELECT token, n_a, n_b, p_a, p_b, delta FROM ("
            f"SELECT token, n_a, n_b, round({pa}, 9) AS p_a, "
            f"round({pb}, 9) AS p_b, round({pa} - {pb}, 9) AS delta, "
            f"abs({pa} - {pb}) AS __absd "
            f"FROM ({_sp_vocab_base(documents)}) "
            f"WHERE n_a >= {VOCAB_MIN_COUNT} or n_b >= {VOCAB_MIN_COUNT} "
            f"ORDER BY __absd DESC, token ASC LIMIT {VOCAB_TOP_K})")


def _sp_vocab_tvd(documents: str) -> str:
    from sparvi_spark.operators.drift import _DEC

    return (f"SELECT round(cast(sum(__t) as double) / 2.0d, 9) AS tvd, "
            f"count(1) AS n_tokens_union FROM (SELECT "
            f"cast(round(abs(cast(n_a as double) / ta "
            f"- cast(n_b as double) / tb), 15) as {_DEC}) AS __t "
            f"FROM ({_sp_vocab_base(documents)}))")


def q_drift_fused(spark, sf_dir):
    v = table_views(spark, sf_dir, ["orders", "documents"])
    sql = " UNION ALL ".join([
        melt_part_sql(_sp_numeric_drift(v["orders"]), "numeric",
                      ["column_name"],
                      ["n_expected", "n_actual", "tvd", "chi2"], []),
        melt_part_sql(_sp_categorical_drift(v["orders"]), "categorical",
                      ["category"],
                      ["p_expected", "p_actual", "delta", "abs_delta"], []),
        melt_part_sql(_sp_vocab_drift(v["documents"]), "vocab", ["token"],
                      ["n_a", "n_b", "p_a", "p_b", "delta"], []),
        melt_part_sql(_sp_vocab_tvd(v["documents"]), "vocab_tvd", [],
                      ["tvd", "n_tokens_union"], []),
    ])
    return spark.sql(sql)


CHECKS = {
    # -- merged slots for previously-graded families --------------------
    "a01_anomaly_scores": (q_anomaly_scores_4way, _A01_SQL),
    "d02_pair_scores": (q_pair_scores_fused, _D02_SQL),
    # r12: the five slots below keep their generated oracle SQL but build
    # the Spark side as ONE spark.sql statement (see the r12 comment above)
    "x13_id_checksums": (q_id_checksums_fused_sql, _X13_SQL),
    "t02_rollups": (q_rollups_fused, melted_check([
        ("daily_rollup", q_daily_rollup, SQL_DAILY_ROLLUP, ["day"],
         ["passed", "failed", "seen", "health_score"], []),
        ("dashboard_daily", q_dashboard_combined, SQL_DASHBOARD_COMBINED,
         ["day"],
         ["total", "high", "medium", "low", "avg_value", "n_entities",
          "n_rows"], []),
    ])[1]),
    "t03_summaries": (q_summaries_fused, melted_check([
        ("health_summary", q_health_summary, SQL_HEALTH_SUMMARY, ["grp"],
         ["total_rules", "passing", "failing", "health_score"],
         ["last_run"]),
        ("anomaly_summary", q_anomaly_summary_combined,
         SQL_ANOMALY_SUMMARY_COMBINED, ["section", "key"], ["cnt"], []),
    ])[1]),
    "p14_misc_small": (q_misc_small_fused, melted_check([
        ("preview", q_preview, SQL_PREVIEW, ["c_custkey"],
         ["c_nationkey", "c_acctbal"], ["c_name", "c_mktsegment"]),
        ("metric_history", q_metric_history, SQL_METRIC_HISTORY,
         ["metric_name", "event_id"], ["metric_value"], ["ts_s"]),
        ("top_tokens", q_top_tokens, SQL_TOP_TOKENS, ["token"],
         ["cnt", "rank"], []),
    ])[1]),
    # -- round-5 LLM-pipeline families, now driver-graded ----------------
    "x24_drift": (q_drift_fused, melted_check([
        ("numeric", q_numeric_drift, _sql_numeric_drift(), ["column_name"],
         ["n_expected", "n_actual", "tvd", "chi2"], []),
        ("categorical", q_categorical_drift, _sql_categorical_drift(),
         ["category"],
         ["p_expected", "p_actual", "delta", "abs_delta"], []),
        # r10: the round-9 vocabulary-drift family, previously EXTRA-only
        # (e18/e19) — now driver-graded in the drift slot it belongs to
        ("vocab", q_vocab_drift, _sql_vocab_drift(), ["token"],
         ["n_a", "n_b", "p_a", "p_b", "delta"], []),
        ("vocab_tvd", q_vocab_tvd, _sql_vocab_tvd(), [],
         ["tvd", "n_tokens_union"], []),
    ])[1]),
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
