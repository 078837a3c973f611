"""fastText-style hashed linear text classifier SCORING — the quality /
domain / toxicity classifier application step of a training-data
pipeline. The model trains offline on labeled KBs; scoring 100 TB of
candidate documents is the Spark-shaped problem, and it is a pure
projection here: no shuffle, no UDF, no join.

Score shape (binary classifier over hashed bag-of-tokens features):

    margin = (bias + (Σ_tokens qw[hash(token) mod dim]) / S) / n_tokens
    label  = margin > 0

The whole log-odds — bias INCLUDED — is divided by the token count
(length-normalized margin), so ``label`` always agrees with the sign of
the unnormalized decision ``bias + Σ w·count`` that Naive Bayes / any
linear model defines: dividing by a positive count scales a margin but
never flips it. (An earlier shape normalized only the feature sum, which
silently flipped decisions vs NB under class imbalance — nonzero bias.)

Two engineering choices make it scale- and oracle-clean:

- **Int-quantized weights** (``S = 10^6`` — the int16/int8 quantization
  production classifiers ship with anyway): the per-document feature sum
  is exact integer arithmetic — overflow-safe in int64 to ~9·10^12
  tokens/doc, order-free, bit-identical in every engine — and the only
  float ops are one division and one add at the end (IEEE basic ops,
  correctly rounded everywhere). The oracle recomputes margins
  bit-for-bit; no transcendental enters the compared columns.
- **Model as one constant-folded literal**: the dim-int weight table
  (kilobytes) rides in the plan like the IVF centroid table
  (similarity.centroid_probe_expr) — parsed JVM-side in one call,
  collapsed to a single Literal by ConstantFolding, shipped with the
  task binary. No broadcast variable, no join against a weights table.

Token features use the portable character-fold polynomial hash
(dedup.portable_hash_expr arithmetic), the same one the MinHash/SimHash
oracles replay in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparvi_spark.operators.dedup import portable_hash_expr

WEIGHT_SCALE = 1_000_000


def quantize_weights(weights: list[float]) -> list[int]:
    """Float weights -> the int table the scorer folds into the plan."""
    return [int(round(float(w) * WEIGHT_SCALE)) for w in weights]


def linear_scores(
    df: DataFrame,
    weights: list[float],
    id_col: str = "doc_id",
    text_col: str = "text",
    bias: float = 0.0,
    round_to: int = 9,
    emit_sum: bool = False,
    keep_cols: list[str] | None = None,
    tokens_col: str | None = None,
) -> DataFrame:
    """(id, n_tokens, margin, label[, feature_sum][, *keep_cols]) per
    document. ``keep_cols`` threads input columns through the staged
    projections (appended after the score columns) — evaluation callers
    carry the label source along instead of re-joining the input on id.
    ``tokens_col`` names a PRE-SPLIT token-array column to score instead
    of splitting ``text_col`` — callers that already tokenized the
    corpus for another consumer (the graded x27 melt shares one tokens
    frame between this scorer and the bigram LM) skip the second split
    pass; the arrays must be the same lowercased-whitespace split for
    outputs to stay bit-identical.

    ``weights`` is the trained dense weight table (its length is the
    feature dimension); tokens are lowercased whitespace words (the text
    module's split semantics). ``label`` compares the UNROUNDED margin
    to 0 so it can never disagree with the sign of the true score;
    ``margin`` is rounded for stable storage. ``emit_sum`` appends the
    exact int64 ``feature_sum`` — the engine-independent number (the
    margin DOUBLE is identical everywhere too, but rounding it to
    decimal digits is not: a value whose shortest repr ties at the cut
    digit rounds differently under Spark's repr-based HALF_UP vs an
    engine that rounds the binary value, so cross-engine comparisons
    should use the integers).
    """
    dim = len(weights)
    qw = quantize_weights(weights)
    wlit = "array(%s)" % ", ".join(f"{w}L" for w in qw)
    toks = (f"`{tokens_col}`" if tokens_col
            else f"split(lower(trim(`{text_col}`)), '\\\\s+')")
    feat = (f"element_at({wlit}, "
            f"cast({portable_hash_expr('t')} % {dim} as int) + 1)")
    # STAGED projections so each expensive expression evaluates ONCE:
    # higher-order functions (aggregate/transform) are interpreted — no
    # codegen CSE — so inlining the token-fold into margin AND label AND
    # feature_sum ran the whole per-char hash aggregate 3x per row (and
    # split() twice more for size). Same cliff class as the langid
    # let-binding (text.lang_id_expr); measured 3.1x on the 100x sweep.
    # The math is unchanged: margin/label derive from the same exact
    # int64 feature sum, so every output is bit-identical to the fused
    # form (one division + one add, IEEE basic ops).
    margin = (f"((cast({float(bias)!r} as double) + cast(__fsum as double) "
              f"/ {WEIGHT_SCALE}.0d) / cast(n_tokens as double))")
    keep = [f"`{c}`" for c in (keep_cols or [])]
    return (df.selectExpr(f"`{id_col}`", *keep, f"{toks} AS __toks")
            .selectExpr(f"`{id_col}`", *keep, "size(__toks) AS n_tokens",
                        f"aggregate(__toks, 0L, (s, t) -> s + {feat}) "
                        f"AS __fsum")
            .selectExpr(
                f"`{id_col}`",
                "n_tokens",
                f"round({margin}, {round_to}) AS margin",
                f"{margin} > 0.0d AS label",
                *([f"__fsum AS feature_sum"] if emit_sum else []),
                *keep,
            ))


def token_bucket_counts(
    df: DataFrame,
    label_col: str,
    text_col: str = "text",
    dim: int = 4096,
) -> DataFrame:
    """Per-feature-bucket class counts -> (bucket, n_pos, n_neg) — the
    distributed HALF of classifier training. Tokens hash into ``dim``
    buckets with the same portable fold ``linear_scores`` uses, so the
    trained table plugs straight into the scorer.

    One explode + one groupBy on an int key with map-side partials; the
    result is dim-bounded (KBs) regardless of corpus size — the shape
    that trains on 100 TB of labeled text in a single pass. Buckets no
    token hit are absent (the trainer fills them with the prior).
    """
    toks = f"split(lower(trim(`{text_col}`)), '\\\\s+')"
    return (df.selectExpr(
        f"cast(`{label_col}` as int) AS __y",
        f"explode({toks}) AS __t")
        .selectExpr(
            f"cast({portable_hash_expr('__t')} % {dim} as int) AS bucket",
            "__y")
        .groupBy("bucket")
        .agg(F.expr("sum(__y)").alias("n_pos"),
             F.expr("sum(1 - __y)").alias("n_neg"))
    )


def train_nb_classifier(
    df: DataFrame,
    label_col: str,
    text_col: str = "text",
    dim: int = 4096,
    alpha: float = 1.0,
) -> tuple[list[float], float]:
    """Train a multinomial-Naive-Bayes linear classifier over hashed
    bag-of-tokens features -> (weights, bias) ready for ``linear_scores``
    (NB's log-odds IS a linear model over token counts; the scorer
    divides the WHOLE log-odds — bias included — by n_tokens, which
    scales the margin but never its sign, so decisions match NB exactly,
    imbalanced classes included).

    w[b] = log((pos_b + α)/(Σpos + α·dim)) − log((neg_b + α)/(Σneg + α·dim));
    bias = log(n_pos_docs / n_neg_docs). The heavy half (token counts) is
    ONE distributed pass (``token_bucket_counts``), plus a scalar
    doc-label agg; the log math runs driver-side over the dim-bounded
    count table, so the returned floats are engine-independent Python
    doubles — no transcendental ever evaluates inside a compared Spark
    plan.
    """
    import math

    counts = {r["bucket"]: (int(r["n_pos"]), int(r["n_neg"]))
              for r in token_bucket_counts(
                  df, label_col, text_col, dim).collect()}
    doc = df.selectExpr(
        f"sum(cast(`{label_col}` as long)) AS p",
        f"sum(1 - cast(`{label_col}` as long)) AS n").first()
    n_pos_docs, n_neg_docs = int(doc["p"] or 0), int(doc["n"] or 0)
    if n_pos_docs == 0 or n_neg_docs == 0:
        raise ValueError("training data must contain both classes")
    tot_pos = sum(p for p, _ in counts.values())
    tot_neg = sum(n for _, n in counts.values())
    dp = tot_pos + alpha * dim
    dn = tot_neg + alpha * dim
    weights = []
    for b in range(dim):
        p, n = counts.get(b, (0, 0))
        weights.append(math.log((p + alpha) / dp)
                       - math.log((n + alpha) / dn))
    return weights, math.log(n_pos_docs / n_neg_docs)


def save_classifier(spark, path: str, weights: list[float],
                    bias: float = 0.0) -> None:
    """Persist a trained model as a JSON sidecar (Hadoop-FS writer —
    object-store roots included), so train-once/score-many sessions and
    the corpus-export classifier gate can share one artifact."""
    import json

    from sparvi_spark.sources.writers import write_text_file

    write_text_file(spark, path, json.dumps(
        {"weights": [float(w) for w in weights], "bias": float(bias)}))


def load_classifier(spark, path: str) -> tuple[list[float], float]:
    """-> (weights, bias) for ``linear_scores`` / the export gate."""
    import json

    from sparvi_spark.sources.writers import read_text_file

    model = json.loads(read_text_file(spark, path))
    return model["weights"], float(model.get("bias", 0.0))


def _score_class_counts(df: DataFrame, label_col: str, score_col: str,
                        round_to: int | None) -> DataFrame:
    """(__s, n, pos): per-distinct-score row + positive counts — the ONE
    grouped subplan both ``classifier_eval`` and
    ``precision_recall_table`` derive from. Deliberately IDENTICAL
    (same aliases, same aggregate list, same filter text) so that when
    the two evaluations ride in one union (the graded x27 melt), Spark's
    ReusedExchange dedupes the whole scored->groupBy pipeline — the
    scoring pass runs once for both parts instead of once each."""
    score = (f"round(cast(`{score_col}` as double), {round_to})"
             if round_to is not None else f"`{score_col}`")
    return (df
            .selectExpr(f"{score} AS __s",
                        f"cast(`{label_col}` as int) AS __y")
            .where("__s is not null and __y is not null")
            .groupBy("__s")
            .agg(F.expr("count(1)").alias("n"),
                 F.expr("sum(__y)").alias("pos")))


def classifier_eval(
    df: DataFrame,
    label_col: str,
    score_col: str,
    round_to: int | None = None,
) -> DataFrame:
    """Exact AUC-ROC of a scored frame -> one row (n_pos, n_neg, auc) —
    the evaluation half of the train/score loop (did the quality/domain
    classifier actually separate?), computed WITHOUT a global row sort.

    AUC is the Mann-Whitney probability P(s⁺ > s⁻) + ½·P(s⁺ = s⁻),
    assembled from per-DISTINCT-SCORE class counts:

        auc = Σ_s [ pos(s) · cum_neg(<s) + ½ · pos(s) · neg(s) ]
              / (n_pos · n_neg)

    Plan shape at 100 TB: one groupBy(score) with map-side partial
    counts (shuffle bounded by DISTINCT scores, not rows), then one
    ordered window over that distinct-score frame for the cumulative
    negatives, then a single-row agg. A continuous score makes the
    distinct set row-sized — pass ``round_to`` to quantize scores first
    (the standard binned-AUC trade; integer scores like the classifier's
    exact ``feature_sum`` need no rounding and the result is exact).
    All numerators are exact integer sums; the only float op is the
    final division, so a SQL oracle reproduces the value bit-for-bit.

    Degenerate frames (one class absent) return auc NULL rather than
    divide — the caller can't rank what it never saw.
    """
    per_score = _score_class_counts(df, label_col, score_col, round_to)
    w = ("(ORDER BY __s ROWS BETWEEN UNBOUNDED PRECEDING "
         "AND 1 PRECEDING)")
    return (per_score
            .selectExpr("pos", "n - pos AS neg",
                        f"coalesce(sum(n - pos) OVER {w}, 0L) AS cneg")
            .selectExpr(
                "sum(pos) AS n_pos", "sum(neg) AS n_neg",
                # 2x the numerator stays integer (the ½-tie term would
                # otherwise force float summation order on the engines)
                "sum(2 * pos * cneg + pos * neg) AS __num2")
            .selectExpr(
                "cast(n_pos as bigint) AS n_pos",
                "cast(n_neg as bigint) AS n_neg",
                "case when n_pos > 0 and n_neg > 0 then "
                "round(cast(__num2 as double) / "
                "(2.0d * n_pos * n_neg), 9) end AS auc"))


def precision_recall_table(
    df: DataFrame,
    label_col: str,
    score_col: str,
    round_to: int | None = None,
) -> DataFrame:
    """Precision/recall at every distinct score threshold ->
    (threshold, n_kept, tp, precision, recall), threshold semantics
    "keep rows with score >= threshold" — the sweep a pipeline reads to
    pick its classifier gate. Same grouped-by-score shape as
    ``classifier_eval`` (shuffle bounded by distinct scores; ``round_to``
    quantizes continuous scores); counts are exact integers, the two
    ratios are single divisions, so the table oracles bit-for-bit.
    """
    per_score = (_score_class_counts(df, label_col, score_col, round_to)
                 .withColumnRenamed("__s", "threshold"))
    wdesc = ("(ORDER BY threshold DESC ROWS BETWEEN UNBOUNDED PRECEDING "
             "AND CURRENT ROW)")
    wall = "(ORDER BY threshold ROWS BETWEEN UNBOUNDED PRECEDING AND "  \
           "UNBOUNDED FOLLOWING)"
    return (per_score
            .selectExpr(
                "threshold",
                f"sum(n) OVER {wdesc} AS n_kept",
                f"sum(pos) OVER {wdesc} AS tp",
                f"sum(pos) OVER {wall} AS __all_pos")
            .selectExpr(
                "threshold",
                "cast(n_kept as bigint) AS n_kept",
                "cast(tp as bigint) AS tp",
                "round(cast(tp as double) / n_kept, 9) AS precision",
                "case when __all_pos > 0 then "
                "round(cast(tp as double) / __all_pos, 9) end AS recall"))
