"""Text-analysis operators for training-data pipelines.

Language ID (stopword-hit heuristic), quality scoring, token counting
(whitespace + BPE-ish regex), and rolling-hash document fingerprinting —
all with built-in column functions (JVM-side, codegen'd); the formulas are
dialect-common so the DuckDB oracle can mirror them exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sparvi_spark.config import check_lane
from sparvi_spark.functions import ident, rel, render_sql, sql_str
from sparvi_spark.operators.dedup import tokens_expr

# Tiny per-language function-word lists for the n-gram/stopword heuristic.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "a"],
    "de": ["der", "die", "und", "das", "ist", "ein"],
    "fr": ["le", "la", "et", "les", "est", "une"],
    "es": ["el", "la", "y", "los", "es", "una"],
    "zh": ["的", "是", "了", "在", "和", "有"],
}

STOPWORDS_EN = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]

# BPE-ish word/number/punctuation splitter (portable RE2/Java subset).
BPE_TOKEN_REGEX = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def bpe_token_count_expr(text_col: str) -> Column:
    """BPE-ish token count: words, numbers, and single punctuation marks.

    The pattern goes in as a COLUMN LITERAL, not interpolated into a SQL
    string: Spark's SQL literal parser strips the unknown escape '\\s'
    down to 's', silently degrading the class to [^A-Za-z0-9] — every
    whitespace character then counts as a punctuation token and budgets
    inflate by ~the word count (verified; the x16 check always used the
    literal form, which is why it never caught this)."""
    return F.size(F.regexp_extract_all(
        F.col(text_col), F.lit(BPE_TOKEN_REGEX), F.lit(0)))


def _hit_count(tokens: str, words: list[str]) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return f"size(filter({tokens}, t -> array_contains(array({lst}), t)))"


def lang_id_expr(text_col: str) -> Column:
    """Pick the language whose marker words hit most tokens.

    Deterministic tie-break: language code ascending (en < de alphabetical
    order is by the iteration list below). Zero hits -> 'und' (undetermined).
    """
    langs = sorted(LANG_MARKERS)  # de, en, es, fr, zh — fixed order
    # LET-BINDING via single-element transform lambdas: SQL has no LET,
    # but `element_at(transform(array(X), v -> BODY), 1)` evaluates X
    # once and binds it as `v` inside BODY. Without it the tokens SPLIT
    # rode inside every language's filter and the pairs array was built
    # 3x (best_hits + filter + case guard) — ~15 split evaluations per
    # row; measured 9.4s -> 1.7s on the 100x sweep's 500k docs. The
    # tie-break is unchanged: langs listed ascending, filter-on-max
    # takes the FIRST best (hits desc, lang asc), zero hits -> 'und'.
    pairs = ", ".join(
        f"struct({_hit_count('tk', LANG_MARKERS[lang])} as hits, "
        f"'{lang}' as lang)"
        for lang in langs
    )
    best_hits = "array_max(transform(ps, p -> p.hits))"
    pick = (f"case when {best_hits} > 0 "
            f"then filter(ps, p -> p.hits = {best_hits})[0].lang "
            f"else 'und' end")
    return F.expr(
        f"element_at(transform(array({tokens_expr(text_col)}), tk -> "
        f"element_at(transform(array(array({pairs})), ps -> {pick}), 1)"
        f"), 1)")


def _repetition_cols(text_col: str, toks: str | None = None) -> dict[str, Column]:
    """Gopher-style repetition/degeneracy signals (Rae et al. 2021,
    arXiv:2112.11446 §A1.1, public) as pure higher-order-function column
    expressions — no shuffle, no UDF, whole-stage codegen'd:

    - dup_token_frac: 1 − distinct/total tokens (repeated-word mass)
    - top_bigram_frac: coverage of the most frequent word bigram
      (O(n log n) per row: sort + longest equal-run)
    - symbol_word_ratio: '#'/'@'/'*'/ellipsis marks per token
    - alpha_word_frac: fraction of tokens containing a letter

    ``toks`` (when given) is a MATERIALIZED token-array column name:
    lambdas are interpreted, so a split() spliced into the bigram
    transform body re-runs per array ELEMENT — O(tokens²) per document
    (the _doc_shingles cliff). Callers that scan real corpora stage the
    array first and pass its column; the text_col-only form remains for
    one-off expression use.
    """
    toks = toks or tokens_expr(text_col)
    nt = f"size({toks})"
    bigrams = (
        f"transform(sequence(1, {nt} - 1), "
        f"i -> concat_ws(' ', element_at({toks}, i), element_at({toks}, i + 1)))"
    )
    # most-frequent-element multiplicity in O(n log n): sort, then the
    # longest equal-run via one aggregate pass with a (prev, run, best)
    # struct accumulator — no quadratic distinct×filter scan.
    max_run = (
        f"aggregate(array_sort({bigrams}), "
        f"named_struct('prev', cast(null as string), 'run', 0L, 'best', 0L), "
        f"(a, x) -> named_struct("
        f"'prev', x, "
        f"'run', if(x <=> a.prev, a.run + 1L, 1L), "
        f"'best', greatest(a.best, if(x <=> a.prev, a.run + 1L, 1L))), "
        f"a -> a.best)"
    )
    top_bigram = (
        # sequence(1, 0) would generate a DESCENDING range in Spark, so the
        # <2-token case is guarded out before the bigram transform
        f"case when {nt} >= 2 then round({max_run}"
        f" * cast(1 as double) / ({nt} - 1), 6) else cast(0.0 as double) end")
    return {
        "dup_token_frac": F.expr(
            f"round(1.0 - size(array_distinct({toks})) * cast(1 as double) "
            f"/ greatest({nt}, 1), 6)"),
        "top_bigram_frac": F.expr(top_bigram),
        "symbol_word_ratio": F.expr(
            f"round(size(regexp_extract_all({text_col}, '[#@*]|[.][.][.]', 0)) "
            f"* cast(1 as double) / greatest({nt}, 1), 6)"),
        "alpha_word_frac": F.expr(
            f"round(size(filter({toks}, t -> t rlike '[a-z]')) "
            f"* cast(1 as double) / greatest({nt}, 1), 6)"),
    }


def repetition_features(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document repetition signals (see _repetition_cols) as a
    standalone projection: (id, n_tokens, dup_token_frac, top_bigram_frac,
    symbol_word_ratio, alpha_word_frac). The token array is staged as a
    column so the bigram transform is linear (see _repetition_cols)."""
    staged = df.select(F.col(id_col), F.col(text_col),
                       F.expr(tokens_expr(text_col)).alias("__tk"))
    cols = _repetition_cols(text_col, toks="__tk")
    return staged.select(
        F.col(id_col),
        F.expr("size(__tk)").alias("n_tokens"),
        *[c.alias(n) for n, c in cols.items()],
    )


def quality_features(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    repetition: bool = False,
) -> DataFrame:
    """Per-document quality features + composite score.

    Features: char/token counts, mean token length, punctuation ratio,
    stopword ratio, uppercase ratio. Score: starts at 1.0, penalized for
    degenerate length, punctuation floods, and stopword-free (unnatural)
    text — the standard cheap pre-filter ahead of model-based scoring.
    ``repetition=True`` appends the Gopher-style repetition signals in the
    SAME projection (one scan, still shuffle-free).

    The token array is split ONCE into a staged ``__tk`` column; every
    feature references the column, not the split expression — lambdas
    are interpreted (no codegen CSE), so the inline form re-split the
    text per expression and, inside the repetition bigram transform, per
    array element (O(tokens²)/doc — the _doc_shingles cliff).
    """
    staged = df.select(F.col(id_col), F.col(text_col),
                       F.expr(tokens_expr(text_col)).alias("__tk"))
    toks = "__tk"
    n_chars = F.length(F.col(text_col))
    n_tokens = F.expr(f"size({toks})")
    avg_tok = F.expr(
        f"round(aggregate({toks}, 0L, (a, t) -> a + length(t)) * cast(1 as double) "
        f"/ greatest(size({toks}), 1), 4)"
    )
    # punctuation count via translate (delete the kept alphanumeric +
    # ASCII-whitespace chars; what remains IS the punct count). Value-
    # identical to size(regexp_extract_all(text, '[^A-Za-z0-9\\s]', 0))
    # for ALL inputs — Java regex \s is ASCII-only, so non-ASCII letters
    # and exotic whitespace count as punct under both forms — but the
    # regex engine measured 14.8s for 500k docs at the 100x sweep vs
    # 1.4s for the char-map (the regex was 75% of the whole
    # quality_features scan; caught by the round-8 100x text sweep).
    _keep = ("'abcdefghijklmnopqrstuvwxyz"
             "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789'"
             " || chr(32) || chr(9) || chr(10) || chr(11) || chr(12)"
             " || chr(13)")
    punct = F.expr(f"length(translate({text_col}, {_keep}, ''))")
    stop_hits = F.expr(_hit_count(toks, STOPWORDS_EN))
    rep = _repetition_cols(text_col, toks=toks) if repetition else {}
    out = staged.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        avg_tok.alias("avg_token_len"),
        F.round(punct * F.lit(1.0) / F.greatest(n_chars, F.lit(1)), 4).alias("punct_ratio"),
        F.round(stop_hits * F.lit(1.0) / F.greatest(n_tokens, F.lit(1)), 4)
        .alias("stopword_ratio"),
        *[c.alias(n) for n, c in rep.items()],
    )
    score = (
        F.lit(1.0)
        - F.when(F.col("n_tokens") < 5, 0.4).otherwise(0.0)
        - F.when(F.col("punct_ratio") > 0.3, 0.3).otherwise(0.0)
        - F.when(F.col("stopword_ratio") == 0.0, 0.2).otherwise(0.0)
        - F.when((F.col("avg_token_len") < 2) | (F.col("avg_token_len") > 12), 0.2)
        .otherwise(0.0)
    )
    return out.withColumn("quality_score", F.round(F.greatest(score, F.lit(0.0)), 4))


FP_MOD = 1_000_000_007


def fingerprint_expr(text_col: str) -> Column:
    """Rolling polynomial hash over tokens (dialect-common arithmetic).

    token value = ascii(first char) * 1000 + token length; rolling:
    acc = (acc * 31 + v) mod 1e9+7. Pure bigint arithmetic — identical in
    Spark and DuckDB, unlike engine hash builtins.
    """
    toks = tokens_expr(text_col)
    return F.expr(
        f"aggregate({toks}, 0L, (acc, t) -> "
        f"(acc * 31 + ascii(substring(t, 1, 1)) * 1000 + length(t)) % {FP_MOD})"
    )


def top_tokens(df: DataFrame, text_col: str = "text", k: int = 10) -> DataFrame:
    """Corpus-level token frequencies, top-k with deterministic tie-break.

    orderBy+limit, NOT a global row_number window: an unpartitioned
    window funnels the entire vocabulary (millions of distinct tokens)
    through one task, while orderBy(...).limit(k) compiles to
    TakeOrderedAndProject — per-partition top-k, k-row merge. The rank
    window then runs over the k surviving rows only."""
    from pyspark.sql import Window

    toks = (
        df.select(F.explode(F.expr(tokens_expr(text_col))).alias("token"))
        .where(F.col("token") != "")
    )
    counted = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    topk = counted.orderBy(F.desc("cnt"), F.asc("token")).limit(k)
    w = Window.orderBy(F.desc("cnt"), F.asc("token"))
    return (
        topk.withColumn("rank", F.row_number().over(w))
        .select("token", "cnt", "rank")
    )


# ---------------------------------------------------------------------------
# Multi-pattern scanning (PII shapes + content patterns) — generalizes the
# reference's single-pattern match rate (P11, backend/app.py:4210-4237) to
# a per-group, per-pattern profile computed in ONE aggregation pass.
# ---------------------------------------------------------------------------

# Dialect-common regexes (Java + RE2 compatible: no backrefs, no lookaround).
PII_PATTERNS: dict[str, str] = {
    "email": "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+",
    "ipv4": "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}",
    "phone": "[+][0-9][0-9 ()-]{7,}[0-9]",
    "url": "https?://[A-Za-z0-9./_%~#?&=-]+",
    "long_word": "[a-z]{6,}",
}


def pattern_count_sqls(text_col: str, rx: str) -> tuple[str, str]:
    """Aggregates of one regex over ``text_col``: the rows it matches and
    its total matches."""
    c = f"regexp_count({ident(text_col)}, {sql_str(rx)})"
    return f"sum(cast({c} > 0 as bigint))", f"cast(sum({c}) as bigint)"


def pattern_counts(
    df: DataFrame,
    text_col: str,
    patterns: dict[str, str] | None = None,
    group_by: str | None = None,
) -> DataFrame:
    """Per-group match profile for a set of named regexes.

    Output long-form rows (group, pattern, n_rows_matched, n_matches).
    All patterns are counted inside ONE wide aggregation over a single scan
    (regexp_count is JVM-side, codegen'd); the stack to long form is a
    metadata-only projection. At scale this is scan-bound — adding a
    pattern adds zero I/O.
    """
    pats = patterns if patterns is not None else PII_PATTERNS
    aggs = [f"{e} AS __{k}{i}" for i, rx in enumerate(pats.values())
            for k, e in zip("rm", pattern_count_sqls(text_col, rx))]
    stack = ", ".join(f"{sql_str(name)}, __r{i}, __m{i}"
                      for i, name in enumerate(pats))
    head = f"{ident(group_by)}, " if group_by else ""
    tail = f" GROUP BY {ident(group_by)}" if group_by else ""
    return render_sql(df.sparkSession, (
        f"SELECT {head}stack({len(pats)}, {stack}) "
        f"AS (pattern, n_rows_matched, n_matches) "
        f"FROM (SELECT {head}{', '.join(aggs)} FROM {rel('src')}{tail})"),
        src=df)


def redact_pii(
    df: DataFrame,
    text_col: str,
    patterns: dict[str, str] | None = None,
    tag_format: str = "<{name}>",
) -> DataFrame:
    """Replace every match of the named patterns with its tag (default
    ``<email>``, ``<ipv4>``, ...) — the REMEDIATION step paired with
    ``pattern_counts``'s detection, the standard pre-training scrub.

    One chained ``regexp_replace`` projection, JVM-side and codegen'd —
    zero shuffle, scan-bound at any scale. Patterns apply in dict order
    (insertion order), so put more-specific shapes first when they overlap
    (e.g. ``url`` before a bare-host pattern: once a span is rewritten to
    a tag, later patterns see the tag, not the original text). Adds
    ``{text_col}_redacted`` plus ``n_redactions`` — total matches
    rewritten, each pattern counted on the text as it stands right before
    its own rewrite (i.e. after earlier patterns'), so the count equals
    the number of tag insertions.
    """
    pats = patterns if patterns is not None else {
        k: v for k, v in PII_PATTERNS.items() if k != "long_word"}
    out = F.col(text_col)
    n = F.lit(0).cast("long")
    staged = df
    for name, rx in pats.items():
        n = n + F.coalesce(
            F.regexp_count(out, F.lit(rx)).cast("long"), F.lit(0))
        out = F.regexp_replace(out, rx, tag_format.format(name=name))
    return (staged.withColumn(f"{text_col}_redacted", out)
            .withColumn("n_redactions", n))


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 64,
    overlap: int = 0,
) -> DataFrame:
    """Split each document into fixed-size token windows with optional
    overlap — context-window preparation for training/embedding pipelines.

    Pure per-row explode: chunk starts = 1, 1+stride, 1+2·stride, ... with
    stride = chunk_tokens − overlap; each chunk re-joins its token slice
    with single spaces (whitespace normalization is part of the contract).
    No shuffle, no UDF; output grain (doc, chunk_idx) with the chunk's
    token count. Documents shorter than one chunk yield one chunk.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("overlap must satisfy 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    # token array staged as a column: the split spliced into the chunk
    # lambda re-ran per chunk (O(tokens²/stride) per doc — the
    # _doc_shingles cliff); as a column ref each slice is linear
    starts = f"sequence(1, greatest(size(__tk) - {overlap}, 1), {stride})"
    chunks = (
        f"transform({starts}, s -> named_struct("
        f"'chunk_idx', cast((s - 1) div {stride} as int), "
        f"'chunk_text', array_join(slice(__tk, s, {chunk_tokens}), ' '), "
        f"'n_tokens', size(slice(__tk, s, {chunk_tokens}))))"
    )
    return (
        df.select(F.col(id_col),
                  F.expr(tokens_expr(text_col)).alias("__tk"))
        .select(F.col(id_col), F.explode(F.expr(chunks)).alias("__c"))
        .select(id_col, "__c.chunk_idx", "__c.chunk_text", "__c.n_tokens")
    )


# ---------------------------------------------------------------------------
# Quality FILTER: the published Gopher document-level rules (Rae et al.
# 2021, Appendix A1.1) plus C4-style line heuristics, as an explicit
# keep/drop decision with per-rule flags. quality_features SCORES documents;
# this is the decision layer a pretraining pipeline actually gates on —
# and per-rule flags (not just the verdict) are what makes a filtering run
# auditable ("why did 40% of this crawl drop?").
# ---------------------------------------------------------------------------

GOPHER_THRESHOLDS = {
    "min_words": 50,
    "max_words": 100_000,
    "min_avg_word_len": 3.0,
    "max_avg_word_len": 10.0,
    "max_symbol_word_ratio": 0.1,
    "min_alpha_word_frac": 0.8,
    "max_bullet_line_frac": 0.9,
    "max_ellipsis_line_frac": 0.3,
    "min_stopword_hits": 2,
}


def quality_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    **overrides,
) -> DataFrame:
    """(id, per-rule pass flags, n_failed, keep) — one shuffle-free
    projection; every rule is a dialect-common expression so the oracle
    replays the decision exactly.

    Rules (defaults = the published Gopher values; override any by name):
    word count in [min_words, max_words]; mean word length in
    [min_avg_word_len, max_avg_word_len]; symbol-to-word ratio (#, @, *,
    ...) <= max_symbol_word_ratio; >= min_alpha_word_frac of words contain
    a letter; <= max_bullet_line_frac of lines start with a bullet;
    <= max_ellipsis_line_frac of lines end with an ellipsis; at least
    min_stopword_hits stopword occurrences (the "natural language" guard).
    """
    t = dict(GOPHER_THRESHOLDS)
    unknown = set(overrides) - set(t)
    if unknown:
        raise ValueError(f"unknown thresholds: {sorted(unknown)}")
    t.update(overrides)

    # tokens and lines split ONCE into staged columns (each otherwise
    # re-splits per rule expression — 4 token splits + 3 line splits per
    # row). NULL text stays NULL through split(), so the coalesce(False)
    # NULL-fails-every-rule contract below is unchanged.
    staged = df.select(
        F.col(id_col), F.col(text_col),
        F.expr(tokens_expr(text_col)).alias("__tk"),
        F.expr(f"split({text_col}, '\\n')").alias("__ln"))
    toks = "__tk"
    nt = f"size({toks})"
    avg_len = (f"(aggregate({toks}, 0L, (a, x) -> a + length(x)) "
               f"* cast(1 as double) / greatest({nt}, 1))")
    symbols = f"size(regexp_extract_all({text_col}, '[#@*]|[.][.][.]', 0))"
    alpha = f"size(filter({toks}, x -> x rlike '[a-zA-Z]'))"
    lines = "__ln"
    nl = f"size({lines})"
    bullets = (f"size(filter({lines}, l -> "
               f"substring(ltrim(l), 1, 1) in ('-', '*')))")
    ellipsis = f"size(filter({lines}, l -> rtrim(l) like '%...'))"
    stop_hits = _hit_count(toks, STOPWORDS_EN)

    rules = {
        "pass_word_count": (f"{nt} >= {t['min_words']} "
                            f"and {nt} <= {t['max_words']}"),
        "pass_avg_word_len": (f"{avg_len} >= {t['min_avg_word_len']!r} "
                              f"and {avg_len} <= {t['max_avg_word_len']!r}"),
        "pass_symbol_ratio": (f"{symbols} * cast(1 as double) "
                              f"/ greatest({nt}, 1) "
                              f"<= {t['max_symbol_word_ratio']!r}"),
        "pass_alpha_frac": (f"{alpha} * cast(1 as double) "
                            f"/ greatest({nt}, 1) "
                            f">= {t['min_alpha_word_frac']!r}"),
        "pass_bullet_lines": (f"{bullets} * cast(1 as double) "
                              f"/ greatest({nl}, 1) "
                              f"<= {t['max_bullet_line_frac']!r}"),
        "pass_ellipsis_lines": (f"{ellipsis} * cast(1 as double) "
                                f"/ greatest({nl}, 1) "
                                f"<= {t['max_ellipsis_line_frac']!r}"),
        "pass_stopwords": f"{stop_hits} >= {t['min_stopword_hits']}",
    }
    # NULL text makes every rule expression NULL; without the coalesce,
    # when(~NULL) falls through to 0 failures and a null document would
    # sail through the gate. NULL text fails every rule.
    out = staged.select(
        F.col(id_col),
        *[F.coalesce(F.expr(e), F.lit(False)).alias(name)
          for name, e in rules.items()],
    )
    n_failed = sum(
        F.when(~F.col(name), 1).otherwise(0) for name in rules)
    return (out.withColumn("n_failed", n_failed.cast("int"))
            .withColumn("keep", F.col("n_failed") == 0))


# ---------------------------------------------------------------------------
# Text normalization: the cleaning pass that runs BEFORE hashing/dedup in a
# training pipeline (whitespace noise and boilerplate lines otherwise make
# near-identical documents hash apart). Both are per-row projections with
# dialect-common semantics (oracle-checked).
# ---------------------------------------------------------------------------

def clean_text_expr(text_col: str) -> Column:
    """Canonical whitespace form: control characters (except newline)
    removed, runs of spaces/tabs collapsed to one space, spaces trimmed
    around line boundaries, leading/trailing whitespace stripped."""
    # order matters: strip controls, collapse horizontal runs, then tidy
    # around newlines, then trim the ends. Replacements embed REAL newline
    # characters: Java replaceAll treats backslash-n in a replacement as
    # an escaped literal 'n', not a newline.
    nl, nl2 = "\n", "\n\n"
    e = f"regexp_replace({text_col}, '[\\\\x00-\\\\x08\\\\x0b-\\\\x1f]', '')"
    e = f"regexp_replace({e}, '[ \\\\t]+', ' ')"
    e = f"regexp_replace({e}, ' ?\\\\n ?', '{nl}')"
    return F.expr(f"trim(regexp_replace({e}, '\\\\n{{3,}}', '{nl2}'))")


def dedup_lines_expr(text_col: str) -> Column:
    """Remove duplicate lines within a document, keeping FIRST occurrences
    in order — the cheap in-document boilerplate cut (repeated nav/footer
    lines) ahead of corpus-level dedup.

    Order-preserving set semantics in pure column functions: a line at
    1-based position i survives iff no earlier position holds the same
    line; `filter`'s index form supplies i, `slice` the prefix.

    Cost is O(L²) in LINES PER DOCUMENT (each line scans its prefix) —
    fine for web documents (L is tens to hundreds), quadratic on
    pathological 10k-line concatenations. ``dedup_lines_in_doc`` routes
    such docs to a linear posexplode path automatically (per-doc line
    count vs ``line_cap``); use it whenever document shape is not under
    your control."""
    lines = f"split({text_col}, '\\n')"
    kept = (f"filter({lines}, (l, i) -> "
            f"not array_contains(slice({lines}, 1, i), l))")
    return F.expr(f"array_join({kept}, '\\n')")


def dedup_lines_in_doc(
    df: DataFrame,
    id_col: str,
    text_col: str,
    out_col: str = "text_dedup",
    line_cap: int = 512,
) -> DataFrame:
    """Within-document line dedup (keep FIRST occurrence, order preserved)
    with a scale-safe execution choice — same semantics as
    ``dedup_lines_expr`` on every input. Each document is routed by its
    own line count:

    - at or under ``line_cap`` lines: the shuffle-free O(L²)-per-doc
      column expression — cheapest when documents are small (web pages:
      L in the tens), no shuffle rows at all.
    - over ``line_cap``: posexplode + first-occurrence window — one
      (doc, line)-keyed shuffle pair, LINEAR in lines/doc; the only safe
      shape for 10k-line concatenated documents (exactly what web corpora
      contain).

    The union preserves per-doc results exactly. At 100 TB the explode
    branch's shuffle carries only the oversized tail, not the corpus.
    """
    lines = f"split(`{text_col}`, '\\n')"

    def _expr_branch(part: DataFrame) -> DataFrame:
        return part.withColumn(out_col, dedup_lines_expr(f"`{text_col}`"))

    def _explode_branch(part: DataFrame) -> DataFrame:
        # drop-list shape (mirrors dedup_lines_corpus): positions whose
        # line already appeared earlier in the SAME doc
        pos = part.selectExpr(f"`{id_col}` AS __lid",
                              f"posexplode({lines}) AS (pos, l)")
        w = Window.partitionBy("__lid", "l").orderBy("pos")
        drops = (pos.withColumn("__rn", F.row_number().over(w))
                 .where(F.col("__rn") > 1)
                 .groupBy("__lid")
                 .agg(F.expr("sort_array(collect_list(pos))")
                      .alias("__drop")))
        keep = (f"filter({lines}, (l, i) -> "
                f"__drop is null or not array_contains(__drop, i))")
        return (part.join(drops, part[id_col] == F.col("__lid"), "left")
                .withColumn(out_col, F.expr(
                    f"case when `{text_col}` is null then null "
                    f"else array_join({keep}, '\\n') end"))
                .drop("__lid", "__drop"))

    # NULL text routes to the expr branch. size(NULL) is config-dependent:
    # -1 under the default spark.sql.legacy.sizeOfNull=true (routes NULL
    # docs through n <= line_cap), NULL under ANSI/legacy=false (falls
    # through both predicates and would DROP the row). The isNull() guard
    # is the ANSI-mode safety net; under the legacy default it is
    # redundant but harmless.
    n = F.size(F.expr(lines))
    return _expr_branch(df.where((n <= line_cap) | n.isNull())).unionByName(
        _explode_branch(df.where(n > line_cap)))


def dedup_lines_corpus(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_count: int = 3,
    out_col: str = "text_clean",
    hash_mode: str = "hash",
) -> DataFrame:
    """CORPUS-WIDE line dedup (the C4 rule: drop any line occurring
    ``min_count``+ times across the whole corpus — boilerplate nav bars,
    cookie banners, license footers). Adds ``out_col`` (surviving lines
    re-joined with newlines, order preserved) and ``n_lines_removed``.
    Complements ``dedup_lines_expr`` (within-doc, no shuffle).

    Plan: posexplode lines once; ONE groupBy finds hot lines
    (``hash_mode="hash"``: 8-byte xxhash64 keys — the shuffle never
    carries line text; ``"exact"``: the line string, collision-free
    oracle parity); a semi-join marks each doc's hot positions; a
    groupBy packs them into a per-doc drop-list rejoined to the doc
    (docs with no hot lines never enter the join — left join passes
    them through). Reassembly is one ``filter`` HOF over the line
    array. Strictly linear; both shuffles are map-side-partial
    aggregations on (key8) / (id, pos).
    """
    check_lane(hash_mode, ("hash", "exact"), "hash_mode")
    lines = f"split(`{text_col}`, '\\n')"
    key = "xxhash64(l)" if hash_mode == "hash" else "l"
    pos = (df.selectExpr(f"`{id_col}` AS __lid",
                         f"posexplode({lines}) AS (pos, l)")
           .selectExpr("__lid", "pos", f"{key} AS k"))
    hot = (pos.groupBy("k").agg(F.expr("count(1)").alias("__c"))
           .where(F.col("__c") >= min_count).select("k"))
    drops = (pos.join(hot, "k", "left_semi")
             .groupBy("__lid")
             .agg(F.expr("sort_array(collect_list(pos))").alias("__drop")))
    # filter's lambda index is 0-based, same basis as posexplode's pos
    keep = (f"filter({lines}, (l, i) -> "
            f"__drop is null or not array_contains(__drop, i))")
    return (df.join(drops, df[id_col] == F.col("__lid"), "left")
            .withColumn(out_col, F.expr(
                f"case when `{text_col}` is null then null "
                f"else array_join({keep}, '\\n') end"))
            .withColumn("n_lines_removed",
                        F.expr("coalesce(size(__drop), 0)"))
            .drop("__lid", "__drop"))


# ---------------------------------------------------------------------------
# Sequence packing: concat-and-chop documents into fixed context windows —
# the step that turns a filtered corpus into training batches. Standard
# GPT-style packing: lay tokens out in a deterministic document order and
# cut every ctx_len tokens; a document that straddles a boundary is split
# across consecutive packs (no padding waste except the final pack).
# ---------------------------------------------------------------------------

def pack_sequences(
    df: DataFrame,
    ctx_len: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    shard_col: str | None = None,
    token_count_col: str | None = None,
) -> DataFrame:
    """Assign each document its context-window segments under
    concat-and-chop packing -> (shard, doc_id, n_tokens, pack_id,
    seg_idx, seg_start, seg_tokens), one row per (document, pack) overlap.

    Token layout: documents ordered by ``id_col`` within a shard;
    document d with token count n(d) occupies global positions
    [cum(d) - n(d), cum(d)) where cum is the running token sum in that
    order. Its segments are the intersections with the ctx_len grid:
    pack_id = position div ctx_len, seg_start = offset of the segment
    INSIDE the document, seg_tokens = its length. Zero-token documents
    are dropped (they occupy no positions).

    Scale (100 TB): packing is shard-local by construction — pass
    ``shard_col`` (e.g. ``pmod(xxhash64(id), n_shards)`` or the output
    file key) and every shard packs independently in parallel: the
    cumulative sum partitions by shard, ONE shuffle, no global order.
    Without a shard the whole corpus is one ordered series (exact
    single-stream layout — the oracle-parity path; one task holds the
    running sum, the same caveat as exact_percentiles).

    ``token_count_col`` uses a precomputed count (the usual case: counts
    come from the tokenizer that will consume the packs); default counts
    whitespace tokens of ``text_col``.
    """
    from pyspark.sql import Window

    if ctx_len <= 0:
        raise ValueError("ctx_len must be positive")
    ntok = (F.col(token_count_col) if token_count_col
            else F.size(F.expr(tokens_expr(text_col))))
    shard = F.col(shard_col) if shard_col else F.lit(0)
    base = (
        df.select(shard.alias("shard"), F.col(id_col).alias("doc_id"),
                  ntok.alias("n_tokens"))
        .where(F.col("n_tokens") > 0)
        .withColumn("cum", F.sum("n_tokens").over(
            Window.partitionBy("shard").orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, 0)))
    )
    # document spans packs floor(start/ctx) .. floor((cum-1)/ctx),
    # start = cum - n_tokens
    segs = F.expr(
        f"transform(sequence((cum - n_tokens) div {ctx_len}, "
        f"(cum - 1) div {ctx_len}), p -> named_struct("
        f"'pack_id', p, "
        # segment inside the document: tokens [max(p*ctx, start) .. 
        # min((p+1)*ctx, cum)) shifted to doc-local offsets
        f"'seg_start', greatest(p * {ctx_len}, cum - n_tokens) - (cum - n_tokens), "
        f"'seg_tokens', least((p + 1) * {ctx_len}, cum) "
        f"- greatest(p * {ctx_len}, cum - n_tokens)))"
    )
    return (
        base.select("shard", "doc_id", "n_tokens",
                    F.posexplode(segs).alias("seg_idx", "__s"))
        .select("shard", "doc_id", "n_tokens",
                F.col("__s.pack_id").cast("bigint").alias("pack_id"),
                F.col("seg_idx").cast("int").alias("seg_idx"),
                F.col("__s.seg_start").cast("bigint").alias("seg_start"),
                F.col("__s.seg_tokens").cast("bigint").alias("seg_tokens"))
    )


def pack_summary(packed: DataFrame, ctx_len: int) -> DataFrame:
    """Fill accounting per pack -> (shard, pack_id, n_docs, n_tokens,
    fill_ratio). Every pack is exactly full except each shard's last
    (concat-and-chop wastes nothing mid-stream) — the summary exists to
    verify that and to size training runs (packs × ctx_len = step
    tokens)."""
    return (
        packed.groupBy("shard", "pack_id")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("seg_tokens").alias("n_tokens"))
        .withColumn("fill_ratio",
                    F.round(F.col("n_tokens") / F.lit(float(ctx_len)), 6))
    )


def pack_sequences_binpack(
    df: DataFrame,
    ctx_len: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int = 1,
    token_count_col: str | None = None,
    shard_method: str = "portable",
) -> DataFrame:
    """Whole-document (no-split) packing: next-fit-decreasing bins per
    shard -> (shard, doc_id, n_tokens, truncated, pack_idx, pack_fill),
    one row per document.

    ``pack_sequences`` above is concat-and-chop — zero padding waste, but
    documents straddle pack boundaries, so attention either crosses
    document breaks or the loader masks mid-pack. This operator is the
    complementary policy used when examples must stay INTACT (instruction
    tuning, eval sets, T5/FLAN-style packing): each document lands whole
    in exactly one pack; a document longer than ``ctx_len`` is truncated
    to it (``truncated`` flags it) rather than split.

    Algorithm: within each deterministic hash shard, documents sort by
    (effective length DESC, id ASC) and next-fit fills bins in that order
    — a new bin opens when the current one cannot take the next document.
    Decreasing order gives the classic 2-approximation-style packing
    quality at strictly linear cost, and next-fit (rather than first-fit)
    keeps the state ONE open bin, which is what makes the layout
    reproducible by a sequential scan in any engine — the DuckDB oracle
    replays it with a recursive CTE, bit for bit (e15 check).

    Scale (100 TB): shard assignment is a map-only hash projection
    (``sources/export.shard_expr``); each shard packs independently
    inside one Arrow ``applyInPandas`` group at O(docs log docs) for the
    sort + O(docs) for the fill. Shards bound group size exactly like
    the shard export (pick n_shards so a shard's (id, n_tokens) rows fit
    a task — the text itself never enters this operator). ``pack_fill``
    is the bin's token count AFTER placing the row's document, so the
    final fill of every pack is the max over its rows.
    """
    import pandas as pd

    from sparvi_spark.sources.export import shard_expr

    if ctx_len <= 0:
        raise ValueError("ctx_len must be positive")
    ntok = (F.col(token_count_col) if token_count_col
            else F.size(F.expr(tokens_expr(text_col))))
    # filter on the RAW count before least(): F.least skips NULLs, so a
    # NULL text (or NULL precomputed count) would otherwise become a
    # phantom ctx_len-token document occupying a whole bin — the sibling
    # pack_sequences drops such rows, and so does this
    base = (df.select(
        shard_expr(id_col, n_shards, shard_method).alias("shard"),
        F.col(id_col).alias("doc_id"),
        ntok.cast("bigint").alias("__raw"))
        .where("__raw is not null and __raw > 0")
        .selectExpr(
            "shard", "doc_id",
            f"least(__raw, {ctx_len}) AS n_tokens",
            f"__raw > {ctx_len} AS truncated"))

    out_ddl = ("shard int, doc_id bigint, n_tokens bigint, "
               "truncated boolean, pack_idx bigint, pack_fill bigint")

    def pack_of(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["n_tokens", "doc_id"],
                              ascending=[False, True], kind="mergesort")
        packs, fills = [], []
        pack, fill = 0, 0
        for n in pdf["n_tokens"]:
            if fill + n > ctx_len:
                pack += 1
                fill = 0
            fill += int(n)
            packs.append(pack)
            fills.append(fill)
        pdf = pdf.assign(pack_idx=packs, pack_fill=fills)
        return pdf[["shard", "doc_id", "n_tokens", "truncated",
                    "pack_idx", "pack_fill"]]

    return base.groupBy("shard").applyInPandas(pack_of, out_ddl)


def binpack_summary(packed: DataFrame, ctx_len: int) -> DataFrame:
    """Fill accounting per next-fit bin -> (shard, pack_idx, n_docs,
    n_tokens, fill_ratio). Unlike concat-and-chop, bins are NOT full by
    construction — fill_ratio is the padding-waste metric the packing
    policy is chosen by."""
    return (
        packed.groupBy("shard", "pack_idx")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.max("pack_fill").alias("n_tokens"))
        .withColumn("fill_ratio",
                    F.round(F.col("n_tokens") / F.lit(float(ctx_len)), 6))
    )
