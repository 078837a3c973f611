"""Property-based tests (hypothesis) for the pure-Python semantic kernels
whose exactness the oracle parity depends on."""

import math

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from sparvi_spark.operators.validation import evaluate_rule, normalize_operator

finite = st.floats(allow_nan=False, allow_infinity=False, width=32)


@given(st.sampled_from(["=", "==", "!=", "<>", ">", "<", ">=", "<="]),
       finite, finite)
def test_symbolic_operators_match_python(op, actual, expected):
    """Symbolic spellings must agree with Python's operators under float
    coercion (manager:342-373 + frontend spellings)."""
    got = evaluate_rule(op, actual, expected)
    ref = {
        "=": actual == expected, "==": actual == expected,
        "!=": actual != expected, "<>": actual != expected,
        ">": actual > expected, "<": actual < expected,
        ">=": actual >= expected, "<=": actual <= expected,
    }[op]
    assert got == ref


@given(finite, st.tuples(finite, finite))
def test_between_is_inclusive(actual, bounds):
    lo, hi = sorted(bounds)
    assert evaluate_rule("between", actual, [lo, hi]) == (lo <= actual <= hi)


@given(st.one_of(st.none(), st.text(max_size=5)), finite)
def test_none_and_uncoercible_are_invalid(actual, expected):
    if actual is None:
        assert evaluate_rule("greater_than", actual, expected) is False
    else:
        try:
            ref = float(actual) > float(expected)
        except (TypeError, ValueError):
            ref = False
        assert evaluate_rule(">", actual, expected) == ref


@given(st.text(max_size=10))
def test_operator_normalization_idempotent(op):
    assert normalize_operator(normalize_operator(op)) == normalize_operator(op)


# --- percentile interpolation: the Spark-side sorted-array interpolation
# must equal np.percentile (linear), the semantics A3 requires ------------

def _interp(sorted_vals, p):
    """Python mirror of anomalies._interp_sorted (index = p*(n-1), linear)."""
    n = len(sorted_vals)
    idx = p * (n - 1)
    lo = math.floor(idx)
    hi = math.ceil(idx)
    frac = idx - lo
    return sorted_vals[lo] + (sorted_vals[hi] - sorted_vals[lo]) * frac


@settings(max_examples=200)
@given(st.lists(st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
                min_size=2, max_size=40),
       st.sampled_from([0.25, 0.5, 0.75]))
def test_interpolation_matches_numpy(vals, p):
    s = sorted(vals)
    assert math.isclose(_interp(s, p), float(np.percentile(vals, p * 100)),
                        rel_tol=1e-9, abs_tol=1e-9)


# --- rolling-hash fingerprint: Python mirror of the SQL aggregate ---------

@given(st.lists(st.text(alphabet=st.characters(min_codepoint=33,
                                               max_codepoint=126),
                        min_size=1, max_size=8), max_size=20))
def test_fingerprint_fold_is_deterministic_and_bounded(tokens):
    from sparvi_spark.operators.text import FP_MOD

    acc = 0
    for t in tokens:
        acc = (acc * 31 + ord(t[0]) * 1000 + len(t)) % FP_MOD
    assert 0 <= acc < FP_MOD


# ---------------------------------------------------------------------------
# Spark text expressions vs pure-Python references over random ASCII corpora
# (alphabet excludes non-space whitespace: Spark's `trim`/`\s` are ASCII-
# oriented while Python's str.strip/\s are unicode-aware)
# ---------------------------------------------------------------------------

_ALPHABET = "abcdefghij XY019#.*@"
_texts = st.lists(
    st.text(alphabet=_ALPHABET, min_size=0, max_size=40),
    min_size=1, max_size=8)


def _ref_tokens(text):
    import re as _re

    return _re.split(r"\s+", text.strip(" ").lower())


def _ref_repetition(text):
    import re as _re
    from collections import Counter

    toks = _ref_tokens(text)
    n = len(toks)
    dup = 1.0 - len(set(toks)) / max(n, 1)
    if n >= 2:
        bg = [toks[i] + " " + toks[i + 1] for i in range(n - 1)]
        top = max(Counter(bg).values()) / (n - 1)
    else:
        top = 0.0
    symbol = len(_re.findall(r"[#@*]|[.][.][.]", text)) / max(n, 1)
    alpha = len([t for t in toks if _re.search(r"[a-z]", t)]) / max(n, 1)
    return n, dup, top, symbol, alpha


def _ref_fingerprint(text):
    acc = 0
    for t in _ref_tokens(text):
        v = (ord(t[0]) if t else 0) * 1000 + len(t)
        acc = (acc * 31 + v) % 1_000_000_007
    return acc


@settings(max_examples=12, deadline=None)
@given(_texts)
def test_repetition_and_fingerprint_match_python_reference(spark, texts):
    from sparvi_spark.operators.text import fingerprint_expr, repetition_features

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id int, text string")
    rep = {r["doc_id"]: r for r in repetition_features(docs).collect()}
    fps = {r["doc_id"]: r["fp"] for r in docs.select(
        "doc_id", fingerprint_expr("text").alias("fp")).collect()}
    for i, text in enumerate(texts):
        n, dup, top, symbol, alpha = _ref_repetition(text)
        r = rep[i]
        assert r["n_tokens"] == n, text
        # Spark rounds HALF_UP to 6dp; compare against the unrounded
        # reference with the max rounding error as tolerance
        assert abs(r["dup_token_frac"] - dup) <= 5.1e-7, text
        assert abs(r["top_bigram_frac"] - top) <= 5.1e-7, text
        assert abs(r["symbol_word_ratio"] - symbol) <= 5.1e-7, text
        assert abs(r["alpha_word_frac"] - alpha) <= 5.1e-7, text
        assert fps[i] == _ref_fingerprint(text), text


@settings(max_examples=10, deadline=None)
@given(st.lists(
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False,
              allow_infinity=False, width=32),
    min_size=1, max_size=60))
def test_exact_percentiles_match_numpy(spark, vals):
    """The two-phase bucketed prefix-sum percentiles equal numpy's linear
    interpolation (type 7 — Spark `percentile`'s math) on arbitrary value
    lists: duplicates, negatives, single-element, constant columns."""
    from sparvi_spark.operators.profile import exact_percentiles

    from sparvi_spark.operators.profile import exact_percentiles_refine

    df = spark.createDataFrame([(float(v),) for v in vals], "x double")
    for strategy in ("bucketed", "refine"):
        if strategy == "refine":
            # n < 3·accuracy here, so this also exercises the
            # uncovered-window fallback into the bucketed plan
            got = exact_percentiles_refine(df, ["x"]).collect()[0]
        else:
            got = exact_percentiles(df, ["x"]).collect()[0]
        for p, name in ((0.25, "p25"), (0.5, "p50"), (0.75, "p75")):
            expect = float(np.percentile(np.array(vals, dtype="float64"),
                                         p * 100, method="linear"))
            assert got[name] is not None
            assert math.isclose(got[name], round(expect, 6), rel_tol=1e-9,
                                abs_tol=2e-6), (strategy, vals, p,
                                                got[name], expect)


@settings(max_examples=10, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=10**6),
                min_size=2, max_size=30),
       st.integers(min_value=0, max_value=10**6))
def test_zorder_key_monotone_per_dimension(spark, xs, fixed):
    """With the other dimension held fixed, the z-order key is monotone in
    each participating column — the property that makes range-partitioned
    z-files prunable by per-column min/max stats."""
    from sparvi_spark.sources.layout import zorder_key_expr

    rows = [(int(x), int(fixed)) for x in xs]
    df = spark.createDataFrame(rows, "a bigint, b bigint")
    out = df.select("a", zorder_key_expr(df, ["a", "b"], bits=10)
                    .alias("z")).collect()
    by_a = sorted((r["a"], r["z"]) for r in out)
    zs = [z for _a, z in by_a]
    assert zs == sorted(zs), by_a


@settings(max_examples=8, deadline=None)
@given(st.sets(st.text(alphabet="abcdefgh", min_size=1, max_size=8),
               min_size=1, max_size=40),
       st.sets(st.text(alphabet="abcdefgh", min_size=1, max_size=8),
               min_size=1, max_size=40))
def test_bloom_never_false_negative(spark, members, probes):
    """One-sided error, propertywise: every member string passes the
    filter for arbitrary member/probe sets, in both hash modes."""
    from sparvi_spark.operators.bloom import bloom_build, bloom_filter_members

    mdf = spark.createDataFrame([(m,) for m in members], "s string")
    pdf = spark.createDataFrame([(p,) for p in probes | members], "s string")
    for portable in (False, True):
        bloom = bloom_build(mdf, "s", n_bits=1 << 10, k=3, portable=portable)
        kept = {r["s"] for r in bloom_filter_members(
            pdf, bloom, "s", n_bits=1 << 10, k=3,
            portable=portable).collect()}
        assert members <= kept


@settings(max_examples=10, deadline=None)
@given(st.lists(
    st.tuples(st.one_of(st.none(), st.text(alphabet="ab", max_size=2)),
              st.one_of(st.none(), st.integers(min_value=0, max_value=3))),
    min_size=0, max_size=25))
def test_duplicate_count_hash_matches_exact(spark, rows):
    """The 8-byte hash-projection duplicate count equals the exact
    full-row count on arbitrary small frames — including NULL-heavy rows
    and (NULL, x) vs (x, NULL) position swaps, where a naive
    null-skipping hash would collide."""
    from sparvi_spark.operators.profile import duplicate_count

    df = spark.createDataFrame(rows, "s string, i int") if rows else \
        spark.createDataFrame([], "s string, i int")
    assert duplicate_count(df) == duplicate_count(df, exact=True)


@settings(max_examples=15, deadline=None)
@given(st.lists(st.booleans(), min_size=1, max_size=8))
def test_pointer_protocol_reads_last_complete_commit(crashes):
    """For ANY interleaving of completed commits and crashes-before-flip,
    the pointer names the newest COMPLETED commit and GC never removes
    it: the invariant the state store's crash safety rests on."""
    import os
    import tempfile

    from sparvi_spark.sources.state import (
        gc_versions,
        next_version,
        read_pointer,
        write_pointer,
    )

    with tempfile.TemporaryDirectory() as base:
        last_committed = None
        for i, crash in enumerate(crashes):
            v = next_version(base)
            os.makedirs(os.path.join(base, v))
            with open(os.path.join(base, v, "data.txt"), "w") as f:
                f.write(f"payload-{i}")
            if not crash:
                write_pointer(base, v)
                gc_versions(base, grace_seconds=0)  # writer semantics
                last_committed = v
        assert read_pointer(base) == last_committed
        if last_committed is not None:
            with open(os.path.join(base, last_committed, "data.txt")) as f:
                assert f.read().startswith("payload-")
        # READER-path GC (default grace) must NOT touch a fresh
        # uncommitted dir — it may be a concurrent commit mid-flight
        fresh = [d for d in os.listdir(base)
                 if d.startswith("v_") and d != last_committed]
        gc_versions(base)
        for d in fresh:
            assert os.path.isdir(os.path.join(base, d)), "grace violated"
        # writer-forced GC leaves exactly the committed version
        gc_versions(base, grace_seconds=0)
        left = [d for d in os.listdir(base) if d.startswith("v_")]
        assert left == ([last_committed] if last_committed else [])


@settings(max_examples=8, deadline=None)
@given(st.lists(st.floats(min_value=-1e5, max_value=1e5, allow_nan=False),
                min_size=1, max_size=40),
       st.lists(st.floats(min_value=-1e5, max_value=1e5, allow_nan=False),
                min_size=1, max_size=40))
def test_drift_metric_invariants(spark, evals, avals):
    """On arbitrary snapshots: tvd in [0,1], chi2 >= 0, psi >= 0 (Gibbs),
    and all exactly 0 when the snapshots are identical."""
    from sparvi_spark.operators.drift import numeric_drift

    e = spark.createDataFrame([(float(v),) for v in evals], "x double")
    a = spark.createDataFrame([(float(v),) for v in avals], "x double")
    r = numeric_drift(e, a, ["x"], bins=8).collect()[0]
    assert 0.0 <= r["tvd"] <= 1.0
    assert r["chi2"] >= 0.0
    assert r["psi"] >= -1e-12
    same = numeric_drift(e, e, ["x"], bins=8).collect()[0]
    assert same["tvd"] == 0.0 and same["chi2"] == 0.0 and same["psi"] == 0.0


@settings(max_examples=6, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=10**9),
                min_size=1, max_size=60, unique=True),
       st.integers(min_value=2, max_value=12))
def test_shard_and_split_are_total_and_stable(spark, ids, n_shards):
    """Every id gets exactly one shard in [0, n) and one split label, under
    both hash methods, independent of partitioning."""
    from sparvi_spark.sources.export import eval_split_expr, shard_expr

    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    for method in ("xxhash", "portable"):
        out = df.repartition(3).select(
            "doc_id", shard_expr("doc_id", n_shards, method).alias("shard"),
            eval_split_expr("doc_id", {"a": 0.55, "b": 0.45}, method))
        rows = out.collect()
        assert len(rows) == len(ids)
        assert all(0 <= r["shard"] < n_shards for r in rows)
        assert all(r["split"] in ("a", "b") for r in rows)
        again = {r["doc_id"]: (r["shard"], r["split"])
                 for r in df.repartition(9).select(
                     "doc_id",
                     shard_expr("doc_id", n_shards, method).alias("shard"),
                     eval_split_expr("doc_id", {"a": 0.55, "b": 0.45},
                                     method)).collect()}
        assert {r["doc_id"]: (r["shard"], r["split"]) for r in rows} == again


_span_docs = st.lists(
    st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=25),
    min_size=1, max_size=6)


def _ref_spans(texts, n, scope):
    import collections

    grams = collections.defaultdict(list)
    toks = {d: t.lower().split() for d, t in texts.items()}
    for d, tt in toks.items():
        for i in range(len(tt) - n + 1):
            grams[tuple(tt[i:i + n])].append((d, i))
    hot = {g for g, occ in grams.items()
           if (len(occ) >= 2 if scope == "corpus"
               else len({d for d, _ in occ}) >= 2)}
    out = []
    for d, tt in toks.items():
        cur = None
        for i in sorted(i for i in range(len(tt) - n + 1)
                        if tuple(tt[i:i + n]) in hot):
            if cur and i <= cur[1]:
                cur[1] = max(cur[1], i + n)
                cur[2] += 1
            else:
                if cur:
                    out.append((d, cur[0], cur[1], cur[1] - cur[0], cur[2]))
                cur = [i, i + n, 1]
        if cur:
            out.append((d, cur[0], cur[1], cur[1] - cur[0], cur[2]))
    return sorted(out)


@settings(max_examples=10, deadline=None)
@given(_span_docs, st.sampled_from([2, 3]), st.sampled_from(["corpus", "cross_doc"]))
def test_duplicate_spans_property(spark, docs, n, scope):
    """duplicate_spans == the driver-side ExactSubstr reference on random
    tiny-vocab corpora (where repeated windows are dense and adversarial:
    overlapping/adjacent/self-repeating), in both gram modes."""
    from sparvi_spark.operators.dedup import duplicate_spans

    texts = {i: " ".join(t) for i, t in enumerate(docs)}
    df = spark.createDataFrame(list(texts.items()), "doc_id int, text string")
    expect = _ref_spans(texts, n, scope)
    for mode in ("hash", "exact"):
        got = sorted(
            (r["doc_id"], r["span_start"], r["span_end"],
             r["span_tokens"], r["n_windows"])
            for r in duplicate_spans(df, "doc_id", "text", n=n,
                                     scope=scope, gram_mode=mode).collect())
        assert got == expect, (mode, texts)


_line_docs = st.lists(
    st.lists(st.sampled_from(["aa bb", "cc dd", "ee ff", "gg hh", "ii"]),
             min_size=0, max_size=8),
    min_size=1, max_size=5)


@settings(max_examples=10, deadline=None)
@given(_line_docs, st.sampled_from([2, 3]))
def test_dedup_lines_corpus_property(spark, docs, min_count):
    """dedup_lines_corpus == a driver-side reference on random tiny-vocab
    multi-line corpora (dense repeats, first occurrences dropped too,
    order preserved), in both key modes."""
    import collections

    from sparvi_spark.operators.text import dedup_lines_corpus

    texts = {i: "\n".join(lines) for i, lines in enumerate(docs)}
    counts = collections.Counter(
        ln for t in texts.values() for ln in t.split("\n"))
    expect = {}
    for d, t in texts.items():
        keep = [ln for ln in t.split("\n") if counts[ln] < min_count]
        removed = sum(1 for ln in t.split("\n") if counts[ln] >= min_count)
        expect[d] = ("\n".join(keep), removed)
    df = spark.createDataFrame(list(texts.items()), "doc_id int, text string")
    for mode in ("hash", "exact"):
        got = {r["doc_id"]: (r["text_clean"], r["n_lines_removed"])
               for r in dedup_lines_corpus(
                   df, "doc_id", "text", min_count=min_count,
                   hash_mode=mode).collect()}
        assert got == expect, (mode, texts)
