"""Seeded input generators for the benchmark workloads.

Everything here is plain numpy/pyarrow: inputs are written to parquet
before the program under test sees them, and the same seed always gives
the same bytes. Table shapes follow the testdata catalog the checks are
written against (``sparvi_spark.testdata.SCHEMAS``): same column names,
types and value domains, single-row-group parquet files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Token vocabulary of the testdata documents table ("dup" marks planted
# near-duplicates there, and here).
WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
PART_WORDS = ("anvil blue bolt cold gear gizmo hot large new old plate red "
              "ring rod small widget").split()
# Synthetic vocabulary of the intake documents.
INTAKE_WORDS = [f"w{i}" for i in range(5000)]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]

_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")
_DAY_US = 86_400_000_000


def write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int):
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, keys: np.ndarray) -> list[str]:
    return [f"{prefix}#{k:09d}" for k in keys]


def _text(rng: np.random.Generator, n_tokens: int,
          vocab: list[str] = WORDS) -> str:
    return " ".join(vocab[i] for i in rng.integers(0, len(vocab), n_tokens))


def lineitem(rng: np.random.Generator, n_orders: int, n_parts: int,
             n_supp: int, n_rows: int) -> pa.Table:
    qty = rng.integers(1, 51, n_rows).astype(float)
    return pa.table({
        "l_orderkey": rng.integers(0, n_orders, n_rows),
        "l_partkey": rng.integers(0, n_parts, n_rows),
        "l_suppkey": rng.integers(0, n_supp, n_rows),
        "l_linenumber": rng.integers(1, 8, n_rows).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_rows), 2),
        "l_discount": rng.integers(0, 11, n_rows) / 100.0,
        "l_tax": rng.integers(0, 9, n_rows) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_rows),
        "l_linestatus": rng.choice(["F", "O"], n_rows),
        "l_shipdate": _EPOCH_1995 + rng.integers(0, 2500, n_rows) * _DAY_US,
    })


def testdata_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten testdata-catalog tables at scale factor ``sf``."""
    rng = np.random.default_rng(seed)
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(50, int(1_500_000 * sf))
    n_line = max(200, int(6_000_000 * sf))
    n_evt = max(100, int(1_000_000 * sf))
    n_doc = max(200, int(50_000 * sf))
    n_emb = max(200, int(20_000 * sf))
    cust = np.arange(n_cust)
    supp = np.arange(n_supp)
    out = {
        "region": pa.table({
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": REGIONS}),
        "nation": pa.table({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32)}),
        "customer": pa.table({
            "c_custkey": cust,
            "c_name": _names("Customer", cust),
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust)}),
        "supplier": pa.table({
            "s_suppkey": supp,
            "s_name": _names("Supplier", supp),
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}),
        "part": pa.table({
            "p_partkey": np.arange(n_part),
            "p_name": [" ".join(rng.choice(PART_WORDS, 2))
                       for _ in range(n_part)],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(P_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(
                900 + rng.integers(0, 1000, n_part) / 10.0, 2)}),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _EPOCH_1995 + rng.integers(0, 2400, n_ord) * _DAY_US,
            "o_orderpriority": rng.choice(PRIORITIES, n_ord)}),
        "lineitem": lineitem(rng, n_ord, n_part, n_supp, n_line),
        "events": pa.table({
            "event_id": np.arange(n_evt),
            "ts": np.sort(_EPOCH_2024
                          + rng.integers(0, 30 * _DAY_US, n_evt)),
            "user_id": rng.integers(0, max(10, n_evt // 66), n_evt),
            "event_type": rng.choice(EVENT_TYPES, n_evt),
            "value": _money(rng, 0.01, 490.0, n_evt),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]}),
        "documents": documents(rng, n_doc, dup_every=20),
        "embeddings": pa.table({
            "vec_id": np.arange(n_emb),
            "embedding": list(_unit_rows(rng, n_emb, 64)),
            "label": rng.integers(0, 10, n_emb).astype(np.int32)}),
    }
    return out


def _unit_rows(rng: np.random.Generator, n: int, d: int) -> np.ndarray:
    v = rng.standard_normal((n, d)).astype(np.float32)
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def documents(rng: np.random.Generator, n: int, dup_every: int) -> pa.Table:
    """Random-token documents; every ``dup_every``-th doc is a near copy
    of an earlier one (one token changed, "dup" appended)."""
    texts: list[str] = []
    for i in range(n):
        if dup_every and i >= dup_every and i % dup_every == 0:
            toks = texts[int(rng.integers(0, i))].split()
            toks[int(rng.integers(0, len(toks)))] = "dup"
            texts.append(" ".join(toks))
        else:
            texts.append(_text(rng, int(rng.integers(10, 100))))
    return pa.table({
        "doc_id": np.arange(n),
        "text": texts,
        "lang": rng.choice(LANGS, n),
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def write_testdata(seed: int, sf: float, out_dir: str) -> dict[str, int]:
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, t in testdata_tables(seed, sf).items():
        write(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows
    return rows


# ------------------------------------------------------------------ monitor

def day_ts(day: int) -> str:
    return (dt.datetime(2024, 3, 1) + dt.timedelta(days=day)).strftime(
        "%Y-%m-%d %H:%M:%S")


def monitor_table(base: pa.Table, rng: np.random.Generator,
                  null_col: str, drop: bool, add_col: bool
                  ) -> tuple[pa.Table, int]:
    """One day's variant of a monitored table: a seeded ~±2% row-count
    wobble (or a 60% row drop), a seeded number of nulls written into
    ``null_col``, and optionally one added column. Returns the table
    and the null count written."""
    n = base.num_rows
    keep = int(n * 0.4) if drop else int(n * rng.uniform(0.98, 1.0))
    t = base.slice(0, keep)
    n_null = int(rng.integers(1, max(2, keep // 20)))
    mask = np.zeros(keep, dtype=bool)
    mask[rng.choice(keep, n_null, replace=False)] = True
    col = t.column(null_col)
    t = t.set_column(t.schema.get_field_index(null_col), null_col,
                     pc.if_else(pa.array(mask), pa.nulls(keep, col.type),
                                        col))
    if add_col:
        t = t.append_column("added_flag",
                            pa.array(rng.integers(0, 2, keep).astype(np.int32)))
    return t, n_null


# ------------------------------------------------------------------- intake

def intake_batch(rng: np.random.Generator, start_id: int, n: int,
                 corpus_texts: list[str], n_in_batch: int,
                 n_vs_corpus: int) -> tuple[pa.Table, list[str]]:
    """A microbatch of ``n`` docs: fresh random docs, ``n_in_batch`` exact
    copies of other docs of the same batch, and ``n_vs_corpus`` exact
    copies of distinct docs already admitted to the corpus. Exact copies make
    the planted counts certain under any LSH banding; fresh docs are
    random 40-80 token draws from a 5000-word vocabulary, so two of them
    share almost no word 3-gram. Returns the batch and its fresh texts
    (the survivors, which later batches may copy)."""
    n_fresh = n - n_in_batch - n_vs_corpus
    fresh = [_text(rng, int(rng.integers(40, 80)), INTAKE_WORDS)
             for _ in range(n_fresh)]
    texts = list(fresh)
    texts += [fresh[int(i)] for i in rng.integers(0, n_fresh, n_in_batch)]
    texts += [corpus_texts[int(i)] for i in
              rng.choice(len(corpus_texts), n_vs_corpus, replace=False)]
    order = rng.permutation(n)
    ids = np.arange(start_id, start_id + n)
    batch = pa.table({"doc_id": ids,
                      "text": [texts[i] for i in order]})
    return batch, fresh
