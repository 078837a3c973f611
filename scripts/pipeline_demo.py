"""End-to-end training-data pipeline over the documents/embeddings tables:

    normalize -> quality-filter -> exact dedup -> near-dedup (MinHash+LSH)
    -> contamination screen (broadcast Bloom) -> token accounting
    -> embedding index (IVF-PQ) -> ANN sanity probe

Every stage is one of the engine's first-class operators; this script is
the composition a user actually runs, and doubles as living documentation.
Each stage prints one line; the script exits non-zero if any invariant
breaks (it is smoke-tested by tests/test_engine.py::test_pipeline_demo).

Usage: python scripts/pipeline_demo.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"


def main() -> dict:
    from pyspark.sql import functions as F

    from sparvi_spark.operators.bloom import contamination_bloom
    from sparvi_spark.operators.dedup import dedup_exact, minhash_lsh_pairs
    from sparvi_spark.operators.similarity import (
        cosine_topk,
        ivfpq_encode,
        ivfpq_topk,
        ivfpq_train,
    )
    from sparvi_spark.operators.text import (
        bpe_token_count_expr,
        clean_text_expr,
        quality_filter,
    )
    from sparvi_spark.session import get_spark
    from sparvi_spark.testdata import load_table

    spark = get_spark("pipeline_demo")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {}

    docs = load_table(spark, "documents", SF_DIR)
    out["n_raw"] = docs.count()

    # 1. normalize text (map-only)
    docs = docs.withColumn("text", clean_text_expr("text"))

    # 2. quality gate (map-only; min_words lowered for the tiny demo corpus)
    flags = quality_filter(docs, "text", "doc_id", min_words=5)
    keep_ids = flags.where(F.col("keep")).select("doc_id")
    docs = docs.join(keep_ids, "doc_id", "left_semi")
    out["n_quality"] = docs.count()

    # 3. exact dedup on normalized text
    docs = dedup_exact(docs, ["text"])
    out["n_exact"] = docs.count()

    # 4. near-dedup: LSH candidates + verified Jaccard, drop the larger id
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", n=3, num_hashes=32,
                              bands=16, threshold=0.8)
    drop = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    docs = docs.join(drop, "doc_id", "left_anti")
    out["n_near"] = docs.count()

    # 5. contamination screen against the src0 "benchmark" slice
    ref = load_table(spark, "documents", SF_DIR).where(F.col("source") == "src0")
    screened = contamination_bloom(docs, ref, "doc_id", "text", n=3)
    dirty = screened.where(F.col("contamination_frac") >= 0.8) \
        .select("doc_id")
    docs = docs.join(dirty, "doc_id", "left_anti")
    out["n_clean"] = docs.count()

    # 6. token accounting on the surviving corpus
    out["bpe_tokens"] = docs.agg(
        F.sum(bpe_token_count_expr("text"))).first()[0]

    # 7. embedding index over the full embeddings table + sanity probe
    emb = load_table(spark, "embeddings", SF_DIR)
    cents, books = ivfpq_train(emb, nlist=4, m=8, k=16, iters=2)
    idx = ivfpq_encode(emb, cents, books)
    out["n_indexed"] = idx.count()
    queries = emb.where(F.col("vec_id") < 5)
    ann = ivfpq_topk(idx, queries, cents, books, k=5, nprobe=2).toPandas()
    exact = cosine_topk(emb, queries, k=5).toPandas()
    hits = sum(
        len(set(ann[ann.query_id == q].neighbor_id)
            & set(exact[exact.query_id == q].neighbor_id))
        for q in ann.query_id.unique())
    out["ann_recall_at5"] = round(hits / max(len(ann), 1), 3)

    for k, v in out.items():
        print(f"# {k}: {v}")
    assert out["n_quality"] <= out["n_raw"]
    assert out["n_exact"] <= out["n_quality"]
    assert out["n_near"] <= out["n_exact"]
    assert out["n_clean"] <= out["n_near"]
    assert out["n_indexed"] > 0 and out["bpe_tokens"] > 0
    spark.stop()
    return out


if __name__ == "__main__":
    main()
