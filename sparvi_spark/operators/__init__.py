"""Operator surface (SURVEY.md §2): one module per family.

- profile: P1-P14 one-pass profiling -> profile document
- validation: V1-V24 rule generation, two-pass batched execution
- anomalies: A1-A7 window-based detectors
- schema_diff: S1-S8 snapshot diffs
- trends: T1-T14 rollups over state tables
- dedup / similarity / text / multimodal: training-data pipeline operators
- joins: skew salting + broadcast helpers
- incremental: per-partition mergeable stats profiling
"""

from sparvi_spark.operators.anomalies import cusum_anomalies, detect_anomalies
from sparvi_spark.operators.bloom import (
    bloom_build,
    bloom_filter_members,
    contamination_bloom,
)
from sparvi_spark.operators.dedup import (
    connected_components,
    contamination,
    dedup_exact,
    dedup_near,
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash_pairs,
)
from sparvi_spark.operators.incremental import incremental_profile
from sparvi_spark.operators.joins import asof_join, range_join, salted_join
from sparvi_spark.operators.profile import profile_table
from sparvi_spark.operators.sampling import (
    hash_sample,
    mixture_sample,
    stratified_sample,
)
from sparvi_spark.operators.schema_diff import compare_schemas, detect_changes
from sparvi_spark.operators.sessions import session_stats, sessionize
from sparvi_spark.operators.similarity import (
    cosine_topk,
    ivf_topk,
    ivf_topk_trained,
    kmeans_train,
    ivfpq_encode,
    ivfpq_topk,
    ivfpq_train,
    pq_encode,
    pq_topk,
    pq_train,
)
from sparvi_spark.operators.text import (
    chunk_documents,
    clean_text_expr,
    dedup_lines_expr,
    dedup_lines_in_doc,
    quality_features,
    quality_filter,
    repetition_features,
    top_tokens,
)
from sparvi_spark.operators.trends import incremental_time_rollup
from sparvi_spark.operators.vectors import (
    l2_normalize_expr,
    pca_project,
    pca_train,
)
from sparvi_spark.operators.validation import (
    generate_default_rules,
    run_rules,
    run_validations,
    spec_from_dataframe,
)

__all__ = [
    "profile_table", "generate_default_rules", "run_rules", "run_validations",
    "spec_from_dataframe", "detect_anomalies", "cusum_anomalies",
    "compare_schemas", "detect_changes",
    "connected_components",
    "dedup_exact", "dedup_near", "jaccard_pairs",
    "minhash_lsh_pairs", "simhash_pairs", "contamination",
    "bloom_build", "bloom_filter_members", "contamination_bloom",
    "cosine_topk", "ivf_topk", "ivf_topk_trained", "kmeans_train",
    "pq_train", "pq_encode", "pq_topk",
    "ivfpq_train", "ivfpq_encode", "ivfpq_topk",
    "quality_features", "quality_filter", "repetition_features",
    "clean_text_expr", "dedup_lines_expr", "dedup_lines_in_doc",
    "chunk_documents", "top_tokens",
    "salted_join", "asof_join", "range_join",
    "hash_sample", "stratified_sample", "mixture_sample",
    "sessionize", "session_stats",
    "incremental_profile", "incremental_time_rollup",
    "l2_normalize_expr", "pca_train", "pca_project",
]
