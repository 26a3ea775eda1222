"""Hashed outputs must not depend on the session's runtime geometry.

The DuckDB oracle sweep compares one Spark geometry against DuckDB, so
it cannot see environment-sensitive nondeterminism: a last-ulp libm
difference, or a per-Arrow-chunk fold whose result moves with the
batch size. This test compares Spark against itself: every sampled
entry runs under the session's default runtime confs and again under
shuffle partitions 7, AQE off and 64-row Arrow batches, and the two
value hashes must be equal. The session memo and Spark's cache are
cleared before the perturbed run, so memoized stages and frames that
query functions persist really re-execute under the perturbed confs.
"""

from __future__ import annotations

import hashlib
import json

from backend_model_spark import memo
from backend_model_spark.plans import registry

PERTURBED = {
    "spark.sql.shuffle.partitions": "7",
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "64",
}

# A fixed sample across families: ranks, joins, windows, text, the
# memoized dedup and trainer stages, vectorized Arrow kernels and
# pandas UDFs. Entries whose output legitimately depends on partition
# geometry are left out: mllib_kmeans_clusters (k-means|| samples per
# partition), mllib_pca_variance (SVD sign and last ulp follow row
# order), mllib_brp_ann_join and mllib_minhash_neardup (random
# projections drawn per fit), ml_logistic_irls (tree-aggregation
# order of floats).
SAMPLE = (
    "agg_exact_median_rank",
    "dedup_duplicate_clusters",
    "dedup_embedding_neardup",
    "dedup_minhash_lsh_candidates",
    "dedup_semantic_semdedup",
    "events_changepoint",
    "geo_knn_comps",
    "join_q5_region_revenue",
    "ml_mlp_batch_inference",
    "ml_mlp_train_distributed",
    "ml_mlp_train_minibatch",
    "q1_pricing_summary",
    "sample_stratified_hash",
    "sim_cosine_topk_bruteforce",
    "sim_pq_adc_topk",
    "sql_recursive_cte",
    "text_bm25_rank",
    "text_tfidf",
    "tpch_q18_big_orders",
    "udaf_pandas_weighted_mean",
    "udf_arrow_normalize",
    "window_max_drawdown",
    "window_rfm_segments",
)


def _value_hash(pdf) -> str:
    cols = sorted(pdf.columns)
    rows = sorted(tuple(str(row[c]) for c in cols) for _, row in pdf[cols].iterrows())
    return hashlib.md5(json.dumps(rows).encode()).hexdigest()


def _hashes(spark, sf_dir) -> dict[str, str]:
    queries = registry.queries()
    return {n: _value_hash(queries[n](spark, sf_dir).toPandas()) for n in SAMPLE}


def test_hashes_invariant_to_runtime_geometry(spark, sf_dir):
    default = _hashes(spark, sf_dir)
    saved = {k: spark.conf.get(k) for k in PERTURBED}
    try:
        for k, v in PERTURBED.items():
            spark.conf.set(k, v)
        memo.clear(spark)
        spark.catalog.clearCache()
        perturbed = _hashes(spark, sf_dir)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
        # frames built under the perturbed confs keep their plans
        memo.clear(spark)
        spark.catalog.clearCache()
    assert {n for n in SAMPLE if default[n] != perturbed[n]} == set()
