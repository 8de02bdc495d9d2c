"""Value parity with the DuckDB oracle for every query built on the shared
stages of ``plans/llm_queries.py``: the near-dup stages (shingle, MinHash
signature, LSH banding, prefix filter, posting-list pairs, exact-overlap
verify) and the embedding-search stages (load and cast, cosine, squared
L2, per-label means into centroids or PQ codebooks, IVF cell shortlist,
PQ distances and codes, SQ8 codes).

Each query runs through ``tools/check_oracle.py``'s own comparison (row
count, column names, dtypes and an order-insensitive value hash), so a
refactor of a shared stage fails here instead of in a hand-run sweep.
"""

from __future__ import annotations

import importlib.util
from pathlib import Path

import pytest

from queue_system_simulator_spark.plans import QUERIES

ROOT = Path(__file__).resolve().parent.parent

PAIR_QUERIES = [
    "ngram_jaccard_pairs",
    "minhash_signatures",
    "minhash_lsh_pairs",
    "simhash_near_dup_pairs",
    "dedup_clusters",
    "minhash_verified_pairs",
    "incremental_minhash_candidates",
    "lsh_recall_eval",
    "ngram_containment_pairs",
    "cross_source_dup_matrix",
    "lsh_threshold_sweep",
    "lsh_bands_sweep",
    "prefix_filter_jaccard_pairs",
    "minhash_estimate_error",
    "kcore_peel_rounds",
    "blocking_strategy_eval",
    "tfidf_cosine_pairs",
    "zipf_exponent_fit",
    "pair_graph_triangles",
    "pagerank_near_dup",
    "cluster_aware_split",
    "dedup_keep_best_quality",
]

EMBEDDING_QUERIES = [
    "array_functions_showcase",
    "quantile_normalize_embeddings",
    "embed_cosine_topk",
    "embed_ivf_centroids",
    "embed_ivf_probe_topk",
    "embed_lsh_bucket_topk",
    "embed_near_dup_pairs",
    "embed_knn_graph",
    "kmeans_assign",
    "kmeans_medoid_keep",
    "pq_codebook_assign",
    "pq_adc_topk",
    "ivf_pq_topk",
    "pq_recall_at_k",
    "semdedup_prune",
    "embed_sq8_quantize",
    "sq8_rerank_topk",
    "ivf_recall_at_k",
    "embed_outlier_flags",
    "hybrid_rrf_topk",
    "hard_negative_mining",
    "ivf_nprobe_sweep",
    "retrieval_ndcg_eval",
]


def _load_check_oracle():
    path = ROOT / "tools" / "check_oracle.py"
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


check_oracle = _load_check_oracle()


@pytest.fixture(scope="module")
def con(sf_dir):
    c = check_oracle.oracle_connection(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", PAIR_QUERIES + EMBEDDING_QUERIES)
def test_pair_query_matches_oracle(spark, con, sf_dir, name):
    status, detail = check_oracle.compare_query(spark, con, QUERIES[name], sf_dir)
    assert status == "PASS", f"{name}: {detail}"
