"""A query's reused intermediates live only as long as the frames reading
them.

The queries below hold intermediates as local checkpoints: the two-phase
rank helpers in ``operators/statistics.py`` and every frame a query in
``plans/`` reads more than once (no query there may call ``.cache()`` or
``.persist()``; ``tests/test_plans.py`` scans for them).  Once the result
has been collected and dropped, Spark's ContextCleaner must free every
block the query added.  No release call and no ``clearCache()`` is
needed.
"""

from __future__ import annotations

import gc
import time

import pytest

from queue_system_simulator_spark.plans import QUERIES

LIFECYCLE_QUERIES = [
    # two-phase rank helpers
    "lineitem_range_shard_manifest",
    "multimodal_shard_packing",
    "order_value_deciles",
    "peak_concurrency_sweep",
    "result_order",
    "token_shard_assignment",
    "vocab_encode_ids",
    "vocab_roundtrip_check",
    "watermark_lateness_audit",
    "zipf_exponent_fit",
    "zorder_layout_manifest",
    # eager fills in plans/llm_queries.py (quality_dup_calibration: both)
    "bigram_lm_doc_score",
    "dup_span_fraction",
    "minhash_estimate_error",
    "ngram_containment_pairs",
    "ngram_jaccard_pairs",
    "ppl_quantile_filter",
    "prefix_filter_jaccard_pairs",
    "quality_dup_calibration",
    # embedding-search intermediates
    "ivf_pq_topk",
    "pq_adc_topk",
    "pq_recall_at_k",
    "retrieval_ndcg_eval",
    # near-dup graph, signature and weight frames
    "dsir_importance_weights",
    "incremental_minhash_candidates",
    "minhash_verified_pairs",
    "pagerank_near_dup",
    "pair_graph_triangles",
    "tfidf_cosine_pairs",
    # the candidate-vs-truth scorecard
    "blocking_strategy_eval",
    "lsh_bands_sweep",
    "lsh_recall_eval",
    "lsh_threshold_sweep",
    # frames read twice outside plans/llm_queries.py
    "column_profile_drift",
    "event_rate_autocorrelation",
    "fifo_stats_distributed",
    "hll_precision_sweep",
    "k_anon_generalize",
    "tpch_q15_top_supplier",
]


def _persistent_rdds(spark) -> set[int]:
    ids = spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    return {int(i) for i in ids}


@pytest.mark.parametrize("name", LIFECYCLE_QUERIES)
def test_query_frees_its_intermediates(spark, sf_dir, name):
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    rdds_before = _persistent_rdds(spark)
    cached_before = cache_manager.numCachedEntries()

    df = QUERIES[name].build(spark, sf_dir)
    df.collect()
    del df

    # py4j proxies sit in reference cycles, and py4j releases a collected
    # proxy's JVM object on its finalizer thread about a second later.
    # That includes the map each getPersistentRDDs() call returns, which
    # holds its RDDs strongly.  So collect, wait that out, then GC the JVM
    # and give the ContextCleaner's thread a moment to unpersist.
    for _ in range(8):
        gc.collect()
        time.sleep(1.5)
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.25)
        left = _persistent_rdds(spark) - rdds_before
        if not left:
            break
    assert not left, f"{name} left persistent RDDs {sorted(left)}"
    assert cache_manager.numCachedEntries() == cached_before


@pytest.mark.parametrize(
    "name",
    ["grouping_sets_revenue", "subquery_rewrites_demo", "udtf_event_run_lengths"],
)
def test_sql_builder_leaves_no_catalog_name(spark, sf_dir, name):
    # these builders hand their frames to spark.sql as keyword arguments,
    # whose views Spark drops once the query is analysed: the session's
    # catalog ends as it began
    def names():
        return {t.name for t in spark.catalog.listTables()}

    before = names()
    QUERIES[name].build(spark, sf_dir).collect()
    assert names() - before == set()
