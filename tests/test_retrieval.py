"""Round-5 additions: BM25 retrieval, the curation funnel, the bucketed
co-located join, and MAD anomalies.

Each test targets the property that makes the operator safe at cluster
scale: partitioning-independence (results must not depend on how rows are
laid out across tasks) and funnel monotonicity (each curation stage can
only remove documents).
"""

from __future__ import annotations

from queue_system_simulator_spark.plans import QUERIES

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_bm25_independent_of_shuffle_partitions(spark):
    # integer micro-unit summation makes the per-doc score invariant to
    # float addition order — the same top-10 must come out at any
    # parallelism
    base = _rows(QUERIES["bm25_topk"].build(spark, SF))
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        alt = _rows(QUERIES["bm25_topk"].build(spark, SF))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert base == alt
    assert len(base) == 10
    # scores are non-negative and the cut is taken descending
    scores = sorted((s for _, s in base), reverse=True)
    assert all(s >= 0 for s in scores)


def test_curation_funnel_is_monotone(spark):
    rows = {r.stage_no: r for r in QUERIES["curation_pipeline_report"].build(spark, SF).collect()}
    assert [rows[i].stage for i in range(5)] == [
        "ingest",
        "lang_en",
        "quality",
        "exact_dedup",
        "train_split",
    ]
    for i in range(4):
        assert rows[i + 1].n_docs <= rows[i].n_docs
        assert rows[i + 1].total_chars <= rows[i].total_chars
    assert rows[0].n_docs > 0


def test_bucketed_join_matches_plain_join(spark):
    from pyspark.sql import functions as F

    from queue_system_simulator_spark.schema import load_table

    got = _rows(QUERIES["bucketed_join_orders"].build(spark, SF))
    li = load_table(spark, SF, "lineitem")
    orders = load_table(spark, SF, "orders")
    price = F.col("l_extendedprice").cast("decimal(18,6)")
    disc = (F.lit(1) - F.col("l_discount")).cast("decimal(18,6)")
    want = _rows(
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority", F.year("o_orderdate").alias("order_year"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum(price * disc), 2).cast("double").alias("revenue"),
        )
    )
    assert got == want


def test_mad_outliers_bounded_and_median_robust(spark):
    rows = QUERIES["mad_robust_anomalies"].build(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.mad >= 0
        assert 0 <= r.n_outliers <= r.n
        # a 3xMAD fence on any distribution keeps the outlier share small
        assert r.n_outliers <= 0.5 * r.n


def test_textlog_quarantine_drops_exactly_bad_lines(spark):
    # the corrupt-line injection hits every 50th event; the survivor count
    # must be exactly total - corrupted (no good line dropped, none leaked)
    from queue_system_simulator_spark.schema import load_table

    got = (
        QUERIES["textlog_parse"]
        .build(spark, SF)
        .agg({"n": "sum"})
        .collect()[0][0]
    )
    ev = load_table(spark, SF, "events")
    total = ev.count()
    bad = ev.filter("event_id % 50 = 0").count()
    assert bad > 0
    assert got == total - bad


def test_binaryfile_ingest_is_rerun_stable(spark):
    # the fixture writer must be idempotent: two builds in one session see
    # identical (idx, bytes, md5) triples
    a = _rows(QUERIES["binaryfile_ingest"].build(spark, SF))
    b = _rows(QUERIES["binaryfile_ingest"].build(spark, SF))
    assert a == b and len(a) == 64


def test_lsh_threshold_sweep_is_monotone(spark):
    rows = sorted(
        QUERIES["lsh_threshold_sweep"].build(spark, SF).collect(),
        key=lambda r: r.tau_pct,
    )
    assert [r.tau_pct for r in rows] == [30, 40, 50, 60, 70, 80]
    for a, b in zip(rows, rows[1:]):
        # raising tau can only shrink the truth set and its recovered part
        assert b.n_true <= a.n_true
        assert b.n_hit <= a.n_hit
    for r in rows:
        assert 0 <= r.n_hit <= r.n_true
        assert r.n_candidates == rows[0].n_candidates  # one fixed cand set


def test_ivf_nprobe_sweep_is_monotone(spark):
    rows = sorted(
        QUERIES["ivf_nprobe_sweep"].build(spark, SF).collect(),
        key=lambda r: r.nprobe,
    )
    assert [r.nprobe for r in rows] == [1, 2, 3, 4]
    for a, b in zip(rows, rows[1:]):
        # probing more cells can only add candidates and recall
        assert b.n_candidates >= a.n_candidates
        assert b.n_overlap >= a.n_overlap
    for r in rows:
        assert 0.0 <= r.recall_at_k <= 1.0


def test_lsh_bands_sweep_candidates_grow_with_bands(spark):
    rows = sorted(
        QUERIES["lsh_bands_sweep"].build(spark, SF).collect(),
        key=lambda r: r.n_bands,
    )
    assert [(r.n_bands, r.rows_per_band) for r in rows] == [
        (2, 8),
        (4, 4),
        (8, 2),
    ]
    for a, b in zip(rows, rows[1:]):
        # shorter bands collide more easily: candidates AND recovered truth
        # can only grow as bands get narrower
        assert b.n_candidates >= a.n_candidates
        assert b.n_hit >= a.n_hit
    for r in rows:
        assert 0 <= r.n_hit <= min(r.n_true, r.n_candidates)


def test_cogroup_kernel_count_matches_collect(spark):
    # Catalyst prunes cogroup children to the grouping key under a bare
    # count() — the kernel must emit the same row count from pruned
    # (key-only) frames as from full ones
    df = QUERIES["cogroup_click_context"].build(spark, SF)
    assert df.count() == len(df.collect())


def test_cogroup_kernel_matches_window_algebra(spark):
    # kernel vs the independent relational formulation, tie semantics
    # included (strictly-preceding clicks only)
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from queue_system_simulator_spark.schema import load_table

    got = {
        r.purchase_event_id: (r.n_clicks_before, r.last_click_gap_us)
        for r in QUERIES["cogroup_click_context"].build(spark, SF).collect()
    }
    ev = load_table(spark, SF, "events").filter(
        F.col("event_type").isin("click", "purchase")
    ).select("user_id", "event_id", "event_type", F.unix_micros("ts").alias("tus"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("tus")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    want_rows = (
        ev.select(
            "*",
            F.coalesce(
                F.sum(F.when(F.col("event_type") == "click", 1)).over(w),
                F.lit(0),
            ).alias("n"),
            F.max(F.when(F.col("event_type") == "click", F.col("tus"))).over(
                w
            ).alias("last_us"),
        )
        .filter(F.col("event_type") == "purchase")
        .collect()
    )
    want = {
        r.event_id: (
            r.n,
            (r.tus - r.last_us) if r.last_us is not None else None,
        )
        for r in want_rows
    }
    assert got == want


def test_prefix_filter_matches_brute_force(spark, sf_dir):
    """Zero false negatives: the prefix-filtered join must find EXACTLY the
    pairs a brute-force all-pairs shingle Jaccard finds at the same tau."""
    from pyspark.sql import functions as F

    from queue_system_simulator_spark.plans.llm_queries import (
        NEAR_DUP_TAU,
        _shingles,
        q_prefix_filter_jaccard_pairs,
    )

    got = {
        (r["doc_a"], r["doc_b"]): (r["n_inter"], r["n_union"])
        for r in q_prefix_filter_jaccard_pairs(spark, sf_dir).collect()
    }

    tok = _shingles(spark, sf_dir).select("doc_id", "shingle")
    n = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        tok.alias("a")
        .join(
            tok.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("i"))
    )
    na = n.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = n.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    uni = F.col("na") + F.col("nb") - F.col("i")
    brute = {
        (r["doc_a"], r["doc_b"]): (r["i"], r["u"])
        for r in inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .filter(F.col("i").cast("double") / uni >= NEAR_DUP_TAU)
        .select("doc_a", "doc_b", "i", uni.alias("u"))
        .collect()
    }
    assert got == brute


def test_sq8_rerank_cosines_are_exact(spark, sf_dir):
    """Stage-2 scores must equal the brute-force cosine for the same ids —
    the rerank is exact on its shortlist, only the shortlist is approximate."""
    from pyspark.sql import functions as F

    from queue_system_simulator_spark.plans.llm_queries import (
        SQ8_K,
        q_embed_cosine_topk,
        q_sq8_rerank_topk,
    )

    rer = q_sq8_rerank_topk(spark, sf_dir).collect()
    assert len(rer) == SQ8_K
    sims = [r["cosine_sim"] for r in rer]
    assert sims == sorted(sims, reverse=True)
    # brute-force cosine for every candidate id (top-k frame is a superset
    # only for high sims; recompute directly instead)
    from queue_system_simulator_spark.plans.llm_queries import _dot
    from queue_system_simulator_spark.schema import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    cos = F.round(
        _dot(F.col("qv"), F.col("v"))
        / (
            F.sqrt(_dot(F.col("qv"), F.col("qv")))
            * F.sqrt(_dot(F.col("v"), F.col("v")))
        ),
        6,
    )
    exact = {
        r["vec_id"]: r["c"]
        for r in emb.crossJoin(F.broadcast(qv))
        .select("vec_id", cos.alias("c"))
        .collect()
    }
    for r in rer:
        assert exact[r["vec_id"]] == r["cosine_sim"]


def test_char_entropy_bounded_by_alphabet(spark, sf_dir):
    import math

    from queue_system_simulator_spark.plans.llm_queries import (
        ENTROPY_LOW_BAR,
        q_char_entropy_quality,
    )

    rows = q_char_entropy_quality(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["entropy_nats"] <= math.log(r["n_distinct_chars"]) + 1e-9
        assert r["flag_low_entropy"] == (r["entropy_nats"] < ENTROPY_LOW_BAR) or abs(
            r["entropy_nats"] - ENTROPY_LOW_BAR
        ) < 1e-6


def test_minhash_estimate_error_bounded(spark, sf_dir):
    """Each component agrees with prob = J, so |estimate - J| is bounded by
    the k=16 binomial envelope; also n_match decomposes est exactly."""
    from queue_system_simulator_spark.plans.llm_queries import (
        NUM_MINHASH,
        q_minhash_estimate_error,
    )

    rows = q_minhash_estimate_error(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_match"] <= NUM_MINHASH
        assert abs(r["mh_estimate"] - r["n_match"] / NUM_MINHASH) < 1e-9
        # 5-sigma binomial band at k=16 (sigma <= 0.125): generous but real
        assert r["abs_err"] <= 0.63


def test_quantile_normalization_bounds(spark, sf_dir):
    from queue_system_simulator_spark.plans.llm_queries import (
        q_quantile_normalize_embeddings,
    )

    rows = q_quantile_normalize_embeddings(spark, sf_dir).collect()
    assert rows
    n_vecs = len(rows)
    for r in rows:
        assert r["n_dims"] == 64
        assert 1 <= r["min_rank"] <= r["max_rank"] <= n_vecs
        # each micro-quantile is in [0, 1e6]; the per-vector sum is bounded
        assert 0 <= r["qsum_micro"] <= r["n_dims"] * 1_000_000
    # quantiles are a fixed budget per dimension: summed over all vectors,
    # every dim contributes sum_{r=0}^{n-1} round(r*1e6/(n-1)) exactly
    per_dim = sum(round(i * 1_000_000 / (n_vecs - 1)) for i in range(n_vecs))
    assert sum(r["qsum_micro"] for r in rows) == 64 * per_dim


def test_blocking_eval_prefix_recall_is_one(spark, sf_dir):
    """The prefix filter's zero-false-negative guarantee must MEASURE as
    recall 1.0; LSH recall is probabilistic and can only be <= 1."""
    from queue_system_simulator_spark.plans.llm_queries import (
        q_blocking_strategy_eval,
    )

    rows = {r["strategy"]: r for r in q_blocking_strategy_eval(spark, sf_dir).collect()}
    assert set(rows) == {"prefix_filter", "lsh_bands"}
    assert rows["prefix_filter"]["recall"] == 1.0
    for r in rows.values():
        assert 0 <= r["n_hit"] <= min(r["n_true"], r["n_candidates"])
        assert 0.0 <= r["recall"] <= 1.0 and 0.0 <= r["precision"] <= 1.0
    assert rows["prefix_filter"]["n_true"] == rows["lsh_bands"]["n_true"]


def test_tfidf_cosine_in_unit_range_and_pairs_match_lsh(spark, sf_dir):
    from queue_system_simulator_spark.plans.llm_queries import (
        _lsh_candidates,
        _minhash_wide,
        q_tfidf_cosine_pairs,
    )

    rows = q_tfidf_cosine_pairs(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert -1e-6 <= r["tfidf_cosine"] <= 1.0 + 1e-6
        assert r["n_shared_terms"] >= 1
    got_pairs = {(r["doc_a"], r["doc_b"]) for r in rows}
    cand = {
        (r["doc_a"], r["doc_b"])
        for r in _lsh_candidates(_minhash_wide(spark, sf_dir)).collect()
    }
    # every scored pair is an LSH candidate (pairs with zero shared terms
    # would drop out of the inner dot-product join; none exist here)
    assert got_pairs <= cand


def test_retrieval_ndcg_bounds_and_partition_independence(spark):
    from queue_system_simulator_spark.plans.llm_queries import (
        NDCG_K,
        NDCG_N_QUERIES,
        _NDCG_IDCG_MICRO,
    )

    rows = QUERIES["retrieval_ndcg_eval"].build(spark, SF).collect()
    assert len(rows) == NDCG_N_QUERIES
    for r in rows:
        # nDCG is a [0,1] metric; dcg_micro of a perfect retrieval is
        # exactly the shared integer IDCG constant
        assert 0 <= r.n_relevant_hit <= r.n_retrieved <= NDCG_K
        assert 0 <= r.dcg_micro <= _NDCG_IDCG_MICRO
        assert 0.0 <= r.ndcg_at_k <= 1.0
        assert abs(r.ndcg_at_k - round(r.dcg_micro / _NDCG_IDCG_MICRO, 6)) < 1e-9
        # zero hits iff zero DCG — relevance grades and discounts are
        # strictly positive
        assert (r.n_relevant_hit == 0) == (r.dcg_micro == 0)
    base = _rows(QUERIES["retrieval_ndcg_eval"].build(spark, SF))
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        alt = _rows(QUERIES["retrieval_ndcg_eval"].build(spark, SF))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert base == alt
