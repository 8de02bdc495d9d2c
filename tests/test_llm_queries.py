"""LLM-pipeline operator tests (dedup / similarity / text analysis).

Value-level parity with DuckDB is covered by tools/check_oracle.py, and for
the near-dup pair family by tests/test_pair_oracles.py; these tests pin
structural invariants at sf0.001 so regressions surface in the fast suite.
"""

from __future__ import annotations

from queue_system_simulator_spark.plans import QUERIES


def test_simhash_signature_shape(spark, sf_dir):
    rows = QUERIES["simhash_signatures"].build(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert len(r.simhash) == 64
        assert set(r.simhash) <= {"0", "1"}


def test_simhash_pairs_invariants(spark, sf_dir):
    rows = QUERIES["simhash_near_dup_pairs"].build(spark, sf_dir).collect()
    seen = set()
    for r in rows:
        assert r.doc_a < r.doc_b  # ordered, no self-pairs
        assert 0 <= r.hamming <= 8
        seen.add((r.doc_a, r.doc_b))
    assert len(seen) == len(rows)  # no duplicate pairs


def test_minhash_long_format_matches_wide(spark, sf_dir):
    sig = QUERIES["minhash_signatures"].build(spark, sf_dir)
    n_docs = sig.select("doc_id").distinct().count()
    assert sig.count() == n_docs * 16  # every doc has all 16 seeds


def test_dedup_exact_partitions_corpus(spark, sf_dir):
    from queue_system_simulator_spark.schema import load_table

    dedup = QUERIES["dedup_exact"].build(spark, sf_dir)
    total_docs = load_table(spark, sf_dir, "documents").count()
    agg = dedup.groupBy().sum("n_copies").collect()[0][0]
    assert agg == total_docs  # every document lands in exactly one group


def test_dedup_clusters_partition_and_canonicals(spark, sf_dir):
    rows = QUERIES["dedup_clusters"].build(spark, sf_dir).collect()
    by_cluster = {}
    for r in rows:
        assert r.cluster_id <= r.doc_id  # label = component minimum
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for cid, members in by_cluster.items():
        assert len(members) == members[0].cluster_size
        canon = [m for m in members if m.is_canonical]
        assert len(canon) == 1 and canon[0].doc_id == cid


def test_repetition_score_bounds(spark, sf_dir):
    rows = QUERIES["doc_repetition_score"].build(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert 0.0 <= r.dup_bigram_frac <= 1.0
        assert 0.0 < r.top_token_frac <= 1.0


def test_contamination_excludes_benchmark_docs(spark, sf_dir):
    from queue_system_simulator_spark.plans.llm_queries import (
        CONTAM_BENCH_MOD,
    )

    rows = QUERIES["contamination_ngram_overlap"].build(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert r.doc_id % CONTAM_BENCH_MOD != 0  # benchmark side never scored
        assert 0 <= r.n_hit <= r.n_grams
        assert 0.0 <= r.contamination <= 1.0


def test_seq_pack_chunks_conserves_tokens(spark, sf_dir):
    from pyspark.sql import functions as F

    from queue_system_simulator_spark.schema import load_table

    packed = QUERIES["seq_pack_chunks"].build(spark, sf_dir)
    total = packed.agg(
        F.sum("n_docs").alias("d"), F.sum("n_tokens").alias("t")
    ).collect()[0]
    docs = load_table(spark, sf_dir, "documents")
    expect = docs.select(
        F.count(F.lit(1)).alias("d"),
        F.sum(F.size(F.split("text", " "))).alias("t"),
    ).collect()[0]
    # packing is a partition of the corpus: every doc and token lands in
    # exactly one chunk
    assert (total.d, total.t) == (expect.d, expect.t)
    # chunk ids are dense from 0 within each pack stream
    bad = packed.groupBy("source", "shard").agg(
        (F.max("chunk_id") + 1 - F.countDistinct("chunk_id")).alias("gap")
    ).filter("gap != 0 OR gap IS NULL")
    assert bad.count() == 0


def test_corpus_mix_is_deterministic_and_weighted(spark, sf_dir):
    a = QUERIES["corpus_mix_sample"].build(spark, sf_dir).collect()
    b = QUERIES["corpus_mix_sample"].build(spark, sf_dir).collect()
    assert sorted(r.doc_id for r in a) == sorted(r.doc_id for r in b)
    kept = {}
    for r in a:
        kept[r.source] = kept.get(r.source, 0) + 1
    # higher-index sources have higher retention weights; compare extremes
    lo = sum(kept.get(f"src{i}", 0) for i in range(3))
    hi = sum(kept.get(f"src{i}", 0) for i in range(17, 20))
    assert lo < hi


def test_pii_redact_masks_real_pii(spark, tmp_path):
    # the driver corpus is synthetic and PII-free, so the oracle check only
    # exercises the identity path; this pins the actual masking semantics
    import pyspark.sql.functions as F  # noqa: F811

    from queue_system_simulator_spark.plans.llm_queries import q_pii_redact

    rows = [
        (1, "contact me at alice.smith+spam@example.co.uk today", "en", "s", 1),
        (2, "server at 192.168.1.254 port open; call 555-123-4567", "en", "s", 1),
        (3, "no pii here at all", "en", "s", 1),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = str(tmp_path / "pii")
    docs.write.parquet(f"{d}/documents.parquet")
    out = {r.doc_id: r for r in q_pii_redact(spark, d).collect()}
    assert (out[1].n_emails, out[1].n_ips, out[1].n_phones) == (1, 0, 0)
    assert (out[2].n_emails, out[2].n_ips, out[2].n_phones) == (0, 1, 1)
    assert (out[3].n_emails, out[3].n_ips, out[3].n_phones) == (0, 0, 0)
    # masked text differs from the original exactly when PII was found
    import hashlib

    assert out[3].redacted_md5 == hashlib.md5(rows[2][1].encode()).hexdigest()
    assert out[1].redacted_md5 == hashlib.md5(
        b"contact me at <EMAIL> today"
    ).hexdigest()
    assert out[2].redacted_md5 == hashlib.md5(
        b"server at <IP> port open; call <PHONE>"
    ).hexdigest()


def test_knn_graph_edges_are_same_label_topk(spark, sf_dir):
    from queue_system_simulator_spark.plans import QUERIES

    edges = QUERIES["embed_knn_graph"].build(spark, sf_dir).collect()
    assert edges, "sampled query nodes must produce edges"
    per_src = {}
    for e in edges:
        assert e.src % 25 == 0 and e.src != e.nbr
        per_src.setdefault(e.src, []).append(e.sim)
    for sims in per_src.values():
        assert len(sims) <= 3
        assert sims == sorted(sims, reverse=True)


def test_pii_redact_is_idempotent(spark, tmp_path):
    # masking already-masked text must be a no-op: <EMAIL>/<IP>/<PHONE>
    # tokens contain no maskable spans themselves
    from queue_system_simulator_spark.plans.llm_queries import (
        _PII_EMAIL,
        _PII_IPV4,
        _PII_PHONE,
        q_pii_redact,
    )

    rows = [
        (1, "a@b.co and 10.0.0.1 and 555-123-4567 twice a@b.co", "en", "s", 1),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d1 = str(tmp_path / "p1")
    docs.write.parquet(f"{d1}/documents.parquet")
    import pyspark.sql.functions as F  # noqa: F811

    once = q_pii_redact(spark, d1).collect()[0]
    masked = (
        spark.read.parquet(f"{d1}/documents.parquet")
        .select(
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace("text", _PII_EMAIL, "<EMAIL>"),
                    _PII_IPV4,
                    "<IP>",
                ),
                _PII_PHONE,
                "<PHONE>",
            ).alias("text")
        )
        .collect()[0
        ].text
    )
    d2 = str(tmp_path / "p2")
    spark.createDataFrame(
        [(1, masked, "en", "s", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{d2}/documents.parquet")
    twice = q_pii_redact(spark, d2).collect()[0]
    assert (twice.n_emails, twice.n_ips, twice.n_phones) == (0, 0, 0)
    assert twice.redacted_md5 == once.redacted_md5


def test_gap_fill_preserves_observations(spark, sf_dir):
    from queue_system_simulator_spark.plans import QUERIES

    out = QUERIES["timeseries_gap_fill"].build(spark, sf_dir)
    # non-gap rows carry their own observed value; gap rows are filled from
    # an EARLIER hour of the same user, so filled values per user form a
    # step function whose jumps only happen at observation hours
    import pyspark.sql.functions as F  # noqa: F811

    bad = out.filter(F.col("was_gap") & F.col("filled_value").isNull())
    # the first grid hour per user is always an observation, so no
    # leading-null fills exist
    assert bad.count() == 0
    obs_rows = out.filter(~F.col("was_gap")).count()
    assert obs_rows > 0


def test_lsh_candidates_recall_and_rejection(spark, tmp_path):
    # recall guarantee: byte-identical documents have identical signatures,
    # so SOME band always collides -> they are always a candidate pair;
    # rejection sanity: documents sharing no shingle at all have fully
    # independent signatures and (here, deterministically) no band match
    from queue_system_simulator_spark.plans.llm_queries import (
        _lsh_candidates,
        _minhash_wide,
    )

    same = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    other = "one two three four five six seven eight nine ten eleven"
    rows = [
        (1, same, "en", "s", len(same)),
        (2, same, "en", "s", len(same)),
        (3, other, "en", "s", len(other)),
    ]
    d = str(tmp_path / "lsh")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{d}/documents.parquet")
    cand = {
        (r.doc_a, r.doc_b)
        for r in _lsh_candidates(_minhash_wide(spark, d)).collect()
    }
    assert (1, 2) in cand
    assert (1, 3) not in cand and (2, 3) not in cand


def test_semdedup_keeps_cluster_minimum_and_prunes_monotone(spark, sf_dir):
    from pyspark.sql import functions as F

    res = QUERIES["semdedup_prune"].build(spark, sf_dir)
    # the smallest vec_id in every cluster can have no smaller neighbour,
    # so it is always kept
    mins = (
        res.groupBy("label")
        .agg(F.min("vec_id").alias("vec_id"))
        .join(res, ["label", "vec_id"])
    )
    assert mins.filter(~F.col("kept")).count() == 0
    # every row is classified exactly once
    n = res.count()
    assert res.select("vec_id").distinct().count() == n


def test_bloom_dedup_has_no_false_negatives(spark, sf_dir):
    from pyspark.sql import functions as F

    res = QUERIES["incremental_dedup_bloom"].build(spark, sf_dir).cache()
    # Bloom guarantee: every exact dup is bloom-positive
    assert res.filter(F.col("is_dup") & ~F.col("bloom_positive")).count() == 0
    # exact flag matches an independently-computed semi-join
    from queue_system_simulator_spark.schema import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.substring("text", 1, 32).alias("k")
    )
    batch = docs.filter(F.col("source") == "src0")
    corpus = docs.filter(F.col("source") != "src0").select("k").distinct()
    expected = {
        r.doc_id for r in batch.join(corpus, "k", "left_semi").collect()
    }
    got = {r.doc_id for r in res.filter("is_dup").collect()}
    assert got == expected
    res.unpersist()


def test_zorder_files_are_small_rectangles(spark, sf_dir):
    from pyspark.sql import functions as F

    from queue_system_simulator_spark.plans.analytics_queries import (
        _Z_BITS,
        _Z_FILE_SHIFT,
    )

    res = QUERIES["zorder_file_layout"].build(spark, sf_dir).collect()
    # top 6 z-bits = 3 high bits per dimension -> each file covers at most
    # a 1/8 x 1/8 rectangle of the normalized (user, time) grid; this is
    # the property that makes footer-stats pruning work on either column
    span_cap = 1 << (_Z_BITS - 3)
    for r in res:
        assert 0 <= r.file_id < (1 << (2 * _Z_BITS - _Z_FILE_SHIFT))
        assert r.user_hi - r.user_lo < span_cap
        assert r.sec_hi - r.sec_lo < span_cap
    # files partition the table: row counts add up
    from queue_system_simulator_spark.schema import load_table

    total = load_table(spark, sf_dir, "events").count()
    assert sum(r.n_rows for r in res) == total


def test_dsir_weights_favor_target_language(spark, sf_dir):
    from pyspark.sql import functions as F

    from queue_system_simulator_spark.schema import load_table

    res = QUERIES["dsir_importance_weights"].build(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    by_lang = (
        res.join(docs, "doc_id")
        .groupBy(F.col("lang") == "en")
        .agg(F.avg(F.col("dsir_logw_micro") / F.col("n_feats")).alias("m"))
        .collect()
    )
    means = {r[0]: r.m for r in by_lang}
    # the likelihood ratio is trained toward lang='en': target docs must
    # score higher per-feature than background docs on average
    assert means[True] > means[False]


def test_fuzzy_dedup_supersets_exact_prefix_dups(spark, sf_dir):
    from pyspark.sql import functions as F

    res = QUERIES["fuzzy_edit_dedup_pairs"].build(spark, sf_dir).cache()
    # distance 0 pairs == identical probe windows; all distances bounded
    assert res.filter(F.col("edit_dist") > 24).count() == 0
    zero = res.filter(F.col("edit_dist") == 0).count()
    assert zero <= res.count()
    res.unpersist()


def test_ppl_filter_keeps_top_quantile(spark, sf_dir):
    from pyspark.sql import functions as F

    res = QUERIES["ppl_quantile_filter"].build(spark, sf_dir).cache()
    n = res.count()
    kept = res.filter("keep").count()
    # p30 cut keeps ~70% (interpolation can shift the boundary by one doc)
    assert 0.6 * n <= kept <= 0.8 * n
    # every kept doc scores >= every dropped doc
    min_kept = res.filter("keep").agg(F.min("avg_logprob")).first()[0]
    max_dropped = res.filter(~F.col("keep")).agg(
        F.max("avg_logprob")
    ).first()[0]
    assert min_kept >= max_dropped
    res.unpersist()


def test_bpe_merges_match_classic_python_trainer(spark, sf_dir):
    """Independent check: classic sequential BPE (Sennrich alg. 1) over the
    same word counts must produce the identical merge table."""
    from collections import Counter

    import pyarrow.parquet as pq

    texts = pq.read_table(f"{sf_dir}/documents.parquet", columns=["text"])
    counts = Counter()
    for t in texts.column("text").to_pylist():
        for w in t.split(" "):
            if len(w) >= 2:
                counts[w] += 1
    vocab = {w: list(w) for w in counts}
    expected = []
    for _ in range(3):
        pair_f = Counter()
        for w, syms in vocab.items():
            for x, y in zip(syms, syms[1:]):
                pair_f[(x, y)] += counts[w]
        best = min(pair_f.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        expected.append((best[0], best[1], pair_f[best]))
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and (syms[i], syms[i + 1]) == best
                ):
                    out.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    res = QUERIES["bpe_merge_training"].build(spark, sf_dir).collect()
    got = [
        (r.left_sym, r.right_sym, r.f)
        for r in sorted(res, key=lambda r: r.round)
    ]
    assert got == expected


def test_sq8_codes_bounded_and_complete(spark, sf_dir):
    from pyspark.sql import functions as F

    res = QUERIES["embed_sq8_quantize"].build(spark, sf_dir).cache()
    bad = res.filter(
        (F.col("code_min") < 0)
        | (F.col("code_max") > 255)
        | (F.col("n_dims") != 64)
    ).count()
    assert bad == 0
    # per-dim extremes must hit the code range edges somewhere
    assert res.agg(F.max("code_max")).first()[0] == 255
    assert res.agg(F.min("code_min")).first()[0] == 0
    res.unpersist()


def test_ivf_recall_between_zero_and_one(spark, sf_dir):
    row = QUERIES["ivf_recall_at_k"].build(spark, sf_dir).first()
    assert 0 <= row.n_overlap <= row.k
    assert abs(row.recall_at_k - round(row.n_overlap / row.k, 6)) < 1e-9


def test_incremental_candidates_cross_boundary_only(spark, sf_dir):
    from pyspark.sql import functions as F

    from queue_system_simulator_spark.schema import load_table

    res = QUERIES["incremental_minhash_candidates"].build(spark, sf_dir)
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    joined = (
        res.join(
            src.withColumnRenamed("doc_id", "new_doc").withColumnRenamed(
                "source", "new_src"
            ),
            "new_doc",
        ).join(
            src.withColumnRenamed("doc_id", "corpus_doc").withColumnRenamed(
                "source", "corpus_src"
            ),
            "corpus_doc",
        )
    )
    bad = joined.filter(
        (F.col("new_src") != "src0") | (F.col("corpus_src") == "src0")
    ).count()
    assert bad == 0


def test_quality_rank_keeps_top_share_per_source(spark, sf_dir):
    from pyspark.sql import functions as F

    res = QUERIES["quality_rank_by_source"].build(spark, sf_dir).cache()
    per_src = (
        res.groupBy("source")
        .agg(
            F.avg(F.col("keep").cast("double")).alias("frac"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    for r in per_src:
        if r.n >= 10:
            assert 0.6 <= r.frac <= 0.95
    # the worst doc per source is never kept (rank 0 < 0.2)
    worst = res.filter((F.col("pct_rank") == 0.0) & F.col("keep")).count()
    assert worst == 0
    res.unpersist()


def test_vocab_encode_preserves_token_order_and_count(spark, sf_dir):
    from pyspark.sql import functions as F

    from queue_system_simulator_spark.schema import load_table

    res = QUERIES["vocab_encode_ids"].build(spark, sf_dir).cache()
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("want")
    )
    mism = (
        res.join(docs, "doc_id")
        .filter(
            (F.col("n_tokens") != F.col("want"))
            | (F.size(F.split("ids_str", " ")) != F.col("want"))
        )
        .count()
    )
    assert mism == 0
    res.unpersist()


def test_sampled_estimate_within_sane_error(spark, sf_dir):
    from pyspark.sql import functions as F

    res = QUERIES["sampled_count_estimate"].build(spark, sf_dir).collect()
    assert len(res) > 0
    for r in res:
        # 1/8 hash-sample on groups of this size: generous bound, the point
        # is the estimator is wired up, deterministic, and non-degenerate
        if r.exact_n >= 100:
            assert r.rel_err < 0.5
        assert r.est_n % 8 == 0


def test_udtf_run_lengths_conserve_events(spark, sf_dir):
    from pyspark.sql import functions as F

    from queue_system_simulator_spark.schema import load_table

    res = QUERIES["udtf_event_run_lengths"].build(spark, sf_dir)
    per_user = res.groupBy("user_id").agg(F.sum("run_len").alias("n"))
    want = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("want"))
    )
    bad = (
        per_user.join(want, "user_id", "full")
        .filter(
            F.col("n").isNull()
            | F.col("want").isNull()
            | (F.col("n") != F.col("want"))
        )
        .count()
    )
    assert bad == 0


def test_incremental_rollup_merge_equals_full_recompute(spark, sf_dir):
    from pyspark.sql import functions as F

    from queue_system_simulator_spark.schema import load_table

    merged = QUERIES["incremental_rollup_merge"].build(spark, sf_dir)
    full = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.expr("unix_micros(ts) div 86400000000").alias("day"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                "sum_centi"
            ),
        )
    )
    assert merged.exceptAll(full).count() == 0
    assert full.exceptAll(merged).count() == 0


def test_lsh_recall_eval_metrics_are_consistent(spark, sf_dir):
    row = QUERIES["lsh_recall_eval"].build(spark, sf_dir).first()
    assert 0 <= row.n_hit <= min(row.n_true, row.n_candidates)
    assert 0.0 <= row.recall <= 1.0 and 0.0 <= row.precision <= 1.0


def _scores(df, *by):
    return {
        tuple(r[k] for k in by): (
            r.n_candidates, r.n_true, r.n_hit, r.recall, r.precision
        )
        for r in df.collect()
    }


def test_scorecard_of_empty_candidates_is_zero_not_null(spark):
    from queue_system_simulator_spark.plans.llm_queries import _scorecard

    cand = spark.createDataFrame([], "doc_a long, doc_b long")
    truth = spark.createDataFrame([(1, 2), (3, 4)], "doc_a long, doc_b long")
    assert _scores(_scorecard(cand, truth)) == {(): (0, 2, 0, 0.0, 0.0)}


def test_scorecard_key_only_on_candidate_side(spark):
    from queue_system_simulator_spark.plans.llm_queries import _scorecard

    cand = spark.createDataFrame(
        [("hit", 1, 2), ("miss", 5, 6), ("none", None, None)],
        "k string, doc_a long, doc_b long",
    )
    truth = spark.createDataFrame([(1, 2), (3, 4)], "doc_a long, doc_b long")
    # "miss" has a candidate but no hit; "none" lists its key with a null
    # pair and has no candidate at all
    assert _scores(_scorecard(cand, truth, ["k"]), "k") == {
        ("hit",): (1, 2, 1, 0.5, 1.0),
        ("miss",): (1, 2, 0, 0.0, 0.0),
        ("none",): (0, 2, 0, 0.0, 0.0),
    }


def test_scorecard_key_only_on_truth_side(spark):
    from queue_system_simulator_spark.plans.llm_queries import _scorecard

    cand = spark.createDataFrame([(1, 2), (7, 8)], "doc_a long, doc_b long")
    truth = spark.createDataFrame(
        [(30, 1, 2), (30, 3, 4), (80, None, None)],
        "tau int, doc_a long, doc_b long",
    )
    assert _scores(_scorecard(cand, truth, ["tau"]), "tau") == {
        (30,): (2, 2, 1, 0.5, 0.5),
        (80,): (2, 0, 0, 0.0, 0.0),
    }


def test_forecast_eval_floor_division_is_sign_robust(spark):
    """The model's floor division must match Python floor semantics for
    negative sums too (testdata regenerates each round; value sign is not
    guaranteed)."""
    df = spark.createDataFrame(
        [(-7, 3), (7, 3), (-6, 3), (0, 3)], "s long, n long"
    )
    got = {
        (r.s, r.n): r.p
        for r in df.selectExpr(
            "s", "n", "(s - ((s % n + n) % n)) div n AS p"
        ).collect()
    }
    for (sv, nv), p in got.items():
        assert p == sv // nv  # Python // is floor division


def test_stratified_exact_split_guarantees_proportions(spark, sf_dir):
    from pyspark.sql import functions as F

    res = QUERIES["stratified_exact_split"].build(spark, sf_dir)
    per = (
        res.groupBy("source")
        .pivot("split", ["train", "val", "test"])
        .count()
        .na.fill(0)
        .collect()
    )
    for r in per:
        n = r.train + r.val + r.test
        # exact-allocation contract: rank thresholds floor to the stratum
        assert r.train == (n * 80) // 100
        assert r.train + r.val == (n * 90) // 100


def test_embed_outlier_rate_is_per_cluster_adaptive(spark, sf_dir):
    from pyspark.sql import functions as F

    res = QUERIES["embed_outlier_flags"].build(spark, sf_dir)
    per = (
        res.groupBy("label")
        .agg(F.avg(F.col("is_outlier").cast("double")).alias("rate"))
        .collect()
    )
    # p90 threshold per cluster: each cluster flags ~10% (interpolation
    # and ties move the boundary by at most a couple of vectors)
    for r in per:
        assert 0.0 <= r.rate <= 0.2


def test_short_documents_do_not_crash_window_builders(spark, tmp_path):
    # sequence(1, n) with n < 1 is DESCENDING in Spark ([1, 0], ...), so an
    # unguarded sliding-window transform crashes element_at(_, 0) on a
    # single-token document (INVALID_INDEX_OF_ZERO) or silently slices
    # from the array END on negative starts.  sliding_index_sql guards
    # every n-gram/window builder; this pins the edge case the synthetic
    # corpus never contains.
    rows = [
        (1, "", "en", "src0", 0),
        (2, "one", "en", "src0", 3),
        (3, "two words", "en", "src1", 9),
        (4, " ".join(f"tok{i}" for i in range(20)), "en", "src1", 100),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = str(tmp_path / "short_docs")
    docs.write.parquet(f"{d}/documents.parquet")
    for name in [
        "ngram_jaccard_pairs",
        "doc_winnow_fingerprints",
        "doc_repetition_score",
        "bigram_lm_doc_score",
        "dup_span_fraction",
        "dsir_importance_weights",
        "contamination_ngram_overlap",
        "bigram_lift",
    ]:
        out = QUERIES[name].build(spark, d)
        out.collect()  # must not raise; counts vary by query semantics


def test_attribution_credit_is_conserved(spark, sf_dir):
    """Every purchase centi-unit lands exactly once (floor + remainder to
    the earliest touch; unattributed purchases in the hod=-1 bucket)."""
    from pyspark.sql import functions as F

    from queue_system_simulator_spark.schema import load_table

    out = QUERIES["attribution_linear_credit"].build(spark, sf_dir)
    got = out.agg(F.sum("sum_credit_centi")).first()[0]
    want = (
        load_table(spark, sf_dir, "events")
        .filter("event_type = 'purchase'")
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")))
        .first()[0]
    )
    assert got == want


def test_temperature_resample_hits_exact_targets(spark, sf_dir):
    """Per-source sample sizes equal floor(frac * corpus * sqrt(n)/W) —
    the exact-allocation contract, and smaller sources get a LARGER
    sampling rate than bigger ones (the temperature flattening)."""
    import math

    from pyspark.sql import functions as F

    from queue_system_simulator_spark.plans.llm_queries import (
        TEMP_SAMPLE_FRAC,
    )
    from queue_system_simulator_spark.schema import load_table

    per = {
        r.source: r.n
        for r in load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    corpus = sum(per.values())
    w = sum(math.sqrt(n) for n in per.values())
    got = {
        r.source: r.cnt
        for r in QUERIES["temperature_source_resample"]
        .build(spark, sf_dir)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    rates = {}
    for s, n in per.items():
        want = math.floor(TEMP_SAMPLE_FRAC * corpus * math.sqrt(n) / w)
        assert got.get(s, 0) == want, (s, got.get(s, 0), want)
        if want:
            rates[s] = want / n
    small = min(per, key=per.get)
    big = max(per, key=per.get)
    if small in rates and big in rates and per[small] < per[big]:
        assert rates[small] > rates[big]


def test_k_anon_generalizes_exactly_until_k_holds(spark, tmp_path):
    """Fixture with a deliberately rare (type, hour) cell: the finest
    level must fail, the chosen level must be the MINIMAL one whose
    smallest group reaches k, and emitted groups must sum to the corpus."""
    import pyspark.sql.functions as F

    from queue_system_simulator_spark.plans import QUERIES

    # 2000 events -> k = max(5, 2000/200) = 10.  Hour 0 gets 1997 spread
    # evenly; hour 1 gets only 3 -> level 0 fails; at level 1 hour 1
    # merges into bucket 0 (hours 0-3) -> every group >= 10.
    ev = spark.range(2000).select(
        F.col("id").alias("event_id"),
        F.timestamp_micros(
            F.lit(1_700_000_000_000_000)
            # epoch chosen so hour-of-day = (id < 1997 ? 0 : 1)
            + F.when(F.col("id") < 1997, (F.col("id") % 3600) * 1_000_000)
            .otherwise(F.lit(3_600_000_000) + (F.col("id") % 60) * 1_000_000)
        ).alias("ts"),
        (F.col("id") % 5).cast("long").alias("user_id"),
        F.lit("click").alias("event_type"),
        F.lit(1.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    # base epoch 1_700_000_000 s = 2023-11-14T22:13:20Z — shift so hod is 0
    shift = (24 - 22) * 3600 - 13 * 60 - 20
    ev = ev.withColumn(
        "ts", F.timestamp_micros(F.unix_micros("ts") + shift * 1_000_000)
    )
    d = str(tmp_path / "kanon")
    ev.write.parquet(f"{d}/events.parquet")
    rows = QUERIES["k_anon_generalize"].build(spark, d).collect()
    assert rows
    lvl = {r.level for r in rows}
    assert lvl == {1}, lvl  # minimal satisfying level, not 0 and not 2+
    assert all(r.k == 10 for r in rows)
    assert all(r.n >= 10 for r in rows)
    assert sum(r.n for r in rows) == 2000


def test_dup_span_removal_drops_shared_windows_only(spark, tmp_path):
    """Two documents sharing one 8-token span: exactly those 8 positions
    vanish from both; a unique document passes through byte-identical."""
    import hashlib

    import pyspark.sql.functions as F  # noqa: F811

    from queue_system_simulator_spark.plans import QUERIES

    shared = " ".join(f"s{i}" for i in range(8))
    a_head = " ".join(f"a{i}" for i in range(8))
    b_tail = " ".join(f"b{i}" for i in range(8))
    rows = [
        (1, f"{a_head} {shared}", "en", "s", 1),
        (2, f"{shared} {b_tail}", "en", "s", 1),
        (3, " ".join(f"u{i}" for i in range(12)), "en", "s", 1),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = str(tmp_path / "spans")
    docs.write.parquet(f"{d}/documents.parquet")
    got = {
        r.doc_id: r
        for r in QUERIES["dup_span_removal"].build(spark, d).collect()
    }
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    # doc 1: the shared window covers its last 8 tokens -> head survives
    assert (got[1].n_removed, got[1].cleaned_hash) == (8, md5(a_head))
    # doc 2: shared window is its FIRST 8 tokens -> tail survives
    assert (got[2].n_removed, got[2].cleaned_hash) == (8, md5(b_tail))
    # doc 3: unique -> untouched
    assert (got[3].n_removed, got[3].cleaned_hash) == (0, md5(rows[2][1]))


def test_containment_flags_quote_that_jaccard_misses(spark, tmp_path):
    """A short doc fully quoted inside a long one: containment 1.0 on the
    short side while Jaccard stays tiny — the pair must surface."""
    import pyspark.sql.functions as F  # noqa: F811

    quote = " ".join(f"q{i}" for i in range(12))
    filler = " ".join(f"f{i}" for i in range(88))
    rows = [
        (1, quote, "en", "src1", 1),
        (2, f"{filler} {quote}", "en", "src1", 1),
        (3, " ".join(f"z{i}" for i in range(30)), "en", "src1", 1),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = str(tmp_path / "contain")
    docs.write.parquet(f"{d}/documents.parquet")
    got = {
        (r.doc_a, r.doc_b): r
        for r in QUERIES["ngram_containment_pairs"].build(spark, d).collect()
    }
    assert (1, 2) in got
    r = got[(1, 2)]
    assert r.containment_a == 1.0  # every shingle of the quote is in doc 2
    assert r.containment_b < 0.2  # and Jaccard-style symmetric view is tiny
    assert (1, 3) not in got and (2, 3) not in got


def test_burstiness_moments_merge_across_partitions(spark, sf_dir):
    """The (n, sum, sum-sq) triple must be partition-merge-invariant:
    recomputing after an adversarial repartition yields identical rows —
    the property that makes the aggregation exact at any scale."""
    a = sorted(
        QUERIES["user_burstiness"].build(spark, sf_dir).collect(),
        key=lambda r: r.user_id,
    )
    from queue_system_simulator_spark.plans.analytics_queries import (
        q_user_burstiness,
    )
    from queue_system_simulator_spark.schema import load_table

    # same query over a 97-way round-robin repartition of the input
    ev = load_table(spark, sf_dir, "events").repartition(97)
    ev.createOrReplaceTempView("__burst_scrambled")
    try:
        import queue_system_simulator_spark.schema as sch

        orig = sch.load_table

        def scrambled(s, d, name):
            return ev if name == "events" else orig(s, d, name)

        sch.load_table = scrambled
        import queue_system_simulator_spark.plans.analytics_queries as aq

        aq_orig = aq.load_table
        aq.load_table = scrambled
        try:
            b = sorted(
                q_user_burstiness(spark, sf_dir).collect(),
                key=lambda r: r.user_id,
            )
        finally:
            sch.load_table = orig
            aq.load_table = aq_orig
    finally:
        spark.catalog.dropTempView("__burst_scrambled")
    assert a == b


def test_source_lang_entropy_bounds_and_dominant(spark, sf_dir):
    import math

    from pyspark.sql import functions as F

    from queue_system_simulator_spark.plans.llm_queries import (
        q_source_lang_entropy,
    )
    from queue_system_simulator_spark.schema import load_table

    rows = q_source_lang_entropy(spark, sf_dir).collect()
    assert rows
    counts = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    by_src: dict = {}
    for r in counts:
        by_src.setdefault(r["source"], {})[r["lang"]] = r["c"]
    for r in rows:
        langs = by_src[r["source"]]
        assert r["n_docs"] == sum(langs.values())
        assert r["n_langs"] == len(langs)
        assert -1e-9 <= r["lang_entropy"] <= math.log(len(langs)) + 1e-9
        mc = max(langs.values())
        assert r["dominant_lang"] == min(
            k for k, v in langs.items() if v == mc
        )


def test_kcore_trajectory_monotone_and_stabilizes(spark, sf_dir):
    from queue_system_simulator_spark.plans.llm_queries import (
        KCORE_ROUNDS,
        q_kcore_peel_rounds,
    )

    rows = sorted(
        q_kcore_peel_rounds(spark, sf_dir).collect(), key=lambda r: r["round"]
    )
    assert [r["round"] for r in rows] == list(range(KCORE_ROUNDS + 1))
    for a, b in zip(rows, rows[1:]):
        assert b["n_nodes"] <= a["n_nodes"]
        assert b["n_edges"] <= a["n_edges"]
        # a peel round that removes nothing is a fixpoint: all later
        # rounds must be identical
        if (a["n_nodes"], a["n_edges"]) == (b["n_nodes"], b["n_edges"]):
            assert all(
                (c["n_nodes"], c["n_edges"]) == (a["n_nodes"], a["n_edges"])
                for c in rows[rows.index(b):]
            )


def test_zipf_slope_negative_and_decomposes(spark, sf_dir):
    from queue_system_simulator_spark.plans.llm_queries import (
        q_zipf_exponent_fit,
    )

    r = q_zipf_exponent_fit(spark, sf_dir).collect()[0]
    # frequency can only fall with rank: the fitted slope must be negative
    assert r["zipf_slope"] < 0
    assert r["n_terms"] > 0
    # num/den grade as decimal strings because they exceed int64
    num, den = int(r["slope_num"]), int(r["slope_den"])
    assert den > 0
    assert abs(r["zipf_slope"] - round(num / den, 6)) < 1e-9
