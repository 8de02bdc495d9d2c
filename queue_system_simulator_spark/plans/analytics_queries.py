"""Event-log product analytics: ordered funnel and retention cohorts.

The request/event log the reference simulates is exactly the input of
standard product analytics; these queries round out the engine's "a
reference user can run their whole workload here" story with the two
classics every event pipeline needs.  Week arithmetic is integer weeks
since the Unix epoch (``epoch_us // (7*86400*1e6)``) so both engines bucket
identically regardless of locale week rules.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from queue_system_simulator_spark.localframe import local_df
from queue_system_simulator_spark.plans.registry import register
from queue_system_simulator_spark.schema import load_table
from queue_system_simulator_spark.operators.transforms import (
    sliding_index_sql,
    spread,
)

_WEEK_US = 7 * 86_400 * 1_000_000


@register(
    "funnel_view_click_purchase",
    oracle="""
WITH v AS (
  SELECT user_id, min(epoch_us(ts)) AS t
  FROM events WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(epoch_us(e.ts)) AS t
  FROM events e JOIN v ON e.user_id = v.user_id AND epoch_us(e.ts) > v.t
  WHERE e.event_type = 'click' GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(epoch_us(e.ts)) AS t
  FROM events e JOIN c ON e.user_id = c.user_id AND epoch_us(e.ts) > c.t
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
)
SELECT (SELECT count(*) FROM v) AS n_viewed,
       (SELECT count(*) FROM c) AS n_clicked_after_view,
       (SELECT count(*) FROM p) AS n_purchased_after_click
""",
    description="Ordered conversion funnel (view → later click → later "
    "purchase) per user: three stage frames built by min-timestamp "
    "chaining — each stage is one groupBy + one join, no window over the "
    "full log, counts collapse map-side.",
)
def q_funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("tus")
    )

    def stage(etype: str, after: DataFrame | None) -> DataFrame:
        e = ev.filter(F.col("event_type") == etype)
        if after is not None:
            e = e.join(after, "user_id").filter(F.col("tus") > F.col("t")).drop("t")
        return e.groupBy("user_id").agg(F.min("tus").alias("t"))

    v = stage("view", None)
    c = stage("click", v)
    p = stage("purchase", c)
    return (
        v.agg(F.count(F.lit(1)).alias("n_viewed"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_clicked_after_view")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchased_after_click")))
    )


@register(
    "retention_cohorts",
    oracle=f"""
WITH first_wk AS (
  SELECT user_id, min(epoch_us(ts) // {_WEEK_US}) AS w0
  FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT e.user_id, epoch_us(e.ts) // {_WEEK_US} AS w
  FROM events e
)
SELECT f.w0 AS cohort_week,
       CAST(a.w - f.w0 AS BIGINT) AS week_offset,
       count(*) AS n_active_users
FROM activity a JOIN first_wk f ON a.user_id = f.user_id
GROUP BY f.w0, a.w - f.w0
""",
    description="Retention cohort matrix: users bucketed by first-seen "
    "week, activity counted per (cohort, week offset). Two aggregations "
    "and one join on user_id; the distinct-activity frame shuffles "
    "(user, week) pairs, never raw events.",
)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", (F.unix_micros("ts") / _WEEK_US).cast("long").alias("w")
    )
    first_wk = ev.groupBy("user_id").agg(F.min("w").alias("w0"))
    activity = ev.distinct()
    return (
        activity.join(first_wk, "user_id")
        .groupBy(
            F.col("w0").alias("cohort_week"),
            (F.col("w") - F.col("w0")).alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active_users"))
    )


_HOUR_US = 3600 * 1_000_000


@register(
    "user_activity_similarity",
    oracle=f"""
WITH h AS (
  SELECT user_id, epoch_us(ts) // {_HOUR_US} AS hr, count(*) AS n
  FROM events GROUP BY user_id, epoch_us(ts) // {_HOUR_US}
),
norms AS (SELECT user_id, sqrt(sum(n * n)) AS nrm FROM h GROUP BY user_id),
dots AS (
  SELECT a.user_id AS user_a, b.user_id AS user_b,
         CAST(sum(a.n * b.n) AS DOUBLE) AS dot
  FROM h a JOIN h b ON a.hr = b.hr AND a.user_id < b.user_id
  GROUP BY a.user_id, b.user_id
)
SELECT d.user_a, d.user_b,
       round(d.dot / (na.nrm * nb.nrm), 6) AS cosine_sim
FROM dots d
JOIN norms na ON d.user_a = na.user_id
JOIN norms nb ON d.user_b = nb.user_id
ORDER BY round(d.dot / (na.nrm * nb.nrm), 6) DESC, d.user_a, d.user_b
LIMIT 20
""",
    description="Time-series similarity search: users as hourly activity "
    "count vectors, exact top-20 cosine pairs via blocked matrix "
    "multiplication — users hash into blocks, only block *pairs* are "
    "replicated, and each block pair's dot products run as one vectorized "
    "numpy GEMM inside applyInPandas, emitting only its local top-k; the "
    "quadratic pair relation never reaches a shuffle.",
)
def q_user_activity_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-20 cosine-similar user pairs over hourly activity vectors.

    Plan rationale (100 TB posture): an exact answer is Ω(users²) dot
    products here — hour buckets are dense, virtually every user pair
    co-occurs, and the top-20 cosines sit at ~0.25 barely above the bulk,
    so no LSH/sampling prefilter can preserve exact top-k.  What *can*
    change is the constant: the previous per-hour equi-self-join shuffled
    Σ_h k_h² pair tuples (12.8 M at sf0.1, quadratic in users at 100×);
    this plan shuffles only O(cells × blocks) replicated input rows and
    ≤ 64 candidate rows per block pair, doing the quadratic work as
    BLAS-vectorized GEMM in Arrow batches.  Every value stays bit-identical
    to the SQL oracle: counts are small integers, so float64 GEMM is exact
    integer arithmetic regardless of summation order, and sqrt/multiply/
    divide are single correctly-rounded IEEE ops on both engines.
    """
    import math

    import numpy as np
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    h = (
        ev.select(
            "user_id", (F.unix_micros("ts") / _HOUR_US).cast("long").alias("hr")
        )
        .groupBy("user_id", "hr")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # Driver scalars: block count and the dense hour-index range.  ~256
    # users per block at test scale (→ trivial GEMMs, good local[32]
    # spread); on a real cluster size blocks ~4096 so each GEMM amortizes
    # its block-replication I/O.
    nusers, hr_min, hr_max = h.agg(
        F.countDistinct("user_id"), F.min("hr"), F.max("hr")
    ).first()
    if not nusers:
        return local_df(
            spark, [], "user_a long, user_b long, cosine_sim double"
        )
    n_blocks = max(1, math.ceil(nusers / 256))
    n_hours = int(hr_max - hr_min + 1)
    hr0 = int(hr_min)
    top_k = 64  # per-block-pair candidate cap; global top-20 needs ≥45
    #            identically-rounded cosines in ONE block pair to miss

    block_pairs = local_df(
        spark,
        [
            (i * n_blocks + j, i, j)
            for i in range(n_blocks)
            for j in range(i, n_blocks)
        ],
        "pid long, block_a int, block_b int",
    )
    hb = h.withColumn("blk", F.pmod(F.hash("user_id"), F.lit(n_blocks)))
    side_a = hb.join(
        F.broadcast(block_pairs), hb["blk"] == block_pairs["block_a"]
    ).select("pid", F.lit(0).alias("side"), "user_id", "hr", "n")
    side_b = hb.join(
        F.broadcast(block_pairs.filter(F.col("block_a") != F.col("block_b"))),
        hb["blk"] == block_pairs["block_b"],
    ).select("pid", F.lit(1).alias("side"), "user_id", "hr", "n")
    rep = side_a.unionByName(side_b)

    def _block_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"user_a": pd.Series(dtype="int64"),
             "user_b": pd.Series(dtype="int64"),
             "cos": pd.Series(dtype="float64")}
        )

        def dense(side: pd.DataFrame):
            users = np.sort(side["user_id"].unique())
            mat = np.zeros((len(users), n_hours))
            rows = np.searchsorted(users, side["user_id"].to_numpy())
            mat[rows, side["hr"].to_numpy() - hr0] = side["n"].to_numpy()
            return users, mat

        a = pdf[pdf["side"] == 0]
        if a.empty:
            return empty
        users_a, mat_a = dense(a)
        b = pdf[pdf["side"] == 1]
        diagonal = b.empty
        users_b, mat_b = (users_a, mat_a) if diagonal else dense(b)
        # integer-valued float64 throughout: dots and squared norms are
        # exact; sqrt/divide are correctly-rounded IEEE ops → bit-equal
        # to the SQL formulation on both engines.
        dots = mat_a @ mat_b.T
        norms_a = np.sqrt((mat_a * mat_a).sum(axis=1))
        norms_b = norms_a if diagonal else np.sqrt((mat_b * mat_b).sum(axis=1))
        cos = dots / np.outer(norms_a, norms_b)
        if diagonal:
            cos[np.tril_indices_from(cos)] = -np.inf  # keep i<j only
        flat = cos.ravel()
        keep = np.flatnonzero(flat > -np.inf)
        if keep.size > top_k:
            keep = keep[np.argpartition(flat[keep], -top_k)[-top_k:]]
        ia, ib = np.unravel_index(keep, cos.shape)
        ua, ub = users_a[ia], users_b[ib]
        lo, hi = np.minimum(ua, ub), np.maximum(ua, ub)
        return pd.DataFrame({"user_a": lo, "user_b": hi, "cos": flat[keep]})

    cand = rep.groupBy("pid").applyInPandas(
        _block_topk, "user_a long, user_b long, cos double"
    )
    return (
        cand.select(
            "user_a", "user_b", F.round(F.col("cos"), 6).alias("cosine_sim")
        )
        .orderBy(F.col("cosine_sim").desc(), "user_a", "user_b")
        .limit(20)
    )


@register(
    "corpus_summary",
    oracle="""
SELECT source, lang,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       round(CAST(sum(n_chars) AS DOUBLE) / count(*), 6) AS avg_chars,
       CAST(min(n_chars) AS BIGINT) AS min_chars,
       CAST(max(n_chars) AS BIGINT) AS max_chars,
       count(DISTINCT doc_id) AS n_distinct_ids
FROM documents
GROUP BY source, lang
""",
    description="Corpus profiling: per (source, lang) document counts and "
    "length statistics — the first pass every training-data pipeline runs "
    "before filtering; integer sums keep the mean exact-rational.",
)
def q_corpus_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.round(F.sum("n_chars").cast("double") / F.count(F.lit(1)), 6).alias(
            "avg_chars"
        ),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.countDistinct("doc_id").alias("n_distinct_ids"),
    )


@register(
    "value_histogram",
    oracle="""
WITH b AS (
  SELECT event_type,
         least(CAST(floor(value / 10.0) AS BIGINT), 9) AS bucket
  FROM events
)
SELECT event_type, bucket,
       CAST(bucket * 10.0 AS DOUBLE) AS bucket_low,
       CAST(bucket * 10.0 + 10.0 AS DOUBLE) AS bucket_high,
       count(*) AS n
FROM b
GROUP BY event_type, bucket
""",
    description="Equi-width histogram (10 buckets of width 10, top bucket "
    "clamped) of event values per type — the distribution-profiling "
    "primitive; pure integer bucket arithmetic, one partial-aggregated "
    "shuffle.",
)
def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bucket = F.least(F.floor(F.col("value") / 10.0).cast("long"), F.lit(9))
    return (
        ev.select("event_type", bucket.alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "event_type",
            "bucket",
            (F.col("bucket") * 10.0).alias("bucket_low"),
            (F.col("bucket") * 10.0 + 10.0).alias("bucket_high"),
            "n",
        )
    )


_MIN_US = 60 * 1_000_000


@register(
    "rate_anomalies",
    oracle=f"""
WITH m AS (
  SELECT epoch_us(ts) // {_MIN_US} AS minute, count(*) AS n
  FROM events GROUP BY epoch_us(ts) // {_MIN_US}
),
stats AS (
  SELECT CAST(sum(n) AS DOUBLE) / count(*) AS mu,
         sqrt(CAST(sum(n * n) AS DOUBLE) / count(*)
              - (CAST(sum(n) AS DOUBLE) / count(*))
                * (CAST(sum(n) AS DOUBLE) / count(*))) AS sigma
  FROM m
)
SELECT m.minute, m.n,
       round((m.n - s.mu) / s.sigma, 6) AS zscore
FROM m, stats s
WHERE abs((m.n - s.mu) / s.sigma) >= 3.0
""",
    description="Rate anomaly detection: per-minute event counts vs the "
    "global mean/std (population sigma from exact integer sums), |z| >= 3 "
    "flagged. The stats frame is one row — broadcast back over the "
    "minutes, no second shuffle.",
)
def q_rate_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    m = (
        ev.select((F.unix_micros("ts") / _MIN_US).cast("long").alias("minute"))
        .groupBy("minute")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    mu = F.sum("n").cast("double") / F.count(F.lit(1))
    ex2 = F.sum(F.col("n") * F.col("n")).cast("double") / F.count(F.lit(1))
    stats = m.agg(mu.alias("mu"), F.sqrt(ex2 - mu * mu).alias("sigma"))
    z = (F.col("n") - F.col("mu")) / F.col("sigma")
    return (
        m.crossJoin(F.broadcast(stats))
        .filter(F.abs(z) >= 3.0)
        .select("minute", "n", F.round(z, 6).alias("zscore"))
    )


@register(
    "heavy_hitter_tokens",
    oracle="""
SELECT t.tok, count(*) AS n
FROM documents d, LATERAL unnest(string_split(d.text, ' ')) AS t(tok)
GROUP BY t.tok
ORDER BY n DESC, t.tok
LIMIT 20
""",
    description="Heavy hitters: exact top-20 corpus tokens (explode + "
    "partial-aggregated count + TakeOrdered). At 100 TB the same plan "
    "holds because the map-side combine collapses each partition to its "
    "vocabulary before the shuffle; a count-min sketch is the sub-linear "
    "alternative when even the vocab is too wide.",
)
def q_heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "tok")
        .limit(20)
    )


@register(
    "event_type_transitions",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
)
SELECT prev_type, event_type AS next_type, count(*) AS n
FROM seq WHERE prev_type IS NOT NULL
GROUP BY prev_type, event_type
""",
    description="Per-user event-sequence transition matrix (Markov "
    "counts): one lag window per user (single shuffle on user_id), then a "
    "grouped count — the sequence-mining primitive for session behavior.",
)
def q_event_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    return (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "bigram_lift",
    oracle="""
WITH toks AS (
  SELECT d.doc_id, t.tokens AS tokens, len(t.tokens) AS L
  FROM documents d, LATERAL (SELECT string_split(d.text, ' ') AS tokens) t
),
bg AS (
  SELECT tokens[CAST(i AS INT)] AS w1, tokens[CAST(i + 1 AS INT)] AS w2,
         count(*) AS n_ab
  FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(L - 1, 0))) AS i) s
  GROUP BY 1, 2
),
uni AS (
  SELECT t.tok AS w, count(*) AS n
  FROM documents d, LATERAL unnest(string_split(d.text, ' ')) AS t(tok)
  GROUP BY t.tok
),
tot AS (SELECT CAST(sum(n) AS DOUBLE) AS big_n FROM uni)
SELECT b.w1, b.w2, b.n_ab,
       round(CAST(b.n_ab AS DOUBLE) * t.big_n / (u1.n * u2.n), 6) AS lift
FROM bg b JOIN uni u1 ON b.w1 = u1.w JOIN uni u2 ON b.w2 = u2.w, tot t
WHERE b.n_ab >= 10
""",
    description="Bigram collocation lift (exact-rational PMI surrogate — "
    "no engine-dependent log): bigram counts joined to broadcast unigram "
    "counts; support threshold prunes before the join.",
)
def q_bigram_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toked = spread(docs).select(F.split("text", " ").alias("toks"))
    bigrams = F.expr(
        f"transform({sliding_index_sql('toks', 2)}, "
        "i -> struct(element_at(toks, i) AS w1, element_at(toks, i + 1) AS w2))"
    )
    bg = (
        toked.select(F.explode(bigrams).alias("b"))
        .groupBy(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= 10)
    )
    uni = (
        toked.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = uni.agg(F.sum("n").cast("double").alias("big_n"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("n").alias("n1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("n").alias("n2"))
    lift = F.round(
        F.col("n_ab").cast("double") * F.col("big_n") / (F.col("n1") * F.col("n2")),
        6,
    )
    return (
        bg.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", "n_ab", lift.alias("lift"))
    )


@register(
    "stratified_sample",
    oracle="""
WITH ranked AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5('sample|' || CAST(doc_id AS VARCHAR)),
                                     doc_id) AS rn
  FROM documents
)
SELECT doc_id, source, CAST(rn AS INT) AS rn
FROM ranked WHERE rn <= 25
""",
    description="Deterministic stratified sampling: top-25 per source by "
    "md5 hash order — a reproducible 'random' sample that is stable across "
    "engines, runs and partitioning (rand()-based sampling is none of "
    "those); one window per stratum.",
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.lit("sample|"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy(key, "doc_id")
    return (
        docs.select("doc_id", "source", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 25)
    )


@register(
    "events_null_audit",
    oracle="""
SELECT count(*) AS n_rows,
       CAST(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_ts,
       CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_user_id,
       CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_event_type,
       CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_value,
       CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_props
FROM events
""",
    description="Data-quality completeness audit: null counts for every "
    "column in one pass (conditional sums, map-side combined) — the "
    "contract check a pipeline runs before trusting a new partition.",
)
def q_events_null_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    aggs = [F.count(F.lit(1)).alias("n_rows")] + [
        F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
        .cast("long")
        .alias(f"null_{c}")
        for c in ("ts", "user_id", "event_type", "value", "props")
    ]
    return ev.agg(*aggs)


@register(
    "latest_event_per_user",
    oracle="""
WITH k AS (
  SELECT *, lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
            || lpad(CAST(event_id AS VARCHAR), 12, '0') AS ord_key
  FROM events
)
SELECT user_id,
       arg_max(event_id, ord_key) AS last_event_id,
       arg_max(event_type, ord_key) AS last_event_type,
       CAST(max(epoch_us(ts)) // 1000000 AS BIGINT) AS last_seen_s
FROM k
GROUP BY user_id
""",
    description="Latest-state extraction (argmax): each user's most recent "
    "event via max_by with a deterministic (ts, event_id) tie-break — one "
    "partial-aggregated pass, the CDC-style 'current state' primitive.",
)
def q_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # zero-padded string key: lexicographic == (ts, event_id) numeric order
    # (portable argmax tie-break — tuple ordering keys aren't)
    key = F.concat(
        F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    return ev.groupBy("user_id").agg(
        F.max_by("event_id", key).alias("last_event_id"),
        F.max_by("event_type", key).alias("last_event_type"),
        (F.max(F.unix_micros("ts")) / 1_000_000)
        .cast("long")
        .alias("last_seen_s"),
    )


@register(
    "value_percentiles_by_type",
    oracle="""
SELECT event_type,
       count(*) AS n,
       round(quantile_cont(value, 0.5), 6)  AS p50,
       round(quantile_cont(value, 0.9), 6)  AS p90,
       round(quantile_cont(value, 0.99), 6) AS p99,
       round(max(value), 6) AS max_value
FROM events
GROUP BY event_type
""",
    description="Exact linear-interpolation percentiles per event_type (the "
    "G3 operator on the native log): per-group percentile shards across "
    "the cluster — each group's values land on one task, groups "
    "parallelize, which is why grouped exact percentiles scale where a "
    "single global one does not.",
)
def q_value_percentiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    p = F.expr("percentile(value, array(0.5D, 0.9D, 0.99D))")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            p.alias("pcts"),
            F.round(F.max("value"), 6).alias("max_value"),
        )
        .select(
            "event_type",
            "n",
            F.round(F.col("pcts")[0], 6).alias("p50"),
            F.round(F.col("pcts")[1], 6).alias("p90"),
            F.round(F.col("pcts")[2], 6).alias("p99"),
            "max_value",
        )
    )


@register(
    "user_event_pivot",
    oracle="""
SELECT user_id,
       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
       CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error
FROM events
GROUP BY user_id
""",
    description="Pivot (long → wide): per-user event-type count matrix via "
    "pivot() with the value list pinned — pinning skips the extra "
    "distinct-values job and keeps the schema stable; one shuffle, "
    "conditional-sum semantics.",
)
def q_user_event_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    types = ["view", "click", "purchase", "signup", "error"]
    wide = (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    return wide.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}") for t in types],
    )


@register(
    "session_conversion",
    oracle="""
WITH ev AS (
  SELECT user_id, event_type, event_id, epoch_us(ts) AS t FROM events
),
flags AS (
  SELECT *, CASE WHEN lag(t) OVER w IS NULL
                   OR t - lag(t) OVER w >= 300000000 THEN 1 ELSE 0 END AS new_s
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
),
sess AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY t, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM flags
),
first_view AS (
  SELECT user_id, sid,
         min(CASE WHEN event_type = 'view' THEN t END) AS fv
  FROM sess GROUP BY user_id, sid
),
conv AS (
  SELECT s.user_id, s.sid,
         max(CASE WHEN s.event_type = 'purchase' AND s.t > f.fv
                  THEN 1 ELSE 0 END) AS converted
  FROM sess s JOIN first_view f
    ON s.user_id = f.user_id AND s.sid = f.sid
  GROUP BY s.user_id, s.sid
)
SELECT user_id,
       count(*) AS n_sessions,
       CAST(sum(converted) AS BIGINT) AS n_converting_sessions
FROM conv GROUP BY user_id
""",
    description="Sessionized conversion: 300 s gap sessions (lag + running "
    "sum), a session converts when a purchase strictly follows its first "
    "view. Session assignment and the in-session funnel share ONE "
    "partitioning by user — Catalyst evaluates both windows in a single "
    "sort, then two grouped passes.",
)
def q_session_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", F.unix_micros("ts").alias("t")
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    new_s = F.when(
        F.lag("t").over(w).isNull() | (F.col("t") - F.lag("t").over(w) >= 300_000_000),
        1,
    ).otherwise(0)
    sess = ev.withColumn("sid", F.sum(new_s).over(run))
    first_view = sess.groupBy("user_id", "sid").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("t"))).alias("fv")
    )
    conv = (
        sess.join(first_view, ["user_id", "sid"])
        .groupBy("user_id", "sid")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("t") > F.col("fv")),
                    1,
                ).otherwise(0)
            ).alias("converted")
        )
    )
    return conv.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("converted").cast("long").alias("n_converting_sessions"),
    )


@register(
    "weighted_value_mean_udaf",
    oracle="""
SELECT event_type,
       round(CAST(sum(CAST(round(value * 1000000) AS BIGINT)
                      * (user_id % 10 + 1)) AS DOUBLE)
             / sum(user_id % 10 + 1) / 1000000.0, 6) AS weighted_mean
FROM events WHERE value IS NOT NULL
GROUP BY event_type
""",
    description="Arrow-vectorized UDAF surface (pandas_udf GROUPED_AGG): "
    "per-type weighted mean of event values with a priority weight. The "
    "UDF receives whole column batches over Arrow (one call per group, "
    "never per row) and does its arithmetic in exact scaled integers so "
    "the result is order- and partitioning-independent — the pattern for "
    "custom aggregations Spark lacks natively. For anything expressible "
    "as built-in expressions (like this demo's oracle), prefer the "
    "built-ins: this query exists to pin the GROUPED_AGG contract the "
    "engine offers for genuinely custom reducers.",
)
def q_weighted_value_mean_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit functionType: the module's postponed annotations (future
    # import) would stringify pd.Series hints and break hint inference
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def wmean_scaled(v_scaled, w):
        # exact integer numerator/denominator -> one double division at the
        # end: no float-summation order sensitivity across Arrow batches
        num = int((v_scaled * w).sum())
        den = int(w.sum())
        return num / den / 1e6

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.round(F.col("value") * 1_000_000)
            .cast("bigint")
            .alias("v_scaled"),
            (F.col("user_id") % 10 + 1).alias("w"),
        )
    )
    return ev.groupBy("event_type").agg(
        F.round(wmean_scaled("v_scaled", "w"), 6).alias("weighted_mean")
    )


@register(
    "scd2_user_history",
    oracle="""
SELECT user_id, event_id, event_type,
       epoch_us(ts) AS valid_from_us,
       lead(epoch_us(ts)) OVER w AS valid_to_us,
       (lead(epoch_us(ts)) OVER w IS NULL) AS is_current
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
    description="SCD-type-2 history construction (the warehouse pattern for "
    "slowly-changing state): each user's events become validity intervals "
    "[valid_from, valid_to) via one lead() window per user, the open "
    "interval flagged current — one shuffle on the natural key, and the "
    "interval build composes with the asof-join and latest-state queries "
    "for point-in-time lookups.",
)
def q_scd2_user_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    valid_to = F.lead(F.unix_micros("ts")).over(w)
    return ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("valid_from_us"),
        valid_to.alias("valid_to_us"),
        valid_to.isNull().alias("is_current"),
    )


@register(
    "timeseries_gap_fill",
    oracle="""
WITH obs AS (
  SELECT user_id, epoch_us(ts) // 3600000000 AS hour, value
  FROM (
    SELECT user_id, ts, value,
           row_number() OVER (PARTITION BY user_id, epoch_us(ts) // 3600000000
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events WHERE value IS NOT NULL
  ) WHERE rn = 1
),
bounds AS (
  SELECT user_id, min(hour) AS h0, max(hour) AS h1 FROM obs GROUP BY user_id
),
grid AS (
  SELECT b.user_id, unnest(generate_series(b.h0, b.h1)) AS hour FROM bounds b
)
SELECT g.user_id, g.hour,
       last_value(o.value IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.hour
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value,
       (o.value IS NULL) AS was_gap
FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.hour = o.hour
""",
    description="Time-series gap filling (forward fill): each user's "
    "observed hourly value (last observation per hour, deterministic "
    "tie-break) is projected onto a dense hour grid built with "
    "sequence()+explode, gaps carry the previous value via "
    "last(ignorenulls) over an ordered per-user window. Grid generation "
    "and the fill share one partitioning by user — a single shuffle; the "
    "grid fan-out is bounded by each user's own time span, so the "
    "operator shards cleanly at any user count.",
)
def q_timeseries_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    hour = (F.unix_micros("ts") / 3_600_000_000).cast("long")
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("user_id", "ts", "event_id", "value", hour.alias("hour"))
    )
    w_last = Window.partitionBy("user_id", "hour").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    obs = (
        ev.withColumn("rn", F.row_number().over(w_last))
        .filter(F.col("rn") == 1)
        .select("user_id", "hour", "value")
    )
    bounds = obs.groupBy("user_id").agg(
        F.min("hour").alias("h0"), F.max("hour").alias("h1")
    )
    grid = bounds.select(
        "user_id", F.explode(F.sequence("h0", "h1")).alias("hour")
    )
    w_fill = (
        Window.partitionBy("user_id")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(obs, ["user_id", "hour"], "left")
        .select(
            "user_id",
            "hour",
            F.last("value", ignorenulls=True).over(w_fill).alias("filled_value"),
            F.col("value").isNull().alias("was_gap"),
        )
    )


@register(
    "conversion_latency_quantiles",
    oracle="""
WITH v AS (
  SELECT user_id, min(epoch_us(ts)) AS vt
  FROM events WHERE event_type = 'view' GROUP BY user_id
),
p AS (
  SELECT e.user_id, min(epoch_us(e.ts)) AS pt
  FROM events e JOIN v ON e.user_id = v.user_id AND epoch_us(e.ts) > v.vt
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
),
lat AS (
  SELECT p.user_id, (p.pt - v.vt) AS lat_us FROM p JOIN v ON p.user_id = v.user_id
)
SELECT CAST(count(*) AS BIGINT) AS n_converted,
       round(quantile_cont(lat_us, 0.50) / 1000000.0, 6) AS p50_s,
       round(quantile_cont(lat_us, 0.90) / 1000000.0, 6) AS p90_s,
       round(quantile_cont(lat_us, 0.99) / 1000000.0, 6) AS p99_s
FROM lat
""",
    description="Conversion-latency distribution (first view → first "
    "subsequent purchase per user): the funnel stages compose with the "
    "G3 exact linear-interpolation percentile operator — one latency row "
    "per converted user, so the exact quantile aggregates a frame the "
    "size of the user base, not the event log (the grouped-percentile "
    "scaling argument applied to a derived metric).",
)
def q_conversion_latency_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("tus")
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("tus").alias("vt"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("tus") > F.col("vt"))
        .groupBy("user_id")
        .agg(F.min("tus").alias("pt"))
    )
    lat = p.join(v, "user_id").select((F.col("pt") - F.col("vt")).alias("lat_us"))
    pct = F.percentile("lat_us", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)))
    return lat.agg(
        F.count(F.lit(1)).cast("long").alias("n_converted"),
        F.round(pct[0] / 1_000_000.0, 6).alias("p50_s"),
        F.round(pct[1] / 1_000_000.0, 6).alias("p90_s"),
        F.round(pct[2] / 1_000_000.0, 6).alias("p99_s"),
    )


@register(
    "null_semantics_showcase",
    oracle="""
WITH lagged AS (
  SELECT event_type, value,
         CASE WHEN value IS NOT DISTINCT FROM
                   lag(value) OVER (PARTITION BY event_type ORDER BY ts, event_id)
              THEN 1 ELSE 0 END AS rep
  FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(value) AS BIGINT) AS n_value_present,
       CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_value_null,
       CAST(count(DISTINCT value) AS BIGINT) AS n_distinct_nonnull,
       CAST(sum(CASE WHEN nullif(value, 0.0) IS NULL AND value IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_zero,
       CAST(round(sum(CAST(coalesce(value, 0.0) AS DECIMAL(18,6))), 2)
            AS DOUBLE) AS total_null_as_zero,
       CAST(sum(rep) AS BIGINT) AS n_nullsafe_repeats
FROM lagged
GROUP BY event_type
""",
    description="NULL-semantics surface in one frame: count(col) vs "
    "count(*), IS NULL census, DISTINCT's null handling, nullif zero "
    "detection, coalesce imputation inside an exact decimal sum, and "
    "null-safe equality (IS NOT DISTINCT FROM / <=>) against a lag window "
    "— the exact three-valued-logic behaviors a migrating user must be "
    "able to rely on, pinned by the cross-engine hash.",
)
def q_null_semantics_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "value", "ts", "event_id"
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    with_lag = ev.withColumn(
        "rep",
        F.when(F.col("value").eqNullSafe(F.lag("value").over(w)), 1).otherwise(0),
    )
    return with_lag.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count("value").cast("long").alias("n_value_present"),
        F.sum(F.when(F.col("value").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_value_null"),
        F.countDistinct("value").cast("long").alias("n_distinct_nonnull"),
        F.sum(
            F.when(
                F.nullif(F.col("value"), F.lit(0.0)).isNull()
                & F.col("value").isNotNull(),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_exact_zero"),
        F.round(F.sum(F.coalesce(F.col("value"), F.lit(0.0)).cast("decimal(18,6)")), 2)
        .cast("double")
        .alias("total_null_as_zero"),
        F.sum("rep").cast("long").alias("n_nullsafe_repeats"),
    )


@register(
    "events_calendar_profile",
    oracle="""
SELECT CAST((epoch_us(ts) // 86400000000 + 4) % 7 AS BIGINT) AS dow,
       CAST((epoch_us(ts) % 86400000000) // 3600000000 AS BIGINT) AS hour_of_day,
       count(*) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY 1, 2
""",
    description="Calendar/seasonality profile (events per day-of-week x "
    "hour-of-day): the time dimensions are PURE integer epoch arithmetic "
    "— (epoch_days + 4) % 7 anchors Monday=4-free portable weekday "
    "numbering on 1970-01-01=Thursday — because engine calendar functions "
    "disagree on week conventions (Spark dayofweek is 1=Sunday, DuckDB "
    "dow is 0=Sunday); epoch math is convention-free and identical "
    "everywhere, the safe pattern for cross-engine time bucketing.",
)
def q_events_calendar_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    us_day = 86_400_000_000
    us_hour = 3_600_000_000
    ev = load_table(spark, sf_dir, "events").select(
        F.unix_micros("ts").alias("tus"), "user_id"
    )
    return (
        ev.groupBy(
            (((F.col("tus") / us_day).cast("long") + 4) % 7).alias("dow"),
            ((F.col("tus") % us_day) / us_hour).cast("long").alias("hour_of_day"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
    )


# opens each user's state (latest event_type): the rows follow, then the
# cut ``WHERE rn = 1``
_USER_STATE_RANK_SQL = """\
  SELECT user_id, event_type AS state FROM (
    SELECT user_id, event_type,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn"""


@register(
    "snapshot_diff_user_state",
    oracle=f"""
WITH t1 AS (
{_USER_STATE_RANK_SQL}
    FROM events WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
  ) WHERE rn = 1
),
t2 AS (
{_USER_STATE_RANK_SQL}
    FROM events
  ) WHERE rn = 1
)
SELECT coalesce(t1.user_id, t2.user_id) AS user_id,
       t1.state AS state_before, t2.state AS state_after,
       CASE WHEN t1.user_id IS NULL THEN 'added'
            WHEN t2.user_id IS NULL THEN 'removed'
            WHEN t1.state = t2.state THEN 'unchanged'
            ELSE 'changed' END AS diff
FROM t1 FULL OUTER JOIN t2 ON t1.user_id = t2.user_id
""",
    description="Snapshot diff (the CDC/table-versioning primitive): each "
    "user's latest state at two cutoffs via max_by argmax, FULL OUTER "
    "joined to classify added/removed/changed/unchanged — how a pipeline "
    "audits what a backfill or incremental load actually changed. Two "
    "partial-aggregated scans (the cutoff filter pushes down) and one "
    "shuffle join on the key.",
)
def q_snapshot_diff_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", F.unix_micros("ts").alias("tus"), "event_id"
    )

    def latest(df):
        return df.groupBy("user_id").agg(
            F.max_by("event_type", F.struct("tus", "event_id")).alias("state")
        )

    t1 = latest(
        ev.filter(F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp"))
    ).select(F.col("user_id").alias("u1"), F.col("state").alias("state_before"))
    t2 = latest(ev).select(
        F.col("user_id").alias("u2"), F.col("state").alias("state_after")
    )
    j = t1.join(t2, t1.u1 == t2.u2, "full_outer")
    diff = (
        F.when(F.col("u1").isNull(), "added")
        .when(F.col("u2").isNull(), "removed")
        .when(F.col("state_before") == F.col("state_after"), "unchanged")
        .otherwise("changed")
    )
    return j.select(
        F.coalesce("u1", "u2").alias("user_id"),
        "state_before",
        "state_after",
        diff.alias("diff"),
    )


@register(
    "value_moments_by_type",
    oracle="""
WITH s AS (
  SELECT event_type,
         count(*) AS n,
         sum(CAST(value AS DECIMAL(18,6))) AS s1,
         sum(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) AS s2
  FROM events WHERE value IS NOT NULL
  GROUP BY event_type
)
SELECT event_type, CAST(n AS BIGINT) AS n,
       round(CAST(s1 AS DOUBLE) / n, 6) AS mean,
       round((CAST(s2 AS DOUBLE) * n - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
             / (CAST(n AS DOUBLE) * n), 6) AS var_pop,
       round(sqrt((CAST(s2 AS DOUBLE) * n
                   - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                  / (CAST(n AS DOUBLE) * n)), 6) AS stddev_pop
FROM s
""",
    description="Moment statistics with exact power sums: population "
    "variance/stddev per event_type computed from DECIMAL Σx and Σx² — "
    "the power sums aggregate exactly (order- and partitioning-"
    "independent, unlike naive double accumulation or Welford across "
    "partition boundaries), and only the final closed-form combination "
    "touches floating point. The same two-pass-free shape Spark's own "
    "var_pop uses, made bit-portable across engines.",
)
def q_value_moments_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = F.col("value").cast("decimal(18,6)")
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", v.alias("v"))
    )
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("s1"),
        F.sum(F.col("v") * F.col("v")).alias("s2"),
    )
    n_d = F.col("n").cast("double")
    s1_d = F.col("s1").cast("double")
    s2_d = F.col("s2").cast("double")
    var_pop = (s2_d * F.col("n") - s1_d * s1_d) / (n_d * F.col("n"))
    return s.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.round(s1_d / F.col("n"), 6).alias("mean"),
        F.round(var_pop, 6).alias("var_pop"),
        F.round(F.sqrt(var_pop), 6).alias("stddev_pop"),
    )


@register(
    "events_hourly_ohlc",
    oracle="""
WITH v AS (
  SELECT epoch_us(ts) // 3600000000 AS hour, value, epoch_us(ts) AS tus, event_id
  FROM events WHERE value IS NOT NULL
),
ranked AS (
  SELECT hour, value,
         row_number() OVER (PARTITION BY hour ORDER BY tus, event_id) AS rn_a,
         row_number() OVER (PARTITION BY hour ORDER BY tus DESC, event_id DESC) AS rn_d
  FROM v
)
SELECT hour,
       max(CASE WHEN rn_a = 1 THEN value END) AS open,
       round(max(value), 6) AS high,
       round(min(value), 6) AS low,
       max(CASE WHEN rn_d = 1 THEN value END) AS close,
       CAST(count(*) AS BIGINT) AS volume
FROM ranked
GROUP BY hour
""",
    description="OHLC bars (the time-series downsampling primitive for "
    "dashboards and feature windows): per-hour open/high/low/close/volume "
    "— open and close are deterministic first/last by (ts, event_id) via "
    "one ascending and one descending row_number over the SAME hour "
    "partitioning (Catalyst evaluates both in a single sort), then a "
    "grouped aggregation; one shuffle on the hour key, raw values pass "
    "through untouched so no float arithmetic at all.",
)
def q_events_hourly_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    us_hour = 3_600_000_000
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            (F.unix_micros("ts") / us_hour).cast("long").alias("hour"),
            "value",
            F.unix_micros("ts").alias("tus"),
            "event_id",
        )
    )
    wa = Window.partitionBy("hour").orderBy("tus", "event_id")
    wd = Window.partitionBy("hour").orderBy(
        F.col("tus").desc(), F.col("event_id").desc()
    )
    ranked = ev.select(
        "hour",
        "value",
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wd).alias("rn_d"),
    )
    return ranked.groupBy("hour").agg(
        F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
        F.round(F.max("value"), 6).alias("high"),
        F.round(F.min("value"), 6).alias("low"),
        F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
        F.count(F.lit(1)).cast("long").alias("volume"),
    )


# --------------------------------------------------------------------------
# Z-order data layout (multi-dimensional clustering for file skipping)
# --------------------------------------------------------------------------

_Z_BITS = 16  # bits kept per dimension; z-value is 2*_Z_BITS wide
_Z_FILE_SHIFT = 2 * _Z_BITS - 6  # top 6 z-bits -> 64 file buckets


def _interleave_sql(dialect: str, a: str = "a", b: str = "b") -> str:
    """Bit-interleave two _Z_BITS-wide ints into one z-value; generated
    term-by-term so the Spark and DuckDB expressions are structurally
    identical (disjoint bits, so + == |)."""
    terms = []
    for i in range(_Z_BITS):
        if dialect == "duckdb":
            terms.append(f"((({a} >> {i}) & 1) << {2 * i + 1})")
            terms.append(f"((({b} >> {i}) & 1) << {2 * i})")
        else:
            terms.append(f"shiftleft(shiftright({a}, {i}) & 1, {2 * i + 1})")
            terms.append(f"shiftleft(shiftright({b}, {i}) & 1, {2 * i})")
    return " + ".join(terms)


@register(
    "zorder_file_layout",
    oracle=f"""
WITH bounds AS (
  SELECT min(user_id) AS ulo, max(user_id) AS uhi,
         min(epoch_us(ts) // 1000000) AS tlo,
         max(epoch_us(ts) // 1000000) AS thi
  FROM events
),
dims AS (
  SELECT ((user_id - ulo) * {(1 << _Z_BITS) - 1}) // greatest(uhi - ulo, 1) AS a,
         (((epoch_us(ts) // 1000000) - tlo) * {(1 << _Z_BITS) - 1})
           // greatest(thi - tlo, 1) AS b
  FROM events, bounds
),
zz AS (SELECT a, b, {_interleave_sql("duckdb")} AS zval FROM dims)
SELECT zval >> {_Z_FILE_SHIFT} AS file_id, count(*) AS n_rows,
       min(a) AS user_lo, max(a) AS user_hi,
       min(b) AS sec_lo, max(b) AS sec_hi
FROM zz GROUP BY zval >> {_Z_FILE_SHIFT}
""",
    description="Z-order data layout (what Delta/Iceberg OPTIMIZE ZORDER "
    "does): range-normalize two predicate columns (user_id, second-of-"
    "epoch) to a 16-bit grid, interleave their bits into one z-value and "
    "derive the target file from its top bits. Needs NO global sort — the "
    "bounds row broadcasts and every row computes its file id map-side "
    "(vs ntile's single-partition window), so layout is a plain shuffle-"
    "by-file-id write at any scale. The per-file min/max output IS the "
    "point: each file covers a small rectangle in (user, time) space, so "
    "a reader's footer-stats pruning skips files for predicates on EITHER "
    "column — the 100 TB scan-avoidance story. In production follow with "
    "df.repartition('file_id').sortWithinPartitions('zval').write.",
)
def q_zorder_file_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    mask = (1 << _Z_BITS) - 1
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.expr("unix_micros(ts) div 1000000").alias("sec")
    )
    bounds = ev.agg(
        F.min("user_id").alias("ulo"),
        F.max("user_id").alias("uhi"),
        F.min("sec").alias("tlo"),
        F.max("sec").alias("thi"),
    )
    dims = ev.crossJoin(F.broadcast(bounds)).select(
        F.expr(f"((user_id - ulo) * {mask}) div greatest(uhi - ulo, 1)")
        .alias("a"),
        F.expr(f"((sec - tlo) * {mask}) div greatest(thi - tlo, 1)")
        .alias("b"),
    )
    zz = dims.withColumn("zval", F.expr(_interleave_sql("spark")))
    return (
        zz.groupBy(
            F.shiftright("zval", _Z_FILE_SHIFT).alias("file_id")
        ).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("a").alias("user_lo"),
            F.max("a").alias("user_hi"),
            F.min("b").alias("sec_lo"),
            F.max("b").alias("sec_hi"),
        )
    )


# --------------------------------------------------------------------------
# Approximate query processing: deterministic-sample estimates vs exact
# --------------------------------------------------------------------------

_AQP_NIBBLE = 2  # sample rate = 2/16 = 1/8, scale-up factor 8


@register(
    "sampled_count_estimate",
    oracle=f"""
WITH s AS (
  SELECT event_type FROM events
  WHERE strpos('0123456789abcdef',
               substr(md5('aqp|' || CAST(event_id AS VARCHAR)), 1, 1)) - 1
        < {_AQP_NIBBLE}
),
est AS (
  SELECT event_type, count(*) * {16 // _AQP_NIBBLE} AS est_n
  FROM s GROUP BY event_type
),
ex AS (SELECT event_type, count(*) AS exact_n FROM events GROUP BY event_type)
SELECT ex.event_type, ex.exact_n, coalesce(est.est_n, 0) AS est_n,
       round(CAST(abs(coalesce(est.est_n, 0) - ex.exact_n) AS DOUBLE)
             / ex.exact_n, 6) AS rel_err
FROM ex LEFT JOIN est USING (event_type)
""",
    description="Approximate query processing: group counts estimated from "
    f"a deterministic 1/{16 // _AQP_NIBBLE} hash-sample (md5 nibble of the "
    "row key — reproducible across engines, runs and partitionings, unlike "
    "TABLESAMPLE) scaled by the inverse rate, reported next to the exact "
    "counts with relative error. The pattern for interactive dashboards "
    "over 100 TB: the sample predicate is map-side and combines with "
    "partition pruning, so estimate cost is rate-proportional; the exact "
    "twin here exists only to grade the estimator.",
)
def q_sampled_count_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    nib = F.expr(
        "instr('0123456789abcdef', "
        "substr(md5(concat('aqp|', CAST(event_id AS STRING))), 1, 1)) - 1"
    )
    est = (
        ev.filter(nib < _AQP_NIBBLE)
        .groupBy("event_type")
        .agg((F.count(F.lit(1)) * (16 // _AQP_NIBBLE)).alias("est_n"))
    )
    ex = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("exact_n"))
    est_n = F.coalesce(F.col("est_n"), F.lit(0).cast("long"))
    return ex.join(est, "event_type", "left").select(
        "event_type",
        "exact_n",
        est_n.alias("est_n"),
        F.round(
            F.abs(est_n - F.col("exact_n")).cast("double") / F.col("exact_n"),
            6,
        ).alias("rel_err"),
    )


@register(
    "udtf_event_run_lengths",
    oracle="""
WITH e AS (
  SELECT user_id, event_type, event_id, epoch_us(ts) AS tus FROM events
),
g AS (
  SELECT user_id, event_type, tus,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY tus, event_id)
       - row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY tus, event_id) AS grp
  FROM e
)
SELECT user_id, event_type,
       count(*) AS run_len,
       CAST(min(tus) AS BIGINT) AS run_start_us
FROM g GROUP BY user_id, event_type, grp
""",
    description="Python UDTF surface (Spark 4 user-defined TABLE "
    "function): run-length encoding of each user's event stream via "
    "`SELECT * FROM rle(TABLE(...) PARTITION BY user_id ORDER BY ...)` — "
    "one UDTF instance per user partition, rows fed in event order, "
    "terminate() flushes the tail run. Graded against the relational "
    "gaps-and-islands formulation (double row_number difference), proving "
    "the sequential scan and the window algebra agree. Parallelism is "
    "per-user — the same axis the DES kernel shards on; completes the "
    "UDF/UDAF/UDTF trio of SURVEY §2.G.",
)
def q_udtf_event_run_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from queue_system_simulator_spark.functions.udtfs import RunLengthEncode

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "event_id",
        F.unix_micros("ts").alias("tus"),
    )
    spark.udtf.register("qss_rle_runs", RunLengthEncode)
    return spark.sql(
        """
        SELECT * FROM qss_rle_runs(
          TABLE(SELECT user_id, event_type, tus, event_id
                FROM {events})
          PARTITION BY user_id ORDER BY (tus, event_id)
        )
        """,
        events=ev,
    )


_DAY_US = 86_400 * 1_000_000


@register(
    "incremental_rollup_merge",
    oracle=f"""
SELECT epoch_us(ts) // {_DAY_US} AS day, event_type,
       count(*) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_centi
FROM events
GROUP BY 1, 2
""",
    description="Incremental ETL: the daily rollup is maintained by "
    "MERGING a stored base aggregate (events before the 80% time cutoff — "
    "standing in for yesterday's materialized table) with a delta "
    "aggregate over only the new slice, then re-reducing on the group "
    "keys. The oracle is the FULL recompute, so the hash proves the "
    "merge is lossless — the mergeable-partial-aggregate property "
    "(count/sum here; sketches for distinct) that lets a 100 TB pipeline "
    "touch only the new partition each day instead of rescanning history. "
    "Integer centi-money keeps partials exact under any merge order.",
)
def q_incremental_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        F.unix_micros("ts").alias("tus"),
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("centi"),
    )
    bounds = ev.agg(F.min("tus").alias("lo"), F.max("tus").alias("hi"))
    cut = ev.crossJoin(F.broadcast(bounds)).withColumn(
        "is_delta",
        F.col("tus") >= F.col("lo") + ((F.col("hi") - F.col("lo")) * 4) / 5,
    )

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.expr(f"tus div {_DAY_US}").alias("day"), "event_type"
        ).agg(
            F.count(F.lit(1)).alias("n"), F.sum("centi").alias("sum_centi")
        )

    base = rollup(cut.filter(~F.col("is_delta")))  # the "stored" table
    delta = rollup(cut.filter(F.col("is_delta")))  # only the new slice
    return (
        base.unionByName(delta)
        .groupBy("day", "event_type")
        .agg(
            F.sum("n").alias("n"), F.sum("sum_centi").alias("sum_centi")
        )
    )


@register(
    "map_functions_showcase",
    oracle="""
SELECT user_id, event_type,
       count(*) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_centi
FROM events
GROUP BY user_id, event_type
HAVING count(*) >= 2
""",
    description="MapType higher-order surface (§2.G, the map sibling of "
    "array_functions_showcase): per-user maps built with map_from_entries "
    "over collected (event_type, agg) structs, fused with map_zip_with, "
    "pruned with map_filter, and exploded back to rows — all JVM-side "
    "lambda expressions, zero Python. The oracle states the same "
    "semantics relationally (grouped HAVING), proving the map algebra "
    "reduces to the plain aggregation it should. Maps stay per-user "
    "sized (bounded by the event-type domain), never corpus-wide.",
)
def q_map_functions_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    per = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("centi"),
        )
    )
    maps = per.groupBy("user_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "n"))
        ).alias("m_n"),
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "centi"))
        ).alias("m_c"),
    )
    fused = maps.select(
        "user_id",
        F.map_filter(
            F.map_zip_with(
                "m_n",
                "m_c",
                lambda _k, n, c: F.struct(n.alias("n"), c.alias("c")),
            ),
            lambda _k, v: v["n"] >= 2,
        ).alias("m"),
    )
    return fused.select(
        "user_id", F.explode("m").alias("event_type", "v")
    ).select(
        "user_id",
        "event_type",
        F.col("v.n").alias("n"),
        F.col("v.c").alias("sum_centi"),
    )


@register(
    "seasonal_naive_forecast_eval",
    oracle=f"""
WITH e AS (
  SELECT event_type, epoch_us(ts) AS tus,
         (epoch_us(ts) // {_HOUR_US}) % 24 AS hod,
         CAST(round(value * 100) AS BIGINT) AS centi
  FROM events
),
b AS (SELECT min(tus) AS lo, max(tus) AS hi FROM e),
s AS (
  SELECT e.*, e.tus >= b.lo + ((b.hi - b.lo) * 4) // 5 AS is_test
  FROM e, b
),
model AS (
  -- sign-robust floor division (Spark div truncates, // floors; strip a
  -- non-negative remainder first so both engines agree for ANY value sign)
  SELECT event_type, hod,
         CAST((sum(centi) - ((sum(centi) % count(*) + count(*)) % count(*)))
              // count(*) AS BIGINT) AS pred_centi
  FROM s WHERE NOT is_test GROUP BY event_type, hod
)
SELECT t.event_type,
       count(*) AS n_test,
       CAST(sum(abs(t.centi - m.pred_centi)) AS BIGINT) AS sum_abs_err_centi,
       round(CAST(sum(abs(t.centi - m.pred_centi)) AS DOUBLE)
             / count(*), 6) AS mae_centi
FROM s t JOIN model m ON t.event_type = m.event_type AND t.hod = m.hod
WHERE t.is_test
GROUP BY t.event_type
""",
    description="Forecasting baseline with holdout evaluation: a "
    "seasonal-naive model (per event_type x hour-of-day mean over the "
    "first 80% of the time range, floor-integer centi-units so the model "
    "is engine- and partitioning-exact) scores the held-out 20%, "
    "reporting per-type MAE — the train/predict/evaluate pipeline shape "
    "for capacity planning over the event log. The model is a tiny "
    "broadcastable table (types x 24); scoring is a map-side join, so "
    "evaluation cost is one pass over the test slice at any scale.",
)
def q_seasonal_naive_forecast_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.unix_micros("ts").alias("tus"),
        (F.expr(f"unix_micros(ts) div {_HOUR_US}") % 24).alias("hod"),
        F.round(F.col("value") * 100).cast("long").alias("centi"),
    )
    b = e.agg(F.min("tus").alias("lo"), F.max("tus").alias("hi"))
    s = e.crossJoin(F.broadcast(b)).withColumn(
        "is_test",
        F.col("tus")
        >= F.col("lo") + F.expr("((hi - lo) * 4) div 5"),
    )
    model = (
        s.filter(~F.col("is_test"))
        .groupBy("event_type", "hod")
        .agg(
            F.expr(
                "(sum(centi) - ((sum(centi) % count(1) + count(1)) "
                "% count(1))) div count(1)"
            ).alias("pred_centi")
        )
    )
    test = s.filter(F.col("is_test"))
    err = F.abs(F.col("centi") - F.col("pred_centi"))
    return (
        test.join(F.broadcast(model), ["event_type", "hod"])
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum(err).alias("sum_abs_err_centi"),
            F.round(
                F.sum(err).cast("double") / F.count(F.lit(1)), 6
            ).alias("mae_centi"),
        )
    )


# ---------------------------------------------------------------------------
# Portable sketches: HyperLogLog and Count-Min built from md5-derived
# integers so BOTH engines compute bit-identical registers/counters —
# unlike the built-in hll_sketch_agg (engine-specific binary, pytest-only
# in tests/test_sketches.py), these make the sketch family HASH-GRADEABLE.
# ---------------------------------------------------------------------------

HLL_P = 6  # 2^6 = 64 registers
HLL_M = 1 << HLL_P
_HLL_HEX = 12  # 48-bit hash: 6 bucket bits + 42 rho bits
_HLL_W = _HLL_HEX * 4 - HLL_P


def _hll_rho_case(v: str) -> str:
    """Leading-zero rank of a 42-bit field as a CASE ladder — exact
    integer comparisons, no log2/float, so Spark and DuckDB agree on
    every input including v = 0 (rho = W + 1)."""
    branches = " ".join(
        f"WHEN {v} >= {1 << (_HLL_W - k)} THEN {k}"
        for k in range(1, _HLL_W + 1)
    )
    return f"CASE {branches} ELSE {_HLL_W + 1} END"


def _hll_lc_case(vz: str) -> str:
    """Linear-counting table m*ln(m/V) for V in 1..m as literal doubles —
    both engines read the SAME decimal literals, so the small-range
    correction never depends on either engine's libm ln()."""
    import math

    branches = " ".join(
        f"WHEN {v} THEN CAST({repr(HLL_M * math.log(HLL_M / v))} AS DOUBLE)"
        for v in range(1, HLL_M + 1)
    )
    return f"CASE {vz} {branches} END"


#: alpha_m * m^2 for m = 64 (Flajolet et al. 2007): identical literal
#: arithmetic on both sides -> identical double.  Explicit DOUBLE casts —
#: bare decimal literals are DECIMAL in Spark SQL (and would truncate).
_HLL_ALPHA_M2 = (
    f"CAST(0.7213 AS DOUBLE) / (1 + CAST(1.079 AS DOUBLE) / {HLL_M})"
    f" * {HLL_M * HLL_M}"
)
# each event type's HLL registers over the hashes ``h``: the max rank
# per bucket
_HLL_REGISTERS_SQL = f"""\
  SELECT event_type, hv % {HLL_M} AS bucket,
         max({_hll_rho_case(f"hv >> {HLL_P}")}) AS r
  FROM h GROUP BY event_type, hv % {HLL_M}"""


@register(
    "hll_distinct_users",
    oracle=f"""
WITH h AS (
  SELECT event_type,
         CAST('0x' || substr(md5('hll|' || CAST(user_id AS VARCHAR)), 1, {_HLL_HEX}) AS BIGINT) AS hv
  FROM events
),
reg AS (
{_HLL_REGISTERS_SQL}
),
agg AS (
  SELECT event_type,
         count(*) AS n_used,
         sum(CAST(1 AS DOUBLE) / (1::BIGINT << r)) + ({HLL_M} - count(*)) AS s
  FROM reg GROUP BY event_type
),
ex AS (
  SELECT event_type, count(DISTINCT user_id) AS exact_distinct
  FROM events GROUP BY event_type
)
SELECT a.event_type,
       CAST(a.n_used AS BIGINT) AS n_used_buckets,
       round(CASE WHEN {HLL_M} - a.n_used > 0
                   AND {_HLL_ALPHA_M2} / a.s < 2.5 * {HLL_M}
             THEN {_hll_lc_case(f"{HLL_M} - a.n_used")}
             ELSE {_HLL_ALPHA_M2} / a.s END, 4) AS hll_estimate,
       CAST(e.exact_distinct AS BIGINT) AS exact_distinct
FROM agg a JOIN ex e USING (event_type)
""",
    description="Portable HyperLogLog (p=6, 64 registers): md5-derived "
    "48-bit hash split into bucket + rho (leading-zero rank via an exact "
    "integer CASE ladder), register max per (group, bucket), harmonic "
    "estimate with the standard small-range linear-counting correction "
    "read from a literal lookup table — every step integer- or "
    "dyadic-exact, so Spark and the DuckDB oracle produce bit-identical "
    "estimates (the built-in hll_sketch_agg is engine-specific and only "
    "pytest-checkable). The 100 TB pattern: the register frame is "
    "m-bounded per group (64 rows) and mergeable by max — partial "
    "aggregation does the heavy lifting map-side, and segment sketches "
    "union by the same max. exact_distinct is computed only to grade the "
    "estimator. Est error at m=64 is ~13% rsd; p is a constant to raise.",
)
def q_hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    hv = F.expr(
        f"CAST(conv(substr(md5(concat('hll|', CAST(user_id AS STRING))), "
        f"1, {_HLL_HEX}), 16, 10) AS BIGINT)"
    )
    base = ev.select(
        "event_type",
        "user_id",
        (hv % HLL_M).alias("bucket"),
        F.expr(
            _hll_rho_case(
                f"(CAST(conv(substr(md5(concat('hll|', CAST(user_id AS "
                f"STRING))), 1, {_HLL_HEX}), 16, 10) AS BIGINT) >> {HLL_P})"
            )
        ).alias("rho"),
    )
    regs = base.groupBy("event_type", "bucket").agg(F.max("rho").alias("r"))
    agg = regs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_used"),
        (
            F.sum(F.expr("CAST(1 AS DOUBLE) / shiftleft(CAST(1 AS BIGINT), r)"))
            + (F.lit(HLL_M) - F.count(F.lit(1)))
        ).alias("s"),
    )
    ex = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    raw = F.expr(f"{_HLL_ALPHA_M2} / s")
    v_empty = F.lit(HLL_M) - F.col("n_used")
    lc = F.expr(_hll_lc_case(f"{HLL_M} - n_used"))
    est = F.when((v_empty > 0) & (raw < 2.5 * HLL_M), lc).otherwise(raw)
    return agg.join(ex, "event_type").select(
        "event_type",
        F.col("n_used").cast("long").alias("n_used_buckets"),
        F.round(est, 4).alias("hll_estimate"),
        F.col("exact_distinct").cast("long").alias("exact_distinct"),
    )


CMS_D = 4  # hash rows
CMS_W = 512  # buckets per row
_CMS_TOPK = 20


@register(
    "cms_heavy_hitters",
    oracle=f"""
WITH counts AS (
  SELECT user_id, count(*) AS n FROM events GROUP BY user_id
),
js AS (SELECT unnest(generate_series(0, {CMS_D - 1})) AS j),
hashed AS (
  SELECT c.user_id, c.n, js.j,
         CAST('0x' || substr(md5(CAST(js.j AS VARCHAR) || '|' || CAST(c.user_id AS VARCHAR)), 1, 12) AS BIGINT) % {CMS_W} AS bucket
  FROM counts c, js
),
counters AS (
  SELECT j, bucket, CAST(sum(n) AS BIGINT) AS c
  FROM hashed GROUP BY j, bucket
),
top AS (
  SELECT user_id, n FROM counts ORDER BY n DESC, user_id LIMIT {_CMS_TOPK}
),
est AS (
  SELECT h.user_id, min(ct.c) AS cms_n
  FROM hashed h JOIN counters ct USING (j, bucket)
  WHERE h.user_id IN (SELECT user_id FROM top)
  GROUP BY h.user_id
)
SELECT t.user_id, CAST(t.n AS BIGINT) AS exact_n,
       CAST(e.cms_n AS BIGINT) AS cms_n,
       CAST(e.cms_n - t.n AS BIGINT) AS overcount
FROM top t JOIN est e USING (user_id)
""",
    description="Portable Count-Min sketch (d=4 x w=512, md5 row hashes): "
    "per-key event counts folded into d*w integer counters (one tiny "
    "groupBy), heavy-hitter candidates probed as min over their d "
    "counters — the classic one-sided estimate (cms_n >= exact_n, "
    "overcount = collision mass). Integer-exact end to end, so the "
    "sketch itself is hash-graded against DuckDB. At 100 TB the counter "
    "frame is a constant 2048 rows — broadcastable state that turns "
    "frequency estimation into a map-side probe; candidates here are the "
    "exact top-20 (graded deterministically by count desc, user_id) but "
    "any stream of keys probes the same counters without rescanning "
    "events.",
)
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id")
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    js = F.explode(F.sequence(F.lit(0), F.lit(CMS_D - 1))).alias("j")
    bucket = F.expr(
        "CAST(conv(substr(md5(concat(CAST(j AS STRING), '|', "
        f"CAST(user_id AS STRING))), 1, 12), 16, 10) AS BIGINT) % {CMS_W}"
    )
    hashed = counts.select("user_id", "n", js).withColumn("bucket", bucket)
    counters = hashed.groupBy("j", "bucket").agg(F.sum("n").alias("c"))
    top = counts.orderBy(F.desc("n"), "user_id").limit(_CMS_TOPK)
    est = (
        hashed.join(F.broadcast(top.select("user_id")), "user_id")
        .join(F.broadcast(counters), ["j", "bucket"])
        .groupBy("user_id")
        .agg(F.min("c").alias("cms_n"))
    )
    return top.join(est, "user_id").select(
        "user_id",
        F.col("n").cast("long").alias("exact_n"),
        F.col("cms_n").cast("long").alias("cms_n"),
        (F.col("cms_n") - F.col("n")).cast("long").alias("overcount"),
    )


@register(
    "k_anon_generalize",
    oracle="""
WITH ev AS (
  SELECT event_type,
         CAST((epoch_us(ts) // 3600000000) % 24 AS BIGINT) AS hod
  FROM events
),
kk AS (
  SELECT CAST(greatest(5, count(*) // 200) AS BIGINT) AS k FROM ev
),
c0 AS (
  SELECT event_type, hod AS bucket, CAST(count(*) AS BIGINT) AS n
  FROM ev GROUP BY event_type, hod
),
counts AS (
  SELECT 0 AS level, event_type, bucket, n FROM c0
  UNION ALL
  SELECT 1, event_type, bucket // 4, CAST(sum(n) AS BIGINT)
  FROM c0 GROUP BY event_type, bucket // 4
  UNION ALL
  SELECT 2, event_type, bucket // 12, CAST(sum(n) AS BIGINT)
  FROM c0 GROUP BY event_type, bucket // 12
  UNION ALL
  SELECT 3, event_type, -1, CAST(sum(n) AS BIGINT)
  FROM c0 GROUP BY event_type
),
mins AS (
  SELECT level, min(n) AS min_n FROM counts GROUP BY level
),
chosen AS (
  SELECT CAST(coalesce(min(m.level), 3) AS INT) AS lvl
  FROM mins m, kk WHERE m.min_n >= kk.k
)
SELECT CAST(c.level AS INT) AS level, c.event_type, c.bucket, c.n, kk.k
FROM counts c, chosen, kk
WHERE c.level = chosen.lvl
""",
    description="k-anonymity generalization (Mondrian-lite lattice climb): "
    "quasi-identifier (event_type, hour-of-day) coarsened through fixed "
    "levels (hour -> 4-hour -> am/pm -> type-only) until EVERY group "
    "reaches k = max(5, rows/200); emits the groups at the minimal "
    "satisfying level plus k. One scan builds the finest histogram; every "
    "coarser level re-aggregates that tiny frame, the level choice is a "
    "broadcast one-row frame (no driver scalars), so at 100 TB the cost "
    "is a single partial-agg pass over events. The privacy-audit surface "
    "for training-data release: no quasi-identifier combination rarer "
    "than k leaves the engine.",
)
def q_k_anon_generalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("(unix_micros(ts) div 3600000000) % 24").alias("hod"),
    )
    kk = ev.agg(
        F.expr("CAST(greatest(5, count(1) div 200) AS BIGINT)").alias("k")
    )
    c0 = ev.groupBy("event_type", F.col("hod").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n")
    )
    # the finest histogram (<=120 rows) feeds four level branches plus the
    # min/choose path: checkpoint it so the events scan runs once
    c0 = c0.select("event_type", "bucket", "n").localCheckpoint()

    def lift(lvl: int, bucket_expr: str) -> DataFrame:
        return (
            c0.groupBy("event_type", F.expr(bucket_expr).alias("bucket"))
            .agg(F.sum("n").alias("n"))
            .select(
                F.lit(lvl).alias("level"),
                "event_type",
                F.col("bucket").cast("long").alias("bucket"),
                F.col("n").cast("long").alias("n"),
            )
        )

    counts = (
        c0.select(
            F.lit(0).alias("level"),
            "event_type",
            F.col("bucket").cast("long").alias("bucket"),
            F.col("n").cast("long").alias("n"),
        )
        .unionAll(lift(1, "bucket div 4"))
        .unionAll(lift(2, "bucket div 12"))
        .unionAll(lift(3, "-1"))
    )
    mins = counts.groupBy("level").agg(F.min("n").alias("min_n"))
    chosen = (
        mins.crossJoin(F.broadcast(kk))
        .filter(F.col("min_n") >= F.col("k"))
        .agg(F.coalesce(F.min("level"), F.lit(3)).cast("int").alias("lvl"))
    )
    return (
        counts.join(F.broadcast(chosen), counts["level"] == F.col("lvl"))
        .crossJoin(F.broadcast(kk))
        .select(
            F.col("level").cast("int").alias("level"),
            "event_type",
            "bucket",
            "n",
            "k",
        )
    )


ATTR_WINDOW_US = 30 * 60 * 1_000_000  # 30-minute lookback


@register(
    "attribution_linear_credit",
    oracle=f"""
WITH p AS (
  SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS pt,
         CAST(round(value * 100) AS BIGINT) AS centi
  FROM events WHERE event_type = 'purchase'
),
c AS (
  SELECT event_id AS click_id, user_id, epoch_us(ts) AS ct
  FROM events WHERE event_type = 'click'
),
touch AS (
  SELECT p.purchase_id, p.centi, c.click_id, c.ct,
         count(*) OVER (PARTITION BY p.purchase_id) AS n,
         row_number() OVER (PARTITION BY p.purchase_id
                            ORDER BY c.ct, c.click_id) AS rk
  FROM p JOIN c
    ON p.user_id = c.user_id
   AND c.ct >= p.pt - {ATTR_WINDOW_US} AND c.ct < p.pt
),
credited AS (
  SELECT (ct // 3600000000) % 24 AS hod,
         centi // n + CASE WHEN rk = 1 THEN centi % n ELSE 0 END AS credit
  FROM touch
),
unattr AS (
  SELECT -1 AS hod, centi AS credit
  FROM p WHERE purchase_id NOT IN (SELECT purchase_id FROM touch)
),
allc AS (SELECT * FROM credited UNION ALL SELECT * FROM unattr)
SELECT CAST(hod AS BIGINT) AS hod,
       count(*) AS n_credited,
       CAST(sum(credit) AS BIGINT) AS sum_credit_centi
FROM allc GROUP BY hod
""",
    description="Linear multi-touch attribution with EXACT credit "
    "allocation: each purchase's centi-value splits equally across the "
    "user's clicks in the preceding 30 min — floor division per touch, "
    "remainder to the earliest touch, so credits are integers and sum "
    "exactly to the purchase value (no float drift across engines or "
    "partitionings); purchases with no touch land in the hod=-1 bucket, "
    "making total credit conservation auditable. The touch join is a "
    "per-user range join (user-keyed shuffle, time-pruned), the same "
    "shape as the graded as-of/range joins; at 100 TB bucketing both "
    "sides by user_id removes even that shuffle.",
)
def q_attribution_linear_credit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.unix_micros("ts").alias("pt"),
        F.round(F.col("value") * 100).cast("long").alias("centi"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.unix_micros("ts").alias("ct"),
    )
    touch = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("ct") >= F.col("pt") - ATTR_WINDOW_US)
        & (F.col("ct") < F.col("pt")),
    )
    wn = Window.partitionBy("purchase_id")
    wr = Window.partitionBy("purchase_id").orderBy("ct", "click_id")
    credited = touch.select(
        F.expr("(ct div 3600000000) % 24").alias("hod"),
        F.count(F.lit(1)).over(wn).alias("n"),
        F.row_number().over(wr).alias("rk"),
        "centi",
    ).select(
        "hod",
        (
            F.expr("centi div n")
            + F.when(F.col("rk") == 1, F.expr("centi % n")).otherwise(0)
        ).alias("credit"),
    )
    unattr = p.join(
        touch.select("purchase_id").distinct(), "purchase_id", "left_anti"
    ).select(F.lit(-1).alias("hod"), F.col("centi").alias("credit"))
    allc = credited.unionAll(unattr)
    return allc.groupBy(F.col("hod").cast("long").alias("hod")).agg(
        F.count(F.lit(1)).alias("n_credited"),
        F.sum("credit").cast("long").alias("sum_credit_centi"),
    )


_SKEW_REF_PARTITIONS = 32  # reference partition count for the salt formula


@register(
    "skew_diagnosis_report",
    oracle=f"""
WITH k1 AS (
  SELECT 'events.user_id' AS keyspace, CAST(user_id AS VARCHAR) AS k
  FROM events
),
k2 AS (
  SELECT 'lineitem.l_suppkey' AS keyspace, CAST(l_suppkey AS VARCHAR) AS k
  FROM lineitem
),
keys AS (SELECT * FROM k1 UNION ALL SELECT * FROM k2),
per AS (
  SELECT keyspace, k, count(*) AS n FROM keys GROUP BY keyspace, k
),
ranked AS (
  SELECT keyspace, n,
         row_number() OVER (PARTITION BY keyspace ORDER BY n DESC, k) AS rk,
         CAST(sum(n) OVER (PARTITION BY keyspace) AS BIGINT) AS total,
         CAST(count(*) OVER (PARTITION BY keyspace) AS BIGINT) AS n_keys
  FROM per
)
SELECT keyspace,
       max(total) AS n_rows,
       max(n_keys) AS n_keys,
       CAST(max(CASE WHEN rk = 1 THEN n END) AS BIGINT) AS top1_rows,
       CAST(max(CASE WHEN rk = 1 THEN n END) * 1000000 // max(total) AS BIGINT)
         AS top1_share_ppm,
       CAST(sum(CASE WHEN rk <= 5 THEN n ELSE 0 END) * 1000000 // max(total) AS BIGINT)
         AS top5_share_ppm,
       CAST(greatest(1, least({_SKEW_REF_PARTITIONS},
            (max(CASE WHEN rk = 1 THEN n END) * 1000000 // max(total)
             * {_SKEW_REF_PARTITIONS} * 2 + 999999) // 1000000)) AS BIGINT)
         AS recommended_salt
FROM ranked
GROUP BY keyspace
""",
    description="Skew diagnosis report — the front-end to the salted-join "
    "pattern (skew_salted_user_totals, operators/skew.py): per key "
    "domain, row/key counts, top-1/top-5 key shares in integer ppm (no "
    "float drift), and a recommended salt factor 2x the top key's "
    f"expected share of {_SKEW_REF_PARTITIONS} reference partitions, "
    "clamped to [1, partitions]. One partial-agg count per domain plus "
    "windows over the per-key frame; run it before any big keyed join to "
    "decide between plain shuffle, AQE skew split, and explicit salting.",
)
def q_skew_diagnosis_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        F.lit("events.user_id").alias("keyspace"),
        F.col("user_id").cast("string").alias("k"),
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.lit("lineitem.l_suppkey").alias("keyspace"),
        F.col("l_suppkey").cast("string").alias("k"),
    )
    per = (
        ev.unionAll(li)
        .groupBy("keyspace", "k")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wp = Window.partitionBy("keyspace")
    ranked = per.select(
        "keyspace",
        "n",
        F.row_number()
        .over(wp.orderBy(F.desc("n"), "k"))
        .alias("rk"),
        F.sum("n").over(wp).cast("long").alias("total"),
        F.count(F.lit(1)).over(wp).cast("long").alias("n_keys"),
    )
    top1 = F.max(F.when(F.col("rk") == 1, F.col("n"))).cast("long")
    top1_ppm = F.expr(
        "max(CASE WHEN rk = 1 THEN n END) * 1000000 div max(total)"
    )
    top5_ppm = F.expr(
        "sum(CASE WHEN rk <= 5 THEN n ELSE 0 END) * 1000000 div max(total)"
    )
    salt = F.expr(
        f"greatest(1, least({_SKEW_REF_PARTITIONS}, "
        f"(max(CASE WHEN rk = 1 THEN n END) * 1000000 div max(total) "
        f"* {_SKEW_REF_PARTITIONS} * 2 + 999999) div 1000000))"
    )
    return ranked.groupBy("keyspace").agg(
        F.max("total").alias("n_rows"),
        F.max("n_keys").alias("n_keys"),
        top1.alias("top1_rows"),
        top1_ppm.cast("long").alias("top1_share_ppm"),
        top5_ppm.cast("long").alias("top5_share_ppm"),
        salt.cast("long").alias("recommended_salt"),
    )


@register(
    "pseudonymize_join_audit",
    oracle="""
WITH ev AS (
  SELECT user_id, md5('pseud|' || CAST(user_id AS VARCHAR)) AS pid
  FROM events
),
raw AS (
  SELECT e.user_id, count(*) AS n_events,
         count(c.c_custkey) AS n_matched
  FROM ev e LEFT JOIN customer c ON e.user_id = c.c_custkey
  GROUP BY e.user_id
),
pseud AS (
  SELECT e.pid, count(*) AS n_events,
         count(c.pid) AS n_matched
  FROM ev e LEFT JOIN (
    SELECT md5('pseud|' || CAST(c_custkey AS VARCHAR)) AS pid FROM customer
  ) c USING (pid)
  GROUP BY e.pid
)
SELECT r.user_id IS NOT NULL AS has_raw,
       count(*) AS n_keys,
       CAST(sum(CASE WHEN r.n_events = p.n_events
                      AND r.n_matched = p.n_matched
                THEN 1 ELSE 0 END) AS BIGINT) AS n_consistent
FROM raw r
JOIN pseud p ON p.pid = md5('pseud|' || CAST(r.user_id AS VARCHAR))
GROUP BY 1
""",
    description="Pseudonymization audit: user ids replaced by keyed md5 "
    "pseudonyms on BOTH sides of the events-customer relationship, then "
    "per-key event counts and join-match counts compared raw-vs-pseudonym "
    "— n_consistent == n_keys proves the de-identified release preserves "
    "referential integrity and join cardinality exactly (the property a "
    "privacy-preserving data share must certify). Map-side hashing on "
    "each table, two keyed aggregations; at 100 TB the pseudonym is "
    "computed in the select before any shuffle, so the audit costs the "
    "same as the joins it certifies.",
)
def q_pseudonymize_join_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    pid = lambda c: F.md5(F.concat(F.lit("pseud|"), F.col(c).cast("string")))  # noqa: E731
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", pid("user_id").alias("pid")
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", pid("c_custkey").alias("pid")
    )
    raw = (
        ev.join(
            F.broadcast(cust.select("c_custkey")),
            ev["user_id"] == F.col("c_custkey"),
            "left",
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("c_custkey").alias("n_matched"),
        )
    )
    # event + matched counts on the pseudonym side
    pseud_m = (
        ev.join(
            F.broadcast(cust.select("pid").withColumn("hit", F.lit(1))),
            "pid",
            "left",
        )
        .groupBy("pid")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("hit").alias("n_matched"),
        )
    )
    joined = raw.join(
        pseud_m.withColumnRenamed("n_events", "p_events").withColumnRenamed(
            "n_matched", "p_matched"
        ),
        pid("user_id") == F.col("pid"),
    )
    consistent = (F.col("n_events") == F.col("p_events")) & (
        F.col("n_matched") == F.col("p_matched")
    )
    return joined.groupBy(
        F.col("user_id").isNotNull().alias("has_raw")
    ).agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum(consistent.cast("int")).cast("long").alias("n_consistent"),
    )


@register(
    "hll_incremental_merge",
    oracle=f"""
WITH h AS (
  SELECT event_type, event_id % 10 = 0 AS is_delta,
         CAST('0x' || substr(md5('hll|' || CAST(user_id AS VARCHAR)), 1, {_HLL_HEX}) AS BIGINT) AS hv
  FROM events
),
reg_part AS (
  SELECT event_type, is_delta, hv % {HLL_M} AS bucket,
         max({_hll_rho_case(f"hv >> {HLL_P}")}) AS r
  FROM h GROUP BY event_type, is_delta, hv % {HLL_M}
),
merged AS (
  SELECT event_type, bucket, max(r) AS r
  FROM reg_part GROUP BY event_type, bucket
),
full_reg AS (
{_HLL_REGISTERS_SQL}
),
est AS (
  SELECT m.event_type,
         round({_HLL_ALPHA_M2} /
           (sum(CAST(1 AS DOUBLE) / (1::BIGINT << m.r)) + ({HLL_M} - count(*))), 4)
           AS merged_raw
  FROM merged m GROUP BY m.event_type
),
est_full AS (
  SELECT f.event_type,
         round({_HLL_ALPHA_M2} /
           (sum(CAST(1 AS DOUBLE) / (1::BIGINT << f.r)) + ({HLL_M} - count(*))), 4)
           AS full_raw
  FROM full_reg f GROUP BY f.event_type
)
SELECT e.event_type, e.merged_raw, ef.full_raw,
       (e.merged_raw = ef.full_raw) AS merge_exact
FROM est e JOIN est_full ef USING (event_type)
""",
    description="Incremental view maintenance via sketch mergeability: the "
    "corpus splits into a base (90%) and a delta (10%), per-partition HLL "
    "registers are built independently and max-merged, and the merged "
    "estimate is compared against a from-scratch rebuild — merge_exact "
    "is TRUE for every group because register max is associative and "
    "commutative, the property that lets a 100 TB distinct-count "
    "dashboard absorb a new partition by merging 64 rows instead of "
    "rescanning the corpus (the sketch analog of "
    "incremental_rollup_merge's sum-merge). Raw harmonic estimates on "
    "purpose: the comparison must see identical registers, not identical "
    "corrections.",
)
def q_hll_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        (F.col("event_id") % 10 == 0).alias("is_delta"),
        F.expr(
            f"CAST(conv(substr(md5(concat('hll|', CAST(user_id AS STRING))), "
            f"1, {_HLL_HEX}), 16, 10) AS BIGINT)"
        ).alias("hv"),
    )
    rho = F.expr(_hll_rho_case(f"(hv >> {HLL_P})"))
    base = ev.select(
        "event_type", "is_delta", (F.col("hv") % HLL_M).alias("bucket"),
        rho.alias("rho"),
    )
    reg_part = base.groupBy("event_type", "is_delta", "bucket").agg(
        F.max("rho").alias("r")
    )
    merged = reg_part.groupBy("event_type", "bucket").agg(
        F.max("r").alias("r")
    )
    full_reg = base.groupBy("event_type", "bucket").agg(
        F.max("rho").alias("r")
    )

    def estimate(regs: DataFrame, out: str) -> DataFrame:
        return regs.groupBy("event_type").agg(
            F.round(
                F.expr(f"{_HLL_ALPHA_M2}")
                / (
                    F.sum(
                        F.expr(
                            "CAST(1 AS DOUBLE) / shiftleft(CAST(1 AS BIGINT), r)"
                        )
                    )
                    + (F.lit(HLL_M) - F.count(F.lit(1)))
                ),
                4,
            ).alias(out)
        )

    est = estimate(merged, "merged_raw")
    est_full = estimate(full_reg, "full_raw")
    return est.join(est_full, "event_type").select(
        "event_type",
        "merged_raw",
        "full_raw",
        (F.col("merged_raw") == F.col("full_raw")).alias("merge_exact"),
    )


SLIDE_WIN_US = 3_600_000_000  # 1-hour window
SLIDE_STEP_US = 900_000_000  # 15-minute slide -> 4 windows per event


@register(
    "sliding_distinct_users",
    oracle=f"""
WITH e AS (
  SELECT event_type, user_id, epoch_us(ts) AS tus FROM events
),
w AS (
  SELECT e.event_type, e.user_id,
         (e.tus // {SLIDE_STEP_US} - k.k) * {SLIDE_STEP_US} AS win_start_us
  FROM e, (SELECT unnest(generate_series(0, {SLIDE_WIN_US // SLIDE_STEP_US - 1})) AS k) k
)
SELECT event_type, CAST(win_start_us AS BIGINT) AS win_start_us,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM w GROUP BY event_type, win_start_us
""",
    description="Batch sliding-window DISTINCT users per event type (1 h "
    "window, 15 min slide): each event expands to the 4 epoch-aligned "
    "windows containing it, then one distinct aggregation — the "
    "dashboard 'hourly active users, refreshed every 15 minutes' query. "
    "Spark has no RANGE-frame countDistinct, so the explode-to-windows "
    "formulation IS the scalable shape: fan-out is the constant "
    "window/slide ratio, the shuffle carries (type, window, user) keys, "
    "and partial aggregation dedups map-side. The streaming twin is "
    "streaming_sliding_api_load; swap exact distinct for the portable "
    "HLL registers (hll_distinct_users) when the dashboard tolerates "
    "~2% error and the state must stay constant.",
)
def q_sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    fanout = SLIDE_WIN_US // SLIDE_STEP_US
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "user_id",
        F.unix_micros("ts").alias("tus"),
    )
    w = ev.select(
        "event_type",
        "user_id",
        "tus",
        F.explode(F.sequence(F.lit(0), F.lit(fanout - 1))).alias("k"),
    ).select(
        "event_type",
        "user_id",
        (
            (F.expr(f"tus div {SLIDE_STEP_US}") - F.col("k"))
            * SLIDE_STEP_US
        ).alias("win_start_us"),
    )
    return w.groupBy("event_type", F.col("win_start_us").cast("long").alias("win_start_us")).agg(
        F.countDistinct("user_id").cast("long").alias("n_users")
    )


DECAY_MAX_DAYS = 20  # weights 2^0 .. 2^-20, carried as integer 2^20 units


@register(
    "recency_weighted_value",
    oracle=f"""
WITH mx AS (SELECT max(epoch_us(ts)) AS mts FROM events),
e AS (
  SELECT event_type,
         CAST(round(value * 100) AS BIGINT) AS centi,
         least(CAST((mx.mts - epoch_us(ts)) // 86400000000 AS BIGINT),
               {DECAY_MAX_DAYS}) AS age_d
  FROM events, mx
)
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(centi * (1::BIGINT << CAST({DECAY_MAX_DAYS} - age_d AS INT)))
            AS BIGINT) AS weighted_units,
       round(CAST(sum(centi * (1::BIGINT << CAST({DECAY_MAX_DAYS} - age_d AS INT)))
             AS DOUBLE) / {1 << DECAY_MAX_DAYS} / 100, 6) AS weighted_value
FROM e GROUP BY event_type
""",
    description="Recency-weighted value (exponential half-life decay, "
    "1-day half-life): each event's centi-value is weighted 2^-age_days "
    "relative to the corpus' newest event, capped at "
    f"{DECAY_MAX_DAYS} days. The weight is carried as INTEGER "
    f"2^{DECAY_MAX_DAYS} units (a shift, not a pow), so the aggregation "
    "is exact under any partitioning and engine — the portable way to "
    "run decayed popularity/trending scores at 100 TB where float decay "
    "sums drift with partition order. The max-timestamp anchor flows as "
    "a broadcast one-row frame; map-side partial aggregation does the "
    "rest.",
)
def q_recency_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("centi"),
        F.unix_micros("ts").alias("tus"),
    )
    mx = ev.agg(F.max("tus").alias("mts"))
    # shiftleft's numBits must be a column-free int in the Python API;
    # express the variable shift in SQL instead
    units = F.expr(
        f"centi * shiftleft(CAST(1 AS BIGINT), "
        f"CAST({DECAY_MAX_DAYS} - least((mts - tus) div 86400000000, "
        f"{DECAY_MAX_DAYS}) AS INT))"
    )
    return (
        ev.crossJoin(F.broadcast(mx))
        .select("event_type", units.alias("u"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("u").cast("long").alias("weighted_units"),
            F.round(
                F.sum("u").cast("double") / (1 << DECAY_MAX_DAYS) / 100, 6
            ).alias("weighted_value"),
        )
    )


@register(
    "user_burstiness",
    oracle="""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS tus, event_id FROM events
),
g AS (
  SELECT user_id,
         (tus - lag(tus) OVER (PARTITION BY user_id
                               ORDER BY tus, event_id)) // 1000000 AS gap_s
  FROM e
),
agg AS (
  SELECT user_id,
         count(gap_s) AS n_gaps,
         CAST(sum(gap_s) AS BIGINT) AS sum_gap_s,
         CAST(sum(gap_s * gap_s) AS BIGINT) AS sum_gap_sq
  FROM g WHERE gap_s IS NOT NULL
  GROUP BY user_id
)
SELECT user_id, CAST(n_gaps AS BIGINT) AS n_gaps, sum_gap_s, sum_gap_sq,
       round(CASE WHEN sum_gap_s > 0 THEN
         sqrt(greatest(CAST(n_gaps AS DOUBLE) * sum_gap_sq
                       - CAST(sum_gap_s AS DOUBLE) * sum_gap_s, 0))
         / sum_gap_s ELSE 0 END, 6) AS gap_cv
FROM agg
""",
    description="Inter-arrival burstiness per user: gaps between "
    "consecutive events floored to integer seconds, aggregated as exact "
    "integer (count, sum, sum-of-squares) — the mergeable moment triple "
    "— with the coefficient of variation derived at the end (CV ~ 1 is "
    "Poisson-like, >> 1 bursty, ~ 0 metronomic scripted traffic, the "
    "classic bot signature). Integer moments make the aggregation exact "
    "under any partitioning; the CV formula is written with identical op "
    "order on both engines. One user-keyed window plus one partial-agg "
    "pass.",
)
def q_user_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("tus"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    g = e.select(
        "user_id",
        F.expr("(tus - lag(tus) OVER (PARTITION BY user_id "
               "ORDER BY tus, event_id)) div 1000000").alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())
    agg = g.groupBy("user_id").agg(
        F.count("gap_s").cast("long").alias("n_gaps"),
        F.sum("gap_s").cast("long").alias("sum_gap_s"),
        F.sum(F.col("gap_s") * F.col("gap_s")).cast("long").alias("sum_gap_sq"),
    )
    cv = F.when(
        F.col("sum_gap_s") > 0,
        F.sqrt(
            F.greatest(
                F.col("n_gaps").cast("double") * F.col("sum_gap_sq")
                - F.col("sum_gap_s").cast("double") * F.col("sum_gap_s"),
                F.lit(0.0),
            )
        )
        / F.col("sum_gap_s"),
    ).otherwise(0.0)
    return agg.select(
        "user_id", "n_gaps", "sum_gap_s", "sum_gap_sq",
        F.round(cv, 6).alias("gap_cv"),
    )


BURN_SHORT_US = 300_000_000  # 5-minute window
BURN_LONG_US = 3_600_000_000  # 1-hour window


@register(
    "slo_burn_rate",
    oracle=f"""
WITH e AS (
  SELECT epoch_us(ts) AS tus,
         CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_err
  FROM events
),
s AS (
  SELECT tus // {BURN_SHORT_US} AS w_short, tus // {BURN_LONG_US} AS w_long,
         is_err
  FROM e
),
short_w AS (
  SELECT w_short, w_short // {BURN_LONG_US // BURN_SHORT_US} AS w_long,
         count(*) AS n, CAST(sum(is_err) AS BIGINT) AS n_err
  FROM s GROUP BY w_short
),
long_w AS (
  SELECT w_long, count(*) AS n, CAST(sum(is_err) AS BIGINT) AS n_err
  FROM s GROUP BY w_long
)
SELECT CAST(sw.w_short * {BURN_SHORT_US} AS BIGINT) AS window_start_us,
       CAST(sw.n AS BIGINT) AS n_short, sw.n_err AS err_short,
       CAST(lw.n AS BIGINT) AS n_long, lw.n_err AS err_long,
       round(CAST(sw.n_err AS DOUBLE) / sw.n, 6) AS rate_short,
       round(CAST(lw.n_err AS DOUBLE) / lw.n, 6) AS rate_long,
       (sw.n_err * lw.n > 2 * lw.n_err * sw.n) AS burn_alert
FROM short_w sw JOIN long_w lw USING (w_long)
""",
    description="SRE-style multi-window SLO burn rate: error fraction per "
    "5-minute window joined to its enclosing 1-hour window; burn_alert "
    "fires when the short-window rate exceeds twice the long-window rate "
    "— the standard fast-burn pager condition — evaluated as an exact "
    "INTEGER cross-multiplication (n_err_s * n_l > 2 * n_err_l * n_s), "
    "no float threshold ambiguity between engines. Epoch-aligned window "
    "ids make the short->long containment a pure integer division, so "
    "the whole query is two partial-agg passes and one tiny join.",
)
def q_slo_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        F.unix_micros("ts").alias("tus"),
        (F.col("event_type") == "error").cast("int").alias("is_err"),
    )
    s = ev.select(
        F.expr(f"tus div {BURN_SHORT_US}").alias("w_short"),
        F.expr(f"tus div {BURN_LONG_US}").alias("w_long"),
        "is_err",
    )
    short_w = s.groupBy("w_short").agg(
        F.first(F.expr(f"w_short div {BURN_LONG_US // BURN_SHORT_US}")).alias(
            "w_long"
        ),
        F.count(F.lit(1)).alias("n_short"),
        F.sum("is_err").cast("long").alias("err_short"),
    )
    long_w = s.groupBy("w_long").agg(
        F.count(F.lit(1)).alias("n_long"),
        F.sum("is_err").cast("long").alias("err_long"),
    )
    return (
        short_w.join(F.broadcast(long_w), "w_long")
        .select(
            (F.col("w_short") * BURN_SHORT_US).cast("long").alias(
                "window_start_us"
            ),
            F.col("n_short").cast("long").alias("n_short"),
            "err_short",
            F.col("n_long").cast("long").alias("n_long"),
            "err_long",
            F.round(
                F.col("err_short").cast("double") / F.col("n_short"), 6
            ).alias("rate_short"),
            F.round(
                F.col("err_long").cast("double") / F.col("n_long"), 6
            ).alias("rate_long"),
            (
                F.col("err_short") * F.col("n_long")
                > 2 * F.col("err_long") * F.col("n_short")
            ).alias("burn_alert"),
        )
    )


@register(
    "ab_test_conversion",
    oracle="""
WITH u AS (
  SELECT user_id, CAST(user_id % 2 AS INT) AS arm,
         max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS saw,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS bought
  FROM events GROUP BY user_id
),
arms AS (
  SELECT arm,
         CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(saw) AS BIGINT) AS n_exposed,
         CAST(sum(CASE WHEN saw = 1 AND bought = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_converted
  FROM u GROUP BY arm
)
SELECT a.arm, a.n_users, a.n_exposed, a.n_converted,
       round(CAST(a.n_converted AS DOUBLE) / a.n_exposed, 6) AS conv_rate,
       (a.n_converted * b.n_exposed > b.n_converted * a.n_exposed)
         AS beats_other_arm
FROM arms a JOIN arms b ON a.arm <> b.arm
""",
    description="A/B experiment readout: users split into two arms by id "
    "parity (a deterministic hash split in production), per-arm exposure "
    "(saw a view) and conversion (exposed AND purchased), with the "
    "winning-arm comparison as an exact integer cross-multiplication — "
    "rate ordering with zero float ambiguity between engines. Per-user "
    "flags are one partial-agg pass; the arm table is two rows, so the "
    "self-join comparing arms is free. The z-test/CI layer sits on these "
    "same four integers.",
)
def q_ab_test_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    u = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max((F.col("event_type") == "view").cast("int")).alias("saw"),
            F.max((F.col("event_type") == "purchase").cast("int")).alias(
                "bought"
            ),
        )
        .select(
            (F.col("user_id") % 2).cast("int").alias("arm"), "saw", "bought"
        )
    )
    arms = u.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("saw").cast("long").alias("n_exposed"),
        F.sum(
            ((F.col("saw") == 1) & (F.col("bought") == 1)).cast("int")
        )
        .cast("long")
        .alias("n_converted"),
    )
    b = arms.select(
        F.col("arm").alias("b_arm"),
        F.col("n_exposed").alias("b_exposed"),
        F.col("n_converted").alias("b_converted"),
    )
    return (
        arms.join(F.broadcast(b), F.col("arm") != F.col("b_arm"))
        .select(
            "arm",
            "n_users",
            "n_exposed",
            "n_converted",
            F.round(
                F.col("n_converted").cast("double") / F.col("n_exposed"), 6
            ).alias("conv_rate"),
            (
                F.col("n_converted") * F.col("b_exposed")
                > F.col("b_converted") * F.col("n_exposed")
            ).alias("beats_other_arm"),
        )
    )


@register(
    "transition_prediction_eval",
    oracle="""
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS tus, event_id FROM events
),
tr AS (
  SELECT event_type AS cur,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY tus, event_id) AS nxt
  FROM e
),
t2 AS (SELECT cur, nxt FROM tr WHERE nxt IS NOT NULL),
model AS (
  SELECT cur, nxt AS predicted
  FROM (
    SELECT cur, nxt, count(*) AS c,
           row_number() OVER (PARTITION BY cur ORDER BY count(*) DESC, nxt) AS rn
    FROM t2 GROUP BY cur, nxt
  ) WHERE rn = 1
)
SELECT t2.cur,
       m.predicted,
       count(*) AS n_transitions,
       CAST(sum(CASE WHEN t2.nxt = m.predicted THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hits,
       round(CAST(sum(CASE WHEN t2.nxt = m.predicted THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS accuracy
FROM t2 JOIN model m USING (cur)
GROUP BY t2.cur, m.predicted
""",
    description="Markov next-event baseline eval: the majority-transition "
    "model (argmax next state per current state, deterministic ties) "
    "scored against every observed transition — per-state hit counts and "
    "accuracy, the floor any sequence model must beat (in-sample here; "
    "production splits fit/eval by the engine's hash splits). One "
    "user-keyed window builds transitions, the model is a "
    "states²-bounded aggregate that broadcasts, scoring is a map-side "
    "probe.",
)
def q_transition_prediction_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("tus"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    t2 = (
        e.select(
            F.col("event_type").alias("cur"),
            F.lead("event_type").over(w).alias("nxt"),
        )
        .filter(F.col("nxt").isNotNull())
    )
    model = (
        t2.groupBy("cur", "nxt")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("cur").orderBy(F.desc("c"), "nxt")
            ),
        )
        .filter(F.col("rn") == 1)
        .select("cur", F.col("nxt").alias("predicted"))
    )
    return (
        t2.join(F.broadcast(model), "cur")
        .groupBy("cur", "predicted")
        .agg(
            F.count(F.lit(1)).alias("n_transitions"),
            F.sum((F.col("nxt") == F.col("predicted")).cast("int"))
            .cast("long")
            .alias("n_hits"),
            F.round(
                F.sum((F.col("nxt") == F.col("predicted")).cast("int")).cast(
                    "double"
                )
                / F.count(F.lit(1)),
                6,
            ).alias("accuracy"),
        )
    )


@register(
    "mad_robust_anomalies",
    oracle="""
WITH med AS (
  SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
  FROM events GROUP BY event_type
), dev AS (
  SELECT e.event_type, m.med, round(abs(e.value - m.med), 6) AS dev
  FROM events e JOIN med m ON e.event_type = m.event_type
), mad AS (
  SELECT event_type, round(quantile_cont(dev, 0.5), 6) AS mad
  FROM dev GROUP BY event_type
)
SELECT d.event_type,
       count(*) AS n,
       min(d.med) AS med,
       min(m2.mad) AS mad,
       CAST(sum(CASE WHEN d.dev > 3 * m2.mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM dev d JOIN mad m2 ON d.event_type = m2.event_type
GROUP BY d.event_type
""",
    description="Robust anomaly detection via median absolute deviation — "
    "the heavy-tail-safe alternative to the z-score monitor "
    "(rate_anomalies): per-type exact median, absolute deviations, exact "
    "MAD, and a 3xMAD outlier count. Both medians shard per group "
    "(grouped exact percentiles parallelize across types), the tiny "
    "per-type stats ride broadcast joins back onto the fact rows, and "
    "medians/deviations are rounded to 6 decimals BEFORE the threshold "
    "compare so interpolation noise cannot split the engines.",
)
def q_mad_robust_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5D)"), 6).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        "med",
        F.round(F.abs(F.col("value") - F.col("med")), 6).alias("dev"),
    )
    mad = dev.groupBy("event_type").agg(
        F.round(F.expr("percentile(dev, 0.5D)"), 6).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("med").alias("med"),
            F.min("mad").alias("mad"),
            F.sum(
                F.when(F.col("dev") > 3 * F.col("mad"), F.lit(1)).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("n_outliers"),
        )
    )


def _cogroup_click_context(keys, clicks, purchases):
    """CoGroupedMap kernel: annotate each purchase with its preceding-click
    context — the two-sided analog of the DES kernel's applyInPandas
    contract.

    The cogroup key is a HASH SHARD of the user, not the user itself:
    with one group per user the per-group overhead (two Arrow streams +
    two pandas frames per invocation, measured ~3.7 ms/group) dominates
    the numpy work by orders of magnitude (guide §4: the Python boundary
    is per-crossing cost; cross it per shard, not per key).  Each shard
    carries many users; the kernel segments both frames by user with
    sorted numpy slices — per-user results are identical to the per-user
    kernel because every user's rows land in exactly one shard."""
    import numpy as np
    import pandas as pd

    out_cols = [
        "user_id",
        "purchase_event_id",
        "n_clicks_before",
        "last_click_gap_us",
    ]
    if purchases.empty:
        return pd.DataFrame(columns=out_cols)
    if "tus" not in purchases.columns or "tus" not in clicks.columns:
        # Catalyst prunes the cogroup children down to the grouping key
        # when no output column is consumed (e.g. a bare count()): the
        # kernel still receives the right GROUP SIZES, and its output is
        # one row per purchase regardless of values — so emit the correct
        # row count with null payloads instead of crashing on the pruned
        # frames. Any action that reads values gets unpruned inputs.
        na = pd.array([pd.NA] * len(purchases), dtype="Int64")
        return pd.DataFrame(
            {
                "user_id": na,
                "purchase_event_id": na,
                "n_clicks_before": na,
                "last_click_gap_us": na,
            }
        )
    p_user = purchases["user_id"].to_numpy(dtype="int64")
    p_tus = purchases["tus"].to_numpy(dtype="int64")
    p_eid = purchases["event_id"].to_numpy(dtype="int64")
    order = np.lexsort((p_tus, p_user))
    p_user, p_tus, p_eid = p_user[order], p_tus[order], p_eid[order]
    if len(clicks):
        c_user = clicks["user_id"].to_numpy(dtype="int64")
        c_tus = clicks["tus"].to_numpy(dtype="int64")
        corder = np.lexsort((c_tus, c_user))
        c_user, c_tus = c_user[corder], c_tus[corder]
    else:
        c_user = np.empty(0, dtype="int64")
        c_tus = np.empty(0, dtype="int64")
    n_before = np.zeros(len(p_tus), dtype="int64")
    last_gap = np.full(len(p_tus), -1, dtype="int64")
    u_vals, u_starts = np.unique(p_user, return_index=True)
    u_ends = np.append(u_starts[1:], len(p_user))
    c_lo = np.searchsorted(c_user, u_vals, side="left")
    c_hi = np.searchsorted(c_user, u_vals, side="right")
    for i in range(len(u_vals)):
        ps, pe = u_starts[i], u_ends[i]
        seg = c_tus[c_lo[i] : c_hi[i]]
        # strictly-before counts: searchsorted left == #clicks with
        # tus < p_tus (sorted within the user segment)
        nb = np.searchsorted(seg, p_tus[ps:pe], side="left")
        n_before[ps:pe] = nb
        last_gap[ps:pe] = np.where(
            nb > 0, p_tus[ps:pe] - seg[np.maximum(nb - 1, 0)], -1
        )
    out = pd.DataFrame(
        {
            "user_id": p_user,
            "purchase_event_id": p_eid,
            "n_clicks_before": n_before,
            "last_click_gap_us": last_gap,
        }
    )
    out["last_click_gap_us"] = out["last_click_gap_us"].astype("Int64")
    out.loc[out["n_clicks_before"] == 0, "last_click_gap_us"] = pd.NA
    return out


@register(
    "cogroup_click_context",
    oracle="""
WITH e AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS tus
  FROM events WHERE event_type IN ('click', 'purchase')
), w AS (
  SELECT user_id, event_id, event_type, tus,
         CAST(coalesce(sum(CASE WHEN event_type = 'click' THEN 1 END)
           OVER (PARTITION BY user_id ORDER BY tus
                 RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS n_clicks_before,
         max(CASE WHEN event_type = 'click' THEN tus END)
           OVER (PARTITION BY user_id ORDER BY tus
                 RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS last_click_us
  FROM e
)
SELECT user_id, event_id AS purchase_event_id, n_clicks_before,
       CAST(tus - last_click_us AS BIGINT) AS last_click_gap_us
FROM w WHERE event_type = 'purchase'
""",
    description="CoGroupedMap surface (cogroup().applyInPandas — the "
    "two-sided member of the pandas-UDF family, completing GROUPED_MAP / "
    "GROUPED_AGG / mapInPandas / mapInArrow / applyInPandasWithState / "
    "UDTF): clicks and purchases are cogrouped per user and a vectorized "
    "numpy kernel (searchsorted on the sorted click timeline) annotates "
    "each purchase with its strictly-preceding click count and the gap to "
    "the last click — the per-key two-stream merge shape (order-book vs "
    "trades, impressions vs conversions) that would otherwise need a "
    "range join. One shuffle per side on the user key; group state is one "
    "user's events. The oracle is the independent window-algebra "
    "formulation (cumulative conditional count + running max over the "
    "event union with a strictly-preceding RANGE frame), so kernel and "
    "relational semantics must agree exactly, ties-at-equal-timestamp "
    "included.",
)
def q_cogroup_click_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    from queue_system_simulator_spark.shipping import ensure_shipped

    ensure_shipped(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("tus")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "tus"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "tus"
    )
    # Two boundary-cost fixes (guide §2 + §4), results identical:
    # 1. cogroup on a HASH SHARD of the user, not the user: per-group
    #    invocation overhead (two Arrow streams + two pandas frames per
    #    call, measured ~3.7 ms/group) dominated the per-user kernel —
    #    ~shards groups instead of ~|users| groups crosses the Python
    #    boundary ~cores times per core instead of thousands.
    # 2. explicit repartition(shards, shard) on both sides pins the
    #    Python stage's partition count: the bare cogroup exchanges are
    #    AQE-coalesced by BYTES (measured: 0.6 MB shuffle → 2 tasks),
    #    the wrong proxy for the stage's CPU-bound work.  The pinned
    #    hashpartitioning satisfies the cogroup clustering requirement
    #    (no extra exchange); shards derives from the session
    #    (scale-adaptive, same pattern as operators.transforms.spread).
    shards = max(int(spark.sparkContext.defaultParallelism), 1) * 2
    shard = F.pmod(F.xxhash64(F.col("user_id")), F.lit(shards)).alias("sh")
    clicks = clicks.select("*", shard)
    purchases = purchases.select("*", shard)
    return clicks.repartition(shards, "sh").groupBy("sh").cogroup(
        purchases.repartition(shards, "sh").groupBy("sh")
    ).applyInPandas(
        _cogroup_click_context,
        "user_id long, purchase_event_id long, n_clicks_before long, "
        "last_click_gap_us long",
    )


# ---------------------------------------------------------------------------
# HLL precision sweep — the sketch-accuracy calibration axis
# ---------------------------------------------------------------------------
HLL_SWEEP_PS = (4, 6, 8)  # register-count exponents: m = 16 / 64 / 256


def _hll_sweep_rho_case(p: int, v: str) -> str:
    """Leading-zero rank ladder for a (48 - p)-bit field; exact integer
    comparisons shared verbatim by both engines (cf. _hll_rho_case)."""
    w = _HLL_HEX * 4 - p
    branches = " ".join(
        f"WHEN {v} >= {1 << (w - k)} THEN {k}" for k in range(1, w + 1)
    )
    return f"CASE {branches} ELSE {w + 1} END"


def _hll_sweep_alpha_m2(p: int) -> str:
    m = 1 << p
    # alpha_16 = 0.673, alpha_32 = 0.697, alpha_64 = 0.709, else the
    # asymptotic formula (Flajolet et al. 2007) — all as literal doubles
    if m == 16:
        a = "CAST(0.673 AS DOUBLE)"
    elif m == 32:
        a = "CAST(0.697 AS DOUBLE)"
    elif m == 64:
        a = "CAST(0.709 AS DOUBLE)"
    else:
        a = f"CAST(0.7213 AS DOUBLE) / (1 + CAST(1.079 AS DOUBLE) / {m})"
    return f"{a} * {m * m}"


def _hll_sweep_branch_sql(p: int) -> str:
    """One per-p SELECT over the shared hash CTE (DuckDB side)."""
    m = 1 << p
    return f"""
SELECT {p} AS p, {m} AS m,
       CAST(count(*) AS BIGINT) AS n_used_buckets,
       round({_hll_sweep_alpha_m2(p)} /
             (sum(CAST(1 AS DOUBLE) / (1::BIGINT << r)) + ({m} - count(*))),
             4) AS raw_estimate
FROM (
  SELECT hv % {m} AS bucket, max({_hll_sweep_rho_case(p, f'hv >> {p}')}) AS r
  FROM sweep_h GROUP BY hv % {m}
)
"""


@register(
    "hll_precision_sweep",
    oracle=f"""
WITH sweep_h AS (
  SELECT CAST('0x' || substr(md5('hll|' || CAST(user_id AS VARCHAR)),
              1, {_HLL_HEX}) AS BIGINT) AS hv
  FROM events
),
ests AS ({" UNION ALL ".join(_hll_sweep_branch_sql(p) for p in HLL_SWEEP_PS)}),
ex AS (SELECT count(DISTINCT user_id) AS exact_distinct FROM events)
SELECT e.p, e.m, e.n_used_buckets, e.raw_estimate,
       CAST(x.exact_distinct AS BIGINT) AS exact_distinct,
       round((e.raw_estimate - x.exact_distinct) / x.exact_distinct, 6)
         AS rel_err
FROM ests e, ex x
""",
    description="HLL precision sweep — the sketch-accuracy axis of the "
    f"calibration family (alongside LSH tau/bands, IVF nprobe, PQ): the "
    f"SAME 48-bit md5 hash stream evaluated at p ∈ {HLL_SWEEP_PS} "
    "(m = 16/64/256 registers), raw harmonic estimate per p vs the exact "
    "distinct count, relative error rounded — measuring the 1.04/√m rsd "
    "curve an operator uses to size sketches before a 100 TB rollout. "
    "Registers stay m-bounded and max-mergeable per p; the sweep shares "
    "one hash computation and the exact count is computed once to grade "
    "the estimator (a real deployment drops it).",
)
def q_hll_precision_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id")
    hv_sql = (
        f"CAST(conv(substr(md5(concat('hll|', CAST(user_id AS STRING))), "
        f"1, {_HLL_HEX}), 16, 10) AS BIGINT)"
    )
    h = ev.select(F.expr(hv_sql).alias("hv")).localCheckpoint()
    parts = []
    for p in HLL_SWEEP_PS:
        m = 1 << p
        regs = (
            h.select(
                (F.col("hv") % m).alias("bucket"),
                F.expr(_hll_sweep_rho_case(p, f"(hv >> {p})")).alias("rho"),
            )
            .groupBy("bucket")
            .agg(F.max("rho").alias("r"))
        )
        est = regs.agg(
            F.lit(p).alias("p"),
            F.lit(m).alias("m"),
            F.count(F.lit(1)).cast("long").alias("n_used_buckets"),
            F.round(
                F.expr(
                    f"{_hll_sweep_alpha_m2(p)} / "
                    "(sum(CAST(1 AS DOUBLE) / shiftleft(CAST(1 AS BIGINT), r))"
                    f" + ({m} - count(1)))"
                ),
                4,
            ).alias("raw_estimate"),
        )
        parts.append(est)
    ests = parts[0]
    for q in parts[1:]:
        ests = ests.unionAll(q)
    ex = ev.agg(F.countDistinct("user_id").alias("exact_distinct"))
    return ests.crossJoin(F.broadcast(ex)).select(
        "p",
        "m",
        "n_used_buckets",
        "raw_estimate",
        F.col("exact_distinct").cast("long").alias("exact_distinct"),
        F.round(
            (F.col("raw_estimate") - F.col("exact_distinct"))
            / F.col("exact_distinct"),
            6,
        ).alias("rel_err"),
    )


# ---------------------------------------------------------------------------
# Differential-privacy noisy release (deterministic seeded Laplace)
# ---------------------------------------------------------------------------
DP_EPSILON = "CAST(1.0 AS DOUBLE)"  # shared literal text on both engines


@register(
    "dp_noisy_counts",
    oracle=f"""
WITH c AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS true_count
  FROM events GROUP BY event_type
),
u AS (
  SELECT event_type, true_count,
         (CAST('0x' || substr(md5('dp|' || event_type), 1, 8) AS BIGINT)
          + CAST(1.0 AS DOUBLE)) / CAST(4294967297.0 AS DOUBLE) AS uu
  FROM c
)
SELECT event_type, true_count,
       round(-(1 / {DP_EPSILON})
             * (CASE WHEN uu >= CAST(0.5 AS DOUBLE) THEN 1 ELSE -1 END)
             * ln(1 - 2 * abs(uu - CAST(0.5 AS DOUBLE))), 6) AS noise,
       round(true_count
             - (1 / {DP_EPSILON})
               * (CASE WHEN uu >= CAST(0.5 AS DOUBLE) THEN 1 ELSE -1 END)
               * ln(1 - 2 * abs(uu - CAST(0.5 AS DOUBLE))), 6)
         AS noisy_count,
       CAST(1.0 AS DOUBLE) AS epsilon
FROM u
""",
    description="Differential-privacy release: per-type event counts plus "
    "Laplace(1/ε) noise at ε=1 — the third leg of the privacy family "
    "(k-anonymous generalization, pseudonymized joins, now noisy "
    "aggregate release). The noise draw inverts the Laplace CDF at an "
    "md5-derived uniform (seeded per released cell), so it is reproducible "
    "under task retry and engine-portable — rand() is neither — and the "
    "whole release is one map-side transform of an already-tiny aggregate. "
    "true_count appears ONLY to grade the mechanism; a production release "
    "drops it (and would use a cryptographic RNG — the md5 draw stands in "
    "to keep the mechanism hash-gradeable).",
)
def q_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("true_count"))
    )
    uu = (
        F.conv(F.substring(F.md5(F.concat(F.lit("dp|"), F.col("event_type"))), 1, 8), 16, 10)
        .cast("double")
        + F.lit(1.0)
    ) / F.lit(4294967297.0)
    sign = F.when(F.col("uu") >= 0.5, F.lit(1)).otherwise(F.lit(-1))
    noise = (
        -(1 / F.expr(DP_EPSILON))
        * sign
        * F.log(1 - 2 * F.abs(F.col("uu") - F.lit(0.5)))
    )
    return c.withColumn("uu", uu).select(
        "event_type",
        "true_count",
        F.round(noise, 6).alias("noise"),
        F.round(F.col("true_count") + noise, 6).alias("noisy_count"),
        F.expr(DP_EPSILON).alias("epsilon"),
    )


# ---------------------------------------------------------------------------
# Least-squares daily trend per event type (integer-exact moments)
# ---------------------------------------------------------------------------
#: the integer moment sums of ``(x, y)`` rows, as select items
XY_SUMS_SQL = """\
       CAST(sum(x) AS BIGINT) AS sum_x,
       CAST(sum(y) AS BIGINT) AS sum_y,
       CAST(sum(x * y) AS BIGINT) AS sum_xy,
       CAST(sum(x * x) AS BIGINT) AS sum_x2,"""


@register(
    "regression_slope_daily",
    oracle=f"""
WITH d AS (
  SELECT event_type, epoch_us(ts) // {86_400_000_000} AS day, count(*) AS y
  FROM events GROUP BY 1, 2
),
ix AS (
  SELECT event_type,
         day - min(day) OVER (PARTITION BY event_type) AS x, y
  FROM d
)
SELECT event_type,
       count(*) AS n_days,
{XY_SUMS_SQL}
       CAST(count(*) * sum(x * y) - sum(x) * sum(y) AS BIGINT) AS slope_num,
       CAST(count(*) * sum(x * x) - sum(x) * sum(x) AS BIGINT) AS slope_den,
       round(CAST(count(*) * sum(x * y) - sum(x) * sum(y) AS DOUBLE)
             / (count(*) * sum(x * x) - sum(x) * sum(x)), 6) AS slope
FROM ix GROUP BY event_type
""",
    description="Per-type least-squares trend of the daily event rate: "
    "slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) computed entirely from integer "
    "moment sums over (day-index, count) pairs — engine-exact numerator "
    "and denominator graded alongside the rounded ratio. The log "
    "collapses to ≤366·|types| rows map-side before any math; the "
    "capacity-planning primitive ('is error volume growing?') next to "
    "the EWMA and ACF queries.",
)
def q_regression_slope_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            (F.unix_micros("ts") / 86_400_000_000).cast("long").alias("day"),
        )
        .agg(F.count(F.lit(1)).alias("y"))
    )
    ix = d.withColumn(
        "x",
        F.col("day") - F.min("day").over(Window.partitionBy("event_type")),
    )
    n = F.count(F.lit(1))
    sx, sy = F.sum("x"), F.sum("y")
    sxy = F.sum(F.col("x") * F.col("y"))
    sx2 = F.sum(F.col("x") * F.col("x"))
    num = (n * sxy - sx * sy).cast("long")
    den = (n * sx2 - sx * sx).cast("long")
    return ix.groupBy("event_type").agg(
        n.alias("n_days"),
        sx.alias("sum_x"),
        sy.alias("sum_y"),
        sxy.alias("sum_xy"),
        sx2.alias("sum_x2"),
        num.alias("slope_num"),
        den.alias("slope_den"),
        F.round(num.cast("double") / den, 6).alias("slope"),
    )


# ---------------------------------------------------------------------------
# Top event-type paths (3-step journey mining)
# ---------------------------------------------------------------------------
PATH_TOPK = 10


@register(
    "event_path_topk",
    oracle=f"""
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS tus, event_id FROM events
),
p AS (
  SELECT event_type
         || '>' || lead(event_type, 1) OVER w
         || '>' || lead(event_type, 2) OVER w AS path
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
)
SELECT path, count(*) AS n_journeys
FROM p WHERE path IS NOT NULL
GROUP BY path
ORDER BY n_journeys DESC, path
LIMIT {PATH_TOPK}
""",
    description="Journey path mining: every 3-step event-type sequence per "
    f"user (lead windows over the user's own timeline — partitioned by "
    "user, never global), counted corpus-wide, top-"
    f"{PATH_TOPK} on the total order (count desc, path) so the cut is "
    "deterministic. The product-analytics staple behind 'what do users "
    "do before purchasing'; the user-partitioned window plus one "
    "path-keyed partial-agg shuffle is the whole plan, and TakeOrdered "
    "replaces any global sort for the top-k.",
)
def q_event_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("tus"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    path = F.concat_ws(
        ">",
        F.col("event_type"),
        F.lead("event_type", 1).over(w),
        F.lead("event_type", 2).over(w),
    )
    # concat_ws skips nulls (unlike SQL ||), so gate the path on both leads
    # existing — the last two events of each user produce no 3-step path,
    # matching the oracle's NULL-propagating concatenation
    p = e.select(
        F.when(
            F.lead("event_type", 2).over(w).isNotNull()
            & F.lead("event_type", 1).over(w).isNotNull(),
            path,
        ).alias("path")
    )
    return (
        p.filter(F.col("path").isNotNull())
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_journeys"))
        .orderBy(F.col("n_journeys").desc(), "path")
        .limit(PATH_TOPK)
    )


# ---------------------------------------------------------------------------
# Weekly trend/seasonal/remainder decomposition (STL-lite)
# ---------------------------------------------------------------------------
_STL_BODY = f"""
WITH d AS (
  SELECT event_type, epoch_us(ts) // {86_400_000_000} AS day,
         CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
t AS (
  SELECT event_type, day, y,
         avg(CAST(y AS DOUBLE)) OVER (PARTITION BY event_type ORDER BY day
             ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS trend
  FROM d
),
s AS (
  SELECT event_type, day, y, trend,
         avg(y - trend) OVER (PARTITION BY event_type, day % 7) AS seasonal
  FROM t
)
SELECT event_type, CAST(day AS BIGINT) AS day_idx, y,
       round(trend, 6) AS trend,
       round(seasonal, 6) AS seasonal,
       round(y - trend - seasonal, 6) AS remainder
FROM s
"""


@register(
    "stl_weekly_decompose",
    oracle=_STL_BODY,
    description="STL-lite weekly decomposition of the daily event rate: "
    "trend = centered 7-day moving average (rows frame over the per-type "
    "daily series), seasonal = mean detrended value per weekday "
    "(epoch-day mod 7), remainder = what's left — the anomaly channel a "
    "monitoring stack alerts on, complementing the EWMA (level), "
    "regression (drift) and ACF (periodicity) queries. Everything "
    "happens AFTER the map-side collapse to ≤366·|types| rows, so the "
    "windows are calendar-bounded whatever the log volume; the trend "
    "average divides exact integer sums, and the order-sensitive float "
    "folds are 6-dp rounded on both engines.",
)
def q_stl_weekly_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            (F.unix_micros("ts") / 86_400_000_000).cast("long").alias("day"),
        )
        .agg(F.count(F.lit(1)).alias("y"))
    )
    wt = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-3, 3)
    )
    t = d.withColumn("trend", F.avg(F.col("y").cast("double")).over(wt))
    ws = Window.partitionBy("event_type", F.col("day") % 7)
    s = t.withColumn("seasonal", F.avg(F.col("y") - F.col("trend")).over(ws))
    return s.select(
        "event_type",
        F.col("day").alias("day_idx"),
        "y",
        F.round("trend", 6).alias("trend"),
        F.round("seasonal", 6).alias("seasonal"),
        F.round(F.col("y") - F.col("trend") - F.col("seasonal"), 6).alias(
            "remainder"
        ),
    )


@register(
    "stl_residual_anomalies",
    oracle=f"""
WITH stl AS ({_STL_BODY}),
med AS (
  SELECT event_type, round(quantile_cont(remainder, 0.5), 6) AS med_rem
  FROM stl GROUP BY event_type
),
dev AS (
  SELECT s.event_type, s.day_idx,
         round(abs(s.remainder - m.med_rem), 6) AS dev
  FROM stl s JOIN med m USING (event_type)
),
mad AS (
  SELECT event_type, round(quantile_cont(dev, 0.5), 6) AS mad_rem
  FROM dev GROUP BY event_type
),
flagged AS (
  SELECT d.event_type, d.day_idx, d.dev, m.mad_rem
  FROM dev d JOIN mad m USING (event_type)
)
SELECT f.event_type,
       count(*) AS n_days,
       min(me.med_rem) AS med_rem,
       min(f.mad_rem) AS mad_rem,
       CAST(sum(CASE WHEN f.dev > 3 * f.mad_rem THEN 1 ELSE 0 END) AS BIGINT)
         AS n_anomalies,
       min(f.day_idx) FILTER (WHERE f.dev = (
         SELECT max(dev) FROM flagged x WHERE x.event_type = f.event_type))
         AS worst_day
FROM flagged f JOIN med me USING (event_type)
GROUP BY f.event_type
""",
    description="Seasonal-residual anomaly monitor — the composition the "
    "monitoring stack actually deploys: STL-lite strips trend and weekly "
    "seasonality (stl_weekly_decompose), then a MAD fence on the "
    "remainder flags days more than 3 robust deviations off, immune to "
    "both the trend and the weekday cycle that break a naive z-score on "
    "the raw series. Per-type exact medians shard across types; "
    "worst_day is the deterministic argmax (min day among ties). "
    "Everything downstream of the map-side daily collapse is "
    "calendar-bounded.",
)
def q_stl_residual_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    stl = q_stl_weekly_decompose(spark, sf_dir).select(
        "event_type", "day_idx", "remainder"
    )
    med = stl.groupBy("event_type").agg(
        F.round(F.expr("percentile(remainder, 0.5D)"), 6).alias("med_rem")
    )
    dev = stl.join(F.broadcast(med), "event_type").select(
        "event_type",
        "day_idx",
        F.round(F.abs(F.col("remainder") - F.col("med_rem")), 6).alias("dev"),
    )
    mad = dev.groupBy("event_type").agg(
        F.round(F.expr("percentile(dev, 0.5D)"), 6).alias("mad_rem")
    )
    mx = dev.groupBy("event_type").agg(F.max("dev").alias("max_dev"))
    flagged = dev.join(F.broadcast(mad), "event_type").join(
        F.broadcast(mx), "event_type"
    )
    return (
        flagged.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.min("med_rem").alias("med_rem"),
            F.min("mad_rem").alias("mad_rem"),
            F.sum(
                F.when(F.col("dev") > 3 * F.col("mad_rem"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_anomalies"),
            F.min(
                F.when(F.col("dev") == F.col("max_dev"), F.col("day_idx"))
            ).alias("worst_day"),
        )
    )
