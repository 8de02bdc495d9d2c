"""Queries reproducing the reference's operator surface (SURVEY §2 A–D, F,
E-analysis) over the driver's ``events`` table (events ≙ request log,
FIXTURES.md §1: ``ts → request_time``, ``value → processing_time``).

Every query here has a DuckDB oracle.  Exact-arithmetic conventions per
``plans.registry`` docstring: integer microseconds for time math, bigint
sums for means, round(…, 6) only where interpolation/partial-agg order
legitimately differs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from queue_system_simulator_spark.operators.fifo import (
    fifo_k1_timeline,
    fifo_k1_timeline_sql,
)
from queue_system_simulator_spark.plans.registry import register
from queue_system_simulator_spark.schema import (
    REFERENCE_EPOCH,
    events_as_requests,
    load_table,
)

#: 2024-01-01T00:00:00Z — natural epoch for the events table (min ts ≈ +7 s).
EVENTS_EPOCH_US = 1_704_067_200_000_000
#: mid-month epoch used by the negative-relative-time check so both signs occur
MID_EPOCH_US = 1_705_276_800_000_000  # 2024-01-15T00:00:00Z

_FIFO_TL_SQL = fifo_k1_timeline_sql("SELECT * FROM events")


# --------------------------------------------------------------------------
# A. scans / projections
# --------------------------------------------------------------------------
@register(
    "ingest_requests",
    oracle="""
SELECT event_id,
       CAST(user_id AS VARCHAR) AS user_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS request_time_str,
       epoch_us(ts) / 1000000 AS arrival_s,
       value AS processing_time
FROM events
""",
    description="A1-A4: schema-validated request-log ingestion (events → "
    "REQUEST_SCHEMA projection, cast + ISO-8601 normalize). Reference: "
    "/root/reference/src/csv_parser.py:7-75.",
)
def q_ingest_requests(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.col("user_id").cast("string").alias("user_id"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("request_time_str"),
        (F.unix_micros("ts") / 1_000_000).alias("arrival_s"),
        F.col("value").alias("processing_time"),
    )


@register(
    "sim_arrival_time",
    oracle=f"""
SELECT event_id,
       (epoch_us(ts) - {EVENTS_EPOCH_US}) / 1000000 AS sim_arrival_time
FROM events
""",
    description="B1: relative arrival seconds vs fixed epoch (reference "
    "/root/reference/main.py:13,51-65 with epoch 2023-01-01Z; engine epoch "
    "parameterized, here 2024-01-01Z).",
)
def q_sim_arrival_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        ((F.unix_micros("ts") - F.lit(EVENTS_EPOCH_US)) / 1_000_000).alias(
            "sim_arrival_time"
        ),
    )


@register(
    "negative_arrival_check",
    oracle=f"""
SELECT CAST(sum(CASE WHEN epoch_us(ts) - {MID_EPOCH_US} < 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS negative_arrival_rows,
       count(*) AS total_rows
FROM events
""",
    description="B3: warn-count of rows whose request_time precedes the "
    "epoch (reference /root/reference/main.py:54-60).",
)
def q_negative_arrival_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    neg = F.unix_micros("ts") - F.lit(MID_EPOCH_US) < 0
    return ev.agg(
        F.sum(F.when(neg, 1).otherwise(0)).cast("long").alias("negative_arrival_rows"),
        F.count(F.lit(1)).alias("total_rows"),
    )


@register(
    "priority_class",
    oracle="""
SELECT event_id,
       CASE WHEN value < 20.0 THEN 'priority' ELSE 'normal' END AS queue_class
FROM events
""",
    description="B5: two-class routing, processing_time < 20 s → priority, "
    "null-safe to normal (reference /root/reference/src/queue_manager.py:105,137-155).",
)
def q_priority_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.when(F.col("value") < 20.0, "priority").otherwise("normal").alias(
            "queue_class"
        ),
    )


@register(
    "hms_format",
    oracle="""
SELECT event_id,
       printf('%02d:%02d:%02d',
              CAST(floor(value) AS BIGINT) // 3600,
              (CAST(floor(value) AS BIGINT) % 3600) // 60,
              CAST(floor(value) AS BIGINT) % 60) AS hms
FROM events
""",
    description="B4: seconds → HH:MM:SS display format (reference "
    "/root/reference/src/simulator.py:111-114).",
)
def q_hms_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    total = F.floor("value").cast("long")
    return ev.select(
        "event_id",
        F.format_string(
            "%02d:%02d:%02d",
            F.floor(total / 3600).cast("long"),
            F.floor((total % 3600) / 60).cast("long"),
            (total % 60).cast("long"),
        ).alias("hms"),
    )


@register(
    "input_count",
    oracle="SELECT count(*) AS total_requests FROM events",
    description="G6: input-size count (reference /root/reference/main.py:119).",
)
def q_input_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.agg(F.count(F.lit(1)).alias("total_requests"))


# --------------------------------------------------------------------------
# FIFO closed form (E1 special case) + stats (G1-G3)
# --------------------------------------------------------------------------
@register(
    "fifo_timeline",
    oracle=f"""
SELECT group_id, seq, arrival_us, proc_us, start_us, finish_us, queuing_us,
       arrival_s, start_s, finish_s, queuing_s
FROM ({_FIFO_TL_SQL})
""",
    description="E1 special case: exact single-server FIFO queue timeline "
    "per user via the closed-form window recurrence start_i = max(arrival_i, "
    "finish_{i-1}) in integer microseconds (reference semantics "
    "/root/reference/src/worker.py:88-111, /root/reference/src/queue_manager.py:7-95).",
)
def q_fifo_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fifo_k1_timeline(events_as_requests(spark, sf_dir))


def _fifo_stats(df: DataFrame, group: bool) -> DataFrame:
    qt_s = (F.col("queuing_us") / 1_000_000).alias("qt_s")
    base = df.select("group_id", qt_s, "queuing_us")
    g = base.groupBy("group_id") if group else base.groupBy()
    out = g.agg(
        F.count(F.lit(1)).alias("processed"),
        F.round(
            F.sum("queuing_us").cast("double") / F.count(F.lit(1)) / 1_000_000, 6
        ).alias("avg_queuing_time"),
        F.expr("percentile(qt_s, array(0.5D, 0.75D, 0.9D, 0.99D))").alias("pcts"),
    )
    p = F.col("pcts")
    cols = (["group_id"] if group else []) + [
        F.col("processed"),
        F.col("avg_queuing_time"),
        F.round(p[0], 6).alias("p50"),
        F.round(p[1], 6).alias("p75"),
        F.round(p[2], 6).alias("p90"),
        F.round(p[3], 6).alias("p99"),
    ]
    return out.select(*cols)


_FIFO_STATS_SQL_BODY = """
SELECT {group_cols} count(*) AS processed,
       round(CAST(sum(queuing_us) AS DOUBLE) / count(*) / 1000000, 6) AS avg_queuing_time,
       round(quantile_cont(queuing_us / 1000000, 0.5), 6)  AS p50,
       round(quantile_cont(queuing_us / 1000000, 0.75), 6) AS p75,
       round(quantile_cont(queuing_us / 1000000, 0.9), 6)  AS p90,
       round(quantile_cont(queuing_us / 1000000, 0.99), 6) AS p99
FROM ({tl})
{group_by}
"""


@register(
    "fifo_stats",
    oracle=_FIFO_STATS_SQL_BODY.format(group_cols="", tl=_FIFO_TL_SQL, group_by=""),
    description="G1-G3 flagship: queuing-time statistics (count, mean, exact "
    "linear-interpolation percentiles p50/p75/p90/p99) over the FIFO timeline "
    "(reference /root/reference/src/statistics.py:46-121). 100 TB note: the "
    "ungrouped exact percentile funnels every value through one reducer by "
    "construction — keep this form for oracle-checked reporting only; at "
    "scale use fifo_stats_distributed (same exact numbers via distributed "
    "rank selection), fifo_stats_by_user (per-group exact) or "
    "fifo_stats_approx (mergeable sketch).",
)
def q_fifo_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _fifo_stats(q_fifo_timeline(spark, sf_dir), group=False)


@register(
    "fifo_stats_distributed",
    oracle=_FIFO_STATS_SQL_BODY.format(group_cols="", tl=_FIFO_TL_SQL, group_by=""),
    description="fifo_stats without the single-reducer funnel: the same "
    "exact global percentiles computed by distributed rank selection — "
    "range-partition the values (Spark's distributed sort), per-bucket "
    "counts -> cumulative offsets (O(parallelism) driver rows), then each "
    "needed order statistic read with a bucket-LOCAL sort; interpolation "
    "lo+(hi-lo)*frac on value/1e6 doubles is bit-equal to percentile()/"
    "quantile_cont. Same oracle as fifo_stats; this is the form that "
    "survives a 100 TB global percentile.",
)
def q_fifo_stats_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from queue_system_simulator_spark.operators.statistics import (
        exact_percentiles_distributed,
    )

    # filled by the range-bound sample job, the first to read it
    tl = q_fifo_timeline(spark, sf_dir).select("queuing_us").localCheckpoint(
        eager=False
    )
    pcts = exact_percentiles_distributed(
        tl, "queuing_us", ps=(0.5, 0.75, 0.9, 0.99), divisor=1_000_000.0
    )
    agg = tl.agg(
        F.count(F.lit(1)).alias("processed"),
        F.round(
            F.sum("queuing_us").cast("double") / F.count(F.lit(1)) / 1_000_000, 6
        ).alias("avg_queuing_time"),
    )
    names = ("p50", "p75", "p90", "p99")
    return agg.select(
        "processed",
        "avg_queuing_time",
        *[F.round(F.lit(v), 6).alias(nm) for nm, v in zip(names, pcts)],
    )


@register(
    "fifo_stats_by_user",
    oracle=_FIFO_STATS_SQL_BODY.format(
        group_cols="group_id,", tl=_FIFO_TL_SQL, group_by="GROUP BY group_id"
    ),
    description="G1-G3 grouped per user_id — the horizontally-scalable form: "
    "per-group exact percentiles shard across the cluster.",
)
def q_fifo_stats_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _fifo_stats(q_fifo_timeline(spark, sf_dir), group=True)


from queue_system_simulator_spark.sources.generator import (  # noqa: E402
    ISO_Z_SPARK,
    generate_sample_requests,
    generate_sample_requests_oracle_sql,
)


@register(
    "generate_requests",
    oracle=generate_sample_requests_oracle_sql(
        num_users=50, max_requests_per_user=20
    ),
    description="A6 synthetic request-log generator as a query surface, "
    "hash-graded: spark.range + md5-derived integer uniforms (engine-"
    "portable, reproducible under task retry — unlike rand(seed), whose "
    "stream is engine-internal) + per-user integer-ms running-sum window "
    "for cumulative U(0.1,1.0)s arrivals from the fixed epoch; processing "
    "round(U(1.0,10.0),1); ISO-8601-Z rendering (reference "
    "/root/reference/scripts/generate_sample_data.py:10-39). The only "
    "shuffle is the per-user window partition; closes A6+D3 with a "
    "DuckDB oracle.",
)
def q_generate_requests(spark: SparkSession, sf_dir: str) -> DataFrame:
    gen = generate_sample_requests(spark, num_users=50, max_requests_per_user=20)
    epoch_ms = F.lit(REFERENCE_EPOCH).cast("timestamp")
    return gen.select(
        "seq",
        "user_id",
        (F.unix_millis("request_time") - F.unix_millis(epoch_ms)).alias(
            "offset_ms"
        ),
        F.date_format("request_time", ISO_Z_SPARK).alias("request_time_iso"),
        "processing_time",
    )


@register(
    "fifo_stats_approx",
    oracle=None,  # approx_percentile (Greenwald-Khanna) is intentionally not
    # value-comparable to an exact oracle; correctness is bounded-error vs
    # fifo_stats (asserted in tests/test_statistics.py)
    description="The 100 TB escape hatch (SURVEY §7 'what's hard' #3): same "
    "stats as fifo_stats but with approx_percentile(…, accuracy=10000) — "
    "a mergeable fixed-size sketch, so the global percentile needs no "
    "full-shuffle of values like exact percentile does. Use for "
    "monitoring/dashboards; keep exact percentiles for oracle-checked "
    "reporting.",
)
def q_fifo_stats_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    tl = q_fifo_timeline(spark, sf_dir)
    qsec = F.col("queuing_us") / 1_000_000
    pq = F.percentile_approx(qsec, [0.5, 0.75, 0.9, 0.99], 10_000)
    return tl.agg(
        F.count(F.lit(1)).alias("processed"),
        F.round(F.sum("queuing_us").cast("double") / F.count(F.lit(1)) / 1e6, 6)
        .alias("avg_queuing_time"),
        F.round(pq[0], 6).alias("p50_approx"),
        F.round(pq[1], 6).alias("p75_approx"),
        F.round(pq[2], 6).alias("p90_approx"),
        F.round(pq[3], 6).alias("p99_approx"),
    )


# --------------------------------------------------------------------------
# Synthetic sim-result table exercising every statistics quirk (C1,C2,C4,
# G1-G5, D2).  Deterministic quirk injection on top of the FIFO timeline:
#   seq % 50 == 0           → rejected (finish = −1 sentinel)
#   seq % 13 == 0, ¬rejected → inverted row (start < arrival; silently
#                              dropped from queuing-time stats — C2)
#   seq % 11 == 0           → used_api_id NULL (api failure)
#   else                     → used_api_id = seq % 7 + 1 (ids 6,7 exceed
#                              N=5 → out-of-range skip — C4)
# --------------------------------------------------------------------------
_SIM_RESULTS_SQL = f"""
SELECT group_id, seq, arrival_us, proc_us,
       CASE WHEN seq % 50 = 0 THEN 0
            WHEN seq % 13 = 0 THEN arrival_us - 5000000
            ELSE start_us END AS start_us,
       CASE WHEN seq % 50 = 0 THEN -1 ELSE finish_us END AS finish_us,
       CASE WHEN seq % 11 = 0 THEN NULL
            ELSE CAST(seq % 7 + 1 AS INTEGER) END AS used_api_id
FROM ({_FIFO_TL_SQL})
"""


def _synthetic_sim_results(spark: SparkSession, sf_dir: str) -> DataFrame:
    tl = q_fifo_timeline(spark, sf_dir)
    seq = F.col("seq")
    return tl.select(
        "group_id",
        "seq",
        "arrival_us",
        "proc_us",
        F.when(seq % 50 == 0, F.lit(0))
        .when(seq % 13 == 0, F.col("arrival_us") - 5_000_000)
        .otherwise(F.col("start_us"))
        .alias("start_us"),
        F.when(seq % 50 == 0, F.lit(-1)).otherwise(F.col("finish_us")).alias(
            "finish_us"
        ),
        F.when(seq % 11 == 0, F.lit(None)).otherwise((seq % 7 + 1).cast("int")).alias(
            "used_api_id"
        ),
    )


@register(
    "sim_result_stats",
    oracle=f"""
SELECT CAST(sum(CASE WHEN finish_us != -1 THEN 1 ELSE 0 END) AS BIGINT) AS processed,
       CAST(sum(CASE WHEN finish_us = -1 THEN 1 ELSE 0 END) AS BIGINT) AS rejected,
       round(CAST(sum(CASE WHEN finish_us != -1 AND start_us >= 0 AND arrival_us >= 0
                            AND start_us >= arrival_us
                           THEN start_us - arrival_us END) AS DOUBLE)
             / sum(CASE WHEN finish_us != -1 AND start_us >= 0 AND arrival_us >= 0
                         AND start_us >= arrival_us THEN 1 ELSE 0 END)
             / 1000000, 6) AS avg_queuing_time,
       round(quantile_cont(CASE WHEN finish_us != -1 AND start_us >= 0
                                 AND arrival_us >= 0 AND start_us >= arrival_us
                                THEN (start_us - arrival_us) / 1000000 END, 0.5), 6) AS p50,
       round(quantile_cont(CASE WHEN finish_us != -1 AND start_us >= 0
                                 AND arrival_us >= 0 AND start_us >= arrival_us
                                THEN (start_us - arrival_us) / 1000000 END, 0.75), 6) AS p75,
       round(quantile_cont(CASE WHEN finish_us != -1 AND start_us >= 0
                                 AND arrival_us >= 0 AND start_us >= arrival_us
                                THEN (start_us - arrival_us) / 1000000 END, 0.9), 6) AS p90,
       round(quantile_cont(CASE WHEN finish_us != -1 AND start_us >= 0
                                 AND arrival_us >= 0 AND start_us >= arrival_us
                                THEN (start_us - arrival_us) / 1000000 END, 0.99), 6) AS p99
FROM ({_SIM_RESULTS_SQL})
""",
    description="G1-G3 with the full reference quirk set: −1 rejection "
    "sentinel split (C1), silent drop of time-inverted rows from the "
    "queuing-time denominators only (C2), NaN-free counts (reference "
    "/root/reference/src/statistics.py:28-42,77-121).",
)
def q_sim_result_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _synthetic_sim_results(spark, sf_dir)
    fin, start, arr = F.col("finish_us"), F.col("start_us"), F.col("arrival_us")
    is_proc = fin != -1
    valid = is_proc & (start >= 0) & (arr >= 0) & (start >= arr)
    qt_us = F.when(valid, start - arr)
    df = df.withColumn("qt_s", (qt_us / 1_000_000))
    out = df.agg(
        F.sum(F.when(is_proc, 1).otherwise(0)).cast("long").alias("processed"),
        F.sum(F.when(~is_proc, 1).otherwise(0)).cast("long").alias("rejected"),
        F.round(
            F.sum(qt_us).cast("double")
            / F.sum(F.when(valid, 1).otherwise(0))
            / 1_000_000,
            6,
        ).alias("avg_queuing_time"),
        F.expr("percentile(qt_s, array(0.5D, 0.75D, 0.9D, 0.99D))").alias("pcts"),
    )
    p = F.col("pcts")
    return out.select(
        "processed",
        "rejected",
        "avg_queuing_time",
        F.round(p[0], 6).alias("p50"),
        F.round(p[1], 6).alias("p75"),
        F.round(p[2], 6).alias("p90"),
        F.round(p[3], 6).alias("p99"),
    )


@register(
    "api_usage_zero_fill",
    oracle=f"""
SELECT d.api_id,
       'api_' || d.api_id AS api_key,
       CAST(coalesce(c.cnt, 0) AS BIGINT) AS usage_count
FROM (SELECT CAST(unnest(generate_series(1, 5)) AS INTEGER) AS api_id) d
LEFT JOIN (
  SELECT used_api_id AS api_id, count(*) AS cnt
  FROM ({_SIM_RESULTS_SQL})
  WHERE finish_us != -1 AND used_api_id IS NOT NULL
    AND used_api_id BETWEEN 1 AND 5
  GROUP BY used_api_id
) c USING (api_id)
""",
    description="G4: per-API usage counts zero-filled against the configured "
    "API domain (N=5), null skipped, out-of-range skipped (C4); the "
    "run_pipeline report's own operator (statistics.api_usage_counts: a "
    "range dimension left-joined to the broadcast counts) (reference "
    "/root/reference/src/statistics.py:126-141).",
)
def q_api_usage_zero_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from queue_system_simulator_spark.operators.statistics import api_usage_counts

    df = _synthetic_sim_results(spark, sf_dir).withColumnRenamed(
        "finish_us", "finish_processing_time_by_worker"
    )
    return api_usage_counts(df, spark)


@register(
    "enqueue_totals",
    oracle=f"""
SELECT CAST(sum(CASE WHEN finish_us != -1
                      AND COALESCE(proc_us < 20000000, FALSE) THEN 1 ELSE 0 END) AS BIGINT)
         AS priority_queue_enqueued_total,
       CAST(sum(CASE WHEN finish_us != -1
                      AND NOT COALESCE(proc_us < 20000000, FALSE) THEN 1 ELSE 0 END) AS BIGINT)
         AS normal_queue_enqueued_total
FROM ({_SIM_RESULTS_SQL})
""",
    description="G5: per-class enqueue totals derived relationally over "
    "admitted rows (reference carries mutable counters, "
    "/root/reference/src/queue_manager.py:121-154).",
)
def q_enqueue_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _synthetic_sim_results(spark, sf_dir)
    admitted = F.col("finish_us") != -1
    # null processing_time -> normal class (reference queue_manager.py:137-155)
    prio = F.coalesce(F.col("proc_us") < 20_000_000, F.lit(False))
    return df.agg(
        F.sum(F.when(admitted & prio, 1).otherwise(0))
        .cast("long")
        .alias("priority_queue_enqueued_total"),
        F.sum(F.when(admitted & ~prio, 1).otherwise(0))
        .cast("long")
        .alias("normal_queue_enqueued_total"),
    )


@register(
    "result_order",
    oracle=f"""
SELECT seq,
       row_number() OVER (
         ORDER BY CASE WHEN finish_us = -1 THEN 9223372036854775807
                       ELSE finish_us END,
                  arrival_us, seq) AS result_rank
FROM ({_SIM_RESULTS_SQL})
""",
    description="D2: deterministic result ordering with the −1 sentinel "
    "sorting last, tie-break by arrival then seq (reference "
    "/root/reference/src/simulator.py:260-265). The total order D2 "
    "demands is computed with the two-phase range-partition rank "
    "(statistics.global_row_number) — per-bucket row_number plus bucket "
    "offsets — not a single-partition window, so no one task ever holds "
    "every result row.",
)
def q_result_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from queue_system_simulator_spark.operators.statistics import (
        global_row_number,
    )

    df = _synthetic_sim_results(spark, sf_dir)
    key = F.when(F.col("finish_us") == -1, F.lit(2**63 - 1)).otherwise(
        F.col("finish_us")
    )
    ranked, _n = global_row_number(
        df.withColumn("__k", key),
        [F.col("__k"), F.col("arrival_us"), F.col("seq")],
        out_col="result_rank",
    )
    return ranked.select(
        "seq", F.col("result_rank").cast("int").alias("result_rank")
    )


# --------------------------------------------------------------------------
# E5/E7 analysis-mode queries (pure SQL analogs of the kernel state machines)
# --------------------------------------------------------------------------
#: E5's per-API sliding 60 s call count, graded for the batch window and
#: the online limiter (streaming_rate_limit)
RATE_LIMIT_SQL = """
SELECT event_id,
       CAST(event_id % 5 + 1 AS INTEGER) AS api_id,
       CAST(count(*) OVER (
         PARTITION BY event_id % 5
         ORDER BY epoch_us(ts)
         RANGE BETWEEN 60000000 PRECEDING AND CURRENT ROW) AS BIGINT)
         AS calls_in_window,
       count(*) OVER (
         PARTITION BY event_id % 5
         ORDER BY epoch_us(ts)
         RANGE BETWEEN 60000000 PRECEDING AND CURRENT ROW) <= 60 AS allowed
FROM events
"""


@register(
    "rate_limit_sliding",
    oracle=RATE_LIMIT_SQL,
    description="E5 analysis mode: per-API sliding 60 s call count (range "
    "window frame ≙ the limiter's deque eviction, now − ts > 60 evicted; "
    "reference /root/reference/src/api_client.py:17-24). Range frames are "
    "peer-inclusive → order-insensitive, exact.",
)
def q_rate_limit_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    api = F.col("event_id") % 5
    w = (
        Window.partitionBy(api)
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-60_000_000, 0)
    )
    cnt = F.count(F.lit(1)).over(w)
    return ev.select(
        "event_id",
        (api + 1).cast("int").alias("api_id"),
        cnt.cast("long").alias("calls_in_window"),
        (cnt <= 60).alias("allowed"),
    )


@register(
    "queue_depth_timeseries",
    oracle=f"""
WITH deltas AS (
  SELECT group_id, arrival_us AS t_us, 1 AS delta, seq FROM ({_FIFO_TL_SQL})
  UNION ALL
  SELECT group_id, start_us AS t_us, -1 AS delta, seq FROM ({_FIFO_TL_SQL})
), depth AS (
  SELECT group_id, t_us,
         sum(delta) OVER (PARTITION BY group_id
                          ORDER BY t_us, delta DESC, seq
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS queue_depth
  FROM deltas
)
SELECT group_id,
       CAST(max(queue_depth) AS BIGINT) AS max_queue_depth,
       CAST(count(*) AS BIGINT) AS n_changes
FROM depth GROUP BY group_id
""",
    description="E7 analysis mode: queue-depth time series via ±1 event "
    "union + running sum; reported as per-group max depth (reference "
    "snapshot metrics /root/reference/src/simulator.py:104-135).",
)
def q_queue_depth_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    tl = q_fifo_timeline(spark, sf_dir)
    arr = tl.select(
        "group_id", F.col("arrival_us").alias("t_us"), F.lit(1).alias("delta"), "seq"
    )
    st = tl.select(
        "group_id", F.col("start_us").alias("t_us"), F.lit(-1).alias("delta"), "seq"
    )
    deltas = arr.unionAll(st)
    w = (
        Window.partitionBy("group_id")
        .orderBy(F.col("t_us"), F.col("delta").desc(), F.col("seq"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    depth = deltas.withColumn("queue_depth", F.sum("delta").over(w))
    return depth.groupBy("group_id").agg(
        F.max("queue_depth").cast("long").alias("max_queue_depth"),
        F.count(F.lit(1)).alias("n_changes"),
    )


#: the JSON props queries' head: the sum of the props payload's ``k``
_PROPS_SUM_K_SQL = """\
SELECT event_type,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
         AS sum_k,"""


@register(
    "json_props_extract",
    oracle=f"""
{_PROPS_SUM_K_SQL}
       CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
         AS min_k,
       CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
         AS max_k,
       count(*) AS n
FROM events
GROUP BY event_type
""",
    description="Semi-structured JSON column handling: parse the events "
    "props payload with from_json against an explicit schema (JVM-side, "
    "no UDF) and aggregate the extracted field — the schema-on-read path "
    "for property bags in a 100 TB event lake.",
)
def q_json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    ev = load_table(spark, sf_dir, "events")
    props_schema = T.StructType([T.StructField("k", T.LongType())])
    k = F.from_json("props", props_schema)["k"]
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "variant_props_extract",
    oracle=f"""
{_PROPS_SUM_K_SQL}
       CAST(count(CAST(json_extract_string(props, '$.missing') AS BIGINT))
            AS BIGINT) AS n_missing_key,
       count(*) AS n
FROM events
GROUP BY event_type
""",
    description="Schema-LESS semi-structured path (Spark 4 VariantType): "
    "parse_json turns the props payload into a binary variant once, "
    "variant_get extracts typed fields by JSON path with no declared "
    "schema — the twin of json_props_extract for payloads whose shape "
    "is not known up front. Missing paths yield NULL (counted here to "
    "pin that semantics). Variant decode stays JVM-side; at 100 TB this "
    "is the shredded-storage-ready representation.",
)
def q_variant_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    return (
        ev.select(
            "event_type",
            F.variant_get(v, "$.k", "long").alias("k"),
            F.variant_get(v, "$.missing", "long").alias("m"),
        )
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.count("m").alias("n_missing_key"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# --------------------------------------------------------------------------
# A7: the console report as a GRADED query.  The reference's render stage
# (main.py:117-159) formats the stats dict to text lines: NaN -> "N/A",
# floats trimmed, api counts key-sorted.  pipeline.render_report does this
# driver-side for the CLI twin; this query builds the SAME lines as a
# DataFrame so the formatting semantics themselves are hash-graded.
# Formatting is cross-engine-safe: every float is round(...,6) first (so
# printf('%.6f') has no residual rounding decision), trailing zeros then
# the dangling '.' are trimmed on both sides.
# --------------------------------------------------------------------------
_REPORT_STATS_SQL = f"""
SELECT CAST(count(*) AS BIGINT) AS n_input,
       CAST(sum(CASE WHEN arrival_us < 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_negative,
       CAST(sum(CASE WHEN finish_us != -1 THEN 1 ELSE 0 END) AS BIGINT)
         AS processed,
       CAST(sum(CASE WHEN finish_us = -1 THEN 1 ELSE 0 END) AS BIGINT)
         AS rejected,
       round(CAST(sum(CASE WHEN finish_us != -1 AND start_us >= 0
                            AND arrival_us >= 0 AND start_us >= arrival_us
                           THEN start_us - arrival_us END) AS DOUBLE)
             / sum(CASE WHEN finish_us != -1 AND start_us >= 0
                         AND arrival_us >= 0 AND start_us >= arrival_us
                        THEN 1 ELSE 0 END) / 1000000, 6) AS avg_q,
       round(quantile_cont(CASE WHEN finish_us != -1 AND start_us >= 0
                                 AND arrival_us >= 0 AND start_us >= arrival_us
                                THEN (start_us - arrival_us) / 1000000 END,
                           0.5), 6) AS p50,
       round(quantile_cont(CASE WHEN finish_us != -1 AND start_us >= 0
                                 AND arrival_us >= 0 AND start_us >= arrival_us
                                THEN (start_us - arrival_us) / 1000000 END,
                           0.75), 6) AS p75,
       round(quantile_cont(CASE WHEN finish_us != -1 AND start_us >= 0
                                 AND arrival_us >= 0 AND start_us >= arrival_us
                                THEN (start_us - arrival_us) / 1000000 END,
                           0.9), 6) AS p90,
       round(quantile_cont(CASE WHEN finish_us != -1 AND start_us >= 0
                                 AND arrival_us >= 0 AND start_us >= arrival_us
                                THEN (start_us - arrival_us) / 1000000 END,
                           0.99), 6) AS p99,
       CAST(sum(CASE WHEN finish_us != -1
                      AND COALESCE(proc_us < 20000000, FALSE)
                     THEN 1 ELSE 0 END) AS BIGINT) AS prio_enq,
       CAST(sum(CASE WHEN finish_us != -1
                      AND NOT COALESCE(proc_us < 20000000, FALSE)
                     THEN 1 ELSE 0 END) AS BIGINT) AS norm_enq
FROM ({_SIM_RESULTS_SQL})
"""

#: DuckDB float rendering: N/A on null/NaN, else trimmed %.6f
def _duck_fmt(col: str) -> str:
    return (
        f"CASE WHEN {col} IS NULL OR isnan({col}) THEN 'N/A' "
        f"ELSE rtrim(rtrim(printf('%.6f', {col}), '0'), '.') END"
    )


_CONSOLE_REPORT_ORACLE = f"""
WITH s AS ({_REPORT_STATS_SQL}),
api AS (
  SELECT d.api_id, CAST(coalesce(c.cnt, 0) AS BIGINT) AS usage_count
  FROM (SELECT CAST(unnest(generate_series(1, 5)) AS INTEGER) AS api_id) d
  LEFT JOIN (
    SELECT used_api_id AS api_id, count(*) AS cnt
    FROM ({_SIM_RESULTS_SQL})
    WHERE finish_us != -1 AND used_api_id IS NOT NULL
      AND used_api_id BETWEEN 1 AND 5
    GROUP BY used_api_id
  ) c USING (api_id)
)
SELECT CAST(line_no AS BIGINT) AS line_no, line FROM (
  SELECT 1 AS line_no, 'total requests: ' || n_input AS line FROM s
  UNION ALL SELECT 2, 'requests with pre-epoch timestamps: ' || n_negative FROM s
  UNION ALL SELECT 3, 'processed: ' || processed FROM s
  UNION ALL SELECT 4, 'rejected: ' || rejected FROM s
  UNION ALL SELECT 5, 'average queuing time: ' || {_duck_fmt("avg_q")} FROM s
  UNION ALL SELECT 6, 'queuing time p50: ' || {_duck_fmt("p50")} FROM s
  UNION ALL SELECT 7, 'queuing time p75: ' || {_duck_fmt("p75")} FROM s
  UNION ALL SELECT 8, 'queuing time p90: ' || {_duck_fmt("p90")} FROM s
  UNION ALL SELECT 9, 'queuing time p99: ' || {_duck_fmt("p99")} FROM s
  UNION ALL SELECT 10, 'priority queue enqueued: ' || prio_enq FROM s
  UNION ALL SELECT 11, 'normal queue enqueued: ' || norm_enq FROM s
  UNION ALL SELECT 11 + api_id, 'api_' || api_id || ': ' || usage_count FROM api
)
"""


@register(
    "console_report",
    oracle=_CONSOLE_REPORT_ORACLE,
    description="A7 console/log sink as a graded query: the reference "
    "render stage (NaN->'N/A', trimmed float formatting, api counts "
    "key-sorted; /root/reference/main.py:117-159) built as a "
    "(line_no, line) DataFrame over the synthetic sim-results stats, so "
    "the formatting semantics are hash-checked cross-engine rather than "
    "only pytest-asserted (pipeline.render_report is the driver-side "
    "CLI twin).",
)
def q_console_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _synthetic_sim_results(spark, sf_dir)
    fin, start, arr = F.col("finish_us"), F.col("start_us"), F.col("arrival_us")
    is_proc = fin != -1
    valid = is_proc & (start >= 0) & (arr >= 0) & (start >= arr)
    qt_us = F.when(valid, start - arr)
    prio = F.coalesce(F.col("proc_us") < 20_000_000, F.lit(False))
    stats = base.withColumn("qt_s", qt_us / 1_000_000).agg(
        F.count(F.lit(1)).alias("n_input"),
        F.sum(F.when(arr < 0, 1).otherwise(0)).cast("long").alias("n_negative"),
        F.sum(F.when(is_proc, 1).otherwise(0)).cast("long").alias("processed"),
        F.sum(F.when(~is_proc, 1).otherwise(0)).cast("long").alias("rejected"),
        F.round(
            F.sum(qt_us).cast("double")
            / F.sum(F.when(valid, 1).otherwise(0))
            / 1_000_000,
            6,
        ).alias("avg_q"),
        F.expr(
            "percentile(qt_s, array(0.5D, 0.75D, 0.9D, 0.99D))"
        ).alias("pcts"),
        F.sum(F.when(is_proc & prio, 1).otherwise(0))
        .cast("long")
        .alias("prio_enq"),
        F.sum(F.when(is_proc & ~prio, 1).otherwise(0))
        .cast("long")
        .alias("norm_enq"),
    )
    p = F.col("pcts")
    stats = stats.select(
        "n_input",
        "n_negative",
        "processed",
        "rejected",
        "avg_q",
        F.round(p[0], 6).alias("p50"),
        F.round(p[1], 6).alias("p75"),
        F.round(p[2], 6).alias("p90"),
        F.round(p[3], 6).alias("p99"),
        "prio_enq",
        "norm_enq",
    )

    def fnum(name: str):
        c = F.col(name)
        trimmed = F.expr(
            f"trim(TRAILING '.' FROM trim(TRAILING '0' FROM "
            f"format_string('%.6f', {name})))"
        )
        return F.when(c.isNull() | F.isnan(c), F.lit("N/A")).otherwise(trimmed)

    def line(no: int, *parts):
        return F.struct(
            F.lit(no).cast("long").alias("line_no"),
            F.concat(*parts).alias("line"),
        )

    scalar_lines = stats.select(
        F.explode(
            F.array(
                line(1, F.lit("total requests: "), F.col("n_input").cast("string")),
                line(
                    2,
                    F.lit("requests with pre-epoch timestamps: "),
                    F.col("n_negative").cast("string"),
                ),
                line(3, F.lit("processed: "), F.col("processed").cast("string")),
                line(4, F.lit("rejected: "), F.col("rejected").cast("string")),
                line(5, F.lit("average queuing time: "), fnum("avg_q")),
                line(6, F.lit("queuing time p50: "), fnum("p50")),
                line(7, F.lit("queuing time p75: "), fnum("p75")),
                line(8, F.lit("queuing time p90: "), fnum("p90")),
                line(9, F.lit("queuing time p99: "), fnum("p99")),
                line(
                    10,
                    F.lit("priority queue enqueued: "),
                    F.col("prio_enq").cast("string"),
                ),
                line(
                    11,
                    F.lit("normal queue enqueued: "),
                    F.col("norm_enq").cast("string"),
                ),
            )
        ).alias("l")
    ).select("l.line_no", "l.line")
    api_lines = q_api_usage_zero_fill(spark, sf_dir).select(
        (F.lit(11) + F.col("api_id")).cast("long").alias("line_no"),
        F.concat(
            F.col("api_key"), F.lit(": "), F.col("usage_count").cast("string")
        ).alias("line"),
    )
    return scalar_lines.unionAll(api_lines)


def _scratch_dir(tag: str, sf_dir: str) -> str:
    """Per-(tag, dataset, PROCESS) scratch path under the system tmp dir.

    Sink round-trip queries write here with mode('overwrite') and read
    back lazily, so the dir must be stable WITHIN a process (repeated
    bench/correctness runs reuse one directory instead of accumulating a
    fresh mkdtemp leftover per build() call — bench times each query 3x)
    but private ACROSS processes: a driver grading run and a concurrent
    bench sample building the same query would otherwise race one
    non-atomic overwrite rewrite against the other's lazy read-back (the
    round-8-advice race class, fixed for the versioned lake table by its
    build-once stamp; round-trip queries rewrite by design — the write IS
    what the oracle grades — so isolation, not caching, is the fix here).
    Stale siblings from finished processes are swept by
    ``fixtures.sweep_stale``, so the per-pid suffix does not accumulate
    dirs.
    """
    import hashlib
    import os
    import tempfile
    from pathlib import Path

    from queue_system_simulator_spark.fixtures import sweep_stale

    h = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    prefix = f"qss_{tag}_{h}"  # also matches the pre-pid layout
    d = Path(tempfile.gettempdir()) / f"{prefix}_p{os.getpid()}"
    d.mkdir(parents=True, exist_ok=True)
    os.utime(d)  # our own dir is young: the sweep never takes it
    sweep_stale(d.parent, prefix)
    return str(d)


@register(
    "datalake_roundtrip",
    oracle="""
SELECT event_type,
       count(*) AS n,
       CAST(min(event_id) AS BIGINT) AS min_id,
       CAST(max(event_id) AS BIGINT) AS max_id,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_centi
FROM events
GROUP BY event_type
""",
    description="A5 Parquet sink as a graded query: events written through "
    "write_datalake (hive-partitioned by event_type, sorted within "
    "partitions by ts, maxRecordsPerFile bounded) to a fresh temp dir, "
    "read back through the partition-discovering reader, and aggregated — "
    "the oracle computes the same aggregate from the ORIGINAL table, so "
    "any row lost/duplicated/corrupted by the sink round-trip breaks the "
    "hash. Integer centi-value sums keep it exact.",
)
def q_datalake_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from queue_system_simulator_spark.sources.sink import write_datalake

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    out = _scratch_dir("datalake_rt", sf_dir)
    write_datalake(
        ev, out, partition_by=["event_type"], sort_within=["ts"],
        max_records_per_file=250_000,
    )
    # the writer's schema: partition discovery still runs, the footer
    # inference job does not
    back = spark.read.schema(ev.schema).parquet(out)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_centi"),
    )


def _pyds_u32(tag: str) -> str:
    from queue_system_simulator_spark.sources.generator import u32_hash_sql

    key = (
        "concat('pyds|42|', CAST(u AS VARCHAR), '|', "
        f"CAST(i AS VARCHAR), '|{tag}')"
    )
    return u32_hash_sql(key, pos_fn="strpos")


#: the request log's arrivals as epoch-ms offsets, graded for the batch
#: and the streaming reader of the same source
_REQUEST_LOG_SQL = f"""
WITH ids AS (
  SELECT u.u AS u, i.i AS i
  FROM (SELECT unnest(generate_series(0, 49)) AS u) u,
       (SELECT unnest(generate_series(0, 19)) AS i) i
), base AS (
  SELECT u, i,
         {_pyds_u32("gap")} % 901 + 100 AS gap_ms,
         {_pyds_u32("proc")} % 91 + 10 AS proc_ds
  FROM ids
)
SELECT concat('user_', CAST(u AS VARCHAR)) AS user_id,
       CAST(SUM(gap_ms) OVER (PARTITION BY u ORDER BY i
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS offset_ms,
       proc_ds / 10.0 AS processing_time
FROM base
"""


@register(
    "pyds_request_log",
    oracle=_REQUEST_LOG_SQL,
    description="§2 A source-extension surface, hash-graded: the custom "
    "Python DataSource (Spark 4 pyspark.sql.datasource, one task per "
    "user partition) read as spark.read.format('request_log'), arrivals "
    "re-expressed as epoch-ms offsets. The source's md5-derived uniforms "
    "are reproduced exactly by the DuckDB oracle — proving the "
    "partitioned source contract (deterministic under retry/scheduling) "
    "end to end, not just in pytest.",
)
def q_pyds_request_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    from queue_system_simulator_spark.sources.pyds_request_log import (
        register_request_log,
    )

    register_request_log(spark)
    df = (
        spark.read.format("request_log")
        .option("users", 50)
        .option("requests", 20)
        .option("seed", 42)
        .load()
    )
    epoch_ms = F.unix_millis(F.lit("2023-01-01T00:00:00+00:00").cast("timestamp"))
    return df.select(
        "user_id",
        (F.unix_millis("request_time") - epoch_ms).alias("offset_ms"),
        "processing_time",
    )


def _orders_roundtrip_sql(key: str) -> str:
    """The round-trip queries' oracle: the ORIGINAL orders, aggregated by
    ``key`` with exact integer centi-money."""
    return f"""
SELECT {key},
       count(*) AS n,
       CAST(min(o_orderkey) AS BIGINT) AS min_key,
       CAST(max(o_orderkey) AS BIGINT) AS max_key,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_centi
FROM orders
GROUP BY {key}
"""


@register(
    "orc_roundtrip",
    oracle=_orders_roundtrip_sql("o_orderstatus"),
    description="ORC sink/source round-trip as a graded query (the second "
    "columnar format Spark ships natively): orders written as "
    "zlib-compressed ORC partitioned by order status, read back through "
    "the ORC reader (predicate pushdown and column pruning work the same "
    "as parquet), and aggregated; the oracle aggregates the ORIGINAL "
    "table, so any row lost/duplicated/coerced by the format hop breaks "
    "the hash. Integer centi-money keeps it exact.",
)
def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    out = _scratch_dir("orc_rt", sf_dir)
    (
        orders.write.mode("overwrite")
        .option("compression", "zlib")
        .partitionBy("o_orderstatus")
        .orc(out)
    )
    back = spark.read.orc(out)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "sum_centi"
        ),
    )


@register(
    "pyds_request_log_stream",
    oracle=_REQUEST_LOG_SQL,
    description="§2 A source-extension surface, STREAMING twin: the same "
    "custom Python data source consumed as readStream (Spark 4 "
    "DataSourceStreamReader — row-index offsets, per-user partitions per "
    "micro-batch, replay-safe reads), drained with AvailableNow and "
    "graded against the SAME oracle as the batch source (a live run sets "
    "rows_per_batch to throttle offset advance per trigger; reads "
    "recompute from row 0 so batch boundaries cannot change a value — "
    "pinned by the slice and multi-batch tests in "
    "tests/test_sources.py). This is the contract for "
    "plugging a bespoke feed (queue snapshot service, internal log API) "
    "into Structured Streaming.",
)
def q_pyds_request_log_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from queue_system_simulator_spark.sources.pyds_request_log import (
        register_request_log,
    )
    from queue_system_simulator_spark.streaming.stream import run_available_now

    register_request_log(spark)
    stream = (
        spark.readStream.format("request_log")
        .option("users", 50)
        .option("requests", 20)
        .option("seed", 42)
        .load()
    )
    epoch_ms = F.unix_millis(
        F.lit("2023-01-01T00:00:00+00:00").cast("timestamp")
    )
    out = stream.select(
        "user_id",
        (F.unix_millis("request_time") - epoch_ms).alias("offset_ms"),
        "processing_time",
    )
    return run_available_now(out, output_mode="append")


@register(
    "jsonl_roundtrip",
    oracle=_orders_roundtrip_sql("o_orderstatus"),
    description="A5 sink/source surface, third format: orders written as "
    "partitioned gzip JSON-lines (the interchange format the reference's "
    "JSONL request source reads), read back with an explicit schema, and "
    "aggregated — the oracle aggregates the ORIGINAL table, so any row "
    "lost/duplicated/coerced by the text round-trip breaks the hash. "
    "Integer centi-money keeps it exact; floats survive because Spark's "
    "JSON writer emits shortest-round-trip doubles.",
)
def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    out = _scratch_dir("jsonl_rt", sf_dir)
    (
        orders.write.mode("overwrite")
        .option("compression", "gzip")
        .partitionBy("o_orderstatus")
        .json(out)
    )
    back = spark.read.schema(orders.schema).json(out)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "sum_centi"
        ),
    )


@register(
    "partition_pruned_scan",
    oracle="""
SELECT CAST(EXTRACT(hour FROM ts) AS INT) AS hr,
       count(*) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_centi
FROM events
WHERE event_type IN ('purchase', 'error')
GROUP BY CAST(EXTRACT(hour FROM ts) AS INT)
""",
    description="Partition pruning as a graded query — the 100 TB data-"
    "layout contract: events are written hive-partitioned by event_type "
    "(the write is reused across runs via the fixed scratch dir), then "
    "read back with a filter ON THE PARTITION COLUMN. Catalyst resolves "
    "the filter at planning time against the directory listing, so only "
    "the 2 matching partitions' files are ever opened — the scan carries "
    "PartitionFilters and PartitionCount: 2 (plan-guarded in "
    "tests/test_plans.py), and the other partitions cost zero I/O. The "
    "oracle applies the same predicate to the original table, so pruning "
    "that dropped or leaked rows would break the hash.",
)
def q_partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from queue_system_simulator_spark.sources.sink import write_datalake

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    out = _scratch_dir("part_prune", sf_dir)
    write_datalake(ev, out, partition_by=["event_type"], sort_within=["ts"])
    back = spark.read.parquet(out).filter(
        F.col("event_type").isin("purchase", "error")
    )
    return back.groupBy(F.hour("ts").cast("int").alias("hr")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_centi"),
    )


@register(
    "textlog_parse",
    oracle="""
SELECT event_type,
       count(*) AS n,
       CAST(sum(user_id) AS BIGINT) AS sum_users,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_centi
FROM events
WHERE event_id % 50 <> 0
GROUP BY event_type
""",
    description="A1/A3 over a RAW TEXT LOG — the fourth source format "
    "(after CSV/JSONL/ORC/parquet + the custom Python source): events are "
    "rendered to pipe-delimited log lines (every 50th line corrupted with "
    "a non-numeric id, mimicking real log noise), written via "
    "spark.write.text, read back with spark.read.text, and parsed row-"
    "side with from_csv(schema, sep='|') — bad lines yield NULL casts and "
    "are quarantined by a null-id filter, the same malformed-row contract "
    "as the CSV/JSONL sources (reference csv_parser.py:31-68). Parse and "
    "filter are map-only JVM expressions (no Python); the oracle applies "
    "the matching survivor predicate to the original table, so a parser "
    "that drops good lines or admits bad ones breaks the hash.",
)
def q_textlog_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    # render: every 50th event gets a deliberately unparsable id field
    line = F.concat_ws(
        "|",
        F.when(F.col("event_id") % 50 == 0, F.lit("BADID")).otherwise(
            F.col("event_id").cast("string")
        ),
        F.col("user_id").cast("string"),
        F.col("event_type"),
        F.format_number(F.col("value"), 6),
    )
    out = _scratch_dir("textlog", sf_dir)
    ev.select(line.alias("value")).write.mode("overwrite").text(out)
    raw = spark.read.text(out)
    parsed = raw.select(
        F.from_csv(
            F.col("value"),
            "event_id long, user_id long, event_type string, value_str string",
            {"sep": "|"},
        ).alias("r")
    ).select("r.*")
    # quarantine contract: unparsable ids become NULL and are dropped
    good = parsed.filter(F.col("event_id").isNotNull())
    # format_number renders with thousands separators; strip for the cast
    val = F.regexp_replace("value_str", ",", "").cast("double")
    return good.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("user_id").cast("long").alias("sum_users"),
        F.sum(F.round(val * 100).cast("long")).cast("long").alias("sum_centi"),
    )


@register(
    "binaryfile_ingest",
    oracle="""
SELECT i AS file_idx,
       CAST(32 * (i % 7 + 1) AS BIGINT) AS n_bytes,
       md5(repeat(md5('bf|' || CAST(i AS VARCHAR)), i % 7 + 1)) AS content_md5
FROM (SELECT unnest(generate_series(0, 63)) AS i)
""",
    description="Multimodal ingest surface: spark.read.format('binaryFile') "
    "— the canonical way raw image/audio/video blobs enter the engine as "
    "opaque binary columns with typed file metadata (path, length, "
    "content). 64 deterministic fixture blobs (md5-derived content, "
    "varying sizes) are laid down driver-side, read back through the "
    "binaryFile source (one task per file at scale; partition count "
    "follows maxPartitionBytes like any file source), and graded by "
    "(index, byte length, content md5) — any blob truncated, reordered, "
    "or mutated by the source breaks the hash. The decode step downstream "
    "of this surface is the mapInPandas multimodal family "
    "(multimodal_features / _arrow / frame_sample).",
)
def q_binaryfile_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os

    out = _scratch_dir("binfiles", sf_dir)
    for i in range(64):
        h = hashlib.md5(f"bf|{i}".encode()).hexdigest()
        payload = (h * (i % 7 + 1)).encode("ascii")
        path = os.path.join(out, f"blob_{i:04d}.bin")
        # deterministic content: rewrite only if changed/missing
        try:
            with open(path, "rb") as f:
                if f.read() == payload:
                    continue
        except OSError:
            pass
        with open(path, "wb") as f:
            f.write(payload)
    files = spark.read.format("binaryFile").load(out)
    idx = F.regexp_extract(
        F.col("path"), r"blob_(\d+)\.bin$", 1
    ).cast("long")
    return files.select(
        idx.alias("file_idx"),
        F.length("content").cast("long").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
    )


@register(
    "schema_evolution_mergeread",
    oracle="""
WITH e AS (
  SELECT event_id % 2 AS batch,
         CASE WHEN event_id % 2 = 1
              THEN CAST(round(value * 100) AS BIGINT) END AS vc
  FROM events
)
SELECT CAST(batch AS BIGINT) AS batch,
       count(*) AS n_rows,
       CAST(count(*) - count(vc) AS BIGINT) AS n_null_centi,
       CAST(coalesce(sum(vc), 0) AS BIGINT) AS sum_centi
FROM e GROUP BY batch
""",
    description="Schema evolution across a partitioned lake: batch 0 is "
    "written WITHOUT the value_centi column, batch 1 WITH it (two "
    "separate parquet writes under one root, hive-style batch= dirs), "
    "then ONE mergeSchema read reconciles both file schemas — old files "
    "surface the new column as NULL, the partition column materializes "
    "from directory names. The aggregate (rows / nulls / integer sum per "
    "batch) is graded against the source table, so a reader that "
    "dropped, duplicated, or mis-nulled rows during schema merge breaks "
    "the hash. This is the append-only evolution path a 100 TB lake "
    "lives on: no rewrite of old files when a column lands, schema "
    "reconciliation at read time (footer-merge cost only; fixed columns "
    "would skip the merge).",
)
def q_schema_evolution_mergeread(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        (F.col("event_id") % 2).alias("batch"),
        F.round(F.col("value") * 100).cast("long").alias("vc"),
    )
    root = _scratch_dir("schema_evo", sf_dir)
    ev.filter(F.col("batch") == 0).select("event_id").write.mode(
        "overwrite"
    ).parquet(os.path.join(root, "batch=0"))
    ev.filter(F.col("batch") == 1).select(
        "event_id", F.col("vc").alias("value_centi")
    ).write.mode("overwrite").parquet(os.path.join(root, "batch=1"))
    merged = spark.read.option("mergeSchema", "true").parquet(root)
    return merged.groupBy("batch").agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.count("value_centi")).alias("n_null_centi"),
        F.coalesce(F.sum("value_centi"), F.lit(0)).alias("sum_centi"),
    )


@register(
    "compressed_roundtrip",
    oracle="""
SELECT 'csv_gzip' AS codec_path, event_type, count(*) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_centi
FROM events GROUP BY event_type
UNION ALL
SELECT 'parquet_zstd', event_type, count(*),
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
FROM events GROUP BY event_type
""",
    description="Compression-codec round-trips: the same events frame "
    "written as gzip CSV and zstd parquet, each read back through the "
    "codec-detecting readers and aggregated — the oracle computes the "
    "identical aggregate from the ORIGINAL table, so any row lost or "
    "value corrupted by either codec path breaks the hash. zstd parquet "
    "is the 100 TB lake default (ratio ≈ gzip at ~3× decode speed); "
    "gzip CSV is what upstream exports actually deliver. Integer cents "
    "keep both paths exact; timestamps ride as ISO strings in the CSV "
    "leg (CSV has no native timestamp) and are not part of the grade.",
)
def q_compressed_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("vc"),
    )
    root = _scratch_dir("codec_rt", sf_dir)
    csv_dir = os.path.join(root, "csv_gz")
    pq_dir = os.path.join(root, "pq_zstd")
    ev.write.mode("overwrite").option("compression", "gzip").option(
        "header", True
    ).csv(csv_dir)
    ev.write.mode("overwrite").option("compression", "zstd").parquet(pq_dir)
    csv_back = (
        spark.read.option("header", True)
        .schema("event_id long, event_type string, vc long")
        .csv(csv_dir)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"), F.sum("vc").alias("sum_centi")
        )
        .select(
            F.lit("csv_gzip").alias("codec_path"),
            "event_type",
            "n",
            "sum_centi",
        )
    )
    pq_back = (
        spark.read.parquet(pq_dir)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("vc").alias("sum_centi"))
        .select(
            F.lit("parquet_zstd").alias("codec_path"),
            "event_type",
            "n",
            "sum_centi",
        )
    )
    return csv_back.unionAll(pq_back)


@register(
    "xml_roundtrip",
    oracle=_orders_roundtrip_sql("o_orderpriority"),
    description="A5 sink/source surface, XML: orders written as XML "
    "(Spark 4's built-in XML source — rowTag records, one file per "
    "partition, fully parallel on both sides), read back with an "
    "explicit schema, and aggregated; the oracle aggregates the ORIGINAL "
    "table, so any row lost, duplicated, or value-coerced by the "
    "markup round-trip breaks the hash. Integer centi-money keeps the "
    "comparison exact — the same contract as the JSONL/ORC/CSV-codec "
    "round-trips, extending the interchange-format matrix to the last "
    "format enterprises actually ship.",
)
def q_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    out = _scratch_dir("xml_rt", sf_dir)
    (
        orders.write.mode("overwrite")
        .format("xml")
        .option("rowTag", "order")
        .save(out)
    )
    back = (
        spark.read.schema(orders.schema)
        .format("xml")
        .option("rowTag", "order")
        .load(out)
    )
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "sum_centi"
        ),
    )
