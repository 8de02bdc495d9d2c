"""Queries exercising the DES kernel (SURVEY §2 E) through
``groupBy().applyInPandas``.

``kernel_fifo_k1`` is the oracle bridge: the kernel run in FIFO/k=1 mode is
checked bit-for-bit against the closed-form window SQL (the E1 special
case), so at least one full kernel path is DuckDB-verified — the
reference-faithful priority/limiter path is covered by seeded golden tests
(tests/test_kernel.py) and a rows-only driver check.

Exactness: the kernel is fed *integer microseconds represented as doubles*
(exact up to 2^53 ≫ any timestamp here), so its Python arithmetic
(max/add/subtract) is exact and matches the closed form's integer math.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from queue_system_simulator_spark.localframe import local_df
from queue_system_simulator_spark.operators.fifo import fifo_k1_timeline_sql
from queue_system_simulator_spark.operators.kernel import SimParams, simulate
from queue_system_simulator_spark.plans.registry import register
from queue_system_simulator_spark.schema import load_table

_KERNEL_FIFO_ORACLE = f"""
SELECT group_id AS user_id, seq, arrival_s, start_s, finish_s, queuing_s
FROM ({fifo_k1_timeline_sql("SELECT * FROM events")})
"""


def _events_micro(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.col("user_id").cast("string").alias("user_id"),
        F.col("event_id").alias("seq"),
        F.unix_micros("ts").cast("double").alias("sim_arrival_time"),
        # clamp at 0: the DES clock never runs backward, so a negative
        # duration in regenerated testdata would silently diverge the kernel
        # from the recurrence oracles (ADVICE r2) — pin both sides to >= 0
        F.greatest(F.round(F.col("value") * 100).cast("long") * 10_000, F.lit(0))
        .cast("double")
        .alias("processing_time"),
    )


@register(
    "kernel_fifo_k1",
    oracle=_KERNEL_FIFO_ORACLE,
    description="The DES kernel (applyInPandas, one group per user) in "
    "FIFO/k=1 mode, verified bit-for-bit against the closed-form window "
    "recurrence — the kernel↔SQL oracle bridge (SURVEY §7 step 4 cross-check B).",
)
def q_kernel_fifo_k1(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _events_micro(spark, sf_dir)
    params = SimParams(num_workers=1, queue_mode="fifo", queue_max_size=None)
    res = simulate(df, params, group_cols=["user_id"])
    m = 1_000_000
    return res.select(
        "user_id",
        "seq",
        (F.col("sim_arrival_time") / m).alias("arrival_s"),
        (F.col("start_processing_time_by_worker") / m).alias("start_s"),
        (F.col("finish_processing_time_by_worker") / m).alias("finish_s"),
        (
            (
                F.col("start_processing_time_by_worker")
                - F.col("arrival_time_in_queue")
            )
            / m
        ).alias("queuing_s"),
    )


# The recursive DES oracles' text.  _KERNEL_REQ_SQL opens the request
# rows ``req``, one per event in integer microseconds (arrival ``a_us``,
# processing ``p_us`` clamped at 0), and each kernel adds its own
# columns.  _SIM_SEED_SQL is the seed row's empty request, and
# _SIM_TIMES_SQL the first output columns, in seconds.  _FIFO_SIM_SQL
# opens the oracles that serve requests in arrival order ``rn``, one per
# step, up to the seed row's kernel state.
_KERNEL_REQ_SQL = """\
WITH RECURSIVE req AS (
  SELECT CAST(user_id AS VARCHAR) AS user_id,
         event_id AS seq,
         epoch_us(ts) AS a_us,
         greatest(CAST(round(value * 100) AS BIGINT) * 10000, 0) AS p_us,"""
_SIM_SEED_SQL = """\
         CAST(NULL AS BIGINT) AS seq,
         CAST(NULL AS BIGINT) AS a_us,
         CAST(NULL AS BIGINT) AS s_us,
         CAST(NULL AS BIGINT) AS f_us,"""
_SIM_TIMES_SQL = """\
SELECT user_id, seq,
       a_us / 1000000 AS arrival_s,
       s_us / 1000000 AS start_s,"""
_FIFO_SIM_SQL = f"""\
{_KERNEL_REQ_SQL}
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts), event_id) AS rn
  FROM events
),
sim AS (
  SELECT user_id,
         CAST(0 AS BIGINT) AS rn,
{_SIM_SEED_SQL}"""


#: Exact DuckDB twin of the k=1 bounded-FIFO kernel (E1 admission control).
#: Sequential state per group = (finish of last admitted job, start times of
#: jobs still waiting).  An arrival at t sees queue depth = #{starts >= t}
#: (jobs started before t are in service or done; the dequeue scheduled at
#: exactly t happens AFTER the arrival drain in the kernel's fixed-point
#: loop, so starts == t still count as waiting — reference
#: /root/reference/src/simulator.py:195-258 pass ordering).  Reject at
#: depth >= Q with the −1 sentinel (simulator.py:213-215), else
#: start = max(arrival, last_finish) — the Lindley recurrence.  The
#: recursive CTE steps one request per group per iteration; every group
#: advances in lockstep, so recursion depth = max requests per group.
_BOUNDED_Q = 3

_KERNEL_BOUNDED_ORACLE = f"""
{_FIFO_SIM_SQL}
         FALSE AS rejected,
         CAST(0 AS BIGINT) AS f_last,
         CAST([] AS BIGINT[]) AS waiting_starts
  FROM (SELECT DISTINCT user_id FROM req)
  UNION ALL
  SELECT r.user_id, r.rn, r.seq, r.a_us,
         CASE WHEN len(list_filter(s.waiting_starts, x -> x >= r.a_us))
                   >= {_BOUNDED_Q}
              THEN NULL ELSE greatest(r.a_us, s.f_last) END,
         CASE WHEN len(list_filter(s.waiting_starts, x -> x >= r.a_us))
                   >= {_BOUNDED_Q}
              THEN -1 ELSE greatest(r.a_us, s.f_last) + r.p_us END,
         len(list_filter(s.waiting_starts, x -> x >= r.a_us)) >= {_BOUNDED_Q},
         CASE WHEN len(list_filter(s.waiting_starts, x -> x >= r.a_us))
                   >= {_BOUNDED_Q}
              THEN s.f_last ELSE greatest(r.a_us, s.f_last) + r.p_us END,
         CASE WHEN len(list_filter(s.waiting_starts, x -> x >= r.a_us))
                   >= {_BOUNDED_Q}
              THEN list_filter(s.waiting_starts, x -> x >= r.a_us)
              ELSE list_append(list_filter(s.waiting_starts, x -> x >= r.a_us),
                               greatest(r.a_us, s.f_last)) END
  FROM sim s JOIN req r ON r.user_id = s.user_id AND r.rn = s.rn + 1
)
{_SIM_TIMES_SQL}
       CASE WHEN rejected THEN -1.0 ELSE f_us / 1000000 END AS finish_s,
       CASE WHEN rejected THEN 'rejected' ELSE 'success' END AS status
FROM sim WHERE rn > 0
"""


@register(
    "kernel_fifo_bounded_oracle",
    oracle=_KERNEL_BOUNDED_ORACLE,
    description="Bounded-FIFO admission control (E1), driver-graded: the "
    "DES kernel with k=1, queue_max_size=3 checked against an exact "
    "sequential-recurrence oracle (recursive CTE carrying per-group "
    "(last_finish, waiting-start list) state). Arrivals hitting a full "
    "queue get the reference's −1 finish sentinel "
    "(/root/reference/src/simulator.py:213-215).",
)
def q_kernel_fifo_bounded_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _events_micro(spark, sf_dir)
    # rate limiter disabled (one API, effectively infinite RPM): this query
    # isolates E1 admission semantics; E5/E6 limiter paths are graded by
    # rate_limit_sliding and covered by tests/test_kernel.py
    params = SimParams(
        num_workers=1,
        queue_mode="fifo",
        queue_max_size=_BOUNDED_Q,
        num_apis=1,
        rpm_limit=1_000_000_000,
    )
    res = simulate(df, params, group_cols=["user_id"])
    m = 1_000_000
    rejected = F.col("finish_processing_time_by_worker") == -1.0
    return res.select(
        "user_id",
        "seq",
        (F.col("sim_arrival_time") / m).alias("arrival_s"),
        F.when(rejected, F.lit(None)).otherwise(
            F.col("start_processing_time_by_worker") / m
        ).alias("start_s"),
        F.when(rejected, F.lit(-1.0)).otherwise(
            F.col("finish_processing_time_by_worker") / m
        ).alias("finish_s"),
        "status",
    )


@register(
    "kernel_fifo_bounded",
    oracle=None,  # admission control feeds back through queue occupancy —
    # a recurrence on the full system state, not window-expressible; covered
    # by invariants in tests/test_kernel.py and the driver's rows-only check
    description="Bounded-FIFO mode with LIVE admission control (SURVEY §2 "
    "quirk 1's other branch): queue_max_size=3, k=2 workers — arrivals "
    "hitting a full queue get the reference's −1 finish sentinel and "
    "status='rejected', sorted last (D2). Exercises E1 rejection + C1 "
    "split + sentinel ordering end-to-end.",
)
def q_kernel_fifo_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _events_micro(spark, sf_dir)
    params = SimParams(num_workers=2, queue_mode="fifo", queue_max_size=3)
    res = simulate(df, params, group_cols=["user_id"])
    m = 1_000_000
    rejected = F.col("finish_processing_time_by_worker") == -1.0
    return res.select(
        "user_id",
        "seq",
        (F.col("sim_arrival_time") / m).alias("arrival_s"),
        F.when(rejected, F.lit(None)).otherwise(
            F.col("start_processing_time_by_worker") / m
        ).alias("start_s"),
        F.when(rejected, F.lit(-1.0)).otherwise(
            F.col("finish_processing_time_by_worker") / m
        ).alias("finish_s"),
        "status",
    )


@register(
    "kernel_priority_sim",
    oracle=None,  # RNG-coupled priority dequeue + limiter feedback: not
    # SQL-expressible; covered by seeded golden tests instead
    description="Full reference semantics: priority two-class queue "
    "(threshold 20 s, bias 0.8, seeded RNG), k=4 workers, 5 APIs × 60 RPM "
    "sliding-window limiter with round-robin fallback — one independent "
    "simulation per user-shard group (scenario-sweep parallelism).",
)
def q_kernel_priority_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    df = ev.select(
        # one independent scenario per user-shard: 32 runs here, and the
        # axis that scales to millions of runs on a cluster
        (F.col("user_id") % 32).alias("run_id"),
        F.col("user_id").cast("string").alias("user_id"),
        F.col("event_id").alias("seq"),
        ((F.unix_micros("ts") - F.lit(1_704_067_200_000_000)) / 1_000_000).alias(
            "sim_arrival_time"
        ),
        F.col("value").alias("processing_time"),
    )
    params = SimParams(
        num_workers=4,
        queue_mode="priority",
        priority_threshold_seconds=20.0,
        priority_bias=0.8,
        num_apis=5,
        rpm_limit=60,
        seed=42,
    )
    res = simulate(df, params, group_cols=["run_id"])
    return res.select(
        "run_id",
        "seq",
        "user_id",
        "sim_arrival_time",
        "processing_time",
        "arrival_time_in_queue",
        "start_processing_time_by_worker",
        "finish_processing_time_by_worker",
        "used_api_id",
        "status",
        "priority_enqueued_total",
        "normal_enqueued_total",
    )


@register(
    "kernel_param_sweep",
    oracle=None,  # RNG/limiter-coupled like the single-scenario kernel runs
    description="Scenario-sweep: ONE job simulates a 6-cell parameter grid "
    "(workers 1/2/4 x RPM 30/60) x 8 user-shards = 48 independent DES "
    "groups, each group reading its own params from columns "
    "(simulate's param_cols, on the kernel's one sharded path); output is "
    "per-scenario aggregate stats. This is the "
    "100 TB posture made literal - a million-cell sweep is just a million "
    "groups.",
)
def q_kernel_param_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        (F.col("user_id") % 8).alias("tenant"),
        F.col("user_id").cast("string").alias("user_id"),
        F.col("event_id").alias("seq"),
        ((F.unix_micros("ts") - F.lit(1_704_067_200_000_000)) / 1_000_000).alias(
            "sim_arrival_time"
        ),
        F.col("value").alias("processing_time"),
    )
    grid = local_df(
        spark, [(k, rpm) for k in (1, 2, 4) for rpm in (30, 60)], "k int, rpm int"
    )
    swept = base.crossJoin(F.broadcast(grid))
    params = SimParams(queue_mode="priority", seed=42)
    res = simulate(
        swept,
        params,
        group_cols=["k", "rpm", "tenant"],
        param_cols={"num_workers": "k", "rpm_limit": "rpm"},
    )
    qt = F.col("start_processing_time_by_worker") - F.col("arrival_time_in_queue")
    return (
        res.groupBy("k", "rpm")
        .agg(
            F.count(F.lit(1)).alias("processed"),
            F.round(F.avg(qt), 6).alias("avg_queuing_time"),
            F.sum(
                F.when(F.col("status") == "failed_api_limit", 1).otherwise(0)
            ).cast("long").alias("n_api_limited"),
        )
        .orderBy("k", "rpm")
    )


#: Exact DuckDB twin of the STRICT-priority (bias=1.0) two-class kernel
#: (E2 with the probabilistic dequeue pinned deterministic): single worker,
#: priority class = processing < 20 s (micros-scale), dequeue always
#: prefers priority then falls back (reference corrected dequeue,
#: /root/reference/src/queue_manager.py:188-221, rng.random() < 1.0 always
#: true), FIFO within class, arrivals at exactly the dequeue instant are
#: eligible (drain-before-dequeue pass ordering, simulator.py:195-258).
#: The recursive CTE serves ONE job per group per step: state = (last
#: finish, pending list of (cls, a_us, seq, p_us) structs); the next
#: service instant is max(last_finish, earliest pending arrival), the
#: served job is the lexicographic min struct among those arrived by then.
_KERNEL_PRIORITY_ORACLE = f"""
{_KERNEL_REQ_SQL}
         CASE WHEN greatest(CAST(round(value * 100) AS BIGINT) * 10000, 0) < 20000000
              THEN 0 ELSE 1 END AS cls
  FROM events
),
sim AS (
  SELECT user_id,
         CAST(0 AS BIGINT) AS step,
{_SIM_SEED_SQL}
         CAST(NULL AS BIGINT) AS cls,
         CAST(0 AS BIGINT) AS f_last,
         pending
  FROM (
    SELECT user_id,
           list(struct_pack(cls := cls, a_us := a_us, seq := seq,
                            p_us := p_us)) AS pending
    FROM req GROUP BY user_id
  )
  UNION ALL
  SELECT user_id, step + 1,
         c.seq, c.a_us, cut, cut + c.p_us, c.cls,
         cut + c.p_us,
         list_filter(pending, x -> x.seq <> c.seq)
  FROM (
    SELECT user_id, step, f_last, pending, cut,
           list_sort(list_filter(pending, x -> x.a_us <= cut))[1] AS c
    FROM (
      SELECT *,
             greatest(f_last,
                      list_min(list_transform(pending, x -> x.a_us))) AS cut
      FROM sim
      WHERE len(pending) > 0
    )
  )
)
{_SIM_TIMES_SQL}
       f_us / 1000000 AS finish_s,
       (s_us - a_us) / 1000000 AS queuing_s,
       CAST(cls = 0 AS BOOLEAN) AS is_priority,
       step AS service_order
FROM sim WHERE step > 0
"""


@register(
    "kernel_priority_oracle",
    oracle=_KERNEL_PRIORITY_ORACLE,
    description="Two-class priority kernel (E2), driver-graded: the DES "
    "kernel with queue_mode=priority and the probabilistic dequeue pinned "
    "deterministic (bias=1.0 -> always prefer the priority class, the "
    "reference's corrected dequeue with rng.random()<1.0 always true), "
    "k=1, limiter disabled — checked against an exact recursive-CTE "
    "oracle that serves one job per step from a pending-list state. "
    "Grades the E2 routing (processing<threshold -> priority, FIFO within "
    "class, drain-before-dequeue eligibility) that kernel_priority_sim "
    "can only rows-check (its bias<1 path is RNG-coupled by design).",
)
def q_kernel_priority_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _events_micro(spark, sf_dir)
    params = SimParams(
        num_workers=1,
        queue_mode="priority",
        priority_bias=1.0,
        # _events_micro passes processing_time in MICROSECONDS; the
        # threshold must be on the same scale (20 s = 2e7 µs)
        priority_threshold_seconds=20_000_000.0,
        num_apis=1,
        rpm_limit=1_000_000_000,
    )
    res = simulate(df, params, group_cols=["user_id"])
    m = 1_000_000
    # service_order tie-break mirrors the oracle's struct-min serve order:
    # when processing_time rounds to 0 several serves can share one start
    # instant, and the kernel (like the oracle) serves the priority class
    # first, then FIFO within class — so order by (start, class, arrival,
    # seq), not just (start, seq) (ADVICE r2)
    w = Window.partitionBy("user_id").orderBy(
        "start_processing_time_by_worker",
        (F.col("processing_time") >= 20_000_000.0).cast("int"),
        "sim_arrival_time",
        "seq",
    )
    return res.select(
        "user_id",
        "seq",
        (F.col("sim_arrival_time") / m).alias("arrival_s"),
        (F.col("start_processing_time_by_worker") / m).alias("start_s"),
        (F.col("finish_processing_time_by_worker") / m).alias("finish_s"),
        (
            (F.col("start_processing_time_by_worker") - F.col("sim_arrival_time"))
            / m
        ).alias("queuing_s"),
        (F.col("processing_time") < 20_000_000.0).alias("is_priority"),
        F.row_number().over(w).cast("long").alias("service_order"),
    )


#: Exact DuckDB twin of the k=2 FIFO kernel (E3 k-worker semantics, timing
#: view): FIFO service order == arrival order, so the recursive CTE steps
#: one request per group (like the bounded oracle) carrying the two
#: busy-until slots as state.  Request i starts at
#: max(arrival_i, min(busy)) — the earliest-free worker; the worker-id
#: ascending scan (quirk 4) decides WHICH slot when both are free, which
#: affects ids only, not times, so the timing recurrence replaces the
#: freed min slot.  Limiter disabled to isolate E3.
_KERNEL_K2_ORACLE = f"""
{_FIFO_SIM_SQL}
         CAST(0 AS BIGINT) AS busy1,
         CAST(0 AS BIGINT) AS busy2
  FROM (SELECT DISTINCT user_id FROM req)
  UNION ALL
  SELECT r.user_id, r.rn, r.seq, r.a_us,
         greatest(r.a_us, least(s.busy1, s.busy2)),
         greatest(r.a_us, least(s.busy1, s.busy2)) + r.p_us,
         least(greatest(r.a_us, least(s.busy1, s.busy2)) + r.p_us,
               greatest(s.busy1, s.busy2)),
         greatest(greatest(r.a_us, least(s.busy1, s.busy2)) + r.p_us,
                  greatest(s.busy1, s.busy2))
  FROM sim s JOIN req r ON r.user_id = s.user_id AND r.rn = s.rn + 1
)
{_SIM_TIMES_SQL}
       f_us / 1000000 AS finish_s,
       (s_us - a_us) / 1000000 AS queuing_s
FROM sim WHERE rn > 0
"""


@register(
    "kernel_fifo_k2_oracle",
    oracle=_KERNEL_K2_ORACLE,
    description="k-worker semantics (E3), driver-graded: the DES kernel "
    "with k=2 workers in FIFO mode against the exact two-slot recurrence "
    "start_i = max(arrival_i, min(busy_until)) — FIFO preserves arrival "
    "order, so a recursive CTE stepping one request per group carries "
    "both busy-until slots as state. Worker-id assignment (ascending "
    "scan, quirk 4) affects only which physical worker serves, never the "
    "times; the limiter is disabled to isolate E3.",
)
def q_kernel_fifo_k2_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _events_micro(spark, sf_dir)
    params = SimParams(
        num_workers=2,
        queue_mode="fifo",
        queue_max_size=None,
        num_apis=1,
        rpm_limit=1_000_000_000,
    )
    res = simulate(df, params, group_cols=["user_id"])
    m = 1_000_000
    return res.select(
        "user_id",
        "seq",
        (F.col("sim_arrival_time") / m).alias("arrival_s"),
        (F.col("start_processing_time_by_worker") / m).alias("start_s"),
        (F.col("finish_processing_time_by_worker") / m).alias("finish_s"),
        (
            (F.col("start_processing_time_by_worker") - F.col("sim_arrival_time"))
            / m
        ).alias("queuing_s"),
    )


#: Exact DuckDB twin of the E5+E6 limiter path: FIFO/k=1 over ONE global
#: run with num_apis=5, rpm_limit=1 — the per-API sliding window plus the
#: round-robin fallback from the last successful index
#: (/root/reference/src/api_client.py:13-24,26-90) is fully deterministic
#: (no RNG anywhere in the limiter), so used_api_id is hash-gradable.
#: Time is fed in whole SECONDS (exact integers) so the limiter's
#: 60-unit window binds: with rpm_limit=1 an API that served a call is
#: closed for 60 s, and with mean service ~50 s the rotation advances on
#: nearly every call.  State per step = (f_last, current index, last stamp
#: per API — rpm_limit=1 collapses each window deque to one timestamp).
_KERNEL_API_ORACLE = """
WITH RECURSIVE req AS (
  SELECT * FROM (
    SELECT event_id AS seq,
           epoch_us(ts) // 1000000 AS a_s,
           greatest(CAST(round(value) AS BIGINT), 0) AS p_s,
           row_number() OVER (ORDER BY epoch_us(ts) // 1000000, event_id) AS rn
    FROM events
  ) WHERE rn <= 2500
),
sim AS (
  SELECT CAST(0 AS BIGINT) AS rn, CAST(NULL AS BIGINT) AS seq,
         CAST(NULL AS BIGINT) AS a_s, CAST(NULL AS BIGINT) AS s_s,
         CAST(NULL AS BIGINT) AS f_s, CAST(NULL AS INTEGER) AS api,
         CAST(0 AS BIGINT) AS f_last, CAST(0 AS INTEGER) AS cur,
         CAST(0 AS BIGINT) AS l0, CAST(0 AS BIGINT) AS l1,
         CAST(0 AS BIGINT) AS l2, CAST(0 AS BIGINT) AS l3,
         CAST(0 AS BIGINT) AS l4
  UNION ALL
  SELECT rn, seq, a_s, s, s + p_s, chosen_api,
         s + p_s,
         CAST(coalesce(chosen_api - 1, cur) AS INTEGER),
         CASE WHEN chosen_api = 1 THEN s ELSE l0 END,
         CASE WHEN chosen_api = 2 THEN s ELSE l1 END,
         CASE WHEN chosen_api = 3 THEN s ELSE l2 END,
         CASE WHEN chosen_api = 4 THEN s ELSE l3 END,
         CASE WHEN chosen_api = 5 THEN s ELSE l4 END
  FROM (
    SELECT *,
           CASE WHEN mincost = 99 THEN NULL
                WHEN c0 = mincost THEN 1 WHEN c1 = mincost THEN 2
                WHEN c2 = mincost THEN 3 WHEN c3 = mincost THEN 4
                ELSE 5 END AS chosen_api
    FROM (
      SELECT *, least(c0, c1, c2, c3, c4) AS mincost
      FROM (
        SELECT r.rn, r.seq, r.a_s, r.p_s, s.cur,
               s.l0, s.l1, s.l2, s.l3, s.l4,
               greatest(r.a_s, s.f_last) AS s,
               CASE WHEN s.l0 = 0 OR greatest(r.a_s, s.f_last) - s.l0 > 60
                    THEN (0 - s.cur + 5) % 5 ELSE 99 END AS c0,
               CASE WHEN s.l1 = 0 OR greatest(r.a_s, s.f_last) - s.l1 > 60
                    THEN (1 - s.cur + 5) % 5 ELSE 99 END AS c1,
               CASE WHEN s.l2 = 0 OR greatest(r.a_s, s.f_last) - s.l2 > 60
                    THEN (2 - s.cur + 5) % 5 ELSE 99 END AS c2,
               CASE WHEN s.l3 = 0 OR greatest(r.a_s, s.f_last) - s.l3 > 60
                    THEN (3 - s.cur + 5) % 5 ELSE 99 END AS c3,
               CASE WHEN s.l4 = 0 OR greatest(r.a_s, s.f_last) - s.l4 > 60
                    THEN (4 - s.cur + 5) % 5 ELSE 99 END AS c4
        FROM sim s JOIN req r ON r.rn = s.rn + 1
      )
    )
  )
)
SELECT seq,
       CAST(a_s AS DOUBLE) AS arrival_s,
       CAST(s_s AS DOUBLE) AS start_s,
       CAST(f_s AS DOUBLE) AS finish_s,
       api AS used_api_id,
       CASE WHEN api IS NULL THEN 'failed_api_limit' ELSE 'success' END
         AS status
FROM sim WHERE rn > 0
"""


@register(
    "kernel_api_rotation_oracle",
    oracle=_KERNEL_API_ORACLE,
    description="Round-robin API fallback + sliding-window limiter (E5+E6), "
    "driver-graded: one global FIFO/k=1 run with 5 APIs at rpm_limit=1 on "
    "a seconds-scale clock, so each successful call closes its API for "
    "60 s and the rotation from the last successful index advances on "
    "nearly every call. The limiter has no RNG, so used_api_id is exact; "
    "the oracle recursive CTE carries (last finish, rotation index, last "
    "stamp per API) and picks the minimum rotation distance among open "
    "APIs — reference api_client.py:13-24,26-90 semantics including "
    "quirk 2 (saturation fails the call but still consumes service time). "
    "NOTE: this plan globally orders a bounded 2500-event prefix into one "
    "sequential limiter pass — a fixture-scale ORACLE BRIDGE for grading "
    "only; the production path is the per-group kernel (simulate() over "
    "group_cols), which parallelizes across tenants/runs and never holds "
    "a global order.",
)
def q_kernel_api_rotation_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    df = (
        ev.select(
            F.lit("g").alias("run"),
            F.lit("g").alias("user_id"),
            F.col("event_id").alias("seq"),
            (F.unix_micros("ts") / F.lit(1_000_000)).cast("long")
            .cast("double")
            .alias("sim_arrival_time"),
            F.round(F.col("value")).cast("double").alias("processing_time"),
        )
        # the run is ONE inherently-sequential global group (a shared
        # limiter cannot parallelize); bound it to a deterministic
        # 2500-event prefix so the lockstep recursive oracle stays
        # O(prefix^2) cheap — the kernel's scale axis is many groups,
        # not one long one.  orderBy+limit plans as TakeOrderedAndProject
        # (distributed per-partition top-K merged on the driver); the
        # previous row_number prefix was an UNPARTITIONED window that
        # single-partition-sorted the whole table — caught by WindowExec's
        # warning on the 1 B-row probe (round 12)
        .orderBy("sim_arrival_time", "seq")
        .limit(2500)
    )
    params = SimParams(
        num_workers=1, queue_mode="fifo", queue_max_size=None,
        num_apis=5, rpm_limit=1,
    )
    res = simulate(df, params, group_cols=["run"])
    return res.select(
        "seq",
        F.col("sim_arrival_time").alias("arrival_s"),
        F.col("start_processing_time_by_worker").alias("start_s"),
        F.col("finish_processing_time_by_worker").alias("finish_s"),
        "used_api_id",
        "status",
    )
