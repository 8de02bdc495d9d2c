"""Derived-column, filter, and sort operators (SURVEY §2 B/C/D).

All are pure Column expressions / DataFrame transforms — JVM-side, inside
whole-stage codegen, pushdown-friendly.  Each cites the reference behavior it
reproduces.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Priority-queue routing threshold and bias
#: (``/root/reference/src/queue_manager.py:105,118``).
PRIORITY_THRESHOLD_SECONDS = 20.0
PRIORITY_BIAS = 0.8

#: Rejection sentinel (``/root/reference/src/simulator.py:214``).
REJECTED_SENTINEL = -1.0


def _sql_string(value: str) -> str:
    """``value`` as a Spark SQL string literal."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def with_sim_arrival_time(
    df: DataFrame, epoch: str, ts_col: str = "request_time"
) -> DataFrame:
    """B1: relative arrival seconds vs a fixed epoch.

    Reference: ``(request_time − SIMULATION_START_TIME).total_seconds()``
    (``/root/reference/main.py:13,51-65``).
    Timestamps cast to DOUBLE keep their microseconds; ``unix_timestamp``
    would truncate them (SURVEY §2 B1 note).
    """
    return df.withColumn(
        "sim_arrival_time",
        F.expr(
            f"CAST(`{ts_col}` AS DOUBLE)"
            f" - CAST(CAST({_sql_string(epoch)} AS TIMESTAMP) AS DOUBLE)"
        ),
    )


def with_queuing_time(df: DataFrame) -> DataFrame:
    """B2: ``queuing_time = start − arrival-in-queue``
    (``/root/reference/src/statistics.py:34-36``)."""
    return df.withColumn(
        "queuing_time",
        F.col("start_processing_time_by_worker") - F.col("arrival_time_in_queue"),
    )


def priority_class(
    proc: Column | str, threshold: float = PRIORITY_THRESHOLD_SECONDS
) -> Column:
    """B5: two-class routing — ``processing_time < threshold`` → priority,
    else (including null / non-numeric) normal
    (``/root/reference/src/queue_manager.py:105,137-155``)."""
    c = F.col(proc) if isinstance(proc, str) else proc
    return F.when(c < F.lit(threshold), F.lit("priority")).otherwise(F.lit("normal"))


def hms(seconds: Column | str) -> Column:
    """B4: seconds → ``HH:MM:SS`` display string
    (``/root/reference/src/simulator.py:111-114``)."""
    s = F.col(seconds) if isinstance(seconds, str) else seconds
    total = F.floor(s).cast("long")
    return F.format_string(
        "%02d:%02d:%02d",
        (total / 3600).cast("long"),
        ((total % 3600) / 60).cast("long"),
        (total % 60).cast("long"),
    )


def split_processed_rejected(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """C1: partition completed rows into processed vs rejected on the −1
    sentinel (``/root/reference/src/statistics.py:104-105``)."""
    fin = F.col("finish_processing_time_by_worker")
    return df.filter(fin != REJECTED_SENTINEL), df.filter(fin == REJECTED_SENTINEL)


def valid_queuing_rows(df: DataFrame) -> DataFrame:
    """C2: the silent-drop predicate for queuing-time statistics — keep rows
    with ``start ≥ 0 ∧ arrival ≥ 0 ∧ start ≥ arrival``
    (``/root/reference/src/statistics.py:28-42``).  The drop changes the
    mean/percentile denominators but NOT processed counts — callers must
    apply it only to the queuing-time aggregate inputs."""
    start = F.col("start_processing_time_by_worker")
    arr = F.col("arrival_time_in_queue")
    return df.filter((start >= 0) & (arr >= 0) & (start >= arr))


def result_order(df: DataFrame) -> DataFrame:
    """D2: result ordering with sentinel-last — rejected rows (finish = −1)
    sort as +inf, ties broken by arrival time
    (``/root/reference/src/simulator.py:260-265``)."""
    sort_key = F.expr(
        f"CASE WHEN finish_processing_time_by_worker = {REJECTED_SENTINEL!r}D"
        " THEN CAST('Infinity' AS DOUBLE) ELSE finish_processing_time_by_worker END"
    )
    return df.orderBy(sort_key, "arrival_time_in_queue")


def spread(df: DataFrame, factor: int = 1) -> DataFrame:
    """Round-robin repartition to ``defaultParallelism × factor`` slots.

    Narrow sources (a handful of fat parquet partitions, a broadcast-built
    frame) underuse the cluster when the next stage fans out (tokenize +
    explode, pair probes).  A literal ``repartition(32)`` bakes today's
    local[32] into the plan — on a 2,000-core cluster it would idle 98% of
    the executors.  Deriving the slot count from the session keeps the same
    plan shape at every scale; AQE may still coalesce downstream.

    ``factor > 1`` oversubscribes (useful when per-row work is skewed, e.g.
    pair probes whose cost varies by block size).
    """
    slots = max(int(df.sparkSession.sparkContext.defaultParallelism) * factor, 1)
    return df.repartition(slots)


def materialize(df: DataFrame) -> DataFrame:
    """Cache ``df`` and eagerly fill the cache with one cheap action.

    A ``.cache()`` alone is lazy: when a plan's independent subtrees all
    consume the cached frame, Spark schedules them concurrently and each
    racing stage recomputes the same partitions before any of them finishes
    populating the cache (stage-level profile of minhash_verified_pairs:
    three concurrent stages each re-ran the full tokenize+hash pipeline;
    the BlockManager's "block already exists; not re-adding" warnings are
    this race).  One ``count()`` barrier up front makes every consumer a
    cache *read*.  The action itself is O(1) driver-side — the data stays
    distributed — so the pattern holds at any scale; it trades one extra
    scheduling round-trip for never duplicating the expensive lineage.
    """
    df = df.cache()
    df.count()
    return df


def materialize_many(*dfs: DataFrame) -> list[DataFrame]:
    """``materialize`` several INDEPENDENT frames with overlapping fills.

    ``materialize`` is a serial driver barrier; a query that needs two
    cached frames with no dependency between them would pay the two fill
    jobs back to back, leaving the cluster idle through each job's tail.
    Submitting the fill actions from a small driver thread pool lets the
    second job's tasks back-fill executors freed by the first job's
    stragglers (guide §2.6 — actions are only sequential because driver
    code calls them sequentially; the scheduler happily runs several jobs
    at once).  Callers must only pass frames that do NOT consume each
    other — a dependent frame would race the fill it reads (the exact
    race ``materialize`` exists to prevent).
    """
    dfs = [df.cache() for df in dfs]
    if len(dfs) <= 1:
        for df in dfs:
            df.count()
        return list(dfs)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(dfs)) as pool:
        list(pool.map(lambda d: d.count(), dfs))
    return list(dfs)


def sliding_index_sql(arr: str, width: int) -> str:
    """SQL snippet: 1-based start positions of ``width``-token sliding
    windows over array column ``arr`` — EMPTY when the array is shorter
    than one window.

    The unguarded idiom ``sequence(1, size(a) - w + 1)`` is a trap: Spark's
    ``sequence(1, n)`` with ``n < 1`` yields a DESCENDING array ([1, 0],
    [1, 0, -1], ...), so a document shorter than the window crashes
    ``element_at(_, 0)`` (INVALID_INDEX_OF_ZERO) or silently mis-slices
    from the array end on negative starts — while the DuckDB oracle's
    ``generate_series(1, n)`` is empty.  This guard makes both engines
    agree on short documents.
    """
    n = f"size({arr}) - {width - 1}"
    return f"if({n} >= 1, sequence(1, {n}), array())"
