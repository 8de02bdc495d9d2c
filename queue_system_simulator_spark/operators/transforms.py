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
