"""End-to-end pipeline: the engine's equivalent of the reference CLI
``python main.py <csv> [-w N] [-q M]`` (``/root/reference/main.py:17-159``).

Stages (SURVEY §3.1): scan/validate → epoch-relative arrival derivation →
DES kernel → one aggregate for the input counts (total, pre-epoch) and
G1–G5 statistics → empty guard → sentinel-aware result ordering → console
rendering (NaN→"N/A", api counts key-sorted).

The scan feeds the kernel's one shuffle directly: each row carries its file
position, and the kernel sorts its group by (arrival, user, position) and
numbers ``seq`` itself, so no window and no second exchange run before it.
The report aggregate is built from SQL text, one parse JVM-side, rather than
from per-call Column-API round trips.

A reference user switches by calling ``run_pipeline(spark, csv_path)`` —
same semantics, but every stage before/after the kernel is a distributed
DataFrame op, and the kernel itself shards across independent runs when
``run_col`` is provided (the scale axis the single-process reference lacks).

The kernel runs once per ``run_pipeline`` call: its output is persisted and
every frame of the :class:`PipelineResult` reads that one execution.  The
whole report is one Spark action inside ``run_pipeline``
(:func:`~queue_system_simulator_spark.operators.statistics.simulation_statistics`):
``scalar_stats`` and ``api_counts`` are driver-local frames built from its
row, so :func:`render_report` fires no Spark job; only the sorted
``timeline`` stays lazy.  The result owns the pin;
:meth:`PipelineResult.release` frees the storage once the caller is done
(results never depend on it being called).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from queue_system_simulator_spark.operators.kernel import INPUT_POS, SimParams, simulate
from queue_system_simulator_spark.operators.statistics import (
    NUM_EXTERNAL_APIS,
    simulation_statistics,
)
from queue_system_simulator_spark.operators.transforms import (
    result_order,
    with_sim_arrival_time,
)
from queue_system_simulator_spark.schema import REFERENCE_EPOCH
from queue_system_simulator_spark.sources.csv_source import read_requests_csv


@dataclass
class PipelineResult:
    timeline: DataFrame | None  # ordered per-request lifecycle (D2 order)
    scalar_stats: DataFrame | None  # one-row G1-G3+G5 frame
    api_counts: DataFrame | None  # long-format zero-filled G4 frame
    negative_arrivals: int
    input_rows: int
    #: the persisted kernel output every frame above reads (None when empty)
    pinned: DataFrame | None = field(default=None, repr=False)

    @property
    def empty(self) -> bool:
        return self.input_rows == 0

    def release(self) -> None:
        """Unpersist the kernel output.  Idempotent; frames consumed after
        this recompute the kernel and yield the same rows."""
        if self.pinned is not None:
            self.pinned.unpersist()
            self.pinned = None


def run_pipeline(
    spark: SparkSession,
    csv_path: str,
    num_workers: int = 1,
    queue_size: int | None = None,
    queue_mode: str = "priority",
    seed: int = 42,
    epoch: str = REFERENCE_EPOCH,
    run_col: str | None = None,
) -> PipelineResult:
    """Scan → simulate → aggregate, reference semantics end to end.

    ``queue_size`` is honoured only in ``fifo`` mode — in priority mode it
    is accepted and ignored, the reference's dead-config quirk
    (SURVEY §2 quirk 1, ``/root/reference/src/simulator.py:47-53``).
    ``run_col`` names a column that partitions the input into independent
    simulations (scenario sweep); None = one global run like the CLI.
    """
    df = with_sim_arrival_time(read_requests_csv(spark, csv_path), epoch)
    group_cols = [run_col] if run_col else ["__run"]
    # Capture file position at scan time: the reference preserves CSV input
    # order via a *stable* arrival sort (/root/reference/src/simulator.py:41),
    # so duplicate (arrival, user) rows need a deterministic tiebreaker or
    # ``seq`` — and with it the simulated timeline — changes across runs and
    # task retries.  monotonically_increasing_id() over a deterministic scan
    # split encodes (partition, offset) and is stable for a given file.  The
    # kernel numbers ``seq`` from it inside each group, so the scan feeds the
    # kernel's one exchange directly.
    # dict.fromkeys: run_col="user_id" must reach the kernel once, not twice
    kernel_cols = dict.fromkeys([
        run_col or "0 AS __run",
        "user_id",
        f"monotonically_increasing_id() AS {INPUT_POS}",
        "sim_arrival_time",
        "processing_time",
    ])
    params = SimParams(
        num_workers=num_workers, queue_mode=queue_mode, queue_max_size=queue_size,
        seed=seed,
    )
    # One run is one group, simulated in one task whatever the exchange's
    # width: shards=1 makes that exchange a single partition, which the
    # report's aggregate and the timeline's sort then read without a
    # shuffle of their own.
    timeline = simulate(
        df.selectExpr(*kernel_cols), params, group_cols=group_cols,
        shards=None if run_col else 1,
    )
    if not run_col:
        timeline = timeline.drop("__run")
    # Every reader shares this one kernel execution: the report's aggregate,
    # the sorted timeline and, for a run_col sweep, the sort's range sample;
    # without the pin each of them would re-run the whole simulation.  The cache matches plans,
    # not file contents, so a pin still held from an earlier call on this
    # path would serve a since-rewritten CSV: refresh such pins first.
    spark.catalog.refreshByPath(csv_path)
    timeline = timeline.persist()
    n_input, n_negative, scalar, api = simulation_statistics(
        timeline, spark, NUM_EXTERNAL_APIS
    )
    if n_input == 0:  # header-only/empty file → exit path (main.py:45-49)
        timeline.unpersist()
        return PipelineResult(None, None, None, 0, 0)
    return PipelineResult(
        result_order(timeline), scalar, api, n_negative, n_input, timeline
    )


def _fmt(v) -> str:
    """NaN/null → "N/A" like the reference's renderer (main.py:123-138)."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "N/A"
    if isinstance(v, float):
        return f"{v:.6f}".rstrip("0").rstrip(".")
    return str(v)


def render_report(result: PipelineResult) -> list[str]:
    """Console-report lines (A7): scalar stats then api counts key-sorted."""
    if result.empty:
        return ["no requests parsed — nothing to simulate"]
    s = result.scalar_stats.collect()[0].asDict()
    lines = [
        f"total requests: {result.input_rows}",
        f"requests with pre-epoch timestamps: {result.negative_arrivals}",
        f"processed: {_fmt(s['processed'])}",
        f"rejected: {_fmt(s['rejected'])}",
        f"average queuing time: {_fmt(s['avg_queuing_time'])}",
    ]
    for p in ("p50", "p75", "p90", "p99"):
        lines.append(f"queuing time {p}: {_fmt(s[p])}")
    lines.append(
        f"priority queue enqueued: {_fmt(s['priority_queue_enqueued_total'])}"
    )
    lines.append(f"normal queue enqueued: {_fmt(s['normal_queue_enqueued_total'])}")
    for row in sorted(result.api_counts.collect(), key=lambda r: r["api_id"]):
        lines.append(f"{row['api_key']}: {row['usage_count']}")
    return lines
