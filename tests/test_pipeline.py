"""End-to-end pipeline on a workload shaped like the reference's own.

Runs the engine's CLI-equivalent on ``tests/data/sample_requests.csv``, a
vendored request log in the shape of the reference's
``sample_requests.csv`` (25 rows, 5 users, ISO-8601 µs ``Z`` timestamps
from 2023-01-01, inter-arrival U(0.1, 1.0) s, processing
round(U(1, 10), 1) s; written once by ``numpy.random.default_rng(2023)``
in ``perfbench/datagen.write_requests_csv``'s order of draws), and asserts
the same externally-observable outcomes the reference's e2e test pins
(all 25 complete, none rejected; ``/root/reference/tests/test_simulator.py:136-213``),
plus renderer, empty-input and pin-lifecycle behavior, that the
one-action report equals the separate statistics operators, the order the
kernel numbers tied rows in, the kernel input's plan shape (one exchange,
no window) and the driver↔JVM round-trip budget of a warm run.
"""

from __future__ import annotations

import math
import os
import subprocess
import sys
import threading
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from queue_system_simulator_spark.operators.statistics import (
    api_usage_counts,
    enqueue_totals,
    queuing_time_stats,
)
from queue_system_simulator_spark.pipeline import render_report, run_pipeline

SAMPLE_CSV = os.path.join(os.path.dirname(__file__), "data", "sample_requests.csv")


def test_sample_workload_completes(spark):
    res = run_pipeline(spark, SAMPLE_CSV, num_workers=1)
    assert res.input_rows == 25
    assert res.negative_arrivals == 0
    s = res.scalar_stats.collect()[0]
    assert s.processed == 25 and s.rejected == 0
    assert (
        s.priority_queue_enqueued_total + s.normal_queue_enqueued_total == 25
    )
    tl = res.timeline.collect()
    assert len(tl) == 25
    # D2 ordering: finish ascending (no rejects here)
    finishes = [r.finish_processing_time_by_worker for r in tl]
    assert finishes == sorted(finishes)
    # api usage totals: every processed request used some api (no limiter
    # pressure at this load), zero-filled to the 5-API domain
    api = {r.api_key: r.usage_count for r in res.api_counts.collect()}
    assert set(api) == {f"api_{i}" for i in range(1, 6)}
    assert sum(api.values()) == 25


def test_more_workers_never_increase_queuing(spark):
    r1 = run_pipeline(spark, SAMPLE_CSV, num_workers=1)
    r4 = run_pipeline(spark, SAMPLE_CSV, num_workers=4)
    q1 = r1.scalar_stats.collect()[0].avg_queuing_time
    q4 = r4.scalar_stats.collect()[0].avg_queuing_time
    assert q4 <= q1 + 1e-12


def test_render_report_shape(spark):
    res = run_pipeline(spark, SAMPLE_CSV)
    lines = render_report(res)
    assert lines[0] == "total requests: 25"
    assert any(line.startswith("api_5:") for line in lines)


def test_empty_csv_short_circuits(spark, tmp_path):
    p = tmp_path / "empty.csv"
    p.write_text("user_id,request_time,processing_time\n")
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    res = run_pipeline(spark, str(p))
    assert jsc.getPersistentRDDs().size() == before  # the empty pin is released
    assert res.empty
    assert render_report(res) == ["no requests parsed — nothing to simulate"]
    res.release()  # nothing pinned: a no-op, twice
    res.release()


def _write_burst(tmp_path) -> str:
    """Six simultaneous arrivals: against a 1-slot FIFO and 1 worker, some
    are rejected."""
    rows = ["user_id,request_time,processing_time"] + [
        f"user_a,2023-01-01T00:00:00Z,{5.0 + i}" for i in range(6)
    ]
    p = tmp_path / "burst.csv"
    p.write_text("\n".join(rows) + "\n")
    return str(p)


def test_fifo_bounded_mode_rejects_and_renders_nan_safe(spark, tmp_path):
    res = run_pipeline(spark, _write_burst(tmp_path), queue_mode="fifo", queue_size=1)
    s = res.scalar_stats.collect()[0]
    assert s.rejected > 0 and s.processed + s.rejected == 6
    assert not math.isnan(s.avg_queuing_time)
    assert render_report(res)  # renders without error


def test_run_col_scenario_sweep(spark, tmp_path):
    # run_col partitions the log into independent simulations: per-user
    # FIFO queues never interact, so each user's timeline is the
    # single-user closed form
    rows = ["user_id,request_time,processing_time"]
    for u in ("a", "b"):
        for i in range(4):
            rows.append(f"user_{u},2023-01-01T00:00:0{i}Z,10.0")
    p = tmp_path / "two_runs.csv"
    p.write_text("\n".join(rows) + "\n")
    res = run_pipeline(
        spark, str(p), queue_mode="fifo", run_col="user_id", num_workers=1
    )
    tl = res.timeline.collect()
    assert len(tl) == 8
    by_user = {}
    for r in tl:
        by_user.setdefault(r.user_id, []).append(r)
    for u, urows in by_user.items():
        urows.sort(key=lambda r: r.sim_arrival_time)
        prev_finish = None
        for i, r in enumerate(urows):
            expected_start = (
                r.sim_arrival_time
                if i == 0
                else max(r.sim_arrival_time, prev_finish)
            )
            assert r.start_processing_time_by_worker == expected_start
            prev_finish = r.finish_processing_time_by_worker


def test_duplicate_arrival_rows_get_stable_seq(spark, tmp_path):
    # Two users sharing identical (request_time, user_id) pairs: seq must be
    # a total order anchored to file position, so repeated runs produce the
    # identical timeline (the reference's stable arrival sort preserves CSV
    # input order, /root/reference/src/simulator.py:41).
    p = tmp_path / "dups.csv"
    p.write_text(
        "user_id,request_time,processing_time\n"
        + "".join(
            f"user_{i % 2},2023-01-01T00:00:05Z,{3.0 + i}\n" for i in range(6)
        )
    )
    runs = [run_pipeline(spark, str(p)) for _ in range(2)]
    timelines = [
        [
            (r.user_id, r.processing_time, r.start_processing_time_by_worker)
            for r in res.timeline.collect()
        ]
        for res in runs
    ]
    assert timelines[0] == timelines[1]
    # per-row service times differ, so a deterministic seq fixes which row
    # starts first: the file's first row (proc=3.0) must be served first.
    assert timelines[0][0][1] == 3.0


def _write_ties(tmp_path) -> str:
    """Six requests at one instant, users out of order, a repeated
    ``(time, user)`` pair per user and an empty ``user_id`` (read as null),
    then one earlier request last in the file."""
    p = tmp_path / "ties.csv"
    p.write_text(
        "user_id,request_time,processing_time\n"
        "user_c,2023-01-01T00:00:05Z,1.0\n"
        "user_a,2023-01-01T00:00:05Z,2.0\n"
        ",2023-01-01T00:00:05Z,3.0\n"
        "user_b,2023-01-01T00:00:05Z,4.0\n"
        "user_a,2023-01-01T00:00:05Z,5.0\n"
        "user_c,2023-01-01T00:00:05Z,6.0\n"
        "user_z,2023-01-01T00:00:01Z,7.0\n"
    )
    return str(p)


@pytest.mark.parametrize(
    "run_col, expected",
    [
        # one run: arrival time, then user_id with the null first, then
        # file position
        (None, [(1, "user_z", 7.0), (2, None, 3.0), (3, "user_a", 2.0),
                (4, "user_a", 5.0), (5, "user_b", 4.0), (6, "user_c", 1.0),
                (7, "user_c", 6.0)]),
        # one run per user: each numbered from 1 in file order
        ("user_id", [(1, None, 3.0), (1, "user_a", 2.0), (2, "user_a", 5.0),
                     (1, "user_b", 4.0), (1, "user_c", 1.0), (2, "user_c", 6.0),
                     (1, "user_z", 7.0)]),
    ],
    ids=["one_run", "run_col_user_id"],
)
def test_seq_ties_follow_arrival_user_then_file_order(
    spark, tmp_path, run_col, expected
):
    res = run_pipeline(spark, _write_ties(tmp_path), run_col=run_col)
    got = [(r.seq, r.user_id, r.processing_time) for r in res.timeline.collect()]
    got.sort(key=lambda t: (t[1] is not None, t[1] or "", t[0]) if run_col else t[0])
    assert got == expected
    res.release()


def _plan_nodes(jplan):
    """Every node of a JVM query plan, inner plans included: an adaptive
    plan's current plan, a query stage's plan, the cached plan under an
    in-memory scan."""
    stack = [jplan]
    while stack:
        node = stack.pop()
        yield node
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
        elif name.endswith("QueryStage"):
            stack.append(node.plan())
        elif name == "InMemoryTableScan":
            stack.append(node.relation().cachedPlan())
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))


def _exchanges_below_kernel(jplan) -> list[int]:
    """The number of Exchange nodes under each FlatMapGroupsInPandas."""
    return [
        sum(n.nodeName() == "Exchange" for n in _plan_nodes(k))
        for k in _plan_nodes(jplan)
        if k.nodeName() == "FlatMapGroupsInPandas"
    ]


@pytest.mark.parametrize("run_col", [None, "user_id"])
def test_kernel_input_is_one_exchange_and_no_window(spark, run_col):
    res = run_pipeline(spark, SAMPLE_CSV, run_col=run_col)
    res.timeline.collect()  # the adaptive plan is final once executed
    qe = res.timeline._jdf.queryExecution()
    for plan in (qe.analyzed(), qe.executedPlan()):
        assert not [n for n in _plan_nodes(plan) if n.nodeName() == "Window"]
    assert _exchanges_below_kernel(qe.executedPlan()) == [1]
    res.release()


def test_warm_run_stays_within_round_trip_budget(spark, monkeypatch):
    """Each PySpark Column/functions call costs several driver↔JVM round
    trips; the report's plan is SQL text so a run makes few of them."""
    from py4j.clientserver import ClientServerConnection

    run_pipeline(spark, SAMPLE_CSV).release()  # warm: shipping, schemas
    me = threading.get_ident()
    calls = []
    send = ClientServerConnection.send_command

    def counting(self, command):
        if threading.get_ident() == me:
            calls.append(1)
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    res = run_pipeline(spark, SAMPLE_CSV)
    render_report(res)
    monkeypatch.undo()
    res.release()
    assert 0 < len(calls) < 500, len(calls)


def _kernel_data_columns(df) -> list[str]:
    """Columns the DES kernel receives as pandas data: the input of the
    FlatMapGroupsInPandas node minus its leading grouping attributes."""
    for node in _plan_nodes(df._jdf.queryExecution().analyzed()):
        if node.nodeName() == "FlatMapGroupsInPandas":
            out = node.child().output()
            n_keys = node.groupingAttributes().size()
            return [out.apply(i).name() for i in range(n_keys, out.size())]
    raise AssertionError("no FlatMapGroupsInPandas in the plan")


def test_run_col_user_id_reaches_kernel_once(spark, tmp_path):
    p = tmp_path / "two_users.csv"
    p.write_text(
        "user_id,request_time,processing_time\n"
        "user_a,2023-01-01T00:00:00Z,1.0\n"
        "user_b,2023-01-01T00:00:01Z,2.0\n"
    )
    res = run_pipeline(spark, str(p), run_col="user_id")
    cols = _kernel_data_columns(res.timeline)
    assert len(cols) == len(set(cols)), cols
    assert res.timeline.count() == 2


def test_kernel_output_pinned_once_and_released(spark, tmp_path):
    # a path no other test reads, so no earlier pin serves or is refreshed
    p = tmp_path / "pinned.csv"
    p.write_text(Path(SAMPLE_CSV).read_text())
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    res = run_pipeline(spark, str(p), num_workers=3)
    report = render_report(res)
    timeline = res.timeline.collect()
    assert jsc.getPersistentRDDs().size() == before + 1
    res.release()
    assert jsc.getPersistentRDDs().size() == before
    res.release()  # idempotent
    assert jsc.getPersistentRDDs().size() == before
    # after release every frame recomputes the kernel: same rows
    assert render_report(res) == report
    assert res.timeline.collect() == timeline


def test_rewritten_csv_is_not_served_from_an_earlier_pin(spark, tmp_path):
    p = tmp_path / "rewritten.csv"
    rows = Path(SAMPLE_CSV).read_text().splitlines()
    p.write_text("\n".join(rows) + "\n")
    first = render_report(run_pipeline(spark, str(p)))  # pin left held
    # same path and plan, every request now long enough for the normal queue
    p.write_text(
        "\n".join([rows[0]] + [r.rsplit(",", 1)[0] + ",30.0" for r in rows[1:]])
        + "\n"
    )
    second = render_report(run_pipeline(spark, str(p)))
    assert "priority queue enqueued: 25" in first
    assert "normal queue enqueued: 25" in second


def _write_saturating(tmp_path) -> str:
    """Three pre-epoch rows, then 400 simultaneous 0.1 s requests: 8 workers
    serve them in 5 s, past the 5 APIs' 300 calls a minute, so some calls
    find every API saturated and leave ``used_api_id`` null."""
    rows = ["user_id,request_time,processing_time"]
    rows += [f"user_early,2022-12-31T23:59:5{i}Z,1.0" for i in range(3)]
    rows += [f"user_{i % 7},2023-01-01T00:00:01Z,0.1" for i in range(400)]
    p = tmp_path / "saturating.csv"
    p.write_text("\n".join(rows) + "\n")
    return str(p)


@pytest.mark.parametrize(
    "write, kwargs",
    [
        (lambda _tmp_path: SAMPLE_CSV, {}),
        (_write_burst, {"queue_mode": "fifo", "queue_size": 1}),
        (_write_saturating, {"num_workers": 8}),
    ],
    ids=["sample", "burst", "saturating"],
)
def test_fused_report_equals_separate_operators(spark, tmp_path, write, kwargs):
    res = run_pipeline(spark, write(tmp_path), **kwargs)
    tl = res.timeline
    scalar = queuing_time_stats(tl).crossJoin(enqueue_totals(tl))
    api = api_usage_counts(tl, spark)
    assert res.scalar_stats.schema == scalar.schema
    assert res.scalar_stats.collect() == scalar.collect()
    assert res.api_counts.schema == api.schema
    assert sorted(res.api_counts.collect()) == sorted(api.collect())
    assert res.input_rows == tl.count()
    assert res.negative_arrivals == tl.filter(F.col("sim_arrival_time") < 0).count()
    # each input exercises what it is here for
    if write is _write_burst:
        assert res.scalar_stats.first().rejected > 0
    if write is _write_saturating:
        assert res.negative_arrivals == 3
        assert tl.filter(F.col("used_api_id").isNull()).count() > 0


def test_render_report_fires_no_spark_job(spark):
    res = run_pipeline(spark, SAMPLE_CSV)
    sc = spark.sparkContext
    sc.setJobGroup("render_report_probe", "render_report")
    try:
        lines = render_report(res)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert lines[0] == "total requests: 25"
    assert list(sc.statusTracker().getJobIdsForGroup("render_report_probe")) == []


_NULL_TIME_SCRIPT = """
import sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import SparkSession
from queue_system_simulator_spark.pipeline import render_report, run_pipeline

spark = (SparkSession.builder.master("local[2]")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
try:
    render_report(run_pipeline(spark, sys.argv[2]))
except Exception as e:
    print("RAISED", e)
"""


def test_null_processing_time_raises_instead_of_hanging(tmp_path):
    # the CSV reader turns an empty field into null; the kernel must reject
    # it, not spin forever in a Python worker (hence a subprocess + timeout)
    p = tmp_path / "null_processing_time.csv"
    p.write_text(
        "user_id,request_time,processing_time\n"
        "user_a,2023-01-01T00:00:00Z,\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", _NULL_TIME_SCRIPT,
         str(Path(__file__).resolve().parent.parent), str(p)],
        cwd=str(tmp_path),
        capture_output=True,
        text=True,
        timeout=240,
        env={**os.environ, "PYSPARK_PYTHON": sys.executable},
    )
    assert "RAISED" in proc.stdout, proc.stderr[-2000:]
    assert "seq=1: processing_time is null or NaN" in proc.stdout, proc.stdout[-2000:]
