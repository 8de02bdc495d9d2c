"""Golden-timeline tests for the DES kernel (pure Python — no Spark).

Timelines mirror the reference's seeded end-to-end expectations
(``/root/reference/tests/test_simulator.py:27-134,249-289``) and the rate
limiter/fallback behavior (``/root/reference/tests/test_api_client.py``).
"""

from __future__ import annotations

import signal

import pytest

from queue_system_simulator_spark.operators.kernel import (
    SimParams,
    _RateLimiter,
    simulate_events,
)


def req(user, arrival, proc, seq=0):
    return {
        "user_id": user,
        "seq": seq,
        "sim_arrival_time": arrival,
        "processing_time": proc,
    }


def by_user(completed):
    return {r["user_id"]: r for r in completed}


def test_one_worker_one_request():
    out = simulate_events([req("u1", 0.0, 2.0)], SimParams(num_workers=1))
    assert len(out) == 1
    t = out[0]
    assert t["arrival_time_in_queue"] == 0.0
    assert t["start_processing_time_by_worker"] == 0.0
    assert t["finish_processing_time_by_worker"] == 2.0


def test_two_requests_one_worker():
    out = simulate_events(
        [req("u1", 0.0, 2.0, 0), req("u2", 0.5, 1.0, 1)], SimParams(num_workers=1)
    )
    m = by_user(out)
    assert m["u1"]["start_processing_time_by_worker"] == 0.0
    assert m["u1"]["finish_processing_time_by_worker"] == 2.0
    assert m["u2"]["arrival_time_in_queue"] == 0.5
    assert m["u2"]["start_processing_time_by_worker"] == 2.0
    assert m["u2"]["finish_processing_time_by_worker"] == 3.0


def test_late_arrivals_one_worker():
    out = simulate_events(
        [req("u1", 1.0, 2.0, 0), req("u2", 1.5, 1.0, 1)], SimParams(num_workers=1)
    )
    m = by_user(out)
    assert m["u1"]["start_processing_time_by_worker"] == 1.0
    assert m["u1"]["finish_processing_time_by_worker"] == 3.0
    assert m["u2"]["start_processing_time_by_worker"] == 3.0
    assert m["u2"]["finish_processing_time_by_worker"] == 4.0


def test_two_workers_competing():
    out = simulate_events(
        [req("u1", 0.0, 3.0, 0), req("u2", 0.1, 1.0, 1), req("u3", 0.2, 2.0, 2)],
        SimParams(num_workers=2),
    )
    m = by_user(out)
    assert m["u1"]["finish_processing_time_by_worker"] == 3.0
    assert m["u2"]["finish_processing_time_by_worker"] == 1.1
    # u3 waits for the first free worker (deterministic worker scan order)
    assert m["u3"]["start_processing_time_by_worker"] == 1.1
    assert m["u3"]["finish_processing_time_by_worker"] == 3.1


def test_burst_before_first_completion_two_workers():
    out = simulate_events(
        [
            req("R1", 0.0, 5.0, 0),
            req("R2", 0.1, 1.0, 1),
            req("R3", 0.2, 1.0, 2),
            req("R4", 0.3, 1.0, 3),
        ],
        SimParams(num_workers=2),
    )
    m = by_user(out)
    assert m["R1"]["finish_processing_time_by_worker"] == 5.0
    assert m["R2"]["finish_processing_time_by_worker"] == 1.1
    assert m["R3"]["finish_processing_time_by_worker"] == 2.1
    assert abs(m["R4"]["finish_processing_time_by_worker"] - 3.1) < 1e-12


def test_empty_input():
    assert simulate_events([], SimParams()) == []


def test_zero_processing_time():
    out = simulate_events([req("R1", 0.0, 0.0)], SimParams(num_workers=1))
    t = out[0]
    assert t["start_processing_time_by_worker"] == 0.0
    assert t["finish_processing_time_by_worker"] == 0.0


def test_result_order_sentinel_last():
    # bounded FIFO queue of size 1, one worker, burst of 3 at t=0: all
    # arrivals drain BEFORE the worker steps (reference fixed-point order,
    # /root/reference/src/simulator.py:198-236), so a fills the queue and
    # b, c are rejected; a is then served.
    out = simulate_events(
        [req("a", 0.0, 2.0, 0), req("b", 0.0, 2.0, 1), req("c", 0.0, 2.0, 2)],
        SimParams(num_workers=1, queue_mode="fifo", queue_max_size=1),
    )
    statuses = [r["status"] for r in out]
    assert statuses.count("rejected") == 2
    assert statuses[0] == "success"
    # rejected rows sort last (finish = −1 → +inf sort key)
    for r in out[1:]:
        assert r["status"] == "rejected"
        assert r["finish_processing_time_by_worker"] == -1.0
        assert r["used_api_id"] is None


def test_fifo_rejection_counts_and_admitted_order():
    # queue_max_size=0 rejects everything not immediately dequeued?  No —
    # size 0 means the queue itself is always full, so every arrival while
    # a worker is busy is rejected; the first arrival is also queued→full.
    out = simulate_events(
        [req("a", 0.0, 1.0, 0), req("b", 0.1, 1.0, 1)],
        SimParams(num_workers=1, queue_mode="fifo", queue_max_size=0),
    )
    assert all(r["status"] == "rejected" for r in out)


def test_priority_mode_ignores_queue_max_size():
    # SURVEY §2 quirk 1: queue_max_size is dead config in priority mode
    out = simulate_events(
        [req("u1", 0.0, 2.0, 0), req("u2", 0.0, 1.0, 1), req("u3", 0.2, 1.0, 2)],
        SimParams(num_workers=1, queue_mode="priority", queue_max_size=1),
    )
    assert all(r["status"] != "rejected" for r in out)
    assert len(out) == 3


def test_api_failure_still_consumes_processing_time():
    # SURVEY §2 quirk 2: all APIs saturated → status failed, null api id,
    # but the task still occupies the worker for its full duration
    out = simulate_events(
        [req("a", 0.0, 5.0, 0), req("b", 0.1, 5.0, 1)],
        SimParams(num_workers=2, num_apis=1, rpm_limit=1),
    )
    m = by_user(out)
    assert m["a"]["status"] == "success"
    assert m["a"]["used_api_id"] == 1
    assert m["b"]["status"] == "failed_api_limit"
    assert m["b"]["used_api_id"] is None
    assert m["b"]["finish_processing_time_by_worker"] == 5.1


def test_determinism_same_seed():
    reqs = [req(f"u{i}", i * 0.3, (i * 7) % 25 + 0.5, i) for i in range(50)]
    p = SimParams(num_workers=3, seed=42)
    a = simulate_events(reqs, p, rng_seed="42|k")
    b = simulate_events(reqs, p, rng_seed="42|k")
    assert a == b


def test_different_seed_changes_priority_order():
    # with both classes populated, dequeue choice is RNG-driven
    reqs = [req(f"u{i}", 0.0, 1.0 if i % 2 else 30.0, i) for i in range(20)]
    p = SimParams(num_workers=1)
    a = simulate_events(reqs, p, rng_seed="seed-a")
    b = simulate_events(reqs, p, rng_seed="seed-b")
    order_a = [r["user_id"] for r in a]
    order_b = [r["user_id"] for r in b]
    assert order_a != order_b  # overwhelmingly likely with 20 draws


def test_enqueue_totals_priority_routing():
    reqs = [
        req("p1", 0.0, 5.0, 0),   # < 20 s → priority
        req("p2", 0.1, 19.9, 1),  # priority
        req("n1", 0.2, 20.0, 2),  # >= 20 s → normal
        req("n2", 0.3, 30.0, 3),  # normal
        req("n3", 0.4, 20.5, 4),  # normal
    ]
    out = simulate_events(reqs, SimParams(num_workers=2))
    assert out[0]["priority_enqueued_total"] == 2
    assert out[0]["normal_enqueued_total"] == 3


def _alarm(_signum, _frame):
    raise TimeoutError("simulate_events did not return")


@pytest.mark.parametrize("col", ["processing_time", "sim_arrival_time"])
@pytest.mark.parametrize("bad", [None, float("nan")])
def test_null_or_nan_time_raises_instead_of_hanging(col, bad):
    # a NaN busy_until makes the clock NaN and the event loop never exits;
    # the alarm turns such a hang into a failure
    reqs = [req("u0", 0.0, 1.0, 1), req("u1", 0.5, 2.0, 2)]
    reqs[1][col] = bad
    previous = signal.signal(signal.SIGALRM, _alarm)
    signal.alarm(10)
    try:
        for rows in (reqs[1:], reqs):
            with pytest.raises(ValueError, match=f"seq=2: {col}"):
                simulate_events(rows, SimParams())
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, previous)


class TestRateLimiter:
    def test_sliding_window_eviction(self):
        # reference: RPM=1, N=1 — call at t=0 ok; t=10 fails; t=60.0 still
        # fails (window is now−ts > 60 strict); t=60.1 succeeds
        lim = _RateLimiter(num_apis=1, rpm_limit=1)
        assert lim.acquire(0.0) == 1
        assert lim.acquire(10.0) is None
        assert lim.acquire(60.0) is None
        assert lim.acquire(60.1) == 1

    def test_round_robin_fallback_and_exhaustion(self):
        # reference: RPM=1, N=2 — api1, then api2, then all saturated
        lim = _RateLimiter(num_apis=2, rpm_limit=1)
        assert lim.acquire(0.0) == 1
        assert lim.acquire(0.0) == 2
        assert lim.acquire(0.0) is None

    def test_sticky_success_index(self):
        lim = _RateLimiter(num_apis=3, rpm_limit=2)
        assert lim.acquire(0.0) == 1
        assert lim.acquire(0.0) == 1   # sticks to last success
        assert lim.acquire(0.0) == 2   # api1 saturated → next
        assert lim.acquire(0.0) == 2
        assert lim.acquire(0.0) == 3


class TestBoundedFifoRejection:
    def test_admission_control_rejects_when_full(self):
        # k=1 worker, queue max 1: ALL arrivals drain before any worker
        # steps (reference fixed-point order, simulator.py:201-236), so a
        # burst of 4 simultaneous arrivals admits 1 and rejects 3
        reqs = [
            {"seq": i, "sim_arrival_time": 0.0, "processing_time": 10.0}
            for i in range(4)
        ]
        out = simulate_events(
            reqs, SimParams(num_workers=1, queue_mode="fifo", queue_max_size=1)
        )
        statuses = [r["status"] for r in out]
        assert statuses.count("rejected") == 3
        for r in out:
            if r["status"] == "rejected":
                assert r["finish_processing_time_by_worker"] == -1.0
        # rejected rows sort last (D2 sentinel ordering)
        assert [r["status"] == "rejected" for r in out] == [False, True, True, True]

    def test_processed_plus_rejected_partitions_input(self):
        rng_reqs = [
            {"seq": i, "sim_arrival_time": float(i % 3), "processing_time": 5.0}
            for i in range(30)
        ]
        out = simulate_events(
            rng_reqs, SimParams(num_workers=2, queue_mode="fifo", queue_max_size=3)
        )
        assert len(out) == 30
        n_rej = sum(1 for r in out if r["status"] == "rejected")
        n_proc = sum(1 for r in out if r["status"] != "rejected")
        assert n_rej > 0 and n_rej + n_proc == 30


class TestParamSweep:
    def test_sweep_monotonic_in_workers(self, spark, sf_dir):
        from queue_system_simulator_spark.plans import QUERIES

        rows = QUERIES["kernel_param_sweep"].build(spark, sf_dir).collect()
        assert len(rows) == 6  # 3 worker counts x 2 rpm limits
        by_cell = {(r.k, r.rpm): r for r in rows}
        n_events = None
        for (k, rpm), r in by_cell.items():
            n_events = r.processed if n_events is None else n_events
            assert r.processed == n_events  # every cell simulates all events
        for rpm in (30, 60):
            q1 = by_cell[(1, rpm)].avg_queuing_time
            q4 = by_cell[(4, rpm)].avg_queuing_time
            assert q4 <= q1 + 1e-9  # more workers never increase queuing


def test_priority_bias_dequeue_frequency():
    """E2 distribution-level check (the probabilistic path has no SQL
    oracle by nature — SURVEY quirk 3): with both classes stocked, the
    biased dequeue must pick the priority class at ~bias rate. 10k draws,
    bias 0.8 -> binomial sigma ~0.004; +/-0.02 is a 5-sigma band."""
    import random

    from queue_system_simulator_spark.operators.kernel import (
        _PriorityStrategy,
    )

    strat = _PriorityStrategy(
        threshold=20.0, bias=0.8, rng=random.Random(123)
    )
    n, prio_hits = 10_000, 0
    for i in range(n):
        strat.enqueue({"processing_time": 1.0, "tag": i})  # priority class
        strat.enqueue({"processing_time": 99.0, "tag": i})  # normal class
        item = strat.dequeue()
        prio_hits += item["processing_time"] == 1.0
    assert abs(prio_hits / n - 0.8) < 0.02


def _per_group_reference(df, params, group_cols, param_cols):
    """The kernel as one ``applyInPandas`` call per group, frozen: the key
    Spark hands each group seeds its RNG as ``"<seed>|<repr(key)>..."``."""
    from dataclasses import replace

    import pandas as pd

    from queue_system_simulator_spark.operators.kernel import (
        KERNEL_RESULT_FIELDS,
        kernel_result_schema,
    )

    types = {f.name: f.dataType for f in df.schema.fields}
    schema = kernel_result_schema(group_cols, [types[c] for c in group_cols])

    def run(keys, pdf):
        keys = tuple(k.item() if hasattr(k, "item") else k for k in keys)
        p = replace(
            params, **{f: pdf[c].iloc[0].item() for f, c in param_cols.items()}
        )
        seed = f"{p.seed}|" + "|".join(repr(k) for k in keys)
        out = simulate_events(pdf.to_dict("records"), p, rng_seed=seed)
        res = pd.DataFrame(out, columns=[c for c, _ in KERNEL_RESULT_FIELDS])
        res["used_api_id"] = res["used_api_id"].astype("Int32")
        return res.assign(**dict(zip(group_cols, keys)))[schema.names]

    return df.groupBy(*group_cols).applyInPandas(run, schema)


def _request(seq):
    # processing alternates between the priority (3 s) and the normal
    # (30 s) class, so the seeded dequeue decides the order
    return (seq, float(seq // 3), 3.0 if seq % 2 else 30.0)


_REQUEST_COLS = "seq long, sim_arrival_time double, processing_time double"

_KEYED_RUNS = {
    "string-key": (
        ["user_id"],
        {},
        [(u, *_request(s)) for u in ("a", None, "b") for s in range(12)],
        "user_id string, " + _REQUEST_COLS,
    ),
    "long-key": (
        ["run_id"],
        {},
        [(r, "u", *_request(s)) for r in (1, None, 2) for s in range(13)],
        "run_id long, user_id string, " + _REQUEST_COLS,
    ),
    "sweep-key": (
        ["k", "rpm", "tenant"],
        {"num_workers": "k", "rpm_limit": "rpm"},
        [
            (k, rpm, t, "u", *_request(s))
            for k in (1, 2)
            for rpm in (2, 5)
            for t in (0, 1)
            for s in range(10)
        ],
        "k int, rpm int, tenant long, user_id string, " + _REQUEST_COLS,
    ),
}


@pytest.mark.parametrize("case", list(_KEYED_RUNS))
def test_sharded_run_keeps_the_null_group(spark, case):
    """Whatever the shard count, every group is simulated as a per-group
    ``applyInPandas`` would: same rows, same seed (priority dequeues draw
    from it), a null key kept as its own group.  Inside a shard, Arrow
    gives pandas an integral key as float64 once any key there is null,
    so the long key must not seed its RNG from ``1.0``."""
    from queue_system_simulator_spark.operators.kernel import simulate

    group_cols, param_cols, rows, ddl = _KEYED_RUNS[case]
    df = spark.createDataFrame(rows, ddl)
    params = SimParams(
        num_workers=1, queue_mode="priority", priority_bias=0.5, rpm_limit=5
    )

    def collected(frame):
        return sorted((tuple(r) for r in frame.collect()), key=repr)

    expected = collected(_per_group_reference(df, params, group_cols, param_cols))
    assert len(expected) == len(rows)
    assert sum(r[0] is None for r in expected) == sum(r[0] is None for r in rows)
    for shards in (1, 3, None):
        got = simulate(
            df, params, group_cols=group_cols, shards=shards, param_cols=param_cols
        )
        assert collected(got) == expected, shards
