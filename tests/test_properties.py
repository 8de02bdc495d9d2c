"""Property-based invariants for the DES kernel (hypothesis).

The reference ships only example-based tests (SURVEY §5); these properties
pin the semantics for arbitrary workloads:

* FIFO/k=1 kernel ≡ the closed-form recurrence (the E1 special case that
  the SQL oracle is built on) on ANY input;
* lifecycle invariants (start ≥ arrival, finish = start + proc, input
  conservation) for any worker count / queue mode / seed;
* at most k tasks ever in service simultaneously;
* the rate limiter never admits more than RPM calls per API in any sliding
  60 s window;
* ``simulate_events`` is bit-identical to a frozen copy of its earlier
  version, which dropped drained arrivals with ``del pending[:n]``.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

import random
from typing import Any

from queue_system_simulator_spark.operators.kernel import (
    REJECTED,
    SimParams,
    _BoundedFifo,
    _PriorityStrategy,
    _RateLimiter,
    simulate_events,
)

# integer-second arrivals/durations keep the arithmetic exact
_events = st.lists(
    st.tuples(st.integers(0, 10_000), st.integers(1, 500)),
    min_size=1,
    max_size=60,
)


def _mk(rows):
    return [
        {"seq": i, "sim_arrival_time": float(a), "processing_time": float(p)}
        for i, (a, p) in enumerate(rows)
    ]


@settings(max_examples=60, deadline=None)
@given(_events)
def test_fifo_k1_matches_closed_form(rows):
    out = simulate_events(
        _mk(rows), SimParams(num_workers=1, queue_mode="fifo", queue_max_size=None)
    )
    by_arrival = sorted(out, key=lambda r: (r["sim_arrival_time"], r["seq"]))
    prev_finish = 0.0
    first = True
    for r in by_arrival:
        expected_start = (
            r["sim_arrival_time"]
            if first
            else max(r["sim_arrival_time"], prev_finish)
        )
        first = False
        assert r["start_processing_time_by_worker"] == expected_start
        assert (
            r["finish_processing_time_by_worker"]
            == expected_start + r["processing_time"]
        )
        prev_finish = r["finish_processing_time_by_worker"]


@settings(max_examples=40, deadline=None)
@given(
    _events,
    st.integers(1, 4),
    st.sampled_from(["fifo", "priority"]),
    st.integers(0, 3),
)
def test_lifecycle_invariants(rows, k, mode, seed):
    out = simulate_events(
        _mk(rows), SimParams(num_workers=k, queue_mode=mode, seed=seed)
    )
    assert sorted(r["seq"] for r in out) == list(range(len(rows)))  # conservation
    for r in out:
        assert r["status"] != "rejected"  # unbounded queues never reject
        assert r["arrival_time_in_queue"] >= r["sim_arrival_time"]
        assert r["start_processing_time_by_worker"] >= r["arrival_time_in_queue"]
        assert (
            r["finish_processing_time_by_worker"]
            == r["start_processing_time_by_worker"] + r["processing_time"]
        )


@settings(max_examples=40, deadline=None)
@given(_events, st.integers(1, 3))
def test_at_most_k_in_service(rows, k):
    out = simulate_events(_mk(rows), SimParams(num_workers=k, queue_mode="fifo"))
    # sweep service intervals [start, finish): concurrency must stay <= k
    points = []
    for r in out:
        points.append((r["start_processing_time_by_worker"], 1))
        points.append((r["finish_processing_time_by_worker"], -1))
    active = 0
    for _, delta in sorted(points, key=lambda p: (p[0], p[1])):
        active += delta
        assert active <= k


@settings(max_examples=60, deadline=None)
@given(
    st.lists(st.integers(0, 600), min_size=1, max_size=300),
    st.integers(1, 3),
    st.integers(1, 10),
)
def test_rate_limiter_window_bound(times, num_apis, rpm):
    lim = _RateLimiter(num_apis=num_apis, rpm_limit=rpm)
    granted: list[tuple[float, int]] = []
    for t in sorted(times):
        api = lim.acquire(float(t))
        if api is not None:
            granted.append((float(t), api))
    for now, api in granted:
        in_window = [
            t for t, a in granted if a == api and now - t <= 60.0 and t <= now
        ]
        assert len(in_window) <= rpm


def _frozen_simulate_events(rows, params: SimParams, rng_seed: Any = None):
    """``simulate_events`` as it was before its arrival drain became a read
    index: every drain deleted the drained prefix of ``pending``."""
    rng = random.Random(rng_seed if rng_seed is not None else params.seed)
    pending = [dict(r) for r in rows]
    for r in pending:
        for col in ("sim_arrival_time", "processing_time"):
            if r[col] is None or r[col] != r[col]:  # NaN != NaN
                raise ValueError(f"request seq={r.get('seq')}: {col} is null or NaN")
    pending.sort(key=lambda r: (r["sim_arrival_time"], r.get("seq", 0)))
    if params.queue_mode == "fifo":
        queue: Any = _BoundedFifo(params.queue_max_size)
    else:
        queue = _PriorityStrategy(
            params.priority_threshold_seconds, params.priority_bias, rng
        )
    limiter = _RateLimiter(params.num_apis, params.rpm_limit)

    k = params.num_workers
    busy_until = [0.0] * k
    current: list[dict | None] = [None] * k
    completed: list[dict] = []

    now = 0.0
    if pending and pending[0]["sim_arrival_time"] >= 0:
        now = pending[0]["sim_arrival_time"]

    def workers_busy() -> bool:
        return any(t is not None for t in current)

    while pending or not queue.is_empty() or workers_busy():
        acted = True
        while acted:
            acted = False
            n_arrived = 0
            for req in pending:
                if req["sim_arrival_time"] <= now:
                    n_arrived += 1
                else:
                    break
            if n_arrived:
                acted = True
                for req in pending[:n_arrived]:
                    req["arrival_time_in_queue"] = now
                    if queue.is_full():
                        req["finish_processing_time_by_worker"] = REJECTED
                        req["start_processing_time_by_worker"] = 0.0
                        req["used_api_id"] = None
                        req["status"] = "rejected"
                        completed.append(req)
                    else:
                        queue.enqueue(req)
                del pending[:n_arrived]
            for w in range(k):
                task = current[w]
                if task is not None and now >= busy_until[w]:
                    task["finish_processing_time_by_worker"] = busy_until[w]
                    completed.append(task)
                    current[w] = None
                    acted = True
                    continue
                if task is None and not queue.is_empty():
                    task = queue.dequeue()
                    if task is None:
                        continue
                    current[w] = task
                    task["start_processing_time_by_worker"] = now
                    api_id = limiter.acquire(now)
                    task["used_api_id"] = api_id
                    task["status"] = "success" if api_id else "failed_api_limit"
                    busy_until[w] = now + task["processing_time"]
                    acted = True
        nxt = None
        if pending:
            nxt = pending[0]["sim_arrival_time"]
        for w in range(k):
            if current[w] is not None and (nxt is None or busy_until[w] < nxt):
                nxt = busy_until[w]
        if nxt is None or nxt <= now:
            break
        now = nxt

    completed.sort(
        key=lambda r: (
            r["finish_processing_time_by_worker"]
            if r["finish_processing_time_by_worker"] != REJECTED
            else float("inf"),
            r["arrival_time_in_queue"],
        )
    )
    if isinstance(queue, _PriorityStrategy):
        for r in completed:
            r["priority_enqueued_total"] = queue.priority_enqueued
            r["normal_enqueued_total"] = queue.normal_enqueued
    else:
        pe = sum(1 for r in completed if r["status"] != "rejected")
        for r in completed:
            r["priority_enqueued_total"] = 0
            r["normal_enqueued_total"] = pe
    return completed


@settings(max_examples=200, deadline=None)
@given(
    # quarter-second arrivals on a short span: many rows share an arrival
    # time; zero processing times complete on the step that starts them;
    # 90 requests a minute at 1-2 rpm per API exhaust the limiter
    st.lists(
        st.tuples(st.integers(0, 240), st.integers(0, 120)), min_size=1, max_size=90
    ),
    st.integers(1, 64),
    st.sampled_from(["fifo", "priority"]),
    st.none() | st.integers(0, 6),
    st.integers(1, 2),
    st.integers(0, 3),
)
def test_kernel_matches_frozen_copy(rows, k, mode, queue_max, rpm, seed):
    data = [
        {"seq": i, "user_id": f"u{i % 3}", "sim_arrival_time": a / 4,
         "processing_time": p / 4}
        for i, (a, p) in enumerate(rows)
    ]
    params = SimParams(
        num_workers=k, queue_mode=mode, queue_max_size=queue_max, rpm_limit=rpm,
        num_apis=2, seed=seed,
    )
    # repr compares bit patterns and types too (0.0 vs -0.0, 1 vs 1.0)
    assert repr(simulate_events(data, params)) == repr(
        _frozen_simulate_events(data, params)
    )


@settings(max_examples=20, deadline=None)
@given(
    st.lists(st.integers(0, 10_000_000), min_size=1, max_size=400),
    st.lists(st.floats(0.0, 1.0), min_size=1, max_size=4),
)
def test_distributed_percentiles_match_numpy(vals, ps):
    """Rank selection must equal numpy's linear-interpolation percentile for
    any value multiset (duplicates, constants, singletons) and any p in
    [0, 1] — the contract fifo_stats_distributed stakes its oracle on."""
    import numpy as np
    import pytest

    from queue_system_simulator_spark.operators.statistics import (
        exact_percentiles_distributed,
    )
    from queue_system_simulator_spark.session import get_spark

    spark = get_spark()
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    got = exact_percentiles_distributed(df, "v", ps=tuple(ps))
    want = [float(np.percentile(np.array(vals, dtype="float64"), p * 100))
            for p in ps]
    # rel covers the ≤1-ulp lerp-formula difference vs numpy (numpy flips
    # interpolation direction at frac >= 0.5); graded queries round to the
    # 1e-6 grid, far coarser than this bound
    assert got == pytest.approx(want, rel=1e-12, abs=1e-9)


def test_dp_noise_is_deterministic_and_centered(spark, sf_dir):
    """The seeded-Laplace release must be run-stable (same noise each
    build — the md5 seed, not rand()) and decompose exactly."""
    from queue_system_simulator_spark.plans.analytics_queries import (
        q_dp_noisy_counts,
    )

    a = {r["event_type"]: r for r in q_dp_noisy_counts(spark, sf_dir).collect()}
    b = {r["event_type"]: r for r in q_dp_noisy_counts(spark, sf_dir).collect()}
    assert a.keys() == b.keys() and len(a) > 0
    for k in a:
        assert a[k]["noise"] == b[k]["noise"]
        assert abs(a[k]["noisy_count"] - (a[k]["true_count"] + a[k]["noise"])) < 2e-6
        assert a[k]["epsilon"] == 1.0
        # Laplace(1) at these counts: noise is small relative to the count
        assert abs(a[k]["noise"]) < 30
