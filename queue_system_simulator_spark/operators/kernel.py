"""The discrete-event simulation kernel (SURVEY §2 E1–E7) as a grouped,
ordered, stateful Pandas UDF.

One simulation run (queue + k servers + sliding-window rate limiter) is a
single coupled feedback system and inherently sequential — so the engine
runs it as plain Python *inside* ``applyInPandas`` over hash shards of the
run columns: parallelism comes from many independent groups (scenario
sweeps, tenants), which is exactly the 100 TB posture (SURVEY §4).  Each
group's event list must fit one task; the per-group state is O(k + N·RPM).

Clean-room reimplementation of the reference semantics:

* event-driven clock: fixed-point inner loop (drain arrivals → step workers
  → repeat until quiescent), then jump to ``min(next arrival, min
  busy_until)``; clock starts at the first arrival
  (``/root/reference/src/simulator.py:62-73,195-258``).
* bounded FIFO admission control: enqueue refused when full → finish = −1
  sentinel, row completes immediately (``simulator.py:213-215``,
  ``queue_manager.py:30-52``).
* two-class priority queue: route ``processing_time < threshold`` → priority
  else normal; dequeue draws ONE ``rng.random()`` per
  attempt whenever any item exists, prefers the chosen class, falls back to
  the other (the reference's *corrected* dequeue,
  ``queue_manager.py:188-221``); ``is_full`` always False in priority mode
  (``queue_manager.py:249-256`` — the dead ``queue_max_size`` quirk,
  SURVEY §2 quirk 1).
* workers scanned in ascending id order every step — deterministic task →
  worker assignment (``simulator.py:219``, quirk 4).  A worker first checks
  completion (finish = busy_until), and only starts a new task on a later
  pass of the fixed-point loop (``worker.py:69-88``).
* per-API sliding-window limiter: evict timestamps with ``now − ts > 60``;
  allow if fewer than RPM remain (``api_client.py:17-24``); round-robin
  fallback from the *last successful* index, one draw per API, all N
  exhausted → the call fails but the task still consumes its full
  processing_time with ``used_api_id`` null (``api_client.py:26-90``,
  ``worker.py:102-104`` — quirk 2: API failure ≠ rejection).
* result order: by finish (−1 sentinel sorts last as +inf), tie-break by
  arrival-in-queue (``simulator.py:260-265``).

Determinism under Spark task retry: the RNG is seeded per group as
``Random((seed, group_key))`` — re-running a task reproduces the identical
timeline (quirk 3).
"""

from __future__ import annotations

import random
from collections import deque
from dataclasses import dataclass, replace
from typing import Any, Iterable

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

REJECTED = -1.0


@dataclass(frozen=True)
class SimParams:
    num_workers: int = 1
    queue_mode: str = "priority"  # "priority" | "fifo"
    queue_max_size: int | None = None  # honoured only in fifo mode (quirk 1)
    priority_threshold_seconds: float = 20.0
    priority_bias: float = 0.8
    num_apis: int = 5
    rpm_limit: int = 60
    seed: int = 42

    def __post_init__(self) -> None:
        if not (0.0 <= self.priority_bias <= 1.0):
            raise ValueError("priority_bias must be within [0, 1]")
        if self.queue_mode not in ("priority", "fifo"):
            raise ValueError(f"unknown queue_mode: {self.queue_mode}")


class _BoundedFifo:
    """Bounded FIFO with admission control (E1)."""

    def __init__(self, max_size: int | None):
        self.items: deque = deque()
        self.max_size = max_size

    def is_full(self) -> bool:
        return self.max_size is not None and len(self.items) >= self.max_size

    def enqueue(self, item) -> bool:
        if self.is_full():
            return False
        self.items.append(item)
        return True

    def dequeue(self):
        return self.items.popleft() if self.items else None

    def __len__(self) -> int:
        return len(self.items)

    def is_empty(self) -> bool:
        return not self.items


class _PriorityStrategy:
    """Two-class queue with probabilistic biased dequeue (E2)."""

    def __init__(self, threshold: float, bias: float, rng: random.Random):
        self.prio: deque = deque()
        self.norm: deque = deque()
        self.threshold = threshold
        self.bias = bias
        self.rng = rng
        self.priority_enqueued = 0
        self.normal_enqueued = 0

    def is_full(self) -> bool:
        return False  # quirk 1: unbounded regardless of queue_max_size

    def enqueue(self, item) -> bool:
        if item["processing_time"] < self.threshold:
            self.prio.append(item)
            self.priority_enqueued += 1
        else:
            self.norm.append(item)
            self.normal_enqueued += 1
        return True

    def dequeue(self):
        has_p, has_n = bool(self.prio), bool(self.norm)
        if not has_p and not has_n:
            return None
        # one RNG draw per attempt, even when only one class has items —
        # draw order is observable semantics (SURVEY §2 quirk 3)
        chose_priority = self.rng.random() < self.bias
        if chose_priority:
            return self.prio.popleft() if has_p else self.norm.popleft()
        return self.norm.popleft() if has_n else self.prio.popleft()

    def __len__(self) -> int:
        return len(self.prio) + len(self.norm)

    def is_empty(self) -> bool:
        return not self.prio and not self.norm


class _RateLimiter:
    """Per-API sliding 60 s window + round-robin fallback (E5/E6)."""

    WINDOW = 60.0

    def __init__(self, num_apis: int, rpm_limit: int):
        self.num_apis = num_apis
        self.rpm_limit = rpm_limit
        self.stamps: list[deque] = [deque() for _ in range(num_apis)]
        self.current = 0

    def _allowed(self, idx: int, now: float) -> bool:
        q = self.stamps[idx]
        while q and now - q[0] > self.WINDOW:
            q.popleft()
        return len(q) < self.rpm_limit

    def acquire(self, now: float) -> int | None:
        """Return the 1-based api id that served the call, or None if every
        API is saturated.  Sticks to the last successful API."""
        start = self.current
        for attempt in range(self.num_apis):
            idx = (start + attempt) % self.num_apis
            if self._allowed(idx, now):
                self.stamps[idx].append(now)
                self.current = idx
                return idx + 1
            self.current = (idx + 1) % self.num_apis
        return None


def simulate_events(
    rows: Iterable[dict[str, Any]], params: SimParams, rng_seed: Any = None
) -> list[dict[str, Any]]:
    """Run one DES over ``rows`` (dicts with ``sim_arrival_time`` /
    ``processing_time`` + passthrough keys).  Pure Python; unit-testable
    without Spark.  Numeric type agnostic: feed integer microseconds for
    exact arithmetic or float seconds for reference parity.

    A null or NaN arrival or processing time raises ``ValueError`` naming
    the row's ``seq`` (the reference rejects such rows at parse time,
    ``csv_parser.py:64,69-70``); a NaN would stop the clock advancing.
    """
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

    head, n_rows = 0, len(pending)
    now = 0.0
    if pending and pending[0]["sim_arrival_time"] >= 0:
        now = pending[0]["sim_arrival_time"]

    def workers_busy() -> bool:
        return any(t is not None for t in current)

    while head < n_rows or not queue.is_empty() or workers_busy():
        acted = True
        while acted:
            acted = False
            # drain arrivals with t <= now; ``head`` is a read index, so the
            # drain costs O(arrivals), not O(rows left)
            start = head
            while head < n_rows and pending[head]["sim_arrival_time"] <= now:
                head += 1
            if head > start:
                acted = True
                for req in pending[start:head]:
                    req["arrival_time_in_queue"] = now
                    if queue.is_full():
                        req["finish_processing_time_by_worker"] = REJECTED
                        req["start_processing_time_by_worker"] = 0.0
                        req["used_api_id"] = None
                        req["status"] = "rejected"
                        completed.append(req)
                    else:
                        queue.enqueue(req)
            # step workers in id order; completion and next-start happen on
            # separate fixed-point passes (reference worker.py:69-88)
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
                    # API failure still consumes full processing time (quirk 2)
                    busy_until[w] = now + task["processing_time"]
                    acted = True
        # advance the clock to the next event
        nxt = None
        if head < n_rows:
            nxt = pending[head]["sim_arrival_time"]
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


#: The column a caller passes instead of ``seq`` to have the kernel number
#: each group's rows itself, and the order it numbers them in.
INPUT_POS = "__input_pos"
_SEQ_ORDER = ["sim_arrival_time", "user_id", INPUT_POS]


def _number_seq(pdf: pd.DataFrame) -> pd.DataFrame:
    """``seq = row_number() OVER (ORDER BY sim_arrival_time, user_id,
    __input_pos)`` over one group's rows: a sort with nulls first, as
    Spark's ``ASC NULLS FIRST``, then ``seq = 1..n`` in place of the
    position column, which makes the order total."""
    pdf = pdf.sort_values(_SEQ_ORDER, na_position="first")
    return pdf.drop(columns=INPUT_POS).assign(seq=range(1, len(pdf) + 1))


KERNEL_RESULT_FIELDS = [
    ("seq", T.LongType()),
    ("user_id", T.StringType()),
    ("sim_arrival_time", T.DoubleType()),
    ("processing_time", T.DoubleType()),
    ("arrival_time_in_queue", T.DoubleType()),
    ("start_processing_time_by_worker", T.DoubleType()),
    ("finish_processing_time_by_worker", T.DoubleType()),
    ("used_api_id", T.IntegerType()),
    ("status", T.StringType()),
    ("priority_enqueued_total", T.LongType()),
    ("normal_enqueued_total", T.LongType()),
]


def kernel_result_schema(group_cols: list[str], group_types: list[T.DataType]) -> T.StructType:
    fields = [
        T.StructField(c, t, True) for c, t in zip(group_cols, group_types)
    ] + [
        T.StructField(n, t, True)
        for n, t in KERNEL_RESULT_FIELDS
        if n not in group_cols
    ]
    return T.StructType(fields)


def simulate(
    df: DataFrame,
    params: SimParams,
    group_cols: list[str] | None = None,
    shards: int | None = None,
    param_cols: dict[str, str] | None = None,
) -> DataFrame:
    """Distributed DES: one independent simulation per distinct group.

    ``df`` needs ``user_id, seq, sim_arrival_time, processing_time`` plus the
    group columns.  Returns the enriched timeline (SIM_RESULT shape + status
    and per-class enqueue totals).  A frame that carries ``__input_pos``
    (:data:`INPUT_POS`, the row's position in its source) instead of ``seq``
    gets ``seq`` numbered inside each group by :func:`_number_seq`, so no
    window or shuffle is needed before the kernel's own exchange.

    The groups are hash-bucketed into ``shards`` coarse Arrow batches, and
    one pandas call per shard simulates its groups one after another: a
    pandas call per group would pay an Arrow batch and a frame per group,
    which outweighs the DES work of thousands of small runs.  The default
    is ``2 × defaultParallelism``, the slot rule of
    ``transforms.spread(factor=2)``.  ``shards=1`` runs every group in one
    task behind a single-partition exchange, whose partitioning a
    downstream global aggregate or sort then reuses without a shuffle
    (``run_pipeline``'s one run).  The shard count never changes a result:
    each group gets the key, and so the seed, that a per-group
    ``groupBy(group_cols).applyInPandas`` would hand it, a null key
    included, and task retries replay the same timelines.

    ``param_cols`` maps a SimParams field to the column holding the group's
    value for it (constant within the group), e.g. ``{"num_workers": "k",
    "rpm_limit": "rpm"}``; the other fields come from ``params``.  A
    parameter sweep is then just more groups: a million-cell sweep is a
    million groups in one job.
    """
    group_cols = group_cols or ["run_id"]
    param_cols = param_cols or {}
    if shards is None:
        shards = max(int(df.sparkSession.sparkContext.defaultParallelism) * 2, 1)
    in_schema = {f.name: f.dataType for f in df.schema.fields}
    out_schema = kernel_result_schema(group_cols, [in_schema[c] for c in group_cols])
    result_cols = [c for c, _ in KERNEL_RESULT_FIELDS]
    numbered = INPUT_POS in in_schema
    integral = {c for c, t in in_schema.items() if isinstance(t, T.IntegralType)}

    def value(col: str, v: Any) -> Any:
        """``v`` as a per-group ``applyInPandas`` hands it over.  Arrow
        gives pandas a shard's integral column as float64 when any row in
        the shard is null, so a key 1 would read 1.0 and change the seed:
        a non-null integral value is an ``int`` again.  A null stays as
        Arrow hands it: nan for an integral column, None for a string."""
        v = v.item() if hasattr(v, "item") else v
        return int(v) if col in integral and v == v else v

    def run_group(pdf: pd.DataFrame) -> pd.DataFrame:
        keys = tuple(value(c, pdf[c].iloc[0]) for c in group_cols)
        run_params = replace(
            params, **{f: value(c, pdf[c].iloc[0]) for f, c in param_cols.items()}
        )
        if numbered:
            pdf = _number_seq(pdf)
        # stable derived seed: identical on Spark task retry (quirk 3)
        seed_str = f"{run_params.seed}|" + "|".join(repr(k) for k in keys)
        out = simulate_events(pdf.to_dict("records"), run_params, rng_seed=seed_str)
        res = pd.DataFrame(out, columns=result_cols)
        res["used_api_id"] = res["used_api_id"].astype("Int32")
        return res.assign(**dict(zip(group_cols, keys)))[out_schema.names]

    shard_col = "__kernel_shard"

    def run_shard(_key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        # dropna=False: a null key is a group, as in Spark's groupBy
        groups = pdf.drop(columns=[shard_col]).groupby(
            group_cols, sort=True, dropna=False
        )
        return pd.concat([run_group(g) for _, g in groups], ignore_index=True)

    # Explicit repartition(shards, shard_col) pins the Python stage's
    # partition count: a bare groupBy's exchange is AQE-coalesced by BYTES
    # (advisory/minPartitionSize), which is the wrong proxy for the
    # CPU-bound DES work behind it — measured at sf0.1: the 2.6 MB kernel
    # shuffle coalesced to 2 post-shuffle partitions, serializing 64
    # shards' simulations onto 2 cores (guide §2: partitioning must match
    # the compute distribution, not the byte distribution).
    # hashpartitioning(shard_col, shards) satisfies the groupBy's
    # clustering requirement, so there is no second exchange.
    return (
        df.withColumn(shard_col, F.pmod(F.xxhash64(*group_cols), F.lit(shards)))
        .repartition(shards, shard_col)
        .groupBy(shard_col)
        .applyInPandas(run_shard, out_schema)
    )
