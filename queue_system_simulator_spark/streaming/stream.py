"""Structured Streaming variant (SURVEY §7 step 6; BASELINE.json north
star: Structured Streaming + Parquet for the data lake).

The reference is batch-only but its arrival log is naturally a stream
(SURVEY §1.3); these helpers run the engine's transforms online:

* ``stream_events``       — file-source stream over the events parquet
* ``tumbling_counts``     — event-time tumbling-window counts/sums (the E7
                            snapshot-metrics analog)
* ``sliding_api_load``    — sliding-window per-API call counts (the E5
                            rate-limiter analog; watermark ≙ the limiter's
                            deque eviction, SURVEY §4)
* ``run_available_now``   — drain the stream with Trigger.AvailableNow into
                            a memory sink and return the materialized result
                            (used by the batch-equivalence tests and the
                            ``streaming_tumbling_counts`` oracle query)

At scale: file/Kafka source → watermarked window aggregations (bounded
state) → Parquet sink with checkpointing; the stateful kernel goes online
via ``applyInPandasWithState`` (round-2 work, see tests for the batch
kernel contract it must match).
"""

from __future__ import annotations

import tempfile
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from queue_system_simulator_spark.fixtures import build_once, sweep_stale
from queue_system_simulator_spark.localframe import local_df
from queue_system_simulator_spark.schema import load_table, parquet_schema


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the driver's events table (schema pinned from
    the batch scan — streaming sources require an explicit schema)."""
    path = f"{sf_dir}/events.parquet"
    from queue_system_simulator_spark.schema import tune_foreign_session
    from queue_system_simulator_spark.shipping import ensure_shipped

    tune_foreign_session(spark)
    ensure_shipped(spark)  # stateful ops ship package closures to workers
    # FileStreamSource needs a directory; expose the single parquet file
    # through a stable symlink dir (stands in for the S3 prefix a real
    # deployment would stream from)
    link_dir = (
        Path(tempfile.gettempdir())
        / "qss_spark_stream"
        / sf_dir.strip("/").replace("/", "_")
    )
    link_dir.mkdir(parents=True, exist_ok=True)
    link = link_dir / "events.parquet"
    # resolve() the target: a RELATIVE sf_dir would be stored relative to
    # the link's own directory and silently break; and check is_symlink()
    # too — exists() follows the link, so a broken link reads as absent
    # while symlink_to still collides (hit with .scale_probe/sf10)
    target = Path(path).resolve()
    try:
        if link.is_symlink() or link.exists():
            if not (link.is_symlink() and link.resolve() == target):
                link.unlink()
                link.symlink_to(target)
        else:
            link.symlink_to(target)
    except FileExistsError:
        # two processes recreated a stale link together; accept the
        # winner's link if it points where ours would have
        if not (link.is_symlink() and link.resolve() == target):
            raise
    raw_schema = parquet_schema(spark, path)  # pre-conversion (ts may be ns-long)
    stream = spark.readStream.schema(raw_schema).format("parquet").load(str(link_dir))
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        stream = stream.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif ts_type == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def tumbling_counts(
    events: DataFrame, window: str = "60 seconds", watermark: str = "10 minutes"
) -> DataFrame:
    """Event-time tumbling-window counts + exact-decimal value sums per
    event_type.  Watermark bounds state for late data (the reference has no
    late-data handling — SURVEY §2.G — this is the engine extension)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            (F.unix_micros(F.col("win.start")) / 1_000_000)
            .cast("long")
            .alias("window_start_s"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_api_load(
    events: DataFrame,
    num_apis: int = 5,
    window: str = "60 seconds",
    slide: str = "15 seconds",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Sliding-window per-API call counts — the analysis-mode analog of the
    E5 sliding-window limiter as a stream."""
    api = (F.col("event_id") % num_apis + 1).cast("int").alias("api_id")
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("win"), api)
        .agg(F.count(F.lit(1)).alias("calls_in_window"))
        .select(
            (F.unix_micros(F.col("win.start")) / 1_000_000)
            .cast("long")
            .alias("window_start_s"),
            "api_id",
            "calls_in_window",
        )
    )


def session_counts(
    events: DataFrame, gap: str = "300 seconds", watermark: str = "10 minutes"
) -> DataFrame:
    """Event-time session windows per user (gap-based): the engine extension
    the reference lacks entirely — burst detection over the request log.
    State is bounded by the watermark; sessions merge across microbatches."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            (F.unix_micros(F.col("win.start")) / 1_000_000)
            .cast("long")
            .alias("session_start_s"),
            "n_events",
        )
    )


#: Output/state schemas for the online FIFO kernel (micros as longs: exact).
FIFO_STATE_OUTPUT = (
    "user_id string, seq long, arrival_s double, start_s double, "
    "finish_s double, queuing_s double"
)
#: Per-SHARD state: a JSON map user_id → last service finish (integer µs).
FIFO_STATE_SCHEMA = "finishes string"

FIFO_STATE_SHARDS = 8


def streaming_fifo_k1(events: DataFrame, shards: int = FIFO_STATE_SHARDS) -> DataFrame:
    """Online FIFO/k=1 kernel via ``applyInPandasWithState``.

    This is the stateful-streaming twin of the batch kernel's E1 special
    case (``operators/fifo.py``): ``start_i = max(arrival_i, finish_{i-1})``
    carried across microbatches in group state, so the drained stream output
    is bit-equal to the closed-form window SQL — which is exactly how the
    registered query is oracle-checked.

    State is keyed by a hash SHARD of the user, holding a JSON map
    user → last-finish (integer µs, exact).  Per-user state rows would be
    the canonical Spark shape (RocksDB locality, per-key watermark
    eviction), but with many thousands of tiny groups the per-group Arrow
    batch overhead dominates in local mode; sharding keeps the Python
    crossing count fixed.  The map stays bounded: one long per user seen —
    swap ``shards`` for per-user keying when user cardinality ≫ memory.
    """
    import json

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdfs, state: GroupState):
        import pandas as pd

        batch = pd.concat(list(pdfs))
        if batch.empty:
            return
        finishes = json.loads(state.get[0]) if state.exists else {}
        batch = batch.sort_values(["user_id", "arrival_us", "seq"])
        out = []
        for r in batch.itertuples():
            last = finishes.get(r.user_id, 0)
            start = max(int(r.arrival_us), last)
            last = start + int(r.processing_us)
            finishes[r.user_id] = last
            out.append(
                (
                    r.user_id,
                    r.seq,
                    r.arrival_us / 1e6,
                    start / 1e6,
                    last / 1e6,
                    (start - r.arrival_us) / 1e6,
                )
            )
        state.update((json.dumps(finishes),))
        yield pd.DataFrame(
            out,
            columns=[
                "user_id",
                "seq",
                "arrival_s",
                "start_s",
                "finish_s",
                "queuing_s",
            ],
        )

    keyed = events.select(
        F.col("user_id").cast("string").alias("user_id"),
        F.col("event_id").alias("seq"),
        F.unix_micros("ts").alias("arrival_us"),
        (F.round(F.col("value") * 100).cast("long") * 10_000).alias("processing_us"),
        F.pmod(F.xxhash64(F.col("user_id").cast("string")), F.lit(shards)).alias(
            "shard"
        ),
    )
    return keyed.groupBy("shard").applyInPandasWithState(
        fn,
        outputStructType=FIFO_STATE_OUTPUT,
        stateStructType=FIFO_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def interval_join_purchase_clicks(
    events: DataFrame, lookback: str = "10 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Stream-stream interval join: each purchase matched to the same
    user's clicks in the preceding ``lookback``.

    Both sides are watermarked so Spark can bound the join state: a
    buffered click can be dropped once the purchase-side watermark passes
    ``click.ts + lookback`` — the state-cleanup contract that makes
    stream-stream joins runnable indefinitely (the reference has no
    multi-stream concept at all; SURVEY §2.G streaming extensions)."""
    p = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", watermark)
    )
    c = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", watermark)
    )
    joined = p.join(
        c,
        F.expr(
            f"c_user = p_user AND c_ts >= p_ts - interval {lookback} "
            "AND c_ts <= p_ts"
        ),
    )
    return joined.select(
        "purchase_id",
        "click_id",
        F.col("p_user").alias("user_id"),
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("gap_us"),
    )


def minute_total_counts(
    events: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """Event-time tumbling 60 s TOTAL event counts (no type split) — the
    per-minute rate series a streaming monitor maintains.  Tumbling
    windows align to the epoch minute, so ``minute`` equals the batch
    ``epoch_us(ts) // 60e6`` bucketing exactly.  State = one row per
    open window inside the watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "60 seconds").alias("win"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            # integer division: Spark's `div` and DuckDB's `//` both
            # truncate toward zero, and win.start is always an exact 60 s
            # multiple, so the bucket is exact either way — the real win
            # over the old code is avoiding double rounding (true
            # division + cast re-rounded an already-exact quotient)
            F.expr("unix_micros(win.start) div 60000000").alias("minute"),
            "n",
        )
    )


def run_available_now(
    result: DataFrame,
    output_mode: str = "complete",
    state_partitions: int | None = None,
    distributed_complete: bool = False,
    rocksdb_state: bool = False,
) -> DataFrame:
    """Drain a streaming query with Trigger.AvailableNow and return the
    materialized result.

    Aggregations (complete mode, small results) drain into an in-memory
    table.  Append-mode row streams drain to a parquet sink instead —
    executors write in parallel and the return stays lazy, where the memory
    sink would serialize every row through the driver (at scale the parquet
    path IS the deployment shape: stream → datalake files).

    ``distributed_complete=True`` routes a COMPLETE-mode drain through
    ``foreachBatch`` + a parquet overwrite instead of the memory sink:
    each trigger rewrites the full current result with a distributed
    write, and the final batch leaves the final result on disk.  Use it
    whenever a complete-mode result is CORPUS-SIZED rather than a small
    aggregate — the memory sink materializes every result row in the
    single JVM, which the 1 B-row probe measured to a heap OOM on the
    per-user-session frame (~40 M rows) while the distributed drain
    completes.  Semantics are identical; only the sink topology changes.

    ``rocksdb_state=True`` scopes the RocksDB state-store provider to
    this drain (restored after): the default HDFSBackedStateStore keeps
    every partition's state map IN HEAP, which the 1 B-row probe
    measured to an executor OOM on the per-user-session aggregation
    (~40 M live session states in a 16 GB JVM); RocksDB spills state to
    local disk with a bounded block cache — the provider every
    large-state streaming deployment runs.  Use it when the stateful
    KEY DOMAIN scales with the corpus (per-user/per-session state);
    leave the in-heap default for small bounded domains, where it is
    faster.

    ``state_partitions`` scopes ``spark.sql.shuffle.partitions`` to this
    drain (restored after).  Stateful operators build one state store per
    shuffle partition per operator; when the STATEFUL KEY DOMAIN is tiny
    (event_type ~5, api ~5, window buckets ~10s), 32 partitions is pure
    per-partition store-setup overhead over mostly-empty state (measured:
    stream-stream interval join 6.9 s -> 2.4 s at 8 partitions, sf0.1).
    Callers pass it ONLY for known-small key domains; high-cardinality
    state (the user-sharded kernels) keeps the session default, and a
    100 TB deployment sizes the session conf to its cluster instead."""
    spark = result.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    _provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev_provider = spark.conf.get(_provider_key, None)
    if rocksdb_state:
        spark.conf.set(
            _provider_key,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
    try:
        # a fresh dir per drain: an append-mode sink reusing one would
        # resume from its retained checkpoint, past the source, and emit
        # nothing; sweep_stale collects the dirs of finished drains
        name = f"stream_out_{uuid.uuid4().hex[:12]}"
        if output_mode == "complete" and distributed_complete:
            root = Path(tempfile.gettempdir()) / "qss_spark_stream_out"
            sweep_stale(root)
            out_dir = root / name

            def overwrite_batch(batch_df: DataFrame, batch_id: int) -> None:
                batch_df.write.mode("overwrite").parquet(str(out_dir / "data"))

            q = (
                result.writeStream.foreachBatch(overwrite_batch)
                .option("checkpointLocation", str(out_dir / "ckpt"))
                .outputMode("complete")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return result.sparkSession.read.schema(result.schema).parquet(
                str(out_dir / "data")
            )
        if output_mode == "append":
            root = Path(tempfile.gettempdir()) / "qss_spark_stream_out"
            sweep_stale(root)
            out_dir = root / name
            q = (
                result.writeStream.format("parquet")
                .option("path", str(out_dir / "data"))
                .option("checkpointLocation", str(out_dir / "ckpt"))
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return result.sparkSession.read.schema(result.schema).parquet(
                str(out_dir / "data")
            )
        q = (
            result.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return result.sparkSession.table(name)
    finally:
        if state_partitions:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        if rocksdb_state:
            if prev_provider is None:
                spark.conf.unset(_provider_key)
            else:
                spark.conf.set(_provider_key, prev_provider)


RATE_LIMIT_OUTPUT = (
    "event_id long, api_id int, calls_in_window long, allowed boolean"
)
#: Per-API state: JSON list of event timestamps (integer µs) still inside
#: the sliding window — the deque of /root/reference/src/api_client.py:13-24.
RATE_LIMIT_STATE_SCHEMA = "recent string"


def streaming_rate_limiter(
    events: DataFrame, num_apis: int = 5, rpm_limit: int = 60
) -> DataFrame:
    """ONLINE sliding-window rate limiter via ``applyInPandasWithState``.

    The true streaming twin of SURVEY §2 E5 (the batch analysis form is
    ``rate_limit_sliding``): per API, group state holds the deque of call
    timestamps still inside the trailing 60 s window (evict now−ts>60 s,
    reference ``api_client.py:17-24``), carried across microbatches.  Count
    semantics exactly match the batch RANGE frame (peer-inclusive: all
    calls sharing one timestamp see the full peer count), so the drained
    stream is oracle-checked against the same SQL.  State is bounded by
    arrival rate × 60 s per API — the reference's own deque bound.  Rows
    with one event time split across microbatches would undercount peers;
    the registered query drains the corpus with availableNow (single
    source file → one batch), and a production deployment keys watermarked
    event-time order into the source.
    """
    import json

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    win_us = 60_000_000

    def fn(key, pdfs, state: GroupState):
        import numpy as np
        import pandas as pd

        batch = pd.concat(list(pdfs))
        if batch.empty:
            return
        recent = np.array(
            json.loads(state.get[0]) if state.exists else [], dtype=np.int64
        )
        batch = batch.sort_values(["ts_us", "event_id"])
        ts = batch["ts_us"].to_numpy(dtype=np.int64)
        all_ts = np.sort(np.concatenate([recent, ts]))
        # peer-inclusive RANGE count, fully vectorized: for each call at t,
        # #{calls with ts in [t-60s, t]} over carried state + this batch
        n = np.searchsorted(all_ts, ts, side="right") - np.searchsorted(
            all_ts, ts - win_us, side="left"
        )
        state.update((json.dumps(all_ts[all_ts >= int(ts[-1]) - win_us].tolist()),))
        yield pd.DataFrame(
            {
                "event_id": batch["event_id"].to_numpy(dtype=np.int64),
                "api_id": np.full(len(ts), int(key[0]) + 1, dtype=np.int32),
                "calls_in_window": n.astype(np.int64),
                "allowed": n <= rpm_limit,
            }
        )

    keyed = events.select(
        F.col("event_id").cast("long").alias("event_id"),
        (F.col("event_id") % num_apis).alias("api"),
        F.unix_micros("ts").alias("ts_us"),
    )
    return keyed.groupBy("api").applyInPandasWithState(
        fn,
        outputStructType=RATE_LIMIT_OUTPUT,
        stateStructType=RATE_LIMIT_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


UPSERT_OUTPUT = (
    "user_id long, tus long, event_id long, event_type string, "
    "value_centi long"
)
UPSERT_STATE = "tus long, event_id long, event_type string, value_centi long"


def streaming_latest_upsert(events: DataFrame) -> DataFrame:
    """Online keyed upsert (Kafka-compaction semantics) via
    ``applyInPandasWithState``.

    Groups on ``user_id`` itself, so the state store holds **one small
    typed row per user** — (tus, event_id, event_type, value_centi), the
    latest event on the total order ``(event-time µs, event_id)`` — which
    is how Structured Streaming state is meant to scale: per-key rows in
    the HDFS/RocksDB state store, no serialized map-of-everything.  Every
    microbatch merges its rows into that row and emits the POST-MERGE
    latest for the user.  Emitting running candidates (instead of only a
    final snapshot, which would need a timeout to fire at drain end) makes
    the drained output batching-independent: the true compacted row per
    user is the max over emitted candidates on the same total order, which
    the registered query takes with a user-partitioned window — so stream
    ≡ batch ``latest_event_per_user`` whatever the file-source batch
    boundaries.  State growth is O(distinct users) × one fixed-width row;
    a deployment bounding user churn would swap NoTimeout for a
    processing-time timeout and drop idle keys (compaction semantics make
    re-insertion on a late revisit correct).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdfs, state: GroupState):
        import pandas as pd

        batch = pd.concat(list(pdfs))
        if batch.empty:
            return
        best = tuple(state.get) if state.exists else None
        r = batch.sort_values(["tus", "event_id"]).iloc[-1]
        cand = (int(r.tus), int(r.event_id), str(r.event_type), int(r.value_centi))
        if best is None or (cand[0], cand[1]) > (int(best[0]), int(best[1])):
            best = cand
        state.update(best)
        yield pd.DataFrame(
            [(int(key[0]), int(best[0]), int(best[1]), best[2], int(best[3]))],
            columns=["user_id", "tus", "event_id", "event_type", "value_centi"],
        )

    keyed = events.select(
        "user_id",
        F.unix_micros("ts").alias("tus"),
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_centi"),
    )
    return keyed.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=UPSERT_OUTPUT,
        stateStructType=UPSERT_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_events_multibatch(
    spark: SparkSession, sf_dir: str, n_files: int = 4
) -> DataFrame:
    """File-source stream over the events table split into ``n_files``
    parquet files with ``maxFilesPerTrigger=1``, so an AvailableNow drain
    processes ``n_files`` REAL microbatches instead of one.

    The single-file ``stream_events`` source drains in one batch, which
    exercises stateful operators but not cross-batch folds; this variant
    exists for queries whose correctness claim is batching-independence of
    a per-batch merge (foreachBatch MERGE, incremental compaction).  The
    split is round-robin — the merge under test must be indifferent to
    which rows land in which batch, which is exactly the property the
    caller's oracle then proves.

    The split is built once per source (``fixtures.build_once``)."""
    from queue_system_simulator_spark.schema import tune_foreign_session
    from queue_system_simulator_spark.shipping import ensure_shipped

    tune_foreign_session(spark)
    ensure_shipped(spark)

    def build(split: Path) -> None:
        load_table(spark, sf_dir, "events").repartition(n_files).write.mode(
            "overwrite"
        ).parquet(str(split))

    src = build_once(
        f"split_multibatch_n{n_files}", Path(sf_dir) / "events.parquet", (), build
    )
    schema = parquet_schema(spark, src)
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )


def run_foreachbatch_merge(keyed: DataFrame) -> DataFrame:
    """Drain a stream through ``writeStream.foreachBatch``, folding every
    microbatch into a parquet "lake table" with MERGE semantics (upsert the
    per-user latest on the (tus, event_id) total order) — the canonical
    streaming-upsert-into-lakehouse pattern (Delta/Iceberg MERGE inside
    foreachBatch), expressed against plain parquet.

    Merge-on-read: batch k writes only its own per-user latest as delta
    ``v{k}``, with no read of earlier deltas, no union and no rewrite, and
    the reader takes the per-user latest over ``v1..v{n}``.  The fold is
    an argmax over a total order: associative and commutative, so the
    snapshot is independent of batch boundaries and of where the fold
    runs, and idempotent, so a replayed batch's second delta changes
    nothing.  Callers grade it against the batch latest-per-user oracle.
    Each batch costs its own rows, not the size of the table so far.

    Commit-then-advance: the committed count moves only after ``v{k}`` is
    fully written, and the reader names ``v1..v{n}`` explicitly, so a
    partial ``v{n+1}`` left by a failed batch is never read (partial
    parquet dirs are readable without ``_SUCCESS``) — the atomicity a
    table format's commit log gives.  ``foreachBatch`` runs on the
    driver; the per-batch work it launches (window + write) is fully
    distributed, and a table format would compact the deltas at scale.

    Expects columns ``user_id, tus, event_id, ...`` and returns the final
    snapshot DataFrame (lazy, reading the committed deltas)."""
    from pyspark.sql import Window

    spark = keyed.sparkSession
    fb_root = Path(tempfile.gettempdir()) / "qss_spark_fb_merge"
    sweep_stale(fb_root)
    base = fb_root / f"m_{uuid.uuid4().hex[:12]}"
    base.mkdir(parents=True, exist_ok=True)
    state = {"v": 0}
    w = Window.partitionBy("user_id").orderBy(
        F.desc("tus"), F.desc("event_id")
    )

    def latest(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        nxt = state["v"] + 1
        latest(batch_df).write.mode("overwrite").parquet(str(base / f"v{nxt}"))
        state["v"] = nxt

    q = (
        keyed.writeStream.foreachBatch(merge)
        .option("checkpointLocation", str(base / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if state["v"] == 0:  # empty source: no batch ever fired
        return local_df(spark, [], keyed.schema)
    deltas = [str(base / f"v{k}") for k in range(1, state["v"] + 1)]
    return latest(spark.read.schema(keyed.schema).parquet(*deltas))


def stream_events_timesliced(
    spark: SparkSession, sf_dir: str, n_slices: int = 4
) -> DataFrame:
    """File-source stream over the events table split into ``n_slices``
    EVENT-TIME slices, drained one slice per microbatch in time order.

    Where ``stream_events_multibatch`` splits round-robin (for merges
    whose claim is batching-INdependence), this source makes the batch
    sequence itself deterministic and log-derivable: slice k holds
    exactly the events with ``cut_{k-1} <= tus < cut_k`` under the same
    integer-microsecond cut formula the versioned batch sink uses
    (``cut_k = tmin + span*k // n``, ``sources/sink.py``
    write_versioned_snapshots), so a streaming sink that commits one
    version per microbatch produces a commit chain whose EVERY version
    is re-derivable from the raw log — the property
    ``versioned_streaming_sink``'s oracle grades.

    Batch order is enforced physically: each slice is one parquet data
    file whose mtime is stamped ``t0 + k`` seconds (the file source
    processes oldest-first under ``latestFirst=false``/default, and
    sub-millisecond write completions could otherwise tie at the file
    source's millisecond granularity).  Rows carry the keyed lake
    projection (user_id, tus, event_id, event_type, value_centi —
    parity: ``relational_queries._tt_events``).  The split is built once
    per source (``fixtures.build_once``).  At 100 TB the slicing is
    fixture plumbing only — a real deployment's Kafka/file source already
    arrives in event-time order; the sink is the scale path."""
    import os
    import shutil

    from queue_system_simulator_spark.schema import tune_foreign_session

    tune_foreign_session(spark)

    def build(split: Path) -> None:
        keyed = load_table(spark, sf_dir, "events").select(
            "user_id",
            F.unix_micros("ts").alias("tus"),
            "event_id",
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("value_centi"),
        )
        keyed.persist()
        try:
            lo, hi = keyed.agg(F.min("tus"), F.max("tus")).first()
            span = int(hi) - int(lo) + 1
            cuts = [int(lo) + (span * k) // n_slices for k in range(1, n_slices + 1)]
            t0 = int(split.stat().st_mtime)
            prev = int(lo)
            for k, cut in enumerate(cuts, start=1):
                part = split / f"_stage_{k}"
                keyed.filter(
                    (F.col("tus") >= prev) & (F.col("tus") < cut)
                ).coalesce(1).write.mode("overwrite").parquet(str(part))
                (data,) = [f for f in part.glob("part-*") if f.is_file()]
                dst = split / f"slice-{k:02d}.parquet"
                os.rename(data, dst)
                shutil.rmtree(part, ignore_errors=True)
                os.utime(dst, (t0 + k, t0 + k))
                prev = cut
        finally:
            keyed.unpersist()

    src = build_once(
        f"split_timesliced_n{n_slices}", Path(sf_dir) / "events.parquet", (), build
    )
    schema = parquet_schema(spark, src / "slice-01.parquet")
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )


def run_streaming_versioned_commits(
    keyed: DataFrame,
    base: str,
    tombstone: str = "error",
    _fail_before_commit=None,
    _fail_after_commit=None,
) -> None:
    """Streaming writer INTO the versioned lake table — the Delta
    streaming-sink shape (``writeStream.foreachBatch`` + ``txnVersion``
    idempotency): every microbatch is committed as a NEW manifest
    version of the copy-on-write table that
    ``sources/sink.py::write_versioned_snapshots`` builds in batch, so
    batch and streaming writers produce the SAME table surface
    (read_version / read_manifest / CDC / AS-OF / VACUUM / OPTIMIZE all
    apply unchanged).

    Per batch: merge the batch into the previous snapshot (keyed argmax
    on the (tus, event_id) total order, tombstone filter — the
    incremental MERGE of the batch sink), write ``v{batch_id+1}`` data
    files FIRST, commit the manifest row LAST through the recoverable
    rename swap (``_commit_manifest_rows``).  Exactly-once under both
    crash points, the table-format discipline:

    * crash AFTER data, BEFORE manifest commit — the orphan v{k} dir is
      invisible to manifest-driven readers; Structured Streaming
      replays the batch from the checkpoint and the rewrite+commit
      lands once (mode=overwrite on the orphan).
    * crash AFTER manifest commit, BEFORE the checkpoint records the
      batch — the replayed batch sees its version already in the
      manifest (``version = batch_id + 1``, Delta's foreachBatch
      txnVersion pattern) and returns without touching the table.

    The version base is re-derived from the MANIFEST every batch, never
    from driver memory, so a restarted query continues the same chain.
    ``_fail_*`` hooks are crash-injection points for the ordering tests
    only.  Scale: each batch is one keyed shuffle + snapshot write
    (identical to the batch sink's per-commit work); the driver touches
    only the O(chain length) commit log.  Expects the lake projection
    ``user_id, tus, event_id, event_type, value_centi``."""
    from pyspark.sql import Observation

    from queue_system_simulator_spark.sources.sink import (
        _commit_manifest_rows,
        read_manifest,
    )

    schema = keyed.schema

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        v = int(batch_id) + 1
        try:
            manifest = sorted(
                (int(r.version), int(r.cut_micros), int(r.n_rows))
                for r in read_manifest(s, base).collect()
            )
        except Exception:  # first-ever commit: no manifest yet
            manifest = []
        if manifest and manifest[-1][0] >= v:
            return  # replay of an already-committed batch: no-op
        prev_cut = manifest[-1][1] if manifest else 0
        merged = batch_df
        if v > 1:
            prev = s.read.schema(schema).parquet(str(Path(base) / f"v{v - 1}"))
            merged = prev.unionByName(batch_df)
        obs_in = Observation(f"qss_svs_in_v{v}")
        # watermark observed PRE-filter (a tombstone can carry the max)
        merged = merged.observe(obs_in, F.max("tus").alias("hi"))
        snap = (
            merged.groupBy("user_id")
            .agg(
                F.max_by(
                    F.struct("tus", "event_id", "event_type", "value_centi"),
                    F.struct("tus", "event_id"),
                ).alias("s")
            )
            .select(
                "user_id", "s.tus", "s.event_id", "s.event_type", "s.value_centi"
            )
            .filter(F.col("event_type") != tombstone)
        )
        obs_out = Observation(f"qss_svs_out_v{v}")
        snap = snap.observe(obs_out, F.count(F.lit(1)).alias("n"))
        snap.write.mode("overwrite").parquet(str(Path(base) / f"v{v}"))
        hi = obs_in.get["hi"]
        cut = max(prev_cut, int(hi) + 1) if hi is not None else prev_cut
        if _fail_before_commit is not None:
            _fail_before_commit(v)
        _commit_manifest_rows(s, base, manifest + [(v, cut, int(obs_out.get["n"]))])
        if _fail_after_commit is not None:
            _fail_after_commit(v)

    q = (
        keyed.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", str(Path(base) / "_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
