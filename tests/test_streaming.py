"""Structured Streaming ↔ batch equivalence (the unified-engine contract)."""

from __future__ import annotations

import shutil
import tempfile
import uuid
from pathlib import Path
from types import SimpleNamespace
from urllib.parse import urlparse

import pytest
from pyspark.sql import functions as F

from queue_system_simulator_spark.schema import load_table
from queue_system_simulator_spark.streaming.stream import (
    run_available_now,
    sliding_api_load,
    stream_events,
    tumbling_counts,
)


def test_tumbling_counts_match_batch(spark, sf_dir):
    streamed = run_available_now(tumbling_counts(stream_events(spark, sf_dir)))
    ev = load_table(spark, sf_dir, "events")
    batch = (
        ev.groupBy(
            ((F.unix_micros("ts") - F.unix_micros("ts") % 60_000_000) / 1_000_000)
            .cast("long")
            .alias("window_start_s"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
    )
    s = sorted(map(tuple, streamed.collect()))
    b = sorted(map(tuple, batch.collect()))
    assert s == b


def test_streaming_fifo_state_matches_batch_closed_form(spark, sf_dir):
    """Online stateful kernel (applyInPandasWithState) ≡ closed-form FIFO."""
    from queue_system_simulator_spark.operators.fifo import fifo_k1_timeline
    from queue_system_simulator_spark.streaming.stream import streaming_fifo_k1

    streamed = run_available_now(
        streaming_fifo_k1(stream_events(spark, sf_dir)), output_mode="append"
    )
    ev = load_table(spark, sf_dir, "events")
    batch = fifo_k1_timeline(ev, ts_col="ts", proc_col="value").select(
        F.col("group_id").cast("string").alias("user_id"),
        "seq",
        "arrival_s",
        "start_s",
        "finish_s",
        "queuing_s",
    )
    s = sorted(map(tuple, streamed.collect()))
    b = sorted(map(tuple, batch.collect()))
    assert s == b


def test_streaming_fifo_state_across_microbatches(spark, sf_dir, tmp_path):
    """State must CARRY across microbatches: split the log into 3 time-
    ordered files, force one file per trigger, and require the same result
    as the single-batch closed form."""
    import os
    import time as _time

    from queue_system_simulator_spark.operators.fifo import fifo_k1_timeline
    from queue_system_simulator_spark.streaming.stream import (
        run_available_now,
        streaming_fifo_k1,
    )

    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    thirds = ev.select(F.ntile(3).over(Window.orderBy("ts")).alias("part"), "*")
    src = tmp_path / "split_events"
    for i in (1, 2, 3):
        part_dir = tmp_path / f"p{i}"
        thirds.filter(F.col("part") == i).drop("part").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(part_dir))
        src.mkdir(exist_ok=True)
        fn = [f for f in os.listdir(part_dir) if f.endswith(".parquet")][0]
        os.rename(part_dir / fn, src / f"{i:03d}.parquet")
        # FileStreamSource orders by modification time: stagger mtimes so
        # batches arrive in event-time order
        _time.sleep(0.01)
        os.utime(src / f"{i:03d}.parquet", (1_000_000 + i, 1_000_000 + i))

    raw_schema = spark.read.parquet(str(src)).schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(str(src))
    )
    streamed = run_available_now(streaming_fifo_k1(stream), output_mode="append")
    batch = fifo_k1_timeline(ev, ts_col="ts", proc_col="value").select(
        F.col("group_id").cast("string").alias("user_id"),
        "seq",
        "arrival_s",
        "start_s",
        "finish_s",
        "queuing_s",
    )
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch.collect())
    )


def test_session_counts_cover_all_events(spark, sf_dir):
    from queue_system_simulator_spark.streaming.stream import session_counts

    out = run_available_now(session_counts(stream_events(spark, sf_dir)))
    rows = out.collect()
    n_events = load_table(spark, sf_dir, "events").count()
    assert sum(r.n_events for r in rows) == n_events  # partition of the log
    per_user = {}
    for r in rows:
        per_user.setdefault(r.user_id, []).append(r.session_start_s)
    for starts in per_user.values():
        assert len(starts) == len(set(starts))  # distinct session starts


def test_sliding_api_load_runs(spark, sf_dir):
    out = run_available_now(sliding_api_load(stream_events(spark, sf_dir)))
    rows = out.collect()
    assert rows
    # every event lands in window/slide = 4 sliding windows
    total = sum(r["calls_in_window"] for r in rows)
    n_events = load_table(spark, sf_dir, "events").count()
    assert total == n_events * 4


def test_checkpoint_recovery_exactly_once(spark, sf_dir, tmp_path):
    """Kill a stream after its first microbatch, restart from the same
    checkpoint: the parquet sink must end up with every input row exactly
    once (file-sink transactional log + checkpointed source offsets)."""
    import os
    import time as _time

    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    thirds = ev.select(F.ntile(3).over(Window.orderBy("ts")).alias("part"), "*")
    src = tmp_path / "src"
    src.mkdir()
    for i in (1, 2, 3):
        part_dir = tmp_path / f"p{i}"
        thirds.filter(F.col("part") == i).drop("part").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(part_dir))
        fn = [f for f in os.listdir(part_dir) if f.endswith(".parquet")][0]
        os.rename(part_dir / fn, src / f"{i:03d}.parquet")
        _time.sleep(0.01)
        os.utime(src / f"{i:03d}.parquet", (1_000_000 + i, 1_000_000 + i))

    schema = spark.read.parquet(str(src)).schema
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def start():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .format("parquet")
            .load(str(src))
        )
        proj = stream.select("event_id", "user_id", "event_type")
        return (
            proj.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    q = start()
    # wait for at least one committed batch, then kill mid-stream
    deadline = _time.time() + 60
    while _time.time() < deadline:
        if q.lastProgress and q.lastProgress["batchId"] >= 0:
            break
        _time.sleep(0.2)
    q.stop()
    q.awaitTermination()

    # restart from the same checkpoint; drain everything remaining
    q2 = start()
    deadline = _time.time() + 120
    while _time.time() < deadline:
        _time.sleep(0.5)
        if (
            q2.lastProgress
            and q2.lastProgress["numInputRows"] == 0
            and not q2.status["isDataAvailable"]
        ):
            break
    q2.stop()
    q2.awaitTermination()

    result = spark.read.parquet(out)
    n_total = ev.count()
    assert result.count() == n_total  # no loss, no duplicates
    assert result.select("event_id").distinct().count() == n_total


def test_foreach_batch_idempotent_upsert_sink(spark, sf_dir, tmp_path):
    """foreachBatch + deterministic per-batch partition overwrite = the
    exactly-once pattern for sinks without a transactional log (JDBC,
    object stores): each microbatch writes to batch_id=<id>, so a REPLAYED
    batch (crash between sink write and offset commit) overwrites its own
    partition instead of duplicating rows."""
    import os

    src_dir = str(tmp_path / "src")
    spark.createDataFrame(
        [(i, i % 7) for i in range(100)], "event_id long, user_id long"
    ).repartition(4).write.parquet(src_dir)
    schema = spark.read.parquet(src_dir).schema
    out = str(tmp_path / "out")
    seen = []

    def upsert(batch_df, batch_id: int):
        seen.append(batch_id)
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .parquet(f"{out}/batch_id={batch_id}")
        )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .format("parquet")
        .load(src_dir)
    )
    q = (
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(seen) >= 2  # maxFilesPerTrigger split the input

    first = spark.read.parquet(out)
    assert first.count() == 100

    # simulate the crash-replay: rerun a committed batch with the same id
    replay_df = spark.read.parquet(src_dir).limit(37)
    upsert(replay_df, seen[0])
    replayed = spark.read.parquet(out)
    # the replayed batch replaced its partition — total rows still exactly
    # the union of per-batch last-writes, no duplicates by (batch, event)
    per_batch = dict(
        replayed.groupBy("batch_id").count().rdd.map(tuple).collect()
    )
    assert per_batch[seen[0]] == 37
    assert replayed.select("event_id", "batch_id").distinct().count() == replayed.count()


def test_join_then_window_chained_state(spark, sf_dir):
    """Two stateful operators (stream-stream join -> window agg) in one
    streaming query; emitted windows carry positive pair counts and
    non-negative gap sums (clicks precede purchases by construction)."""
    from queue_system_simulator_spark.plans import QUERIES

    rows = QUERIES["streaming_join_then_window"].build(spark, sf_dir).collect()
    for r in rows:
        assert r.n_pairs > 0
        assert r.sum_gap_us >= 0


def test_streaming_checkpoint_recovery_exactly_once(spark, sf_dir, tmp_path):
    """Stop/restart contract: a second AvailableNow run against the SAME
    checkpoint processes only files that arrived since, and a rerun with
    no new data emits nothing — no loss, no duplicates (source offset log
    + sink commit log)."""
    import shutil

    src = tmp_path / "src"
    src.mkdir()
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    total = ev.count()
    ev.filter("event_id % 2 = 0").coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "h0")
    )
    ev.filter("event_id % 2 = 1").coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "h1")
    )
    schema = spark.read.parquet(str(tmp_path / "h0")).schema
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def drain():
        q = (
            spark.readStream.schema(schema)
            .parquet(str(src))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    for f in (tmp_path / "h0").glob("*.parquet"):
        shutil.copy(f, src / "arrived0.parquet")
    drain()
    n_first = spark.read.parquet(out).count()
    assert 0 < n_first < total

    for f in (tmp_path / "h1").glob("*.parquet"):
        shutil.copy(f, src / "arrived1.parquet")
    drain()  # restart from checkpoint: must pick up ONLY the new file
    back = spark.read.parquet(out)
    assert back.count() == total
    assert back.select("event_id").distinct().count() == total

    drain()  # third run, no new data: nothing re-emitted
    assert spark.read.parquet(out).count() == total


def test_state_partitions_is_scoped_to_the_drain(spark, sf_dir):
    """run_available_now(state_partitions=N) must restore the session's
    shuffle partitions afterwards — even though the drain executes inside
    the builder, later batch queries in the same session must see the
    original setting."""
    from queue_system_simulator_spark.plans import QUERIES

    before = spark.conf.get("spark.sql.shuffle.partitions")
    QUERIES["streaming_sliding_api_load"].build(spark, sf_dir).count()
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_lateness_block_prefix_scan_equals_global_window(spark, tmp_path):
    """The two-phase block prefix max must equal the naive single-window
    global running max — exercised across MULTIPLE blocks (25k rows over
    block size 10k), which the sf0.001 corpus never reaches."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from queue_system_simulator_spark.plans import QUERIES
    from queue_system_simulator_spark.plans.streaming_queries import (
        LATENESS_BLOCK,
    )

    n = 25_000
    assert n > 2 * LATENESS_BLOCK
    ev = (
        spark.range(n)
        .select(
            F.col("id").alias("event_id"),
            # scrambled event times so lateness is nonzero across blocks
            F.timestamp_micros(
                F.lit(1_700_000_000_000_000)
                + (F.col("id") * 1_000_003) % 86_400_000_000
            ).alias("ts"),
            (F.col("id") % 7).cast("long").alias("user_id"),
            F.concat(F.lit("t"), (F.col("id") % 3).cast("string")).alias(
                "event_type"
            ),
            F.lit(1.0).alias("value"),
            F.lit("{}").alias("props"),
        )
    )
    d = str(tmp_path / "lateness")
    ev.write.parquet(f"{d}/events.parquet")
    got = {
        r.event_type: r
        for r in QUERIES["watermark_lateness_audit"].build(spark, d).collect()
    }
    run_max = F.max(F.unix_micros("ts")).over(
        Window.orderBy("event_id").rowsBetween(Window.unboundedPreceding, 0)
    )
    naive = {
        r.event_type: r
        for r in ev.select(
            "event_type", (run_max - F.unix_micros("ts")).alias("late_us")
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("late_us").cast("long").alias("max_late_us"),
            F.round(
                F.sum((F.col("late_us") > 60_000_000).cast("long")).cast(
                    "double"
                )
                / F.count(F.lit(1)),
                6,
            ).alias("drop_frac_1m"),
        )
        .collect()
    }
    assert set(got) == set(naive)
    for et in naive:
        assert got[et].n == naive[et].n
        assert got[et].max_late_us == naive[et].max_late_us
        assert got[et].drop_frac_1m == naive[et].drop_frac_1m


def test_streaming_compaction_matches_batch_latest(spark, sf_dir):
    """Drained upsert snapshot must equal the batch latest-event view,
    independent of how the file source batched the input."""
    from pyspark.sql import functions as F

    from queue_system_simulator_spark.plans.streaming_queries import (
        q_streaming_compacted_latest,
    )
    from queue_system_simulator_spark.schema import load_table

    got = {
        r["user_id"]: (
            r["last_tus"],
            r["last_event_id"],
            r["last_event_type"],
            r["last_value_centi"],
        )
        for r in q_streaming_compacted_latest(spark, sf_dir).collect()
    }
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("tus"),
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("vc"),
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("tus").desc(), F.col("event_id").desc()
    )
    want = {
        r["user_id"]: (r["tus"], r["event_id"], r["event_type"], r["vc"])
        for r in ev.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .collect()
    }
    assert got == want


def _merge_keyed(stream):
    """The keyed projection ``streaming_foreachbatch_merge`` folds."""
    return stream.select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("tus"),
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_centi"),
    )


def _batch_latest(spark, sf_dir):
    """user_id -> (tus, event_id) of the user's latest event, in batch."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("tus"), F.desc("event_id"))
    return {
        r["user_id"]: (r["tus"], r["event_id"])
        for r in load_table(spark, sf_dir, "events")
        .select("user_id", F.unix_micros("ts").alias("tus"), "event_id")
        .withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .collect()
    }


def test_foreachbatch_merge_is_batching_independent(spark, sf_dir):
    """The foreachBatch MERGE fold must equal the batch latest-per-user
    result, and the multi-file source must actually produce multiple
    microbatches (otherwise the fold is never exercised)."""
    from queue_system_simulator_spark.streaming.stream import (
        run_foreachbatch_merge,
        stream_events_multibatch,
    )

    stream = stream_events_multibatch(spark, sf_dir, n_files=4)
    batches = []
    stream.writeStream.foreachBatch(
        lambda df, bid: batches.append(df.count())
    ).trigger(availableNow=True).start().awaitTermination()
    assert len(batches) == 4 and all(n > 0 for n in batches)

    snap = {
        r["user_id"]: (r["tus"], r["event_id"])
        for r in run_foreachbatch_merge(_merge_keyed(stream)).collect()
    }
    assert snap == _batch_latest(spark, sf_dir)


@pytest.mark.parametrize("n_files", [1, 2, 4])
def test_foreachbatch_merge_reads_one_delta_per_batch(spark, sf_dir, n_files):
    """Batch k commits only its own per-user latest as delta v{k}; the
    snapshot folds every committed delta to the batch latest-per-user."""
    from queue_system_simulator_spark.streaming.stream import (
        run_foreachbatch_merge,
        stream_events_multibatch,
    )

    snap = run_foreachbatch_merge(
        _merge_keyed(stream_events_multibatch(spark, sf_dir, n_files=n_files))
    )
    got = {r["user_id"]: (r["tus"], r["event_id"]) for r in snap.collect()}
    assert got == _batch_latest(spark, sf_dir)
    deltas = {Path(urlparse(f).path).parent for f in snap.inputFiles()}
    assert sorted(d.name for d in deltas) == [f"v{k}" for k in range(1, n_files + 1)]
    for d in deltas:
        users = [r[0] for r in spark.read.parquet(str(d)).select("user_id").collect()]
        assert users and len(users) == len(set(users)), d.name


@pytest.mark.parametrize("source", ["no_files", "empty_batches"])
def test_foreachbatch_merge_of_an_empty_source(spark, sf_dir, tmp_path, source):
    from queue_system_simulator_spark.streaming.stream import (
        run_foreachbatch_merge,
        stream_events_multibatch,
    )

    stream = stream_events_multibatch(spark, sf_dir, n_files=2)
    if source == "no_files":
        (tmp_path / "src").mkdir()
        stream = spark.readStream.schema(stream.schema).parquet(str(tmp_path / "src"))
    keyed = _merge_keyed(stream)
    if source == "empty_batches":
        keyed = keyed.filter(F.col("event_id") < 0)
    snap = run_foreachbatch_merge(keyed)
    assert [(f.name, f.dataType) for f in snap.schema] == [
        (f.name, f.dataType) for f in keyed.schema
    ]
    assert snap.collect() == []


def test_foreachbatch_merge_never_reads_past_the_committed_deltas(
    spark, sf_dir, monkeypatch
):
    """A stray v{n+1} beside the n committed deltas, as a batch that
    failed mid-write leaves it, holds a row that outranks every user's
    latest; the snapshot must not see it."""
    import queue_system_simulator_spark.streaming.stream as stream_mod

    tag = uuid.uuid4().hex
    monkeypatch.setattr(
        stream_mod, "uuid", SimpleNamespace(uuid4=lambda: SimpleNamespace(hex=tag))
    )
    base = Path(tempfile.gettempdir()) / "qss_spark_fb_merge" / f"m_{tag[:12]}"
    keyed = _merge_keyed(stream_mod.stream_events_multibatch(spark, sf_dir, n_files=4))
    want = _batch_latest(spark, sf_dir)
    user = next(iter(want))
    spark.createDataFrame(
        [(user, 2**62, 2**62, "stray", 0)],
        "user_id bigint, tus bigint, event_id bigint, event_type string, "
        "value_centi bigint",
    ).write.parquet(str(base / "v5"))
    (base / "v5" / "_SUCCESS").unlink()
    try:
        snap = stream_mod.run_foreachbatch_merge(keyed)
        got = {r["user_id"]: (r["tus"], r["event_id"]) for r in snap.collect()}
        assert got == want
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_streaming_rate_anomalies_prequential(spark, sf_dir):
    """The online detector scores each minute against strictly-prior
    history only: recomputing the baseline batch-side from the raw events
    must reproduce every flagged row, and no flag may appear before 10
    minutes of history exist."""
    from pyspark.sql import functions as F

    from queue_system_simulator_spark.plans import QUERIES
    from queue_system_simulator_spark.schema import load_table

    rows = sorted(
        QUERIES["streaming_rate_anomalies"].build(spark, sf_dir).collect(),
        key=lambda r: r.minute,
    )
    for r in rows:
        assert r.n_prior >= 10
        assert abs(r.zscore) >= 3.0
    # independent batch recomputation of the prequential baseline
    m = {
        row.minute: row.n
        for row in load_table(spark, sf_dir, "events")
        .select((F.unix_micros("ts") / 60_000_000).cast("long").alias("minute"))
        .groupBy("minute")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    minutes = sorted(m)
    for r in rows:
        prior = [m[x] for x in minutes if x < r.minute]
        assert len(prior) == r.n_prior
        k, s, s2 = len(prior), sum(prior), sum(x * x for x in prior)
        z = (r.n * k - s) / (k * s2 - s * s) ** 0.5
        assert abs(z - r.zscore) < 1e-5


def test_multibatch_split_invalidates_on_source_change(spark, tmp_path):
    """The multibatch split cache is keyed by a fingerprint of the source
    data files: regenerating the fixture at the SAME path must stream the
    NEW rows, not a stale cached split (silent-divergence fix)."""
    import shutil

    from pyspark.sql import functions as F

    from queue_system_simulator_spark.streaming.stream import (
        run_available_now,
        stream_events_multibatch,
    )

    src_dir = tmp_path / "sfX"
    src_dir.mkdir()

    def drained_count():
        stream = stream_events_multibatch(spark, str(src_dir), n_files=2)
        row = run_available_now(
            stream.groupBy().agg(F.count(F.lit(1)).alias("n")),
            state_partitions=2,
        ).first()
        return row.n

    shutil.copy(
        "/root/testdata/sf0.001/events.parquet", src_dir / "events.parquet"
    )
    n1 = drained_count()
    # regenerate the fixture in place with a strictly smaller slice
    half = (
        spark.read.parquet(str(src_dir / "events.parquet"))
        .orderBy("event_id")
        .limit(n1 // 2)
        .toPandas()
    )
    import pyarrow as pa
    import pyarrow.parquet as pq

    (src_dir / "events.parquet").unlink()
    pq.write_table(
        pa.Table.from_pandas(half, preserve_index=False),
        src_dir / "events.parquet",
    )
    n2 = drained_count()
    assert n1 > 0
    assert n2 == n1 // 2  # stale path-keyed cache would return n1 again
    # the miss GCs dead-fingerprint siblings under the SAME mtime TTL the
    # drain sweeper uses: a young dir survives (a concurrent session that
    # already found the build stamp may still be streaming from it), an
    # aged one is swept on the next miss
    import os
    import time

    from queue_system_simulator_spark.fixtures import fixture_root

    cache_root = fixture_root(src_dir / "events.parquet")
    splits = [
        d.name
        for d in cache_root.iterdir()
        if d.is_dir() and d.name.startswith("split_multibatch_n2_")
    ]
    assert len(splits) == 2, splits  # old fingerprint is young -> kept
    # age every split past the TTL, regenerate once more (rewrite bumps
    # mtime_ns -> new fingerprint -> miss): both aged dirs are swept
    for d in cache_root.iterdir():
        old = time.time() - 3 * 3600
        os.utime(d, (old, old))
    (src_dir / "events.parquet").unlink()
    pq.write_table(
        pa.Table.from_pandas(half, preserve_index=False),
        src_dir / "events.parquet",
    )
    n3 = drained_count()
    assert n3 == n2
    splits = [
        d.name
        for d in cache_root.iterdir()
        if d.is_dir() and d.name.startswith("split_multibatch_n2_")
    ]
    assert len(splits) == 1, splits


def test_sweep_stale_drains_is_age_gated(tmp_path):
    """Drain-dir GC removes only dirs past the TTL: a concurrent
    process's live drain (fresh mtime) must never be touched."""
    import os
    import time

    from queue_system_simulator_spark.fixtures import sweep_stale

    old = tmp_path / "stream_out_old"
    (old / "data").mkdir(parents=True)
    (old / "data" / "part-0.parquet").write_bytes(b"x")
    stale_t = time.time() - 3 * 3600
    os.utime(old, (stale_t, stale_t))
    live = tmp_path / "stream_out_live"
    (live / "data").mkdir(parents=True)

    sweep_stale(tmp_path, ttl_s=7200)
    assert not old.exists()
    assert live.exists()
    # missing root is a no-op, not an error
    sweep_stale(tmp_path / "nonexistent")


def test_stream_events_link_dir_honours_tmpdir(spark, sf_dir, tmp_path, monkeypatch):
    """The symlink dir the file source streams from lives under the
    process's temp dir (``TMPDIR``), not a hard-coded ``/tmp``: a run
    pointed at its own temp dir must leave nothing outside it."""
    import tempfile

    from queue_system_simulator_spark.streaming.stream import stream_events

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    stream_events(spark, sf_dir)
    links = list(tmp_path.rglob("events.parquet"))
    assert links and all(p.is_symlink() for p in links), links


def _svs_chain(spark, base):
    """(version -> (n_rows, value_centi_total)) read back from storage."""
    from pyspark.sql import functions as F

    from queue_system_simulator_spark.sources.sink import (
        read_manifest,
        read_version,
    )

    chain = {}
    for r in read_manifest(spark, base).collect():
        v = int(r.version)
        n, s = (
            read_version(spark, base, v)
            .agg(F.count(F.lit(1)), F.coalesce(F.sum("value_centi"), F.lit(0)))
            .first()
        )
        chain[v] = (int(n), int(s), int(r.n_rows))
    return chain


def test_streaming_versioned_sink_crash_ordering(spark, sf_dir, tmp_path):
    """Exactly-once manifest commits under crashes on EITHER side of the
    commit point, and chain parity with the batch writer:

    * clean streamed chain == write_versioned_snapshots chain, version
      by version (the streaming sink and the batch sink build the same
      lake table);
    * crash AFTER data write, BEFORE manifest commit → the orphan
      v-dir is invisible to manifest readers; the restarted query
      replays the batch and commits once;
    * crash AFTER manifest commit, BEFORE the checkpoint records the
      batch → the replayed batch sees its version committed
      (txnVersion idempotency) and no-ops — the chain never
      double-commits."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from queue_system_simulator_spark.sources.sink import (
        read_manifest,
        write_versioned_snapshots,
    )
    from queue_system_simulator_spark.streaming.stream import (
        run_streaming_versioned_commits,
        stream_events_timesliced,
    )

    def keyed():
        return stream_events_timesliced(spark, sf_dir, n_slices=4)

    # --- clean streamed chain vs the batch-written equivalent ---
    clean = str(tmp_path / "clean")
    run_streaming_versioned_commits(keyed(), clean, tombstone="error")
    clean_chain = _svs_chain(spark, clean)
    assert sorted(clean_chain) == [1, 2, 3, 4]
    # manifest n_rows agrees with the stored data it points at
    assert all(n == m for n, _, m in clean_chain.values())
    batch = str(tmp_path / "batch")
    write_versioned_snapshots(
        _svs_batch_input(spark, sf_dir),
        batch,
        n_versions=4,
        tombstone="error",
        shuffle_partitions=2,
    )
    assert _svs_chain(spark, batch) == clean_chain

    # --- crash between data write and manifest commit ---
    crashed = {"n": 0}

    def boom_before(v):
        if v == 3 and crashed["n"] == 0:
            crashed["n"] += 1
            raise RuntimeError("injected crash before manifest commit")

    b1 = str(tmp_path / "before")
    with pytest.raises(StreamingQueryException):
        run_streaming_versioned_commits(
            keyed(), b1, tombstone="error", _fail_before_commit=boom_before
        )
    committed = sorted(
        int(r.version) for r in read_manifest(spark, b1).collect()
    )
    assert committed == [1, 2]  # v3 data is an orphan, not committed
    run_streaming_versioned_commits(keyed(), b1, tombstone="error")
    assert _svs_chain(spark, b1) == clean_chain

    # --- crash after manifest commit, before checkpoint ---
    crashed2 = {"n": 0}

    def boom_after(v):
        if v == 3 and crashed2["n"] == 0:
            crashed2["n"] += 1
            raise RuntimeError("injected crash after manifest commit")

    b2 = str(tmp_path / "after")
    with pytest.raises(StreamingQueryException):
        run_streaming_versioned_commits(
            keyed(), b2, tombstone="error", _fail_after_commit=boom_after
        )
    committed = sorted(
        int(r.version) for r in read_manifest(spark, b2).collect()
    )
    assert committed == [1, 2, 3]  # v3 COMMITTED; checkpoint is behind
    run_streaming_versioned_commits(keyed(), b2, tombstone="error")
    assert _svs_chain(spark, b2) == clean_chain  # no double-commit


def _svs_batch_input(spark, sf_dir):
    """The batch sink's input: same keyed projection the time-sliced
    stream carries (relational_queries._tt_events parity)."""
    from pyspark.sql import functions as F

    from queue_system_simulator_spark.schema import load_table

    return load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("tus"),
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_centi"),
    )


def test_streamed_table_is_first_class_lake_table(spark, sf_dir, tmp_path):
    """The STREAM-written versioned table composes with the whole batch
    lake lifecycle: OPTIMIZE bin-packs its newest snapshot into a
    content-identical new version, VACUUM expires old versions with
    auditable history, time-travel reads resolve retained versions and
    fail loudly on expired ones — no operation knows (or cares) which
    writer built the chain."""
    import pytest

    from queue_system_simulator_spark.sources.sink import (
        optimize_compact,
        read_manifest,
        read_vacuum_log,
        read_version,
        vacuum_versions,
    )
    from queue_system_simulator_spark.streaming.stream import (
        run_streaming_versioned_commits,
        stream_events_timesliced,
    )

    base = str(tmp_path / "lake")
    run_streaming_versioned_commits(
        stream_events_timesliced(spark, sf_dir, n_slices=4),
        base,
        tombstone="error",
    )
    pre = _svs_chain(spark, base)
    assert sorted(pre) == [1, 2, 3, 4]

    # OPTIMIZE: content-identical compacted commit v5 appended
    v5 = optimize_compact(
        spark, base, target_files=2, sort_within=["user_id", "tus"], force=True
    )
    assert v5 == 5
    post = _svs_chain(spark, base)
    assert post[5][:2] == pre[4][:2]  # same (n_rows, value sum) as v4
    n_files = sum(
        1
        for f in (tmp_path / "lake" / "v5").glob("part-*")
        if f.is_file()
    )
    assert n_files <= 2

    # VACUUM: expire all but the newest 2; history stays auditable
    expired = vacuum_versions(spark, base, keep_last=2)
    assert expired == [1, 2, 3]
    assert sorted(
        int(r.version) for r in read_manifest(spark, base).collect()
    ) == [4, 5]
    assert sorted(
        int(r.version) for r in read_vacuum_log(spark, base).collect()
    ) == [1, 2, 3]

    # time travel: retained resolves, expired fails loudly by name
    assert read_version(spark, base, 4).count() == pre[4][0]
    with pytest.raises(ValueError, match="expired by VACUUM"):
        read_version(spark, base, 2)


def test_streaming_versioned_sink_crash_edges(spark, sf_dir, tmp_path):
    """The two boundary crash points: the FIRST-ever commit (no
    _manifest exists yet to protect a partial swap — the r11 advisor's
    blind-promotion scenario) and the LAST batch (replay after the
    final commit must no-op and the drain must still terminate)."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from queue_system_simulator_spark.sources.sink import read_manifest
    from queue_system_simulator_spark.streaming.stream import (
        run_streaming_versioned_commits,
        stream_events_timesliced,
    )

    def keyed():
        return stream_events_timesliced(spark, sf_dir, n_slices=4)

    clean = str(tmp_path / "clean")
    run_streaming_versioned_commits(keyed(), clean, tombstone="error")
    clean_chain = _svs_chain(spark, clean)

    # crash before the FIRST manifest commit: the table has v1 data but
    # no commit log at all; the restarted drain recommits from scratch
    hits = {"n": 0}

    def boom_v1(v):
        if v == 1 and hits["n"] == 0:
            hits["n"] += 1
            raise RuntimeError("injected crash before first commit")

    b = str(tmp_path / "first")
    with pytest.raises(StreamingQueryException):
        run_streaming_versioned_commits(
            keyed(), b, tombstone="error", _fail_before_commit=boom_v1
        )
    with pytest.raises(Exception):  # no manifest was ever committed
        read_manifest(spark, b).collect()
    run_streaming_versioned_commits(keyed(), b, tombstone="error")
    assert _svs_chain(spark, b) == clean_chain

    # crash after the LAST commit: the replayed final batch no-ops and
    # the availableNow drain still terminates with the full chain
    hits2 = {"n": 0}

    def boom_v4(v):
        if v == 4 and hits2["n"] == 0:
            hits2["n"] += 1
            raise RuntimeError("injected crash after last commit")

    b2 = str(tmp_path / "last")
    with pytest.raises(StreamingQueryException):
        run_streaming_versioned_commits(
            keyed(), b2, tombstone="error", _fail_after_commit=boom_v4
        )
    assert sorted(
        int(r.version) for r in read_manifest(spark, b2).collect()
    ) == [1, 2, 3, 4]
    run_streaming_versioned_commits(keyed(), b2, tombstone="error")
    assert _svs_chain(spark, b2) == clean_chain
