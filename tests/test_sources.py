"""Scan-layer tests: CSV validation semantics (SURVEY §2 A1–A4; reference
``/root/reference/tests/test_csv_parser.py``) and the seeded generator (A6)."""

from __future__ import annotations

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from queue_system_simulator_spark.sources import (
    generate_sample_requests,
    read_requests_csv,
)
from queue_system_simulator_spark.sources.csv_source import (
    MissingColumnError,
    corrupt_rows,
)

VALID = """user_id,request_time,processing_time
user_a,2023-01-01T00:00:00.500000Z,2.5
user_b,2023-01-01T00:00:01Z,1.0
"""


def write(tmp_path, body, name="in.csv"):
    p = tmp_path / name
    p.write_text(body)
    return str(p)


def test_valid_csv(spark, tmp_path):
    df = read_requests_csv(spark, write(tmp_path, VALID))
    rows = df.orderBy("user_id").collect()
    assert len(rows) == 2
    assert rows[0]["user_id"] == "user_a"
    assert rows[0]["processing_time"] == 2.5
    assert rows[0]["request_time"].microsecond == 500000


def test_header_only(spark, tmp_path):
    df = read_requests_csv(
        spark, write(tmp_path, "user_id,request_time,processing_time\n")
    )
    assert df.count() == 0


def test_empty_file(spark, tmp_path):
    df = read_requests_csv(spark, write(tmp_path, ""))
    assert df.count() == 0
    assert df.columns == ["user_id", "request_time", "processing_time"]


def test_missing_column_raises(spark, tmp_path):
    path = write(tmp_path, "user_id,request_time\nu,2023-01-01T00:00:00Z\n")
    with pytest.raises(MissingColumnError):
        read_requests_csv(spark, path)


def test_extra_columns_tolerated(spark, tmp_path):
    body = (
        "user_id,request_time,processing_time,extra\n"
        "u,2023-01-01T00:00:00Z,1.0,x\n"
    )
    df = read_requests_csv(spark, write(tmp_path, body))
    assert df.columns == ["user_id", "request_time", "processing_time"]
    assert df.count() == 1


def test_malformed_float_failfast(spark, tmp_path):
    body = "user_id,request_time,processing_time\nu,2023-01-01T00:00:00Z,not_a_float\n"
    df = read_requests_csv(spark, write(tmp_path, body), extra_columns=False)
    with pytest.raises(Py4JJavaError):
        df.collect()


def test_permissive_reports_corrupt_rows(spark, tmp_path):
    body = (
        "user_id,request_time,processing_time\n"
        "good,2023-01-01T00:00:00Z,1.0\n"
        "bad,2023-01-01T00:00:00Z,not_a_float\n"
    )
    df = read_requests_csv(
        spark, write(tmp_path, body), mode="PERMISSIVE", extra_columns=False
    )
    df = df.cache()  # single-pass corrupt-record capture
    bad = corrupt_rows(df).collect()
    assert len(bad) == 1 and "not_a_float" in bad[0][0]


def test_generator_deterministic_and_sorted(spark):
    a = generate_sample_requests(spark, num_users=5, max_requests_per_user=5, seed=42)
    b = generate_sample_requests(spark, num_users=5, max_requests_per_user=5, seed=42)
    ra, rb = a.collect(), b.collect()
    assert ra == rb
    assert len(ra) == 25
    ts = [r["request_time"] for r in ra]
    assert ts == sorted(ts)
    for r in ra:
        assert 1.0 <= r["processing_time"] <= 10.0


class TestSinks:
    def test_write_datalake_partition_pruning(self, spark, sf_dir, tmp_path):
        from queue_system_simulator_spark.schema import load_table
        from queue_system_simulator_spark.sources.sink import write_datalake

        ev = load_table(spark, sf_dir, "events").withColumn(
            "event_date", F.to_date("ts")
        )
        out = str(tmp_path / "lake")
        write_datalake(ev, out, partition_by=["event_type"], sort_within=["ts"])
        back = spark.read.parquet(out)
        assert back.count() == ev.count()
        # hive-style partition dirs exist → readers prune on event_type
        import os

        subdirs = {d for d in os.listdir(out) if d.startswith("event_type=")}
        assert "event_type=click" in subdirs
        # reading one partition dir yields exactly that slice
        clicks = spark.read.parquet(f"{out}/event_type=click")
        assert clicks.count() == ev.filter(F.col("event_type") == "click").count()

    def test_write_requests_csv_roundtrip(self, spark, tmp_path):
        from queue_system_simulator_spark.sources.csv_source import (
            read_requests_csv,
        )
        from queue_system_simulator_spark.sources.generator import (
            generate_sample_requests,
        )
        from queue_system_simulator_spark.sources.sink import write_requests_csv

        gen = generate_sample_requests(spark, num_users=3, max_requests_per_user=4)
        out = str(tmp_path / "req_csv")
        write_requests_csv(gen, out, single_file=True)
        back = read_requests_csv(spark, out)
        assert back.count() == gen.count()
        assert set(back.columns) >= {"user_id", "request_time", "processing_time"}


class TestDynamicPartitionOverwrite:
    def test_backfill_replaces_only_target_partition(self, spark, sf_dir, tmp_path):
        """Idempotent backfill: dynamic partitionOverwriteMode rewrites only
        the partitions present in the incoming frame — the other partitions
        survive (the datalake re-run contract)."""
        from queue_system_simulator_spark.schema import load_table

        ev = load_table(spark, sf_dir, "events")
        out = str(tmp_path / "lake")
        ev.write.partitionBy("event_type").parquet(out)
        before = {
            r.event_type: r.n
            for r in spark.read.parquet(out)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            clicks_half = ev.filter("event_type = 'click'").limit(
                before["click"] // 2
            )
            clicks_half.write.mode("overwrite").partitionBy("event_type").parquet(
                out
            )
            after = {
                r.event_type: r.n
                for r in spark.read.parquet(out)
                .groupBy("event_type")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            assert after["click"] == before["click"] // 2  # replaced
            for t, n in before.items():
                if t != "click":
                    assert after[t] == n  # untouched
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")


class TestSchemaEvolution:
    def test_merge_schema_across_file_generations(self, spark, tmp_path):
        """Datalake schema evolution: an old file without a column and a new
        file with it read together via mergeSchema — old rows surface null
        for the added column, no rewrite of historical files."""
        out = str(tmp_path / "evolving")
        spark.createDataFrame(
            [(1, "a"), (2, "b")], "id long, payload string"
        ).write.parquet(out + "/gen=1")
        spark.createDataFrame(
            [(3, "c", 0.9), (4, "d", 0.1)],
            "id long, payload string, quality double",
        ).write.parquet(out + "/gen=2")
        merged = spark.read.option("mergeSchema", True).parquet(out)
        assert set(merged.columns) >= {"id", "payload", "quality"}
        rows = {r.id: r for r in merged.collect()}
        assert rows[1].quality is None  # old generation: evolved column null
        assert rows[3].quality == 0.9


def test_request_log_registers_once_per_session(spark, monkeypatch):
    # a second registration would replace the first (Spark logs it), so
    # the helper registers only in a session that lacks the source
    from pyspark.sql.datasource import DataSourceRegistration

    from queue_system_simulator_spark.sources.pyds_request_log import (
        register_request_log,
    )

    registered = []
    register = DataSourceRegistration.register

    def counting(self, data_source):
        registered.append(data_source.name())
        register(self, data_source)

    monkeypatch.setattr(DataSourceRegistration, "register", counting)
    fresh = spark.newSession()  # a session with no Python data source yet
    register_request_log(fresh)
    register_request_log(fresh)
    assert registered == ["request_log"]
    assert fresh.read.format("request_log").option("users", 1).load().count() > 0


def test_python_datasource_request_log(spark):
    # Spark 4 custom Python DataSource: registrable, partitioned per user,
    # deterministic under re-read (retry-determinism contract)
    from queue_system_simulator_spark.sources.pyds_request_log import (
        RequestLogDataSource,
    )

    spark.dataSource.register(RequestLogDataSource)
    reader = (
        spark.read.format("request_log")
        .option("users", 4)
        .option("requests", 6)
        .option("seed", 7)
    )
    a = reader.load()
    assert a.count() == 24
    assert set(a.columns) == {"user_id", "request_time", "processing_time"}
    assert a.select("user_id").distinct().count() == 4
    # per-user arrivals strictly increase (cumulative gaps > 0)
    from pyspark.sql import Window
    import pyspark.sql.functions as F

    w = Window.partitionBy("user_id").orderBy("request_time")
    lagged = a.withColumn("prev", F.lag("request_time").over(w))
    bad = lagged.filter(
        F.col("prev").isNotNull() & (F.col("request_time") <= F.col("prev"))
    )
    assert bad.count() == 0
    # deterministic: a second read yields identical rows
    b = reader.load()
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    # rows feed the standard request-log pipeline schema unchanged
    assert dict(a.dtypes)["processing_time"] == "double"


def test_pyds_stream_slices_are_batching_invariant():
    """Reading [0,20) in one slice must equal [0,7)+[7,14)+[14,20): the
    replay-safety contract that makes the streaming source exactly-once
    under any micro-batch plan."""
    from queue_system_simulator_spark.sources.pyds_request_log import (
        RequestLogStreamReader,
        _StreamSlice,
    )

    r = RequestLogStreamReader({"users": 3, "requests": 20, "seed": 42})
    whole = list(r.read(_StreamSlice(1, 0, 20, 42)))
    parts = []
    for a, b in [(0, 7), (7, 14), (14, 20)]:
        parts.extend(r.read(_StreamSlice(1, a, b, 42)))
    assert whole == parts
    # offsets API: initial -> latest covers exactly the row space, and is
    # stable across calls (AvailableNow captures it once as drain target)
    assert r.initialOffset() == {"row": 0}
    assert r.latestOffset() == {"row": 20}
    assert r.latestOffset() == {"row": 20}
    assert len(r.partitions({"row": 0}, {"row": 20})) == 3  # one per user

    # throttled mode: rows_per_batch advances the offset per trigger,
    # capped at the finite stream length -> ceil(20/7) = 3 micro-batches
    t = RequestLogStreamReader(
        {"users": 3, "requests": 20, "seed": 42, "rows_per_batch": 7}
    )
    assert [t.latestOffset() for _ in range(4)] == [
        {"row": 7},
        {"row": 14},
        {"row": 20},
        {"row": 20},
    ]


def test_pyds_stream_throttled_live_run_multi_batch(spark, tmp_path):
    """End-to-end: a ProcessingTime run with rows_per_batch set produces
    MULTIPLE micro-batches whose union is the complete stream (the
    advertised live-mode behavior; AvailableNow drains leave the throttle
    off and capture the full stream in one pass)."""
    import time

    from queue_system_simulator_spark.sources.pyds_request_log import (
        register_request_log,
    )

    register_request_log(spark)
    stream = (
        spark.readStream.format("request_log")
        .option("users", 3)
        .option("requests", 20)
        .option("seed", 42)
        .option("rows_per_batch", 7)
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("pyds_throttled")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0 seconds")
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            if spark.sql("SELECT count(*) c FROM pyds_throttled").first().c == 60:
                break
            time.sleep(0.5)
        total = spark.sql("SELECT count(*) c FROM pyds_throttled").first().c
        batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    finally:
        q.stop()
    assert total == 60  # 3 users x 20 requests, nothing lost or duplicated
    # ceil(20/7) = 3 offset advances -> at least 3 non-empty micro-batches
    assert len(batches) >= 3


def test_schema_evolution_null_fill_and_partition_column(spark, sf_dir):
    from queue_system_simulator_spark.plans.reference_queries import (
        q_schema_evolution_mergeread,
    )

    rows = {r["batch"]: r for r in q_schema_evolution_mergeread(spark, sf_dir).collect()}
    assert set(rows) == {0, 1}
    # files written without the column surface it as NULL everywhere
    assert rows[0]["n_null_centi"] == rows[0]["n_rows"]
    assert rows[0]["sum_centi"] == 0
    # files written with it have no nulls and a real sum
    assert rows[1]["n_null_centi"] == 0
    assert rows[1]["sum_centi"] > 0


def test_compressed_roundtrip_files_are_actually_compressed(spark, sf_dir):
    import glob
    import os

    from queue_system_simulator_spark.plans.reference_queries import (
        _scratch_dir,
        q_compressed_roundtrip,
    )

    rows = q_compressed_roundtrip(spark, sf_dir).collect()
    by_path = {}
    for r in rows:
        by_path.setdefault(r["codec_path"], []).append(r)
    # both legs must agree exactly with each other
    a = sorted((r["event_type"], r["n"], r["sum_centi"]) for r in by_path["csv_gzip"])
    b = sorted((r["event_type"], r["n"], r["sum_centi"]) for r in by_path["parquet_zstd"])
    assert a == b
    root = _scratch_dir("codec_rt", sf_dir)
    assert glob.glob(os.path.join(root, "csv_gz", "*.csv.gz"))
    pq = glob.glob(os.path.join(root, "pq_zstd", "*.parquet"))
    assert pq and all("zstd" in os.path.basename(p) for p in pq)


def test_scratch_dir_is_process_private_and_sweeps_stale():
    """Round-trip scratch dirs carry the pid (two concurrent processes
    building the same query never race one overwrite tree) and stale
    siblings from finished processes — including the pre-pid legacy
    layout — are swept under the drain GC's 2h mtime TTL; young siblings
    (a live peer) are left alone."""
    import os
    import shutil
    import time
    from pathlib import Path

    from queue_system_simulator_spark.plans.reference_queries import (
        _scratch_dir,
    )

    d = Path(_scratch_dir("scratchtest", "/some/sf_dir"))
    try:
        assert d.name.endswith(f"_p{os.getpid()}")
        prefix = d.name.rsplit("_p", 1)[0]
        stale = d.parent / f"{prefix}_p999999"
        legacy = d.parent / prefix
        young = d.parent / f"{prefix}_p999998"
        for sib in (stale, legacy, young):
            sib.mkdir(exist_ok=True)
        old = time.time() - 3 * 3600
        os.utime(stale, (old, old))
        os.utime(legacy, (old, old))
        assert Path(_scratch_dir("scratchtest", "/some/sf_dir")) == d
        assert not stale.exists()  # aged sibling swept
        assert not legacy.exists()  # aged pre-pid dir swept
        assert young.exists()  # fresh sibling (live peer) untouched
        assert d.exists()  # own dir never touched
    finally:
        for sib in (d, d.parent / f"{prefix}_p999998"):
            shutil.rmtree(sib, ignore_errors=True)


def test_xml_roundtrip_preserves_rows(spark, sf_dir):
    from queue_system_simulator_spark.plans.reference_queries import (
        q_xml_roundtrip,
    )
    from queue_system_simulator_spark.schema import load_table

    rows = {r["o_orderpriority"]: r for r in q_xml_roundtrip(spark, sf_dir).collect()}
    direct = {
        r["o_orderpriority"]: r["n"]
        for r in load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    assert {k: v["n"] for k, v in rows.items()} == direct


def test_versioned_snapshots_time_travel(spark, sf_dir, tmp_path):
    """Retention + manifest + tombstone semantics of the versioned sink:
    every commit stays readable, the manifest matches the stored rows,
    version content equals its log definition (latest-per-user below the
    cut, tombstones dropped), and the final version is monotone in cut."""
    from pyspark.sql import functions as F

    from queue_system_simulator_spark.schema import load_table
    from queue_system_simulator_spark.sources.sink import (
        read_manifest,
        read_version,
        write_versioned_snapshots,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("tus"),
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_centi"),
    )
    base = str(tmp_path / "tt")
    cuts = write_versioned_snapshots(ev, base, n_versions=4, tombstone="error")
    assert len(cuts) == 4
    assert cuts == sorted(cuts)
    man = {r.version: r for r in read_manifest(spark, base).collect()}
    assert sorted(man) == [1, 2, 3, 4]
    for k, cut in enumerate(cuts, start=1):
        stored = read_version(spark, base, k)  # retention: all readable
        assert man[k].cut_micros == cut
        assert man[k].n_rows == stored.count()
        # log definition of version k, derived independently
        expect = (
            ev.filter(F.col("tus") < cut)
            .groupBy("user_id")
            .agg(
                F.max_by(
                    F.struct("tus", "event_id", "event_type", "value_centi"),
                    F.struct("tus", "event_id"),
                ).alias("s")
            )
            .select(
                "user_id", "s.tus", "s.event_id", "s.event_type", "s.value_centi"
            )
            .filter(F.col("event_type") != "error")
        )
        assert sorted(map(tuple, stored.collect())) == sorted(
            map(tuple, expect.collect())
        )
    # tombstones really delete: no stored row carries the tombstone type
    for k in (1, 2, 3, 4):
        assert (
            read_version(spark, base, k)
            .filter(F.col("event_type") == "error")
            .count()
            == 0
        )


def test_versioned_cdc_feed_replays_to_final_version(spark, sf_dir):
    """The CDC feed is a faithful changelog: replaying it (membership from
    insert/delete, value from summed deltas) reconstructs the final stored
    version exactly, and each commit's feed rows touch only real changes."""
    from pyspark.sql import functions as F

    from queue_system_simulator_spark.plans import QUERIES
    from queue_system_simulator_spark.sources.sink import read_version

    feed = QUERIES["versioned_cdc_feed"].build(spark, sf_dir)
    rows = feed.collect()
    assert {r.change_type for r in rows} <= {"insert", "update", "delete"}
    # replay driver-side (feed is small: <= users x commits)
    alive: dict = {}
    value: dict = {}
    for r in sorted(rows, key=lambda r: r.version):
        value[r.user_id] = value.get(r.user_id, 0) + r.value_centi_delta
        if r.change_type == "insert":
            assert not alive.get(r.user_id, False), r
            alive[r.user_id] = True
        elif r.change_type == "delete":
            assert alive.get(r.user_id, False), r
            alive[r.user_id] = False
        else:
            assert alive.get(r.user_id, False), r
    # resolve the build dir through the SAME helper the query uses (and
    # the final version through TT_N_VERSIONS): a change to the version
    # count or the base-path scheme must reach this test via the code
    # under test, not break it silently
    from queue_system_simulator_spark.plans.relational_queries import (
        TT_N_VERSIONS,
        ensure_versioned_table,
    )

    base = ensure_versioned_table(spark, sf_dir)
    final = {
        r.user_id: r.value_centi
        for r in read_version(spark, base, TT_N_VERSIONS)
        .select("user_id", "value_centi")
        .collect()
    }
    assert {u for u, a in alive.items() if a} == set(final)
    for u, vc in final.items():
        assert value[u] == vc, u


def test_ensure_versioned_table_rebuilds_on_source_change(spark, tmp_path):
    """The build-once key is a SOURCE fingerprint, not a path check:
    regenerating the fixture at the same path must rebuild the table
    (a stale cached build would hash-mismatch against the oracle, which
    reads the fresh log), and the fresh build must reflect the new data.
    The rebuild goes to a new directory, so a reader planned against the
    old build still collects it."""
    import shutil
    from pathlib import Path

    from queue_system_simulator_spark.plans.relational_queries import (
        TT_N_VERSIONS,
        ensure_versioned_table,
    )
    from queue_system_simulator_spark.sources.sink import read_version

    src_dir = tmp_path / "sfY"
    src_dir.mkdir()
    shutil.copy(
        "/root/testdata/sf0.001/events.parquet", src_dir / "events.parquet"
    )
    base = ensure_versioned_table(spark, str(src_dir))
    planned = read_version(spark, base, TT_N_VERSIONS)
    before = {(r.user_id, r.event_id) for r in planned.collect()}
    assert before
    # regenerate in place with a strictly smaller slice (new mtime_ns +
    # size -> new fingerprint)
    half = (
        spark.read.parquet(str(src_dir / "events.parquet"))
        .orderBy("event_id")
        .limit(200)
        .toPandas()
    )
    import pyarrow as pa
    import pyarrow.parquet as pq

    (src_dir / "events.parquet").unlink()
    pq.write_table(
        pa.Table.from_pandas(half, preserve_index=False),
        src_dir / "events.parquet",
    )
    base2 = ensure_versioned_table(spark, str(src_dir))
    assert base2 != base  # new source -> new build dir
    # the old build survives the rebuild for a reader planned against it
    assert {(r.user_id, r.event_id) for r in planned.collect()} == before
    after = {
        (r.user_id, r.event_id)
        for r in read_version(spark, base2, TT_N_VERSIONS).collect()
    }
    assert after and after != before  # rebuilt, not served stale
    # every stored row comes from the regenerated slice (the per-user
    # latest moved backwards because later events were cut away)
    slice_ids = set(half["event_id"])
    assert {eid for _, eid in after} <= slice_ids
    assert not {eid for _, eid in before} <= slice_ids  # old build had later events


def test_as_of_timestamp_resolves_between_cuts(spark, sf_dir):
    """TIMESTAMP-AS-OF resolution: the probe sits strictly between cut_2
    and cut_3, so the manifest must resolve it to v2 (latest commit at or
    before T), and the returned rows must equal that stored snapshot."""
    from queue_system_simulator_spark.plans import QUERIES
    from queue_system_simulator_spark.plans.relational_queries import (
        ensure_versioned_table,
    )
    from queue_system_simulator_spark.sources.sink import read_version

    out = QUERIES["time_travel_as_of_timestamp"].build(spark, sf_dir)
    rows = out.collect()
    assert rows
    assert {r.version for r in rows} == {2}
    base = ensure_versioned_table(spark, sf_dir)
    stored = {
        (r.user_id, r.event_id, r.value_centi)
        for r in read_version(spark, base, 2)
        .select("user_id", "event_id", "value_centi")
        .collect()
    }
    assert {(r.user_id, r.event_id, r.value_centi) for r in rows} == stored


def test_auto_commit_width_clamps():
    """'auto' width = one keyed partition per ~250k input rows, clamped to
    [2, parallelism]: fixtures stay narrow, a 100x probe widens itself."""
    from queue_system_simulator_spark.sources.sink import auto_commit_width

    assert auto_commit_width(0, 32) == 2  # empty input: minimum width
    assert auto_commit_width(150, 32) == 2  # fixture scale stays narrow
    assert auto_commit_width(499_999, 32) == 2
    assert auto_commit_width(1_000_000, 32) == 5
    assert auto_commit_width(10_000_000, 32) == 32  # probe scale hits cap
    assert auto_commit_width(10_000_000, 1000) == 41  # cluster headroom used
    assert auto_commit_width(10_000_000, 3) == 3  # never exceeds parallelism


def test_versioned_sink_commit_width_reaches_files(spark, sf_dir, tmp_path):
    """The explicit repartition(n, user_id) IS the commit's only shuffle:
    the keyed argmax reuses its hash partitioning, so each snapshot lands
    as exactly n part files. A second exchange sneaking in (e.g. an
    orderBy before the write) would change the file layout and re-shuffle
    every commit — this pins the single-exchange write path."""
    from pathlib import Path as P

    from pyspark.sql import functions as F

    from queue_system_simulator_spark.schema import load_table
    from queue_system_simulator_spark.sources.sink import (
        write_versioned_snapshots,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("tus"),
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_centi"),
    )
    base = str(tmp_path / "ttw")
    write_versioned_snapshots(
        ev, base, n_versions=2, tombstone="error", shuffle_partitions=3
    )
    for k in (1, 2):
        n_files = len(list(P(base, f"v{k}").glob("part-*")))
        assert n_files == 3, f"v{k}: {n_files} part files, expected width 3"


def test_versioned_sink_rejects_empty_input(spark, tmp_path):
    """Empty input has no event-time span to derive commit cuts from, and
    a zero-file parquet snapshot would break read_version's schema
    inference downstream — the sink must fail loudly up front."""
    import pytest

    from queue_system_simulator_spark.localframe import local_df
    from queue_system_simulator_spark.sources.sink import (
        write_versioned_snapshots,
    )

    ev = local_df(
        spark,
        [],
        "user_id long, tus long, event_id long, event_type string, "
        "value_centi long",
    )
    with pytest.raises(ValueError, match="no rows"):
        write_versioned_snapshots(ev, str(tmp_path / "empty"))


def test_versioned_sink_rejects_bad_width_string(spark, sf_dir, tmp_path):
    """Only the literal 'auto' is a valid string width; any other string
    would reach repartition(s, "user_id") where PySpark reads it as a
    COLUMN NAME — fail loudly before that misinterpretation."""
    import pytest

    from pyspark.sql import functions as F

    from queue_system_simulator_spark.schema import load_table
    from queue_system_simulator_spark.sources.sink import (
        write_versioned_snapshots,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("tus"),
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_centi"),
    )
    with pytest.raises(ValueError, match="'auto'"):
        write_versioned_snapshots(
            ev, str(tmp_path / "bad"), shuffle_partitions="user_id"
        )


def test_ensure_versioned_table_builds_once(spark, sf_dir):
    """The shared lake table is built once per source fingerprint: a
    second ensure call (any process) must see the _BUILT stamp and not
    rewrite — the no-second-rewrite property that makes the shared
    deterministic path race-free across driver grading + bench runs."""
    from pathlib import Path

    from queue_system_simulator_spark.plans.relational_queries import (
        ensure_versioned_table,
    )

    base = ensure_versioned_table(spark, sf_dir)
    marker = Path(base) / "_BUILT"
    assert marker.is_file()
    stamp = marker.stat().st_mtime_ns
    parts = sorted(
        (str(p), p.stat().st_mtime_ns)
        for p in Path(base).rglob("part-*")
        if p.is_file()
    )
    assert parts
    assert ensure_versioned_table(spark, sf_dir) == base
    assert marker.stat().st_mtime_ns == stamp
    assert (
        sorted(
            (str(p), p.stat().st_mtime_ns)
            for p in Path(base).rglob("part-*")
            if p.is_file()
        )
        == parts
    )


def test_vacuum_expires_old_versions_keeps_history(spark, sf_dir, tmp_path):
    """VACUUM lifecycle: expired snapshot dirs are physically gone, the
    manifest is rewritten to retained commits only, the vacuum log
    preserves the expired commits' metadata, retained versions read back
    byte-identical to their pre-vacuum content, expired reads fail
    loudly naming the vacuum, and a re-run with nothing to expire is an
    idempotent no-op."""
    from pathlib import Path

    import pytest
    from pyspark.sql import functions as F

    from queue_system_simulator_spark.schema import load_table
    from queue_system_simulator_spark.sources.sink import (
        read_manifest,
        read_vacuum_log,
        read_version,
        vacuum_versions,
        write_versioned_snapshots,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("tus"),
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_centi"),
    )
    base = str(tmp_path / "vac")
    write_versioned_snapshots(ev, base, n_versions=4, tombstone="error")
    pre_man = {r.version: r for r in read_manifest(spark, base).collect()}
    pre_rows = {
        k: sorted(map(tuple, read_version(spark, base, k).collect()))
        for k in (3, 4)
    }

    expired = vacuum_versions(spark, base, keep_last=2)
    assert expired == [1, 2]
    # data dirs gone, retained dirs intact
    assert not (Path(base) / "v1").exists()
    assert not (Path(base) / "v2").exists()
    # manifest rewritten to retained commits only, rows unchanged
    man = {r.version: r for r in read_manifest(spark, base).collect()}
    assert sorted(man) == [3, 4]
    for k in (3, 4):
        assert man[k] == pre_man[k]
    # vacuum log preserves expired metadata exactly
    vlog = {r.version: r for r in read_vacuum_log(spark, base).collect()}
    assert sorted(vlog) == [1, 2]
    for k in (1, 2):
        assert vlog[k] == pre_man[k]
    # retained reads byte-identical to pre-vacuum content
    for k in (3, 4):
        assert (
            sorted(map(tuple, read_version(spark, base, k).collect()))
            == pre_rows[k]
        )
    # expired reads fail loudly, naming the vacuum
    with pytest.raises(ValueError, match="expired by VACUUM"):
        read_version(spark, base, 1)
    # idempotent: nothing left old enough to expire
    assert vacuum_versions(spark, base, keep_last=2) == []
    assert sorted(
        r.version for r in read_vacuum_log(spark, base).collect()
    ) == [1, 2]


def test_vacuum_rejects_bad_keep_last(spark, sf_dir, tmp_path):
    import pytest

    from queue_system_simulator_spark.sources.sink import vacuum_versions

    with pytest.raises(ValueError, match="keep_last"):
        vacuum_versions(spark, str(tmp_path / "nope"), keep_last=0)


def test_vacuum_query_reports_full_commit_history(spark, sf_dir):
    """The driver-facing query: one row per EVER-committed version —
    expired rows carry vacuum-log counts with NULL content sums,
    retained rows carry live read-back count + content sum."""
    from queue_system_simulator_spark.plans import QUERIES
    from queue_system_simulator_spark.plans.relational_queries import (
        TT_N_VERSIONS,
        VACUUM_KEEP,
    )

    rows = {
        r.version: r
        for r in QUERIES["versioned_retention_vacuum"].build(
            spark, sf_dir
        ).collect()
    }
    assert sorted(rows) == list(range(1, TT_N_VERSIONS + 1))
    n_expired = TT_N_VERSIONS - VACUUM_KEEP
    for k, r in rows.items():
        if k <= n_expired:
            assert r.status == "expired"
            assert r.value_centi_total is None
        else:
            assert r.status == "retained"
            assert r.value_centi_total is not None
        assert r.n_rows > 0
    # commit snapshots grow (more users seen) or shrink only via
    # tombstones; either way every commit's count was preserved
    assert all(r.n_rows >= 1 for r in rows.values())


def _tt_events_for_test(spark, sf_dir):
    from pyspark.sql import functions as F

    from queue_system_simulator_spark.schema import load_table

    return load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("tus"),
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_centi"),
    )


def test_optimize_compact_bin_packs_and_commits(spark, sf_dir, tmp_path):
    """OPTIMIZE lifecycle: the newest snapshot is rewritten into at most
    target_files range-clustered files, committed as a new
    data-identical manifest version (same cut, same n_rows), each
    output file internally sorted on the cluster key; the superseded
    version's files stay until VACUUM; a re-run is an idempotent no-op;
    force=True rewrites anyway."""
    from pathlib import Path

    from pyspark.sql import functions as F

    from queue_system_simulator_spark.sources.sink import (
        optimize_compact,
        read_manifest,
        read_version,
        write_versioned_snapshots,
    )

    base = str(tmp_path / "opt")
    write_versioned_snapshots(
        _tt_events_for_test(spark, sf_dir),
        base,
        n_versions=3,
        tombstone="error",
        shuffle_partitions=5,  # force a small-file layout to pack
    )
    pre_man = {r.version: r for r in read_manifest(spark, base).collect()}
    pre_rows = sorted(map(tuple, read_version(spark, base, 3).collect()))
    assert len(list(Path(base, "v3").glob("part-*"))) == 5

    new_v = optimize_compact(
        spark, base, target_files=2, sort_within=["user_id", "tus"]
    )
    assert new_v == 4
    # bin-packed: file count within bound
    n_files = len(list(Path(base, "v4").glob("part-*")))
    assert 1 <= n_files <= 2
    # superseded files untouched (compaction != retention)
    assert len(list(Path(base, "v3").glob("part-*"))) == 5
    # manifest: original rows unchanged + one data-identical commit
    man = {r.version: r for r in read_manifest(spark, base).collect()}
    assert sorted(man) == [1, 2, 3, 4]
    for k in (1, 2, 3):
        assert man[k] == pre_man[k]
    assert man[4].cut_micros == pre_man[3].cut_micros
    assert man[4].n_rows == pre_man[3].n_rows
    # content byte-identical to the pre-compaction read
    assert sorted(map(tuple, read_version(spark, base, 4).collect())) == pre_rows
    # each output file internally sorted on the cluster key (the
    # parquet min/max pruning contract)
    per_file = (
        read_version(spark, base, 4)
        .select("user_id", "tus", F.input_file_name().alias("f"))
        .collect()
    )
    by_file = {}
    for r in per_file:
        by_file.setdefault(r.f, []).append((r.user_id, r.tus))
    for rows in by_file.values():
        assert rows == sorted(rows)
    # idempotent: newest version already within bound -> no-op
    assert optimize_compact(spark, base, target_files=2) is None
    assert sorted(
        r.version for r in read_manifest(spark, base).collect()
    ) == [1, 2, 3, 4]
    # force=True rewrites anyway (the re-layout path)
    assert optimize_compact(spark, base, target_files=2, force=True) == 5


def test_optimize_compact_guards(spark, sf_dir, tmp_path):
    """Loud-fail gates: bad target_files; a rewrite whose row count
    disagrees with the manifest refuses to commit (simulated by
    corrupting the manifest's n_rows for the newest commit)."""
    from pathlib import Path

    import pytest

    from queue_system_simulator_spark.sources.sink import (
        _commit_manifest_rows,
        optimize_compact,
        read_manifest,
        write_versioned_snapshots,
    )

    base = str(tmp_path / "optbad")
    write_versioned_snapshots(
        _tt_events_for_test(spark, sf_dir),
        base,
        n_versions=2,
        tombstone="error",
        shuffle_partitions=3,
    )
    with pytest.raises(ValueError, match="target_files"):
        optimize_compact(spark, base, target_files=0)
    rows = sorted(
        (int(r.version), int(r.cut_micros), int(r.n_rows))
        for r in read_manifest(spark, base).collect()
    )
    rows[-1] = (rows[-1][0], rows[-1][1], rows[-1][2] + 1)
    _commit_manifest_rows(spark, base, rows)
    with pytest.raises(ValueError, match="refusing to commit"):
        optimize_compact(spark, base, target_files=1, force=True)
    # the refused rewrite left the manifest unextended
    assert sorted(
        int(r.version) for r in read_manifest(spark, base).collect()
    ) == [1, 2]
    # an empty manifest fails with the module's named-error convention,
    # not a bare IndexError (r11 advisor)
    empty = str(tmp_path / "optempty")
    read_manifest(spark, base).limit(0).coalesce(1).write.parquet(
        str(Path(empty) / "_manifest")
    )
    with pytest.raises(ValueError, match="no retained commits"):
        optimize_compact(spark, empty, target_files=1)


def test_manifest_swap_crash_recovery(spark, sf_dir, tmp_path):
    """Every crash point of the manifest rename swap is recoverable:
    mid-swap (_manifest missing, __tmp complete) readers resolve the
    new state; a stale __tmp next to a live _manifest is swept; and the
    VACUUM-expiry error is only raised for versions the vacuum log
    actually expired — a never-committed version gets the generic
    missing-path error."""
    import os
    from pathlib import Path

    import pytest

    from queue_system_simulator_spark.sources.sink import (
        read_manifest,
        read_version,
        vacuum_versions,
        write_versioned_snapshots,
    )

    base = str(tmp_path / "swap")
    write_versioned_snapshots(
        _tt_events_for_test(spark, sf_dir),
        base,
        n_versions=3,
        tombstone="error",
        shuffle_partitions=2,
    )
    final = Path(base) / "_manifest"
    tmp = Path(base) / "_manifest__tmp"
    pre = sorted(map(tuple, read_manifest(spark, base).collect()))
    # crash between the two renames: tmp holds the complete new state
    # (with Spark's _SUCCESS marker) and readers promote it
    os.rename(final, tmp)
    assert sorted(map(tuple, read_manifest(spark, base).collect())) == pre
    assert final.exists()
    assert not tmp.exists()
    # crash before the swap started: a stale tmp next to a live manifest
    # is IGNORED by readers (recovery is rename-only — a reader must
    # never rmtree a dir a live writer is about to rename; r11 advisor)
    os.mkdir(tmp)
    assert sorted(map(tuple, read_manifest(spark, base).collect())) == pre
    assert tmp.exists()
    # a tmp WITHOUT the _SUCCESS marker is a partial first-commit write:
    # never promoted even when no _manifest exists — reads fail loudly
    # instead of installing a truncated commit log
    os.rename(final, Path(base) / "_manifest__hold")
    (tmp / "part-00000-partial.parquet").write_bytes(b"partial")
    with pytest.raises(Exception):
        read_manifest(spark, base).collect()
    assert not final.exists() and tmp.exists()
    os.rename(Path(base) / "_manifest__hold", final)
    # ... the stale tmp is swept by the next WRITER commit (vacuum
    # rewrites the manifest under the build protocol's lock)
    vacuum_versions(spark, base, keep_last=2)
    assert not tmp.exists()
    # VACUUM-expiry error names only genuinely expired versions
    with pytest.raises(ValueError, match="expired by VACUUM"):
        read_version(spark, base, 1)
    with pytest.raises(Exception) as exc:
        read_version(spark, base, 99)
    assert "expired by VACUUM" not in str(exc.value)


def test_optimize_query_reports_commit_chain(spark, sf_dir):
    """The driver-facing query: one row per manifest version after
    OPTIMIZE — originals read back from storage, the compacted commit
    content-equal to the newest original and within its file bound."""
    from queue_system_simulator_spark.plans import QUERIES
    from queue_system_simulator_spark.plans.relational_queries import (
        TT_N_VERSIONS,
    )

    rows = {
        r.version: r
        for r in QUERIES["versioned_compaction_optimize"]
        .build(spark, sf_dir)
        .collect()
    }
    assert sorted(rows) == list(range(1, TT_N_VERSIONS + 2))
    for k, r in rows.items():
        if k <= TT_N_VERSIONS:
            assert r.status == "original"
            assert r.files_ok is None
        else:
            assert r.status == "compacted"
            assert r.files_ok is True
    last, packed = rows[TT_N_VERSIONS], rows[TT_N_VERSIONS + 1]
    assert packed.n_rows == last.n_rows
    assert packed.value_centi_total == last.value_centi_total
