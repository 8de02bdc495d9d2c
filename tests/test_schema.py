"""load_table must normalize events.ts across parquet timestamp encodings.

The driver regenerates /root/testdata between rounds and has already
switched events.ts once (round 1: INT64 TIMESTAMP(NANOS); round 2:
timestamp[us] isAdjustedToUTC=false -> Spark TIMESTAMP_NTZ).  Whatever the
file stores, every downstream operator sees one stable session-tz TIMESTAMP
with identical microsecond values.
"""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from queue_system_simulator_spark.schema import load_table

_ROWS = [
    (1, dt.datetime(2024, 1, 1, 0, 0, 5), 7, "view", 1.5, "{}"),
    (2, dt.datetime(2024, 1, 1, 0, 1, 30), 8, "click", 2.5, "{}"),
]


def _write_events(tmp_path, ts_type):
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in _ROWS], pa.int64()),
            "ts": pa.array([r[1] for r in _ROWS]).cast(ts_type),
            "user_id": pa.array([r[2] for r in _ROWS], pa.int64()),
            "event_type": pa.array([r[3] for r in _ROWS]),
            "value": pa.array([r[4] for r in _ROWS], pa.float64()),
            "props": pa.array([r[5] for r in _ROWS]),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    return str(tmp_path)


@pytest.mark.parametrize(
    "ts_type",
    [
        pa.timestamp("ns"),          # round-1 layout: nanosAsLong -> bigint
        pa.timestamp("us"),          # round-2 layout: reads as TIMESTAMP_NTZ
        pa.timestamp("us", tz="UTC"),  # adjusted-to-UTC: reads as TIMESTAMP
    ],
    ids=["nanos", "micros-ntz", "micros-utc"],
)
def test_load_table_normalizes_ts(spark, tmp_path, ts_type):
    sf_dir = _write_events(tmp_path, ts_type)
    df = load_table(spark, sf_dir, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = {r["event_id"]: r["ts"] for r in df.select("event_id", "ts").collect()}
    assert got == {r[0]: r[1] for r in _ROWS}


def _jobs_fired(spark, group, fn):
    """Run ``fn`` under its own job group; return its result and the
    number of Spark jobs it fired."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_load_of_unchanged_table_fires_no_job(spark, tmp_path):
    sf_dir = _write_events(tmp_path, pa.timestamp("us"))
    df, first = _jobs_fired(
        spark, "memo-first", lambda: load_table(spark, sf_dir, "events")
    )
    again, second = _jobs_fired(
        spark, "memo-second", lambda: load_table(spark, sf_dir, "events")
    )
    assert first >= 1  # the footer inference the memo saves
    assert second == 0
    assert again.schema == df.schema


def test_table_rewritten_in_place_is_read_with_its_new_schema(spark, tmp_path):
    sf_dir = _write_events(tmp_path, pa.timestamp("us"))
    assert "props" in load_table(spark, sf_dir, "events").columns
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([9], pa.int64()),
                "ts": pa.array([dt.datetime(2024, 1, 2)]).cast(pa.timestamp("us")),
                "label": pa.array(["new"]),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    df = load_table(spark, sf_dir, "events")
    assert df.columns == ["event_id", "ts", "label"]
    assert [tuple(r) for r in df.collect()] == [
        (9, dt.datetime(2024, 1, 2), "new")
    ]


def test_sessions_that_infer_differently_get_their_own_entries(spark, tmp_path):
    """The same TIMESTAMP(NANOS) file is a bigint under nanosAsLong and
    illegal without it: a memo keyed without the conf would serve the
    first session's schema to the second."""
    from pyspark.errors import AnalysisException

    from queue_system_simulator_spark.schema import parquet_schema

    path = _write_events(tmp_path, pa.timestamp("ns")) + "/events.parquet"
    strict = spark.newSession()
    strict.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    assert parquet_schema(spark, path)["ts"].dataType == T.LongType()
    with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
        parquet_schema(strict, path)
    _, jobs = _jobs_fired(spark, "memo-ns", lambda: parquet_schema(spark, path))
    assert jobs == 0


def test_schema_memo_stays_bounded_and_consistent_under_threads(tmp_path, monkeypatch):
    """More threads than cores hit and evict one small memo at once; every
    caller gets its own path's schema and the memo never outgrows its
    bound.  A fake session stands in for Spark: inference is not what is
    under test, the memo's bookkeeping is."""
    import sys
    import threading
    from types import SimpleNamespace

    from queue_system_simulator_spark import schema

    paths = []
    for i in range(40):
        p = tmp_path / f"t{i}.parquet"
        p.write_bytes(b"x" * i)
        paths.append(str(p.resolve()))

    def infer(path):
        return SimpleNamespace(schema=T.StructType([T.StructField(path, T.LongType())]))

    fake = SimpleNamespace(
        conf=SimpleNamespace(get=lambda key: "v"), read=SimpleNamespace(parquet=infer)
    )
    monkeypatch.setattr(schema, "_SCHEMA_MEMO_SIZE", 8)
    monkeypatch.setattr(schema, "_schemas", type(schema._schemas)())
    errors = []

    def hammer(seed):
        try:
            for k in range(2000):
                path = paths[(seed * 7 + k * 13) % len(paths)]
                assert schema.parquet_schema(fake, path).names == [path]
        except Exception as e:  # reported by the main thread
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=hammer, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(schema._schemas) <= 8
