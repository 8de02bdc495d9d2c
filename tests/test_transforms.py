"""Derived-column / filter / sort operator tests (SURVEY §2 B/C/D)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from queue_system_simulator_spark.operators.transforms import (
    hms,
    priority_class,
    result_order,
    with_sim_arrival_time,
)
from queue_system_simulator_spark.schema import REFERENCE_EPOCH, REQUEST_SCHEMA

UTC = dt.timezone.utc


def test_sim_arrival_time_fractional_seconds(spark):
    df = spark.createDataFrame(
        [
            ("u", dt.datetime(2023, 1, 1, 0, 0, 1, 500000, tzinfo=UTC), 1.0),
            ("v", dt.datetime(2022, 12, 31, 23, 59, 59, tzinfo=UTC), 1.0),
        ],
        REQUEST_SCHEMA,
    )
    out = with_sim_arrival_time(df, REFERENCE_EPOCH).collect()
    vals = {r["user_id"]: r["sim_arrival_time"] for r in out}
    assert vals["u"] == 1.5  # sub-second precision kept (not unix_timestamp)
    assert vals["v"] == -1.0  # pre-epoch → negative


def test_priority_class_null_safe(spark):
    df = spark.createDataFrame(
        [(10.0,), (19.9,), (20.0,), (30.0,), (None,)], "processing_time double"
    )
    out = [r[0] for r in df.select(priority_class("processing_time")).collect()]
    assert out == ["priority", "priority", "normal", "normal", "normal"]


def test_hms(spark):
    df = spark.createDataFrame([(0.0,), (59.9,), (3661.2,), (86399.0,)], "s double")
    out = [r[0] for r in df.select(hms("s")).collect()]
    assert out == ["00:00:00", "00:00:59", "01:01:01", "23:59:59"]


def test_result_order_sentinel(spark):
    df = spark.createDataFrame(
        [
            (3.0, 10.0),
            (1.0, -1.0),   # rejected → last despite earliest arrival
            (2.0, 5.0),
        ],
        "arrival_time_in_queue double, finish_processing_time_by_worker double",
    )
    out = [r["finish_processing_time_by_worker"] for r in result_order(df).collect()]
    assert out == [5.0, 10.0, -1.0]


def test_sliding_index_sql_matches_python_for_all_widths(spark):
    """Property: for every width 1..10 and array length 0..12, the guarded
    index expression yields exactly the Python range(1, n - w + 2) — and
    NEVER a descending array (the sequence(1, n<1) trap)."""
    from queue_system_simulator_spark.operators.transforms import (
        sliding_index_sql,
    )

    rows = [(n, list(map(str, range(n)))) for n in range(0, 13)]
    df = spark.createDataFrame(rows, "n int, arr array<string>")
    for width in range(1, 11):
        got = {
            r.n: r.idx
            for r in df.select(
                "n", F.expr(sliding_index_sql("arr", width)).alias("idx")
            ).collect()
        }
        for n in range(0, 13):
            want = list(range(1, n - width + 2))
            assert got[n] == want, (width, n, got[n])
