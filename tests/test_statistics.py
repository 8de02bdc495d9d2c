"""Aggregation-layer tests with the reference's golden numbers
(``/root/reference/tests/test_statistics.py:101-341``; FIXTURES.md §5)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from queue_system_simulator_spark.operators.statistics import (
    api_usage_counts,
    enqueue_totals,
    queuing_time_stats,
)
from queue_system_simulator_spark.schema import SIM_RESULT_SCHEMA

COLS = [
    "user_id",
    "request_time",
    "processing_time",
    "sim_arrival_time",
    "arrival_time_in_queue",
    "start_processing_time_by_worker",
    "finish_processing_time_by_worker",
    "used_api_id",
]


def sim_row(qt=None, finish=10.0, arrival=1.0, api=1, proc=2.0):
    start = arrival + (qt if qt is not None else 0.0)
    return ("u", None, proc, arrival, arrival, start, finish, api)


def make_df(spark, rows):
    return spark.createDataFrame(rows, SIM_RESULT_SCHEMA)


def test_golden_percentiles_and_mean(spark):
    # queuing times [0.0, 0.9, 0.0, 1.7] (4 processed) + 1 rejected →
    # mean 0.65, p50 0.45, p75 1.1, p90 1.46, p99 1.676, processed 4, rejected 1
    rows = [
        sim_row(qt=0.0),
        sim_row(qt=0.9),
        sim_row(qt=0.0),
        sim_row(qt=1.7),
        ("u", None, 2.0, 1.0, 1.0, 0.0, -1.0, None),  # rejected
    ]
    out = queuing_time_stats(make_df(spark, rows)).collect()[0]
    assert out["processed"] == 4
    assert out["rejected"] == 1
    assert abs(out["avg_queuing_time"] - 0.65) < 1e-9
    assert abs(out["p50"] - 0.45) < 1e-9
    assert abs(out["p75"] - 1.1) < 1e-9
    assert abs(out["p90"] - 1.46) < 1e-9
    assert abs(out["p99"] - 1.676) < 1e-9


def test_percentiles_over_1_to_10(spark):
    rows = [sim_row(qt=float(i)) for i in range(1, 11)]
    out = queuing_time_stats(make_df(spark, rows)).collect()[0]
    assert abs(out["p50"] - 5.5) < 1e-9
    assert abs(out["p75"] - 7.75) < 1e-9
    assert abs(out["p90"] - 9.1) < 1e-9


def test_single_value_percentiles(spark):
    out = queuing_time_stats(make_df(spark, [sim_row(qt=5.0)])).collect()[0]
    for c in ("p50", "p75", "p90", "p99"):
        assert out[c] == 5.0


def test_nan_on_empty(spark):
    out = queuing_time_stats(make_df(spark, [])).collect()[0]
    assert out["processed"] == 0
    assert out["rejected"] == 0
    for c in ("avg_queuing_time", "p50", "p75", "p90", "p99"):
        assert math.isnan(out[c])


def test_silent_drop_of_inverted_rows(spark):
    # C2: a start < arrival row is dropped from the mean denominator but
    # still counts as processed (reference statistics.py:28-42)
    rows = [
        sim_row(qt=1.0),
        ("u", None, 2.0, 1.0, 5.0, 2.0, 10.0, 1),  # start 2.0 < arrival 5.0
    ]
    out = queuing_time_stats(make_df(spark, rows)).collect()[0]
    assert out["processed"] == 2
    assert abs(out["avg_queuing_time"] - 1.0) < 1e-12


def test_api_usage_zero_fill_golden(spark):
    # reference: N=3, api ids [1,2,1,3,None,1] processed + 4 (out-of-range)
    # + 2 on a rejected row → {api_1: 3, api_2: 1, api_3: 1}
    rows = [
        sim_row(api=1),
        sim_row(api=2),
        sim_row(api=1),
        sim_row(api=3),
        sim_row(api=None),
        sim_row(api=1),
        sim_row(api=4),  # out of range for N=3
        ("u", None, 2.0, 1.0, 1.0, 1.0, -1.0, 2),  # rejected → skipped
    ]
    out = {
        r["api_key"]: r["usage_count"]
        for r in api_usage_counts(make_df(spark, rows), spark, num_apis=3).collect()
    }
    assert out == {"api_1": 3, "api_2": 1, "api_3": 1}


def test_api_usage_all_zero(spark):
    out = api_usage_counts(make_df(spark, []), spark, num_apis=2).collect()
    assert {r["api_key"]: r["usage_count"] for r in out} == {"api_1": 0, "api_2": 0}


def test_api_usage_broadcast_hint_is_honoured(spark, sf_dir):
    """The counts are broadcast, the side a left outer join can build: the
    hint is not dropped (Spark logs ``build left for left outer join``
    when it is) and the schema and rows stay as they were.  The registered
    zero-fill queries keep to the same rule."""
    from queue_system_simulator_spark.plans import QUERIES

    rows = [sim_row(api=1), sim_row(api=1), sim_row(api=2)]
    out = api_usage_counts(make_df(spark, rows), spark, num_apis=3)
    assert [(f.name, f.dataType.simpleString(), f.nullable) for f in out.schema] == [
        ("api_id", "int", False),
        ("api_key", "string", False),
        ("usage_count", "bigint", False),
    ]
    assert sorted(map(tuple, out.collect())) == [
        (1, "api_1", 2),
        (2, "api_2", 1),
        (3, "api_3", 0),
    ]
    qe = out._jdf.queryExecution()
    (join,) = [ln for ln in qe.optimizedPlan().toString().splitlines() if "Join " in ln]
    assert "LeftOuter" in join and "rightHint=(strategy=broadcast)" in join
    assert "leftHint" not in join
    assert "LeftOuter, BuildRight" in qe.executedPlan().toString()
    for name in ("api_usage_zero_fill", "time_travel_version_diff"):
        plan = QUERIES[name].build(spark, sf_dir)._jdf.queryExecution().optimizedPlan()
        outer = [ln for ln in plan.toString().splitlines() if "LeftOuter" in ln]
        assert outer, name
        assert not [ln for ln in outer if "leftHint=(strategy=broadcast)" in ln], name


def test_enqueue_totals(spark):
    rows = [
        sim_row(proc=5.0),
        sim_row(proc=19.9),
        sim_row(proc=20.0),
        sim_row(proc=30.0),
        ("u", None, 1.0, 1.0, 1.0, 0.0, -1.0, None),  # rejected → not enqueued
        # null processing_time routes to the NORMAL class, matching the
        # reference's hasattr fallback (queue_manager.py:137-155) and the
        # kernel — it must not vanish from both buckets.
        ("u", None, None, 1.0, 1.0, 1.0, 5.0, 1),
    ]
    out = enqueue_totals(make_df(spark, rows)).collect()[0]
    assert out["priority_queue_enqueued_total"] == 2
    assert out["normal_queue_enqueued_total"] == 3


def test_stats_grouped(spark):
    rows = [sim_row(qt=0.0), sim_row(qt=2.0)]
    df = make_df(spark, rows).withColumn("grp", F.lit("g1"))
    out = queuing_time_stats(df, group_cols=["grp"]).collect()
    assert len(out) == 1 and out[0]["grp"] == "g1"
    assert abs(out[0]["avg_queuing_time"] - 1.0) < 1e-12


def test_approx_percentiles_within_bounded_error(spark, sf_dir):
    """fifo_stats_approx must track the exact percentiles closely at this
    accuracy (rank error <= n/accuracy; values here are well-spread)."""
    from queue_system_simulator_spark.plans import QUERIES

    exact = QUERIES["fifo_stats"].build(spark, sf_dir).collect()[0]
    approx = QUERIES["fifo_stats_approx"].build(spark, sf_dir).collect()[0]
    assert approx.processed == exact.processed
    assert abs(approx.avg_queuing_time - exact.avg_queuing_time) < 1e-9
    for p in ("50", "75", "90", "99"):
        e = exact[f"p{p}"]
        a = approx[f"p{p}_approx"]
        scale = max(abs(e), 1.0)
        assert abs(a - e) / scale < 0.05, (p, e, a)


class TestExactPercentilesDistributed:
    def test_matches_single_reducer_percentile(self, spark, sf_dir):
        from queue_system_simulator_spark.plans import QUERIES

        a = QUERIES["fifo_stats"].build(spark, sf_dir).collect()
        b = QUERIES["fifo_stats_distributed"].build(spark, sf_dir).collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b]

    def test_rank_selection_edge_cases(self, spark):
        import math

        from pyspark.sql import functions as F

        from queue_system_simulator_spark.operators.statistics import (
            exact_percentiles_distributed,
        )

        # empty input -> NaN per requested percentile
        empty = spark.range(0).select(F.col("id").alias("v"))
        assert all(
            math.isnan(x)
            for x in exact_percentiles_distributed(empty, "v", ps=(0.5, 0.9))
        )
        # single row: every percentile is that value
        one = spark.range(7, 8).select(F.col("id").alias("v"))
        assert exact_percentiles_distributed(one, "v", ps=(0.0, 0.5, 1.0)) == [
            7.0,
            7.0,
            7.0,
        ]
        # fewer rows than partitions + exact numpy golden values: the
        # reference test set [0.0, 0.9, 0.0, 1.7] (tests/test_statistics.py
        # golden numbers p50=0.45, p75=1.1, p90=1.46, p99=1.676)
        vals = spark.createDataFrame([(0,), (900_000,), (0,), (1_700_000,)], "v long")
        got = exact_percentiles_distributed(
            vals, "v", ps=(0.5, 0.75, 0.9, 0.99), divisor=1_000_000.0
        )
        assert [round(x, 6) for x in got] == [0.45, 1.1, 1.46, 1.676]


class TestGlobalRank:
    """Two-phase global rank / ntile vs the single-partition window truth."""

    def _sample(self, spark, n=523, seed=11):
        import random

        from pyspark.sql import functions as F

        rng = random.Random(seed)
        rows = [
            (i, rng.randrange(50), rng.choice("abcde") * (i % 3 + 1))
            for i in range(n)
        ]
        # 16 uneven partitions so bucket offsets actually matter
        return spark.createDataFrame(
            rows, "id long, v long, s string"
        ).repartition(16, F.col("id") % 7)

    def test_global_row_number_matches_window(self, spark):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from queue_system_simulator_spark.operators.statistics import (
            global_row_number,
        )

        df = self._sample(spark)
        order = [F.desc("v"), F.col("s"), F.col("id")]
        truth = df.withColumn(
            "rn", F.row_number().over(Window.orderBy(*order))
        )
        # clearing the cache between build and collect must not change the
        # ranks: the offsets stay tied to the bucket membership they came from
        for clear_cache in (False, True):
            got, n = global_row_number(df, order, out_col="rn")
            if clear_cache:
                spark.catalog.clearCache()
            assert n == df.count()
            assert (
                got.select("id", "rn")
                .exceptAll(truth.select("id", "rn"))
                .count()
                == 0
            ), clear_cache
            assert got.count() == n

    def test_exact_ntile_matches_window(self, spark):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from queue_system_simulator_spark.operators.statistics import (
            exact_ntile,
        )

        # the last case clears the cache between build and collect, which
        # must not move a bucket
        for n_rows, k, clear_cache in [
            (523, 10, False), (520, 4, False), (7, 10, False), (1, 3, False),
            (523, 10, True),
        ]:
            df = self._sample(spark, n=n_rows)
            order = [F.col("v"), F.col("id")]
            got = exact_ntile(df, k, order, out_col="b")
            if clear_cache:
                spark.catalog.clearCache()
            truth = df.withColumn(
                "b", F.ntile(k).over(Window.orderBy(*order))
            )
            assert (
                got.select("id", "b")
                .exceptAll(truth.select("id", "b"))
                .count()
                == 0
            ), (n_rows, k, clear_cache)

    def test_global_row_number_empty(self, spark):
        from pyspark.sql import functions as F

        from queue_system_simulator_spark.operators.statistics import (
            global_row_number,
        )

        empty = spark.range(0).select(F.col("id").alias("v"))
        got, n = global_row_number(empty, [F.col("v")], out_col="rn")
        assert n == 0 and got.count() == 0
