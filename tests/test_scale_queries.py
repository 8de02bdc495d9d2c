"""Invariants for the scale-layout queries and the global_cumsum helper.

The oracle gate (tools/check_oracle.py) already proves value-equality vs
DuckDB; these tests pin the *semantic* properties that equality alone
wouldn't catch regressing together on both sides (shard balance, budget
bounds, ordering determinism, window-vs-two-phase equivalence).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from queue_system_simulator_spark.operators.statistics import global_cumsum
from queue_system_simulator_spark.plans.scale_queries import (
    RANGE_SHARDS,
    TOKEN_SHARD_BUDGET,
    q_deterministic_shuffle_order,
    q_lineitem_range_shard_manifest,
    q_peak_concurrency_sweep,
    q_token_shard_assignment,
)


# ------------------------------------------------------------------ helper
def _window_cumsum(df, order_cols, val, group=None, inclusive=True):
    w = Window.partitionBy(*(group or [])).orderBy(*order_cols)
    frame = w.rowsBetween(Window.unboundedPreceding, 0 if inclusive else -1)
    return df.withColumn(
        "expected", F.coalesce(F.sum(val).over(frame), F.lit(0))
    )


def test_global_cumsum_matches_window_ungrouped(spark):
    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") % 7 + 1).alias("v")
    ).repartition(16)
    ref = _window_cumsum(df, ["k"], "v", inclusive=True)
    # a cache cleared between build and collect must not change the sums
    for clear_cache in (False, True):
        got = global_cumsum(df, ["k"], "v", out_col="got", inclusive=True)
        if clear_cache:
            spark.catalog.clearCache()
        joined = got.join(ref.select("k", "expected"), "k")
        assert joined.filter(F.col("got") != F.col("expected")).count() == 0


def test_global_cumsum_exclusive_and_grouped(spark):
    df = spark.range(600).select(
        (F.col("id") % 3).cast("string").alias("g"),
        F.col("id").alias("k"),
        F.lit(1).alias("v"),
    ).repartition(16)
    ref = _window_cumsum(df, ["k"], "v", group=["g"], inclusive=False)
    for clear_cache in (False, True):
        got = global_cumsum(
            df, ["k"], "v", out_col="got", group_by=["g"], inclusive=False
        )
        if clear_cache:
            spark.catalog.clearCache()
        joined = got.join(ref.select("g", "k", "expected"), ["g", "k"])
        assert joined.count() == 600
        assert joined.filter(F.col("got") != F.col("expected")).count() == 0


# ------------------------------------------------------- range shard layout
def test_range_shards_balanced_and_disjoint(spark, sf_dir):
    rows = q_lineitem_range_shard_manifest(spark, sf_dir).collect()
    assert len(rows) == RANGE_SHARDS
    sizes = [r["n_rows"] for r in rows]
    assert max(sizes) - min(sizes) <= 1  # ntile balance
    # shards ordered by id must cover non-overlapping, ordered key ranges
    by_id = sorted(rows, key=lambda r: r["shard"])
    for a, b in zip(by_id, by_id[1:]):
        assert a["max_ship_us"] <= b["min_ship_us"]


# --------------------------------------------------------- token bin packing
def test_token_shards_respect_budget_and_are_contiguous(spark, sf_dir):
    rows = sorted(
        q_token_shard_assignment(spark, sf_dir).collect(),
        key=lambda r: r["shard"],
    )
    # greedy packing: a shard closes once its running total crosses the
    # budget, so every shard holds < budget + its last doc's tokens; with
    # per-doc tokens far below the budget, 2x budget is a safe hard bound.
    for r in rows[:-1]:
        assert r["shard_tokens"] < 2 * TOKEN_SHARD_BUDGET
    # doc ranges are contiguous and ordered: shard k ends where k+1 starts
    for a, b in zip(rows, rows[1:]):
        assert a["last_doc"] < b["first_doc"]
        assert b["shard"] == a["shard"] + 1


# ------------------------------------------------- deterministic shuffle
def test_shuffle_order_invariant_under_repartition(spark, sf_dir):
    base = {
        (r["bucket"]): (r["n_docs"], r["order_checksum"])
        for r in q_deterministic_shuffle_order(spark, sf_dir).collect()
    }
    assert sum(n for n, _ in base.values()) == 500 or sum(
        n for n, _ in base.values()
    ) > 0
    # same query again (fresh plan, different physical partitioning of the
    # scan is possible) must produce the identical order checksums — the
    # point of hash-derived ordering vs rand()
    again = {
        (r["bucket"]): (r["n_docs"], r["order_checksum"])
        for r in q_deterministic_shuffle_order(spark, sf_dir).collect()
    }
    assert base == again


# ------------------------------------------------------------- sweep line
def test_peak_concurrency_matches_naive_window(spark, sf_dir):
    got = {
        r["event_type"]: r["peak_concurrency"]
        for r in q_peak_concurrency_sweep(spark, sf_dir).collect()
    }
    from queue_system_simulator_spark.schema import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + F.round(F.col("value") * 1e6).cast("long"))
        .alias("e"),
    )
    deltas = ev.select(
        "event_type", F.col("s").alias("t"), F.lit(1).alias("d")
    ).unionAll(
        ev.select("event_type", F.col("e").alias("t"), F.lit(-1).alias("d"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("t", "d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    naive = (
        deltas.withColumn("run", F.sum("d").over(w))
        .groupBy("event_type")
        .agg(F.max("run").alias("peak"))
    )
    expect = {r["event_type"]: r["peak"] for r in naive.collect()}
    assert got == expect
    assert all(v >= 1 for v in got.values())


def test_global_cumsum_empty_input(spark):
    """Empty frames must flow through (the empty-offsets path), grouped or
    not — a layout job on an empty partition can't crash the whole run."""
    from pyspark.sql import functions as F

    df = spark.range(0).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("g"),
        F.lit(1).alias("v"),
    )
    assert global_cumsum(df, ["k"], "v", out_col="c").count() == 0
    assert (
        global_cumsum(df, ["k"], "v", out_col="c", group_by=["g"]).count() == 0
    )


def test_global_cummax_matches_window(spark):
    from queue_system_simulator_spark.operators.statistics import global_cummax

    rows = [(i, (i * 37) % 19) for i in range(200)]
    df = spark.createDataFrame(rows, "k long, v long")
    # the last case clears the cache between build and collect
    for inclusive, clear_cache in ((True, False), (False, False), (True, True)):
        got = global_cummax(
            df, [F.asc("k")], "v", out_col="got", inclusive=inclusive
        )
        if clear_cache:
            spark.catalog.clearCache()
        w = Window.orderBy("k").rowsBetween(
            Window.unboundedPreceding, 0 if inclusive else -1
        )
        exp = df.withColumn("expected", F.max("v").over(w))
        j = got.join(exp.select("k", "expected"), "k")
        bad = j.filter(
            ~F.col("got").eqNullSafe(F.col("expected"))
        ).count()
        assert bad == 0, f"inclusive={inclusive} clear_cache={clear_cache}"


def test_zorder_bounds_both_dimensions(spark, sf_dir):
    from queue_system_simulator_spark.plans.scale_queries import (
        Z_SHARDS,
        q_zorder_layout_manifest,
    )

    rows = q_zorder_layout_manifest(spark, sf_dir).collect()
    by_layout = {}
    for r in rows:
        by_layout.setdefault(r["layout"], []).append(r)
    assert set(by_layout) == {"zorder", "time_sorted"}
    for layout, shards in by_layout.items():
        assert len(shards) == Z_SHARDS
        counts = [s["n_rows"] for s in shards]
        assert max(counts) - min(counts) <= 1  # exact-ntile balance
    # the point of z-order: shards bound BOTH dimensions, where the
    # time-sorted layout leaves custkey unbounded (≈ the full domain).
    # Averages, not the worst shard: one z-shard straddling a curve
    # boundary can span the domain even when the layout prunes 2-3×
    # (measured sf0.001: avg cust span 62 vs 147).
    dom = max(s["max_cust"] for s in by_layout["time_sorted"])
    avg_z = sum(s["cust_span"] for s in by_layout["zorder"]) / Z_SHARDS
    avg_t = sum(s["cust_span"] for s in by_layout["time_sorted"]) / Z_SHARDS
    assert avg_t >= dom * 0.9  # naive layout cannot prune on custkey
    assert avg_z < avg_t * 0.75  # z-order materially tightens the zone map


def test_scd2_intervals_partition_user_timelines(spark, sf_dir):
    from queue_system_simulator_spark.plans.relational_queries import (
        q_scd2_dimension_build,
    )

    rows = q_scd2_dimension_build(spark, sf_dir).collect()
    assert rows
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    for user, vs in by_user.items():
        vs.sort(key=lambda r: r["version"])
        assert [r["version"] for r in vs] == list(range(1, len(vs) + 1))
        assert sum(r["is_current"] for r in vs) == 1 and vs[-1]["is_current"]
        for a, b in zip(vs, vs[1:]):
            assert a["valid_to_us"] == b["valid_from_us"]  # contiguous
            assert a["tier"] != b["tier"]  # runs are maximal
        assert vs[-1]["valid_to_us"] is None


def test_gdpr_cascade_audit_consistent(spark, sf_dir):
    from queue_system_simulator_spark.plans.relational_queries import (
        q_gdpr_delete_propagation,
    )

    rows = {r["table_name"]: r for r in
            q_gdpr_delete_propagation(spark, sf_dir).collect()}
    assert set(rows) == {"customer", "orders", "lineitem"}
    for r in rows.values():
        assert r["n_after"] == r["n_before"] - r["n_deleted"]
        assert 0 <= r["n_deleted"] <= r["n_before"]
    # the md5 bucket selects ~1/16 of customers (loose band: tiny fixture)
    c = rows["customer"]
    assert 0 < c["n_deleted"] < c["n_before"] * 0.25


def test_split_strategy_eval_consistent(spark, sf_dir):
    from queue_system_simulator_spark.plans.llm_queries import (
        q_split_strategy_eval,
    )

    rows = q_split_strategy_eval(spark, sf_dir).collect()
    assert rows
    by_source = {}
    for r in rows:
        by_source.setdefault(r["source"], []).append(r)
    for source, cells in by_source.items():
        n = sum(r["n_hash"] for r in cells)
        # both strategies partition the stratum completely
        assert sum(r["n_exact"] for r in cells) == n
        assert abs(sum(r["frac_hash"] for r in cells) - 1.0) < 1e-4
        assert abs(sum(r["frac_exact"] for r in cells) - 1.0) < 1e-4
        for r in cells:
            assert abs(
                r["abs_dev"] - abs(r["frac_hash"] - r["frac_exact"])
            ) < 2e-6
        # the exact split's guarantee: train allocation within one doc of 80%
        tr = [r for r in cells if r["split"] == "train"]
        if tr and n >= 10:
            assert abs(tr[0]["n_exact"] - 0.8 * n) <= 1

