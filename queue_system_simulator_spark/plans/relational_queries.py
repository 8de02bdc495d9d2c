"""Relational capability extensions: as-of join, rollup, windowed top-n,
set operations.

The reference has none of these (SURVEY §2 D note); a user migrating real
pipelines onto this engine needs them, and each has a well-known
Spark-native scalable shape:

* as-of join   — union + partitioned ordered window with ``last(...,
  ignorenulls)`` (the merge-join formulation: ONE shuffle on the key,
  no range explosion); DuckDB verifies with its native ``ASOF JOIN``.
* rollup       — ``df.rollup`` → partial-aggregated grouping sets.
* top-n        — ``row_number`` window, filter early so only n rows per
  partition survive the shuffle boundary.
* set ops      — ``intersect``/``exceptAll`` on pre-aggregated keys.

Money math follows the tpch_queries decimal convention (order-independent
sums, bit-identical across engines).
"""

from __future__ import annotations

from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from queue_system_simulator_spark.fixtures import build_once
from queue_system_simulator_spark.localframe import local_df
from queue_system_simulator_spark.plans.registry import register
from queue_system_simulator_spark.schema import load_table

_DISC_PRICE_SQL = (
    "CAST(l_extendedprice AS DECIMAL(18,6)) * CAST(1 - l_discount AS DECIMAL(18,6))"
)
# every line item ``l`` with its order's customer's nation ``n``
_NATION_LINES_SQL = """\
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey"""


def _execution_memory_bytes(spark: SparkSession) -> int:
    """Per-executor execution-memory share for plan-time join-hint gating
    (r11 advisor: derive the SHUFFLE_HASH ceiling from the session's real
    executor sizing instead of a constant tuned to one container).

    heap * spark.memory.fraction * 0.5 — the execution half of the
    unified pool, conservatively ignoring what it could borrow from
    storage.  The heap is the live ``Runtime.maxMemory()`` in local mode
    (executors share the driver JVM, where ``spark.executor.memory`` is
    ignored) and the ``spark.executor.memory`` conf on a real cluster.
    """
    sc = spark.sparkContext
    conf = sc.getConf()
    if sc.master.startswith("local"):
        heap = int(sc._jvm.java.lang.Runtime.getRuntime().maxMemory())
    else:
        mem = conf.get("spark.executor.memory", "1g").strip().lower()
        units = {"k": 1024, "m": 1024**2, "g": 1024**3, "t": 1024**4}
        heap = (
            int(float(mem[:-1]) * units[mem[-1]])
            if mem[-1] in units
            else int(mem)
        )
    frac = float(conf.get("spark.memory.fraction", "0.6"))
    return int(heap * frac * 0.5)


@register(
    "asof_join_purchase",
    oracle="""
SELECT e.event_id, e.user_id, e.event_type,
       p.event_id AS last_purchase_id,
       CAST(epoch_us(e.ts) - epoch_us(p.ts) AS BIGINT) AS gap_us
FROM (SELECT * FROM events WHERE event_type != 'purchase') e
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON e.user_id = p.user_id AND e.ts >= p.ts
""",
    description="As-of join: every non-purchase event matched to the most "
    "recent purchase of the same user at-or-before it. Spark has no ASOF "
    "operator, so the engine uses the scalable merge formulation — tag + "
    "union both sides, one window per user ordered by (ts, tag) carrying "
    "last(purchase, ignorenulls) — one shuffle on the key, no range "
    "explosion; DuckDB's native ASOF JOIN is the oracle.",
)
def q_asof_join_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.unix_micros("ts").alias("tus")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "tus",
        F.lit(0).alias("tag"),
        F.col("event_id").alias("p_id"),
        F.col("tus").alias("p_tus"),
        F.lit(None).cast("long").alias("event_id"),
        F.lit(None).cast("string").alias("event_type"),
    )
    probes = ev.filter(F.col("event_type") != "purchase").select(
        "user_id",
        "tus",
        F.lit(1).alias("tag"),
        F.lit(None).cast("long").alias("p_id"),
        F.lit(None).cast("long").alias("p_tus"),
        "event_id",
        "event_type",
    )
    # purchases sort before probes at equal ts (tag 0 < 1) == at-or-before
    w = (
        Window.partitionBy("user_id")
        .orderBy("tus", "tag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = purchases.unionByName(probes).select(
        "*",
        F.last("p_id", ignorenulls=True).over(w).alias("last_purchase_id"),
        F.last("p_tus", ignorenulls=True).over(w).alias("last_p_tus"),
    )
    return merged.filter(F.col("tag") == 1).select(
        "event_id",
        "user_id",
        "event_type",
        "last_purchase_id",
        (F.col("tus") - F.col("last_p_tus")).cast("long").alias("gap_us"),
    )


@register(
    "range_join_error_context",
    oracle="""
SELECT e.event_id, e.user_id,
       count(c.event_id) AS n_clicks_60s
FROM (SELECT * FROM events WHERE event_type = 'error') e
LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON c.user_id = e.user_id
 AND epoch_us(c.ts) >= epoch_us(e.ts) - 60000000
 AND epoch_us(c.ts) <  epoch_us(e.ts)
GROUP BY e.event_id, e.user_id
""",
    description="Range join: clicks of the same user in the 60 s before "
    "each error. Spark shape: both sides bucketed to 60 s, probe side "
    "exploded to its 2 candidate buckets, equi-join on (user, bucket) + "
    "exact range filter — bounded fan-out instead of a per-user cross "
    "product, and the bucket in the join key diffuses hot-user skew. "
    "Oracle is the plain inequality join.",
)
def q_range_join_error_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    bucket_us = 60_000_000
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.unix_micros("ts").alias("tus")
    )
    errors = ev.filter(F.col("event_type") == "error")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("tus").alias("c_tus"),
        F.floor(F.col("tus") / bucket_us).alias("bucket"),
    )
    probes = errors.select(
        "event_id",
        "user_id",
        "tus",
        F.explode(
            F.array(
                F.floor(F.col("tus") / bucket_us),
                F.floor(F.col("tus") / bucket_us) - 1,
            )
        ).alias("bucket"),
    )
    matched = (
        probes.join(
            clicks,
            (F.col("user_id") == F.col("c_user"))
            & (probes["bucket"] == clicks["bucket"])
            & (F.col("c_tus") >= F.col("tus") - bucket_us)
            & (F.col("c_tus") < F.col("tus")),
        )
        .groupBy("event_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return errors.join(matched, "event_id", "left").select(
        "event_id",
        "user_id",
        F.coalesce(F.col("n"), F.lit(0)).alias("n_clicks_60s"),
    )


@register(
    "rollup_revenue",
    oracle=f"""
SELECT coalesce(n_name, 'ALL') AS nation,
       coalesce(CAST(yr AS VARCHAR), 'ALL') AS order_year,
       CAST(round(sum(rev), 2) AS DOUBLE) AS revenue,
       CAST(sum(cnt) AS BIGINT) AS n_items
FROM (
  SELECT n.n_name, CAST(year(o.o_orderdate) AS INT) AS yr,
         sum({_DISC_PRICE_SQL}) AS rev, count(*) AS cnt
{_NATION_LINES_SQL}
  GROUP BY 1, 2
) base
GROUP BY ROLLUP (n_name, yr)
""",
    description="Hierarchical rollup (nation → order year → grand total) "
    "over the star join: grouping-sets aggregation with partial map-side "
    "combine; dimensions broadcast so the fact table shuffles once on the "
    "group keys. Subtotal rows labeled 'ALL' for engine-portable hashing.",
)
def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    disc = F.col("l_extendedprice").cast("decimal(18,6)") * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(18,6)")
    base = (
        li.join(
            orders.select("o_orderkey", "o_custkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(cust.select("c_custkey", "c_nationkey")), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation.select("n_nationkey", "n_name")), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("n_name", F.year("o_orderdate").cast("int").alias("yr"), disc.alias("rev"))
    )
    return (
        base.rollup("n_name", "yr")
        .agg(
            F.round(F.sum("rev"), 2).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .select(
            F.coalesce(F.col("n_name"), F.lit("ALL")).alias("nation"),
            F.coalesce(F.col("yr").cast("string"), F.lit("ALL")).alias("order_year"),
            "revenue",
            "n_items",
        )
    )


@register(
    "window_topn_orders",
    oracle="""
SELECT o_custkey, o_orderkey, o_totalprice, rn
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         CAST(row_number() OVER (PARTITION BY o_custkey
                                 ORDER BY o_totalprice DESC, o_orderkey)
              AS INT) AS rn
  FROM orders
) t
WHERE rn <= 3
""",
    description="Windowed top-n per group: top 3 orders per customer by "
    "total price (deterministic tie-break on orderkey). One shuffle on the "
    "partition key; the rank filter prunes to ≤3 rows per customer "
    "immediately after the window.",
)
def q_window_topn_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "setops_customer_segments",
    oracle="""
WITH y95 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995),
y96 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
SELECT 'only_1995' AS segment, o_custkey FROM (SELECT * FROM y95 EXCEPT SELECT * FROM y96) a
UNION ALL
SELECT 'both_years' AS segment, o_custkey FROM (SELECT * FROM y95 INTERSECT SELECT * FROM y96) b
""",
    description="Set operations (EXCEPT / INTERSECT / UNION ALL) over "
    "pre-aggregated customer keys: churn-style segmentation. Distinct key "
    "sets are built first so the set ops shuffle keys, not order rows.",
)
def q_setops_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")

    def keys(year: int) -> DataFrame:
        return (
            orders.filter(F.year("o_orderdate") == year)
            .select("o_custkey")
            .distinct()
        )

    y95, y96 = keys(1995), keys(1996)
    only95 = y95.exceptAll(y96).select(F.lit("only_1995").alias("segment"), "o_custkey")
    both = y95.intersect(y96).select(F.lit("both_years").alias("segment"), "o_custkey")
    return only95.unionByName(both)


@register(
    "customers_without_orders",
    oracle="""
SELECT c.c_custkey, c.c_name, c.c_nationkey
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
    description="Anti-join: customers with no orders (NOT EXISTS as "
    "left_anti) — no row multiplication, the order keys stream past the "
    "broadcast/hashed customer side once.",
)
def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    return cust.join(
        orders, cust["c_custkey"] == orders["o_custkey"], "left_anti"
    ).select("c_custkey", "c_name", "c_nationkey")


@register(
    "order_value_deciles",
    oracle="""
WITH d AS (
  SELECT o_totalprice,
         ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
  FROM orders
)
SELECT CAST(decile AS INT) AS decile,
       count(*) AS n_orders,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
         AS decile_revenue
FROM d
GROUP BY decile
""",
    description="Decile analysis: exact ntile(10) over order value "
    "(deterministic tie-break on orderkey) → per-decile revenue "
    "concentration. The deciles come from the two-phase range-partition "
    "rank (statistics.exact_ntile): per-bucket row_number + bucket "
    "offsets, bucket→decile closed-form — identical output to a global "
    "ntile window with no single-partition sort, so the plan survives "
    "100 TB of orders.",
)
def q_order_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from queue_system_simulator_spark.operators.statistics import exact_ntile

    orders = load_table(spark, sf_dir, "orders")
    return (
        exact_ntile(
            orders.select("o_totalprice", "o_orderkey"),
            10,
            [F.col("o_totalprice"), F.col("o_orderkey")],
            out_col="decile",
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("decile_revenue"),
        )
    )


@register(
    "order_line_summary",
    oracle="""
SELECT l_orderkey,
       count(*) AS n_lines,
       string_agg(CAST(l_linenumber AS VARCHAR), ',' ORDER BY l_linenumber)
         AS line_numbers
FROM lineitem
GROUP BY l_orderkey
""",
    description="Deterministic array aggregation: per-order sorted line-"
    "number list serialized to a stable string (collect_list is unordered "
    "by contract — array_sort before serializing makes the result "
    "engine- and partitioning-independent).",
)
def q_order_line_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(F.collect_list("l_linenumber")),
                lambda x: x.cast("string"),
            ),
        ).alias("line_numbers"),
    )


@register(
    "referential_integrity_audit",
    oracle="""
SELECT
  (SELECT count(*) FROM lineitem l
   WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
    AS orphan_lineitems,
  (SELECT count(*) FROM orders o
   WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
    AS orphan_orders,
  (SELECT count(*) FROM customer c
   WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey))
    AS orphan_customers
""",
    description="Referential-integrity audit across the star schema: "
    "orphan counts via three left_anti joins (key sets broadcast where "
    "small) — the FK contract check a pipeline runs after every load.",
)
def q_referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")

    def orphans(child, key, parent, pkey):
        return (
            child.join(parent, child[key] == parent[pkey], "left_anti")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    a = orphans(li, "l_orderkey", orders.select("o_orderkey"), "o_orderkey")
    b = orphans(
        orders.select("o_custkey"), "o_custkey", cust.select("c_custkey"), "c_custkey"
    )
    c = orphans(
        cust.select("c_nationkey"),
        "c_nationkey",
        F.broadcast(nation.select("n_nationkey")),
        "n_nationkey",
    )
    return (
        a.select(F.col("n").alias("orphan_lineitems"))
        .crossJoin(b.select(F.col("n").alias("orphan_orders")))
        .crossJoin(c.select(F.col("n").alias("orphan_customers")))
    )


@register(
    "nation_revenue_share",
    oracle=f"""
WITH rev AS (
  SELECT n.n_name, sum({_DISC_PRICE_SQL}) AS r
{_NATION_LINES_SQL}
  GROUP BY n.n_name
)
SELECT n_name,
       CAST(round(r, 2) AS DOUBLE) AS revenue,
       round(CAST(r AS DOUBLE) / CAST(sum(r) OVER () AS DOUBLE), 6)
         AS revenue_share
FROM rev
""",
    description="Percent-of-total: per-nation revenue plus its share via a "
    "window over the AGGREGATED frame (sum over ()) — the total never "
    "re-scans the fact table, and the unpartitioned window runs over "
    "#nations rows, not #lineitems.",
)
def q_nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    disc = F.col("l_extendedprice").cast("decimal(18,6)") * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(18,6)")
    rev = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.sum(disc).alias("r"))
    )
    w = Window.partitionBy()
    return rev.select(
        "n_name",
        F.round(F.col("r"), 2).cast("double").alias("revenue"),
        F.round(
            F.col("r").cast("double") / F.sum("r").over(w).cast("double"), 6
        ).alias("revenue_share"),
    )


@register(
    "window_function_showcase",
    oracle="""
SELECT o_custkey, o_orderkey,
       row_number() OVER w AS seq,
       lag(o_totalprice) OVER w AS prev_price,
       lead(o_totalprice) OVER w AS next_price,
       first_value(o_totalprice) OVER w AS first_price,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))) OVER w, 2) AS DOUBLE)
         AS running_total,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cdist
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
    description="Window-function breadth on one per-customer ordered frame: "
    "row_number, lag, lead, first_value, running decimal sum, percent_rank, "
    "cume_dist — Catalyst evaluates all seven in a single sort within one "
    "shuffle on the partition key (the ordering is made total with the "
    "orderkey tie-break, so every rank/offset function is deterministic).",
)
def q_window_function_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).alias("seq"),
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.first("o_totalprice").over(w).alias("first_price"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")).over(w), 2)
        .cast("double")
        .alias("running_total"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
    )


@register(
    "skew_salted_user_totals",
    oracle="""
SELECT user_id, count(*) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_value
FROM events WHERE value IS NOT NULL
GROUP BY user_id
""",
    description="Skew-defeating two-phase aggregation: phase 1 groups by "
    "(user_id, salt) so a hot user's rows spread over 16 reducers, phase 2 "
    "merges the per-salt partials per user — counts and decimal sums are "
    "both mergeable, so the result is identical to the direct groupBy while "
    "no single task ever holds a whole hot key. This is the manual form of "
    "what AQE skew handling does for joins, applied to aggregation "
    "(operators/skew.py holds the join-side twin).",
)
def q_skew_salted_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("user_id", "value", "event_id")
    )
    partial = (
        ev.withColumn("salt", F.pmod(F.xxhash64("event_id"), F.lit(16)))
        .groupBy("user_id", "salt")
        .agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("pv"),
        )
    )
    return partial.groupBy("user_id").agg(
        F.sum("pn").alias("n_events"),
        F.round(F.sum("pv"), 2).cast("double").alias("total_value"),
    )


@register(
    "dq_expectations_report",
    oracle="""
SELECT 'events' AS tbl, 'row_count' AS expectation,
       CAST(count(*) AS BIGINT) AS observed, count(*) > 0 AS ok
FROM events
UNION ALL
SELECT 'events', 'event_id_unique',
       CAST(count(*) - count(DISTINCT event_id) AS BIGINT),
       count(*) = count(DISTINCT event_id) FROM events
UNION ALL
SELECT 'events', 'event_type_in_domain',
       CAST(sum(CASE WHEN event_type IN ('view','click','purchase','signup','error')
                THEN 0 ELSE 1 END) AS BIGINT),
       sum(CASE WHEN event_type IN ('view','click','purchase','signup','error')
                THEN 0 ELSE 1 END) = 0 FROM events
UNION ALL
SELECT 'orders', 'o_orderkey_unique',
       CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT),
       count(*) = count(DISTINCT o_orderkey) FROM orders
UNION ALL
SELECT 'orders', 'orderdate_not_null',
       CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) = 0 FROM orders
UNION ALL
SELECT 'lineitem', 'discount_in_range',
       CAST(sum(CASE WHEN l_discount BETWEEN 0 AND 1 THEN 0 ELSE 1 END) AS BIGINT),
       sum(CASE WHEN l_discount BETWEEN 0 AND 1 THEN 0 ELSE 1 END) = 0 FROM lineitem
UNION ALL
SELECT 'customer', 'c_custkey_unique',
       CAST(count(*) - count(DISTINCT c_custkey) AS BIGINT),
       count(*) = count(DISTINCT c_custkey) FROM customer
UNION ALL
SELECT 'documents', 'n_chars_consistent',
       CAST(sum(CASE WHEN n_chars = length(text) THEN 0 ELSE 1 END) AS BIGINT),
       sum(CASE WHEN n_chars = length(text) THEN 0 ELSE 1 END) = 0 FROM documents
UNION ALL
SELECT 'embeddings', 'vec_id_unique',
       CAST(count(*) - count(DISTINCT vec_id) AS BIGINT),
       count(*) = count(DISTINCT vec_id) FROM embeddings
""",
    description="Data-quality expectations suite (the dbt-test / "
    "Great-Expectations contract a pipeline runs after every load): row "
    "counts, primary-key uniqueness, domain membership, range and "
    "derived-column consistency checks across five tables in ONE job — "
    "each check is a one-row partial-aggregated scan, unioned into a "
    "single report frame, so the whole suite costs one pass per table "
    "regardless of how many expectations it carries.",
)
def q_dq_expectations_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cust = load_table(spark, sf_dir, "customer")
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    cnt = F.count(F.lit(1))

    def report(df, tbl, expectation, observed_col, ok_col):
        return df.agg(
            F.lit(tbl).alias("tbl"),
            F.lit(expectation).alias("expectation"),
            observed_col.cast("long").alias("observed"),
            ok_col.alias("ok"),
        )

    domain_viol = F.sum(
        F.when(
            F.col("event_type").isin("view", "click", "purchase", "signup", "error"),
            0,
        ).otherwise(1)
    )
    null_dates = F.sum(F.when(F.col("o_orderdate").isNull(), 1).otherwise(0))
    disc_viol = F.sum(F.when(F.col("l_discount").between(0, 1), 0).otherwise(1))
    nchars_viol = F.sum(
        F.when(F.col("n_chars") == F.length("text"), 0).otherwise(1)
    )
    checks = [
        report(ev, "events", "row_count", cnt, cnt > 0),
        report(
            ev, "events", "event_id_unique",
            cnt - F.countDistinct("event_id"), cnt == F.countDistinct("event_id"),
        ),
        report(ev, "events", "event_type_in_domain", domain_viol, domain_viol == 0),
        report(
            orders, "orders", "o_orderkey_unique",
            cnt - F.countDistinct("o_orderkey"), cnt == F.countDistinct("o_orderkey"),
        ),
        report(orders, "orders", "orderdate_not_null", null_dates, null_dates == 0),
        report(li, "lineitem", "discount_in_range", disc_viol, disc_viol == 0),
        report(
            cust, "customer", "c_custkey_unique",
            cnt - F.countDistinct("c_custkey"), cnt == F.countDistinct("c_custkey"),
        ),
        report(docs, "documents", "n_chars_consistent", nchars_viol, nchars_viol == 0),
        report(
            emb, "embeddings", "vec_id_unique",
            cnt - F.countDistinct("vec_id"), cnt == F.countDistinct("vec_id"),
        ),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionAll(c)
    return out


@register(
    "shuffle_hash_join_orders",
    oracle="""
SELECT o.o_orderpriority,
       count(*) AS n_lines,
       CAST(round(sum(CAST(l.l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE)
         AS total_qty
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
""",
    description="Join-strategy hint surface: the big-big lineitem x orders "
    "join pinned to SHUFFLE_HASH — when one side comfortably fits a "
    "per-task hash map, hashing beats sort-merge by skipping both sorts; "
    "the hint is how an operator author encodes that knowledge when "
    "statistics can't see it (the plan guard in tests/test_plans.py "
    "asserts ShuffledHashJoin is actually chosen). The hint is "
    "SIZE-GATED like a stats-based planner's decision: its precondition "
    "(per-task hashed relation fits the executor's execution-memory "
    "share) is CHECKED at plan time against the build side's on-disk "
    "bytes, because a hint that lies at scale is a job-killer — the "
    "1000x probe showed the forced build OOMing "
    "(cannotAcquireMemoryToBuildLongHashedRelation) on a 1.7 GB "
    "compressed / ~15 GB hashed build side, where the ungated plan "
    "(AQE picks sort-merge) finishes fine. Above the gate the hint is "
    "simply dropped; results are identical either way.",
)
def q_shuffle_hash_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    # plan-time stats check (driver-side file metadata walk, no data
    # read): snappy parquet of narrow key+enum columns decompresses
    # ~8-10x into unsafe-row hash maps, and all concurrent tasks share
    # one execution-memory pool.  The ceiling is derived from THIS
    # session's executor sizing rather than hardcoded (r11 advisor: a
    # fixed 512 MB tuned for a 16 GB / 32-slot executor can still OOM a
    # smaller one): on-disk-bytes * 10 (decompress+hash expansion) must
    # fit the per-executor execution-memory share, 0.6 * 0.5 * heap
    # under the unified memory manager's default split.  On this
    # container (16 GB heap) that lands at ~490 MB on disk, matching
    # the measured 1000x-probe failure point; on a real cluster the
    # gate tracks whatever heap the executors actually get.
    src = Path(sf_dir, "orders.parquet")
    orders_bytes = sum(
        f.stat().st_size
        for f in (src.rglob("*") if src.is_dir() else [src])
        if f.is_file()
    )
    if orders_bytes * 10 < _execution_memory_bytes(spark):
        orders = orders.hint("shuffle_hash")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum(F.col("l_quantity").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("total_qty"),
        )
    )


@register(
    "weekly_revenue_wow",
    oracle=f"""
WITH wk AS (
  SELECT epoch_us(o_orderdate) // 604800000000 AS week,
         sum(CAST(o_totalprice AS DECIMAL(18,6))) AS rev
  FROM orders GROUP BY 1
)
SELECT week,
       CAST(round(rev, 2) AS DOUBLE) AS revenue,
       round(CAST(rev - lag(rev) OVER (ORDER BY week) AS DOUBLE)
             / CAST(lag(rev) OVER (ORDER BY week) AS DOUBLE), 6) AS wow_change
FROM wk
""",
    description="Week-over-week revenue change: the lag window runs over "
    "the AGGREGATED weekly frame (hundreds of rows), never the order "
    "fact — the correct shape for trend reporting: one partial-aggregated "
    "shuffle on week, then an O(#weeks) window; the unpartitioned window "
    "is safe precisely because it follows the aggregation.",
)
def q_weekly_revenue_wow(spark: SparkSession, sf_dir: str) -> DataFrame:
    week_us = 7 * 86_400 * 1_000_000
    orders = load_table(spark, sf_dir, "orders").select(
        (F.unix_micros(F.col("o_orderdate").cast("timestamp")) / week_us)
        .cast("long")
        .alias("week"),
        F.col("o_totalprice").cast("decimal(18,6)").alias("p"),
    )
    wk = orders.groupBy("week").agg(F.sum("p").alias("rev"))
    w = Window.partitionBy().orderBy("week")
    prev = F.lag("rev").over(w)
    return wk.select(
        "week",
        F.round("rev", 2).cast("double").alias("revenue"),
        F.round((F.col("rev") - prev).cast("double") / prev.cast("double"), 6).alias(
            "wow_change"
        ),
    )


@register(
    "user_event_unpivot",
    oracle="""
WITH wide AS (
  SELECT user_id,
         sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS n_view,
         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS n_click,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n_purchase
  FROM events GROUP BY user_id
)
SELECT user_id, kind, CAST(n AS BIGINT) AS n
FROM wide
UNPIVOT (n FOR kind IN (n_view AS 'view', n_click AS 'click',
                        n_purchase AS 'purchase'))
""",
    description="Unpivot (wide → long, the inverse of the pivot query): "
    "the per-user count matrix melts back to (user, kind, n) rows via "
    "stack() — a pure projection (Generate), no shuffle beyond the "
    "aggregation that built the wide frame; the schema-evolution-safe way "
    "to normalize wide metric tables.",
)
def q_user_event_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    wide = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("n_view"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("n_click"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "n_purchase"
        ),
    )
    return wide.select(
        "user_id",
        F.expr(
            "stack(3, 'view', n_view, 'click', n_click, 'purchase', n_purchase) "
            "AS (kind, n)"
        ),
    ).select("user_id", "kind", F.col("n").cast("bigint").alias("n"))


@register(
    "subquery_rewrites_demo",
    oracle="""
SELECT o.o_orderkey, o.o_totalprice,
       (SELECT round(CAST(sum(CAST(o2.o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
                          / count(*), 6)
        FROM orders o2 WHERE o2.o_custkey = o.o_custkey) AS cust_avg_price
FROM orders o
WHERE NOT EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
)
ORDER BY o.o_orderkey
LIMIT 500
""",
    description="Subquery-rewrite surface: a correlated scalar subquery "
    "(per-customer average price) plus NOT EXISTS, both "
    "written as plain SQL — Catalyst decorrelates the scalar subquery "
    "into one aggregate-then-join (not a per-row re-execution) and "
    "rewrites NOT EXISTS into a left-anti join; the decimal-exact "
    "average makes the rewritten plan hash-identical to DuckDB's own "
    "decorrelation. Deterministic top-500 by key.",
)
def q_subquery_rewrites_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        SELECT o.o_orderkey, o.o_totalprice,
               (SELECT round(CAST(sum(CAST(o2.o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
                                  / count(*), 6)
                FROM {orders} o2 WHERE o2.o_custkey = o.o_custkey)
                 AS cust_avg_price
        FROM {orders} o
        WHERE NOT EXISTS (
          SELECT 1 FROM {lineitem} l
          WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
        )
        ORDER BY o.o_orderkey
        LIMIT 500
        """,
        orders=load_table(spark, sf_dir, "orders"),
        lineitem=load_table(spark, sf_dir, "lineitem"),
    )


ASOF_FWD_HORIZON_US = 3_600_000_000  # 1-hour forward horizon


@register(
    "asof_join_next_error",
    oracle=f"""
SELECT p.event_id, p.user_id,
       CASE WHEN e.event_id IS NOT NULL
             AND epoch_us(e.ts) - epoch_us(p.ts) <= {ASOF_FWD_HORIZON_US}
            THEN e.event_id END AS next_error_id,
       CASE WHEN e.event_id IS NOT NULL
             AND epoch_us(e.ts) - epoch_us(p.ts) <= {ASOF_FWD_HORIZON_US}
            THEN CAST(epoch_us(e.ts) - epoch_us(p.ts) AS BIGINT)
       END AS gap_us
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
  ON p.user_id = e.user_id AND p.ts <= e.ts
""",
    description="FORWARD as-of join: every purchase matched to the same "
    "user's next error at-or-after it, nulled beyond a 1-hour horizon — "
    "the 'did this action precede a failure' ops question, mirror image "
    "of asof_join_purchase. Same scalable merge formulation (tag + "
    "union, one per-user window, here first(error, ignorenulls) over the "
    "FORWARD frame; purchases sort before errors at equal ts so "
    "at-or-after is inclusive) — one shuffle on the key, no range "
    "explosion; DuckDB's native forward ASOF JOIN is the oracle and the "
    "horizon cutoff is applied identically on both sides.",
)
def q_asof_join_next_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.unix_micros("ts").alias("tus")
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        "tus",
        F.lit(1).alias("tag"),
        F.col("event_id").alias("e_id"),
        F.col("tus").alias("e_tus"),
        F.lit(None).cast("long").alias("event_id"),
    )
    probes = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "tus",
        F.lit(0).alias("tag"),
        F.lit(None).cast("long").alias("e_id"),
        F.lit(None).cast("long").alias("e_tus"),
        "event_id",
    )
    # purchases (tag 0) sort before errors (tag 1) at equal ts, so the
    # forward frame of a purchase includes same-timestamp errors
    w = (
        Window.partitionBy("user_id")
        .orderBy("tus", "tag")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    merged = errors.unionByName(probes).select(
        "*",
        F.first("e_id", ignorenulls=True).over(w).alias("next_e_id"),
        F.first("e_tus", ignorenulls=True).over(w).alias("next_e_tus"),
    )
    in_horizon = (
        F.col("next_e_id").isNotNull()
        & (F.col("next_e_tus") - F.col("tus") <= ASOF_FWD_HORIZON_US)
    )
    return merged.filter(F.col("tag") == 0).select(
        "event_id",
        "user_id",
        F.when(in_horizon, F.col("next_e_id")).alias("next_error_id"),
        F.when(in_horizon, (F.col("next_e_tus") - F.col("tus")).cast("long"))
        .alias("gap_us"),
    )


TOPK_K = 10


@register(
    "topk_with_ties",
    oracle=f"""
WITH ranked AS (
  SELECT o_orderkey, o_totalprice,
         rank() OVER (ORDER BY o_totalprice DESC) AS rk
  FROM orders
)
SELECT o_orderkey,
       CAST(round(o_totalprice * 100) AS BIGINT) AS price_centi,
       CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= {TOPK_K}
""",
    description=f"Global top-{TOPK_K} orders by price WITH ties (RANK "
    "semantics, not ROW_NUMBER): the oracle states it as a global rank "
    "window — which on a cluster is a single-reducer sort — while the "
    "engine runs the scalable two-phase form: TakeOrdered finds the "
    f"k-th value (a {TOPK_K}-row driver-free broadcast), a map-side "
    "filter keeps every row at-or-above that threshold, and only the "
    "tiny survivor set is ranked. Same rows, same ranks, no global "
    "sort — the pattern for any 'top N with ties' leaderboard over "
    "100 TB.",
)
def q_topk_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    kth = (
        orders.orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(TOPK_K)
        .agg(F.min("o_totalprice").alias("thresh"))
    )
    survivors = orders.crossJoin(F.broadcast(kth)).filter(
        F.col("o_totalprice") >= F.col("thresh")
    )
    return survivors.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_centi"),
        F.rank()
        .over(Window.orderBy(F.desc("o_totalprice")))
        .cast("long")
        .alias("rk"),
    ).filter(F.col("rk") <= TOPK_K)


@register(
    "bucketed_join_orders",
    oracle="""
SELECT o.o_orderpriority,
       CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS order_year,
       count(*) AS n_lines,
       CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(18,6)) *
                      CAST(1 - l.l_discount AS DECIMAL(18,6))), 2) AS DOUBLE)
         AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority, CAST(EXTRACT(year FROM o.o_orderdate) AS INT)
""",
    description="Bucketed co-located join — the canonical 100 TB pattern for "
    "a fact-fact join that runs many times: lineitem and orders are "
    "written ONCE as bucketed tables (bucketBy(8, orderkey) + sortBy, "
    "saveAsTable with an explicit scratch path), and the join then reads "
    "both sides bucket-aligned, so the SortMergeJoin has NO shuffle "
    "exchange on either side — the per-query cost at scale drops from "
    "2 full-fact shuffles to zero (tests/test_plans.py asserts the joined "
    "plan is exchange-free). The oracle aggregates the ORIGINAL parquet, "
    "so any row lost or duplicated by the bucketed write/read round-trip "
    "breaks the hash. This demo pays the one-time bucketing write inside "
    "the query; a production deployment amortizes it across every "
    "downstream join on the same key.",
)
def q_bucketed_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    from queue_system_simulator_spark.plans.reference_queries import (
        _scratch_dir,
    )

    suf = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    li_tbl, ord_tbl = f"qss_bkt_lineitem_{suf}", f"qss_bkt_orders_{suf}"
    n_buckets = 8  # production: size so each bucket ~ one HDFS block

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    # one-time bucketing writes: align write parallelism with the bucket
    # count so each bucket lands in a single file (scan preserves the sort)
    (
        li.repartition(n_buckets, "l_orderkey")
        .write.bucketBy(n_buckets, "l_orderkey")
        .sortBy("l_orderkey")
        .option("path", _scratch_dir(f"bkt_li_{suf}", sf_dir))
        .mode("overwrite")
        .saveAsTable(li_tbl)
    )
    (
        orders.repartition(n_buckets, "o_orderkey")
        .write.bucketBy(n_buckets, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", _scratch_dir(f"bkt_ord_{suf}", sf_dir))
        .mode("overwrite")
        .saveAsTable(ord_tbl)
    )
    li_b, ord_b = spark.table(li_tbl), spark.table(ord_tbl)
    price = F.col("l_extendedprice").cast("decimal(18,6)")
    disc = (F.lit(1) - F.col("l_discount")).cast("decimal(18,6)")
    return (
        li_b.hint("merge")
        .join(ord_b, li_b.l_orderkey == ord_b.o_orderkey)
        .groupBy(
            "o_orderpriority",
            F.year("o_orderdate").alias("order_year"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum(price * disc), 2).cast("double").alias("revenue"),
        )
    )


# --------------------------------------------------------------------------
# Row-level MERGE (CDC upsert/delete fold) without a table format
# --------------------------------------------------------------------------
@register(
    "cdc_merge_orders",
    oracle="""
WITH base AS (
  SELECT o_orderkey AS k, o_orderstatus AS status,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
changes AS (
  -- deterministic CDC batch derived from the snapshot itself:
  --   every 97th key  -> DELETE
  --   open orders     -> UPDATE (5% price bump, integer cents)
  --   every 89th key  -> INSERT of a new key above the live domain
  SELECT k, 'D' AS op, CAST(NULL AS VARCHAR) AS status,
         CAST(NULL AS BIGINT) AS cents
  FROM base WHERE k % 97 = 0
  UNION ALL
  SELECT k, 'U', 'F', cents + cents // 20
  FROM base WHERE k % 97 != 0 AND status = 'O'
  UNION ALL
  SELECT k + 100000000, 'I', 'O', cents
  FROM base WHERE k % 89 = 0
),
merged AS (
  SELECT coalesce(c.k, b.k) AS k,
         CASE WHEN c.op IS NULL THEN b.status
              WHEN c.op = 'D' THEN NULL
              ELSE c.status END AS status,
         CASE WHEN c.op IS NULL THEN b.cents
              WHEN c.op = 'D' THEN NULL
              ELSE c.cents END AS cents,
         coalesce(c.op, 'K') AS op
  FROM base b FULL OUTER JOIN changes c ON b.k = c.k
)
SELECT op,
       count(*) AS n_rows,
       CAST(coalesce(sum(cents), 0) AS BIGINT) AS cents_total,
       CAST(min(k) AS BIGINT) AS min_key,
       CAST(max(k) AS BIGINT) AS max_key
FROM merged
WHERE NOT (op = 'D')
GROUP BY op
UNION ALL
SELECT 'D', count(*), 0, CAST(min(k) AS BIGINT), CAST(max(k) AS BIGINT)
FROM merged WHERE op = 'D'
""",
    description="Row-level MERGE INTO semantics (the lakehouse CDC fold) "
    "expressed as one full-outer join + conditional resolution — no table "
    "format needed: a deterministic change batch (deletes every 97th key, "
    "5% integer-cents price bump on open orders, inserts above the live "
    "key domain) applied to the orders snapshot, then an audit aggregate "
    "per action (kept/updated/inserted rows with integer cent totals; "
    "deleted keys counted, tombstone payload excluded). The join is the "
    "ONLY shuffle and keys co-partition both sides; at 100 TB this is "
    "exactly the merge-on-read pass Delta/Iceberg run, and pre-bucketing "
    "both sides by key makes it exchange-free (bucketed_join_orders "
    "demonstrates that layout).",
)
def q_cdc_merge_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    deletes = base.filter(F.col("k") % 97 == 0).select(
        "k",
        F.lit("D").alias("op"),
        F.lit(None).cast("string").alias("status"),
        F.lit(None).cast("long").alias("cents"),
    )
    updates = base.filter(
        (F.col("k") % 97 != 0) & (F.col("status") == "O")
    ).select(
        "k",
        F.lit("U").alias("op"),
        F.lit("F").alias("status"),
        (F.col("cents") + (F.col("cents") / 20).cast("long")).alias("cents"),
    )
    inserts = base.filter(F.col("k") % 89 == 0).select(
        (F.col("k") + 100_000_000).alias("k"),
        F.lit("I").alias("op"),
        F.lit("O").alias("status"),
        "cents",
    )
    changes = deletes.unionAll(updates).unionAll(inserts)
    b = base.alias("b")
    c = changes.alias("c")
    merged = b.join(c, F.col("b.k") == F.col("c.k"), "full_outer").select(
        F.coalesce(F.col("c.k"), F.col("b.k")).alias("k"),
        F.when(F.col("c.op").isNull(), F.col("b.cents"))
        .when(F.col("c.op") == "D", F.lit(None).cast("long"))
        .otherwise(F.col("c.cents"))
        .alias("cents"),
        F.coalesce(F.col("c.op"), F.lit("K")).alias("op"),
    )
    live = merged.filter(F.col("op") != "D").groupBy("op").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.coalesce(F.sum("cents"), F.lit(0)).alias("cents_total"),
        F.min("k").alias("min_key"),
        F.max("k").alias("max_key"),
    )
    dead = merged.filter(F.col("op") == "D").agg(
        F.lit("D").alias("op"),
        F.count(F.lit(1)).alias("n_rows"),
        F.lit(0).cast("long").alias("cents_total"),
        F.min("k").alias("min_key"),
        F.max("k").alias("max_key"),
    ).select("op", "n_rows", "cents_total", "min_key", "max_key")
    return live.select(
        "op", "n_rows", "cents_total", "min_key", "max_key"
    ).unionAll(dead)


# --------------------------------------------------------------------------
# Benford first-digit audit
# --------------------------------------------------------------------------
@register(
    "benford_price_audit",
    oracle="""
WITH d AS (
  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                     AS VARCHAR), 1, 1) AS BIGINT) AS digit
  FROM orders
),
c AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
t AS (SELECT sum(n) AS total FROM c)
SELECT c.digit, CAST(c.n AS BIGINT) AS n,
       round(CAST(c.n AS DOUBLE) / t.total, 6) AS observed_freq,
       round(log10(1 + CAST(1.0 AS DOUBLE) / c.digit), 6) AS benford_freq,
       round((CAST(c.n AS DOUBLE) / t.total
              - log10(1 + CAST(1.0 AS DOUBLE) / c.digit))
             * (CAST(c.n AS DOUBLE) / t.total
                - log10(1 + CAST(1.0 AS DOUBLE) / c.digit))
             / log10(1 + CAST(1.0 AS DOUBLE) / c.digit), 6) AS chi_component
FROM c, t
""",
    description="Benford first-digit audit of order totals — the classic "
    "anomaly/fraud screen on financial columns: observed leading-digit "
    "frequencies (from integer cents, so digit extraction is exact) vs "
    "the Benford expectation log10(1+1/d), with per-digit chi-square "
    "components. One 9-row aggregate after a map-side digit projection; "
    "both engines compute the expectation from the same literal "
    "expression, so rounding agrees. (TPC-H synthetic prices are NOT "
    "Benford-distributed — the audit flagging that is the demo.)",
)
def q_benford_price_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "orders").select(
        F.substring(
            F.round(F.col("o_totalprice") * 100).cast("long").cast("string"),
            1,
            1,
        )
        .cast("long")
        .alias("digit")
    )
    c = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    t = c.agg(F.sum("n").alias("total"))
    obs = F.col("n").cast("double") / F.col("total")
    ben = F.log10(1 + F.lit(1.0) / F.col("digit"))
    return c.crossJoin(F.broadcast(t)).select(
        "digit",
        "n",
        F.round(obs, 6).alias("observed_freq"),
        F.round(ben, 6).alias("benford_freq"),
        F.round((obs - ben) * (obs - ben) / ben, 6).alias("chi_component"),
    )


# --------------------------------------------------------------------------
# SCD Type-2 dimension build from a change log
# --------------------------------------------------------------------------
@register(
    "scd2_dimension_build",
    oracle="""
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS tus, event_id,
         CASE WHEN value IS NULL THEN 'none'
              WHEN value < 10 THEN 'low'
              WHEN value < 100 THEN 'mid'
              ELSE 'high' END AS tier
  FROM events
),
flg AS (
  SELECT user_id, tus, event_id, tier,
         CASE WHEN lag(tier) OVER w IS DISTINCT FROM tier THEN 1 ELSE 0 END
           AS chg
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
),
runs AS (
  SELECT user_id, tier, tus,
         sum(chg) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS ver
  FROM flg
),
v AS (
  SELECT user_id, CAST(ver AS BIGINT) AS version, min(tier) AS tier,
         min(tus) AS valid_from_us
  FROM runs GROUP BY user_id, ver
)
SELECT user_id, version, tier, valid_from_us,
       lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY version)
         AS valid_to_us,
       (lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY version)
         IS NULL) AS is_current
FROM v
""",
    description="SCD Type-2 dimension build — the lakehouse pattern for "
    "tracking attribute history: the event log is read as a change stream "
    "of a per-user tier attribute (value-bucket projection), consecutive "
    "equal-tier runs collapse into one versioned row with "
    "[valid_from, valid_to) microsecond validity and an is_current flag — "
    "exactly the dimension shape a warehouse MERGE maintains (complements scd2_user_history, which intervalizes every event without change detection: here consecutive equal-tier runs COLLAPSE and versions count real transitions). All three "
    "windows (change flag, running version, next-version lead) are "
    "user-partitioned — keyed shuffles that shard by user at any scale; "
    "no global order anywhere. Versions are integer run counters, bounds "
    "are integer microseconds: hash-exact on both engines.",
)
def q_scd2_dimension_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("tus"),
        "event_id",
        F.when(F.col("value").isNull(), "none")
        .when(F.col("value") < 10, "low")
        .when(F.col("value") < 100, "mid")
        .otherwise("high")
        .alias("tier"),
    )
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    flg = ev.withColumn(
        "chg",
        F.when(F.col("tier").eqNullSafe(F.lag("tier").over(w)), 0).otherwise(1),
    )
    runs = flg.withColumn(
        "ver", F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    v = runs.groupBy("user_id", "ver").agg(
        F.min("tier").alias("tier"), F.min("tus").alias("valid_from_us")
    )
    w2 = Window.partitionBy("user_id").orderBy("ver")
    nxt = F.lead("valid_from_us").over(w2)
    return v.select(
        "user_id",
        F.col("ver").cast("long").alias("version"),
        "tier",
        "valid_from_us",
        nxt.alias("valid_to_us"),
        nxt.isNull().alias("is_current"),
    )


# --------------------------------------------------------------------------
# GDPR deletion-request cascade (right to be forgotten)
# --------------------------------------------------------------------------
@register(
    "gdpr_delete_propagation",
    oracle="""
WITH del_cust AS (
  SELECT c_custkey FROM customer
  WHERE substr(md5(CAST(c_custkey AS VARCHAR)), 1, 1) = '0'
),
del_orders AS (
  SELECT o_orderkey FROM orders
  WHERE o_custkey IN (SELECT c_custkey FROM del_cust)
),
del_line AS (
  SELECT l_orderkey FROM lineitem
  WHERE l_orderkey IN (SELECT o_orderkey FROM del_orders)
)
SELECT 'customer' AS table_name,
       (SELECT count(*) FROM customer) AS n_before,
       (SELECT count(*) FROM del_cust) AS n_deleted,
       (SELECT count(*) FROM customer) - (SELECT count(*) FROM del_cust)
         AS n_after
UNION ALL
SELECT 'orders',
       (SELECT count(*) FROM orders),
       (SELECT count(*) FROM del_orders),
       (SELECT count(*) FROM orders) - (SELECT count(*) FROM del_orders)
UNION ALL
SELECT 'lineitem',
       (SELECT count(*) FROM lineitem),
       (SELECT count(*) FROM del_line),
       (SELECT count(*) FROM lineitem) - (SELECT count(*) FROM del_line)
""",
    description="GDPR deletion-request cascade — right-to-be-forgotten at "
    "lake scale: a deterministic tombstone set (1/16 of customers by md5 "
    "bucket, standing in for the day's deletion queue) cascades "
    "customer → orders → lineitem through keyed LEFT SEMI joins, and the "
    "audit reports per-table before/deleted/after counts — the compliance "
    "evidence a deletion job must emit. Every hop shuffles on its join "
    "key only (custkey then orderkey); no fact table is ever joined to "
    "another fact, and the counts are map-side partial aggregates. The "
    "rewrite path (anti-join producing the surviving table) is the same "
    "plan with LEFT ANTI.",
)
def q_gdpr_delete_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    line = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    del_cust = cust.filter(
        F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 1) == "0"
    )
    del_orders = orders.join(
        del_cust, orders.o_custkey == del_cust.c_custkey, "left_semi"
    ).select("o_orderkey")
    del_line = line.join(
        del_orders, line.l_orderkey == del_orders.o_orderkey, "left_semi"
    )

    def audit(name: str, full: DataFrame, deleted: DataFrame) -> DataFrame:
        n_b = full.agg(F.count(F.lit(1)).alias("n_before"))
        n_d = deleted.agg(F.count(F.lit(1)).alias("n_deleted"))
        return (
            n_b.crossJoin(n_d)
            .select(
                F.lit(name).alias("table_name"),
                "n_before",
                "n_deleted",
                (F.col("n_before") - F.col("n_deleted")).alias("n_after"),
            )
        )

    return (
        audit("customer", cust, del_cust)
        .unionAll(audit("orders", orders, del_orders))
        .unionAll(audit("lineitem", line, del_line))
    )


# --------------------------------------------------------------------------
# Time travel over a physically versioned lake table (VERSION AS OF + diff)
# --------------------------------------------------------------------------
TT_N_VERSIONS = 4
TT_DIFF_FROM = 2
TT_DIFF_TO = 4
TT_TOMBSTONE = "error"
# as-of probe timestamp for the TIMESTAMP-AS-OF query: tmin + span*5/8,
# strictly between cut_2 (span*4/8) and cut_3 (span*6/8), so manifest
# resolution must land on v2 — a non-boundary probe (a cut-equal probe
# would only test the <= edge, not the "latest commit at or before T"
# search)
TT_ASOF_NUM = 5
TT_ASOF_DEN = 8

# The time-travel oracles' text: ``b`` holds the log's time bounds, and
# version k is the state at cut b.tmin + (b.span * k) // TT_N_VERSIONS.
_TT_BOUNDS_SQL = """\
WITH b AS (
  SELECT min(epoch_us(ts)) AS tmin,
         max(epoch_us(ts)) - min(epoch_us(ts)) + 1 AS span
  FROM events
)"""


def _latest_live_sql(src: str, cut: str) -> str:
    """Each user's latest event before ``cut`` (an expression over the
    FROM item ``src``), unless it is a tombstone, in integer cents."""
    return f"""\
  SELECT user_id, event_id,
         CAST(round(value * 100) AS BIGINT) AS value_centi
  FROM (
    SELECT e.user_id, e.event_id, e.event_type, e.value,
           row_number() OVER (PARTITION BY e.user_id
                              ORDER BY epoch_us(e.ts) DESC,
                                       e.event_id DESC) AS rn
    FROM events e, {src}
    WHERE epoch_us(e.ts) < {cut})
  WHERE rn = 1 AND event_type != '{TT_TOMBSTONE}'"""


def _cdc_state_cte(k: int) -> str:
    """DuckDB CTE deriving stored version k from the raw log (same
    definition the sink's incremental MERGE chain must satisfy)."""
    cut = f"b.tmin + (b.span * {k}) // {TT_N_VERSIONS}"
    return f"s{k} AS (\n{_latest_live_sql('b', cut)}\n)"


def _versions_sql(row_sql: Callable[[int], str], n_rows: int) -> str:
    """A versioned-lake oracle: ``b`` and every stored version ``s1`` ..
    ``sN``, then ``row_sql(k)`` for k = 1 .. n_rows, UNION ALL."""
    return (
        f"{_TT_BOUNDS_SQL},\n"
        + ",\n".join(_cdc_state_cte(k) for k in range(1, TT_N_VERSIONS + 1))
        + "\n"
        + "\nUNION ALL\n".join(row_sql(k) for k in range(1, n_rows + 1))
    )


def _tt_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The versioned-lake input projection shared by every time-travel /
    CDC query: integer-microsecond event time (exact cut arithmetic) and
    integer-cent values (exact deltas)."""
    return load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("tus"),
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_centi"),
    )


def _write_tt_chain(spark: SparkSession, sf_dir: str, base: Path) -> None:
    """Write the ``TT_N_VERSIONS``-commit chain of the events log into
    ``base``."""
    from queue_system_simulator_spark.sources.sink import (
        write_versioned_snapshots,
    )

    write_versioned_snapshots(
        _tt_events(spark, sf_dir),
        str(base),
        n_versions=TT_N_VERSIONS,
        tombstone=TT_TOMBSTONE,
        shuffle_partitions="auto",
    )


def ensure_versioned_table(spark: SparkSession, sf_dir: str) -> str:
    """The shared versioned lake table: the ``TT_N_VERSIONS``-commit chain
    of the events log that the time-travel and CDC queries read.  Built
    once per source and parameters (``fixtures.build_once``), so repeat
    invocations time the read path, not the build."""
    return str(
        build_once(
            "lake_versioned",
            Path(sf_dir) / "events.parquet",
            (TT_N_VERSIONS, TT_TOMBSTONE),
            lambda base: _write_tt_chain(spark, sf_dir, base),
        )
    )


@register(
    "time_travel_version_diff",
    oracle=f"""
{_TT_BOUNDS_SQL},
{_cdc_state_cte(TT_DIFF_FROM)},
{_cdc_state_cte(TT_DIFF_TO)},
d AS (
  SELECT CASE WHEN s2.user_id IS NULL THEN 'added'
              WHEN s4.user_id IS NULL THEN 'removed'
              WHEN s2.event_id = s4.event_id THEN 'unchanged'
              ELSE 'changed' END AS change_type,
         coalesce(s4.value_centi, 0) - coalesce(s2.value_centi, 0) AS delta
  FROM s2 FULL OUTER JOIN s4 ON s2.user_id = s4.user_id
),
cats AS (
  SELECT unnest(['added', 'removed', 'changed', 'unchanged']) AS change_type
)
SELECT c.change_type,
       CAST(count(d.change_type) AS BIGINT) AS n_users,
       CAST(coalesce(sum(d.delta), 0) AS BIGINT) AS value_centi_delta
FROM cats c LEFT JOIN d ON d.change_type = c.change_type
GROUP BY c.change_type
""",
    description="Time travel over a PHYSICALLY versioned lake table — the "
    "Delta/Iceberg VERSION-AS-OF surface the registry lacked: the engine "
    f"first BUILDS the table ({TT_N_VERSIONS} incremental copy-on-write "
    "MERGE commits at event-time quantile boundaries, every version "
    "retained on disk plus a _manifest commit log; '"
    f"{TT_TOMBSTONE}' events are CDC tombstones that delete the row "
    "until a later event re-inserts it), then time-travel READS two "
    f"stored versions (v{TT_DIFF_FROM} and v{TT_DIFF_TO}) back from "
    "disk and diffs them into added/removed/changed/unchanged user "
    "counts with exact integer-cent value deltas. The oracle derives "
    "both versions from the raw log, so a green row proves the stored "
    "commits are faithful to their log definition — the audit one runs "
    "before trusting a table format's history. Differs from "
    "snapshot_diff_user_state (log-side cutoff diff, no storage): here "
    "the sink mechanics — retention, manifest, version read-back — are "
    "what is under test. Scale: each commit is one keyed argmax + "
    "write (exactly a format's MERGE); the diff is one FULL OUTER join "
    "on the key; the driver only sequences commits and two scalar "
    "bounds.",
)
def q_time_travel_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from queue_system_simulator_spark.sources.sink import read_version

    # one fingerprint-stamped, flock-guarded table shared by every
    # time-travel/CDC query (see ensure_versioned_table): built once per
    # source fingerprint, read many — no per-invocation rebuild, no
    # cross-process overwrite race
    base = ensure_versioned_table(spark, sf_dir)
    old = read_version(spark, base, TT_DIFF_FROM).select(
        F.col("user_id").alias("u2"),
        F.col("event_id").alias("eid2"),
        F.col("value_centi").alias("vc2"),
    )
    new = read_version(spark, base, TT_DIFF_TO).select(
        F.col("user_id").alias("u4"),
        F.col("event_id").alias("eid4"),
        F.col("value_centi").alias("vc4"),
    )
    d = old.join(new, F.col("u2") == F.col("u4"), "full_outer").select(
        F.when(F.col("u2").isNull(), "added")
        .when(F.col("u4").isNull(), "removed")
        .when(F.col("eid2") == F.col("eid4"), "unchanged")
        .otherwise("changed")
        .alias("change_type"),
        (
            F.coalesce(F.col("vc4"), F.lit(0))
            - F.coalesce(F.col("vc2"), F.lit(0))
        ).alias("delta"),
    )
    cats = local_df(
        spark,
        [("added",), ("removed",), ("changed",), ("unchanged",)],
        "change_type STRING",
    )
    # aggregate first, then zero-fill the four categories: the left outer
    # join can build (broadcast) only its right side, the per-type totals
    agg = d.groupBy("change_type").agg(
        F.count("delta").alias("n_users"), F.sum("delta").alias("value_centi_delta")
    )
    return cats.join(F.broadcast(agg), "change_type", "left").select(
        "change_type",
        F.coalesce(F.col("n_users"), F.lit(0)).alias("n_users"),
        F.coalesce(F.col("value_centi_delta"), F.lit(0)).alias("value_centi_delta"),
    )


# --------------------------------------------------------------------------
# CDC change feed read of the versioned sink (the commit log as a stream
# of row-level changes)
# --------------------------------------------------------------------------
def _cdc_commit_sql(k: int) -> str:
    if k == 1:
        return (
            "SELECT CAST(1 AS BIGINT) AS version, user_id, "
            "'insert' AS change_type, value_centi AS value_centi_delta "
            "FROM s1"
        )
    return f"""SELECT CAST({k} AS BIGINT) AS version,
       coalesce(a.user_id, c.user_id) AS user_id,
       CASE WHEN a.user_id IS NULL THEN 'insert'
            WHEN c.user_id IS NULL THEN 'delete'
            ELSE 'update' END AS change_type,
       coalesce(c.value_centi, 0) - coalesce(a.value_centi, 0)
         AS value_centi_delta
FROM s{k - 1} a FULL OUTER JOIN s{k} c ON a.user_id = c.user_id
WHERE a.user_id IS NULL OR c.user_id IS NULL OR a.event_id != c.event_id"""


_CDC_FEED_ORACLE = _versions_sql(_cdc_commit_sql, TT_N_VERSIONS)


@register(
    "versioned_cdc_feed",
    oracle=_CDC_FEED_ORACLE,
    description="CDC change-feed READ of the versioned lake sink — the "
    "consumer side of time_travel_version_diff's commit log (Delta CDF / "
    "Iceberg changelog surface): the engine builds the same "
    f"{TT_N_VERSIONS}-commit copy-on-write table, then derives the "
    "row-level change feed purely from STORED state — v1 bootstraps as "
    "inserts, and each later commit pair (v(k-1), v(k)) full-outer joins "
    "on the key into insert/update/delete rows with exact integer-cent "
    "deltas (a tombstone-hidden row surfaces as 'delete', a later "
    "re-insert as 'insert'). The oracle re-derives every commit from the "
    "raw log, so a green row proves the feed a downstream consumer would "
    "replay reconstructs exactly the history the log defines. Differs "
    "from cdc_merge_orders (applies a change batch) and "
    "snapshot_diff_user_state (log-side, no storage): here changes are "
    "EXTRACTED from retained physical versions. Scale: one keyed join "
    "per commit pair over snapshot-sized frames, unioned — each join "
    "shuffles only on the key; commit count is the (small) log length, "
    "so the feed is a linear chain of bounded keyed joins.",
)
def q_versioned_cdc_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from queue_system_simulator_spark.sources.sink import read_version

    # reads the SAME flock-guarded build as time_travel_version_diff
    # (ensure_versioned_table): the old per-query dirs existed to keep
    # the two queries from racing one overwrite tree; the fingerprint
    # stamp removes the rewrite entirely, so sharing is now free
    base = ensure_versioned_table(spark, sf_dir)
    feed = None
    prev = None
    for k in range(1, TT_N_VERSIONS + 1):
        cur = read_version(spark, base, k).select(
            "user_id", "event_id", "value_centi"
        )
        if prev is None:
            ch = cur.select(
                F.lit(1).cast("long").alias("version"),
                "user_id",
                F.lit("insert").alias("change_type"),
                F.col("value_centi").alias("value_centi_delta"),
            )
        else:
            a = prev.select(
                F.col("user_id").alias("u_a"),
                F.col("event_id").alias("eid_a"),
                F.col("value_centi").alias("vc_a"),
            )
            c = cur.select(
                F.col("user_id").alias("u_c"),
                F.col("event_id").alias("eid_c"),
                F.col("value_centi").alias("vc_c"),
            )
            ch = (
                a.join(c, F.col("u_a") == F.col("u_c"), "full_outer")
                .filter(
                    F.col("u_a").isNull()
                    | F.col("u_c").isNull()
                    | (F.col("eid_a") != F.col("eid_c"))
                )
                .select(
                    F.lit(k).cast("long").alias("version"),
                    F.coalesce(F.col("u_a"), F.col("u_c")).alias("user_id"),
                    F.when(F.col("u_a").isNull(), "insert")
                    .when(F.col("u_c").isNull(), "delete")
                    .otherwise("update")
                    .alias("change_type"),
                    (
                        F.coalesce(F.col("vc_c"), F.lit(0))
                        - F.coalesce(F.col("vc_a"), F.lit(0))
                    ).alias("value_centi_delta"),
                )
            )
        feed = ch if feed is None else feed.unionByName(ch)
        prev = cur
    return feed


# --------------------------------------------------------------------------
# TIMESTAMP AS OF: resolve a wall-clock probe to a stored version through
# the commit log (the manifest finally consulted by a query)
# --------------------------------------------------------------------------
_ASOF_VERSION_VALUES = ", ".join(f"({k})" for k in range(1, TT_N_VERSIONS + 1))


@register(
    "time_travel_as_of_timestamp",
    oracle=f"""
{_TT_BOUNDS_SQL},
r AS (
  SELECT max(k.k) AS v
  FROM b, (VALUES {_ASOF_VERSION_VALUES}) AS k(k)
  WHERE b.tmin + (b.span * k.k) // {TT_N_VERSIONS}
        <= b.tmin + (b.span * {TT_ASOF_NUM}) // {TT_ASOF_DEN}
),
c AS (
  SELECT b.tmin + (b.span * r.v) // {TT_N_VERSIONS} AS cut, r.v AS v
  FROM b, r
)
SELECT CAST(c.v AS BIGINT) AS version, s.user_id, s.event_id, s.value_centi
FROM (
{_latest_live_sql("c", "c.cut")}
) s, c
""",
    description="TIMESTAMP AS OF over the versioned lake table — the "
    "wall-clock half of the time-travel surface (Delta `TIMESTAMP AS OF` "
    "/ Iceberg snapshot-at-timestamp), and the first query that resolves "
    "a read through the COMMIT LOG: a probe timestamp strictly between "
    "two commit cuts (tmin + span*5/8, between cut_2 and cut_3) is "
    "resolved to 'latest commit at or before T' by scanning the "
    "_manifest (version, cut_micros, n_rows) the sink wrote — NOT by "
    "recomputing state from the log — then that snapshot is read back "
    "and returned with its resolved version number. The oracle derives "
    "the same resolution rule arithmetically and rebuilds the resolved "
    "version's state from the raw log, so a green row proves both the "
    "manifest's cut bookkeeping and the stored snapshot it points at. "
    "Differs from time_travel_version_diff (version numbers given "
    "a-priori; manifest written but never consulted): here the manifest "
    "IS the query input, exactly how a reader serves 'the table as of "
    "last midnight'. Scale: resolution is a filter+max over the "
    "commit log (log-length rows — tiny by construction), the data read "
    "is one pruned snapshot scan; the only driver scalars are the two "
    "span bounds and the resolved version — commit-protocol sequencing, "
    "same as any table format's reader.",
)
def q_time_travel_as_of_timestamp(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from queue_system_simulator_spark.sources.sink import (
        read_manifest,
        read_version,
    )

    base = ensure_versioned_table(spark, sf_dir)
    lo, hi = _tt_events(spark, sf_dir).agg(
        F.min("tus"), F.max("tus")
    ).first()
    span = int(hi) - int(lo) + 1
    t_asof = int(lo) + (span * TT_ASOF_NUM) // TT_ASOF_DEN
    # "version as of T" = latest commit whose cut is at or before T,
    # answered by the commit log alone (the manifest read is the point)
    version = int(
        read_manifest(spark, base)
        .filter(F.col("cut_micros") <= F.lit(t_asof))
        .agg(F.max("version"))
        .first()[0]
    )
    return read_version(spark, base, version).select(
        F.lit(version).cast("long").alias("version"),
        "user_id",
        "event_id",
        "value_centi",
    )


# --------------------------------------------------------------------------
# Retention / VACUUM: expire old snapshots, keep the commit history
# auditable (the lakehouse lifecycle's missing quarter: write -> CDC feed
# -> VERSION AS OF -> TIMESTAMP AS OF -> now EXPIRE)
# --------------------------------------------------------------------------
#: newest versions kept by the vacuum query's retention policy
VACUUM_KEEP = 2


def ensure_vacuumed_table(spark: SparkSession, sf_dir: str) -> str:
    """The VACUUMED twin of the versioned lake table: the same commit
    chain, then a vacuum that keeps only the newest ``VACUUM_KEEP``
    versions.  A separate tree from :func:`ensure_versioned_table`'s,
    which must keep every version readable (time_travel_version_diff
    reads v2; the CDC feed walks v1..vN).  Built once per source and
    parameters (``fixtures.build_once``)."""
    from queue_system_simulator_spark.sources.sink import vacuum_versions

    def build(base: Path) -> None:
        _write_tt_chain(spark, sf_dir, base)
        vacuum_versions(spark, str(base), keep_last=VACUUM_KEEP)

    return str(
        build_once(
            "lake_vacuumed",
            Path(sf_dir) / "events.parquet",
            (TT_N_VERSIONS, TT_TOMBSTONE, VACUUM_KEEP),
            build,
        )
    )


def _vac_commit_sql(k: int) -> str:
    """One output row per commit: expired commits report the row count
    the vacuum log preserved; retained commits report count + exact
    integer-cent content sum of the still-stored snapshot."""
    if k <= TT_N_VERSIONS - VACUUM_KEEP:
        return (
            f"SELECT CAST({k} AS BIGINT) AS version, 'expired' AS status, "
            f"CAST(count(*) AS BIGINT) AS n_rows, "
            f"CAST(NULL AS BIGINT) AS value_centi_total FROM s{k}"
        )
    return (
        f"SELECT CAST({k} AS BIGINT) AS version, 'retained' AS status, "
        f"CAST(count(*) AS BIGINT) AS n_rows, "
        f"CAST(sum(value_centi) AS BIGINT) AS value_centi_total FROM s{k}"
    )


_VACUUM_ORACLE = _versions_sql(_vac_commit_sql, TT_N_VERSIONS)


@register(
    "versioned_retention_vacuum",
    oracle=_VACUUM_ORACLE,
    description="Snapshot retention / VACUUM on the versioned lake table "
    "— the lifecycle quarter the lakehouse surface lacked (Delta VACUUM "
    f"/ Iceberg expire_snapshots): the engine builds a {TT_N_VERSIONS}-"
    f"commit copy-on-write table, expires all but the newest "
    f"{VACUUM_KEEP} versions (data dirs physically deleted; _manifest "
    "rewritten to retained commits; expired commit metadata appended to "
    "a _vacuum_log so history stays auditable), then reports one row "
    "per EVER-committed version: expired rows carry the n_rows the "
    "vacuum log preserved, retained rows carry read-back count + exact "
    "integer-cent content sum — and the retained read-back is driven "
    "off the REWRITTEN manifest, so a manifest that wrongly still "
    "listed an expired version would hit the loud read_version VACUUM "
    "error and a manifest that dropped a retained one would lose its "
    "output row. The oracle re-derives every commit's state from the "
    "raw log, so a green row proves retention deleted exactly what the "
    "policy names and nothing the policy retains. Expired reads fail "
    "loudly by name (pytest-gated). Scale: manifest/vacuum-log frames "
    "are commit-log-length (tiny by construction) — the collect is "
    "O(log length) commit-protocol sequencing; retained aggregates are "
    "distributed scans of the stored snapshots; deletes are filesystem "
    "metadata ops.",
)
def q_versioned_retention_vacuum(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from queue_system_simulator_spark.sources.sink import (
        read_manifest,
        read_vacuum_log,
        read_version,
    )

    base = ensure_vacuumed_table(spark, sf_dir)
    expired = read_vacuum_log(spark, base).select(
        "version",
        F.lit("expired").alias("status"),
        "n_rows",
        F.lit(None).cast("long").alias("value_centi_total"),
    )
    # read-back is manifest-driven (not a hardcoded retained set): the
    # rewritten commit log IS what's under test.  O(log length) collect.
    retained_versions = sorted(
        int(r.version) for r in read_manifest(spark, base).collect()
    )
    out = expired
    for k in retained_versions:
        snap = read_version(spark, base, k)
        out = out.unionByName(
            snap.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("value_centi").alias("value_centi_total"),
            ).select(
                F.lit(k).cast("long").alias("version"),
                F.lit("retained").alias("status"),
                "n_rows",
                "value_centi_total",
            )
        )
    return out


# --------------------------------------------------------------------------
# OPTIMIZE / compaction: bin-pack the newest snapshot into few
# range-clustered files, committed as a new data-identical version (the
# file-layout-maintenance quarter: write -> CDC -> AS-OF -> VACUUM ->
# now OPTIMIZE)
# --------------------------------------------------------------------------
#: file-count ceiling the compaction query's OPTIMIZE bin-packs to
COMPACT_TARGET_FILES = 2


def ensure_optimized_table(spark: SparkSession, sf_dir: str) -> str:
    """The OPTIMIZED twin of the versioned lake table: the full commit
    chain plus one forced compaction commit (``force=True`` so the
    compacted version exists at every fixture scale — a tiny snapshot AQE
    already packed into <= target files would otherwise no-op and leave
    nothing for the query to grade).  A separate tree from the shared and
    vacuumed builds, whose version chains must stay unextended.  Built
    once per source and parameters (``fixtures.build_once``)."""
    from queue_system_simulator_spark.sources.sink import optimize_compact

    def build(base: Path) -> None:
        _write_tt_chain(spark, sf_dir, base)
        optimize_compact(
            spark,
            str(base),
            target_files=COMPACT_TARGET_FILES,
            sort_within=["user_id", "tus"],
            force=True,
        )

    return str(
        build_once(
            "lake_optimized",
            Path(sf_dir) / "events.parquet",
            (TT_N_VERSIONS, TT_TOMBSTONE, COMPACT_TARGET_FILES),
            build,
        )
    )


def _opt_commit_sql(k: int) -> str:
    """One output row per manifest version after OPTIMIZE: the original
    commits 1..N, then the compaction commit N+1 whose content must equal
    the newest original's log-derived state exactly."""
    if k <= TT_N_VERSIONS:
        return (
            f"SELECT CAST({k} AS BIGINT) AS version, "
            f"'original' AS status, CAST(count(*) AS BIGINT) AS n_rows, "
            f"CAST(sum(value_centi) AS BIGINT) AS value_centi_total, "
            f"CAST(NULL AS BOOLEAN) AS files_ok FROM s{k}"
        )
    return (
        f"SELECT CAST({k} AS BIGINT) AS version, "
        f"'compacted' AS status, CAST(count(*) AS BIGINT) AS n_rows, "
        f"CAST(sum(value_centi) AS BIGINT) AS value_centi_total, "
        f"TRUE AS files_ok FROM s{TT_N_VERSIONS}"
    )


_OPTIMIZE_ORACLE = _versions_sql(_opt_commit_sql, TT_N_VERSIONS + 1)


@register(
    "versioned_compaction_optimize",
    oracle=_OPTIMIZE_ORACLE,
    description="OPTIMIZE / small-file compaction on the versioned lake "
    "table — the file-layout-maintenance quarter that completes the "
    "lifecycle (Delta OPTIMIZE [ZORDER] / Iceberg rewrite_data_files): "
    f"the engine builds the {TT_N_VERSIONS}-commit copy-on-write table, "
    "then bin-packs the newest snapshot into at most "
    f"{COMPACT_TARGET_FILES} range-clustered files "
    "(repartitionByRange(user_id, tus) + sortWithinPartitions, so "
    "parquet min/max footers prune at file level on user_id) and "
    f"commits the rewrite as version {TT_N_VERSIONS + 1} through the "
    "crash-recoverable manifest swap — data byte-identical, layout "
    "packed, superseded files left for a later VACUUM, exactly a table "
    "format's compaction/retention split. The result reports one "
    "manifest-driven row per commit (count + exact integer-cent content "
    "sum read back from storage, the compacted row also asserting its "
    "file-count bound); the oracle re-derives every commit from the raw "
    "log with the compacted version pinned to the newest original's "
    "state, so a green row proves the rewrite changed bytes-on-disk "
    "layout and nothing else. The rewrite self-checks row count against "
    "the manifest (Observation riding the write) and refuses to commit "
    "a content-changing compaction; the no-op idempotence path is "
    "pytest-gated. Scale: the compaction is one distributed "
    "range-shuffle + write of a single snapshot; the driver touches "
    "only the commit log (O(log length)) and one directory listing — "
    "commit-protocol sequencing, never data.",
)
def q_versioned_compaction_optimize(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from queue_system_simulator_spark.sources.sink import (
        read_manifest,
        read_version,
    )

    base = ensure_optimized_table(spark, sf_dir)
    # read-back is manifest-driven (the commit log after the compaction
    # commit IS what's under test).  O(log length) collect.
    versions = sorted(
        int(r.version) for r in read_manifest(spark, base).collect()
    )
    out = None
    for k in versions:
        compacted = k > TT_N_VERSIONS
        if compacted:
            n_files = sum(
                1
                for f in (Path(base) / f"v{k}").glob("part-*")
                if f.is_file()
            )
            files_ok = F.lit(n_files <= COMPACT_TARGET_FILES)
        else:
            files_ok = F.lit(None).cast("boolean")
        row = (
            read_version(spark, base, k)
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("value_centi").alias("value_centi_total"),
            )
            .select(
                F.lit(k).cast("long").alias("version"),
                F.lit("compacted" if compacted else "original").alias(
                    "status"
                ),
                "n_rows",
                "value_centi_total",
                files_ok.alias("files_ok"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out
