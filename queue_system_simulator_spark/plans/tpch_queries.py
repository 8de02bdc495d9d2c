"""Flagship relational queries over the driver's TPC-H-ish star schema.

The reference itself has no joins/set ops (SURVEY §2 D note) — these queries
demonstrate the engine's general relational capability that the kernel's
surrounding pipelines need (dimension zero-fills, scenario sweeps, reporting).

Exactness convention for money math: every double is cast to DECIMAL(18,6)
(exact for the 2-decimal source data) before multiplication/summation, so
aggregation is order-independent and bit-identical between Spark's partial
aggregates and DuckDB; results are rounded to 2 and cast back to double.

Scale notes: dimension joins (region/nation/supplier/customer) are broadcast
— no shuffle of the fact table; fact-side aggregations are partial (map-side
combine) before the single hash shuffle on the group keys.  AQE handles
skew/coalescing at real scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from queue_system_simulator_spark.plans.registry import register
from queue_system_simulator_spark.schema import load_table


def _dec(col):
    return col.cast("decimal(18,6)")


def _disc_price():
    return _dec(F.col("l_extendedprice")) * _dec(F.lit(1) - F.col("l_discount"))


_DISC_PRICE_SQL = (
    "CAST(l_extendedprice AS DECIMAL(18,6)) * CAST(1 - l_discount AS DECIMAL(18,6))"
)
_CHARGE_SQL = (
    "CAST(round(CAST(l_extendedprice AS DECIMAL(18,6)) * "
    "CAST(1 - l_discount AS DECIMAL(18,6)), 6) AS DECIMAL(18,6)) * "
    "CAST(1 + l_tax AS DECIMAL(18,6))"
)
# every line item ``l`` with its order ``o`` and customer ``c``
_CUSTOMER_LINES_SQL = """\
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey"""


@register(
    "tpch_q1",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_qty,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_base_price,
       CAST(round(sum({_DISC_PRICE_SQL}), 2) AS DOUBLE) AS sum_disc_price,
       CAST(round(sum({_CHARGE_SQL}), 2) AS DOUBLE) AS sum_charge,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS avg_qty,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS avg_price,
       round(CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
    description="TPC-H Q1 pricing summary: filtered scan (predicate pushed "
    "to parquet) + partial-aggregated groupBy; exact decimal money math.",
)
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    charge = (
        F.round(_disc_price(), 6).cast("decimal(18,6)")
        * _dec(F.lit(1) + F.col("l_tax"))
    )
    cnt = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(_dec(F.col("l_quantity"))), 2).cast("double").alias("sum_qty"),
            F.round(F.sum(_dec(F.col("l_extendedprice"))), 2)
            .cast("double")
            .alias("sum_base_price"),
            F.round(F.sum(_disc_price()), 2).cast("double").alias("sum_disc_price"),
            F.round(F.sum(charge), 2).cast("double").alias("sum_charge"),
            F.round(F.sum(_dec(F.col("l_quantity"))).cast("double") / cnt, 6).alias(
                "avg_qty"
            ),
            F.round(
                F.sum(_dec(F.col("l_extendedprice"))).cast("double") / cnt, 6
            ).alias("avg_price"),
            F.round(F.sum(_dec(F.col("l_discount"))).cast("double") / cnt, 6).alias(
                "avg_disc"
            ),
            cnt.alias("count_order"),
        )
    )


@register(
    "revenue_by_nation",
    oracle=f"""
SELECT n.n_name,
       CAST(round(sum({_DISC_PRICE_SQL}), 2) AS DOUBLE) AS revenue
FROM lineitem l
JOIN orders o    ON l.l_orderkey = o.o_orderkey
JOIN customer c  ON o.o_custkey = c.c_custkey
JOIN supplier s  ON l.l_suppkey = s.s_suppkey
JOIN nation n    ON c.c_nationkey = n.n_nationkey
                AND s.s_nationkey = n.n_nationkey
JOIN region r    ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name
""",
    description="TPC-H Q5-style local-supplier revenue: star join with "
    "broadcast dimensions (customer/supplier/nation/region), single fact "
    "shuffle on the join key; AQE re-plans at runtime.",
)
def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    asia = (
        nation.join(
            F.broadcast(region.filter(F.col("r_name") == "ASIA")),
            nation.n_regionkey == region.r_regionkey,
        ).select("n_nationkey", "n_name")
    )
    df = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(
            F.broadcast(asia),
            (cust.c_nationkey == asia.n_nationkey)
            & (supp.s_nationkey == asia.n_nationkey),
        )
    )
    return df.groupBy("n_name").agg(
        F.round(F.sum(_disc_price()), 2).cast("double").alias("revenue")
    )


@register(
    "top_orders_by_revenue",
    oracle=f"""
SELECT o.o_orderkey,
       CAST(round(sum({_DISC_PRICE_SQL}), 2) AS DOUBLE) AS revenue,
       strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
       o.o_orderpriority
{_CUSTOMER_LINES_SQL}
WHERE c.c_mktsegment = 'BUILDING'
GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, o.o_orderkey
LIMIT 10
""",
    description="TPC-H Q3-style top-k shipping priority: broadcast "
    "semi-filtered join + exact-decimal revenue (deterministic top-k "
    "ordering: revenue DESC, orderkey).",
)
def q_top_orders_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    df = li.join(orders, li.l_orderkey == orders.o_orderkey).join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    )
    return (
        df.groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(_disc_price()), 2).cast("double").alias("revenue"))
        .select(
            "o_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), "o_orderkey")
        .limit(10)
    )


@register(
    "order_priority_counts",
    oracle="""
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
)
GROUP BY o_orderpriority
""",
    description="TPC-H Q4-style order-priority checking: EXISTS expressed "
    "as a left-semi join (no row multiplication, no distinct needed).",
)
def q_order_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    late = li.join(
        orders, (li.l_orderkey == orders.o_orderkey), "inner"
    ).filter(F.col("l_shipdate") > F.col("o_orderdate")).select("l_orderkey")
    semi = orders.join(late, orders.o_orderkey == late.l_orderkey, "left_semi")
    return semi.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


@register(
    "tpch_q3_shipping",
    oracle=f"""
SELECT l.l_orderkey,
       CAST(round(sum({_DISC_PRICE_SQL}), 2) AS DOUBLE) AS revenue,
       o.o_orderdate, o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1996-03-15 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1996-03-15 00:00:00'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, o.o_orderdate, l.l_orderkey
LIMIT 10
""",
    description="TPC-H Q3 (shipping priority, adapted to this schema): "
    "segment-filtered customer dim broadcast into orders, date filters "
    "pushed to both parquet scans, top-10 via TakeOrdered (no global "
    "sort shuffle).",
)
def q_tpch_q3_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("1996-03-15 00:00:00").cast("timestamp")
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        li.join(
            orders.join(
                F.broadcast(cust.select("c_custkey")),
                F.col("o_custkey") == F.col("c_custkey"),
            ).select("o_orderkey", "o_orderdate", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(_disc_price()), 2).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@register(
    "cube_part_sales",
    oracle=f"""
SELECT coalesce(p.p_brand, 'ALL') AS brand,
       coalesce(l.l_returnflag, 'ALL') AS returnflag,
       CAST(round(sum(CAST(l.l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_qty,
       CAST(round(sum({_DISC_PRICE_SQL}), 2) AS DOUBLE) AS revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY CUBE (p.p_brand, l.l_returnflag)
""",
    description="CUBE over (brand, returnflag): all four grouping sets in "
    "one pass (partial-aggregated Expand), part dim broadcast; subtotals "
    "labeled 'ALL' for engine-portable hashing.",
)
def q_cube_part_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pre-aggregate per (partkey, returnflag) BEFORE the Expand: decimal
    # sums re-aggregate exactly, and the 4x grouping-set row multiplication
    # then runs over |parts|x|flags| partials instead of every lineitem
    # (2.4M expanded rows -> 240k at sf0.1; the ratio grows with scale)
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    pre = li.groupBy("l_partkey", "l_returnflag").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,6)")).alias("q_part"),
        F.sum(_disc_price()).alias("r_part"),
    )
    return (
        pre.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .cube("p_brand", "l_returnflag")
        .agg(
            F.round(F.sum("q_part"), 2).cast("double").alias("sum_qty"),
            F.round(F.sum("r_part"), 2).cast("double").alias("revenue"),
        )
        .select(
            F.coalesce(F.col("p_brand"), F.lit("ALL")).alias("brand"),
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("returnflag"),
            "sum_qty",
            "revenue",
        )
    )


@register(
    "tpch_q6_forecast",
    oracle="""
SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                      * CAST(l_discount AS DECIMAL(18,6))), 2) AS DOUBLE)
         AS revenue_delta,
       count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
    description="TPC-H Q6 revenue-change forecast: pure filter+aggregate — "
    "every predicate pushes to the parquet scan, zero shuffles before the "
    "single-row final aggregation.",
)
def q_tpch_q6_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,6)")
                    * F.col("l_discount").cast("decimal(18,6)")
                ),
                2,
            )
            .cast("double")
            .alias("revenue_delta"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "tpch_q12_priority_by_flag",
    oracle="""
SELECT l.l_returnflag,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l.l_returnflag
""",
    description="TPC-H Q12 pattern (priority class mix per flag): "
    "conditional-sum pivot after an equi-join; date filter pushed to the "
    "lineitem scan, map-side partial aggregation.",
)
def q_tpch_q12_priority_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "tpch_q14_promo_share",
    oracle=f"""
SELECT round(100.0 * CAST(sum(CASE WHEN p.p_type LIKE 'PROMO%'
                                   THEN {_DISC_PRICE_SQL} ELSE 0 END) AS DOUBLE)
             / CAST(sum({_DISC_PRICE_SQL}) AS DOUBLE), 6) AS promo_revenue_pct
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
  AND l.l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
""",
    description="TPC-H Q14 promo revenue share: broadcast part dim, "
    "conditional ratio in exact decimals rounded once at the end.",
)
def q_tpch_q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    promo = F.when(
        F.col("p_type").like("PROMO%"), _disc_price()
    ).otherwise(F.lit(0).cast("decimal(18,6)"))
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(promo).cast("double")
                / F.sum(_disc_price()).cast("double"),
                6,
            ).alias("promo_revenue_pct")
        )
    )


@register(
    "tpch_q18_big_orders",
    oracle="""
SELECT o.o_orderkey, o.o_custkey, o.o_orderdate,
       CAST(round(sum(CAST(l.l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE)
         AS total_qty
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderkey IN (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey HAVING sum(CAST(l_quantity AS DECIMAL(18,6))) > 200
)
GROUP BY o.o_orderkey, o.o_custkey, o.o_orderdate
ORDER BY total_qty DESC, o.o_orderkey
LIMIT 20
""",
    description="TPC-H Q18 (large-volume orders): HAVING-filtered semi-join "
    "— the qualifying-keys set is aggregated first (map-side combine), "
    "then drives a semi-join before the final rollup; top-20 via "
    "TakeOrdered.",
)
def q_tpch_q18_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    qty = F.col("l_quantity").cast("decimal(18,6)")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(qty).alias("tq"))
        .filter(F.col("tq") > 200)
        .select("l_orderkey")
    )
    return (
        li.join(big, "l_orderkey", "left_semi")
        .join(
            orders.select("o_orderkey", "o_custkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderkey", "o_custkey", "o_orderdate")
        .agg(F.round(F.sum(qty), 2).cast("double").alias("total_qty"))
        .orderBy(F.col("total_qty").desc(), "o_orderkey")
        .limit(20)
    )


@register(
    "supplier_part_counts",
    oracle="""
SELECT p.p_brand, p.p_type,
       count(DISTINCT l.l_suppkey) AS supplier_cnt,
       count(*) AS n_lines
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY p.p_brand, p.p_type
""",
    description="TPC-H Q16 pattern: COUNT(DISTINCT supplier) per part "
    "class — distinct-aggregate with the two-phase Expand Spark plans for "
    "it, part dim broadcast.",
)
def q_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_type")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type")
        .agg(
            F.countDistinct("l_suppkey").alias("supplier_cnt"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "tpch_q7_trade_volume",
    oracle=f"""
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS INT) AS ship_year,
       CAST(round(sum({_DISC_PRICE_SQL}), 2) AS DOUBLE) AS revenue
{_CUSTOMER_LINES_SQL}
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
    OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
  AND l.l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                       AND TIMESTAMP '1997-12-31 23:59:59'
GROUP BY sn.n_name, cn.n_name, year(l.l_shipdate)
""",
    description="TPC-H Q7 (trade volume between two nations): the nation "
    "dimension joins twice under different roles (supplier vs customer "
    "nation) — both broadcast; the disjunctive nation-pair predicate prunes "
    "after the dims attach, the shipdate range pushes to the parquet scan, "
    "and the fact shuffles once on the orderkey join.",
)
def q_tpch_q7_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") <= F.lit("1997-12-31 23:59:59").cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    df = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return df.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").cast("int").alias("ship_year")
    ).agg(F.round(F.sum(_disc_price()), 2).cast("double").alias("revenue"))


@register(
    "tpch_q10_returned_items",
    oracle=f"""
SELECT c.c_custkey, c.c_name, n.n_name, c.c_acctbal,
       CAST(round(sum({_DISC_PRICE_SQL}), 2) AS DOUBLE) AS revenue
{_CUSTOMER_LINES_SQL}
JOIN nation n   ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
GROUP BY c.c_custkey, c.c_name, n.n_name, c.c_acctbal
ORDER BY revenue DESC, c.c_custkey
LIMIT 20
""",
    description="TPC-H Q10 (returned-item reporting): quarter-scoped orders "
    "drive the fact join (date filter pushed to the orders scan, returnflag "
    "to the lineitem scan), customer + nation dims broadcast, "
    "deterministic top-20 via TakeOrdered (revenue DESC, custkey).",
)
def q_tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(orders.select("o_orderkey", "o_custkey"), li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(F.round(F.sum(_disc_price()), 2).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "tpch_q13_order_distribution",
    oracle="""
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
  GROUP BY c.c_custkey
) per_cust
GROUP BY c_count
""",
    description="TPC-H Q13 (customer order-count distribution): left outer "
    "join so zero-order customers survive with count 0, then a second "
    "aggregation over the per-customer counts — both aggs partial "
    "(map-side combine); the orders side pre-aggregates to (custkey, cnt) "
    "before the outer join so the shuffle carries one row per customer, "
    "not one per order.",
)
def q_tpch_q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    # pre-aggregate the fact side: the outer join then joins customer rows
    # against one row per ordering customer (same result as count-after-join
    # because count(o_orderkey) counts only matched rows)
    per_cust_orders = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    per_cust = (
        cust.join(per_cust_orders, cust.c_custkey == per_cust_orders.o_custkey, "left")
        .select(F.coalesce(F.col("n_orders"), F.lit(0)).alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "tpch_q15_top_supplier",
    oracle=f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         sum({_DISC_PRICE_SQL}) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name,
       CAST(round(r.total_revenue, 2) AS DOUBLE) AS total_revenue
FROM revenue r JOIN supplier s ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
""",
    description="TPC-H Q15 (top supplier): quarter revenue per supplier, "
    "then the scalar max is a one-row aggregate cross-joined back "
    "broadcast (the tpch_q11_important_stock pattern) — no empty-partition "
    "window, so no single task ever holds the per-supplier frame (millions "
    "of rows at 100 TB); the fact table is scanned once, and the comparison "
    "happens on the exact decimal before the final double cast.",
)
def q_tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_disc_price()).alias("total_revenue_dec")
    ).localCheckpoint()  # tiny (one row per active supplier); read twice below
    # scalar max via agg + broadcast crossJoin: both sides of the filter
    # stay partition-parallel, unlike max().over(Window.partitionBy())
    # which funnels every supplier row through one window task
    max_rev = rev.agg(F.max("total_revenue_dec").alias("max_rev"))
    return (
        rev.crossJoin(F.broadcast(max_rev))
        .filter(F.col("total_revenue_dec") == F.col("max_rev"))
        .join(F.broadcast(supp), F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.round("total_revenue_dec", 2).cast("double").alias("total_revenue"),
        )
    )


@register(
    "tpch_q17_small_qty_revenue",
    oracle="""
WITH part_qty AS (
  SELECT l.l_partkey,
         sum(CAST(l.l_quantity AS DECIMAL(18,6))) AS sum_qty,
         CAST(count(*) AS DECIMAL(18,0)) AS cnt
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#3'
  GROUP BY l.l_partkey
)
SELECT CAST(round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 7.0, 2)
       AS DOUBLE) AS avg_yearly
FROM lineitem l
JOIN part_qty pq ON pq.l_partkey = l.l_partkey
WHERE CAST(l.l_quantity AS DECIMAL(18,6)) * 5 * pq.cnt < pq.sum_qty
""",
    description="TPC-H Q17 (small-quantity-order revenue): the correlated "
    "per-part average subquery becomes one per-part aggregate joined back "
    "(broadcast — one row per part); the threshold qty < 0.2*avg is "
    "algebraized to qty*5*cnt < sum so the comparison stays in exact "
    "decimals with no division.",
)
def q_tpch_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    brand_parts = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#3")
        .select("p_partkey")
    )
    li_brand = li.join(
        F.broadcast(brand_parts), li.l_partkey == F.col("p_partkey")
    ).drop("p_partkey")
    qty = F.col("l_quantity").cast("decimal(18,6)")
    part_qty = li_brand.groupBy(F.col("l_partkey").alias("pq_partkey")).agg(
        F.sum(qty).alias("sum_qty"),
        F.count(F.lit(1)).cast("decimal(18,0)").alias("cnt"),
    )
    return (
        li_brand.join(F.broadcast(part_qty), li_brand.l_partkey == F.col("pq_partkey"))
        .filter(qty * F.lit(5) * F.col("cnt") < F.col("sum_qty"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,6)")).cast("double")
                / F.lit(7.0),
                2,
            )
            .cast("double")
            .alias("avg_yearly")
        )
    )


@register(
    "tpch_q19_disjunctive_filter",
    oracle=f"""
SELECT CAST(round(sum({_DISC_PRICE_SQL}), 2) AS DOUBLE) AS revenue
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50
       AND l.l_quantity BETWEEN 20 AND 30)
""",
    description="TPC-H Q19 (disjunctive predicates): three OR'd "
    "brand/size/quantity clauses — Catalyst extracts the common "
    "sub-predicates it can (quantity range union, brand IN-list) and "
    "pushes them to both parquet scans before the broadcast join, so the "
    "OR evaluates over pre-pruned rows instead of gating pushdown "
    "entirely.",
)
def q_tpch_q19_disjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    qty = F.col("l_quantity")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & qty.between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(10, 30)
            & qty.between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(20, 50)
            & qty.between(20, 30)
        )
    )
    return j.filter(cond).agg(
        F.round(F.sum(_disc_price()), 2).cast("double").alias("revenue")
    )


@register(
    "tpch_q22_dormant_customers",
    oracle="""
WITH pos AS (
  SELECT CAST(c_acctbal AS DECIMAL(18,6)) AS bal, c_custkey, c_nationkey
  FROM customer WHERE c_acctbal > 0
), stats AS (
  SELECT sum(bal) AS total_bal, CAST(count(*) AS DECIMAL(18,0)) AS n FROM pos
)
SELECT n.n_name, count(*) AS numcust,
       CAST(round(sum(p.bal), 2) AS DOUBLE) AS totacctbal
FROM pos p
CROSS JOIN stats
JOIN nation n ON p.c_nationkey = n.n_nationkey
WHERE p.bal * stats.n > stats.total_bal
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = p.c_custkey
                  AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
GROUP BY n.n_name
""",
    description="TPC-H Q22 pattern (dormant high-balance customers): "
    "above-average positive balance but no order since 2000-01-01. The "
    "global average is one aggregated row broadcast back over customers "
    "(bal*n > total avoids division — exact decimals), NOT EXISTS runs as "
    "a left_anti join against the date-pruned order custkeys (the recency "
    "filter pushes to the orders scan, shrinking the anti-join build "
    "side), nation dim broadcast for the final rollup.",
)
def q_tpch_q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    recent_orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp"))
        .select("o_custkey")
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    pos = cust.filter(F.col("c_acctbal") > 0).withColumn(
        "bal", F.col("c_acctbal").cast("decimal(18,6)")
    )
    stats = pos.agg(
        F.sum("bal").alias("total_bal"),
        F.count(F.lit(1)).cast("decimal(18,0)").alias("n"),
    )
    rich = pos.join(F.broadcast(stats)).filter(
        F.col("bal") * F.col("n") > F.col("total_bal")
    )
    dormant = rich.join(
        recent_orders, rich.c_custkey == recent_orders.o_custkey, "left_anti"
    )
    return (
        dormant.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("bal"), 2).cast("double").alias("totacctbal"),
        )
    )


@register(
    "tpch_q8_market_share",
    oracle=f"""
WITH vol AS (
  SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
         {_DISC_PRICE_SQL} AS volume,
         sn.n_name AS supp_nation
  FROM lineitem l
  JOIN part p     ON p.p_partkey = l.l_partkey AND p.p_type = 'STANDARD'
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
  JOIN orders o   ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
  JOIN region r   ON r.r_regionkey = cn.n_regionkey AND r.r_name = 'ASIA'
  WHERE o.o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
                          AND TIMESTAMP '1996-12-31 23:59:59'
)
SELECT o_year,
       round(CAST(sum(CASE WHEN supp_nation = 'NATION_1' THEN volume
                           ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
             / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share
FROM vol GROUP BY o_year
""",
    description="TPC-H Q8 (national market share): seven-table star join — "
    "every dimension (part/supplier/customer/nation x2/region) filtered "
    "then broadcast, the lineitem-orders fact join is the only big "
    "shuffle, and the share is a conditional decimal sum over the joined "
    "volume — the canonical join-reorder stress test, expressed so "
    "Catalyst's cost-based reordering and AQE get clean cardinalities.",
)
def q_tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "STANDARD")
        .select("p_partkey")
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") <= F.lit("1996-12-31 23:59:59").cast("timestamp"))
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    region = (
        load_table(spark, sf_dir, "region")
        .filter(F.col("r_name") == "ASIA")
        .select("r_regionkey")
    )
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    vol = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders.select("o_orderkey", "o_custkey", "o_orderdate"),
              li.l_orderkey == F.col("o_orderkey"))
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(cn), cust.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(region), F.col("cn_region") == region.r_regionkey)
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            _disc_price().alias("volume"),
            "supp_nation",
        )
    )
    zero = F.lit(0).cast("decimal(18,6)")
    return vol.groupBy("o_year").agg(
        F.round(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_1", F.col("volume")).otherwise(
                    zero
                )
            ).cast("double")
            / F.sum("volume").cast("double"),
            6,
        ).alias("mkt_share")
    )


@register(
    "grouping_sets_revenue",
    oracle=f"""
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT)
         AS grp_id,
       CAST(round(sum({_DISC_PRICE_SQL}), 2) AS DOUBLE) AS revenue
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
""",
    description="Explicit GROUPING SETS (the asymmetric subtotal shape "
    "cube/rollup can't express: detail + one-dimension subtotal + grand "
    "total only) with grouping_id disambiguating real NULLs from "
    "subtotal rows — one pass via Expand, partial-aggregated before the "
    "single shuffle, same engine machinery as the CUBE/ROLLUP queries.",
)
def q_grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # groupingSets is SQL-surface in Spark: express it there, money math
    # follows the module's decimal convention; the frame is a keyword
    # argument, so its view is dropped once the query is analysed
    return spark.sql(
        f"""
        SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
               coalesce(l_linestatus, 'ALL') AS linestatus,
               CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT)
                 AS grp_id,
               CAST(round(sum({_DISC_PRICE_SQL}), 2) AS DOUBLE) AS revenue
        FROM {{lineitem}}
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """,
        lineitem=load_table(spark, sf_dir, "lineitem"),
    )


@register(
    "tpch_q4_late_priority",
    oracle="""
SELECT o.o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
  )
GROUP BY o.o_orderpriority
""",
    description="TPC-H Q4 (order-priority checking) adapted to this schema "
    "(no commit/receipt dates -> 'late' = shipped >30 days after order "
    "date): correlated EXISTS expressed as a LEFT SEMI join on the order "
    "key with the non-equi lateness predicate, then a tiny per-priority "
    "count. The semi join never materializes matched lineitem rows, and "
    "the quarter filter is pushed to the orders scan.",
)
def q_tpch_q4_late_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    lo = F.lit("1996-07-01 00:00:00").cast("timestamp")
    hi = F.lit("1996-10-01 00:00:00").cast("timestamp")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
    )
    return (
        orders.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "tpch_q5_local_supplier_volume",
    oracle=f"""
SELECT n.n_name,
       CAST(round(sum({_DISC_PRICE_SQL}), 2) AS DOUBLE) AS revenue
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
               AND c.c_nationkey = s.s_nationkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n.n_name
""",
    description="TPC-H Q5 (local supplier volume): revenue from lineitems "
    "where customer and supplier share an ASIA nation. region->nation->"
    "supplier and customer are all dimension-sized and broadcast; the only "
    "fact shuffle is orders<->lineitem on the order key, and the "
    "same-nation constraint rides the broadcast joins as a cheap filter.",
)
def q_tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    lo = F.lit("1996-01-01 00:00:00").cast("timestamp")
    hi = F.lit("1997-01-01 00:00:00").cast("timestamp")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation").join(
        F.broadcast(region.select("r_regionkey")),
        F.col("n_regionkey") == F.col("r_regionkey"),
    )
    supp = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    return (
        li.join(
            orders.join(
                F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey")
            ).select("o_orderkey", "c_nationkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(supp.select("s_suppkey", "s_nationkey", "n_name")),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(F.round(F.sum(_disc_price()), 2).cast("double").alias("revenue"))
    )


@register(
    "tpch_q21_waiting_suppliers",
    oracle="""
SELECT s.s_name, count(*) AS numwait
FROM supplier s
JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
JOIN orders o    ON o.o_orderkey = l1.l_orderkey
JOIN nation n    ON s.s_nationkey = n.n_nationkey
WHERE n.n_name = 'NATION_9'
  AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY
  )
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name
LIMIT 20
""",
    description="TPC-H Q21 (suppliers who kept orders waiting) adapted to "
    "this schema ('late' = shipped >60 days after order date): the "
    "EXISTS/NOT-EXISTS pair becomes a LEFT SEMI then LEFT ANTI join on "
    "the order key — the sole-late-supplier-in-a-multi-supplier-order "
    "pattern. Supplier/nation dims broadcast; lineitem is scanned once "
    "per role with column pruning; deterministic top-20 via "
    "(numwait desc, s_name).",
)
def q_tpch_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_9")
    supp = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(nation.select("n_nationkey")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    late = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).filter(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    l1 = late.select("l_orderkey", "l_suppkey")
    l2 = li.select(
        F.col("l_orderkey").alias("x_orderkey"), F.col("l_suppkey").alias("x_suppkey")
    )
    l3 = late.select(
        F.col("l_orderkey").alias("y_orderkey"), F.col("l_suppkey").alias("y_suppkey")
    )
    cand = l1.join(
        l2,
        (F.col("l_orderkey") == F.col("x_orderkey"))
        & (F.col("l_suppkey") != F.col("x_suppkey")),
        "left_semi",
    ).join(
        l3,
        (F.col("l_orderkey") == F.col("y_orderkey"))
        & (F.col("l_suppkey") != F.col("y_suppkey")),
        "left_anti",
    )
    return (
        cand.join(
            F.broadcast(supp.select("s_suppkey", "s_name")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


@register(
    "tpch_q9_product_profit",
    oracle=f"""
SELECT n.n_name AS nation,
       CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
       CAST(round(sum(
         {_DISC_PRICE_SQL}
         - CAST(round(CAST(p.p_retailprice AS DECIMAL(18,6))
                      * CAST(0.6 AS DECIMAL(18,6)), 2) AS DECIMAL(18,6))
           * CAST(l.l_quantity AS DECIMAL(18,6))
       ), 2) AS DOUBLE) AS sum_profit
FROM lineitem l
JOIN part p     ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n   ON n.n_nationkey = s.s_nationkey
JOIN orders o   ON o.o_orderkey = l.l_orderkey
WHERE p.p_name LIKE '%widget%'
GROUP BY n.n_name, year(o.o_orderdate)
""",
    description="TPC-H Q9 (product-type profit) adapted to this schema "
    "(no partsupp table, so supply cost is derived deterministically as "
    "60% of retail price rounded to cents): profit per supplier nation "
    "per order year over name-filtered parts. part/supplier/nation are "
    "broadcast (the name filter prunes part before the join); the only "
    "fact-fact shuffle is lineitem-orders on the order key; decimal "
    "money math keeps partial aggregation exact.",
)
def q_tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%widget%")
    )
    pseudo_cost = F.round(
        _dec(F.col("p_retailprice")) * _dec(F.lit(0.6)), 2
    ).cast("decimal(18,6)")
    part = part.select("p_partkey", pseudo_cost.alias("cost"))
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_orderkey",
        "l_quantity", "l_extendedprice", "l_discount",
    )
    profit = _disc_price() - F.col("cost") * _dec(F.col("l_quantity"))
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.round(F.sum(profit), 2).cast("double").alias("sum_profit"))
    )


@register(
    "tpch_q2_min_cost_supplier",
    oracle=f"""
WITH ps AS (
  SELECT l_partkey AS partkey, l_suppkey AS suppkey,
         min(CAST(round({_DISC_PRICE_SQL}, 2) AS DECIMAL(18,6))) AS ps_cost
  FROM lineitem GROUP BY l_partkey, l_suppkey
),
esupp AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
),
offers AS (
  SELECT p.p_partkey, p.p_brand, e.s_name, e.s_acctbal, e.n_name, ps.ps_cost,
         min(ps.ps_cost) OVER (PARTITION BY p.p_partkey) AS best
  FROM ps JOIN esupp e ON ps.suppkey = e.s_suppkey
          JOIN part p ON ps.partkey = p.p_partkey
  WHERE p.p_size <= 15
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
       CAST(ps_cost AS DOUBLE) AS supply_cost
FROM offers WHERE ps_cost = best
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
""",
    description="TPC-H Q2 (minimum-cost supplier) adapted to this schema: "
    "the supply relation is derived from lineitem (per part x supplier, "
    "cost = min discounted line price, exact decimal), suppliers "
    "restricted to one region, and the correlated MIN subquery is "
    "decorrelated as a per-part window min with an equality filter — the "
    "plan shape Spark gives the real Q2. supplier/nation/region and part "
    "are broadcast dims; the one shuffle is the part x supplier "
    "aggregation of lineitem.",
)
def q_tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    cost = F.round(_disc_price(), 2).cast("decimal(18,6)")
    ps = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey", cost.alias("c"))
        .groupBy(
            F.col("l_partkey").alias("partkey"),
            F.col("l_suppkey").alias("suppkey"),
        )
        .agg(F.min("c").alias("ps_cost"))
    )
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "EUROPE"
    )
    esupp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(region),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 15)
    offers = (
        ps.join(F.broadcast(esupp), F.col("suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            F.col("partkey") == F.col("p_partkey"),
        )
        .withColumn(
            "best", F.min("ps_cost").over(Window.partitionBy("p_partkey"))
        )
    )
    return (
        offers.filter(F.col("ps_cost") == F.col("best"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_brand",
            F.col("ps_cost").cast("double").alias("supply_cost"),
        )
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@register(
    "tpch_q11_important_stock",
    oracle=f"""
WITH val AS (
  SELECT l.l_partkey AS partkey,
         sum(CAST(round({_DISC_PRICE_SQL}, 2) AS DECIMAL(12,2))
             * CAST(l_quantity AS DECIMAL(8,2))) AS v
  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  WHERE n.n_name = 'NATION_7'
  GROUP BY l.l_partkey
),
tot AS (SELECT sum(v) AS t FROM val)
SELECT partkey, CAST(round(v, 2) AS DOUBLE) AS stock_value
FROM val, tot
WHERE CAST(v AS DOUBLE) > CAST(t AS DOUBLE) * 0.001
""",
    description="TPC-H Q11 (important stock) adapted to this schema: "
    "per-part 'stock value' derived from one nation's lineitems (exact "
    "decimal money x quantity), kept only where the part's value exceeds "
    "0.1% of the nation's total — the group-vs-global-scalar HAVING "
    "pattern, decorrelated as a one-row broadcast cross join. The value "
    "aggregation shuffles once on part key; the global total is a "
    "second-stage agg of the already-reduced frame, not a second scan.",
)
def q_tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_7"
    )
    money = F.round(_disc_price(), 2).cast("decimal(12,2)") * F.col(
        "l_quantity"
    ).cast("decimal(8,2)")
    val = (
        load_table(spark, sf_dir, "lineitem")
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.sum(money).alias("v"))
    )
    tot = val.agg(F.sum("v").alias("t"))
    return (
        val.crossJoin(F.broadcast(tot))
        .filter(
            F.col("v").cast("double") > F.col("t").cast("double") * 0.001
        )
        .select("partkey", F.round("v", 2).cast("double").alias("stock_value"))
    )


@register(
    "tpch_q20_promotable_suppliers",
    oracle="""
WITH pq AS (
  SELECT l.l_suppkey AS suppkey,
         sum(CASE WHEN year(l.l_shipdate) = 1998
                  THEN CAST(l.l_quantity AS DECIMAL(18,6))
                  ELSE CAST(0 AS DECIMAL(18,6)) END) AS q98,
         sum(CAST(l.l_quantity AS DECIMAL(18,6))) AS qall
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE p.p_type = 'SMALL'
  GROUP BY l.l_suppkey, l.l_partkey
),
hot AS (SELECT DISTINCT suppkey FROM pq WHERE q98 * 2 > qall)
SELECT s.s_name, n.n_name
FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE n.n_name IN ('NATION_3', 'NATION_4', 'NATION_5')
  AND EXISTS (SELECT 1 FROM hot WHERE hot.suppkey = s.s_suppkey)
ORDER BY s_name
""",
    description="TPC-H Q20 (promotable suppliers) adapted to this schema: "
    "a supplier qualifies when, for some SMALL part it ships, its 1998 "
    "quantity exceeds half its all-time quantity for that part — the "
    "correlated availability subquery becomes two conditional sums in ONE "
    "grouped pass (no self-join), and the EXISTS collapses to a LEFT SEMI "
    "join against the qualifying-supplier set, nation filter broadcast. "
    "Exact decimal quantity sums make the 2x comparison "
    "partitioning-independent.",
)
def q_tpch_q20_promotable_suppliers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "SMALL"
    )
    qty = _dec(F.col("l_quantity"))
    q98 = F.sum(
        F.when(F.year("l_shipdate") == 1998, qty).otherwise(
            F.lit(0).cast("decimal(18,6)")
        )
    )
    pq = (
        load_table(spark, sf_dir, "lineitem")
        .join(
            F.broadcast(part.select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy(
            F.col("l_suppkey").alias("suppkey"),
            "l_partkey",
        )
        .agg(q98.alias("q98"), F.sum(qty).alias("qall"))
    )
    hot = (
        pq.filter(F.col("q98") * 2 > F.col("qall"))
        .select("suppkey")
        .distinct()
    )
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_3", "NATION_4", "NATION_5")
    )
    return (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(hot, F.col("s_suppkey") == F.col("suppkey"), "left_semi")
        .select("s_name", "n_name")
        .orderBy("s_name")
    )


@register(
    "tpch_q16_part_supplier_counts",
    oracle="""
SELECT p.p_brand, p.p_type, p.p_size,
       count(DISTINCT l.l_suppkey) AS supplier_cnt
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#4'
  AND p.p_type <> 'MEDIUM'
  AND p.p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p.p_brand, p.p_type, p.p_size
""",
    description="TPC-H Q16 (parts/supplier relationship) adapted to this "
    "schema: the partsupp relation is implied by lineitem shipments, so "
    "count(DISTINCT supplier) per (brand, type, size) runs directly on the "
    "part-filtered fact rows — distinct-on-suppkey collapses duplicate "
    "(part, supplier) pairs for free, no pre-DISTINCT shuffle. The "
    "complaints exclusion (reference Q16's NOT IN over s_comment, here "
    "negative-balance suppliers) is a broadcast LEFT ANTI join; the "
    "brand/type/size predicates push to the part scan and ride a broadcast "
    "join, so the only fact shuffle is the final distinct-count "
    "aggregation, which Spark runs two-phase (partial per-partition "
    "distinct before the group-key exchange).",
)
def q_tpch_q16_part_supplier_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    part = (
        load_table(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#4")
            & (F.col("p_type") != "MEDIUM")
            & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    bad_supp = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(
            F.broadcast(bad_supp),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )
