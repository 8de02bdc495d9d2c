"""Large-scale layout / sequencing patterns a 100 TB pipeline runs daily.

Every query here is a production *data-movement* pattern — range-sharded
writes, token-budget shard packing, deterministic training-order shuffles,
sweep-line concurrency, schema-profile drift, EWMA trends, autocorrelation —
expressed so the answer is engine-exact (integer arithmetic or
deterministically-rounded floats) and the plan carries no single-partition
window: every global order runs through the two-phase range-partition
machinery in ``operators/statistics.py`` (``global_row_number`` /
``exact_ntile`` / ``global_cumsum``).

These extend the reference's analytics surface (an event/request log and a
document corpus) with the layout operations the brief calls out for
training-data pipelines; none exist in the reference, so docstrings cite the
adjacent reference behavior they generalize where one exists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from queue_system_simulator_spark.plans.analytics_queries import XY_SUMS_SQL
from queue_system_simulator_spark.plans.registry import register
from queue_system_simulator_spark.schema import load_table
from queue_system_simulator_spark.operators.statistics import (
    exact_ntile,
    global_cumsum,
)

_US_PER_DAY = 86_400 * 1_000_000
_US_PER_HOUR = 3_600 * 1_000_000

# --------------------------------------------------------------------------
# Range-sharded write layout (the terasort pattern)
# --------------------------------------------------------------------------
RANGE_SHARDS = 16


@register(
    "lineitem_range_shard_manifest",
    oracle=f"""
WITH l AS (
  SELECT epoch_us(l_shipdate) AS ship_us, l_orderkey, l_linenumber,
         CAST(round(l_quantity * 100) AS BIGINT) AS qty_cents
  FROM lineitem
),
r AS (
  SELECT *, ntile({RANGE_SHARDS})
             OVER (ORDER BY ship_us, l_orderkey, l_linenumber) AS shard
  FROM l
)
SELECT CAST(shard AS INT) AS shard,
       count(*) AS n_rows,
       count(DISTINCT l_orderkey) AS n_orders,
       min(ship_us) AS min_ship_us,
       max(ship_us) AS max_ship_us,
       CAST(sum(qty_cents) AS BIGINT) AS qty_cents_sum
FROM r GROUP BY shard
""",
    description=f"Range-sharded write manifest (terasort layout): lineitem "
    f"totally ordered by (shipdate, orderkey, linenumber) into "
    f"{RANGE_SHARDS} equal shards via the two-phase exact-ntile (range "
    "repartition + per-bucket rank + broadcast offsets — no "
    "single-partition window), then a per-shard manifest (row count, "
    "distinct orders, shipdate bounds, integer-cents quantity checksum). "
    "This is the plan of a time-range-partitioned lake write: the manifest "
    "is what a catalog records per file, and the range partitioner is "
    "Spark's own distributed-sort machinery, so the layout scales with "
    "executors.",
)
def q_lineitem_range_shard_manifest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        # l_shipdate is parquet timestamp_ntz; the session tz is UTC, so the
        # cast to (ltz) timestamp is identity on the microsecond value and
        # matches DuckDB's epoch_us on the same file.
        F.unix_micros(F.col("l_shipdate").cast("timestamp")).alias("ship_us"),
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_quantity") * 100).cast("long").alias("qty_cents"),
    )
    sharded = exact_ntile(
        li,
        RANGE_SHARDS,
        [F.col("ship_us"), F.col("l_orderkey"), F.col("l_linenumber")],
        out_col="shard",
    )
    return sharded.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.min("ship_us").alias("min_ship_us"),
        F.max("ship_us").alias("max_ship_us"),
        F.sum("qty_cents").alias("qty_cents_sum"),
    )


# --------------------------------------------------------------------------
# Token-budget shard packing (WebDataset / training-shard layout)
# --------------------------------------------------------------------------
TOKEN_SHARD_BUDGET = 4096


@register(
    "token_shard_assignment",
    oracle=f"""
WITH d AS (
  SELECT doc_id, len(string_split(text, ' ')) AS tok FROM documents
),
c AS (
  SELECT doc_id, tok,
         coalesce(sum(tok) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
  FROM d
)
SELECT CAST(cb // {TOKEN_SHARD_BUDGET} AS BIGINT) AS shard,
       count(*) AS n_docs,
       CAST(sum(tok) AS BIGINT) AS shard_tokens,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM c GROUP BY 1
""",
    description=f"Token-budget shard packing: documents stream in doc_id "
    f"order into training shards of ~{TOKEN_SHARD_BUDGET} tokens — "
    "shard = exclusive-prefix-sum(tokens) div budget, the same greedy "
    "packing a WebDataset/Megatron shard writer does. The global running "
    "sum is the two-phase ``global_cumsum`` (range repartition + "
    "per-bucket partials + broadcast offsets), so no task ever holds the "
    "corpus; shard count grows with data while shard size stays fixed — "
    "exactly the property a 100 TB tokenizer-sharding job needs.",
)
def q_token_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("tok")
    )
    c = global_cumsum(
        d, order_by=["doc_id"], val_col="tok", out_col="cb", inclusive=False
    )
    shard = (F.col("cb") / TOKEN_SHARD_BUDGET).cast("long")
    return (
        c.withColumn("shard", shard)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tok").alias("shard_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


# --------------------------------------------------------------------------
# Deterministic training-order shuffle
# --------------------------------------------------------------------------
SHUFFLE_SEED = "ep42"
SHUFFLE_BUCKETS = 32


@register(
    "deterministic_shuffle_order",
    oracle=f"""
WITH h AS (
  SELECT doc_id,
         md5('{SHUFFLE_SEED}|' || CAST(doc_id AS VARCHAR)) AS hx
  FROM documents
),
b AS (
  SELECT doc_id, hx,
         CAST('0x' || substr(hx, 1, 12) AS BIGINT) % {SHUFFLE_BUCKETS}
           AS bucket
  FROM h
),
p AS (
  SELECT bucket, doc_id,
         row_number() OVER (PARTITION BY bucket ORDER BY hx, doc_id) AS pos
  FROM b
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       count(*) AS n_docs,
       CAST(sum(doc_id * pos) AS BIGINT) AS order_checksum
FROM p GROUP BY bucket
""",
    description="Deterministic epoch shuffle for training order: every doc "
    f"hashes to one of {SHUFFLE_BUCKETS} buckets via a seeded md5 "
    "(portable and stable under task retry, unlike rand()), and its "
    "position within the bucket is the md5 sort order — a partitioned "
    "window, never a global one. The per-bucket order-sensitive checksum "
    "sum(doc_id*pos) grades that both engines agree on the *sequence*, "
    "not just membership. Changing the seed string is a new epoch; at "
    "100 TB each bucket is an independent shard a loader can stream.",
)
def q_deterministic_shuffle_order(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    hx = F.md5(F.concat(F.lit(f"{SHUFFLE_SEED}|"), F.col("doc_id").cast("string")))
    b = d.select(
        "doc_id",
        hx.alias("hx"),
        (F.conv(F.substring(hx, 1, 12), 16, 10).cast("long") % SHUFFLE_BUCKETS)
        .alias("bucket"),
    )
    w = Window.partitionBy("bucket").orderBy("hx", "doc_id")
    p = b.withColumn("pos", F.row_number().over(w))
    return p.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("doc_id") * F.col("pos")).alias("order_checksum"),
    )


# --------------------------------------------------------------------------
# Sweep-line peak concurrency
# --------------------------------------------------------------------------
@register(
    "peak_concurrency_sweep",
    oracle="""
WITH iv AS (
  SELECT event_type, epoch_us(ts) AS s,
         epoch_us(ts) + CAST(round(value * 1000000) AS BIGINT) AS e
  FROM events
),
d AS (
  SELECT event_type, s AS t, 1 AS delta FROM iv
  UNION ALL
  SELECT event_type, e AS t, -1 AS delta FROM iv
),
r AS (
  SELECT event_type,
         sum(delta) OVER (PARTITION BY event_type ORDER BY t, delta
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS running
  FROM d
)
SELECT event_type,
       CAST(max(running) AS BIGINT) AS peak_concurrency,
       CAST(count(*) // 2 AS BIGINT) AS n_intervals
FROM r GROUP BY event_type
""",
    description="Sweep-line peak concurrency: each event spans "
    "[ts, ts+value·1s); a +1/−1 delta stream ordered by (time, delta) — "
    "ends sort before starts at the same instant, i.e. closed-open "
    "intervals — and its running sum's max is the peak number of "
    "simultaneously-open intervals per type. The classic O(n log n) "
    "alternative to a quadratic self-range-join. The per-type running sum "
    "runs through the grouped two-phase ``global_cumsum`` (range-partition "
    "blocks + per-(block,type) offsets), so low-cardinality keys do NOT "
    "serialize the whole log through one task — the hazard a naive "
    "``PARTITION BY event_type`` window hits when one type dominates.",
)
def q_peak_concurrency_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.unix_micros("ts").alias("s"),
        (
            F.unix_micros("ts")
            + F.round(F.col("value") * 1_000_000).cast("long")
        ).alias("e"),
    )
    deltas = ev.select(
        "event_type", F.col("s").alias("t"), F.lit(1).alias("delta")
    ).unionAll(
        ev.select("event_type", F.col("e").alias("t"), F.lit(-1).alias("delta"))
    )
    run = global_cumsum(
        deltas,
        order_by=["t", "delta"],
        val_col="delta",
        out_col="running",
        group_by=["event_type"],
        inclusive=True,
    )
    return run.groupBy("event_type").agg(
        F.max("running").alias("peak_concurrency"),
        (F.count(F.lit(1)) / 2).cast("long").alias("n_intervals"),
    )


# --------------------------------------------------------------------------
# Column-profile drift between two time halves
# --------------------------------------------------------------------------
_DRIFT_SPLIT = "2024-01-16 00:00:00"


@register(
    "column_profile_drift",
    oracle=f"""
WITH e AS (
  SELECT CASE WHEN ts < TIMESTAMP '{_DRIFT_SPLIT}' THEN 'w1' ELSE 'w2' END
           AS half, *
  FROM events
)
SELECT half, 'user_id' AS col, count(*) AS n_rows,
       count(*) - count(user_id) AS n_null,
       count(DISTINCT user_id) AS n_distinct
FROM e GROUP BY half
UNION ALL
SELECT half, 'event_type', count(*), count(*) - count(event_type),
       count(DISTINCT event_type) FROM e GROUP BY half
UNION ALL
SELECT half, 'value', count(*), count(*) - count(value),
       count(DISTINCT value) FROM e GROUP BY half
UNION ALL
SELECT half, 'props', count(*), count(*) - count(props),
       count(DISTINCT props) FROM e GROUP BY half
""",
    description="Schema-profile drift audit: the events log split into two "
    "time halves, and for every column a (rows, nulls, exact distinct) "
    "profile per half — the input of a data-contract monitor deciding "
    "whether this week's table still looks like last week's. One pass "
    "per column-profile in long format; Spark computes all profiles from "
    "a single cached split frame with per-column count-distinct "
    "aggregates (expand + partial aggregation — each distinct shuffles "
    "its own column only, no row explosion reaches the driver).",
)
def q_column_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn(
        "half",
        F.when(F.col("ts") < F.lit(_DRIFT_SPLIT).cast("timestamp"), "w1")
        .otherwise("w2"),
    ).localCheckpoint()

    def profile(col: str) -> DataFrame:
        return ev.groupBy("half").agg(
            F.lit(col).alias("col"),
            F.count(F.lit(1)).alias("n_rows"),
            (F.count(F.lit(1)) - F.count(col)).alias("n_null"),
            F.countDistinct(col).alias("n_distinct"),
        ).select("half", "col", "n_rows", "n_null", "n_distinct")

    out = profile("user_id")
    for c in ("event_type", "value", "props"):
        out = out.unionAll(profile(c))
    return out


# --------------------------------------------------------------------------
# EWMA daily trend (exact half-life weights)
# --------------------------------------------------------------------------
@register(
    "ewma_daily_value",
    oracle=f"""
WITH daily AS (
  SELECT event_type,
         epoch_us(ts) // {_US_PER_DAY} AS day_idx,
         round(sum(value) / count(*), 6) AS x
  FROM events GROUP BY 1, 2
),
ix AS (
  SELECT event_type, day_idx, x,
         day_idx - min(day_idx) OVER (PARTITION BY event_type) AS i
  FROM daily
),
w AS (
  SELECT event_type, day_idx, x,
         sum(x * power(2.0, CAST(i AS DOUBLE)))
           OVER (PARTITION BY event_type ORDER BY day_idx
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS num,
         sum(power(2.0, CAST(i AS DOUBLE)))
           OVER (PARTITION BY event_type ORDER BY day_idx
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS den
  FROM ix
)
SELECT event_type, CAST(day_idx AS BIGINT) AS day_idx,
       x AS daily_mean, round(num / den, 6) AS ewma
FROM w
""",
    description="EWMA trend of the daily mean value per event type with "
    "half-life = 1 day (α = 0.5): weights are exact powers of two, so "
    "x·2^i is a lossless binary scaling and the windowed ratio "
    "Σx·2^i / Σ2^i is the textbook adjust=True EWMA with no recursive "
    "state. The raw log collapses to ≤366·|types| rows map-side *before* "
    "any window — the window partition is (event_type) over day rows, "
    "bounded by the calendar, not the data; the day-index offset keeps "
    "the exponent < 2^1023 for any span under ~1000 days (renormalize "
    "per-epoch beyond that).",
)
def q_ewma_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            (F.unix_micros("ts") / _US_PER_DAY).cast("long").alias("day_idx"),
        )
        .agg(F.round(F.sum("value") / F.count(F.lit(1)), 6).alias("x"))
    )
    ix = daily.withColumn(
        "i",
        F.col("day_idx")
        - F.min("day_idx").over(Window.partitionBy("event_type")),
    )
    wf = (
        Window.partitionBy("event_type")
        .orderBy("day_idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    pw = F.pow(F.lit(2.0), F.col("i").cast("double"))
    return ix.select(
        "event_type",
        "day_idx",
        F.col("x").alias("daily_mean"),
        F.round(
            F.sum(F.col("x") * pw).over(wf) / F.sum(pw).over(wf), 6
        ).alias("ewma"),
    )


# --------------------------------------------------------------------------
# Autocorrelation of the hourly event rate
# --------------------------------------------------------------------------
ACF_MAX_LAG = 6


@register(
    "event_rate_autocorrelation",
    oracle=f"""
WITH hours AS (
  SELECT epoch_us(ts) // {_US_PER_HOUR} AS h, count(*) AS c
  FROM events GROUP BY 1
),
bounds AS (SELECT min(h) AS lo, max(h) AS hi FROM hours),
spine AS (
  SELECT s.h AS h, coalesce(hours.c, 0) AS c
  FROM (SELECT unnest(generate_series(lo, hi)) AS h FROM bounds) s
  LEFT JOIN hours ON hours.h = s.h
),
lags AS (SELECT unnest(generate_series(1, {ACF_MAX_LAG})) AS lag),
pairs AS (
  SELECT l.lag, a.c AS x, b.c AS y
  FROM lags l
  JOIN spine a ON true
  JOIN spine b ON b.h = a.h + l.lag
)
SELECT CAST(lag AS BIGINT) AS lag,
       count(*) AS n_pairs,
{XY_SUMS_SQL}
       CAST(sum(y * y) AS BIGINT) AS sum_y2,
       round((count(*) * sum(x * y) - sum(x) * sum(y)) /
             (sqrt(CAST(count(*) * sum(x * x) - sum(x) * sum(x) AS DOUBLE))
              * sqrt(CAST(count(*) * sum(y * y) - sum(y) * sum(y) AS DOUBLE))),
             6) AS acf
FROM pairs GROUP BY lag
""",
    description=f"Autocorrelation of the hourly event rate at lags "
    f"1..{ACF_MAX_LAG}: the log pre-aggregates to a zero-filled hourly "
    "spine (bounded by the calendar — the only frame that grows with wall "
    "time, not data volume), lagged pairs come from an equi-join of the "
    "spine with itself on h+lag, and Pearson r is computed from the five "
    "integer moment sums, so every grading column is integer-exact and "
    "the rounded r is bit-identical across engines. The seasonality "
    "detector behind capacity planning: a daily cycle shows as a peak at "
    "lag 24.",
)
def q_event_rate_autocorrelation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    hours = (
        load_table(spark, sf_dir, "events")
        .groupBy((F.unix_micros("ts") / _US_PER_HOUR).cast("long").alias("h"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    spine = (
        hours.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
        .select(F.explode(F.sequence("lo", "hi")).alias("h"))
        .join(hours, "h", "left")
        .select("h", F.coalesce("c", F.lit(0)).alias("c"))
        .localCheckpoint()
    )
    lags = spark.range(1, ACF_MAX_LAG + 1).select(F.col("id").alias("lag"))
    a = spine.select(F.col("h").alias("ha"), F.col("c").alias("x"))
    b = spine.select(F.col("h").alias("hb"), F.col("c").alias("y"))
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("hb") == F.col("ha") + F.col("lag"))
    )
    n = F.count(F.lit(1))
    sx, sy = F.sum("x"), F.sum("y")
    sxy = F.sum(F.col("x") * F.col("y"))
    sx2 = F.sum(F.col("x") * F.col("x"))
    sy2 = F.sum(F.col("y") * F.col("y"))
    return pairs.groupBy("lag").agg(
        n.alias("n_pairs"),
        sx.alias("sum_x"),
        sy.alias("sum_y"),
        sxy.alias("sum_xy"),
        sx2.alias("sum_x2"),
        sy2.alias("sum_y2"),
        F.round(
            (n * sxy - sx * sy)
            / (
                F.sqrt((n * sx2 - sx * sx).cast("double"))
                * F.sqrt((n * sy2 - sy * sy).cast("double"))
            ),
            6,
        ).alias("acf"),
    )


# --------------------------------------------------------------------------
# Z-order (Morton) clustering manifest — multi-dimensional data skipping
# --------------------------------------------------------------------------
Z_SHARDS = 16
Z_BITS = 16

#: bit-interleave as pure integer arithmetic so one formula runs on both
#: engines (Spark `div`, DuckDB `//` — floor division on non-negative
#: longs): z = Σ_i ((day_q >> i) & 1)·2^(2i+1) + ((cust_q >> i) & 1)·2^(2i)
_Z_SPARK = " + ".join(
    f"((dq div {1 << i}) % 2) * {1 << (2 * i + 1)}"
    f" + ((cq div {1 << i}) % 2) * {1 << (2 * i)}"
    for i in range(Z_BITS)
)
_Z_DUCK = " + ".join(
    f"((dq // {1 << i}) % 2) * {1 << (2 * i + 1)}"
    f" + ((cq // {1 << i}) % 2) * {1 << (2 * i)}"
    for i in range(Z_BITS)
)


@register(
    "zorder_layout_manifest",
    oracle=f"""
WITH o AS (
  SELECT epoch_us(o_orderdate) // {_US_PER_DAY} AS day, o_custkey, o_orderkey
  FROM orders
),
b AS (
  SELECT min(day) AS d0, greatest(max(day) - min(day), 1) AS dspan,
         min(o_custkey) AS c0,
         greatest(max(o_custkey) - min(o_custkey), 1) AS cspan
  FROM o
),
q AS (
  SELECT o.day, o.o_custkey, o.o_orderkey,
         ((o.day - b.d0) * {(1 << Z_BITS) - 1}) // b.dspan AS dq,
         ((o.o_custkey - b.c0) * {(1 << Z_BITS) - 1}) // b.cspan AS cq
  FROM o, b
),
z AS (SELECT day, o_custkey, o_orderkey, {_Z_DUCK} AS zval FROM q),
sharded AS (
  SELECT 'zorder' AS layout, day, o_custkey,
         ntile({Z_SHARDS}) OVER (ORDER BY zval, o_orderkey) AS shard
  FROM z
  UNION ALL
  SELECT 'time_sorted', day, o_custkey,
         ntile({Z_SHARDS}) OVER (ORDER BY day, o_orderkey) AS shard
  FROM z
)
SELECT layout, CAST(shard AS INT) AS shard, count(*) AS n_rows,
       min(day) AS min_day, max(day) AS max_day,
       CAST(max(day) - min(day) + 1 AS BIGINT) AS day_span,
       min(o_custkey) AS min_cust, max(o_custkey) AS max_cust,
       CAST(max(o_custkey) - min(o_custkey) + 1 AS BIGINT) AS cust_span
FROM sharded GROUP BY layout, shard
""",
    description="Z-order (Morton) clustering manifest — the multi-dimension "
    "data-skipping layout every lakehouse OPTIMIZE implements: orderdate "
    f"and custkey are quantized to {Z_BITS}-bit grids (integer scaling "
    "against driver-fetched bounds — the two-phase adaptive pattern), bit-"
    "interleaved with pure integer arithmetic (one shared formula, Spark "
    "`div` ≡ DuckDB `//`), and range-sharded on the z-value via the two-"
    f"phase exact-ntile into {Z_SHARDS} shards. The manifest records each "
    "shard's per-dimension min/max — the zone map a scan prunes against — "
    "for BOTH the z-order layout and the naive time-sorted layout, so the "
    "output itself measures the trade: time-sorted shards span the full "
    "custkey domain (no pruning on customer predicates), z-order shards "
    "bound both dimensions at ~1/√shards of their domains. Complements zorder_file_layout (events): that query derives files from the z-value's TOP BITS — map-side, no sort, but cell row-counts follow data skew; this one pays the two-phase range shard for exactly equal file sizes and adds the naive-layout comparison.",
)
def q_zorder_layout_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from queue_system_simulator_spark.operators.statistics import exact_ntile

    o = load_table(spark, sf_dir, "orders").select(
        F.expr(f"unix_micros(cast(o_orderdate as timestamp)) div {_US_PER_DAY}")
        .alias("day"),
        "o_custkey",
        "o_orderkey",
    )
    # bounds: 4 integers through the driver (the adaptive two-phase
    # pattern statistics.py documents) — broadcast back inside literals
    b = o.agg(
        F.min("day"), F.max("day"), F.min("o_custkey"), F.max("o_custkey")
    ).first()
    d0, dspan = int(b[0]), max(int(b[1]) - int(b[0]), 1)
    c0, cspan = int(b[2]), max(int(b[3]) - int(b[2]), 1)
    mx = (1 << Z_BITS) - 1
    q = o.select(
        "day",
        "o_custkey",
        "o_orderkey",
        F.expr(f"((day - {d0}) * {mx}) div {dspan}").alias("dq"),
        F.expr(f"((o_custkey - {c0}) * {mx}) div {cspan}").alias("cq"),
    )
    z = q.select(
        "day", "o_custkey", "o_orderkey", F.expr(_Z_SPARK).alias("zval")
    )

    def manifest(df: DataFrame, layout: str, order_cols: list) -> DataFrame:
        sharded = exact_ntile(df, Z_SHARDS, order_cols, out_col="shard")
        return sharded.groupBy("shard").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("day").alias("min_day"),
            F.max("day").alias("max_day"),
            (F.max("day") - F.min("day") + 1).alias("day_span"),
            F.min("o_custkey").alias("min_cust"),
            F.max("o_custkey").alias("max_cust"),
            (F.max("o_custkey") - F.min("o_custkey") + 1).alias("cust_span"),
        ).select(
            F.lit(layout).alias("layout"),
            "shard",
            "n_rows",
            "min_day",
            "max_day",
            "day_span",
            "min_cust",
            "max_cust",
            "cust_span",
        )

    return manifest(
        z, "zorder", [F.col("zval"), F.col("o_orderkey")]
    ).unionAll(
        manifest(z, "time_sorted", [F.col("day"), F.col("o_orderkey")])
    )
