"""Canonical schemas and table loaders.

The reference's data model is a single record type ``Request``
(``/root/reference/src/data_model.py:5-42``) that accumulates lifecycle
columns as it flows arrival -> queue -> worker -> stats.  Here that is one
table whose lifecycle columns are *computed*, not mutated in place.

Driver test tables (``/root/testdata/sf*/``) follow a TPC-H-ish star schema
plus ``events``/``documents``/``embeddings``; ``events`` stands in for the
reference's request log (``ts -> request_time``, ``value -> processing_time``,
``user_id -> user_id``), per FIXTURES.md §1.
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from queue_system_simulator_spark.fixtures import file_stats
from queue_system_simulator_spark.session import (
    CHECKPOINT_FILE_MANAGER,
    CHECKPOINT_FILE_MANAGER_KEY,
)

#: Simulation epoch: the reference derives relative arrival seconds against a
#: fixed epoch 2023-01-01T00:00:00Z (``/root/reference/main.py:13``).  The
#: driver's ``events`` table starts 2024-01-01, so the engine default epoch is
#: configurable; reference-parity tests pin 2023-01-01.
REFERENCE_EPOCH = "2023-01-01T00:00:00+00:00"
EVENTS_EPOCH = "2024-01-01T00:00:00+00:00"

#: Raw request-log schema — the reference CSV contract requires exactly these
#: three columns (``/root/reference/src/csv_parser.py:37-40``).
REQUEST_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.StringType(), True),
        T.StructField("request_time", T.TimestampType(), True),
        T.StructField("processing_time", T.DoubleType(), True),
    ]
)

#: Enriched simulation-result schema (reference ``Request`` after a run,
#: ``/root/reference/src/data_model.py:31-42``).  The −1 sentinel in
#: ``finish_processing_time_by_worker`` marks an admission-control rejection
#: (``/root/reference/src/simulator.py:214``); ``used_api_id`` is null when
#: every API attempt failed (``/root/reference/src/api_client.py:73``).
SIM_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.StringType(), True),
        T.StructField("request_time", T.TimestampType(), True),
        T.StructField("processing_time", T.DoubleType(), True),
        T.StructField("sim_arrival_time", T.DoubleType(), True),
        T.StructField("arrival_time_in_queue", T.DoubleType(), True),
        T.StructField("start_processing_time_by_worker", T.DoubleType(), True),
        T.StructField("finish_processing_time_by_worker", T.DoubleType(), True),
        T.StructField("used_api_id", T.IntegerType(), True),
    ]
)

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def tune_foreign_session(spark: SparkSession) -> None:
    """Pin runtime-settable confs this engine's semantics depend on.

    Callers like the driver harness build their own SparkSession without
    ``session.get_spark``'s configs.  Three of them matter and are safely
    settable at runtime:

    * ``spark.sql.session.timeZone=UTC`` — correctness: every time
      expression (NTZ→LTZ normalization, ``date_format``, window buckets)
      and every DuckDB oracle assumes UTC wall clocks (the reference
      normalizes Z-suffixed ISO-8601 to UTC).
    * ``spark.sql.shuffle.partitions`` — performance: only lowered when
      still at Spark's out-of-the-box 200, which at test scale makes every
      shuffle pay ~6× scheduling overhead; a deliberate caller setting is
      left alone.  (At 100 TB this knob is per-deployment / AQE-coalesced;
      32 matches the local[32] harness.)
    * ``spark.sql.streaming.checkpointFileManagerClass`` — performance:
      ``session.CHECKPOINT_FILE_MANAGER`` commits checkpoint and state
      files without forking ``readlink``; only set when the caller has
      set no manager.  Stream starts read it through the session's
      ``newHadoopConf``, so the runtime value reaches the driver's
      checkpoint logs and the executors' state stores alike.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Required to read TIMESTAMP(NANOS) parquet at all (round-1 testdata
    # layout); harmless for µs layouts.  Runtime-settable.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        if spark.conf.get("spark.sql.shuffle.partitions") == "200":
            spark.conf.set("spark.sql.shuffle.partitions", "32")
    except Exception:
        pass
    if spark.conf.get(CHECKPOINT_FILE_MANAGER_KEY, None) is None:
        spark.conf.set(CHECKPOINT_FILE_MANAGER_KEY, CHECKPOINT_FILE_MANAGER)


#: session confs whose values change the schema Spark infers from a
#: parquet footer (the same file can surface ``ts`` as bigint, timestamp,
#: or timestamp_ntz, and a binary column as binary or string)
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)
#: bound on the memo: each entry is one small StructType
_SCHEMA_MEMO_SIZE = 128
_schemas: OrderedDict[tuple, T.StructType] = OrderedDict()
_schemas_lock = threading.Lock()


def parquet_schema(spark: SparkSession, path: str | Path) -> T.StructType:
    """The schema ``spark.read.parquet(path)`` infers, inferred once per
    table version.

    Inference runs a Spark job over the footers on every read; passing the
    result to ``.schema(...)`` skips it.  The memo key is the resolved
    path, the ``(file name, mtime_ns, size)`` of every file under it
    (``fixtures.file_stats``: a table rewritten in place is a new key) and
    the session's values of :data:`_INFERENCE_CONFS`, so sessions that
    infer differently never share an entry.  Least recently used entries
    past :data:`_SCHEMA_MEMO_SIZE` are dropped."""
    resolved = Path(path).resolve()
    key = (
        str(resolved),
        file_stats(resolved),
        tuple(spark.conf.get(c) for c in _INFERENCE_CONFS),
    )
    with _schemas_lock:
        if key in _schemas:
            _schemas.move_to_end(key)
            return _schemas[key]
    schema = spark.read.parquet(str(resolved)).schema
    with _schemas_lock:
        _schemas[key] = schema
        while len(_schemas) > _SCHEMA_MEMO_SIZE:
            _schemas.popitem(last=False)
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver parquet table.

    Columnar parquet scan: Catalyst prunes columns and pushes predicates, so
    callers should ``select``/``filter`` early and let the scan do the work.

    ``events.ts`` is stored as parquet TIMESTAMP(NANOS); Spark (with
    ``nanosAsLong``) surfaces it as a long — convert to a microsecond
    timestamp (`ts div 1000`, integer division: ns epoch values exceed
    2^53 so float division would corrupt them).  Lossless for this data
    (ns remainder is always 0) and identical to DuckDB's ns→µs cast.

    The scan is given its schema (:func:`parquet_schema`), so only the
    first load of a table version pays the footer-inference job.
    """
    # The conf must be set on *this* session, not just the package's own
    # builder (session.py): callers such as the driver harness construct
    # their own SparkSession, and without it the parquet reader throws
    # PARQUET_TYPE_ILLEGAL on events.ts (INT64 TIMESTAMP(NANOS)) before the
    # bigint fallback below can run.  Runtime-settable, idempotent, cheap.
    tune_foreign_session(spark)
    # Foreign sessions (the driver harness builds its own) may run with any
    # cwd; ship the package so pandas-UDF/applyInPandas closures defined in
    # this package unpickle on Python workers regardless.
    from queue_system_simulator_spark.shipping import ensure_shipped

    ensure_shipped(spark)
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    if name == "events":
        # Normalize ts to TIMESTAMP (session-tz) whatever the parquet file
        # stored: INT64 TIMESTAMP(NANOS) surfaces as bigint under
        # nanosAsLong; timestamp[us] with isAdjustedToUTC=false surfaces as
        # timestamp_ntz.  Both conversions are identity on the underlying
        # microsecond value when the session timezone is UTC (session.py
        # pins UTC; the driver harness runs in a UTC container), so every
        # downstream unix_micros/window/date_format sees one stable type.
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def events_as_requests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map the driver's ``events`` table onto the reference request log.

    FIXTURES.md §1: ``ts -> request_time``, ``value -> processing_time``,
    ``user_id -> user_id`` (cast to string to honour REQUEST_SCHEMA).
    ``event_id`` is retained as a deterministic tiebreaker for ordered
    operators (the reference relies on stable input order,
    ``/root/reference/src/simulator.py:41``).
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.selectExpr(
        "event_id",
        "CAST(user_id AS STRING) AS user_id",
        "ts AS request_time",
        "value AS processing_time",
    )
