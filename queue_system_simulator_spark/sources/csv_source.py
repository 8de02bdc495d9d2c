"""CSV request-log source with schema validation (SURVEY §2 A1–A4).

Reference behavior (``/root/reference/src/csv_parser.py:7-75``):

* header row required, columns ``user_id, request_time, processing_time``;
  a missing column raises ``KeyError`` (``csv_parser.py:37-40``);
* ISO-8601 timestamps, trailing ``Z`` normalized to UTC (``:50-59``);
* ``processing_time`` cast to float, failure raises ``ValueError`` naming the
  1-based row (``:64,69-70``);
* header-only / empty file yields an empty result (``:33-34``).

Spark-first mapping: an explicit ``StructType`` scan — ``FAILFAST`` mode to
raise on any malformed row (reference parity), or ``PERMISSIVE`` with a
``_corrupt_record`` column when the caller wants to *report* bad rows and
keep going (the scalable posture: at 100 TB you quarantine bad rows, you
don't abort the job).  The missing-column check reads only the header line
via a tiny text scan, so validation does not touch the data, and that one
line also names the scan's columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from queue_system_simulator_spark.localframe import local_df
from queue_system_simulator_spark.schema import REQUEST_SCHEMA
from queue_system_simulator_spark.shipping import ensure_shipped

REQUIRED_COLUMNS = ("user_id", "request_time", "processing_time")


class MissingColumnError(KeyError):
    """Required CSV column absent (reference: KeyError, csv_parser.py:37-40)."""


def validate_required_columns(header_cols: list[str]) -> None:
    missing = [c for c in REQUIRED_COLUMNS if c not in header_cols]
    if missing:
        raise MissingColumnError(
            f"CSV is missing required column(s): {', '.join(missing)}"
        )


def _read_header(spark: SparkSession, path: str) -> list[str]:
    first = spark.read.text(path).limit(1).collect()
    return first[0][0].split(",") if first else []


def read_requests_csv(
    spark: SparkSession,
    path: str,
    mode: str = "FAILFAST",
    extra_columns: bool = True,
) -> DataFrame:
    """Read a request-log CSV with the reference's validation semantics.

    ``mode='FAILFAST'`` ≈ the reference's raise-on-malformed; ``'PERMISSIVE'``
    adds a ``_corrupt_record`` column holding the raw text of bad rows.
    Extra columns beyond the required three are tolerated (the reference
    ignores them: it indexes rows by name, ``csv_parser.py:62-64``).
    """
    # Ship the package so the kernel downstream unpickles on Python workers
    # whatever the caller's cwd (as ``schema.load_table`` does).
    ensure_shipped(spark)
    header = _read_header(spark, path)
    if not header:  # empty file → empty frame (reference returns [])
        return local_df(spark, [], REQUEST_SCHEMA)
    validate_required_columns([c.strip() for c in header])

    schema = REQUEST_SCHEMA
    if mode.upper() == "PERMISSIVE":
        schema = T.StructType(
            list(REQUEST_SCHEMA.fields)
            + [T.StructField("_corrupt_record", T.StringType(), True)]
        )
    reader = (
        spark.read.option("header", True)
        .option("mode", mode)
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss[.SSSSSS][XXX][X]")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
    )
    if extra_columns:
        # every column a string, named from the header line already read,
        # so the scan needs no schema pass of its own; unknown (and
        # duplicated) names become positional and are pruned at scan
        names = [
            c if c in REQUIRED_COLUMNS and header.count(c) == 1 else f"_c{i}"
            for i, c in enumerate(header)
        ]
        validate_required_columns(names)
        df = reader.schema(
            T.StructType([T.StructField(c, T.StringType()) for c in names])
        ).csv(path)
        df = df.selectExpr(
            "CAST(user_id AS STRING) AS user_id",
            "to_timestamp(request_time) AS request_time",
            "CAST(processing_time AS DOUBLE) AS processing_time",
        )
    else:
        df = reader.schema(schema).csv(path)
    return df


def corrupt_rows(df: DataFrame) -> DataFrame:
    """Bad-row report for PERMISSIVE scans (A3 row-numbered-error analog)."""
    if "_corrupt_record" not in df.columns:
        raise ValueError("corrupt_rows requires a PERMISSIVE scan")
    return df.filter(F.col("_corrupt_record").isNotNull()).select("_corrupt_record")
