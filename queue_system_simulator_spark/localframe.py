"""Small driver-local DataFrames without the Python-RDD tax.

``spark.createDataFrame(list_of_tuples, schema)`` parallelizes PICKLED
rows across ``defaultParallelism`` Python partitions, so every action
that touches the frame pays Python-worker round trips — measured on
this container at ~0.3 s per count and ~4.5 s for a 4-row parquet
write (32 near-empty Python partitions funnelled through one task).
That tax recurs on EVERY materialization of the plan.

:func:`local_df` instead ships the rows to the JVM once as an Arrow
batch (``createDataFrame(pyarrow.Table)``): actions read JVM-held
Arrow data with no Python workers — ~0.1 s for the same write.  Use it
for every small driver-side frame on a query's hot path (percentile
rank targets, two-phase prefix offsets, parameter grids, domain
spines).  Falls back to the classic path for types outside the mapping
below; rows are trusted driver-computed values, never user input.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

try:  # pyarrow is a hard Spark dependency in this environment
    import pyarrow as pa
except ImportError:  # pragma: no cover - arrow ships with pyspark here
    pa = None

#: Spark → Arrow type mapping for the scalar types local frames use.
_ARROW_TYPES: dict[type, "pa.DataType"] = (
    {
        T.ByteType: pa.int8(),
        T.ShortType: pa.int16(),
        T.IntegerType: pa.int32(),
        T.LongType: pa.int64(),
        T.FloatType: pa.float32(),
        T.DoubleType: pa.float64(),
        T.StringType: pa.string(),
        T.BooleanType: pa.bool_(),
        T.DateType: pa.date32(),
    }
    if pa is not None
    else {}
)


def local_df(
    spark: SparkSession,
    rows: Sequence[tuple],
    schema: str | T.StructType,
) -> DataFrame:
    """Build a small local DataFrame JVM-side via one Arrow batch.

    ``schema`` is a DDL string (``"pid int, off long"``) or a
    ``StructType``.  ``None`` values are preserved (Arrow nulls), and so
    is each field's nullability, as on the classic path.  Unmapped field
    types (arrays, structs, timestamps) fall back to the classic
    ``createDataFrame`` path unchanged.
    """
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    if pa is None or any(
        type(f.dataType) not in _ARROW_TYPES for f in schema.fields
    ):
        return spark.createDataFrame(list(rows), schema)
    fields = [
        pa.field(f.name, _ARROW_TYPES[type(f.dataType)], f.nullable)
        for f in schema.fields
    ]
    arrays = [
        pa.array([r[i] for r in rows], fld.type) for i, fld in enumerate(fields)
    ]
    return spark.createDataFrame(
        pa.Table.from_arrays(arrays, schema=pa.schema(fields))
    )
