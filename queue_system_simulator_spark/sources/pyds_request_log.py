"""Custom Python DataSource (Spark 4 `pyspark.sql.datasource` API): the
request-log generator as a first-class, partitioned, registrable source.

The DataFrame-expression generator (``sources/generator.py``) stays the
preferred A6 path — it is JVM-side and window-based.  This module exists to
cover the engine's *source-extension* surface: the same contract a user
needs to plug a bespoke system (a queue snapshot service, a proprietary log
API) into Spark as ``spark.read.format("request_log")``:

* ``partitions()`` splits the generation space per user — Spark schedules
  one task per partition, so the source scales horizontally exactly like a
  file-based scan (no driver-side row materialization).
* Rows are generated from md5-derived integer uniforms keyed
  ``(seed, user, row, stream)`` — the same engine-portable scheme as
  ``sources/generator.py`` — so output is deterministic for a given
  (seed, users, requests) config regardless of task scheduling, retries,
  or cluster size AND reproducible by a SQL oracle (``random.Random``
  streams are Python-internal; md5 is universal), which makes the
  source-extension surface itself hash-gradeable (``pyds_request_log``
  in the query registry).

Usage::

    spark.dataSource.register(RequestLogDataSource)
    df = (spark.read.format("request_log")
          .option("users", 5).option("requests", 5).option("seed", 42)
          .load())

Reference semantics mirrored: inter-arrival U(0.1, 1.0) s accumulated
per user from the epoch, processing_time round(U(1.0, 10.0), 1)
(``/root/reference/scripts/generate_sample_data.py:10-39``).
"""

from __future__ import annotations

import sys
from datetime import datetime, timedelta, timezone

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

_EPOCH = datetime(2023, 1, 1, tzinfo=timezone.utc)


def _self_register_by_value() -> None:
    """Serialize this module's classes BY VALUE, not by reference.

    Python data sources run in dedicated planner/reader workers that do
    not see ``addPyFile`` includes the way UDF workers do: a foreign
    session (the driver harness builds its own, from any cwd) hits
    ``ModuleNotFoundError: queue_system_simulator_spark`` when the stream
    reader unpickles, even after ``shipping.ensure_shipped``.  Pickling
    the module by value embeds the class code in the pickle itself, so
    the source works wherever cloudpickle does.
    """
    mod = sys.modules[__name__]
    # register with BOTH cloudpickle instances that may serialize us:
    # pyspark's vendored copy (used by Spark's serializers) and any
    # standalone install
    for importer in (
        lambda: __import__("pyspark.cloudpickle", fromlist=["x"]),
        lambda: __import__("cloudpickle"),
    ):
        try:
            importer().register_pickle_by_value(mod)
        except Exception:  # pragma: no cover - best-effort per instance
            pass


_self_register_by_value()


class _UserPartition(InputPartition):
    def __init__(self, user: int, requests: int, seed: int):
        self.user = user
        self.requests = requests
        self.seed = seed


class RequestLogReader(DataSourceReader):
    def __init__(self, options):
        self.users = int(options.get("users", 5))
        self.requests = int(options.get("requests", 5))
        self.seed = int(options.get("seed", 42))

    def partitions(self):
        # one partition per user: the generation space shards the same way
        # the downstream per-user kernel does, so a users=1e6 config runs
        # as 1e6 independent tasks with zero coordination
        return [
            _UserPartition(u, self.requests, self.seed) for u in range(self.users)
        ]

    def read(self, partition: _UserPartition):
        import hashlib

        def u32(tag: str, i: int) -> int:
            key = f"pyds|{partition.seed}|{partition.user}|{i}|{tag}"
            return int(hashlib.md5(key.encode()).hexdigest()[:8], 16)

        t = _EPOCH
        for i in range(partition.requests):
            # U(0.1, 1.0) s on a 1 ms lattice / round(U(1.0, 10.0), 1) —
            # integer-exact, engine-portable (see sources/generator.py)
            t = t + timedelta(milliseconds=u32("gap", i) % 901 + 100)
            yield (
                f"user_{partition.user}",
                t.replace(tzinfo=None),
                (u32("proc", i) % 91 + 10) / 10.0,
            )


class _StreamSlice(InputPartition):
    def __init__(self, user: int, row0: int, row1: int, seed: int):
        self.user = user
        self.row0 = row0
        self.row1 = row1
        self.seed = seed


class RequestLogStreamReader(DataSourceStreamReader):
    """Micro-batched twin of ``RequestLogReader``.

    The offset is a plain row index into each user's deterministic request
    stream; with ``rows_per_batch`` set, every trigger advances it by that
    many rows (live multi-micro-batch mode), otherwise the whole finite
    stream is reported available at once (the mode AvailableNow drains
    require — see latestOffset).  partitions() still shards per user, so
    each micro-batch runs one task per user — the same horizontal axis as
    the batch source.  Rows are identical to the batch source for any
    batching/retry/replay: arrival accumulation restarts from row 0 inside
    read(), so a slice's values never depend on which micro-batch produced
    it (exactly-once replay safety).
    """

    def __init__(self, options):
        self.users = int(options.get("users", 5))
        self.requests = int(options.get("requests", 5))
        self.seed = int(options.get("seed", 42))
        # rows_per_batch > 0 throttles offset advance per trigger (live
        # multi-micro-batch runs); 0 (default) reports the full finite
        # stream as available immediately.  AvailableNow drains capture
        # latestOffset() ONCE as the drain target, so a throttled reader
        # under an AvailableNow trigger stops after one batch — drain
        # queries must leave this at 0 (measured: 350 of 1000 rows
        # otherwise).
        self.rows_per_batch = int(options.get("rows_per_batch", 0))
        self._cursor = 0

    def initialOffset(self):
        return {"row": 0}

    def latestOffset(self):
        # the generator is finite and replayable: with no throttle,
        # everything is available immediately (a live system would return
        # its current high-watermark); with rows_per_batch set, a cursor
        # advances per trigger so a ProcessingTime run genuinely produces
        # ceil(requests / rows_per_batch) micro-batches
        if self.rows_per_batch <= 0:
            return {"row": self.requests}
        self._cursor = min(self._cursor + self.rows_per_batch, self.requests)
        return {"row": self._cursor}

    def partitions(self, start, end):
        r0, r1 = int(start["row"]), int(end["row"])
        return [
            _StreamSlice(u, r0, r1, self.seed) for u in range(self.users)
        ]

    def read(self, partition: _StreamSlice):
        import hashlib

        def u32(tag: str, i: int) -> int:
            key = f"pyds|{partition.seed}|{partition.user}|{i}|{tag}"
            return int(hashlib.md5(key.encode()).hexdigest()[:8], 16)

        t = _EPOCH
        for i in range(partition.row1):
            t = t + timedelta(milliseconds=u32("gap", i) % 901 + 100)
            if i >= partition.row0:
                yield (
                    f"user_{partition.user}",
                    t.replace(tzinfo=None),
                    (u32("proc", i) % 91 + 10) / 10.0,
                )

    def commit(self, end):
        pass


class RequestLogDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "request_log"

    def schema(self) -> str:
        return "user_id string, request_time timestamp, processing_time double"

    def reader(self, schema) -> RequestLogReader:
        return RequestLogReader(self.options)

    def streamReader(self, schema) -> RequestLogStreamReader:
        return RequestLogStreamReader(self.options)


def register_request_log(spark) -> None:
    """Make ``spark.read.format("request_log")`` available in ``spark``'s
    session: ship the package, then register the source unless the
    session already has it (registering again replaces it, and Spark
    logs the replacement)."""
    from queue_system_simulator_spark.shipping import ensure_shipped

    ensure_shipped(spark)  # the reader class must unpickle on workers
    manager = spark._jsparkSession.sessionState().dataSourceManager()
    if not manager.dataSourceExists(RequestLogDataSource.name()):
        spark.dataSource.register(RequestLogDataSource)
