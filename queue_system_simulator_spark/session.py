"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we would set on a real cluster: AQE on
(runtime re-planning, skew-join handling, partition coalescing), UTC session
timezone (the reference normalizes ``Z``-suffixed ISO-8601 to UTC,
``/root/reference/src/csv_parser.py:50-59``), Arrow enabled for the
pandas-UDF kernel path.

Streaming checkpoint and state-store files are committed by
:data:`CHECKPOINT_FILE_MANAGER`, Spark's ``FileSystem``-based manager, not
the default ``FileContext``-based one.  Both write a temp file and rename
it to the file's name, and a checkpoint log entry (a batch's offsets or
commit) must not overwrite one already there.  The default renames
through ``FileContext``, which asks ``getFileLinkStatus`` of the source,
the destination and their ``.crc`` files; Hadoop's local file system
answers each ask by forking ``readlink``.  This manager renames through
``FileSystem.rename``, which forks nothing, and keeps the no-overwrite
commit by checking that the destination is absent before the rename.  On
a local disk that check-then-rename is as safe as the default: a query's
checkpoint has one writer, and every drain in this engine checkpoints
under the local temp directory or a local fixture directory.

At 100 TB the same settings hold; only ``shuffle.partitions`` (set
per-deployment, or left to AQE's coalescing) and executor sizing change.
The checkpoint manager is the exception.  On HDFS the ``FileContext``
rename is one atomic no-overwrite call, while this manager's check and
rename are two, so a stale writer of the same batch (a zombie task or a
restarted query) can slip between them; and HDFS forks no ``readlink``,
so there is nothing to gain.  On S3 neither manager's rename is atomic:
both copy and delete.  A deployment on either sets
``spark.sql.streaming.checkpointFileManagerClass`` itself (the
FileContext manager on HDFS, a store-specific one on S3), and
``schema.tune_foreign_session`` leaves a caller's value alone.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: local-mode cores and shuffle partitions: ``SPARK_GRAFT_CPUS``, else this
#: machine's core count
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
#: the session conf that picks the class committing streaming checkpoint
#: and state-store files, and the class this engine runs (module docstring)
CHECKPOINT_FILE_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def get_spark(
    app_name: str = "queue_system_simulator_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults."""
    master = master or f"local[{DEFAULT_CPUS}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_CPUS))
        # driver testdata stores event timestamps as parquet TIMESTAMP(NANOS);
        # Spark 4 has no ns timestamp type — read as long, convert in load_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config(CHECKPOINT_FILE_MANAGER_KEY, CHECKPOINT_FILE_MANAGER)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # A long-lived session executing hundreds of DISTINCT codegen'd
        # queries overflows the JVM's default 240 MB JIT code cache; with
        # UseCodeCacheFlushing (the default) the sweeper then evicts and
        # recompiles hot whole-stage-codegen methods continuously.
        # Measured (aged-JVM A/B, 40-query churn then 3 timed runs of
        # prefix_filter_jaccard_pairs, two trials each): default cache
        # walls [6.9, 3.6, 16.3] / [12.9, 9.1, 5.9] vs 512 MB walls
        # [5.0, 3.4, 4.0] / [4.0, 3.0, 2.7] — same plans, no spikes.
        # This is a long-running-driver setting, not a local[32] tune:
        # any Spark JVM that compiles hundreds of generated classes
        # (multi-tenant driver, notebook server, thrift server) carries
        # the same sizing advice.  Env-overridable for other deployments.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize="
            + os.environ.get("SPARK_GRAFT_CODE_CACHE", "512m"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
