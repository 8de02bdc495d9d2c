"""Sinks: partitioned Parquet datalake writes + reference CSV sink.

The engine's default sink (BASELINE.json posture: "Structured Streaming +
S3/Parquet for datalake") is partition-pruned Parquet:

* ``write_datalake`` — partition by low-cardinality query-filter columns
  (date, run_id, tenant); readers prune partitions for free, and each
  partition's files stay independently re-writable (idempotent backfills).
* ``write_requests_csv`` — the reference's CSV sink
  (``/root/reference/scripts/generate_sample_data.py:34-38``): header +
  rows; ``single_file=True`` mirrors its one-file output via coalesce(1)
  (driver-side convenience only — never at scale).

Scale notes: ``maxRecordsPerFile`` bounds file sizes without an extra
shuffle; sorting within partitions before write gives row-group-level
min/max pruning on the sort key (poor man's Z-order for one dimension).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_datalake(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    sort_within: list[str] | None = None,
    max_records_per_file: int | None = 5_000_000,
    mode: str = "overwrite",
) -> None:
    """Write a partitioned Parquet table the way a 100 TB deployment would."""
    if sort_within:
        df = df.sortWithinPartitions(*sort_within)
    writer = df.write.mode(mode)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_requests_csv(
    df: DataFrame, path: str, single_file: bool = False, mode: str = "overwrite"
) -> None:
    """Reference-parity CSV sink (header row, ISO-8601 timestamps render
    via the session's UTC timezone)."""
    out = df.coalesce(1) if single_file else df
    out.write.mode(mode).option("header", True).csv(path)


def auto_commit_width(
    n_rows: int, parallelism: int, rows_per_partition: int = 250_000
) -> int:
    """Keyed-shuffle width for one versioned-sink commit, sized from the
    measured input: one partition per ``rows_per_partition`` input rows,
    clamped to ``[2, parallelism]``.  Small fixtures get narrow cheap
    commits; a 100× input widens itself up to the cluster's parallelism —
    nothing is hardcoded to either scale."""
    return max(2, min(int(parallelism), int(n_rows) // rows_per_partition + 1))


def write_versioned_snapshots(
    events: DataFrame,
    base: str,
    n_versions: int = 4,
    tombstone: str = "error",
    shuffle_partitions: int | str | None = None,
) -> list[int]:
    """Delta/Iceberg-style versioned lake table over plain parquet, with
    RETENTION: every commit writes a new full snapshot ``v1..vN`` and no
    version is ever garbage-collected, so any historical version stays
    time-travel readable (:func:`read_version`) — the property
    ``run_foreachbatch_merge`` deliberately trades away (its versions are
    per-batch deltas, readable only as their fold, never as a snapshot
    as of one batch).

    Commit boundaries are event-time quantiles of the input (version k
    covers ``tus < tmin + span*k/N`` in integer microseconds), so the
    stored content of EVERY version is deterministic and log-derivable —
    version k must equal "latest event per user strictly below cut_k,
    dropped if that event is the ``tombstone`` type" (CDC delete
    semantics: a tombstone removes the row; a later ordinary event
    re-inserts it).  Each commit is an incremental copy-on-write MERGE:
    read stored v{k-1}, union the increment slice, argmax per user on
    the (tus, event_id) total order, filter tombstones, write v{k}.
    The fold is exact because every increment event outranks anything a
    tombstone hid from v{k-1} (increment timestamps are >= the prior
    cut).  A ``_manifest`` parquet records (version, cut_micros,
    n_rows) — the commit log a reader consults to resolve "version as
    of T".

    Expects columns ``user_id, tus, event_id, event_type, value_centi``;
    returns the cut list.  Scale: each commit is one keyed argmax +
    parquet write — the same distributed work a table format's MERGE
    runs; the driver only sequences commits and two scalar bounds.
    ``shuffle_partitions`` scopes the commit loop's shuffle width by
    EXPLICITLY repartitioning each commit's merge input on the key
    (``repartition(n, user_id)`` — the keyed aggregate then reuses that
    hash partitioning, so no second exchange appears).  No session conf
    is mutated: concurrent queries on the same session are unaffected.
    The per-commit frames are key-cardinality-bounded, and a
    fixture-scale caller paying 32-task shuffles on 150-row snapshots
    is pure overhead; a 100 TB deployment leaves it None (session conf).
    ``"auto"`` sizes the width from the input row count measured by the
    same bounds aggregate the cut computation already runs (one row per
    ~250k input rows, clamped to [2, defaultParallelism]) — small
    fixtures get narrow cheap commits, a 100× probe widens itself, and
    nothing is hardcoded to either scale.
    """
    from pyspark import StorageLevel
    from pyspark.sql import Observation

    # "auto" is the only string this parameter understands; any other
    # string would fall through to repartition(s, "user_id") where
    # PySpark reads it as a COLUMN NAME — a confusing AnalysisException
    # at best, a silent repartition on a same-named column at worst
    if isinstance(shuffle_partitions, str) and shuffle_partitions != "auto":
        raise ValueError(
            "shuffle_partitions must be an int, None, or the literal "
            f"'auto'; got {shuffle_partitions!r}"
        )
    spark = events.sparkSession
    # the input is scanned once for the span bounds and once per commit
    # slice — persist across the commit loop so the source (parquet scan
    # + projection) is computed once
    events.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        lo, hi, n_rows = events.agg(
            F.min("tus"), F.max("tus"), F.count(F.lit(1))
        ).first()
        if n_rows == 0:
            # empty input has no event-time span to cut commits from, and
            # an empty parquet snapshot dir (zero part files) would break
            # read_version's schema inference — fail loudly instead of
            # writing an unreadable table (A4 empty-input philosophy:
            # short-circuit explicitly, never crash downstream)
            raise ValueError(
                "write_versioned_snapshots: input has no rows — no commit "
                "cuts can be derived from an empty event-time span"
            )
        if shuffle_partitions == "auto":
            shuffle_partitions = auto_commit_width(
                int(n_rows), int(spark.sparkContext.defaultParallelism)
            )
        span = int(hi) - int(lo) + 1
        cuts = [
            int(lo) + (span * k) // n_versions for k in range(1, n_versions + 1)
        ]
        prev_cut = None
        manifest = []
        for k, cut in enumerate(cuts, start=1):
            inc = events.filter(F.col("tus") < cut)
            if prev_cut is not None:
                inc = inc.filter(F.col("tus") >= prev_cut)
                prev = spark.read.schema(events.schema).parquet(
                    str(Path(base) / f"v{k - 1}")
                )
                inc = prev.unionByName(inc)
            if shuffle_partitions:
                inc = inc.repartition(shuffle_partitions, "user_id")
            snap = (
                inc.groupBy("user_id")
                .agg(
                    F.max_by(
                        F.struct("tus", "event_id", "event_type", "value_centi"),
                        F.struct("tus", "event_id"),
                    ).alias("s")
                )
                .select(
                    "user_id", "s.tus", "s.event_id", "s.event_type", "s.value_centi"
                )
                .filter(F.col("event_type") != tombstone)
            )
            # manifest row count rides the write action itself (Observation
            # metrics) — no extra count job per commit
            obs = Observation(f"qss_tt_v{k}")
            snap = snap.observe(obs, F.count(F.lit(1)).alias("n"))
            snap.write.mode("overwrite").parquet(str(Path(base) / f"v{k}"))
            manifest.append((k, cut, int(obs.get["n"])))
            prev_cut = cut
        _commit_manifest_rows(spark, base, manifest)
        return cuts
    finally:
        events.unpersist()


def _manifest_values_df(spark: SparkSession, rows: list[tuple[int, int, int]]):
    """Commit-log rows as a JVM-side VALUES scan: createDataFrame over a
    Python list routes through a pickled Python RDD whose write task pays
    a Python-worker round trip (~4.5 s measured for 4 rows on this
    container); the VALUES plan is a LocalTableScan (~0.2 s) and the
    literals are trusted ints from the commit protocol."""
    vals = ", ".join(f"({v}, {c}, {n})" for v, c, n in rows)
    return spark.sql(
        "SELECT CAST(version AS BIGINT) AS version, "
        "CAST(cut_micros AS BIGINT) AS cut_micros, "
        "CAST(n_rows AS BIGINT) AS n_rows "
        f"FROM VALUES {vals} AS t(version, cut_micros, n_rows)"
    )


def _recover_manifest_swap(base: str, sweep: bool = False) -> None:
    """Complete a ``_commit_manifest_rows`` swap a crash interrupted.

    Invariant of the swap protocol: a ``_manifest__tmp`` carrying Spark's
    ``_SUCCESS`` marker is a FULLY-written new manifest (it is renamed
    away before the old dir is touched), so when ``_manifest`` is missing
    a marked tmp dir is the authoritative newest state and the ``__old``
    dir the previous one — prefer marked tmp, fall back to old.  A tmp
    WITHOUT the marker is a partial Spark write (possible only on the
    first-ever commit, where no ``_manifest`` exists yet to protect it)
    and is never promoted.

    Readers run this rename-only (``sweep=False``): promotion is the two
    metadata renames above, and stale tmp/old leftovers are left in
    place — a reader racing a live writer mid-swap must never ``rmtree``
    a tmp the writer is about to rename (the r11 advisor's race).  Only
    the writer path (``sweep=True``, serialized by the caller's build
    lock) sweeps leftovers before starting a fresh swap."""
    import os
    import shutil

    final = Path(base) / "_manifest"
    tmp = Path(base) / "_manifest__tmp"
    old = Path(base) / "_manifest__old"
    if not final.exists():
        if tmp.exists() and (tmp / "_SUCCESS").exists():
            os.rename(tmp, final)
        elif old.exists():
            os.rename(old, final)
    if sweep and final.exists():
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(old, ignore_errors=True)


def _commit_manifest_rows(
    spark: SparkSession, base: str, rows: list[tuple[int, int, int]]
) -> None:
    """Atomically-recoverable commit-log rewrite (the swap Spark's
    ``mode('overwrite')`` cannot give: that deletes the directory before
    writing, so a crash mid-rewrite would leave the table with NO
    readable manifest).  Here the new manifest is fully written to a
    ``_manifest__tmp`` sibling first, then swapped in with two renames
    (filesystem metadata ops).  Every crash point is recoverable by
    :func:`_recover_manifest_swap`, which readers run for free: before
    the first rename the old manifest is intact; between the renames
    ``_manifest__tmp`` holds the complete new state and is preferred;
    after the second only a stale ``__old`` dir remains to sweep."""
    import os
    import shutil

    _recover_manifest_swap(base, sweep=True)
    final = Path(base) / "_manifest"
    tmp = Path(base) / "_manifest__tmp"
    old = Path(base) / "_manifest__old"
    _manifest_values_df(spark, rows).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp))
    if final.exists():
        os.rename(final, old)
    os.rename(tmp, final)
    shutil.rmtree(old, ignore_errors=True)


def vacuum_versions(
    spark: SparkSession, base: str, keep_last: int = 2
) -> list[int]:
    """Retention / VACUUM for the versioned lake table — the lifecycle
    quarter the sink lacked (Delta ``VACUUM`` + Iceberg
    ``expire_snapshots`` semantics): physically delete every snapshot
    older than the newest ``keep_last`` versions, rewrite ``_manifest``
    to the retained commits only, and append the expired commits'
    metadata rows to a ``_vacuum_log`` parquet so table HISTORY stays
    auditable after the data is gone.  Returns the expired version list
    (empty when nothing is old enough to expire — idempotent re-runs).

    Ordering is crash-safe in the spirit of a table format's two-phase
    expire: the vacuum log is appended FIRST (history metadata is never
    lost), the manifest is rewritten SECOND (readers resolving through
    the commit log stop seeing expired versions; the rewrite itself is
    the recoverable tmp-dir rename swap of :func:`_commit_manifest_rows`,
    never a delete-then-write window), and the snapshot dirs are deleted
    LAST — a crash between any two steps leaves orphan data files
    (harmless; re-vacuumable) but never a manifest pointing at deleted
    data.  Scale: the manifest/vacuum-log frames are
    commit-log-length (rows == version count, tiny by construction), so
    the one ``collect`` here is O(log length) commit-protocol
    sequencing, never data; deletes are filesystem metadata ops.
    """
    import shutil

    if keep_last < 1:
        raise ValueError(f"keep_last must be >= 1; got {keep_last}")
    manifest = sorted(
        (int(r.version), int(r.cut_micros), int(r.n_rows))
        for r in read_manifest(spark, base).collect()
    )
    expired = manifest[:-keep_last]
    if not expired:
        return []
    retained = manifest[-keep_last:]

    _manifest_values_df(spark, expired).coalesce(1).write.mode(
        "append"
    ).parquet(str(Path(base) / "_vacuum_log"))
    _commit_manifest_rows(spark, base, retained)
    for v, _, _ in expired:
        shutil.rmtree(Path(base) / f"v{v}", ignore_errors=True)
    return [v for v, _, _ in expired]


def optimize_compact(
    spark: SparkSession,
    base: str,
    target_files: int = 2,
    sort_within: list[str] | None = None,
    force: bool = False,
) -> int | None:
    """File-layout maintenance for the versioned lake table — the
    lifecycle quarter after write → CDC → AS-OF → VACUUM (Delta
    ``OPTIMIZE`` / Iceberg ``rewrite_data_files``): bin-pack the NEWEST
    retained snapshot into at most ``target_files`` files and commit the
    rewrite as a new manifest version whose logical content is
    byte-identical to the pre-compaction read.  The superseded version's
    files stay on disk until a later :func:`vacuum_versions` expires
    them — exactly a table format's split of compaction (new commit)
    from retention (physical delete).

    Layout: ``repartitionByRange(target_files, *sort_within)`` +
    ``sortWithinPartitions`` when a sort key is given — globally
    range-clustered files whose parquet min/max footers prune at FILE
    level on the leading key (``zorder_file_layout`` proves the
    multi-dimension interleave math; one-dimensional range clustering is
    the common OPTIMIZE default).  Without a key, a plain
    ``repartition`` round-robins rows into evenly-sized packed files.

    Idempotent: when the newest snapshot already has at most
    ``target_files`` part files the call is a no-op returning ``None``
    (Delta's OPTIMIZE likewise skips already-compacted files), so
    re-runs never grow the version chain; ``force=True`` skips that
    short-circuit and rewrites unconditionally (the re-layout path: a
    small-but-unsorted snapshot still benefits from the range-clustered
    rewrite, and a build-once table wants the compacted commit to exist
    at every fixture scale).  Crash-ordered like every
    commit here: snapshot data is fully written FIRST, the manifest row
    is committed LAST (via the recoverable
    :func:`_commit_manifest_rows` swap) — a crash in between orphans an
    uncommitted ``v{N+1}`` dir that no manifest-driven reader resolves
    and the next run overwrites.  The rewrite's row count rides the
    write action (Observation) and is checked against the manifest's
    ``n_rows`` for the superseded commit — a lost-row rewrite fails
    loudly instead of committing.  Returns the new version number.

    Scale: one distributed range-shuffle + write of a single snapshot;
    the driver touches only the commit log (O(log length)) and one
    directory listing (filesystem metadata).
    """
    from pyspark.sql import Observation

    if target_files < 1:
        raise ValueError(f"target_files must be >= 1; got {target_files}")
    manifest = sorted(
        (int(r.version), int(r.cut_micros), int(r.n_rows))
        for r in read_manifest(spark, base).collect()
    )
    if not manifest:
        raise ValueError(
            f"optimize_compact on {base}: the manifest records no retained "
            "commits — nothing to compact (was every version vacuumed?)"
        )
    newest_v, newest_cut, newest_n = manifest[-1]
    src = Path(base) / f"v{newest_v}"
    n_files = sum(1 for f in src.glob("part-*") if f.is_file())
    if n_files <= target_files and not force:
        return None
    snap = spark.read.parquet(str(src))
    if sort_within:
        packed = snap.repartitionByRange(
            target_files, *sort_within
        ).sortWithinPartitions(*sort_within)
    else:
        packed = snap.repartition(target_files)
    obs = Observation(f"qss_optimize_v{newest_v + 1}")
    packed = packed.observe(obs, F.count(F.lit(1)).alias("n"))
    packed.write.mode("overwrite").parquet(str(Path(base) / f"v{newest_v + 1}"))
    n_written = int(obs.get["n"])
    if n_written != newest_n:
        raise ValueError(
            f"optimize_compact on {base}: rewrite of v{newest_v} produced "
            f"{n_written} rows but the manifest records {newest_n} — "
            "refusing to commit a content-changing compaction"
        )
    _commit_manifest_rows(
        spark, base, manifest + [(newest_v + 1, newest_cut, newest_n)]
    )
    return newest_v + 1


def read_vacuum_log(spark: SparkSession, base: str) -> DataFrame:
    """Expired-commit history: (version, cut_micros, n_rows) per commit
    whose data files a VACUUM has physically deleted."""
    return spark.read.parquet(str(Path(base) / "_vacuum_log"))


def read_version(spark: SparkSession, base: str, version: int) -> DataFrame:
    """Time-travel read of one stored snapshot version (``VERSION AS OF``).

    A version expired by :func:`vacuum_versions` fails LOUDLY with the
    vacuum named (not a generic path error): the ``stat`` + tiny
    vacuum-log read on the failure-detection path are free, and silently
    re-deriving expired state from the log would defeat retention's whole
    point.  The log IS consulted for membership — a never-committed
    version (``read_version(spark, base, 99)`` on a vacuumed table)
    falls through to the generic missing-path error instead of being
    misattributed to VACUUM expiry."""
    p = Path(base) / f"v{version}"
    if not p.exists() and (Path(base) / "_vacuum_log").exists():
        expired = {
            int(r.version) for r in read_vacuum_log(spark, base).collect()
        }
        if int(version) in expired:
            raise ValueError(
                f"VERSION AS OF {version} on {base}: this snapshot was "
                "expired by VACUUM (see the _vacuum_log commit history); "
                "retained versions are listed in _manifest"
            )
    return spark.read.parquet(str(p))


def read_manifest(spark: SparkSession, base: str) -> DataFrame:
    """The commit log: (version, cut_micros, n_rows) per retained commit.

    Completes any crash-interrupted manifest swap first (two local
    ``stat`` calls on the happy path — free)."""
    _recover_manifest_swap(base)
    return spark.read.parquet(str(Path(base) / "_manifest"))
