"""Streaming checkpoints are committed without forking ``readlink``.

Hadoop's local file system forks ``readlink`` for every
``getFileLinkStatus``, and, without the native ``libhadoop``, ``chmod``
for every create and mkdir.  Spark's default checkpoint manager commits
each checkpoint and state-store file by a ``FileContext`` rename, which
asks ``getFileLinkStatus`` of four paths; the engine's manager
(``session.CHECKPOINT_FILE_MANAGER``) renames through ``FileSystem`` and
asks none.  The fork test puts logging ``readlink``/``chmod`` shims first
on the JVM's ``PATH`` and counts the lines that warm drains add: no
``readlink``, and some ``chmod`` to show the shims intercept at all.
"""

from __future__ import annotations

import os
import shutil
import stat
import subprocess
import sys
from pathlib import Path

import pytest

from queue_system_simulator_spark.schema import tune_foreign_session
from queue_system_simulator_spark.session import (
    CHECKPOINT_FILE_MANAGER,
    CHECKPOINT_FILE_MANAGER_KEY,
)

ROOT = Path(__file__).resolve().parent.parent

#: drains each query once cold (fixtures, first-batch warm-up), then once
#: warm, and prints the shim lines the warm drain added; argv: checkout,
#: data dir, fork log, "engine" (session.get_spark) or "bare" (a bare
#: builder session that only the runtime rule tunes), query names
_SCRIPT = """
import sys
sys.path.insert(0, sys.argv[1])
sf_dir, log, kind, names = sys.argv[2], sys.argv[3], sys.argv[4], sys.argv[5:]
import queue_system_simulator_spark.plans  # populate registry
from queue_system_simulator_spark.plans.registry import QUERIES
from queue_system_simulator_spark.session import CHECKPOINT_FILE_MANAGER_KEY

if kind == "bare":
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master("local[2]")
             .config("spark.sql.shuffle.partitions", "2")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    assert spark.conf.get(CHECKPOINT_FILE_MANAGER_KEY, None) is None
else:
    from queue_system_simulator_spark.session import get_spark
    spark = get_spark("fork-test", master="local[2]", shuffle_partitions=2)


def shim_lines():
    try:
        with open(log) as f:
            return f.read().split()
    except FileNotFoundError:
        return []


for name in names:
    QUERIES[name].build(spark, sf_dir).collect()
    seen = len(shim_lines())
    QUERIES[name].build(spark, sf_dir).collect()
    warm = shim_lines()[seen:]
    print("FORKS", name, warm.count("readlink"), warm.count("chmod"))
print("MANAGER", spark.conf.get(CHECKPOINT_FILE_MANAGER_KEY, None))
"""


def _warm_forks(tmp_path: Path, sf_dir: str, kind: str, names: list[str]):
    """``{query: (readlink lines, chmod lines)}`` of each warm drain, and
    the checkpoint manager the session ended with."""
    shim_dir = tmp_path / "shims"
    shim_dir.mkdir()
    log = tmp_path / "forks.log"
    for tool in ("readlink", "chmod"):
        real = shutil.which(tool)
        assert real, f"no {tool} on PATH"
        shim = shim_dir / tool
        shim.write_text(f'#!/bin/sh\necho {tool} >> "{log}"\nexec {real} "$@"\n')
        shim.chmod(shim.stat().st_mode | stat.S_IXUSR)
    env = {**os.environ, "PYSPARK_PYTHON": sys.executable,
           "PATH": f"{shim_dir}{os.pathsep}{os.environ.get('PATH', '')}"}
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT, str(ROOT), sf_dir, str(log), kind,
         *names],
        cwd="/tmp" if kind == "bare" else str(ROOT),
        capture_output=True,
        text=True,
        timeout=600,
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    forks, manager = {}, None
    for line in proc.stdout.splitlines():
        parts = line.split()
        if parts[:1] == ["FORKS"]:
            forks[parts[1]] = (int(parts[2]), int(parts[3]))
        elif parts[:1] == ["MANAGER"]:
            manager = parts[1]
    assert sorted(forks) == sorted(names), proc.stdout
    return forks, manager


@pytest.mark.parametrize(
    "kind, names",
    [
        ("engine", ["streaming_foreachbatch_merge",
                    "streaming_tumbling_counts",  # default state store
                    "streaming_session_counts"]),  # RocksDB state store
        # checkpoint logs on the driver and state stores on the executors,
        # tuned only at runtime
        ("bare", ["streaming_tumbling_counts"]),
    ],
)
def test_warm_drains_fork_no_readlink(tmp_path, sf_dir, kind, names):
    forks, manager = _warm_forks(tmp_path, sf_dir, kind, names)
    assert manager == CHECKPOINT_FILE_MANAGER
    assert all(readlink == 0 for readlink, _ in forks.values()), forks
    # positive control: the shims are on the JVM's PATH and log its forks
    assert all(chmod > 0 for _, chmod in forks.values()), forks


def test_foreign_session_gets_the_engine_manager(spark):
    foreign = spark.newSession()
    foreign.conf.unset(CHECKPOINT_FILE_MANAGER_KEY)
    tune_foreign_session(foreign)
    assert foreign.conf.get(CHECKPOINT_FILE_MANAGER_KEY) == CHECKPOINT_FILE_MANAGER


def test_foreign_session_keeps_the_callers_manager(spark):
    callers = ("org.apache.spark.sql.execution.streaming.checkpointing."
               "FileContextBasedCheckpointFileManager")
    foreign = spark.newSession()
    foreign.conf.set(CHECKPOINT_FILE_MANAGER_KEY, callers)
    tune_foreign_session(foreign)
    assert foreign.conf.get(CHECKPOINT_FILE_MANAGER_KEY) == callers
