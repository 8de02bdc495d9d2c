"""Fault injection for the build-once fixture protocol (``fixtures.py``).

Pure Python, no Spark session: the builds here write marker files.  Every
test that could hang on a held lock is bounded by a deadline.
"""

from __future__ import annotations

import ast
import contextlib
import os
import signal
import subprocess
import sys
import tempfile
import time
from pathlib import Path

import pytest

from queue_system_simulator_spark.fixtures import build_once

REPO = Path(__file__).resolve().parent.parent

# A builder process: appends its pid to LOG inside build, writes a partial
# file, then either hangs (to be SIGKILLed holding the lock) or finishes
# after a pause long enough for a racing peer to reach the lock.
BUILDER = """
import os, sys, time
from pathlib import Path
sys.path.insert(0, sys.argv[1])
from queue_system_simulator_spark.fixtures import build_once
mode, src, log = sys.argv[2], sys.argv[3], Path(sys.argv[4])

def build(d):
    with open(log, "a") as f:
        f.write(f"{os.getpid()}\\n")
    (d / "partial.bin").write_bytes(b"x")
    time.sleep(600 if mode == "hang" else 1.0)

print(build_once("t", src, (), build), flush=True)
"""


@contextlib.contextmanager
def deadline(seconds: int):
    def expire(*_):
        raise TimeoutError(f"no return within {seconds} s")

    old = signal.signal(signal.SIGALRM, expire)
    signal.alarm(seconds)
    try:
        yield
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, old)


@pytest.fixture
def src(tmp_path, monkeypatch):
    """A one-file source, with the process's temp dir under ``tmp_path``."""
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    p = tmp_path / "sf" / "events.parquet"
    p.parent.mkdir()
    p.write_bytes(b"v1")
    return p


def spawn(mode: str, src: Path, log: Path) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, "-c", BUILDER, str(REPO), mode, str(src), str(log)],
        env={**os.environ, "TMPDIR": tempfile.gettempdir()},
        stdout=subprocess.PIPE,
        text=True,
    )


def clean_build(d: Path) -> None:
    """A build that insists on starting from an empty directory."""
    assert list(d.iterdir()) == [], list(d.iterdir())
    (d / "data.bin").write_bytes(b"ok")


def test_failed_build_leaves_no_stamp_and_next_call_rebuilds_clean(src):
    def failing(d: Path) -> None:
        (d / "partial.bin").write_bytes(b"x")
        raise RuntimeError("build failed")

    with deadline(30):
        with pytest.raises(RuntimeError, match="build failed"):
            build_once("t", src, (), failing)
        (d,) = [p for p in src.parent.parent.rglob("t_*") if p.is_dir()]
        assert not (d / "_BUILT").exists()
        assert build_once("t", src, (), clean_build) == d
    assert (d / "_BUILT").exists()
    assert not (d / "partial.bin").exists()
    # a hit runs no build
    assert build_once("t", src, (), failing) == d


def test_killed_builder_does_not_block_the_next_caller(src, tmp_path):
    log = tmp_path / "builds.log"
    child = spawn("hang", src, log)
    try:
        with deadline(60):
            while not (log.exists() and log.read_text()):
                time.sleep(0.05)
        child.kill()  # SIGKILL inside build, lock held
        child.wait(timeout=30)
        with deadline(30):
            d = build_once("t", src, (), clean_build)
    finally:
        child.kill()
        child.wait(timeout=30)
    assert (d / "_BUILT").exists()
    assert sorted(p.name for p in d.iterdir()) == ["_BUILT", "data.bin"]


def test_racing_processes_build_once_and_agree(src, tmp_path):
    """More racers than this machine's cores, all on one key."""
    log = tmp_path / "builds.log"
    n = len(os.sched_getaffinity(0)) + 2
    procs = [spawn("race", src, log) for _ in range(n)]
    try:
        outs = [p.communicate(timeout=60)[0].strip() for p in procs]
    finally:
        for p in procs:
            p.kill()
            p.wait(timeout=30)
    assert {p.returncode for p in procs} == {0}
    assert outs[0] and set(outs) == {outs[0]}
    assert len(log.read_text().split()) == 1  # build ran exactly once
    assert (Path(outs[0]) / "_BUILT").exists()


def test_changed_source_gets_new_dir_and_aged_siblings_are_swept(src):
    with deadline(30):
        d1 = build_once("t", src, (), clean_build)
        src.write_bytes(b"v2 longer")
        d2 = build_once("t", src, (), clean_build)
        assert d2 != d1
        assert (d1 / "_BUILT").exists()  # young old build survives
        old = time.time() - 3 * 3600
        for p in (d1, Path(f"{d1}.lock")):
            os.utime(p, (old, old))
        src.write_bytes(b"v3 longer still")
        d3 = build_once("t", src, (), clean_build)
    assert len({d1, d2, d3}) == 3
    assert not d1.exists() and not Path(f"{d1}.lock").exists()  # aged: swept
    assert (d2 / "_BUILT").exists()  # young: kept
    assert (d3 / "_BUILT").exists()


def test_fixture_protocol_lives_in_one_module():
    """``fcntl`` is imported, and the ``_BUILT`` stamp spelled, only in
    ``fixtures.py``: a seventh private copy of the protocol fails here."""
    pkg = REPO / "queue_system_simulator_spark"
    lockers, stampers = [], []
    for path in sorted(pkg.rglob("*.py")):
        text = path.read_text()
        rel = path.relative_to(pkg).as_posix()
        for node in ast.walk(ast.parse(text)):
            names = (
                [a.name for a in node.names]
                if isinstance(node, ast.Import)
                else [node.module]
                if isinstance(node, ast.ImportFrom)
                else []
            )
            if "fcntl" in names:
                lockers.append(rel)
        if "_BUILT" in text:
            stampers.append(rel)
    assert sorted(set(lockers)) == ["fixtures.py"]
    assert stampers == ["fixtures.py"]
