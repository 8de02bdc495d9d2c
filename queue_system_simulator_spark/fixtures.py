"""Build-once fixtures: trees derived from a source table, written once
and read many times.

The versioned, vacuumed, optimized and stream-written lake tables and the
two streaming splits of ``events.parquet`` are expensive to write and
cheap to read.  ``build_once`` gives all of them one protocol, and
``sweep_stale`` is the one age-gated GC for every per-run directory the
engine leaves under the system temp dir.
"""

from __future__ import annotations

import contextlib
import fcntl
import hashlib
import os
import shutil
import tempfile
import time
from collections.abc import Callable, Hashable, Iterator
from pathlib import Path

#: age after which an untouched directory is dead: far past any live
#: build, drain or lazy read-back, which all take seconds to minutes
STALE_TTL_S = 7200

_STAMP = "_BUILT"  # _-prefixed: Spark's file sources skip it


def sweep_stale(root: Path, prefix: str = "", ttl_s: int = STALE_TTL_S) -> None:
    """Best-effort removal of the entries of ``root`` whose names start
    with ``prefix`` and that nobody has modified for ``ttl_s`` seconds.

    Per-run directories (streaming drains, foreachBatch merges, round-trip
    scratch trees) and superseded fixtures would otherwise pile up without
    bound across benchmark runs, test sessions and oracle sweeps (measured
    once: 873 dirs / 2.1 GB).  The age gate is what keeps a concurrent
    process's live directory safe.  Errors are swallowed: two sweepers
    racing on one stale entry is fine."""
    if not root.is_dir():
        return
    cutoff = time.time() - ttl_s
    for p in root.iterdir():
        try:
            if not p.name.startswith(prefix) or p.lstat().st_mtime >= cutoff:
                continue
            if p.is_dir() and not p.is_symlink():
                shutil.rmtree(p, ignore_errors=True)
            else:
                p.unlink()
        except OSError:  # raced with another sweeper / vanished entry
            pass


def file_stats(src: Path) -> tuple[tuple[str, int, int], ...]:
    """The sorted ``(file name, mtime_ns, size)`` of every file under
    ``src`` (or of ``src`` itself when it is a file): the identity of one
    version of a table, which a rewrite at the same path changes."""
    files = src.rglob("*") if src.is_dir() else [src]
    return tuple(
        sorted(
            (p.name, st.st_mtime_ns, st.st_size)
            for p in files
            if p.is_file()
            for st in [p.stat()]
        )
    )


def fixture_root(src: str | Path) -> Path:
    """The directory holding every fixture derived from ``src``.  The
    hash of the resolved path keeps two sources that share a directory
    name apart; the name is kept for readability."""
    src = Path(src).resolve()
    tag = hashlib.sha1(str(src).encode()).hexdigest()[:10]
    return (
        Path(tempfile.gettempdir())
        / "qss_spark_fixtures"
        / f"{src.parent.name}_{tag}"
    )


@contextlib.contextmanager
def _locked(path: Path) -> Iterator[None]:
    """Hold an exclusive ``flock`` on ``path``.  A sweep may unlink an
    idle lock file between our open and our flock, and a lock on an
    unlinked inode excludes nobody, so retry until the inode we hold is
    the one at ``path``."""
    while True:
        fd = os.open(path, os.O_RDWR | os.O_CREAT, 0o644)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            try:
                held = os.stat(path).st_ino == os.fstat(fd).st_ino
            except FileNotFoundError:
                held = False
            if held:
                os.utime(fd)  # a held lock is young: no sweep takes it
                yield
                return
        finally:
            os.close(fd)  # releases the flock


def build_once(
    name: str,
    src: str | Path,
    params: Hashable,
    build: Callable[[Path], None],
) -> Path:
    """Return the directory of fixture ``name`` derived from ``src``,
    calling ``build(dir)`` to fill it only if no complete build exists.

    The key is ``name``, ``params``, the resolved ``src`` path and the
    ``(file name, mtime_ns, size)`` of every file under ``src``: testdata
    is regenerated between rounds, and a path-only key would serve a
    stale tree while the oracle reads the fresh source.  A layout change
    to a fixture bumps its ``params``.  The key hash is part of the
    directory name, ``fixture_root(src)/<name>_<key hash>``, so a rebuild
    for a changed source never touches the tree a live reader planned
    against.

    Hit: the ``_BUILT`` stamp exists; no lock is taken and nothing is
    written.  Miss: take an exclusive ``flock`` on ``<dir>.lock`` (two
    processes missing together serialize, and the loser finds the
    winner's stamp on the re-check), sweep siblings of the same ``name``
    untouched for ``STALE_TTL_S`` along with their locks, wipe the
    directory (a failed or killed build's leftovers, such as append-mode
    log rows or an extra version, must not leak into the fresh tree),
    build it, and only then stamp it, so a failed or killed build is
    never mistaken for a complete one.  No ``name`` may be a
    prefix of another's ``<name>_``: the sweep matches on it."""
    src = Path(src).resolve()
    key = hashlib.md5(repr((name, params, str(src), file_stats(src))).encode())
    out = fixture_root(src) / f"{name}_{key.hexdigest()[:12]}"
    stamp = out / _STAMP
    if stamp.exists():
        return out
    out.parent.mkdir(parents=True, exist_ok=True)
    with _locked(Path(f"{out}.lock")):
        if not stamp.exists():
            sweep_stale(out.parent, f"{name}_")
            shutil.rmtree(out, ignore_errors=True)
            out.mkdir()
            build(out)
            stamp.touch()
    return out
