"""Where fixture-derived state lives, what it is called, and how it is
built once: text corpora, format twins, layout copies, persisted ANN
indexes, the µs events copy, stream sources and per-process fold work
dirs.

Every artifact is a ``/tmp/tp1_spark_<name>`` path (``artifact_path``,
the one owner of the root and the prefix). Derived artifacts are
content-addressed (``fixture_cache_tag``) and gated on a marker file:
a regenerated fixture or a changed derivation spec gets a fresh path,
never a stale reuse. ``build_once`` is the one build path: the marker
is checked first, so a deleted artifact is rebuilt. The naive
check-then-build is racy under CONCURRENT queries sharing an artifact —
two callers both see the marker missing and both write (Spark's
mode("overwrite") makes this corrupting, not just wasteful: interleaved
delete/commit can leave a directory mixing both runs' part files under a
_SUCCESS marker). ``build_once`` re-checks the marker inside a lock
that closes both races:

* within a process, a per-key lock table serializes builders;
* across processes, an advisory ``flock`` on ``/tmp/tp1_spark_lock_<md5>.lock``
  serializes builders machine-wide (the scope of /tmp artifacts). The
  lock file sits under the artifacts' own root, so every process locks
  the same file whatever its TMPDIR. flock is released automatically
  when the holder dies, so a crashed builder never wedges the path — the
  next caller re-checks the marker and rebuilds.

Lock files are never removed while the package runs: deleting a file
someone holds or waits on lets two builders both "hold" the lock, one on
the deleted file and one on a new one. ``clean_locks`` (the CLI's
``clean``) removes them all when no process holds any, or none, and
``clean_scratch`` removes the work dirs of processes that ended without
running their ``atexit``.
"""

from __future__ import annotations

import atexit
import fcntl
import glob
import hashlib
import itertools
import os
import re
import shutil
import threading
from collections.abc import Callable

_LOCKS: dict[str, threading.Lock] = {}
_LOCKS_GUARD = threading.Lock()
# Generation counter for this process's scratch dirs (scratch_dir).
_SCRATCH_SEQ = itertools.count()
# The directory every artifact and lock file lives in.
ROOT = "/tmp"
# Lock files of build_once and of older builds of this package
# (tp1_pathlock_<md5>.lock, <artifact>.build_lock), under ROOT.
LOCK_GLOBS = ("tp1_spark_lock_*.lock", "tp1_pathlock_*", "*.build_lock")
# scratch_dir names, tp1_spark_<name>_<pid>_g<n>; group 1 is the pid.
_SCRATCH_NAME = re.compile(r"tp1_spark_.+_(\d+)_g\d+")


def artifact_path(name: str) -> str:
    """``/tmp/tp1_spark_<name>``: the root and prefix of every artifact."""
    return f"{ROOT}/tp1_spark_{name}"


def content_tag(path: str, *spec: object) -> str:
    """Content-addressed tag: md5 over ``path``'s path, size and mtime_ns
    plus the derivation ``spec``. A regenerated source (same path, new
    bytes) or a changed spec produces a NEW tag — and therefore a fresh
    artifact path — instead of a stale reuse: the failure mode this
    prevents is a _SUCCESS-marker cache serving old data while the DuckDB
    oracle reads the fresh parquet."""
    st = os.stat(path)
    key = "|".join([path, str(st.st_size), str(st.st_mtime_ns), *map(str, spec)])
    return hashlib.md5(key.encode()).hexdigest()[:12]


def fixture_cache_tag(sf_dir: str, name: str, *spec: object) -> str:
    """``content_tag`` of fixture table ``name``'s parquet."""
    return content_tag(os.path.join(sf_dir, f"{name}.parquet"), *spec)


def fixture_artifact(
    kind: str,
    sf_dir: str,
    table: str,
    *spec: object,
    build: Callable[[str], None],
    leaf: str = "",
    marker: str = "_SUCCESS",
) -> str:
    """Build the artifact derived from fixture ``table`` at most once and
    return its path, ``/tmp/tp1_spark_<kind>_<tag>[/<leaf>]``, where the
    tag is ``fixture_cache_tag(sf_dir, table, *spec)``. ``build(out)``
    writes the artifact and its ``marker``."""
    out = artifact_path(f"{kind}_{fixture_cache_tag(sf_dir, table, *spec)}")
    if leaf:
        out = os.path.join(out, leaf)
    return build_once(out, lambda: build(out), marker)


def scratch_dir(name: str) -> str:
    """A fresh work dir for this process, ``/tmp/tp1_spark_<name>_<pid>_g<n>``,
    removed when the interpreter exits. Frames read from it stay lazy over
    it, so it lives as long as the process."""
    path = artifact_path(f"{name}_{os.getpid()}_g{next(_SCRATCH_SEQ)}")
    shutil.rmtree(path, ignore_errors=True)  # a reused pid's stale dir
    atexit.register(shutil.rmtree, path, True)
    return path


def _pid_running(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # running, as another user
        pass
    return True


def clean_scratch(root: str = ROOT) -> list[str]:
    """Delete the ``scratch_dir`` work dirs under ``root`` whose process
    no longer runs (it was killed before its ``atexit`` ran) and return
    them. A dir whose pid runs stays, also when the pid now belongs to
    another process; content-tagged artifacts never match the name."""
    gone = []
    for name in os.listdir(root):
        m = _SCRATCH_NAME.fullmatch(name)
        if m and not _pid_running(int(m[1])):
            path = os.path.join(root, name)
            # rmtree removes only a real dir: a file or symlink stays
            shutil.rmtree(path, ignore_errors=True)
            if not os.path.lexists(path):
                gone.append(path)
    return sorted(gone)


def _lock_for(key: str) -> threading.Lock:
    with _LOCKS_GUARD:
        return _LOCKS.setdefault(key, threading.Lock())


def lock_path(key: str) -> str:
    """The cross-process lock file ``build_once(key, ...)`` flocks."""
    return artifact_path(f"lock_{hashlib.md5(key.encode()).hexdigest()}.lock")


def build_once(
    out: str, build: Callable[[], None], marker: str = "_SUCCESS"
) -> str:
    """Run ``build()`` exactly once for ``out`` and return ``out``. The
    marker file is re-checked under a per-key thread lock and a ``flock``
    on ``lock_path(out)`` (closing the file releases it)."""
    mark = os.path.join(out, marker)
    if os.path.exists(mark):
        return out
    with _lock_for(out), open(lock_path(out), "w") as lf:
        fcntl.flock(lf, fcntl.LOCK_EX)
        if not os.path.exists(mark):
            build()
    return out


def clean_locks(root: str = ROOT) -> tuple[list[str], list[str]]:
    """Delete every package lock file under ``root`` unless one is held.

    Takes a non-blocking ``flock`` on each file first and keeps them all
    while deleting. Returns ``(deleted, held)``: the deleted files, or,
    when any lock is held by another process or thread, ``([], held)``
    and nothing is deleted. A process between opening a lock file and
    locking it is not seen: run it when no package process runs."""
    paths = sorted({p for g in LOCK_GLOBS for p in glob.glob(os.path.join(root, g))})
    locked: dict[str, int] = {}
    held = []
    try:
        for path in paths:
            try:
                locked[path] = fd = os.open(path, os.O_RDONLY)
            except FileNotFoundError:
                continue
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            except BlockingIOError:
                held.append(path)
        if held:
            return [], held
        for path in locked:
            os.unlink(path)
        return list(locked), []
    finally:
        for fd in locked.values():
            os.close(fd)
