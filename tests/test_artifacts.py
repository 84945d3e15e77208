"""Fixture-derived state has one owner, sources/artifacts.py: where
artifacts live (``/tmp/tp1_spark_<name>``), how their content tags are
computed, where their cross-process locks are taken, and when per-process
work dirs are removed.

The ast check below keeps it that way: no other package module may spell
a ``/tmp`` path, compute an md5 tag in Python, ask ``tempfile`` for a
root (a second root is how the events copy and the build locks once
ended up outside ``/tmp`` for processes with a different TMPDIR), or
take an artifact lock itself instead of building through ``build_once``
(builders that did kept a catalog check ahead of the marker check and
never rebuilt a deleted artifact).
"""

from __future__ import annotations

import ast
import glob
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys
import tempfile

import pytest

from tp1_distribuidos_mapreduce_spark import registry
from tp1_distribuidos_mapreduce_spark.operators import similarity as S
from tp1_distribuidos_mapreduce_spark.plans.ivm import IVM_CUTOFF, _base_state_path
from tp1_distribuidos_mapreduce_spark.sinks.partitioned import ensure_partitioned_events
from tp1_distribuidos_mapreduce_spark.sources import artifacts

from conftest import SF_SMOKE, differential

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "tp1_distribuidos_mapreduce_spark"
OWNER = PACKAGE / "sources" / "artifacts.py"
FORBIDDEN = {("hashlib", "md5"), ("tempfile", "gettempdir")}
LOCKS = {"pathlock", "_pathlock"}


def _docstrings(tree: ast.AST) -> set[int]:
    out = set()
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        ):
            body = node.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                out.add(id(body[0].value))
    return out


def derived_state_uses(source: str) -> list[tuple[int, str]]:
    """(line, what) of each ``/tmp`` string constant or f-string head,
    ``hashlib.md5`` use, ``tempfile.gettempdir`` use and reference to
    ``pathlock`` or ``_pathlock`` in ``source``. Docstrings are prose and
    do not count."""
    tree = ast.parse(source)
    docs = _docstrings(tree)
    in_fstring = {
        id(v) for node in ast.walk(tree) if isinstance(node, ast.JoinedStr)
        for v in node.values
    }
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.JoinedStr):
            head = node.values[0] if node.values else None
            if isinstance(head, ast.Constant) and head.value.startswith("/tmp"):
                found.append((node.lineno, "/tmp f-string"))
        elif (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and node.value.startswith("/tmp")
            and id(node) not in docs
            and id(node) not in in_fstring
        ):
            found.append((node.lineno, "/tmp string"))
        elif (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and (node.value.id, node.attr) in FORBIDDEN
        ):
            found.append((node.lineno, f"{node.value.id}.{node.attr}"))
        elif isinstance(node, ast.Attribute) and node.attr in LOCKS:
            found.append((node.lineno, node.attr))
        elif isinstance(node, ast.Name) and node.id in LOCKS:
            found.append((node.lineno, node.id))
        elif isinstance(node, ast.ImportFrom):
            for alias in node.names:
                if (node.module, alias.name) in FORBIDDEN:
                    found.append((node.lineno, f"{node.module}.{alias.name}"))
                elif alias.name in LOCKS:
                    found.append((node.lineno, alias.name))
    return sorted(found)


def test_derived_state_is_spelled_only_in_artifacts():
    offenders = {
        str(path.relative_to(ROOT)): uses
        for path in sorted(PACKAGE.rglob("*.py"))
        if path != OWNER and (uses := derived_state_uses(path.read_text()))
    }
    assert offenders == {}, offenders


def test_derived_state_check_flags_each_form():
    src = '''
"""/tmp in a module docstring is prose."""
import hashlib
import tempfile
from hashlib import md5


def f(tag):
    """/tmp in a function docstring is prose too."""
    a = "/tmp/tp1_spark_x"
    b = f"/tmp/tp1_spark_{tag}"
    c = f"{tag}/tmp"
    d = hashlib.md5(b"k")
    e = tempfile.gettempdir()
    return a, b, c, d, e


from .sources.artifacts import pathlock


def g(key):
    with pathlock(key), artifacts._pathlock(key):
        return key
'''
    assert derived_state_uses(src) == [
        (5, "hashlib.md5"),
        (10, "/tmp string"),
        (11, "/tmp f-string"),
        (13, "hashlib.md5"),
        (14, "tempfile.gettempdir"),
        (18, "pathlock"),
        (22, "_pathlock"),
        (22, "pathlock"),
    ]


def test_lock_path_does_not_depend_on_tempdir(monkeypatch):
    key = "/tmp/tp1_spark_bucketed_0123456789ab/orders"
    default = artifacts.lock_path(key)
    monkeypatch.setattr(tempfile, "tempdir", "/nonexistent-tempdir")
    monkeypatch.setenv("TMPDIR", "/nonexistent-tempdir")
    assert artifacts.lock_path(key) == default
    assert default.startswith("/tmp/tp1_spark_lock_") and default.endswith(".lock")


@pytest.mark.queries("bucketed_colocated_join", "stream_ivm_user_totals")
def test_artifact_paths_are_unchanged(spark, calls):
    """Warm /tmp artifacts stay reusable: paths are the earlier inline
    formula ``f"/tmp/tp1_spark_<kind>_{tag}"`` with the md5 tag over
    path|size|mtime_ns|spec, computed here independently, and catalog
    table names are ``<name>_{tag}``. The registry queries' paths are
    the ones their call in the registry pass passed to build_once."""

    def tag(table, *spec):
        p = os.path.join(SF_SMOKE, f"{table}.parquet")
        st = os.stat(p)
        key = "|".join([p, str(st.st_size), str(st.st_mtime_ns), *map(str, spec)])
        return hashlib.md5(key.encode()).hexdigest()[:12]

    def location(table):
        rows = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
        return next(r.data_type for r in rows if r.col_name == "Location")

    assert _base_state_path(spark, SF_SMOKE) == (
        f"/tmp/tp1_spark_ivm_base_{tag('orders', 'ivm-base-v1', IVM_CUTOFF)}"
    )
    assert ensure_partitioned_events(spark, SF_SMOKE) == (
        f"/tmp/tp1_spark_partitioned_{tag('events', ['event_date'], 0, 0)}/events"
    )

    sides = {"orders": "o_orderkey", "lineitem": "l_orderkey"}
    tags = {source: tag(source, [k], 8, [k]) for source, k in sides.items()}
    assert calls["bucketed_colocated_join"].paths == [
        f"/tmp/tp1_spark_bucketed_{t}" for t in tags.values()
    ]
    for source, t in tags.items():
        assert location(f"{source}_bucketed_{t}") == (
            f"file:/tmp/tp1_spark_bucketed_{t}/{source}"
        )

    t = tag("embeddings", "ivf", S.IVF_INDEX_VERSION, 16, 2048, 8)
    assert S.ensure_ivf_index(spark, SF_SMOKE) == (
        f"ivf_inverted_{t}", f"/tmp/tp1_spark_ivf_{t}/centroids"
    )
    assert location(f"ivf_inverted_{t}") == f"file:/tmp/tp1_spark_ivf_{t}/inverted"
    t = tag("embeddings", "ivfpq", S.IVF_PQ_INDEX_VERSION, 16, 8, 16, 2048, 8)
    assert S.ensure_ivf_pq_index(spark, SF_SMOKE) == (
        f"ivfpq_inverted_{t}", f"/tmp/tp1_spark_ivfpq_{t}"
    )
    assert location(f"ivfpq_inverted_{t}") == f"file:/tmp/tp1_spark_ivfpq_{t}/inverted"
    assert calls["stream_ivm_user_totals"].paths == [
        f"/tmp/tp1_spark_stream_events_{tag('events', 'stream-src-v1')}"
    ]


def test_fold_work_dirs_are_removed_at_exit():
    """A stream query's work dir outlives the query (its frame is lazy
    over it) and is removed when the process exits."""
    code = f"""
import glob, os
from tp1_distribuidos_mapreduce_spark import registry
from tp1_distribuidos_mapreduce_spark.session import get_spark
spark = get_spark("fold-exit")
n = registry.queries()["stream_ivm_user_totals"](spark, {SF_SMOKE!r}).count()
print(os.getpid(), n, len(glob.glob(f"/tmp/tp1_spark_fold_q_*_{{os.getpid()}}_g*")))
"""
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g", SPARK_GRAFT_CPUS="2")
    run = subprocess.run(
        [sys.executable, "-c", code],
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert run.returncode == 0, run.stderr[-2000:]
    pid, rows, live_dirs = run.stdout.split()[-3:]
    assert int(rows) > 0 and int(live_dirs) == 1
    assert glob.glob(f"/tmp/tp1_spark_fold_q_*_{pid}_g*") == []


@pytest.mark.parametrize("name", list(registry.queries()))
def test_query_rebuilds_its_deleted_artifacts(spark, calls, name):
    """A query whose first call passed paths to build_once, called again
    in the same session after those artifacts are deleted, rebuilds them
    and returns the same rows. Per-process state that outlives an
    artifact (a memo of its path, a cached file listing, a catalog entry)
    shows here as an error or a row difference. The queries are the ones
    whose call in the registry pass recorded a path; the others build
    no artifact and are skipped."""
    first = calls[name]
    if not first.paths:
        pytest.skip("the first call passed no path to build_once")
    for path in set(first.paths):
        shutil.rmtree(path)
    df = registry.queries()[name](spark, SF_SMOKE)
    rows = df.collect()
    assert all(os.path.isdir(path) for path in first.paths)
    reason = differential.compare_rows(first.columns, first.rows, df.columns, rows)
    assert reason is None, reason
