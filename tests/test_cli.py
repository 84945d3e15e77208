"""E2E test of the job-submission CLI (__main__.py) — the reference's
run_mr.sh / cmd/seq lifecycle: plugin name + input files → sorted KV text
output, compared against the native wc query on the same corpus."""

from __future__ import annotations

import functools
import glob
import os
import subprocess
import sys
import types

import pytest

import tp1_distribuidos_mapreduce_spark.__main__ as cli
from tp1_distribuidos_mapreduce_spark.__main__ import main, resolve_job
from tp1_distribuidos_mapreduce_spark.operators.mapreduce import MapReduceJob
from tp1_distribuidos_mapreduce_spark.operators.wordcount import (
    inverted_index,
    word_count,
)
from tp1_distribuidos_mapreduce_spark.sources import artifacts
from tp1_distribuidos_mapreduce_spark.sources.text import read_text_corpus

DOCS = {
    "pg-1.txt": "HOla don pepito,,\ny don JOSE!",
    "pg-2.txt": "hola don jose",
    "pg-3.txt": "chau chau\nchau",
    # '+' in a file name; numerals (No/Nl) that are not letters
    "pg+4.txt": "hola x² Ⅻ half½",
}


def _write_corpus(tmp_path):
    d = tmp_path / "pg"
    d.mkdir()
    for name, text in DOCS.items():
        (d / name).write_text(text, encoding="utf-8")
    return str(d / "*.txt")


def _read_kv_files(out_dir: str) -> dict[str, str]:
    got = {}
    for f in glob.glob(os.path.join(out_dir, "part-*")):
        for ln in open(f):
            if ln.strip():
                k, _, v = ln.rstrip("\n").partition(" ")
                got[k] = v
    return got


def test_cli_wc_end_to_end(spark, tmp_path):
    """`python -m tp1_distribuidos_mapreduce_spark wc <glob> <out>` output
    must equal the native wc query over the same corpus, with the
    reference's R=2 sorted-file layout when asked for it."""
    in_glob = _write_corpus(tmp_path)
    out = str(tmp_path / "out")
    main(["wc", in_glob, out, "--num-partitions", "2"])

    files = sorted(glob.glob(os.path.join(out, "part-*")))
    assert len(files) == 2  # reference R=2, common/config.go:7
    for f in files:  # per-file key-sorted (worker.go:208-210)
        keys = [ln.split(" ", 1)[0] for ln in open(f) if ln.strip()]
        assert keys == sorted(keys)

    native = {
        r.word: str(r.cnt)
        for r in word_count(read_text_corpus(spark, in_glob)).collect()
    }
    assert _read_kv_files(out) == native


def test_cli_ii_end_to_end(spark, tmp_path):
    """`python -m tp1_distribuidos_mapreduce_spark ii <glob> <out>` must
    produce the reference's inverted-index contract: per word, the
    comma-joined sorted distinct doc list (plugins/ii/ii.go:40; parser
    contract tests/test_ii.py:30-33), equal to the native query, in the
    R=2 sorted-file layout."""
    in_glob = _write_corpus(tmp_path)
    out = str(tmp_path / "out")
    main(["ii", in_glob, out, "--num-partitions", "2"])

    files = sorted(glob.glob(os.path.join(out, "part-*")))
    assert len(files) == 2  # reference R=2, common/config.go:7
    for f in files:  # per-file key-sorted (worker.go:208-210)
        keys = [ln.split(" ", 1)[0] for ln in open(f) if ln.strip()]
        assert keys == sorted(keys)

    got = _read_kv_files(out)
    # explicit contract pins on the known corpus: distinct (don appears
    # twice in pg-1 but is listed once), sorted, comma-joined
    assert got["don"] == "pg-1.txt,pg-2.txt"
    assert got["chau"] == "pg-3.txt"
    assert got["hola"] == "pg+4.txt,pg-1.txt,pg-2.txt"
    native = {
        r.word: r.docs
        for r in inverted_index(read_text_corpus(spark, in_glob)).collect()
    }
    assert got == native


def test_cli_user_plugin_by_module_attr(spark, tmp_path):
    """A user 'plugin': module.path:ATTR naming a MapReduceJob — the
    analogue of the reference's dlopen'd .so (worker.go:256-282)."""
    job = MapReduceJob(
        map_fn=lambda doc, text: [(ch, "1") for ch in text if ch.isalpha()],
        reduce_fn=lambda k, vs: str(sum(int(v) for v in vs)),
    )
    mod = types.ModuleType("user_letter_plugin")
    mod.LETTERS = job
    sys.modules["user_letter_plugin"] = mod
    try:
        in_dir = tmp_path / "docs"
        in_dir.mkdir()
        (in_dir / "a.txt").write_text("aab")
        (in_dir / "b.txt").write_text("ba")
        out = str(tmp_path / "out")
        main(["user_letter_plugin:LETTERS", str(in_dir / "*.txt"), out])
        assert _read_kv_files(out) == {"a": "3", "b": "2"}
    finally:
        del sys.modules["user_letter_plugin"]


def test_cli_resolve_job_errors():
    with pytest.raises(SystemExit, match="cannot load plugin"):
        resolve_job("no.such.module:JOB")
    mod = types.ModuleType("not_a_plugin")
    sys.modules["not_a_plugin"] = mod
    try:
        with pytest.raises(SystemExit, match="must expose Map"):
            resolve_job("not_a_plugin")
        mod.NOT_A_JOB = 42
        with pytest.raises(SystemExit, match="not a MapReduceJob"):
            resolve_job("not_a_plugin:NOT_A_JOB")
    finally:
        del sys.modules["not_a_plugin"]


def _lock_files(root):
    """One lock file of each kind ``clean`` removes, plus a file it keeps."""
    names = [
        "tp1_spark_lock_0123456789abcdef0123456789abcdef.lock",
        "tp1_pathlock_0123456789abcdef0123456789abcdef.lock",
        "tp1_spark_csv_orders_a1c4b79a8c29.build_lock",
    ]
    for name in names + ["tp1_spark_csv_orders_a1c4b79a8c29"]:
        (root / name).write_text("")
    return sorted(str(root / n) for n in names)


@pytest.fixture
def clean_in(tmp_path, monkeypatch):
    """`main(["clean"])` run against ``tmp_path`` instead of /tmp."""
    for name in ("clean_locks", "clean_scratch"):
        monkeypatch.setattr(
            cli, name, functools.partial(getattr(artifacts, name), tmp_path)
        )
    return tmp_path


def test_cli_clean_deletes_lock_files_when_none_is_held(clean_in, capsys):
    locks = _lock_files(clean_in)
    main(["clean"])
    assert "deleted 3 lock file(s)" in capsys.readouterr().err
    assert sorted(os.listdir(clean_in)) == ["tp1_spark_csv_orders_a1c4b79a8c29"]
    assert artifacts.clean_locks(clean_in) == ([], [])
    assert not any(os.path.exists(p) for p in locks)


def test_cli_clean_deletes_nothing_while_another_process_holds_a_lock(clean_in):
    locks = _lock_files(clean_in)
    holder = subprocess.Popen(
        [
            sys.executable,
            "-c",
            "import fcntl, sys\n"
            f"f = open({locks[1]!r})\n"
            "fcntl.flock(f, fcntl.LOCK_EX)\n"
            "print('held', flush=True)\n"
            "sys.stdin.read()\n",
        ],
        stdin=subprocess.PIPE,
        stdout=subprocess.PIPE,
        text=True,
    )
    try:
        assert holder.stdout.readline() == "held\n"
        with pytest.raises(SystemExit, match="1 lock file.s. held") as exit_info:
            main(["clean"])
        assert exit_info.value.code != 0
        assert all(os.path.exists(p) for p in locks)
    finally:
        holder.communicate("", timeout=30)
    assert artifacts.clean_locks(clean_in) == (locks, [])


def test_cli_clean_deletes_work_dirs_of_ended_processes(clean_in, capsys):
    ended = subprocess.Popen([sys.executable, "-c", "pass"])
    ended.wait()
    dead = clean_in / f"tp1_spark_fold_q_events_{ended.pid}_g0"
    live = clean_in / f"tp1_spark_fold_q_events_{os.getpid()}_g3"
    tagged = clean_in / "tp1_spark_csv_orders_a1c4b79a8c29"
    for d in (dead, live, tagged):
        (d / "state").mkdir(parents=True)
    # a file with a work-dir name is not a work dir
    (clean_in / f"tp1_spark_fold_q_x_{ended.pid}_g1").write_text("")
    main(["clean"])
    assert "deleted 1 work dir(s) of ended processes" in capsys.readouterr().err
    assert sorted(os.listdir(clean_in)) == sorted(
        [live.name, tagged.name, f"tp1_spark_fold_q_x_{ended.pid}_g1"]
    )
    assert artifacts.clean_scratch(clean_in) == []
