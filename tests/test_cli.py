"""E2E test of the job-submission CLI (__main__.py) — the reference's
run_mr.sh / cmd/seq lifecycle: plugin name + input files → sorted KV text
output, compared against the native wc query on the same corpus."""

from __future__ import annotations

import glob
import os
import sys
import types

import pytest

from tp1_distribuidos_mapreduce_spark.__main__ import main, resolve_job
from tp1_distribuidos_mapreduce_spark.operators.mapreduce import MapReduceJob
from tp1_distribuidos_mapreduce_spark.operators.wordcount import (
    inverted_index,
    word_count,
)
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
