"""Generic MapReduce plugin API (O12) + KV text sink (O3/O4) tests."""

from __future__ import annotations

import glob
import os
import re

import pytest

from tp1_distribuidos_mapreduce_spark.operators.mapreduce import (
    II_JOB,
    WC_JOB,
    MapReduceJob,
    run_mapreduce,
)
from tp1_distribuidos_mapreduce_spark.operators.wordcount import word_count
from tp1_distribuidos_mapreduce_spark.sinks import read_kv_text, write_sorted_kv_text
from tp1_distribuidos_mapreduce_spark.sources.text import read_text_corpus


def corpus(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, value string")


ROWS = [
    ("pg-1", "HOla don pepito,, y don JOSE!"),
    ("pg-2", "hola don jose"),
    ("pg-3", "chau chau chau"),
]


def test_mr_wc_matches_native_wordcount(spark):
    df = corpus(spark, ROWS)
    mr = {r.key: int(r.value) for r in run_mapreduce(df, WC_JOB).collect()}
    native = {r.word: r.cnt for r in word_count(df).collect()}
    assert mr == native


def test_mr_ii_sorted_distinct(spark):
    df = corpus(spark, ROWS)
    got = {r.key: r.value for r in run_mapreduce(df, II_JOB).collect()}
    assert got["don"] == "pg-1,pg-2"
    assert got["hola"] == "pg-1,pg-2"
    assert got["chau"] == "pg-3"
    assert got["jose"] == "pg-1,pg-2"


def without_combiner(job: MapReduceJob) -> MapReduceJob:
    return MapReduceJob(map_fn=job.map_fn, reduce_fn=job.reduce_fn)


def test_mr_combiner_equivalence(spark):
    df = corpus(spark, ROWS)
    for job in (WC_JOB, II_JOB):
        a = sorted(map(tuple, run_mapreduce(df, job).collect()))
        b = sorted(map(tuple, run_mapreduce(df, without_combiner(job)).collect()))
        assert a == b


BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"


def test_mr_key_runs_straddling_arrow_batches(spark, tmp_path):
    # Two-row Arrow batches split nearly every run of equal keys across
    # batches on the reduce side; the run carried over a boundary must
    # still reach Reduce as one group. Checked against a sequential
    # pure-Python wc/ii (the reference's cmd/seq).
    docs = {
        "pg-0.txt": "chau chau chau\nhola DON don\ndon chau\nx",
        "pg-1.txt": "hola hola\nchau, don; y\ny y y\nhola",
        "pg-2.txt": "y\ndon don\nchau hola y\nzeta zeta",
    }
    for name, text in docs.items():
        (tmp_path / name).write_text(text)
    # The corpus is ASCII, so [a-z] runs are exactly its letter runs.
    words = {name: re.findall(r"[a-z]+", text.lower()) for name, text in docs.items()}
    want_wc: dict[str, str] = {}
    want_ii: dict[str, str] = {}
    for w in sorted({w for ws in words.values() for w in ws}):
        want_wc[w] = str(sum(ws.count(w) for ws in words.values()))
        want_ii[w] = ",".join(sorted(n for n, ws in words.items() if w in ws))

    old = spark.conf.get(BATCH_CONF)
    spark.conf.set(BATCH_CONF, "2")
    try:
        df = read_text_corpus(spark, str(tmp_path / "*.txt"))
        for job, want in ((WC_JOB, want_wc), (II_JOB, want_ii), (without_combiner(WC_JOB), want_wc)):
            got = [tuple(r) for r in run_mapreduce(df, job).collect()]
            assert got == sorted(want.items())
    finally:
        spark.conf.set(BATCH_CONF, old)


def test_mr_null_key_is_one_group_with_and_without_combiner(spark):
    def join_docs(key, values):
        return ",".join(sorted(d for v in values for d in v.split(",")))

    job = MapReduceJob(
        map_fn=lambda doc, text: [(None if text == "x" else text, doc)],
        reduce_fn=join_docs,
        combine_fn=join_docs,
    )
    df = corpus(spark, [("d1", "x"), ("d2", "x"), ("d3", "y")])
    for j in (job, without_combiner(job)):
        got = [tuple(r) for r in run_mapreduce(df, j).collect()]
        assert got == [(None, "d1,d2"), ("y", "d3")]


def test_mr_plan_is_one_python_stage_per_side(spark):
    # A per-group reduce (FlatMapGroupsInPandas) or a separate combine
    # stage (a third MapInPandas) must not come back.
    df = run_mapreduce(corpus(spark, ROWS), WC_JOB)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan
    assert plan.count("MapInPandas") == 2


def test_mr_partitions_default_matches_reference_r2(spark):
    # num_partitions=None (default) resolves to the session's shuffle
    # parallelism; results must be identical to the reference's R=2
    # (common/config.go:7) — partitioning is a physical choice only.
    df = corpus(spark, ROWS)
    import dataclasses

    r2 = dataclasses.replace(WC_JOB, num_partitions=2)
    assert run_mapreduce(df, WC_JOB).collect() == run_mapreduce(df, r2).collect()


def test_mr_output_sorted_by_key(spark):
    df = corpus(spark, ROWS)
    keys = [r.key for r in run_mapreduce(df, WC_JOB).collect()]
    assert keys == sorted(keys)


def test_custom_plugin(spark):
    # a user-defined job: per-doc letter histogram key=letter value=count
    job = MapReduceJob(
        map_fn=lambda doc, text: [(ch, "1") for ch in text if ch.isalpha()],
        reduce_fn=lambda k, vs: str(sum(int(v) for v in vs)),
    )
    df = corpus(spark, [("d1", "aab"), ("d2", "ba")])
    got = {r.key: r.value for r in run_mapreduce(df, job).collect()}
    assert got == {"a": "3", "b": "2"}


def test_kv_text_sink_roundtrip(spark, tmp_path):
    df = corpus(spark, ROWS)
    out = run_mapreduce(df, WC_JOB)
    path = os.path.join(str(tmp_path), "mr-out")
    write_sorted_kv_text(out, path, num_partitions=2)

    files = sorted(glob.glob(os.path.join(path, "part-*")))
    assert len(files) == 2  # R=2, reference common/config.go:7
    for f in files:  # each file sorted by key (worker.go:208-210)
        keys = [ln.split(" ", 1)[0] for ln in open(f) if ln.strip()]
        assert keys == sorted(keys)

    back = {r.key: r.value for r in read_kv_text(spark, path).collect()}
    assert back == {r.key: r.value for r in out.collect()}


@pytest.mark.parametrize(
    "key,value",
    [
        (None, "1"),
        ("k", None),
        ("two words", "1"),
        ("line\nbreak", "1"),
        ("k", "line\nbreak"),
        ("k", "carriage\rreturn"),
    ],
    ids=["null_key", "null_value", "space_in_key", "newline_in_key", "newline_in_value", "cr_in_value"],
)
def test_kv_text_sink_rejects_rows_it_cannot_read_back(spark, tmp_path, key, value):
    df = spark.createDataFrame([("ok", "1"), (key, value)], "key string, value string")
    with pytest.raises(Exception, match="KV text sink"):
        write_sorted_kv_text(df, str(tmp_path / "out"))


def test_kv_text_sink_keeps_spaces_in_values(spark, tmp_path):
    df = spark.createDataFrame([("k", "a b  c"), ("", "empty key")], "key string, value string")
    path = str(tmp_path / "out")
    write_sorted_kv_text(df, path)
    assert sorted(map(tuple, read_kv_text(spark, path).collect())) == [("", "empty key"), ("k", "a b  c")]
