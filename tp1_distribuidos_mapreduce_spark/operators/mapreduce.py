"""Generic MapReduce plugin contract (reference O12), Spark-first.

The reference's user surface is a pair of Go functions loaded from a .so
(type defs seq/sequential.go:14-15, loader cmd/worker/worker.go:256-282):

    Map(filename, contents string) []KeyValue     // UDTF: 1 → N records
    Reduce(key string, values []string) string    // UDAF: group → 1 value

Here the same contract is a pair of Python callables executed with Arrow
batching; everything between them — shuffle, grouping, barriers, retries,
the whole of the reference's cmd/ tree — is Spark.

Execution shape (the reference's exact 2-stage plan, §3.4), one Python
stage per side:

    mapInPandas(map [+ combine])  →  repartition(R, key)
      →  sortWithinPartitions(key)  →  mapInPandas(reduce over key runs)

Scale notes:
- Map runs per Arrow batch, never whole-file-in-memory like worker.go:42-47.
- The reduce walks the sorted partition and calls ``Reduce(key, values)``
  once per run of equal keys, as the reference's reduce worker does after
  its sort (Dean & Ghemawat, OSDI 2004, §3.1). There is no per-group
  pandas frame: the per-group cost is one Python call. It holds one
  group's values at a time — the same limit as the reference's
  map[string][]string (worker.go:194-198), inherent to the holistic
  ``Reduce(key, values)`` contract; jobs whose reduce is algebraic should
  use the DataFrame API directly and get partial aggregation for free (see
  operators/wordcount.py). A NULL key sorts into one run like any other.
- When ``combine_fn`` is provided (an associative pre-reduce), the map
  stage also runs it over each Arrow batch's output before the shuffle —
  the combiner the reference lacks (SURVEY.md §4.2) — so shuffle volume
  drops from O(records) to O(distinct keys per batch).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from dataclasses import dataclass

import pandas as pd

from pyspark.sql import DataFrame

KV_SCHEMA = "key string, value string"
KV_COLUMNS = ["key", "value"]

MapFunc = Callable[[str, str], Iterable[tuple[str, str]]]
ReduceFunc = Callable[[str, list[str]], str]


@dataclass(frozen=True)
class MapReduceJob:
    """A reference-style plugin: Map + Reduce (+ optional combiner)."""

    map_fn: MapFunc
    reduce_fn: ReduceFunc
    combine_fn: ReduceFunc | None = None
    # None → the session's spark.sql.shuffle.partitions at run time. The
    # reference hard-codes R=2 (common/config.go:7) — a scale foot-gun as a
    # default, so parity with it is opt-in: pass num_partitions=2 (the
    # sink-layout parity test does; reduce OUTPUT is identical either way
    # since the final orderBy is a fresh range exchange).
    num_partitions: int | None = None


def resolve_num_partitions(spark, job: "MapReduceJob") -> int:
    """The job's R, defaulting to the session's shuffle parallelism — ONE
    definition shared by run_mapreduce and the CLI ('auto'-safe: managed
    platforms set spark.sql.shuffle.partitions to a non-integer)."""
    if job.num_partitions is not None:
        return job.num_partitions
    raw = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        return int(raw)
    except ValueError:
        return spark.sparkContext.defaultParallelism


def run_mapreduce(
    corpus: DataFrame,
    job: MapReduceJob,
    doc_col: str = "doc_id",
    text_col: str = "value",
) -> DataFrame:
    """Run a plugin over (doc_id, value) rows → sorted (key, value) rows.

    Output ordering matches the reference's final sort by key
    (cmd/worker/worker.go:208-210, seq/sequential.go:44-46).
    """
    map_fn, reduce_fn, combine_fn = job.map_fn, job.reduce_fn, job.combine_fn

    def run_map(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        for pdf in batches:
            kvs = [kv for doc, text in zip(pdf[doc_col], pdf[text_col]) for kv in map_fn(doc, text)]
            if combine_fn is not None:
                # Map-side combine inside the same stage: one dict pass per
                # Arrow batch. A dict keeps a None key as its own group, as
                # the reduce side does.
                groups: dict[str, list[str]] = {}
                for k, v in kvs:
                    groups.setdefault(k, []).append(v)
                kvs = [(k, combine_fn(k, vs)) for k, vs in groups.items()]
            yield pd.DataFrame(kvs, columns=KV_COLUMNS)

    def run_reduce(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        # Input is sorted by key, so each key is one run of rows. The open
        # run is carried across Arrow batch boundaries and closed when the
        # key changes or the input ends.
        key, values = None, None
        for pdf in batches:
            out = []
            for k, v in zip(pdf["key"], pdf["value"]):
                if values is not None and k == key:
                    values.append(v)
                    continue
                if values is not None:
                    out.append((key, reduce_fn(key, values)))
                key, values = k, [v]
            yield pd.DataFrame(out, columns=KV_COLUMNS)
        if values is not None:
            yield pd.DataFrame([(key, reduce_fn(key, values))], columns=KV_COLUMNS)

    R = resolve_num_partitions(corpus.sparkSession, job)
    return (
        corpus.select(doc_col, text_col)
        .mapInPandas(run_map, schema=KV_SCHEMA)
        .repartition(R, "key")
        .sortWithinPartitions("key")
        .mapInPandas(run_reduce, schema=KV_SCHEMA)
        .orderBy("key")
    )


# --------------------------------------------------------------------------
# The reference's two shipped plugins, re-expressed on the generic contract
# (proof the plugin surface is sufficient — SURVEY.md §7.2 M1).
# --------------------------------------------------------------------------

import re

# Python re lacks \p{L}. [^\W\d_] is letters plus the non-decimal
# numerals (No/Nl: '²', '½', 'Ⅻ'), so the rare run that is not all
# letters is split again on its non-letters: str.isalpha is exactly
# category L, as Go's unicode.IsLetter and the native [^\p{L}]+ split.
_LETTER_RUN = re.compile(r"[^\W\d_]+", re.UNICODE)


def _letter_runs(contents: str) -> Iterable[str]:
    for w in _LETTER_RUN.findall(contents.lower()):
        if w.isalpha():
            yield w
        else:
            yield from "".join(c if c.isalpha() else " " for c in w).split()


def _wc_map(doc_id: str, contents: str) -> Iterable[tuple[str, str]]:
    # plugins/wc/wc.go:11-21 — emit (word, "1") per token
    return ((w, "1") for w in _letter_runs(contents))


def _wc_reduce(key: str, values: list[str]) -> str:
    # plugins/wc/wc.go:24-26 — len(values); with the combiner on, partial
    # counts arrive as numbers, so sum them instead of counting.
    return str(sum(int(v) for v in values))


def _ii_map(doc_id: str, contents: str) -> Iterable[tuple[str, str]]:
    # plugins/ii/ii.go:12-23 — emit (word, doc_id) per token
    return ((w, str(doc_id)) for w in _letter_runs(contents))


# Internal combiner-partial delimiter: the final output comma-joins per
# the reference contract (ii.go:40), but re-SPLITTING on ',' to merge
# partials would shred a doc_id that itself contains a comma ('a,b.txt'
# → bogus docs 'a' and 'b.txt'). US (unit separator) never appears in
# real filenames.
_II_SEP = "\x1f"


def _ii_combine(key: str, values: list[str]) -> str:
    # partials are _II_SEP-joined; raw map output is single doc_ids
    # (which split(_II_SEP) passes through unchanged).
    return _II_SEP.join(sorted({d for v in values for d in v.split(_II_SEP)}))


def _ii_reduce(key: str, values: list[str]) -> str:
    # plugins/ii/ii.go:26-41 — distinct + ascending sort + comma-join.
    docs = sorted({d for v in values for d in v.split(_II_SEP)})
    return ",".join(docs)


WC_JOB = MapReduceJob(map_fn=_wc_map, reduce_fn=_wc_reduce, combine_fn=_wc_reduce)
II_JOB = MapReduceJob(map_fn=_ii_map, reduce_fn=_ii_reduce, combine_fn=_ii_combine)
