"""Job-submission CLI — the reference's full lifecycle as one command.

The reference runs a job by loading a compiled plugin and feeding it a file
list, either distributed (``run_mr.sh <N> <plugin> <P>`` → coordinator over
``filesystem/pg/pg-*.txt``, cmd/coordinator/coordinator.go:312 + workers
loading ``plugins/<plugin>.so``) or sequentially (``cmd/seq/mainseq.go:12-64``:
``mainseq plugin.so file1.txt ...`` → ``results/sequential-out.txt``). This
module is the same lifecycle on Spark:

    python -m tp1_distribuidos_mapreduce_spark wc 'filesystem/pg/pg-*.txt' out/

reads the glob as a corpus (one row per line, doc_id = basename —
sources/text.py), runs the named plugin through the generic MapReduce
surface (operators/mapreduce.py), and writes R hash-partitioned key-sorted
``key SP value`` text files (sinks/textkv.py) — the reference's exact output
contract (worker.go:171-182 / mainseq.go:57-62). Worker count, failure
probability, and the coordinator/worker split have no analogue: Spark's
scheduler owns task placement, retries, and speculative re-issue
(session.py).

    python -m tp1_distribuidos_mapreduce_spark clean

deletes the work dirs of ended processes in ``/tmp``
(sources/artifacts.py ``clean_scratch``), then the package's lock files
(``clean_locks``), or none, with a non-zero exit, while any is held.

User plugins: where the reference dlopens a ``.so`` exposing Map/Reduce
(worker.go:256-282), this accepts ``module.path:ATTR`` naming either a
``MapReduceJob`` instance or a module exposing ``Map``/``Reduce`` (and
optionally ``Combine``) callables with the reference signatures.
"""

from __future__ import annotations

import argparse
import importlib
import sys

from .operators.mapreduce import II_JOB, WC_JOB, MapReduceJob, run_mapreduce
from .sinks.textkv import write_sorted_kv_text
from .sources.artifacts import clean_locks, clean_scratch
from .sources.text import read_text_corpus

BUILTIN_JOBS: dict[str, MapReduceJob] = {"wc": WC_JOB, "ii": II_JOB}


def resolve_job(spec: str) -> MapReduceJob:
    """``wc`` / ``ii`` (the reference's two shipped plugins) or
    ``module.path[:attr]`` — attr may be a MapReduceJob; with no attr the
    module itself must expose Map/Reduce[/Combine] (reference plugin
    contract, seq/sequential.go:14-15)."""
    if spec in BUILTIN_JOBS:
        return BUILTIN_JOBS[spec]
    mod_name, _, attr = spec.partition(":")
    try:
        mod = importlib.import_module(mod_name)
    except ImportError as ex:
        raise SystemExit(
            f"cannot load plugin {spec!r}: {ex} "
            f"(builtins: {', '.join(sorted(BUILTIN_JOBS))})"
        ) from ex
    if attr:
        job = getattr(mod, attr, None)
        if not isinstance(job, MapReduceJob):
            raise SystemExit(f"{spec!r} is not a MapReduceJob instance")
        return job
    if not (hasattr(mod, "Map") and hasattr(mod, "Reduce")):
        raise SystemExit(
            f"module {mod_name!r} must expose Map(doc_id, text) and "
            "Reduce(key, values) (reference plugin contract)"
        )
    return MapReduceJob(
        map_fn=mod.Map, reduce_fn=mod.Reduce, combine_fn=getattr(mod, "Combine", None)
    )


def clean() -> None:
    """Delete the work dirs of ended processes, then every package lock
    file, or none while one is held."""
    dirs = clean_scratch()
    print(f"deleted {len(dirs)} work dir(s) of ended processes", file=sys.stderr)
    deleted, held = clean_locks()
    if held:
        raise SystemExit(
            f"{len(held)} lock file(s) held by a running process, deleted "
            f"nothing: {', '.join(held)}"
        )
    print(f"deleted {len(deleted)} lock file(s)", file=sys.stderr)


def main(argv: list[str] | None = None) -> None:
    argv = sys.argv[1:] if argv is None else argv
    if argv == ["clean"]:
        return clean()
    ap = argparse.ArgumentParser(
        prog="python -m tp1_distribuidos_mapreduce_spark",
        description="Run a MapReduce plugin over text files (reference "
        "run_mr.sh / cmd/seq lifecycle, Spark-first).",
    )
    ap.add_argument(
        "plugin",
        help="wc | ii | module.path[:JOB_ATTR]; or `clean` alone to delete "
        "the package's lock files and dead processes' work dirs",
    )
    ap.add_argument("input", help="text file, directory, or glob (one doc per file)")
    ap.add_argument("output", help="output directory for sorted KV text files")
    ap.add_argument(
        "--num-partitions",
        type=int,
        default=None,
        metavar="R",
        help="output/reduce partition count (default: session shuffle "
        "parallelism; the reference hard-codes R=2, common/config.go:7)",
    )
    args = ap.parse_args(argv)

    job = resolve_job(args.plugin)
    if args.num_partitions is not None:
        import dataclasses

        job = dataclasses.replace(job, num_partitions=args.num_partitions)

    from .session import get_spark

    spark = get_spark(f"mr-{args.plugin}")
    spark.sparkContext.setLogLevel("ERROR")
    result = run_mapreduce(read_text_corpus(spark, args.input), job)
    from .operators.mapreduce import resolve_num_partitions

    write_sorted_kv_text(
        result, args.output, num_partitions=resolve_num_partitions(spark, job)
    )
    print(f"wrote sorted KV output to {args.output}", file=sys.stderr)


if __name__ == "__main__":
    main()
