"""Tracing for a traced run: spans around the package's layer entry points
and Spark's own counters, assigned to ops.

Spans are kept in memory and written out when the run ends. The wrappers
live only in the benchmark process: install() re-binds every name in the
package's modules that refers to a wrapped function, including names a
module imported with ``from ... import``, and uninstall() restores them.
"""

from __future__ import annotations

import contextlib
import functools
import sys
import threading
import time
from typing import Any

PACKAGE = "tp1_distribuidos_mapreduce_spark"

# (module, function-name prefix) -> span name
WRAPPED = [
    ("sources.tables", "load_table", "sources.load_table"),
    ("sources.text", "read_text_corpus", "sources.read_text_corpus"),
    ("sources.artifacts", "build_once", "sources.artifacts.build_once"),
    ("operators.mapreduce", "run_mapreduce", "operators.mapreduce"),
    ("operators.wordcount", "word_count", "operators.wordcount"),
    ("operators.wordcount", "inverted_index", "operators.wordcount"),
    ("sinks.textkv", "write_sorted_kv_text", "sinks.write_sorted_kv_text"),
    ("streaming.sinks", "write_stream_", "streaming.drain"),
]


class Tracer:
    """Records spans while ``enabled``; otherwise span() is a no-op
    context, so the untraced phase pays one attribute test per span."""

    _null = contextlib.nullcontext()

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict[str, Any]] = []
        self.op_id: int | None = None
        self._local = threading.local()

    def span(self, name: str):
        return self._record(name) if self.enabled else self._null

    @contextlib.contextmanager
    def _record(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        idx = len(self.spans)
        rec = {
            "name": name,
            "op": self.op_id,
            "parent": stack[-1] if stack else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        stack.append(idx)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def totals(self, op_ids: set[int]) -> dict[str, dict[str, float]]:
        """Per span name over the given ops: inclusive seconds, self seconds
        (span minus the time its child spans cover) and call count."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict[str, float]] = {}
        for i, s in enumerate(self.spans):
            if s["op"] not in op_ids:
                continue
            t = out.setdefault(s["name"], {"s": 0.0, "self_s": 0.0, "calls": 0})
            dur = s["end"] - s["start"]
            t["s"] += dur
            t["self_s"] += dur - child_time[i]
            t["calls"] += 1
        return out


def install(tracer: Tracer) -> list[tuple[Any, str, Any]]:
    """Wrap the layer entry points; return what uninstall() needs."""
    import importlib

    originals: dict[int, tuple[Any, Any]] = {}
    for mod_name, prefix, span_name in WRAPPED:
        mod = importlib.import_module(f"{PACKAGE}.{mod_name}")
        for attr, fn in list(vars(mod).items()):
            if attr.startswith(prefix) and callable(fn) and getattr(fn, "__module__", None) == mod.__name__:
                originals[id(fn)] = (fn, tracer.wrap(fn, span_name))
    restore = []
    for name, mod in list(sys.modules.items()):
        if not (name == PACKAGE or name.startswith(PACKAGE + ".")) or mod is None:
            continue
        for attr, value in list(vars(mod).items()):
            hit = originals.get(id(value))
            if hit is not None and hit[0] is value:
                setattr(mod, attr, hit[1])
                restore.append((mod, attr, value))
    return restore


def uninstall(restore: list[tuple[Any, str, Any]]) -> None:
    for mod, attr, value in restore:
        setattr(mod, attr, value)


# ---------------------------------------------------------------------------
# Spark counters, read from the driver's status store after each op.
# ---------------------------------------------------------------------------

_STAGE_FIELDS = {
    "spark.executor_run_s": ("executorRunTime", 1e-3),
    "spark.executor_cpu_s": ("executorCpuTime", 1e-9),
    "spark.input_mb": ("inputBytes", 1e-6),
    "spark.shuffle_read_mb": ("shuffleReadBytes", 1e-6),
    "spark.shuffle_write_mb": ("shuffleWriteBytes", 1e-6),
    "spark.shuffle_fetch_wait_s": ("shuffleFetchWaitTime", 1e-3),
    "spark.gc_s": ("jvmGcTime", 1e-3),
    "spark.spill_mb": ("diskBytesSpilled", 1e-6),
    "spark.tasks": ("numCompleteTasks", 1),
    "spark.task_failures": ("numFailedTasks", 1),
}

COUNTER_NAMES = ["spark.jobs", "spark.stages", *_STAGE_FIELDS, "spark.job_s"]


class SparkCounters:
    """Assigns Spark jobs to ops by job id: the jobs an op ran are those
    whose ids are above the highest id seen before it started. Job groups
    would miss streaming micro-batch jobs, which run on another thread."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext._jsc.sc()
        self._store = sc.statusStore()
        self._bus = sc.listenerBus()
        self.last_job = self._max_job_id()

    def _max_job_id(self) -> int:
        self._bus.waitUntilEmpty()
        jobs = self._store.jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    def mark(self) -> None:
        self.last_job = self._max_job_id()

    def collect(self) -> dict[str, Any]:
        """Counters of every job since the last mark(), plus their
        [start, end] intervals in epoch seconds; then mark(). The store is
        fed through the listener bus, so the bus is drained first: a job
        whose end event is still queued would read as unfinished."""
        self._bus.waitUntilEmpty()
        jobs = self._store.jobsList(None)
        out: dict[str, Any] = {n: 0.0 for n in COUNTER_NAMES}
        intervals = []
        newest = self.last_job
        for i in range(jobs.size()):
            j = jobs.apply(i)
            jid = j.jobId()
            if jid <= self.last_job:
                break
            newest = max(newest, jid)
            out["spark.jobs"] += 1
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            ids = j.stageIds()
            for k in range(ids.size()):
                for s in self._stage(ids.apply(k)):
                    if s.status().toString() == "SKIPPED":
                        continue
                    out["spark.stages"] += 1
                    for metric, (field, scale) in _STAGE_FIELDS.items():
                        out[metric] += getattr(s, field)() * scale
        self.last_job = newest
        out["spark.job_s"] = _union_length(intervals)
        out["intervals"] = intervals
        return out

    def _stage(self, stage_id: int):
        try:
            attempts = self._store.stageData(stage_id, False, None, False, None)
        except Exception:  # evicted or never submitted
            return []
        return [attempts.apply(i) for i in range(attempts.size())]


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total
