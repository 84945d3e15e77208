"""Custom Python DataSource (Spark 4 `pyspark.sql.datasource` API): the
engine's connector surface for sources Spark has no built-in reader for.

The reference's source concept is "a directory of files, one task each"
(SURVEY §2 O1); Spark 4 generalizes it to a user-defined DataSource with
explicit PARTITION PLANNING — `partitions()` returns the parallel read
units and each executor calls `read(partition)` for its slice. This
module implements a deterministic synthetic-feed source ("detgen") as
the reference implementation of that surface:

* schema is declared by the source (DDL string);
* `partitions()` splits the keyspace into equal ranges — the planning
  contract a JDBC/REST/queue connector fills with real split metadata;
* `read()` generates each row from a pure integer formula (a Weyl-style
  multiplicative mix), so the SAME rows are derivable in ANSI SQL — the
  source is oracle-checkable end-to-end, unlike a random generator.

Scale notes: rows are produced lazily per partition (a generator — no
partition-sized buffer), partition count is an option (parallelism is
the caller's dial), and nothing touches the driver but the plan-time
option parsing. A real connector swaps the formula for I/O and keeps
the exact same shape.
"""

from __future__ import annotations

import json
import os
import uuid
from collections.abc import Iterator, Sequence
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    InputPartition,
    WriterCommitMessage,
)

DETGEN_SCHEMA = "id BIGINT, bucket INT, value BIGINT"

# Knuth's 32-bit multiplicative-hash constant: cheap integer mixing that
# both engines reproduce exactly in BIGINT arithmetic (no overflow at the
# row counts involved: id * 2654435761 < 2^63 for id < ~3.4e9).
_MIX = 2654435761
_MOD = 1_000_003  # prime modulus keeps bucket/value patterns non-degenerate


class _RangePartition(InputPartition):
    def __init__(self, start: int, end: int) -> None:
        self.start = start
        self.end = end


# Per-RecordBatch row cap for detgen generation: bounds executor memory
# to batch-size regardless of rows/partitions (a 250M-row partition must
# not materialize as one 6 GB batch).
_DETGEN_BATCH_ROWS = 1_000_000


class DetGenReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.n_rows = int(options.get("rows", 1000))
        self.n_parts = int(options.get("partitions", 4))
        if self.n_rows < 0:
            raise ValueError(f"detgen: rows must be >= 0, got {self.n_rows}")
        if self.n_parts <= 0:
            raise ValueError(
                f"detgen: partitions must be >= 1, got {self.n_parts}"
            )

    def partitions(self) -> Sequence[InputPartition]:
        per = (self.n_rows + self.n_parts - 1) // self.n_parts
        return [
            _RangePartition(i * per, min((i + 1) * per, self.n_rows))
            for i in range(self.n_parts)
            if i * per < self.n_rows
        ]

    def read(self, partition: _RangePartition | None) -> Iterator:
        # Arrow-batched generation: the DataSource read() contract accepts
        # pyarrow RecordBatches, which skip per-row Python tuple pickling
        # entirely — measured 4.5s → sub-second at 100k rows. A real
        # connector would stream batches off its wire format the same way.
        import numpy as np
        import pyarrow as pa

        if partition is None:
            # rows=0: partitions() returned [] and Spark falls back to a
            # single None-partition read — an empty result, not a crash
            return

        # chunked: one bounded batch at a time, never the whole partition
        # (the lazy-generator contract the module docstring promises).
        for lo in range(partition.start, partition.end, _DETGEN_BATCH_ROWS):
            hi = min(lo + _DETGEN_BATCH_ROWS, partition.end)
            ids = np.arange(lo, hi, dtype=np.int64)
            mixed = (ids * _MIX) % _MOD
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, type=pa.int64()),
                    pa.array((mixed % 97).astype(np.int32), type=pa.int32()),
                    pa.array((mixed * 31) % _MOD, type=pa.int64()),
                ],
                names=["id", "bucket", "value"],
            )


class DetGenDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "detgen"

    def schema(self) -> str:
        return DETGEN_SCHEMA

    def reader(self, schema) -> DetGenReader:
        return DetGenReader(self.options)


# Register each Python DataSource ONCE per session, under one shared
# lock, and pin the JVM ACTIVE SESSION on every calling thread. The
# second half is the load-bearing part: Python-datasource name lookup
# consults SparkSession.getActiveSession — a JVM THREAD-LOCAL — and
# py4j pins a fresh JVM thread to every new Python thread, which never
# had the active session set. Result: a save()/load() of a registered
# Python source from any thread other than the session's creator failed
# with DATA_SOURCE_NOT_FOUND even while dataSourceExists() returned
# true (reproduced deterministically with an 8-thread stress — 16/16
# failures without the pin, 0 with it). Every registered query that
# touches a Python source calls register_*() first, so routing the pin
# through here covers the concurrent oracle differential and any other
# multithreaded caller.
# WeakKeyDictionary keyed by the session OBJECT: a stopped session's
# entry dies with it, so a new session recycled at the same memory
# address can never inherit the old one's "already registered" state
# (the id(spark)-keyed set had exactly that trap), and the map cannot
# grow past the set of live sessions.
_DS_REGISTERED = __import__("weakref").WeakKeyDictionary()
_DS_REG_LOCK = __import__("threading").Lock()


def _ensure_active_session(spark) -> None:
    try:
        spark._jvm.org.apache.spark.sql.classic.SparkSession.setActiveSession(
            spark._jsparkSession
        )
    except AttributeError:  # Spark Connect: no JVM handle, no thread-local
        pass


def _register_once(spark, ds_class) -> None:
    _ensure_active_session(spark)
    with _DS_REG_LOCK:
        names = _DS_REGISTERED.setdefault(spark, set())
        if ds_class.name() in names:
            return
        spark.dataSource.register(ds_class)
        names.add(ds_class.name())


def register_detgen(spark) -> None:
    """Idempotently register the source with the session."""
    _register_once(spark, DetGenDataSource)


def detgen_bucket_stats(spark, n_rows: int = 100_000, n_parts: int = 8):
    """Aggregate over the custom source: per bucket, row count and value
    sum — proves the connector end-to-end (schema, partition planning,
    per-partition generators, downstream Catalyst aggregation) under the
    standard oracle gate, because the generation formula is pure integer
    arithmetic DuckDB can replay with generate_series."""
    from pyspark.sql import functions as F

    register_detgen(spark)
    df = (
        spark.read.format("detgen")
        .option("rows", n_rows)
        .option("partitions", n_parts)
        .load()
    )
    return (
        df.groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("value").cast("long").alias("value_sum"),
            F.min("id").cast("long").alias("first_id"),
        )
        .orderBy("bucket")
    )


def detgen_bucket_stats_oracle(n_rows: int = 100_000) -> str:
    """DuckDB oracle for ``detgen_bucket_stats`` — generated from the
    same ``n_rows`` as the query (partition count is plan-only and does
    not affect results), so a non-default row count can never silently
    pair with a stale fixed-size oracle string."""
    return f"""
WITH rows_ AS (
  SELECT i AS id,
         ((i * {_MIX}) % {_MOD}) % 97 AS bucket,
         (((i * {_MIX}) % {_MOD}) * 31) % {_MOD} AS value
  FROM generate_series(0, {n_rows - 1}) t(i)
)
SELECT CAST(bucket AS INTEGER) AS bucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(value) AS BIGINT) AS value_sum,
       CAST(min(id) AS BIGINT) AS first_id
FROM rows_
GROUP BY bucket
ORDER BY bucket
"""


DETGEN_BUCKET_STATS_ORACLE = detgen_bucket_stats_oracle()


# --------------------------------------------------------------------------
# rowdir: a FULL connector (reader + writer) with an output-commit protocol
# --------------------------------------------------------------------------
#
# The write side implements the Spark-4 DataSourceWriter contract — the
# modern analogue of the reference's output-commit step (coordinator
# collects per-task completion, then publishes results atomically;
# reference coordinator.go:241-273, SURVEY §3.1 step 8):
#
# * each TASK streams its Arrow batches into a uniquely-named file under
#   <path>/_temp/ and returns a WriterCommitMessage (file, n_rows) — a
#   failed or speculative duplicate attempt leaves only orphan temp
#   files, never a visible one;
# * the DRIVER's commit() promotes exactly the acknowledged files out of
#   _temp and publishes the manifest (_MANIFEST.json) via write-to-temp +
#   atomic rename — readers resolve ONLY manifest-listed files, so no
#   partial output is ever visible and the manifest swap is the single
#   commit point (overwrite replaces the file list wholesale; append
#   merges it);
# * abort() removes the temp area — the job leaves the directory exactly
#   as it found it;
# * every commit ALSO publishes an immutable per-version snapshot
#   manifest (_MANIFEST.vNNNNN.json, versions 1-based) and never deletes
#   superseded data files — `.option("version", N)` TIME-TRAVELS to any
#   retained snapshot (Iceberg/Delta semantics, natively), history is
#   enumerable (rowdir_history), and storage is reclaimed explicitly by
#   vacuum_rowdir (after which historical reads fail loudly).
#
# Payload is Arrow IPC (DataSourceArrowWriter / RecordBatch read) — the
# same no-per-row-pickling discipline as the detgen reader, and lossless
# for every Spark type Arrow covers. The path must be shared storage, the
# same requirement any Spark file sink has.

ROWDIR_MANIFEST = "_MANIFEST.json"


@dataclass
class _FileCommit(WriterCommitMessage):
    file: str
    n_rows: int
    # per-column zone map {col: [min, max]} over the file's non-null
    # values — integer and string columns only (JSON-stable, total
    # order identical in Python and Spark)
    stats: dict | None = None


def _rowdir_path(options: dict) -> str:
    path = options.get("path")
    if not path:
        raise ValueError("rowdir requires a path (use .save(path)/.load(path))")
    return path


def _version_manifest_name(version: int) -> str:
    return f"_MANIFEST.v{version:05d}.json"


def _read_manifest(path: str, version: int | None = None) -> dict:
    """Current manifest (the atomic pointer) or, for TIME TRAVEL, the
    immutable per-version snapshot written at each commit."""
    if version is None:
        mpath = os.path.join(path, ROWDIR_MANIFEST)
        if not os.path.exists(mpath):
            raise FileNotFoundError(
                f"rowdir: no committed data at {path} (missing "
                f"{ROWDIR_MANIFEST}) — either nothing was written or the "
                "writing job aborted"
            )
    else:
        mpath = os.path.join(path, _version_manifest_name(version))
        if not os.path.exists(mpath):
            raise FileNotFoundError(
                f"rowdir: no snapshot version {version} at {path} — never "
                "committed, or removed by vacuum_rowdir"
            )
    with open(mpath) as f:
        return json.load(f)


class RowDirArrowWriter(DataSourceArrowWriter):
    def __init__(self, options: dict, schema, overwrite: bool) -> None:
        self.path = _rowdir_path(options)
        self.schema_json = schema.json()
        self.overwrite = overwrite
        # optimistic concurrency (the Iceberg snapshot-CAS shape): when
        # `expectedVersion` is set, the commit REFUSES (loudly, pre-swap)
        # if another commit landed since the caller resolved the
        # manifest — compact_rowdir uses this so a concurrent append can
        # never be silently unlisted by the rewrite.
        ev = options.get("expectedversion", options.get("expectedVersion"))
        self.expected_version = None if ev is None else int(ev)

    def write(self, iterator) -> _FileCommit:
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.types as pt

        tmp_dir = os.path.join(self.path, "_temp")
        os.makedirs(tmp_dir, exist_ok=True)
        fname = f"task-{uuid.uuid4().hex}.arrow"
        n = 0
        writer = sink = None
        stats: dict[str, list] = {}
        try:
            for batch in iterator:
                if writer is None:
                    sink = pa.OSFile(os.path.join(tmp_dir, fname), "wb")
                    writer = pa.ipc.new_file(sink, batch.schema)
                writer.write_batch(batch)
                n += batch.num_rows
                # fold the batch into the file's zone map (integer and
                # string columns only — JSON-stable with a total order
                # Python and Spark agree on)
                for field, col in zip(batch.schema, batch.columns):
                    if not (pt.is_integer(field.type) or pt.is_string(field.type)):
                        continue
                    mm = pc.min_max(col)
                    lo, hi = mm["min"].as_py(), mm["max"].as_py()
                    if lo is None:  # all-null batch column
                        continue
                    cur = stats.get(field.name)
                    stats[field.name] = (
                        [lo, hi]
                        if cur is None
                        else [min(cur[0], lo), max(cur[1], hi)]
                    )
        except BaseException:
            # a failing task cleans its OWN partial file immediately —
            # abort() only ever learns the names of files whose tasks
            # returned a commit message, so this is the only place the
            # partial can be reclaimed deterministically
            if writer is not None:
                writer.close()
                sink.close()
                writer = sink = None
                try:
                    os.remove(os.path.join(tmp_dir, fname))
                except FileNotFoundError:
                    pass
            raise
        finally:
            if writer is not None:
                writer.close()
                sink.close()
        if n == 0:
            # a task whose batches were all zero-row still opened a file;
            # the ''-named commit message means neither commit() nor
            # abort() would ever reclaim it — remove it here.
            try:
                os.remove(os.path.join(tmp_dir, fname))
            except FileNotFoundError:
                pass
        # empty partition → no file, and commit() skips the entry
        return _FileCommit(fname if n else "", n, stats if n else None)

    def commit(self, messages) -> None:
        self.commit_with_guard(messages)

    def commit_with_guard(
        self,
        messages,
        batch_id: int | None = None,
        writer_id: str | None = None,
    ) -> None:
        # Serialize the manifest read-modify-write across concurrent
        # committers on this host (two simultaneous appends would
        # otherwise each merge against the same old manifest and the
        # second swap would unlist the first's files). On real shared
        # storage the equivalent is a conditional put / table-catalog
        # commit.
        import fcntl

        os.makedirs(self.path, exist_ok=True)  # zero-task write commits too
        with open(os.path.join(self.path, ".commit_lock"), "w") as lf:
            fcntl.flock(lf, fcntl.LOCK_EX)
            try:
                self._commit_locked(messages, batch_id, writer_id)
            finally:
                fcntl.flock(lf, fcntl.LOCK_UN)

    def _drop_staged(self, messages) -> None:
        for m in messages:
            if m is not None and m.file:
                try:
                    os.remove(os.path.join(self.path, "_temp", m.file))
                except FileNotFoundError:
                    pass
        self._try_rmdir_temp()

    def _commit_locked(
        self,
        messages,
        batch_id: int | None = None,
        writer_id: str | None = None,
    ) -> None:
        new_files = [
            {"file": m.file, "n_rows": m.n_rows, "stats": m.stats or {}}
            for m in messages
            if m is not None and m.file
        ]
        old_files: list[dict] = []
        old_version = 0  # versions are 1-based: first commit publishes v1
        stream_marks: dict[str, int] = {}
        mpath = os.path.join(self.path, ROWDIR_MANIFEST)
        if os.path.exists(mpath):
            with open(mpath) as f:
                old = json.load(f)
            if not self.overwrite and old["schema"] != self.schema_json:
                raise ValueError(
                    "rowdir append: schema differs from the committed manifest"
                )
            old_files = old["files"]
            old_version = old.get("version", 0)
            stream_marks = dict(old.get("stream_marks", {}))
        if (
            self.expected_version is not None
            and old_version != self.expected_version
        ):
            # optimistic-CAS refusal: another commit landed since the
            # caller resolved the manifest — fail loudly BEFORE any file
            # promotion; the staged files are reclaimed and the caller
            # (e.g. compact_rowdir) reruns against the new snapshot
            self._drop_staged(messages)
            raise RuntimeError(
                f"rowdir: concurrent commit detected (expected version "
                f"{self.expected_version}, found {old_version}) — rerun"
            )
        if batch_id is not None:
            # streaming exactly-once: per-WRITER high-water mark, so two
            # independent streaming queries (distinct writerId) can share
            # a table while each one's replays are still dropped whole
            if batch_id <= stream_marks.get(writer_id, -1):
                self._drop_staged(messages)
                return
            stream_marks[writer_id] = batch_id
        for e in new_files:
            os.replace(
                os.path.join(self.path, "_temp", e["file"]),
                os.path.join(self.path, e["file"]),
            )
        manifest = {
            "version": old_version + 1,
            "schema": self.schema_json,
            "files": (new_files if self.overwrite else old_files + new_files),
            # per-writer high-water marks for the STREAMING replay
            # guard; batch commits carry the prior marks forward
            "stream_marks": stream_marks,
        }
        # immutable per-version snapshot first (time travel reads it),
        # then the atomic current-pointer swap — the single commit point.
        # Superseded data files are NOT deleted (older snapshots still
        # reference them); vacuum_rowdir reclaims them explicitly.
        vpath = os.path.join(
            self.path, _version_manifest_name(manifest["version"])
        )
        tmp = vpath + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, vpath)
        tmp2 = mpath + f".tmp-{uuid.uuid4().hex}"
        with open(tmp2, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp2, mpath)
        # Cleanup is OWNERSHIP-SCOPED: this job's files were promoted by
        # the os.replace calls above; a blanket rmtree of _temp would
        # destroy a CONCURRENT job's staged-but-uncommitted files (caught
        # by test_rowdir_concurrent_appends_lose_nothing). The rmdir only
        # succeeds when no other job is mid-stage.
        self._try_rmdir_temp()

    def _try_rmdir_temp(self) -> None:
        try:
            os.rmdir(os.path.join(self.path, "_temp"))
        except OSError:
            pass  # non-empty (another job staging) or already gone

    def abort(self, messages) -> None:
        # failed tasks already removed their own partials in write();
        # remove the files of tasks that SUCCEEDED before the job died
        for m in messages:
            if m is not None and m.file:
                try:
                    os.remove(os.path.join(self.path, "_temp", m.file))
                except FileNotFoundError:
                    pass
        self._try_rmdir_temp()


class RowDirStreamArrowWriter(DataSourceStreamArrowWriter):
    """Streaming half of the commit protocol: each microbatch appends
    through the same task-file → manifest machinery, and commit() is
    keyed by Spark's monotonically increasing batchId — a replayed
    microbatch after a restart (batchId ≤ the manifest's high-water
    mark) is dropped whole, never applied twice. Combined with the
    atomic manifest swap this gives EXACTLY-ONCE table contents on top
    of Structured Streaming's at-least-once redelivery — the same
    versioned-state + replay-skip discipline as the IVM sink
    (streaming/sinks.py), carried natively by the connector."""

    def __init__(self, options: dict, schema, overwrite: bool = False) -> None:
        # `overwrite` is Spark's per-microbatch replace flag (True for
        # complete/truncate output modes): ignoring it would silently
        # APPEND every microbatch's full aggregate state, accumulating a
        # stale copy of every key per batch.
        self._inner = RowDirArrowWriter(options, schema, overwrite=overwrite)
        # Replay marks are PER WRITER: batchIds restart at 0 for every
        # new checkpoint, so a single table-global mark would silently
        # drop the early batches of any second producer (or of the same
        # pipeline after a checkpoint reset). Distinct producers set a
        # distinct writerId option — the Delta txn-appId discipline; a
        # single-producer table can use the default.
        self.writer_id = str(options.get("writerid", options.get("writerId", "default")))

    def write(self, iterator):
        return self._inner.write(iterator)

    def commit(self, messages, batchId: int) -> None:
        self._inner.commit_with_guard(
            messages, batch_id=batchId, writer_id=self.writer_id
        )

    def abort(self, messages, batchId: int) -> None:
        self._inner.abort(messages)


class _RowDirFilePartition(InputPartition):
    def __init__(self, file: str) -> None:
        self.file = file


def _rowdir_version_opt(options: dict) -> int | None:
    v = options.get("version")
    return None if v is None else int(v)


def _zone_map_excludes(flt, stats: dict) -> bool:
    """True iff the file's [lo, hi] zone map PROVES the pushed filter
    matches nothing in the file. Conservative: unknown filter shapes,
    missing stats, and cross-type comparisons never exclude — and Spark
    re-applies every filter row-wise anyway (pushFilters returns them
    all), so the only correctness obligation lives in this proof."""
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThan,
        GreaterThanOrEqual,
        In,
        LessThan,
        LessThanOrEqual,
    )

    if not isinstance(
        flt,
        (EqualTo, In, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual),
    ):
        return False  # value-less shapes (IsNull/IsNotNull/...) never prune
    attr = getattr(flt, "attribute", None)
    if not attr or len(attr) != 1:
        return False
    bounds = stats.get(attr[0])
    if not bounds:
        return False
    lo, hi = bounds
    vals = flt.value if isinstance(flt, In) else [flt.value]
    for v in vals:
        same_type = (isinstance(v, int) and isinstance(lo, int)) or (
            isinstance(v, str) and isinstance(lo, str)
        )
        if not same_type:
            return False
    if isinstance(flt, EqualTo):
        return flt.value < lo or flt.value > hi
    if isinstance(flt, In):
        return all(v < lo or v > hi for v in flt.value)
    if isinstance(flt, GreaterThan):
        return hi <= flt.value
    if isinstance(flt, GreaterThanOrEqual):
        return hi < flt.value
    if isinstance(flt, LessThan):
        return lo >= flt.value
    if isinstance(flt, LessThanOrEqual):
        return lo > flt.value
    return False


class RowDirReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.path = _rowdir_path(options)
        self.file_entries = _read_manifest(
            self.path, _rowdir_version_opt(options)
        )["files"]
        # `files` option: restrict the scan to an explicit comma-joined
        # subset of the snapshot's files (the change-feed path). Names
        # must belong to the resolved manifest — an unknown name is a
        # loud error, never a silent full scan.
        subset = options.get("files")
        if subset is not None:
            want = [f for f in subset.split(",") if f]
            known = {e["file"]: e for e in self.file_entries}
            unknown = [f for f in want if f not in known]
            if unknown:
                raise ValueError(
                    f"rowdir: files not in the resolved snapshot: {unknown}"
                )
            self.file_entries = [known[f] for f in want]
        self.pushed: list = []

    def pushFilters(self, filters):
        """Spark 4.1 filter-pushdown contract: remember every pushed
        conjunct for zone-map FILE PRUNING in partitions(), and return
        them all — Spark re-evaluates row-wise, so pruning only ever
        skips whole files the manifest stats prove empty for the
        predicate (the Iceberg/Delta data-skipping shape)."""
        self.pushed = list(filters)
        return filters

    def partitions(self) -> Sequence[InputPartition]:
        return [
            _RowDirFilePartition(e["file"])
            for e in self.file_entries
            if not any(
                _zone_map_excludes(f, e.get("stats") or {}) for f in self.pushed
            )
        ]

    def read(self, partition: _RowDirFilePartition | None) -> Iterator:
        import pyarrow as pa

        if partition is None:
            # an EMPTY table: partitions() returned [], and Spark falls
            # back to a single None-partition read — yield nothing
            return
        with pa.ipc.open_file(os.path.join(self.path, partition.file)) as r:
            for i in range(r.num_record_batches):
                yield r.get_batch(i)


class RowDirDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "rowdir"

    def schema(self):
        from pyspark.sql.types import StructType

        m = _read_manifest(
            _rowdir_path(self.options), _rowdir_version_opt(self.options)
        )
        # pin the version schema() resolved so reader() scans the SAME
        # snapshot: resolving the manifest twice would let a concurrent
        # schema-changing overwrite land between the calls and bind the
        # old schema to the new version's files.
        self._resolved_version = m["version"]
        return StructType.fromJson(json.loads(m["schema"]))

    def reader(self, schema) -> RowDirReader:
        opts = self.options
        if (
            _rowdir_version_opt(opts) is None
            and getattr(self, "_resolved_version", None) is not None
        ):
            opts = dict(opts)
            opts["version"] = str(self._resolved_version)
        return RowDirReader(opts)

    def writer(self, schema, overwrite: bool) -> RowDirArrowWriter:
        return RowDirArrowWriter(self.options, schema, overwrite)

    def streamWriter(self, schema, overwrite: bool) -> RowDirStreamArrowWriter:
        return RowDirStreamArrowWriter(self.options, schema, overwrite)


def register_rowdir(spark) -> None:
    """Idempotently register the rowdir source with the session, and
    enable Python-DataSource filter pushdown — planning REFUSES a
    pushdown-capable reader (pushFilters present) while the flag is
    false, so any session running rowdir queries needs it (runtime-
    settable; also set by session.py tune_for_oracle, which get_spark
    applies)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    _register_once(spark, RowDirDataSource)


def rowdir_roundtrip_priority_revenue(spark, sf_dir: str):
    """Write orders through the rowdir COMMIT PROTOCOL, read them back
    through its manifest-resolved reader, and aggregate — proves the
    writer contract end-to-end (task files → commit messages → atomic
    manifest publish → manifest-scoped scan) under the standard oracle
    gate: the oracle computes the same aggregate from the orders table
    directly, so any lost/duplicated/partial file breaks the hash.

    Money is integral cents at write time (the engine's exact-sum
    discipline), divided once at the output edge. The Spark-4 analogue of
    the reference's output-commit step (coordinator.go:241-273)."""
    from pyspark.sql import functions as F

    from .artifacts import fixture_artifact
    from .tables import load_table

    register_rowdir(spark)

    def build(out: str) -> None:
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_orderpriority",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        ).write.format("rowdir").mode("overwrite").save(out)

    out = fixture_artifact(
        "rowdir_orders", sf_dir, "orders", "rowdir-v1",
        build=build, marker=ROWDIR_MANIFEST,
    )
    back = spark.read.format("rowdir").load(out)
    return (
        back.groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            (F.sum("cents") / 100.0).alias("revenue"),
            F.min("o_orderkey").cast("long").alias("first_orderkey"),
        )
        .orderBy("o_orderpriority")
    )


ROWDIR_ROUNDTRIP_ORACLE = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS revenue,
       CAST(min(o_orderkey) AS BIGINT) AS first_orderkey
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def rowdir_history(path: str) -> list[dict]:
    """Snapshot history: one dict (version, n_files, n_rows) per
    committed version still on disk, ascending."""
    out = []
    for f in sorted(os.listdir(path)):
        if f.startswith("_MANIFEST.v") and f.endswith(".json"):
            with open(os.path.join(path, f)) as fh:
                m = json.load(fh)
            out.append(
                {
                    "version": m["version"],
                    "n_files": len(m["files"]),
                    "n_rows": sum(e["n_rows"] for e in m["files"]),
                }
            )
    return out


def vacuum_rowdir(path: str) -> list[str]:
    """Reclaim storage: drop every data file and snapshot manifest not
    referenced by the CURRENT version (after which time-travel reads of
    older versions fail loudly with the vacuum-aware error). Returns the
    removed names. Serialized against concurrent commits by the same
    per-table lock the committer takes."""
    import fcntl

    removed: list[str] = []
    with open(os.path.join(path, ".commit_lock"), "w") as lf:
        fcntl.flock(lf, fcntl.LOCK_EX)
        try:
            current = _read_manifest(path)
            keep_files = {e["file"] for e in current["files"]}
            keep_manifest = _version_manifest_name(current["version"])
            for f in os.listdir(path):
                dead_data = f.endswith(".arrow") and f not in keep_files
                dead_manifest = (
                    f.startswith("_MANIFEST.v")
                    and f.endswith(".json")
                    and f != keep_manifest
                )
                # a committer that crashed between json.dump and
                # os.replace leaves *.json.tmp-<hex> orphans
                dead_tmp_manifest = ".json.tmp-" in f
                if dead_data or dead_manifest or dead_tmp_manifest:
                    os.remove(os.path.join(path, f))
                    removed.append(f)
            # staged-file orphans from crashed jobs (commit/abort only
            # ever reclaim files they own) are vacuum's to sweep — but
            # ONLY when no writer is mid-stage, which the exclusive
            # commit lock we hold cannot itself guarantee, so this stays
            # an explicit maintenance call, same as any table format
            tmp = os.path.join(path, "_temp")
            if os.path.isdir(tmp):
                for f in os.listdir(tmp):
                    os.remove(os.path.join(tmp, f))
                    removed.append(os.path.join("_temp", f))
                os.rmdir(tmp)
        finally:
            fcntl.flock(lf, fcntl.LOCK_UN)
    return sorted(removed)


def rowdir_time_travel_census(spark, sf_dir: str):
    """TIME TRAVEL through the versioned manifests: version 1 of the
    artifact holds only pre-1997 orders (initial overwrite commit),
    version 2 appends the rest; the query reads BOTH snapshots of the
    same table path — `.option("version", 1)` against the immutable
    snapshot manifest, the bare path against the current pointer — and
    aggregates each by year. The oracle replays both snapshots as
    filtered aggregates of the orders table, so a snapshot that leaked
    post-cutoff rows (or a current read that lost the append) breaks
    the hash. This is the table-format contract (Iceberg/Delta
    time-travel semantics) carried natively by the rowdir connector's
    manifest design."""
    from pyspark.sql import functions as F

    from .artifacts import fixture_artifact
    from .tables import load_table

    register_rowdir(spark)
    cutoff = "1997-01-01"

    def build(out: str) -> None:
        base = load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            F.year("o_orderdate").alias("year"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
            F.col("o_orderdate").alias("odate"),
        )
        pre = base.where(F.col("odate") < F.lit(cutoff).cast("timestamp"))
        post = base.where(F.col("odate") >= F.lit(cutoff).cast("timestamp"))
        pre.drop("odate").write.format("rowdir").mode("overwrite").save(out)
        post.drop("odate").write.format("rowdir").mode("append").save(out)
        # two-commit build: the marker is written LAST, so a crash
        # between commits can never cache a half-built artifact
        with open(os.path.join(out, "_BUILD_DONE"), "w") as f:
            f.write("ok")

    out = fixture_artifact(
        "rowdir_tt_orders", sf_dir, "orders", "rowdir-tt-v2",
        build=build, marker="_BUILD_DONE",
    )

    def census(df, snapshot: str):
        return df.groupBy("year").agg(
            F.lit(snapshot).alias("snapshot"),
            F.count("*").cast("long").alias("n_orders"),
            (F.sum("cents") / 100.0).alias("revenue"),
        )

    v1 = spark.read.format("rowdir").option("version", 1).load(out)
    cur = spark.read.format("rowdir").load(out)
    return (
        census(v1, "v1")
        .unionByName(census(cur, "current"))
        .select("snapshot", "year", "n_orders", "revenue")
        .orderBy("snapshot", "year")
    )


ROWDIR_TIME_TRAVEL_ORACLE = """
WITH base AS (
  SELECT year(o_orderdate) AS year,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         o_orderdate
  FROM orders
), v1 AS (
  SELECT 'v1' AS snapshot, year,
         CAST(count(*) AS BIGINT) AS n_orders,
         sum(cents) / 100.0 AS revenue
  FROM base WHERE o_orderdate < TIMESTAMP '1997-01-01'
  GROUP BY year
), cur AS (
  SELECT 'current' AS snapshot, year,
         CAST(count(*) AS BIGINT) AS n_orders,
         sum(cents) / 100.0 AS revenue
  FROM base
  GROUP BY year
)
SELECT snapshot, year, n_orders, revenue FROM v1
UNION ALL
SELECT snapshot, year, n_orders, revenue FROM cur
ORDER BY snapshot, year
"""


def rowdir_pruned_scan_census(spark, sf_dir: str):
    """Zone-map FILE PRUNING through the pushFilters contract: the
    artifact is range-partitioned by year at write time (so each
    committed file's manifest stats cover a narrow year band), and the
    year predicate below prunes whole files at planning time before a
    row is read — the Iceberg/Delta data-skipping shape carried by the
    connector's own manifest stats. Correctness does not depend on the
    pruning proof (Spark re-applies every filter row-wise; the oracle
    gate would catch an over-prune as missing rows); the mechanical
    file-skip count is pinned in tests/test_sources_contract.py."""
    from pyspark.sql import functions as F

    from .artifacts import fixture_artifact
    from .tables import load_table

    register_rowdir(spark)

    def build(out: str) -> None:
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            F.year("o_orderdate").alias("year"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        ).repartitionByRange(4, "year").write.format("rowdir").mode(
            "overwrite"
        ).save(out)

    out = fixture_artifact(
        "rowdir_zm_orders", sf_dir, "orders", "rowdir-zonemap-v1",
        build=build, marker=ROWDIR_MANIFEST,
    )
    return (
        spark.read.format("rowdir")
        .load(out)
        .where(F.col("year") >= 1997)
        .groupBy("year")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            (F.sum("cents") / 100.0).alias("revenue"),
        )
        .orderBy("year")
    )


ROWDIR_PRUNED_SCAN_ORACLE = """
SELECT year(o_orderdate) AS year,
       CAST(count(*) AS BIGINT) AS n_orders,
       sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS revenue
FROM orders
WHERE year(o_orderdate) >= 1997
GROUP BY year(o_orderdate)
ORDER BY year
"""


def compact_rowdir(spark, path: str, target_rows: int = 1_000_000) -> dict:
    """OPTIMIZE for the rowdir table: rewrite the CURRENT snapshot's
    many small files into few ~target_rows files as a NEW VERSION with
    identical contents — the small-file compaction every append-heavy
    table needs (streaming commits produce one file per task per
    microbatch). Runs through the ordinary writer, so the rewrite gets
    the same atomic manifest swap, zone-map stats, and time-travel
    retention as any commit: readers mid-query keep their snapshot, and
    the pre-compaction version stays readable until vacuum. Returns
    {files_before, files_after, version}.

    At 100 TB this is the background maintenance job: the rewrite is one
    distributed read + one coalesced write, never a driver-side row."""
    register_rowdir(spark)
    before = _read_manifest(path)
    n_rows = sum(e["n_rows"] for e in before["files"])
    n_out = max(1, -(-n_rows // target_rows))
    (
        spark.read.format("rowdir")
        .option("version", before["version"])  # pin the snapshot we rewrite
        .load(path)
        # repartition, NOT coalesce: coalesce propagates its cap
        # upstream and would read thousands of small files in n_out
        # tasks; the shuffle keeps the read at full parallelism and
        # only the write narrows
        .repartition(n_out)
        .write.format("rowdir")
        .mode("overwrite")
        # optimistic CAS: if ANY commit (append, streaming batch)
        # landed after the snapshot above was resolved, the rewrite
        # REFUSES instead of silently unlisting those rows — the caller
        # reruns against the new snapshot
        .option("expectedVersion", before["version"])
        .save(path)
    )
    after = _read_manifest(path)
    return {
        "files_before": len(before["files"]),
        "files_after": len(after["files"]),
        "version": after["version"],
    }


def rowdir_changes(spark, path: str, since_version: int, to_version: int | None = None):
    """Append-only CHANGE FEED between two snapshots: the rows of every
    file present in ``to_version`` (default: current) but not in
    ``since_version`` — the Delta-CDF shape for append workloads
    (streaming commits, batch appends). Whole files are the change unit,
    so the feed is a manifest diff plus a scan of exactly the new files;
    nothing is re-read from the old snapshot. An overwrite (including
    compaction) rewrites the file set, so a feed that crosses one
    reports the rewritten files — call sites that need strict row-level
    deltas should consume the feed between append-only versions, which
    is what a streaming producer emits."""
    register_rowdir(spark)
    old = {e["file"] for e in _read_manifest(path, since_version)["files"]}
    new_manifest = _read_manifest(path, to_version)
    new_files = [e["file"] for e in new_manifest["files"] if e["file"] not in old]
    if not new_files:
        from pyspark.sql.types import StructType

        return spark.createDataFrame(
            [], StructType.fromJson(json.loads(new_manifest["schema"]))
        )
    # a fully DISTRIBUTED scan of exactly the changed files — the
    # reader's `files` option restricts its partition plan to the diff,
    # one Arrow partition per changed file; no byte touches the driver
    reader = spark.read.format("rowdir").option("files", ",".join(new_files))
    if to_version is not None:
        reader = reader.option("version", to_version)
    return reader.load(path)


def merge_rowdir(spark, path: str, updates, key: str) -> dict:
    """Copy-on-write MERGE (upsert) into the rowdir table: rows of
    ``updates`` replace current rows with the same ``key`` and new keys
    are inserted, published as one new version. The rewrite is a plain
    outer-shaped DataFrame plan (current left-anti updates, union) —
    Catalyst's problem, not a row-at-a-time loop — and the commit
    carries the optimistic-CAS guard, so a concurrent append/stream
    batch makes the merge REFUSE loudly instead of silently reverting
    it. Returns {version, n_updated, n_inserted}.

    Copy-on-write is the right default for analytic tables (reads stay
    plain scans); a merge-on-read delete-vector variant is the known
    next step if update rates ever dominate.

    Contract guards: ``updates`` must be key-unique (an un-deduplicated
    CDC feed would plant duplicate keys in the merged version and skew
    the stats — fail loudly instead), and the key match is NULL-SAFE
    (a plain equi-anti-join never matches NULL==NULL, so a NULL-key row
    would survive every merge and duplicate — the eqNullSafe class the
    IVM sink fold fixed). Stats come from the manifests' exact per-file
    row counts plus one count of the small updates batch — no full
    table scans beyond the rewrite itself."""
    from pyspark.sql import functions as F

    register_rowdir(spark)
    before = _read_manifest(path)
    n_updates = updates.count()
    n_distinct_keys = updates.select(key).distinct().count()
    if n_distinct_keys != n_updates:
        raise ValueError(
            f"merge_rowdir: updates carry {n_updates} rows but only "
            f"{n_distinct_keys} distinct {key!r} values — upserts require "
            "key-unique updates (dedupe the batch first)"
        )
    current = (
        spark.read.format("rowdir")
        .option("version", before["version"])
        .load(path)
    )
    n_total = sum(e["n_rows"] for e in before["files"])
    u_keys = updates.select(F.col(key).alias("__merge_key"))
    kept = current.join(
        u_keys, current[key].eqNullSafe(u_keys["__merge_key"]), "left_anti"
    )
    merged = kept.unionByName(updates)
    (
        merged.write.format("rowdir")
        .mode("overwrite")
        .option("expectedVersion", before["version"])
        .save(path)
    )
    after = _read_manifest(path)
    n_after = sum(e["n_rows"] for e in after["files"])
    n_kept = n_after - n_updates
    return {
        "version": after["version"],
        "n_updated": n_total - n_kept,
        "n_inserted": n_updates - (n_total - n_kept),
    }
