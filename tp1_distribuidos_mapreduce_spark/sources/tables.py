"""Readers for the driver-generated fixture tables (TESTDATA.md).

One parquet file per table; columnar scan with Catalyst pushdown/pruning —
the Spark-native replacement for the reference's whole-text-file scan
(cmd/worker/worker.go:41-48), which had no notion of schema, projection, or
predicate pushdown.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .artifacts import artifact_path, build_once, content_tag, fixture_cache_tag

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Per-process parquet SCHEMA cache keyed on (path, size, mtime_ns) — pure
# metadata, the same class as Spark's own file-listing cache (filesource
# PartitionFileCacheSize): footer-based schema inference costs ~110 ms per
# spark.read.parquet() call vs ~17 ms with an explicit schema (measured
# r21, single-file fixture parquet), and every registered query pays it
# per table per invocation. A regenerated fixture (same path, new bytes)
# changes the key and re-infers — never a stale schema. No data and no
# results are cached; the scan itself always reads the parquet.
_SCHEMA_CACHE: dict[tuple[str, int, int], StructType] = {}


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The parquet's schema, inferred from its footer once per (path,
    size, mtime_ns). Raises OSError when ``path`` does not exist."""
    st = os.stat(path)
    key = (path, st.st_size, st.st_mtime_ns)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        schema = _SCHEMA_CACHE[key] = spark.read.parquet(path).schema
    return schema


def read_parquet_cached_schema(spark: SparkSession, path: str) -> DataFrame:
    try:
        schema = parquet_schema(spark, path)
    except OSError:
        return spark.read.parquet(path)
    return spark.read.schema(schema).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # Resolved on every call (a stat and the footer memo): a derived
        # µs copy is read directly, never behind a view, so a deleted
        # copy is rebuilt here instead of scanned through a stale view.
        src = _usec_events_path(spark, path)
        if src != path:
            return _normalize_ts(read_parquet_cached_schema(spark, src))
    # Per-session TEMP-VIEW reuse (r22, guide §6 — the catalog-view form
    # of the r21 schema cache): even with the cached schema, constructing
    # a fresh reader DataFrame costs ~11-28 ms per call (measured warm:
    # lineitem 15.4, events 27.6, nation 11.5 ms) and the bench pays it
    # ~350 times per pass. Registering the resolved frame once per
    # (session, fixture-identity) and returning spark.table(view)
    # (~4.9 ms) binds a NAME to the logical plan — the standard catalog
    # mechanism. No data and no results are cached: every action
    # re-plans and re-scans the parquet bytes, and each spark.table()
    # call re-instantiates the plan with fresh attribute ids (self-joins
    # of two load_table frames keep working — verified on the q21
    # two-lineitem-role pattern). A regenerated fixture (same path, new
    # bytes) changes the content-addressed tag and registers a NEW view,
    # never serving a stale plan. A missing fixture falls through to the
    # uncached reader so the error surface is unchanged.
    try:
        tag = fixture_cache_tag(sf_dir, name)
    except OSError:
        tag = None
    if tag is None:
        return read_parquet_cached_schema(spark, path)
    views = getattr(spark, "_graft_view_names", None)
    if views is None:
        views = {}
        spark._graft_view_names = views
    view = views.get(tag)
    if view is None:
        df = read_parquet_cached_schema(spark, path)
        if name == "events":
            df = _normalize_ts(df)
        view = f"graft_{name}_{tag}"
        df.createOrReplaceTempView(view)
        views[tag] = view
    return spark.table(view)


_NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def _usec_events_path(spark: SparkSession, path: str) -> str:
    """Path to a µs-timestamp copy of an events parquet: ``path`` itself
    when it is already readable without legacy confs, else a one-time
    converted /tmp artifact.

    The TIMESTAMP(NANOS) handling used to set the session-global
    nanosAsLong conf and LEAVE it on — after which any foreign parquet
    with a NANOS column read later in the session silently came back as
    raw bigint nanos instead of failing loudly (order-dependent, silent
    wrong dtypes). The conf is now toggled only around the eager
    conversion job and restored in a finally. The ns→µs truncate is an
    integer `div`, NOT double division: epoch-nanos (~1.7e18) exceeds
    double's 53-bit exact range. DuckDB also truncates ns→µs, so the
    oracle sees identical values.

    The copy's marker answers "already converted" without a footer read,
    and a deleted copy is rebuilt; a source that needs no conversion is
    probed through the footer memo, so a warm call infers nothing."""
    from pyspark.sql import functions as F

    out = artifact_path(f"events_us_{content_tag(path, 'us-v1')}")
    if os.path.exists(os.path.join(out, "_SUCCESS")):
        return out
    try:
        fields = parquet_schema(spark, path).fields
        if {f.name: f.dataType.simpleString() for f in fields}.get("ts") != "bigint":
            return path
        # ts reads as bigint only when some caller turned nanosAsLong on
        # globally — still convert so our output dtype stays timestamp.
    except Exception as ex:  # noqa: BLE001 — only the NANOS rejection
        if "NANOS" not in str(ex):
            raise

    def _build() -> None:
        prev = spark.conf.get(_NANOS_CONF, None)
        spark.conf.set(_NANOS_CONF, "true")
        try:
            df = spark.read.parquet(path)
            if dict(df.dtypes).get("ts") == "bigint":
                df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
            _normalize_ts(df).write.mode("overwrite").parquet(out)
        finally:
            if prev is None:
                spark.conf.unset(_NANOS_CONF)
            else:
                spark.conf.set(_NANOS_CONF, prev)

    return build_once(out, _build)


def _normalize_ts(df: DataFrame) -> DataFrame:
    """Force events.ts to TIMESTAMP (LTZ). Depending on the fixture's
    parquet logical type and Spark's NTZ inference
    (spark.sql.parquet.inferTimestampNTZ.enabled, on by default in 4.x),
    the column can load as TIMESTAMP_NTZ — which batch window()/groupBy
    accept but `withWatermark` rejects outright
    ([EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE]). The cast is value-exact
    because the session timezone is pinned to UTC (session.py), and LTZ
    is the dtype every watermark/stream path was built and verified
    against."""
    from pyspark.sql import functions as F

    if dict(df.dtypes).get("ts") == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def stream_events(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over an events parquet path (file or directory),
    with the same NANOS→micros handling as the batch reader so batch and
    streaming plans see an identical schema. ``max_files_per_trigger``
    splits a bounded replay into multiple micro-batches (used by tests to
    exercise watermarks and cross-batch state)."""
    src = _usec_events_path(spark, path)
    reader = spark.readStream.schema(parquet_schema(spark, src))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return _normalize_ts(reader.parquet(src))


def stream_parquet(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over any NANOS-free parquet path — the generic
    ingest reader for tables without a timestamp column (orders and
    documents feed the streaming Bloom and CMS folds, streaming/sinks.py).
    events must keep going through stream_events (NANOS→micros handling);
    the schema is read from the batch footer so batch and streaming plans
    see an identical shape. ``max_files_per_trigger`` splits a bounded
    replay into micro-batches (tests exercise the cross-batch fold)."""
    reader = spark.readStream.schema(parquet_schema(spark, path))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def register_views(
    spark: SparkSession, sf_dir: str, only: tuple[str, ...] | None = None
) -> dict[str, DataFrame]:
    """Register fixture tables as temp views (for the SQL API). ``only``
    restricts to the tables a query actually references — view
    registration is driver-side plan construction, and building all 10
    when a query joins 3 is pure per-call overhead."""
    names = TABLE_NAMES if only is None else only
    dfs = {name: load_table(spark, sf_dir, name) for name in names}
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
