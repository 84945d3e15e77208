"""Readers for the driver-generated fixture tables (TESTDATA.md).

One parquet file per table; columnar scan with Catalyst pushdown/pruning —
the Spark-native replacement for the reference's whole-text-file scan
(cmd/worker/worker.go:41-48), which had no notion of schema, projection, or
predicate pushdown.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

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

# Dimension tables small enough to broadcast at ANY scale factor (their
# cardinality is fixed or near-fixed in TPC-H-style schemas: region=5,
# nation=25). Join planners should broadcast these unconditionally.
ALWAYS_BROADCAST = frozenset({"region", "nation"})


def fixture_cache_tag(sf_dir: str, name: str, *extra: object) -> str:
    """Content-addressed tag for /tmp artifacts derived from a fixture
    table: md5 over the parquet's path, size, and mtime, plus any
    derivation parameters. A regenerated fixture (same path, new bytes) or
    a changed derivation spec produces a NEW tag — and therefore a fresh
    cache path/table — instead of a stale-reuse: the failure mode this
    prevents is a _SUCCESS-marker cache serving old data while the DuckDB
    oracle reads the fresh parquet."""
    import hashlib

    p = os.path.join(sf_dir, f"{name}.parquet")
    st = os.stat(p)
    key = "|".join([p, str(st.st_size), str(st.st_mtime_ns), *map(str, extra)])
    return hashlib.md5(key.encode()).hexdigest()[:12]


# Per-process parquet SCHEMA cache keyed on (path, size, mtime_ns) — pure
# metadata, the same class as Spark's own file-listing cache (filesource
# PartitionFileCacheSize): footer-based schema inference costs ~110 ms per
# spark.read.parquet() call vs ~17 ms with an explicit schema (measured
# r21, single-file fixture parquet), and every registered query pays it
# per table per invocation. A regenerated fixture (same path, new bytes)
# changes the key and re-infers — never a stale schema. No data and no
# results are cached; the scan itself always reads the parquet.
_SCHEMA_CACHE: dict[tuple[str, int, int], object] = {}


def read_parquet_cached_schema(spark: SparkSession, path: str) -> DataFrame:
    try:
        st = os.stat(path)
        key = (path, st.st_size, st.st_mtime_ns)
    except OSError:
        return spark.read.parquet(path)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
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
    if tag is not None:
        views = getattr(spark, "_graft_view_names", None)
        if views is None:
            views = {}
            spark._graft_view_names = views
        view = views.get(tag)
        if view is None:
            df = (
                _load_events(spark, path)
                if name == "events"
                else read_parquet_cached_schema(spark, path)
            )
            view = f"graft_{name}_{tag}"
            df.createOrReplaceTempView(view)
            views[tag] = view
        return spark.table(view)
    if name == "events":
        return _load_events(spark, path)
    return read_parquet_cached_schema(spark, path)


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
    oracle sees identical values."""
    import hashlib
    import tempfile

    from pyspark.sql import functions as F

    # resolved-path cache keyed on the SOURCE file identity (r21): the
    # NANOS probe is itself a footer read (~110 ms) paid on every events
    # load; the conversion decision is a pure function of the source
    # bytes, so a (path, size, mtime_ns) hit skips the probe entirely.
    try:
        st = os.stat(path)
        ckey = (path, st.st_size, st.st_mtime_ns)
    except OSError:
        ckey = None
    if ckey is not None and ckey in _EVENTS_PATH_CACHE:
        cached = _EVENTS_PATH_CACHE[ckey]
        # ADVICE r21: the cached entry may name a DERIVED artifact that was
        # deleted externally while the source stayed unchanged — returning
        # it would hand callers a nonexistent path. Fall through to the
        # probe/build path (build_once rebuilds) instead.
        if os.path.exists(cached):
            return cached
        del _EVENTS_PATH_CACHE[ckey]

    try:
        if dict(spark.read.parquet(path).dtypes).get("ts") != "bigint":
            if ckey is not None:
                _EVENTS_PATH_CACHE[ckey] = path
            return path
        # ts reads as bigint only when some caller turned nanosAsLong on
        # globally — still convert so our output dtype stays timestamp.
    except Exception as ex:  # noqa: BLE001 — only the NANOS rejection
        if "NANOS" not in str(ex):
            raise

    st = os.stat(path)
    key = hashlib.md5(
        f"{path}|{st.st_size}|{st.st_mtime_ns}|us-v1".encode()
    ).hexdigest()[:12]
    out = os.path.join(tempfile.gettempdir(), f"spark_graft_events_us_{key}")

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

    from .artifacts import build_once

    build_once(out, _build)
    if ckey is not None:
        _EVENTS_PATH_CACHE[ckey] = out
    return out


# (source path, size, mtime_ns) → resolved read path; see _usec_events_path.
_EVENTS_PATH_CACHE: dict[tuple[str, int, int], str] = {}


def _load_events(spark: SparkSession, path: str) -> DataFrame:
    """events.ts is parquet TIMESTAMP(NANOS), which Spark's vectorized
    reader rejects — read via the µs-converted artifact (see
    _usec_events_path), with the r21 cached-schema read (the converted
    artifact is immutable once its build_once marker lands)."""
    return _normalize_ts(
        read_parquet_cached_schema(spark, _usec_events_path(spark, path))
    )


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
    schema = read_parquet_cached_schema(spark, src).schema
    reader = spark.readStream.schema(schema)
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
    schema = read_parquet_cached_schema(spark, path).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


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
