"""Bucketed parquet tables: the co-located-join storage layout.

At 100 TB the dominant cost of fact-fact joins (lineitem⋈orders) is the
shuffle. Writing both tables bucketed by the join key — Spark's
``bucketBy``, hash(key) % N files per partition plus metastore metadata —
lets the planner prove both sides are already hash-partitioned the same
way and emit a sort-merge join with NO Exchange on either side; repeated
joins amortize the one-time layout cost every run.

The reference's nearest concept is its static hash partitioning of map
output into R files (cmd/worker/worker.go:75-79, 101-119), which is a
transient per-job shuffle; bucketing persists that property into storage.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from ..sources.artifacts import fixture_artifact, fixture_cache_tag
from ..sources.tables import load_table, parquet_schema


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    bucket_cols: Sequence[str],
    num_buckets: int,
    sort_cols: Sequence[str] | None = None,
) -> None:
    """Persist ``df`` as an external bucketed parquet table. ``sort_cols``
    additionally sorts within each bucket file, which lets a downstream
    sort-merge join skip its Sort as well."""
    writer = (
        df.write.format("parquet")
        .mode("overwrite")
        .option("path", path)
        .bucketBy(num_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed table through the catalog (the bucket metadata only
    exists there — reading the parquet path directly loses it)."""
    return spark.table(table)


def bucketed_artifact(
    spark: SparkSession,
    kind: str,
    sf_dir: str,
    source: str,
    *spec: object,
    name: str,
    leaf: str,
    bucket_cols: Sequence[str],
    num_buckets: int,
    sort_cols: Sequence[str] | None = None,
    build: Callable[[str], DataFrame],
) -> tuple[str, str]:
    """The bucketed table ``<name>_<tag>`` over the artifact that
    ``fixture_artifact(kind, sf_dir, source, *spec)`` names, registered
    in this session's catalog; returns ``(table, artifact dir)``.

    ``build(dir)`` writes the rest of the artifact and returns the frame
    whose bucket files go to ``<dir>/<leaf>``. It runs when their
    ``_SUCCESS`` is missing, also while the catalog still names the table.
    One bucket spec serves the write and the catalog entry, so the layout
    Spark trusts to elide the Exchange is the one on disk; ``spec`` must
    cover that bucket spec, so files written under another get another
    dir."""
    table = f"{name}_{fixture_cache_tag(sf_dir, source, *spec)}"

    def write(out: str) -> None:
        # saveAsTable, Spark's only bucketed writer, writes _SUCCESS before it
        # registers its table. Under the final name a reader that saw
        # _SUCCESS could register the table first and fail this write, so
        # the files are written under a build-only name that is dropped
        # (the files stay: the table is external), and every caller
        # registers the final name below.
        staged, files = f"{table}_build", os.path.join(out, leaf)
        write_bucketed(build(out), staged, files, bucket_cols, num_buckets, sort_cols)
        spark.sql(f"DROP TABLE {staged}")

    out = fixture_artifact(
        kind, sf_dir, source, *spec, build=write, marker=os.path.join(leaf, "_SUCCESS")
    )
    path = os.path.join(out, leaf)
    schema = parquet_schema(spark, path)
    cols = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in schema.fields)
    sort = f"SORTED BY ({', '.join(sort_cols)}) " if sort_cols else ""
    try:
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {table} ({cols}) USING PARQUET "
            f"CLUSTERED BY ({', '.join(bucket_cols)}) {sort}"
            f"INTO {num_buckets} BUCKETS LOCATION '{path}'"
        )
    except AnalysisException:
        # fine when another caller registered it between check and create
        if not spark.catalog.tableExists(table):
            raise
    # The session caches a table's file listing; files rebuilt since then
    # (here or by another session or process) have new names.
    spark.catalog.refreshTable(table)
    return table, out


def ensure_bucketed_fixture(
    spark: SparkSession,
    sf_dir: str,
    source: str,
    bucket_cols: Sequence[str],
    num_buckets: int = 8,
    sort_cols: Sequence[str] | None = None,
) -> str:
    """Bucketed copy of fixture table ``source``, registered in this
    session's catalog; returns the table name."""
    table, _ = bucketed_artifact(
        spark, "bucketed", sf_dir, source,
        list(bucket_cols), num_buckets, list(sort_cols or []),
        name=f"{source}_bucketed", leaf=source,
        bucket_cols=bucket_cols, num_buckets=num_buckets, sort_cols=sort_cols,
        build=lambda out: load_table(spark, sf_dir, source),
    )
    return table


def bucketed_revenue_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders ⋈ lineitem revenue rollup over BUCKETED storage: both fact
    tables live pre-hash-partitioned on the join key, so the sort-merge
    join (hint("merge") — broadcast would bypass the layout and prove
    nothing) reads both sides with NO Exchange; the only shuffle in the
    plan is the final groupBy. This is the query shape whose per-run
    shuffle cost bucketing amortizes away at 100 TB; the layout write
    happens once per fixture dir and is reused across sessions.

    Oracle: the identical join over the plain parquet — bucketing is pure
    physical layout and must not change a single row.
    """
    from pyspark.sql import functions as F

    ot = ensure_bucketed_fixture(
        spark, sf_dir, "orders", ["o_orderkey"], 8, ["o_orderkey"]
    )
    lt = ensure_bucketed_fixture(
        spark, sf_dir, "lineitem", ["l_orderkey"], 8, ["l_orderkey"]
    )
    o = read_bucketed(spark, ot)
    li = read_bucketed(spark, lt)
    return (
        o.hint("merge")
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


BUCKETED_REVENUE_ORACLE = """
SELECT o_orderpriority,
       count(*) AS n_items,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""
