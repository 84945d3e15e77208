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

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


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


def ensure_bucketed_fixture(
    spark: SparkSession,
    sf_dir: str,
    source: str,
    bucket_cols: Sequence[str],
    num_buckets: int = 8,
    sort_cols: Sequence[str] | None = None,
) -> str:
    """Idempotent bucketed copy of a fixture table, registered in THIS
    session's catalog; returns the table name.

    Three-tier fast path mirroring production bucketed-layout operations:
    catalog hit (same session) → metadata-only CREATE TABLE over existing
    bucket files (new session, layout already on disk — the default
    in-memory catalog dies with the session, the files don't) → full
    bucketBy write (first ever touch). The one-time layout cost is the
    whole point: every later co-located join reads pre-partitioned files
    and pays zero Exchange.
    """
    import os

    from ..sources.artifacts import artifact_path, fixture_cache_tag, pathlock
    from ..sources.tables import load_table

    # Content-addressed on the source parquet AND the bucket spec: a
    # regenerated fixture or a changed (cols, buckets, sort) spec yields a
    # new tag → new path + table, so the metadata-only re-register below
    # can never declare a bucket layout the on-disk files don't have
    # (Spark would trust it, elide the Exchange, and silently drop rows).
    tag = fixture_cache_tag(
        sf_dir, source, list(bucket_cols), num_buckets, list(sort_cols or [])
    )
    table = f"{source}_bucketed_{tag}"
    path = os.path.join(artifact_path(f"bucketed_{tag}"), source)
    # The whole check-register-or-write sequence is a critical section:
    # concurrent queries sharing the layout must not double-register the
    # catalog table or double-write the bucket files.
    with pathlock(path):
        if spark.catalog.tableExists(table):
            return table
        if os.path.exists(os.path.join(path, "_SUCCESS")):
            register_existing_bucketed(
                spark,
                table,
                path,
                load_table(spark, sf_dir, source).schema,
                bucket_cols,
                num_buckets,
                sort_cols,
            )
            return table
        write_bucketed(
            load_table(spark, sf_dir, source), table, path, bucket_cols, num_buckets, sort_cols
        )
        return table


def register_existing_bucketed(
    spark: SparkSession,
    table: str,
    path: str,
    schema,
    bucket_cols: Sequence[str],
    num_buckets: int,
    sort_cols: Sequence[str] | None = None,
) -> None:
    """Metadata-only CREATE TABLE over bucket files already on disk — the
    new-session fast path (the default in-memory catalog dies with the
    session, the files don't). Callers must guarantee the declared spec
    matches how the files were written; the content-addressed tags used by
    every caller in this repo make a mismatch unreachable."""
    schema_ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in schema.fields
    )
    sort_clause = f"SORTED BY ({', '.join(sort_cols)}) " if sort_cols else ""
    spark.sql(
        f"CREATE TABLE {table} ({schema_ddl}) USING PARQUET "
        f"CLUSTERED BY ({', '.join(bucket_cols)}) {sort_clause}"
        f"INTO {num_buckets} BUCKETS LOCATION '{path}'"
    )


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
