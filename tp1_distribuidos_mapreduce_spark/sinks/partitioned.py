"""Date-partitioned parquet layout with dynamic partition overwrite — the
daily-incremental-load pattern.

Additive scale surface (the reference's datasets are flat immutable text
directories, SURVEY.md §1.2). At 100 TB the ingest cadence is "append or
restate one day at a time": the table lives partitioned by date so that
(a) readers with a date predicate scan only the matching directories
(partition pruning — zero I/O for every other day), and (b) a restatement
job overwrites ONLY the partitions it writes (dynamic partition
overwrite), never truncating the table the way static `mode("overwrite")`
would. Both behaviors are pinned in tests/test_partitioned.py: pruning
from the scan's input files, restatement safety from byte-identical
untouched-partition files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    """Full (re)write of a directory-partitioned parquet table."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def overwrite_partitions(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    """Dynamic partition overwrite: replaces exactly the partitions
    present in ``df``; every other partition's files are left untouched.
    The per-write option scopes the behavior to this writer — no session
    config mutation leaks into other jobs."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def ensure_partitioned_events(spark: SparkSession, sf_dir: str) -> str:
    """Idempotent /tmp copy of `events` partitioned by event_date
    (content-addressed on the fixture bytes, sinks/bucketed.py
    discipline)."""
    from ..sources.artifacts import fixture_artifact
    from ..sources.tables import load_table

    def _build(path: str) -> None:
        ev = load_table(spark, sf_dir, "events").withColumn(
            "event_date", F.to_date("ts")
        )
        write_partitioned(ev, path, ["event_date"])

    return fixture_artifact(
        "partitioned", sf_dir, "events", ["event_date"], 0, 0,
        build=_build, leaf="events",
    )


PRUNE_DATE = "2024-01-15"  # mid-range; present at every fixture SF


def partitioned_daily_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type activity for one literal day, read partition-pruned from
    the date-partitioned copy: the date predicate resolves at PLAN time
    against directory names, so the scan lists exactly one partition
    directory — 1/30th of the I/O here, one-day-out-of-years at 100 TB.
    The oracle runs the same aggregate over the flat table, proving the
    layout is physical only."""
    path = ensure_partitioned_events(spark, sf_dir)
    ev = spark.read.parquet(path).where(F.col("event_date") == F.lit(PRUNE_DATE))
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            # exact 1e-3-scaled BIGINT sum, half-up integer round to 2dp
            # (a 3dp-true sum ties at the half-cent; float order decides).
            (
                F.expr("(sum(cast(round(value * 1000) as bigint)) + 5) div 10")
                / 100.0
            ).alias("total_value"),
        )
        .orderBy("event_type")
    )


PARTITIONED_DAILY_ACTIVITY_ORACLE = f"""
SELECT event_type,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       ((sum(CAST(round(value * 1000) AS BIGINT)) + 5) // 10) / 100.0
         AS total_value
FROM events
WHERE CAST(ts AS DATE) = DATE '{PRUNE_DATE}'
GROUP BY event_type
ORDER BY event_type
"""
