"""Incremental view maintenance and table reconciliation — the two
operational queries that keep a 100 TB aggregate fresh and honest:
fold a day's delta into a persisted per-key state table without
rescanning history, and diff two table versions after a restatement.

Money is integer cents end-to-end (the exact-arithmetic oracle
discipline): sums, combines, and comparisons all happen on BIGINTs;
cents convert to a 2dp double exactly once at the output edge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.artifacts import fixture_artifact
from ..sources.tables import load_table

# Deterministic cutoff: orders strictly before it are the "already
# aggregated" base state; orders on/after it are the incoming delta.
IVM_CUTOFF = "2001-06-01"


def _base_state_path(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the pre-cutoff per-customer aggregate STATE TABLE to
    /tmp parquet once (content-addressed), exactly as a production IVM
    pipeline persists it — the incremental query READS this table, it
    never recomputes history."""

    def _build(out: str) -> None:
        orders = load_table(spark, sf_dir, "orders")
        (
            orders.where(F.col("o_orderdate") < F.lit(IVM_CUTOFF).cast("timestamp"))
            .groupBy("o_custkey")
            .agg(
                F.count("*").cast("long").alias("n_orders"),
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                    "cents"
                ),
            )
            .write.mode("overwrite")
            .parquet(out)
        )

    return fixture_artifact(
        "ivm_base", sf_dir, "orders", "ivm-base-v1", IVM_CUTOFF, build=_build
    )


def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Refresh the per-customer order aggregate by combining the
    PERSISTED base state with the delta (orders on/after IVM_CUTOFF) —
    the incremental-view-maintenance shape: at update time only the
    delta is scanned and aggregated (one shuffle sized by the delta),
    then a key-outer-joined combine against the state table. COUNT and
    SUM are the algebraic aggregates IVM exists for; the oracle is the
    full recompute over all of orders, which the incremental result
    must equal exactly (integer cents make "exactly" literal).

    Output: (o_custkey, n_orders, total_price) — every customer present
    in either side, cents divided once at the edge.
    """
    base = spark.read.parquet(_base_state_path(spark, sf_dir))
    delta = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit(IVM_CUTOFF).cast("timestamp"))
        .groupBy("o_custkey")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"),
        )
    )
    b = base.select(
        "o_custkey",
        F.col("n_orders").alias("b_n"),
        F.col("cents").alias("b_c"),
    )
    d = delta.select(
        "o_custkey",
        F.col("n_orders").alias("d_n"),
        F.col("cents").alias("d_c"),
    )
    combined = b.join(d, "o_custkey", "full_outer").select(
        "o_custkey",
        (F.coalesce("b_n", F.lit(0)) + F.coalesce("d_n", F.lit(0)))
        .cast("long")
        .alias("n_orders"),
        (F.coalesce("b_c", F.lit(0)) + F.coalesce("d_c", F.lit(0)))
        .cast("long")
        .alias("cents"),
    )
    return combined.select(
        "o_custkey",
        "n_orders",
        (F.col("cents") / 100.0).alias("total_price"),
    ).orderBy("o_custkey")


INCREMENTAL_AGG_ORACLE = """
SELECT o_custkey,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0
         AS total_price
FROM orders
GROUP BY o_custkey
ORDER BY o_custkey
"""


# --------------------------------------------------------------------------
# Table diff: reconcile a restated table version against the original
# --------------------------------------------------------------------------


def _restated(orders: DataFrame) -> DataFrame:
    """Deterministic restated variant of orders: every 101st order is
    deleted, every 97th gets a 10% price correction (in exact cents),
    everything else is unchanged — the synthetic 'after the backfill'
    table both engines derive identically."""
    return (
        orders.where(F.col("o_orderkey") % 101 != 0)
        .select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % 97 == 0, F.expr("cast(cast(round(o_totalprice * 100) as bigint) * 110 div 100 as bigint)"))
            .otherwise(F.round(F.col("o_totalprice") * 100).cast("long"))
            .alias("cents"),
        )
    )


def table_diff(orders: DataFrame) -> DataFrame:
    """Reconciliation report between orders and its restated version:
    FULL OUTER join on the key, each row classified added / removed /
    changed / unchanged, counts per status — the post-backfill audit
    that tells you the blast radius before you swap table versions.

    One key-partitioned shuffle join + one tiny aggregate at any scale;
    value comparison is BIGINT cents so 'changed' is exact, never a
    float-epsilon judgement call.
    """
    before = orders.select(
        "o_orderkey", F.round(F.col("o_totalprice") * 100).cast("long").alias("b_c")
    )
    after = _restated(orders).select("o_orderkey", F.col("cents").alias("a_c"))
    j = before.join(after, "o_orderkey", "full_outer")
    status = (
        F.when(F.col("b_c").isNull(), F.lit("added"))
        .when(F.col("a_c").isNull(), F.lit("removed"))
        .when(F.col("b_c") != F.col("a_c"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.select(status.alias("status"))
        .groupBy("status")
        .agg(F.count("*").cast("long").alias("n_rows"))
        .orderBy("status")
    )


TABLE_DIFF_ORACLE = """
WITH before AS (
  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS b_c
  FROM orders
), after AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 97 = 0
              THEN CAST(round(o_totalprice * 100) AS BIGINT) * 110 // 100
              ELSE CAST(round(o_totalprice * 100) AS BIGINT) END AS a_c
  FROM orders WHERE o_orderkey % 101 <> 0
), j AS (
  SELECT CASE WHEN b.o_orderkey IS NULL THEN 'added'
              WHEN a.o_orderkey IS NULL THEN 'removed'
              WHEN b_c <> a_c THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM before b FULL OUTER JOIN after a USING (o_orderkey)
)
SELECT status, CAST(count(*) AS BIGINT) AS n_rows
FROM j GROUP BY status ORDER BY status
"""
