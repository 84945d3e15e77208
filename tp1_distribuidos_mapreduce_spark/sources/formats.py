"""Columnar-format breadth and ingestion-reality sources: ORC
materialization (format parity under the same oracle gate) and a
schema-evolution corpus (heterogeneous parquet batches read with
mergeSchema — what a long-lived 100 TB table actually looks like after
a column was added mid-history).

Same /tmp discipline as sources/text.py's raw-text corpus: artifacts
are built through sources/artifacts.py fixture_artifact, content-addressed
(a regenerated fixture or a changed derivation spec gets a fresh path,
never a stale-cache reuse), written once, idempotent via the marker.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .artifacts import fixture_artifact
from .tables import load_table


def lineitem_as_orc(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the lineitem fixture as ORC files under /tmp (once)
    and return the directory. Exists so a registered query can run the
    engine's ORC scan path end-to-end under the driver's oracle gate —
    the oracle keeps reading the parquet twin, so any value or type
    drift between the two format paths fails the differential."""
    return fixture_artifact(
        "orc_lineitem", sf_dir, "lineitem", "orc-v1",
        build=lambda out: load_table(spark, sf_dir, "lineitem")
        .write.mode("overwrite")
        .orc(out),
    )


def read_lineitem_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem via the ORC reader (predicate pushdown and column
    pruning work the same as parquet — both are stripe/row-group
    columnar formats with min/max stats)."""
    return spark.read.orc(lineitem_as_orc(spark, sf_dir))


def orders_evolved_batches(spark: SparkSession, sf_dir: str) -> str:
    """Materialize orders as TWO parquet batches with different schemas
    under one directory — batch v1 (even orderkeys) written BEFORE the
    o_orderpriority column existed, batch v2 (odd orderkeys) with the
    full schema — and return the directory.

    This is the ingestion reality of any long-lived table: schema
    evolved mid-history, and the reader must reconcile footers rather
    than assume homogeneity. Spark handles it via mergeSchema (v1 rows
    surface the missing column as NULL); the census query quantifies
    exactly what a backfill would need to touch.
    """

    def _build(out: str) -> None:
        orders = load_table(spark, sf_dir, "orders")
        v1 = orders.where(F.col("o_orderkey") % 2 == 0).drop("o_orderpriority")
        v2 = orders.where(F.col("o_orderkey") % 2 == 1)
        v1.write.mode("overwrite").parquet(os.path.join(out, "batch=v1"))
        v2.write.mode("overwrite").parquet(os.path.join(out, "batch=v2"))

    return fixture_artifact(
        "evolved_orders", sf_dir, "orders", "evolved-v1",
        build=_build, marker=os.path.join("batch=v2", "_SUCCESS"),
    )


def schema_evolution_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-batch schema-evolution census over the heterogeneous orders
    directory: row count and how many rows carry the late-added
    o_orderpriority column — the "what would a backfill touch" report,
    the ingestion reality of a long-lived table.

    The read uses mergeSchema=true (footer reconciliation across
    batches; v1 rows surface o_orderpriority as NULL) and the batch
    identity comes from partition discovery on the ``batch=`` directory
    key. Output is NULL-free (counts only) per the engine output
    policy; the oracle recomputes both batches from the parquet fixture
    with the same orderkey-parity split rule.
    """
    df = spark.read.option("mergeSchema", "true").parquet(
        orders_evolved_batches(spark, sf_dir)
    )
    return (
        df.groupBy(F.col("batch").cast("string").alias("batch"))
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.count("o_orderpriority").cast("long").alias("n_with_priority"),
        )
        .orderBy("batch")
    )


SCHEMA_EVOLUTION_ORACLE = """
SELECT 'v1' AS batch, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(0 AS BIGINT) AS n_with_priority
FROM orders WHERE o_orderkey % 2 = 0
UNION ALL
SELECT 'v2', CAST(count(*) AS BIGINT), CAST(count(o_orderpriority) AS BIGINT)
FROM orders WHERE o_orderkey % 2 = 1
ORDER BY batch
"""


def orders_widened_batches(spark: SparkSession, sf_dir: str) -> str:
    """Materialize orders as TWO parquet batches whose o_custkey PHYSICAL
    TYPE differs — batch v1 (even orderkeys) wrote it as INT32, batch v2
    (odd orderkeys) as INT64 — and return the directory.

    This is the other half of real table evolution (the first being the
    added-column corpus above): a column's type was WIDENED mid-history,
    so the footers disagree on the physical type. Spark's parquet footer
    merge REFUSES a cross-type merge ([CANNOT_MERGE_SCHEMAS] — pinned in
    tests/test_files.py), so the widening read is SCHEMA-DIRECTED: the
    reader is handed the evolved table schema (what a lakehouse catalog
    supplies) and the Spark 4 vectorized reader up-casts INT32 row
    groups to BIGINT at scan time (SPARK-40876). The census query proves
    values survive the widening bit-exactly against the all-BIGINT
    oracle.
    """

    def _build(out: str) -> None:
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        v1 = orders.where(F.col("o_orderkey") % 2 == 0).withColumn(
            "o_custkey", F.col("o_custkey").cast("int")
        )
        v2 = orders.where(F.col("o_orderkey") % 2 == 1)
        v1.write.mode("overwrite").parquet(os.path.join(out, "batch=v1"))
        v2.write.mode("overwrite").parquet(os.path.join(out, "batch=v2"))

    return fixture_artifact(
        "widened_orders", sf_dir, "orders", "widened-v1",
        build=_build, marker=os.path.join("batch=v2", "_SUCCESS"),
    )


WIDENED_ORDERS_SCHEMA = (
    "o_orderkey bigint, o_custkey bigint, o_totalprice double, batch string"
)


def type_widening_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-batch census over the type-widened orders directory: row count
    and the exact BIGINT sum of the widened o_custkey column.

    The read is schema-directed (see orders_widened_batches): the
    catalog-supplied evolved schema declares o_custkey BIGINT and the
    vectorized reader up-casts the INT32 batch's row groups at scan
    time. The output schema is BIGINT by construction (the read schema
    is caller-supplied, so asserting it here would be tautological);
    what proves the up-cast VALUE-correct is the differential against
    the all-BIGINT parquet oracle with the same orderkey-parity split
    rule — a silent narrow/corrupt cast would break custkey_sum there.
    """
    df = spark.read.schema(WIDENED_ORDERS_SCHEMA).parquet(
        orders_widened_batches(spark, sf_dir)
    )
    return (
        df.groupBy(F.col("batch").cast("string").alias("batch"))
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("o_custkey").cast("long").alias("custkey_sum"),
        )
        .orderBy("batch")
    )


TYPE_WIDENING_ORACLE = """
SELECT 'v1' AS batch, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(o_custkey) AS BIGINT) AS custkey_sum
FROM orders WHERE o_orderkey % 2 = 0
UNION ALL
SELECT 'v2', CAST(count(*) AS BIGINT), CAST(sum(o_custkey) AS BIGINT)
FROM orders WHERE o_orderkey % 2 = 1
ORDER BY batch
"""


ORDERS_CSV_SCHEMA = (
    "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string"
)

EVENTS_JSONL_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)


def orders_as_csv(spark: SparkSession, sf_dir: str) -> str:
    """Materialize orders as headered CSV under /tmp (once) and return
    the directory — so a registered query can drive the schema-enforced
    CSV connector (sources/files.py read_csv: line-oriented scan,
    explicit schema, corrupt-row quarantine, \\N null discipline)
    end-to-end under the parquet oracle."""
    from .files import write_csv

    return fixture_artifact(
        "csv_orders", sf_dir, "orders", "csv-v3",
        build=lambda out: write_csv(load_table(spark, sf_dir, "orders"), out),
    )


def read_orders_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .files import read_csv, valid_records

    return valid_records(
        read_csv(spark, orders_as_csv(spark, sf_dir), ORDERS_CSV_SCHEMA)
    )


def events_as_jsonl(spark: SparkSession, sf_dir: str) -> str:
    """Materialize events as gzip JSONL under /tmp (once) — the JSONL
    connector twin of orders_as_csv (ISO-8601 UTC timestamps, lossless
    round-trip per write_jsonl's contract)."""
    from .files import write_jsonl

    return fixture_artifact(
        "jsonl_events", sf_dir, "events", "jsonl-v3",
        build=lambda out: write_jsonl(load_table(spark, sf_dir, "events"), out),
    )


def read_events_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .files import read_jsonl, valid_records

    return valid_records(
        read_jsonl(spark, events_as_jsonl(spark, sf_dir), EVENTS_JSONL_SCHEMA)
    )
