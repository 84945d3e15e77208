"""Streaming file sinks: checkpointed, exactly-once parquet landing.

The batch sinks (sinks/) assume a one-shot job; a streaming ingest needs
the other half of the contract — RESTART semantics. Spark's checkpointed
file sink gives exactly-once per-file delivery: the write-ahead offset log
records which source files each epoch consumed, and the output commit log
records which result files are valid, so a crashed/restarted query resumes
from the last committed epoch and readers (via the _spark_metadata dir)
never observe partial or duplicated epochs.

Scale notes: the availableNow trigger processes a backlog in bounded
micro-batches and terminates — the shape for scheduled incremental loads
(a cron'd "drain what's new" job over a landing zone). Combined with
streaming/dedup.py upstream, replayed source files do not re-land rows;
combined with maxFilesPerTrigger, backlog drains under bounded memory
FOR THE APPEND SINK. The restatement sink must NOT be combined with
micro-batch splitting that can scatter one logical partition across
batches — see write_stream_restatement's contract.

The second half of the module is the versioned-state fold
(write_stream_fold) behind streaming IVM and the sketch-ingest family:
one commit protocol, seven Fold specs.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..functions.tokenize import words_from
from ..plans.approx import (
    CMS_DEPTH,
    CMS_WIDTH,
    KMV_K,
    ROLLING_HLL_DAYS,
    _cms_cell_counts,
    _cms_exact_counts_from_grid,
    _cms_grid_from_cells,
    _hll_zero,
    _hll_zipmax,
    daily_hll_sketches,
    dd_value_buckets,
    kmv_type_sketches,
    overlap_from_kmv_sketches,
    quantiles_from_dd_buckets,
    rolling_estimates_from_sketches,
)
from ..plans.bloom import M_BITS, _bloom_words, bloom_prune, urgent_pruned_revenue


def write_stream_parquet(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    partition_by: list[str] | None = None,
) -> None:
    """Drain everything currently available into parquet, exactly once.

    Rerunning with the same checkpoint is a no-op for already-committed
    source files — the restart contract a landing pipeline relies on.
    Blocks until the drain completes (availableNow).
    """
    w = (
        stream_df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
    )
    if partition_by:
        w = w.partitionBy(*partition_by)
    q = w.start()
    q.awaitTermination()


def read_landed_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Read a streaming-sink output directory. Spark automatically consults
    `_spark_metadata` so only committed files are visible."""
    return spark.read.parquet(path)


def write_stream_restatement(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    partition_cols: list[str],
) -> None:
    """Streaming restatement into a date-partitioned lake table: each
    micro-batch dynamic-partition-overwrites exactly the partitions it
    contains (sinks/partitioned.py) — the streaming form of the daily
    restatement job, and the composition a CDC-fed lake runs continuously.

    Exactly-once here is the standard foreachBatch contract: the
    checkpoint gives at-least-once batch delivery, and a partition
    overwrite is IDEMPOTENT (replaying a batch rewrites the same
    partitions with the same rows), so the table converges to
    last-writer-wins per partition regardless of crashes or replays. The
    append-mode file sink above cannot restate history; this sink's whole
    purpose is that a late re-delivery of a day replaces the day.

    CONTRACT — each micro-batch must carry the COMPLETE restated content
    of every partition it touches (the restatement/CDC feed shape: a
    source emits whole corrected days). A source configuration that can
    SPLIT one partition's rows across micro-batches (maxFilesPerTrigger
    over a landing zone where several files hold the same day) makes the
    later batch's overwrite silently drop the earlier batch's rows for
    that day — aggregate whole partitions upstream, or use the
    append-mode sink plus a downstream compaction instead.
    """
    from ..sinks.partitioned import overwrite_partitions

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        overwrite_partitions(batch_df, path, partition_cols)

    (
        stream_df.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


# --------------------------------------------------------------------------
# Versioned-state folds: streaming IVM and the sketch-ingest family.
#
# One commit protocol serves all seven sinks. A drain folds each
# micro-batch into a persisted state table under ``state_path``:
#
# * **Replay fence**: the pointer file ``CURRENT`` carries the last folded
#   batch_id. foreachBatch is at-least-once, so a replayed epoch (crash
#   after the state commit, before the checkpoint's epoch commit) sees
#   ``batch_id <= committed`` and returns without folding. The fence is
#   load-bearing for additive merges (a re-fold would double-count) and
#   keeps the pointer truthful for idempotent ones.
# * **Delta + merge**: only the batch is scanned. The family's kernel
#   turns it into a delta keyed like the state; the merge is state UNION
#   delta grouped by the keys, one merge aggregate per value column.
#   GROUP BY puts all NULL keys in one group, as the one-shot build does
#   (a plain equi-join never pairs NULL keys, so a NULL group would
#   re-enter as a new row on every fold). A null-safe (<=>) full-outer
#   join gives the same rows but costs one more job per fold: its join
#   keys are coalesce(k)/isnull(k), which the delta aggregate's hash
#   partitioning does not satisfy, so the delta is shuffled again.
# * **Atomic commit**: the merged state is written to a fresh ``v{batch_id}``
#   dir, then ``CURRENT`` (version dir, batch_id and the version's schema)
#   is replaced atomically (temp file + os.replace). Readers follow the
#   pointer, so they always see a complete version, and read it with the
#   pointer's schema instead of inferring one from the parquet footers.
# * **Retention**: the current and the previous version are kept (a reader
#   that resolved the pointer before this commit holds a lazy plan over
#   the previous dir); older versions are deleted.
# --------------------------------------------------------------------------


class Fold(NamedTuple):
    """What one state family adds to the shared protocol: the kernel that
    turns a batch into a delta, the state's key columns, and one merge
    aggregate per value column (it combines the state row and the delta
    row of a key)."""

    delta: Callable[[DataFrame], DataFrame]
    keys: tuple[str, ...]
    merge: dict[str, Callable[[Column], Column]]


def _ivm_delta(batch_df: DataFrame) -> DataFrame:
    return batch_df.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
    )


def _hll_max(regs: Column) -> Column:
    return F.aggregate(F.collect_list(regs), _hll_zero(), _hll_zipmax)


def _bottom_k(sk: Column) -> Column:
    union = F.array_distinct(F.flatten(F.collect_list(sk)))
    return F.slice(F.array_sort(union), 1, KMV_K)


# Per-user (n_events, value cents): integer cents keep the fold exact.
IVM = Fold(_ivm_delta, ("user_id",), {"n_events": F.sum, "cents": F.sum})
HLL = Fold(daily_hll_sketches, ("day",), {"regs": _hll_max})
KMV = Fold(kmv_type_sketches, ("event_type",), {"sk": _bottom_k})
DD = Fold(dd_value_buckets, ("idx",), {"cnt": F.sum})
DD_BY_TYPE = Fold(
    lambda batch_df: dd_value_buckets(batch_df, "event_type"),
    ("event_type", "idx"),
    {"cnt": F.sum},
)
CMS = Fold(
    lambda batch_df: _cms_cell_counts(
        words_from(batch_df, "text"), ["word"], CMS_DEPTH, CMS_WIDTH
    ),
    ("d", "pos"),
    {"n": F.sum},
)


def bloom(key_col: str) -> Fold:
    """Sparse (word, bits) Bloom table over the batch's ``key_col``."""
    return Fold(
        lambda batch_df: _bloom_words(batch_df.select(key_col), key_col),
        ("word",),
        {"bits": F.bit_or},
    )


def write_stream_fold(
    stream_df: DataFrame, state_path: str, checkpoint: str, family: Fold
) -> None:
    """Drain everything currently available (availableNow) into the
    family's versioned state under ``state_path``, one fold_batch per
    micro-batch."""
    (
        stream_df.writeStream.foreachBatch(
            lambda batch_df, batch_id: fold_batch(
                batch_df, batch_id, state_path, family
            )
        )
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def fold_batch(
    batch_df: DataFrame, batch_id: int, state_path: str, family: Fold
) -> None:
    """Fold one micro-batch: fence, delta, keyed merge, versioned write,
    pointer commit, GC. Module-level so tests can drive injected replays
    through the production path."""
    os.makedirs(state_path, exist_ok=True)
    committed = _read_pointer(state_path)
    if committed is not None and batch_id <= committed["batch_id"]:
        return  # replayed epoch — already folded into the state
    merged = family.delta(batch_df)
    if committed is not None:
        merged = (
            read_state(batch_df.sparkSession, state_path)
            .unionByName(merged)
            .groupBy(*family.keys)
            .agg(*[agg(c).alias(c) for c, agg in family.merge.items()])
        )
    new_dir = f"v{batch_id}"
    merged.write.mode("overwrite").parquet(os.path.join(state_path, new_dir))
    # the schema as the parquet reader infers it (asNullable, nested too)
    schema = json.loads(merged._jdf.schema().asNullable().json())
    _commit_pointer(state_path, new_dir, batch_id, schema)
    keep = {new_dir} | ({committed["dir"]} if committed is not None else set())
    for v in os.listdir(state_path):
        if v.startswith("v") and v not in keep:
            shutil.rmtree(os.path.join(state_path, v), ignore_errors=True)


def _read_pointer(state_path: str) -> dict | None:
    """The CURRENT pointer: {"dir": "v3", "batch_id": 3, "schema": <the
    version's all-nullable schema as JSON>}, or None."""
    ptr = os.path.join(state_path, "CURRENT")
    if not os.path.exists(ptr):
        return None
    with open(ptr) as f:
        return json.load(f)


def _commit_pointer(
    state_path: str, version_dir: str, batch_id: int, schema: dict
) -> None:
    """Replace CURRENT atomically, so readers see the old or the new
    complete pointer, never a partial one. The pointer carries the
    version's schema (JSON), so reads skip footer inference (~110 ms
    each)."""
    tmp = os.path.join(state_path, "CURRENT.tmp")
    with open(tmp, "w") as f:
        json.dump({"dir": version_dir, "batch_id": batch_id, "schema": schema}, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(state_path, "CURRENT"))


def read_state(spark: SparkSession, state_path: str) -> DataFrame:
    """The committed state version CURRENT points to, read with the
    schema the pointer carries. The frame stays readable across ONE later
    fold (the previous version is retained); collect it before a second
    fold lands. Raises FileNotFoundError when nothing has been committed
    under ``state_path``."""
    committed = _read_pointer(state_path)
    if committed is None:
        raise FileNotFoundError(f"no committed state under {state_path}")
    return spark.read.schema(StructType.fromJson(committed["schema"])).parquet(
        os.path.join(state_path, committed["dir"])
    )


def read_ivm_state(spark: SparkSession, state_path: str) -> DataFrame:
    """IVM state as (user_id, n_events, total_value), cents divided once
    at the edge."""
    return (
        read_state(spark, state_path)
        .select("user_id", "n_events", (F.col("cents") / 100.0).alias("total_value"))
        .orderBy("user_id")
    )


def read_hll_rolling(
    spark: SparkSession, state_path: str, days: int | None = None
) -> DataFrame:
    """Rolling-distinct estimates from the persisted per-day HLL table.
    The max-day cut comes from the sketch table itself (every event day
    has a sketch row, so it equals the batch build's max event day)."""
    daily = read_state(spark, state_path)
    max_day = daily.agg(F.max("day").alias("max_day"))
    return rolling_estimates_from_sketches(
        daily, max_day, days if days is not None else ROLLING_HLL_DAYS
    )


def read_kmv_overlap(spark: SparkSession, state_path: str) -> DataFrame:
    """Pairwise audience-overlap estimates from the persisted KMV table."""
    return overlap_from_kmv_sketches(read_state(spark, state_path))


def read_dd_quantiles(spark: SparkSession, state_path: str) -> DataFrame:
    """Quantile estimates from the persisted DDSketch bucket table."""
    return quantiles_from_dd_buckets(read_state(spark, state_path))


def read_dd_quantiles_by_type(spark: SparkSession, state_path: str) -> DataFrame:
    """Per-type quantile estimates from the persisted grouped buckets."""
    return quantiles_from_dd_buckets(read_state(spark, state_path), "event_type")


def read_bloom_pruned_revenue(
    spark: SparkSession,
    state_path: str,
    lineitem: DataFrame,
    orders: DataFrame,
) -> DataFrame:
    """Urgent-order revenue with the lineitem scan pruned by the persisted
    Bloom state. The word table (≤ M_BITS/64 rows) densifies driver-side
    as plans/bloom.py build_bloom_bitmap does, the probe is the batch
    query's bloom_prune, and the exact semi-join in urgent_pruned_revenue
    removes false positives, so a fully drained fold answers exactly like
    the one-shot bloom_pruned_join."""
    bitmap = [0] * (M_BITS // 64)
    for r in read_state(spark, state_path).collect():
        bitmap[r["word"]] = r["bits"]
    return urgent_pruned_revenue(bloom_prune(lineitem, "l_orderkey", bitmap), orders)


def read_cms_heavy_hitters(
    spark: SparkSession,
    state_path: str,
    documents: DataFrame,
    threshold: int = 100,
) -> DataFrame:
    """Heavy-hitter words from the persisted count-min cells: the
    depth×width grid (a bounded collect) prunes the candidates and the
    landed ``documents`` supply exact counts, through the batch
    cms_heavy_hitters probe kernel, so a fully drained fold answers
    exactly like the one-shot query."""
    grid = _cms_grid_from_cells(
        read_state(spark, state_path).collect(), CMS_DEPTH, CMS_WIDTH
    )
    return _cms_exact_counts_from_grid(
        words_from(documents, "text"), ["word"], grid, threshold,
        CMS_DEPTH, CMS_WIDTH,
    )
