"""Z-order (Morton-curve) multi-column parquet layout.

A linear sort clusters one column perfectly and leaves every other filter
column scattered across all files, so parquet row-group min/max pruning
only helps queries on the lead column. Interleaving the bits of several
columns' rank-buckets into one Morton value and range-partitioning +
sorting by it clusters ALL interleaved columns at once: a range predicate
on ANY of them overlaps only the row groups whose min/max rectangle
intersects the query rectangle. At 100 TB this is the difference between
scanning every file and scanning the handful a 2-D slab touches — the
same locality trick the reference gets nowhere near (its only layout
notion is hash-partitioned map output, cmd/worker/worker.go:75-79).

Everything here is pure physical layout: reading a z-ordered copy must
yield exactly the source rows (pinned by the registered query's oracle,
which runs against the PLAIN parquet).
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def _to_numeric(col: Column, dtype: str) -> Column:
    """Order-preserving numeric view of a sortable column. Timestamps map
    to epoch seconds; strings are not supported (no order-preserving
    bounded numeric embedding exists without a global dictionary)."""
    if dtype in ("timestamp", "timestamp_ntz"):
        return F.unix_timestamp(col).cast("double")
    if dtype == "date":
        return F.datediff(col, F.lit("1970-01-01")).cast("double")
    return col.cast("double")


def zorder_expr(
    df: DataFrame, cols: Sequence[str], bounds: dict[str, tuple[float, float]], bits: int = 8
) -> Column:
    """Morton value over ``cols``: each column min/max-normalized to a
    ``bits``-bit bucket (order-preserving), then bit-interleaved so that
    nearby (c1, c2, ...) tuples get nearby z-values. Plain Catalyst
    arithmetic — whole-stage-codegen'd, no Python. ``bits``=8 gives 256
    buckets per dimension, far finer than any realistic file count."""
    k = len(cols)
    dtypes = dict(df.dtypes)
    max_bucket = (1 << bits) - 1
    terms: list[Column] = []
    for i, c in enumerate(cols):
        lo, hi = bounds[c]
        span = (hi - lo) or 1.0
        bucket = F.floor(
            (_to_numeric(F.col(c), dtypes[c]) - F.lit(lo)) / F.lit(span) * max_bucket
        )
        # NULL sorts first: bucket 0, same as the column's minimum. The
        # coalesce must wrap the RAW bucket, before least(): Spark's
        # least() SKIPS nulls, so least(max_bucket, NULL) = max_bucket
        # and a post-least coalesce would be dead code sending NULLs to
        # the TOP of the curve instead.
        v = F.least(F.lit(max_bucket), F.coalesce(bucket, F.lit(0))).cast("long")
        for b in range(bits):
            terms.append(F.shiftleft(F.shiftright(v, b).bitwiseAND(F.lit(1)), b * k + i))
    return reduce(lambda a, b: a.bitwiseOR(b), terms)


def column_bounds(df: DataFrame, cols: Sequence[str]) -> dict[str, tuple[float, float]]:
    """Per-column (min, max) for bucket normalization — ONE bounded collect
    of a single row of 2·k scalars (same class as the sketch-grid
    broadcasts in plans/approx.py), never data-sized."""
    dtypes = dict(df.dtypes)
    aggs = []
    for c in cols:
        v = _to_numeric(F.col(c), dtypes[c])
        aggs += [F.min(v).alias(f"__lo_{c}"), F.max(v).alias(f"__hi_{c}")]
    row = df.agg(*aggs).collect()[0]
    for c in cols:
        if row[f"__lo_{c}"] is None:
            # empty input or all-NULL column: fail loudly instead of the
            # float(None) TypeError below.
            raise ValueError(f"write_zordered: no non-null values in {c!r}")
    return {c: (float(row[f"__lo_{c}"]), float(row[f"__hi_{c}"])) for c in cols}


def write_zordered(
    df: DataFrame, path: str, zcols: Sequence[str], num_files: int = 64, bits: int = 8
) -> None:
    """Write ``df`` as parquet clustered on the Morton curve over
    ``zcols``: range-partition into ``num_files`` z-value slabs, sort
    within each, drop the helper column (the narrow Project after Sort
    preserves row order). Each output file's min/max stats then cover a
    compact z-range ⇒ a compact rectangle in every interleaved dimension,
    which is exactly what scan-time row-group pruning needs."""
    bounds = column_bounds(df, zcols)
    z = zorder_expr(df, zcols, bounds, bits)
    (
        df.withColumn("__z", z)
        .repartitionByRange(num_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def ensure_zordered_fixture(
    spark: SparkSession,
    sf_dir: str,
    source: str,
    zcols: Sequence[str],
    num_files: int = 64,
    bits: int = 8,
) -> str:
    """Idempotent z-ordered copy of a fixture table under /tmp; returns the
    parquet path. Content-addressed on the source parquet bytes AND the
    layout spec (sinks/bucketed.py discipline): a regenerated fixture or a
    changed (cols, files, bits) spec gets a fresh path, never a stale
    _SUCCESS-marker reuse."""
    from ..sources.artifacts import fixture_artifact
    from ..sources.tables import load_table

    return fixture_artifact(
        "zorder", sf_dir, source, list(zcols), num_files, bits,
        build=lambda path: write_zordered(
            load_table(spark, sf_dir, source), path, zcols, num_files, bits
        ),
        leaf=source,
    )


def rowgroups_overlapping(
    path: str, predicates: dict[str, tuple[object, object]]
) -> tuple[int, int]:
    """(matching, total) parquet row groups whose min/max statistics
    intersect every [lo, hi] predicate — the deterministic measure of what
    a scan with those filters must read. This is driver-side METADATA
    inspection (pyarrow footer stats, no data pages), mirroring exactly
    the pruning decision Spark's parquet reader makes from the same
    statistics."""
    import glob as _glob
    import os

    import pyarrow.parquet as pq

    files = sorted(_glob.glob(os.path.join(path, "*.parquet")))
    total = matching = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            total += 1
            cols = {
                md.row_group(rg).column(ci).path_in_schema: md.row_group(rg).column(ci)
                for ci in range(md.row_group(rg).num_columns)
            }
            hit = True
            for name, (lo, hi) in predicates.items():
                st = cols[name].statistics
                if st is None or not st.has_min_max:
                    continue  # no stats ⇒ reader cannot prune ⇒ must read
                if st.max < lo or st.min > hi:
                    hit = False
                    break
            matching += hit
    return matching, total
