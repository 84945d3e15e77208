"""Manifest-committed parquet publish — the atomic-visibility contract a
multi-writer data lake needs without a table format.

A plain ``df.write.parquet(path)`` is only atomic per file: a concurrent
or crashed writer leaves stray part-files that a naive directory-listing
reader happily ingests (double counts), and a partially-deleted output
silently under-counts. Table formats (Iceberg/Delta) fix this with a
committed file list; this sink implements the same discipline at parquet
level, in the spirit of Spark's own ``_SUCCESS`` marker but carrying
enough metadata to VALIDATE, not just signal:

- ``write_published`` writes the data into a fresh SNAPSHOT subdirectory
  (``snap-<uuid>/``), then commits ``_MANIFEST.json`` at the publish root
  recording every data file of THAT snapshot with its parquet-footer row
  count and byte size, plus the total and the schema. The manifest is
  written LAST — readers that require it therefore never observe a
  partial write (rename-free object stores included: the manifest PUT is
  the commit point). The snapshot dir is what makes the contract hold
  under CONCURRENT writers and RE-publishes: each writer lists only its
  own snapshot (a racing writer's part-files can never be manifested),
  and a re-publish builds the new snapshot beside the old one and swaps
  the manifest atomically — a reader arriving mid-republish sees the
  previous complete snapshot, never a deleted or mixed directory.
- ``read_published`` reads ONLY the manifested files (stray part-files
  from failed/concurrent writers are invisible), fails loudly when the
  manifest is missing (uncommitted directory) or a listed file is gone
  (corrupted publish), and optionally re-validates row counts against
  the footers.
- ``vacuum_published`` removes snapshot dirs no longer referenced by the
  committed manifest — an explicit maintenance op (like a table format's
  expire-snapshots), never run implicitly: a reader may still be
  mid-scan over the previous snapshot.

Driver-side work is bounded by the file COUNT (one footer read each —
metadata pages, not data), never by rows.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

MANIFEST_NAME = "_MANIFEST.json"
_SNAP_PREFIX = "snap-"


def write_published(df: DataFrame, path: str) -> dict:
    """Write ``df`` as parquet into a fresh snapshot under ``path`` and
    commit a manifest at the root. Returns the manifest dict."""
    import uuid

    import pyarrow.parquet as pq

    snap = f"{_SNAP_PREFIX}{uuid.uuid4().hex[:12]}"
    snap_dir = os.path.join(path, snap)
    df.write.mode("overwrite").parquet(snap_dir)
    files = []
    # listing is confined to THIS writer's snapshot dir: a concurrent
    # writer's files live in its own snapshot and cannot be manifested.
    for name in sorted(os.listdir(snap_dir)):
        if not name.endswith(".parquet"):
            continue
        full = os.path.join(snap_dir, name)
        meta = pq.ParquetFile(full).metadata
        files.append(
            {
                "name": f"{snap}/{name}",
                "rows": meta.num_rows,
                "bytes": os.path.getsize(full),
            }
        )
    manifest = {
        "snapshot": snap,
        "files": files,
        "total_rows": sum(f["rows"] for f in files),
        "schema": df.schema.simpleString(),
    }
    tmp = os.path.join(path, MANIFEST_NAME + f".{snap}.tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    # rename is the commit point on POSIX; on an object store the final
    # PUT of the manifest object plays the same role.
    os.replace(tmp, os.path.join(path, MANIFEST_NAME))
    return manifest


def vacuum_published(path: str) -> list[str]:
    """Remove snapshot dirs not referenced by the committed manifest.
    Returns the removed dir names. Explicit maintenance only."""
    import shutil

    with open(os.path.join(path, MANIFEST_NAME)) as fh:
        current = json.load(fh)["snapshot"]
    removed = []
    for name in sorted(os.listdir(path)):
        if name.startswith(_SNAP_PREFIX) and name != current:
            shutil.rmtree(os.path.join(path, name))
            removed.append(name)
    return removed


def read_published(
    spark: SparkSession, path: str, validate_counts: bool = False
) -> DataFrame:
    """Read a manifest-committed directory: only listed files, loud
    failure on a missing manifest or missing listed file."""
    import pyarrow.parquet as pq

    mpath = os.path.join(path, MANIFEST_NAME)
    if not os.path.exists(mpath):
        raise FileNotFoundError(
            f"{mpath} not found: directory was never committed "
            "(write_published writes the manifest last — a missing manifest "
            "means a partial or foreign write; refusing to guess)"
        )
    with open(mpath) as fh:
        manifest = json.load(fh)
    listed = [os.path.join(path, f["name"]) for f in manifest["files"]]
    missing = [p for p in listed if not os.path.exists(p)]
    if missing:
        raise FileNotFoundError(
            f"manifest lists {len(missing)} file(s) that no longer exist "
            f"(first: {missing[0]}): the publish is corrupt"
        )
    if validate_counts:
        for f in manifest["files"]:
            actual = pq.ParquetFile(os.path.join(path, f["name"])).metadata.num_rows
            if actual != f["rows"]:
                raise ValueError(
                    f"{f['name']}: footer rows {actual} != manifest {f['rows']}"
                )
    return spark.read.parquet(*listed)


def ensure_published_events(spark: SparkSession, sf_dir: str) -> str:
    """Idempotent manifest-committed /tmp publish of the events fixture
    (content-addressed on the fixture bytes; the committed manifest is
    the build_once marker — write_published's own commit point)."""
    from ..sources.artifacts import fixture_artifact
    from ..sources.tables import load_table

    return fixture_artifact(
        "published", sf_dir, "events", "published-v1",
        build=lambda path: write_published(load_table(spark, sf_dir, "events"), path),
        leaf="events",
        marker=MANIFEST_NAME,
    )


def published_events_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type census read through the manifest commit path
    (read_published with footer-count validation): any row the publish
    lost, duplicated, or mixed in from a stray writer breaks the
    differential against the raw fixture — proving the snapshot layout
    is physical only. Value sums run on exact 1e-3-scaled BIGINTs with
    half-up integer rounding (the engine-wide tie discipline)."""
    from pyspark.sql import functions as F

    path = ensure_published_events(spark, sf_dir)
    df = read_published(spark, path, validate_counts=True)
    return (
        df.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            (
                F.expr("(sum(cast(round(value * 1000) as bigint)) + 5) div 10")
                / 100.0
            ).alias("value_total"),
        )
        .orderBy("event_type")
    )


PUBLISHED_EVENTS_CENSUS_ORACLE = """
SELECT event_type,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       ((sum(CAST(round(value * 1000) AS BIGINT)) + 5) // 10) / 100.0
         AS value_total
FROM events
GROUP BY event_type
ORDER BY event_type
"""
