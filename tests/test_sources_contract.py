"""Schema contract pins for the fixture loaders (sources/tables.py).

Round-6 lesson: Spark 4.x's NTZ inference silently flipped events.ts from
TIMESTAMP to TIMESTAMP_NTZ when the fixture's parquet logical type changed,
which batch plans accepted but every `withWatermark` call site rejected
([EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE]) — and nothing pinned the dtype, so
the break entered unnoticed. These tests make the loader contract explicit:
they fail the round a dtype regresses, not the round someone next runs a
streaming query.
"""

from __future__ import annotations

import shutil

from tp1_distribuidos_mapreduce_spark.sources.tables import (
    TABLE_NAMES,
    load_table,
    stream_events,
)

from conftest import SF_SMOKE

# The dtype every downstream operator was built against, per table. Full
# pin (all columns, not just keys): any silent type flip in the fixture or
# in Spark's parquet inference should fail HERE with a readable diff.
EXPECTED_DTYPES = {
    "region": [("r_regionkey", "int"), ("r_name", "string")],
    "nation": [("n_nationkey", "int"), ("n_name", "string"), ("n_regionkey", "int")],
    "customer": [
        ("c_custkey", "bigint"),
        ("c_name", "string"),
        ("c_nationkey", "int"),
        ("c_acctbal", "double"),
        ("c_mktsegment", "string"),
    ],
    "supplier": [
        ("s_suppkey", "bigint"),
        ("s_name", "string"),
        ("s_nationkey", "int"),
        ("s_acctbal", "double"),
    ],
    "part": [
        ("p_partkey", "bigint"),
        ("p_name", "string"),
        ("p_brand", "string"),
        ("p_type", "string"),
        ("p_size", "int"),
        ("p_retailprice", "double"),
    ],
    "orders": [
        ("o_orderkey", "bigint"),
        ("o_custkey", "bigint"),
        ("o_orderstatus", "string"),
        ("o_totalprice", "double"),
        # NTZ is acceptable for batch-only date columns (never watermarked;
        # the DuckDB oracle agrees on values under the UTC session tz)
        ("o_orderdate", "timestamp_ntz"),
        ("o_orderpriority", "string"),
    ],
    "lineitem": [
        ("l_orderkey", "bigint"),
        ("l_partkey", "bigint"),
        ("l_suppkey", "bigint"),
        ("l_linenumber", "int"),
        ("l_quantity", "double"),
        ("l_extendedprice", "double"),
        ("l_discount", "double"),
        ("l_tax", "double"),
        ("l_returnflag", "string"),
        ("l_linestatus", "string"),
        ("l_shipdate", "timestamp_ntz"),
    ],
    "events": [
        ("event_id", "bigint"),
        # MUST be timestamp (LTZ), never timestamp_ntz: withWatermark
        # rejects NTZ outright, so an NTZ flip breaks every streaming path
        ("ts", "timestamp"),
        ("user_id", "bigint"),
        ("event_type", "string"),
        ("value", "double"),
        ("props", "string"),
    ],
    "documents": [
        ("doc_id", "bigint"),
        ("text", "string"),
        ("lang", "string"),
        ("source", "string"),
        ("n_chars", "bigint"),
    ],
    "embeddings": [
        ("vec_id", "bigint"),
        ("embedding", "array<float>"),
        ("label", "int"),
    ],
}


def test_expected_dtypes_covers_every_table():
    assert set(EXPECTED_DTYPES) == set(TABLE_NAMES)


def test_load_table_dtypes_are_pinned(spark):
    for name in TABLE_NAMES:
        got = load_table(spark, SF_SMOKE, name).dtypes
        assert got == EXPECTED_DTYPES[name], f"{name}: {got}"


def test_stream_events_ts_is_watermarkable(spark, tmp_path):
    """stream_events must yield ts: timestamp and accept withWatermark —
    including after a tmp-dir parquet round-trip, the exact path the
    streaming tests use (an NTZ column round-trips NTZ, which is how the
    round-6 break propagated past the loader)."""
    df = stream_events(spark, f"{SF_SMOKE}/events.parquet")
    assert df.isStreaming
    assert dict(df.dtypes)["ts"] == "timestamp"
    df.withWatermark("ts", "10 minutes")  # raises on NTZ

    replay = str(tmp_path / "events_replay")
    load_table(spark, SF_SMOKE, "events").write.parquet(replay)
    rt = stream_events(spark, replay)
    assert dict(rt.dtypes)["ts"] == "timestamp"
    rt.withWatermark("ts", "10 minutes")
    shutil.rmtree(replay, ignore_errors=True)


def test_detgen_datasource_partition_planning(spark):
    """The custom Python DataSource must honor its partition plan: the
    scan parallelism equals the partitions option (one task per
    InputPartition), rows partition exactly across ranges, and the
    formula matches an independent Python replay."""
    from tp1_distribuidos_mapreduce_spark.sources import pydatasource as PDS

    PDS.register_detgen(spark)
    df = (
        spark.read.format("detgen")
        .option("rows", 1000)
        .option("partitions", 7)
        .load()
    )
    assert df.rdd.getNumPartitions() == 7
    rows = df.collect()
    assert len(rows) == 1000
    ids = sorted(r["id"] for r in rows)
    assert ids == list(range(1000))  # ranges tile the keyspace, no overlap
    for r in rows[:50]:
        mixed = (r["id"] * PDS._MIX) % PDS._MOD
        assert (r["bucket"], r["value"]) == (mixed % 97, (mixed * 31) % PDS._MOD)


# --------------------------------------------------------------------------- #
# rowdir: write-side DataSource commit protocol (sources/pydatasource.py)
# --------------------------------------------------------------------------- #


def test_rowdir_roundtrip_lossless(spark, tmp_path):
    """Write → commit → manifest-scoped read returns exactly the input
    rows (values and dtypes), across long/double/string/timestamp."""
    from tp1_distribuidos_mapreduce_spark.sources import pydatasource as PDS

    PDS.register_rowdir(spark)
    src = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice", "o_orderdate"
    )
    out = str(tmp_path / "rowdir_orders")
    src.write.format("rowdir").mode("overwrite").save(out)

    back = spark.read.format("rowdir").load(out)
    assert back.dtypes == src.dtypes
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))

    # the commit protocol left no temp residue, and the manifest row
    # accounting matches
    import json
    import os

    assert not os.path.exists(os.path.join(out, "_temp"))
    with open(os.path.join(out, PDS.ROWDIR_MANIFEST)) as f:
        manifest = json.load(f)
    assert sum(e["n_rows"] for e in manifest["files"]) == src.count()


def test_rowdir_abort_leaves_no_visible_output(spark, tmp_path):
    """A failing write job must publish NOTHING: no manifest, no
    readable rows, no temp residue — the abort half of the commit
    protocol (VERDICT r9 #5 done-criteria)."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from tp1_distribuidos_mapreduce_spark.sources import pydatasource as PDS

    PDS.register_rowdir(spark)
    out = str(tmp_path / "rowdir_abort")

    @F.udf("long")
    def boom(x):
        raise RuntimeError("injected task failure")

    bad = (
        load_table(spark, SF_SMOKE, "orders")
        .select(boom(F.col("o_orderkey")).alias("k"))
    )
    with pytest.raises(Exception, match="injected task failure"):
        bad.write.format("rowdir").mode("overwrite").save(out)

    assert not os.path.exists(os.path.join(out, PDS.ROWDIR_MANIFEST))
    assert not os.path.exists(os.path.join(out, "_temp"))
    with pytest.raises(Exception, match="no committed data"):
        spark.read.format("rowdir").load(out).collect()


def test_rowdir_append_merges_and_overwrite_replaces(spark, tmp_path):
    """Append commits merge the manifest; a later overwrite replaces the
    CURRENT view wholesale. Superseded files stay on disk (older
    snapshots reference them) until vacuum_rowdir reclaims them."""
    import json
    import os

    from tp1_distribuidos_mapreduce_spark.sources import pydatasource as PDS

    PDS.register_rowdir(spark)
    out = str(tmp_path / "rowdir_append")
    a = spark.createDataFrame([(1, "a"), (2, "b")], "id long, tag string")
    b = spark.createDataFrame([(3, "c")], "id long, tag string")

    a.write.format("rowdir").mode("overwrite").save(out)
    b.write.format("rowdir").mode("append").save(out)
    got = sorted(map(tuple, spark.read.format("rowdir").load(out).collect()))
    assert got == [(1, "a"), (2, "b"), (3, "c")]

    b.write.format("rowdir").mode("overwrite").save(out)
    got2 = sorted(map(tuple, spark.read.format("rowdir").load(out).collect()))
    assert got2 == [(3, "c")]

    removed = PDS.vacuum_rowdir(out)
    assert removed  # superseded data files + snapshot manifests reclaimed
    with open(os.path.join(out, PDS.ROWDIR_MANIFEST)) as f:
        manifest = json.load(f)
    listed = {e["file"] for e in manifest["files"]}
    on_disk = {f for f in os.listdir(out) if f.endswith(".arrow")}
    assert on_disk == listed  # only current-version files remain
    # current view is untouched by vacuum
    got3 = sorted(map(tuple, spark.read.format("rowdir").load(out).collect()))
    assert got3 == [(3, "c")]


def test_rowdir_time_travel_and_vacuum(spark, tmp_path):
    """Versioned manifests: every commit publishes an immutable
    snapshot; `.option("version", N)` reads it byte-stably even after
    later overwrites; vacuum makes historical reads fail LOUDLY, not
    return partial data."""
    import pytest

    from tp1_distribuidos_mapreduce_spark.sources import pydatasource as PDS

    PDS.register_rowdir(spark)
    out = str(tmp_path / "rowdir_tt")
    v1 = spark.createDataFrame([(1, "a")], "id long, tag string")
    v2 = spark.createDataFrame([(2, "b")], "id long, tag string")
    v3 = spark.createDataFrame([(9, "z")], "id long, tag string")

    v1.write.format("rowdir").mode("overwrite").save(out)
    v2.write.format("rowdir").mode("append").save(out)
    v3.write.format("rowdir").mode("overwrite").save(out)

    hist = PDS.rowdir_history(out)
    assert [(h["version"], h["n_rows"]) for h in hist] == [(1, 1), (2, 2), (3, 1)]

    read = lambda **kw: sorted(  # noqa: E731
        map(
            tuple,
            spark.read.format("rowdir").options(**kw).load(out).collect(),
        )
    )
    assert read(version=1) == [(1, "a")]
    assert read(version=2) == [(1, "a"), (2, "b")]
    assert read() == [(9, "z")]

    PDS.vacuum_rowdir(out)
    assert read() == [(9, "z")]  # current survives
    with pytest.raises(Exception, match="vacuum|snapshot"):
        read(version=1)
    # history now shows only the current snapshot
    assert [h["version"] for h in PDS.rowdir_history(out)] == [3]


def test_rowdir_zone_map_prunes_files(spark, tmp_path):
    """pushFilters + manifest stats skip whole files: a year-range-
    partitioned write yields per-file year bands, and a year predicate
    must cut partitions() below the full file count while the filtered
    read stays row-identical to a full-scan-then-filter."""
    from pyspark.sql import functions as F
    from pyspark.sql.datasource import GreaterThanOrEqual

    from tp1_distribuidos_mapreduce_spark.sources import pydatasource as PDS

    PDS.register_rowdir(spark)
    out = str(tmp_path / "rowdir_zm")
    src = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("year")
    )
    src.repartitionByRange(4, "year").write.format("rowdir").mode(
        "overwrite"
    ).save(out)

    # mechanical pin on the reader contract itself
    reader = PDS.RowDirReader({"path": out})
    n_all = len(reader.partitions())
    assert n_all >= 3  # the range write really produced multiple files
    returned = list(reader.pushFilters([GreaterThanOrEqual(("year",), 1998)]))
    assert len(returned) == 1  # all filters handed back for row-level re-eval
    n_pruned = len(reader.partitions())
    assert 0 < n_pruned < n_all, (n_pruned, n_all)

    # end-to-end: pruned read == full read filtered
    got = sorted(
        map(
            tuple,
            spark.read.format("rowdir")
            .load(out)
            .where(F.col("year") >= 1998)
            .collect(),
        )
    )
    want = sorted(
        map(tuple, (r for r in src.collect() if r["year"] >= 1998))
    )
    assert got == want and got


def test_rowdir_concurrent_threads_resolve_source(spark, tmp_path):
    """Regression for the JVM active-session THREAD-LOCAL miss: py4j
    pins a fresh JVM thread per Python thread, and Python-datasource
    name lookup consults getActiveSession — without the pin in
    register_rowdir, 16/16 concurrent saves failed DATA_SOURCE_NOT_FOUND
    while dataSourceExists() was true. Eight threads write+read
    distinct rowdir tables; all must succeed."""
    from concurrent.futures import ThreadPoolExecutor

    from tp1_distribuidos_mapreduce_spark.sources import pydatasource as PDS

    def work(i):
        PDS.register_rowdir(spark)  # carries the per-thread session pin
        out = str(tmp_path / f"t{i}")
        spark.range(200).selectExpr("id", "id % 5 as k").write.format(
            "rowdir"
        ).mode("overwrite").save(out)
        return spark.read.format("rowdir").load(out).count()

    with ThreadPoolExecutor(max_workers=8) as pool:
        counts = list(pool.map(work, range(8)))
    assert counts == [200] * 8


def test_rowdir_concurrent_appends_lose_nothing(spark, tmp_path):
    """Two simultaneous append jobs to the same table: the flock-
    serialized manifest read-modify-write must merge both commits —
    without it, the second swap would unlist the first append's files
    (the exact interleave the committer's lock comment documents)."""
    from concurrent.futures import ThreadPoolExecutor

    from tp1_distribuidos_mapreduce_spark.sources import pydatasource as PDS

    PDS.register_rowdir(spark)
    out = str(tmp_path / "rowdir_concur_append")
    spark.createDataFrame([(0, "seed")], "id long, tag string").write.format(
        "rowdir"
    ).mode("overwrite").save(out)

    def append(i):
        PDS.register_rowdir(spark)  # per-thread active-session pin
        spark.createDataFrame(
            [(100 + i, f"t{i}")], "id long, tag string"
        ).write.format("rowdir").mode("append").save(out)

    with ThreadPoolExecutor(max_workers=6) as pool:
        list(pool.map(append, range(6)))

    got = sorted(map(tuple, spark.read.format("rowdir").load(out).collect()))
    assert got == [(0, "seed")] + [(100 + i, f"t{i}") for i in range(6)]
    # every commit bumped the version exactly once: 1 seed + 6 appends
    assert PDS._read_manifest(out)["version"] == 7


def test_rowdir_compaction_and_change_feed(spark, tmp_path):
    """OPTIMIZE + CDF on the table format: many small appends → one
    compacted version with identical contents and fewer files; the
    change feed between append versions returns exactly the appended
    rows via a distributed scan of only the diffed files; and time
    travel to the pre-compaction snapshot still works."""
    from tp1_distribuidos_mapreduce_spark.sources import pydatasource as PDS

    PDS.register_rowdir(spark)
    out = str(tmp_path / "rowdir_opt")

    spark.createDataFrame(
        [(i, f"a{i}") for i in range(10)], "id long, tag string"
    ).repartition(4).write.format("rowdir").mode("overwrite").save(out)  # v1
    spark.createDataFrame(
        [(100 + i, f"b{i}") for i in range(10)], "id long, tag string"
    ).repartition(4).write.format("rowdir").mode("append").save(out)  # v2

    # change feed v1→v2 = exactly the appended batch
    feed = sorted(map(tuple, PDS.rowdir_changes(spark, out, 1, 2).collect()))
    assert feed == [(100 + i, f"b{i}") for i in range(10)]
    # feed to CURRENT (same version here)
    feed2 = sorted(map(tuple, PDS.rowdir_changes(spark, out, 1).collect()))
    assert feed2 == feed
    # empty diff
    assert PDS.rowdir_changes(spark, out, 2, 2).count() == 0

    before = PDS._read_manifest(out)
    res = PDS.compact_rowdir(spark, out)
    assert res["files_before"] == len(before["files"]) >= 8
    assert res["files_after"] == 1
    assert res["version"] == 3

    want = sorted(
        [(i, f"a{i}") for i in range(10)] + [(100 + i, f"b{i}") for i in range(10)]
    )
    now = sorted(map(tuple, spark.read.format("rowdir").load(out).collect()))
    assert now == want
    # pre-compaction snapshot is still readable (until vacuum)
    v2 = sorted(
        map(
            tuple,
            spark.read.format("rowdir").option("version", 2).load(out).collect(),
        )
    )
    assert v2 == want
    # zone maps survive compaction: the rewritten file carries id stats
    stats = PDS._read_manifest(out)["files"][0]["stats"]
    assert stats["id"] == [0, 109]


def test_rowdir_nulls_unicode_and_empty_table(spark, tmp_path):
    """Storage-layer edge cases: NULLs in every column type, unicode,
    empty strings, and 64-bit extremes round-trip exactly (the engine's
    no-NULL policy is a QUERY-OUTPUT rule, not a storage rule); zone-map
    stats skip nulls; and a ZERO-ROW write commits a readable empty
    table (a reader partition plan of zero partitions)."""
    from tp1_distribuidos_mapreduce_spark.sources import pydatasource as PDS

    PDS.register_rowdir(spark)

    rows = [
        (1, None, None),
        (None, "héllo wörld — ürsprünglich", 1.5),
        (-(2**63), "", None),
        (2**63 - 1, "z" * 1000, float("inf")),
    ]
    src = spark.createDataFrame(rows, "id long, s string, x double")
    out = str(tmp_path / "edge")
    src.write.format("rowdir").mode("overwrite").save(out)
    back = spark.read.format("rowdir").load(out)
    assert back.dtypes == src.dtypes
    assert sorted(map(tuple, back.collect()), key=str) == sorted(
        map(tuple, src.collect()), key=str
    )
    # zone maps ignore nulls and the per-file bounds fold to the exact
    # non-null global range (64-bit extremes intact)
    id_bounds = [
        e["stats"]["id"]
        for e in PDS._read_manifest(out)["files"]
        if "id" in (e["stats"] or {})
    ]
    assert id_bounds
    assert min(b[0] for b in id_bounds) == -(2**63)
    assert max(b[1] for b in id_bounds) == 2**63 - 1

    empty = spark.createDataFrame([], "id long, s string")
    out2 = str(tmp_path / "empty")
    empty.write.format("rowdir").mode("overwrite").save(out2)
    got = spark.read.format("rowdir").load(out2)
    assert got.count() == 0
    assert got.dtypes == empty.dtypes
    assert PDS._read_manifest(out2)["files"] == []


def test_rowdir_compaction_cas_refuses_concurrent_commit(spark, tmp_path):
    """Optimistic concurrency (code-review r10 finding #1): a commit
    carrying expectedVersion must REFUSE — loudly, pre-swap — when
    another commit landed after the caller resolved the manifest, so a
    compaction rewrite can never silently unlist a concurrent append.
    The refused job's staged files are reclaimed and the table is
    byte-identical to the pre-attempt state."""
    import pytest

    from tp1_distribuidos_mapreduce_spark.sources import pydatasource as PDS

    PDS.register_rowdir(spark)
    out = str(tmp_path / "rowdir_cas")
    spark.createDataFrame([(1, "a")], "id long, tag string").write.format(
        "rowdir"
    ).mode("overwrite").save(out)  # v1

    # a "compaction" that resolved v1, with an append racing in between
    spark.createDataFrame([(2, "b")], "id long, tag string").write.format(
        "rowdir"
    ).mode("append").save(out)  # v2 lands first

    with pytest.raises(Exception, match="concurrent commit detected"):
        spark.createDataFrame([(9, "stale")], "id long, tag string").write.format(
            "rowdir"
        ).mode("overwrite").option("expectedVersion", 1).save(out)

    got = sorted(map(tuple, spark.read.format("rowdir").load(out).collect()))
    assert got == [(1, "a"), (2, "b")]  # nothing lost, nothing applied
    import os

    assert not os.path.exists(os.path.join(out, "_temp"))
    # matching expectedVersion commits fine
    spark.createDataFrame([(3, "c")], "id long, tag string").write.format(
        "rowdir"
    ).mode("append").option("expectedVersion", 2).save(out)
    assert spark.read.format("rowdir").load(out).count() == 3


def test_detgen_zero_rows_reads_empty(spark):
    """rows=0 → partitions() is empty and Spark's None-partition
    fallback must yield an empty result, not an AttributeError
    (code-review r10 finding #4)."""
    from tp1_distribuidos_mapreduce_spark.sources import pydatasource as PDS

    PDS.register_detgen(spark)
    df = spark.read.format("detgen").option("rows", 0).load()
    assert df.count() == 0


def test_rowdir_merge_upsert(spark, tmp_path):
    """Copy-on-write MERGE: matched keys updated, new keys inserted,
    one new version, previous snapshot still time-travelable, and the
    CAS guard protects the whole read-rewrite window."""
    from tp1_distribuidos_mapreduce_spark.sources import pydatasource as PDS

    PDS.register_rowdir(spark)
    out = str(tmp_path / "rowdir_merge")
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, tag string"
    ).write.format("rowdir").mode("overwrite").save(out)  # v1

    updates = spark.createDataFrame(
        [(2, "B2"), (4, "d")], "id long, tag string"
    )
    res = PDS.merge_rowdir(spark, out, updates, "id")
    assert res == {"version": 2, "n_updated": 1, "n_inserted": 1}

    got = sorted(map(tuple, spark.read.format("rowdir").load(out).collect()))
    assert got == [(1, "a"), (2, "B2"), (3, "c"), (4, "d")]
    # pre-merge snapshot intact
    v1 = sorted(
        map(
            tuple,
            spark.read.format("rowdir").option("version", 1).load(out).collect(),
        )
    )
    assert v1 == [(1, "a"), (2, "b"), (3, "c")]


def test_rowdir_merge_null_key_replaces_and_dup_keys_refused(spark, tmp_path):
    """Review-found contract gaps: the key match must be NULL-SAFE (a
    plain equi-anti-join never matches NULL==NULL, so a NULL-key row
    would survive every merge and duplicate), and a non-key-unique
    updates batch must be refused loudly (it would plant duplicate keys
    in the merged version)."""
    import pytest

    from tp1_distribuidos_mapreduce_spark.sources import pydatasource as PDS

    PDS.register_rowdir(spark)
    out = str(tmp_path / "rowdir_merge_null")
    spark.createDataFrame(
        [(1, "a"), (None, "n0")], "id long, tag string"
    ).write.format("rowdir").mode("overwrite").save(out)

    res = PDS.merge_rowdir(
        spark,
        out,
        spark.createDataFrame([(None, "n1")], "id long, tag string"),
        "id",
    )
    assert res["n_updated"] == 1 and res["n_inserted"] == 0
    got = sorted(
        map(tuple, spark.read.format("rowdir").load(out).collect()),
        key=lambda r: (r[0] is None, r),
    )
    assert got == [(1, "a"), (None, "n1")]  # replaced, not duplicated

    with pytest.raises(ValueError, match="key-unique"):
        PDS.merge_rowdir(
            spark,
            out,
            spark.createDataFrame([(7, "x"), (7, "y")], "id long, tag string"),
            "id",
        )


def test_load_table_view_reuse_fresh_ids_and_regeneration(spark, tmp_path):
    """r22 pin for load_table's per-session temp-view reuse: (a) two
    load_table frames of the same table must still self-join (each
    spark.table() call re-instantiates the plan with fresh attribute
    ids — the q21 two-lineitem-role pattern); (b) a REGENERATED fixture
    (same path, new bytes/mtime) must get a fresh view, never a stale
    plan."""
    import os
    import time as _time

    from pyspark.sql import functions as F

    a = load_table(spark, SF_SMOKE, "nation")
    b = load_table(spark, SF_SMOKE, "nation")
    joined = (
        a.alias("x")
        .join(b.alias("y"), F.col("x.n_regionkey") == F.col("y.n_regionkey"))
        .count()
    )
    assert joined > a.count()  # region groups multiply — a real join ran

    # regeneration: copy the fixture dir, load, rewrite the table, reload
    sf2 = str(tmp_path / "sf")
    shutil.copytree(SF_SMOKE, sf2)
    first = load_table(spark, sf2, "nation")
    n_first = first.count()
    rows = first.limit(3).collect()
    spark.createDataFrame(rows, first.schema).toPandas().to_parquet(
        os.path.join(sf2, "nation.parquet")
    )
    # ensure a new mtime_ns even on coarse filesystems
    _time.sleep(0.01)
    os.utime(os.path.join(sf2, "nation.parquet"))
    again = load_table(spark, sf2, "nation")
    assert again.count() == 3 != n_first


def _package_tmp_entries() -> set[str]:
    import os

    return {n for n in os.listdir("/tmp") if n.startswith(("tp1_spark_", "spark_graft_"))}


def test_nanos_events_convert_to_micros_and_rebuild(spark, tmp_path):
    """An events parquet whose ts is timestamp[ns] (Spark's vectorized
    reader rejects it) loads and streams as ts: timestamp, truncated
    ns→µs, through the one-time converted copy; the legacy nanosAsLong
    conf is restored after the conversion; a deleted copy is rebuilt on
    the next batch load in the same session and on the next stream; and
    the test leaves no package entry behind in /tmp."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from tp1_distribuidos_mapreduce_spark.sources.artifacts import (
        artifact_path,
        content_tag,
        lock_path,
    )
    from tp1_distribuidos_mapreduce_spark.sources.tables import _NANOS_CONF

    ns = [1_700_000_000_123_456_789, 1_700_000_100_000_000_999, 1_700_086_400_999_999_001]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2, 3], pa.int64()),
                "ts": pa.array(ns, pa.timestamp("ns", tz="UTC")),
                "user_id": pa.array([10, 11, 10], pa.int64()),
                "event_type": ["view", "click", "view"],
                "value": [1.5, 2.25, 3.0],
                "props": ["{}", "{}", "{}"],
            }
        ),
        tmp_path / "events.parquet",
    )
    source = str(tmp_path / "events.parquet")
    copy = artifact_path(f"events_us_{content_tag(source, 'us-v1')}")
    expected = sorted((i + 1, n // 1000) for i, n in enumerate(ns))
    before = _package_tmp_entries()
    prev_conf = spark.conf.get(_NANOS_CONF, None)

    def micros(df):
        return sorted(
            (r[0], r[1]) for r in df.select("event_id", F.unix_micros("ts")).collect()
        )

    def streamed(tag):
        sdf = stream_events(spark, source)
        assert dict(sdf.dtypes)["ts"] == "timestamp"
        name = f"nanos_{tag}"
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / f"ckpt_{tag}"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        return micros(spark.table(name))

    try:
        batch = load_table(spark, str(tmp_path), "events")
        assert dict(batch.dtypes)["ts"] == "timestamp"
        assert micros(batch) == expected
        assert streamed("a") == expected
        assert spark.conf.get(_NANOS_CONF, None) == prev_conf

        assert _package_tmp_entries() - before == {
            os.path.basename(copy),
            os.path.basename(lock_path(copy)),
        }
        shutil.rmtree(copy)
        # rebuilt on the next load, batch and stream alike
        assert micros(load_table(spark, str(tmp_path), "events")) == expected
        assert streamed("b") == expected
        assert os.path.exists(os.path.join(copy, "_SUCCESS"))
        assert spark.conf.get(_NANOS_CONF, None) == prev_conf
    finally:
        shutil.rmtree(copy, ignore_errors=True)
        if os.path.exists(lock_path(copy)):
            os.remove(lock_path(copy))
    assert _package_tmp_entries() == before
