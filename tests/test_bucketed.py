"""Bucketed-table layout tests: a join of two tables bucketed on the join
key must plan with zero Exchange (no shuffle) and produce the same result
as the plain join."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from tp1_distribuidos_mapreduce_spark.sinks.bucketed import read_bucketed, write_bucketed

from conftest import SF_SMOKE, differential


@pytest.fixture(scope="module")
def bucketed_tables(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("bucketed")
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    lineitem = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    write_bucketed(
        orders, "orders_b", str(d / "orders_b"), ["o_orderkey"], 8, ["o_orderkey"]
    )
    write_bucketed(
        lineitem, "lineitem_b", str(d / "lineitem_b"), ["l_orderkey"], 8, ["l_orderkey"]
    )
    yield "orders_b", "lineitem_b"
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")


def joined(spark, bucketed_tables):
    ot, lt = bucketed_tables
    o = read_bucketed(spark, ot)
    l = read_bucketed(spark, lt)
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.round(F.sum("l_extendedprice"), 2).alias("rev"))
    )


def test_bucketed_join_has_no_exchange(spark, bucketed_tables):
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # disable broadcast so the planner must consider partitioning
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = joined(spark, bucketed_tables)._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        # the ONLY exchange allowed is the one for the final groupBy; the
        # join itself must read both sides pre-partitioned from storage.
        join_part = plan.split("SortMergeJoin", 1)[1]
        assert "Exchange" not in join_part, join_part[:2000]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bucketed_join_matches_plain_join(spark, bucketed_tables):
    got = {(r.o_orderpriority, r.rev) for r in joined(spark, bucketed_tables).collect()}
    o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    l = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    want = {
        (r.o_orderpriority, r.rev)
        for r in o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.round(F.sum("l_extendedprice"), 2).alias("rev"))
        .collect()
    }
    assert got == want


# --------------------------------------------------------------------------- #
# size-targeted compaction writer (sinks/compact.py)
# --------------------------------------------------------------------------- #


def test_compacted_write_collapses_small_files(spark, tmp_path):
    from tp1_distribuidos_mapreduce_spark.sinks import compact as C
    from tp1_distribuidos_mapreduce_spark.sources.tables import load_table
    import glob

    from conftest import SF_SMOKE

    # fragment the input into 64 tiny files, then compact
    li = load_table(spark, SF_SMOKE, "lineitem")
    frag = str(tmp_path / "fragmented")
    li.repartition(64).write.parquet(frag)
    assert len(glob.glob(f"{frag}/part-*.parquet")) == 64

    out = str(tmp_path / "compacted")
    n = C.write_compacted_parquet(spark.read.parquet(frag), out, target_mb=128)
    files = glob.glob(f"{out}/part-*.parquet")
    assert len(files) == n
    # ~6k rows is far below one 128MB target file
    assert n == 1
    # content preserved
    assert spark.read.parquet(out).count() == li.count()


def test_compacted_write_respects_directory_partitioning(spark, tmp_path):
    from tp1_distribuidos_mapreduce_spark.sinks import compact as C
    from tp1_distribuidos_mapreduce_spark.sources.tables import load_table
    import glob

    from conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "lang", "n_chars")
    out = str(tmp_path / "by_lang")
    C.write_compacted_parquet(docs, out, target_mb=128, partition_cols=["lang"])
    langs = {p.split("lang=")[1] for p in glob.glob(f"{out}/lang=*")}
    assert langs == {r.lang for r in docs.select("lang").distinct().collect()}
    back = spark.read.parquet(out)
    assert back.count() == docs.count()


def test_target_partitions_scales_with_size(spark):
    from tp1_distribuidos_mapreduce_spark.sinks import compact as C
    from tp1_distribuidos_mapreduce_spark.sources.tables import load_table

    from conftest import SF_SMOKE

    li = load_table(spark, SF_SMOKE, "lineitem")
    # smaller target -> at least as many files
    assert C.target_partitions(li, 1) >= C.target_partitions(li, 1024)
    assert C.estimated_plan_bytes(li) > 0


def test_target_partitions_survives_unknown_stats(spark):
    """Local relations report Long.MaxValue sizeInBytes — the sentinel must
    fall back to the input partitioning, not demand 17B partitions."""
    from tp1_distribuidos_mapreduce_spark.sinks import compact as C

    df = spark.createDataFrame([("a", 1), ("b", 2)], "s string, i long")
    n = C.target_partitions(df)
    assert 1 <= n <= 10_000


def test_registered_bucketed_query_joins_without_exchange(spark):
    """The registry's bucketed_colocated_join must actually exploit the
    layout: sort-merge join with no Exchange on either join side (the
    groupBy's exchange is the only one allowed)."""
    from tp1_distribuidos_mapreduce_spark.sinks.bucketed import (
        bucketed_revenue_by_priority,
    )

    plan = (
        bucketed_revenue_by_priority(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortMergeJoin" in plan
    join_part = plan.split("SortMergeJoin", 1)[1]
    assert "Exchange" not in join_part, join_part[:2000]


def test_bucketed_fixture_under_concurrent_callers(spark, monkeypatch):
    """Eight threads of a new session ask for the orders bucketed fixture.
    The session has its own relation cache, but persistent tables live in
    the catalog every session of the SparkContext shares, so the entry is
    dropped first (the table is external: its files stay) and all eight
    register it: each gets the same name and none raises. Then the
    artifact dir is deleted while the catalog still names the table: the
    files are written exactly once and the query returns the first call's
    rows."""
    import shutil
    from concurrent.futures import ThreadPoolExecutor

    from tp1_distribuidos_mapreduce_spark.sinks import bucketed as BK
    from tp1_distribuidos_mapreduce_spark.sources import artifacts

    session = spark.newSession()

    def ask(_):
        return BK.ensure_bucketed_fixture(
            session, SF_SMOKE, "orders", ["o_orderkey"], 8, ["o_orderkey"]
        )

    def query():
        df = BK.bucketed_revenue_by_priority(session, SF_SMOKE)
        return df.columns, df.collect()

    table = ask(0)
    first = query()
    session.sql(f"DROP TABLE {table}")
    with ThreadPoolExecutor(max_workers=8) as pool:
        assert set(pool.map(ask, range(8))) == {table}

    writes = []
    real = BK.write_bucketed

    def counting(df, name, path, *args):
        writes.append(path)
        real(df, name, path, *args)

    monkeypatch.setattr(BK, "write_bucketed", counting)
    shutil.rmtree(artifacts.artifact_path(f"bucketed_{table.rsplit('_', 1)[1]}"))
    with ThreadPoolExecutor(max_workers=8) as pool:
        assert set(pool.map(ask, range(8))) == {table}
    assert len(writes) == 1
    reason = differential.compare_rows(*first, *query())
    assert reason is None, reason
