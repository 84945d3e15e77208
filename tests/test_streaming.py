"""Structured Streaming tests: the batch transforms in streaming/ replayed
through a real file-source stream (availableNow trigger, memory sink) must
agree with their batch-mode results; watermarks must drop late data; the
applyInPandasWithState operator must converge to the batch aggregate.
"""

from __future__ import annotations

import uuid

import pytest

from pyspark.sql import functions as F

from tp1_distribuidos_mapreduce_spark.sources.tables import (
    load_table,
    stream_events as _stream_events,
)
from tp1_distribuidos_mapreduce_spark.streaming import joins as SJ
from tp1_distribuidos_mapreduce_spark.streaming import stateful as ST
from tp1_distribuidos_mapreduce_spark.streaming import windows as W

from conftest import SF_SMOKE



def run_stream(sdf, mode: str):
    """Run a streaming DataFrame to completion into a memory sink and
    return the sink rows."""
    name = f"sink_{uuid.uuid4().hex[:8]}"
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not terminate within 120s"
    return sdf.sparkSession.sql(f"SELECT * FROM {name}")


def stream_events(spark, path, max_files=None):
    return _stream_events(spark, path, max_files_per_trigger=max_files)


def batch_events(spark):
    return load_table(spark, SF_SMOKE, "events")


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """The streaming file source requires a directory; rewrite the fixture
    events (micros timestamps) into one, once per module."""
    d = str(tmp_path_factory.mktemp("events_stream"))
    batch_events(spark).write.mode("overwrite").parquet(d)
    return d


def norm(rows):
    return sorted(tuple(r) for r in rows)


def test_tumbling_stream_matches_batch(spark, events_dir):
    batch = W.tumbling_event_counts(batch_events(spark)).collect()
    stream = run_stream(
        W.tumbling_event_counts(stream_events(spark, events_dir)), "complete"
    ).collect()
    assert norm(stream) == norm(batch)


def test_session_window_stream_matches_batch(spark, events_dir):
    batch = W.session_window_stats(batch_events(spark)).collect()
    stream = run_stream(
        W.session_window_stats(stream_events(spark, events_dir)), "complete"
    ).collect()
    assert norm(stream) == norm(batch)


def test_watermark_drops_late_event(spark, tmp_path):
    """Three micro-batches: early data, a watermark-raising anchor (which
    finalizes and emits the early windows), then one event arriving 29 days
    late. The append contract — an emitted window never changes — requires
    the engine to drop that row, observable both in the state-operator
    metrics and in the emitted counts."""
    import glob
    import os
    import time

    events = batch_events(spark)
    d = str(tmp_path / "stream_in")
    batches = [
        events.where(F.col("ts") < "2024-01-02"),
        events.where(F.col("ts") >= "2024-01-29"),
        events.where(F.col("ts") < "2024-01-01 01:00:00").limit(1),
    ]
    # The file source orders its initial listing by modification time; pin
    # mtimes so each write becomes its own micro-batch, in order.
    now, seen = time.time(), set()
    for i, df in enumerate(batches):
        df.coalesce(1).write.mode("append").parquet(d)
        new = set(glob.glob(f"{d}/part-*")) - seen
        for f in new:
            os.utime(f, (now - 300 + i * 100,) * 2)
        seen |= new

    sdf = W.tumbling_event_counts(
        stream_events(spark, path=d, max_files=1), watermark="1 hour"
    )
    name = f"sink_{uuid.uuid4().hex[:8]}"
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not terminate"
    dropped = sum(
        so.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for so in p["stateOperators"]
    )
    assert dropped == 1
    # The late event's window was emitted from batch-1 data only: per-type
    # counts for the first hour must match the on-time events exactly.
    got = {
        (r.event_type, r.n_events)
        for r in spark.sql(f"SELECT * FROM {name}")
        .where(F.col("window_start") == "2024-01-01 00:00:00")
        .collect()
    }
    want = {
        (r.event_type, r.n_events)
        for r in W.tumbling_event_counts(batches[0])
        .where(F.col("window_start") == "2024-01-01 00:00:00")
        .collect()
    }
    assert got == want


def test_stateful_running_totals_converge_to_batch(spark, events_dir):
    """applyInPandasWithState over the full replay: last update per user ==
    batch groupBy totals."""
    out = run_stream(
        ST.running_user_totals(stream_events(spark, events_dir)), "update"
    ).collect()
    # memory sink accumulates one row per (batch, user) update; with a
    # single availableNow batch each user appears once, already final.
    got = {r.user_id: (r.n_events, r.sum_value) for r in out}
    want = {
        r.user_id: (r.n_events, r.sum_value)
        for r in ST.user_event_totals(batch_events(spark)).collect()
    }
    assert got == want


def test_stream_stream_interval_join_matches_batch(spark, events_dir):
    """Stream-stream inner join with watermarks + time-range bound: a full
    replay must produce exactly the batch range-join pairs."""
    batch = {
        (r.click_id, r.purchase_id)
        for r in SJ.click_purchase_attribution(batch_events(spark)).collect()
    }
    stream_df = SJ.click_purchase_attribution(
        stream_events(spark, events_dir), watermark="1 hour"
    )
    got = {
        (r.click_id, r.purchase_id)
        for r in run_stream(stream_df, "append").collect()
    }
    assert got == batch
    assert len(batch) > 0


def test_stateful_totals_accumulate_across_batches(spark, tmp_path):
    """State must persist across micro-batches: split the input into two
    files, one batch each; final per-user emission equals the full total."""
    events = batch_events(spark)
    d = str(tmp_path / "stream_in2")
    events.where(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(d)
    events.where(F.col("event_id") % 2 == 1).coalesce(1).write.mode("append").parquet(d)

    out = run_stream(
        ST.running_user_totals(stream_events(spark, path=d, max_files=1)), "update"
    )
    # Several updates per user (one per batch that touched it): keep the
    # one with the highest n_events — state is monotone.
    rows = out.collect()
    final: dict[int, tuple] = {}
    for r in rows:
        if r.user_id not in final or r.n_events > final[r.user_id][0]:
            final[r.user_id] = (r.n_events, r.sum_value)
    want = {
        r.user_id: (r.n_events, r.sum_value)
        for r in ST.user_event_totals(events).collect()
    }
    assert final == want
    # and at least one user really did span both batches
    assert len(rows) > len(want)


def test_stream_dedup_collapses_duplicate_delivery(spark, tmp_path):
    """At-least-once delivery (every file written twice) through
    dropDuplicatesWithinWatermark must yield exactly the distinct ids."""
    from tp1_distribuidos_mapreduce_spark.streaming import dedup as SD

    d = str(tmp_path / "dup_events")
    # deterministic subset (NOT limit(): an unordered limit re-evaluates
    # nondeterministically across the two write jobs below — the same
    # flake class the IVM parity-split comment documents)
    ev = batch_events(spark).where(F.col("event_id") % 40 == 0)
    n_distinct = ev.count()
    ev.write.mode("overwrite").parquet(d)
    ev.write.mode("append").parquet(d)

    out = run_stream(SD.dedup_events(stream_events(spark, d)), "append")
    ids = [r.event_id for r in out.select("event_id").collect()]
    assert len(ids) == n_distinct
    assert len(set(ids)) == n_distinct


def test_stream_dedup_batch_and_stream_agree(spark, tmp_path):
    from tp1_distribuidos_mapreduce_spark.streaming import dedup as SD

    d = str(tmp_path / "dup_events2")
    ev = batch_events(spark).where(F.col("event_id") % 30 == 0)
    ev.write.mode("overwrite").parquet(d)
    ev.write.mode("append").parquet(d)

    batch_ids = {
        r.event_id
        for r in SD.dedup_events(spark.read.parquet(d)).select("event_id").collect()
    }
    stream_ids = {
        r.event_id
        for r in run_stream(SD.dedup_events(stream_events(spark, d)), "append")
        .select("event_id")
        .collect()
    }
    assert stream_ids == batch_ids


def test_checkpointed_sink_is_exactly_once_across_restarts(spark, tmp_path):
    """Drain a source dir to parquet; re-running with the same checkpoint
    must not re-land rows; new source files land incrementally."""
    from tp1_distribuidos_mapreduce_spark.streaming import sinks as SK

    src = str(tmp_path / "landing_src")
    out = str(tmp_path / "landed")
    ckpt = str(tmp_path / "ckpt")

    first = batch_events(spark).limit(400)
    first.write.mode("overwrite").parquet(src)

    SK.write_stream_parquet(stream_events(spark, src), out, ckpt)
    assert SK.read_landed_parquet(spark, out).count() == 400

    # restart with identical source: exactly-once -> still 400
    SK.write_stream_parquet(stream_events(spark, src), out, ckpt)
    assert SK.read_landed_parquet(spark, out).count() == 400

    # new files arrive: only the delta lands
    batch_events(spark).limit(500).write.mode("append").parquet(src)
    SK.write_stream_parquet(stream_events(spark, src), out, ckpt)
    assert SK.read_landed_parquet(spark, out).count() == 900


def _gap_key(r):
    # Formatting-robust comparison: Spark's timestamp->string cast trims
    # trailing fraction zeros, pandas' str() does not — parse, don't diff.
    import pandas as pd

    return (r.user_id, pd.Timestamp(r.gap_start), pd.Timestamp(r.gap_end), r.gap_s)


def test_streaming_gap_detection_matches_batch(spark, events_dir):
    """Full in-order replay of the events stream must emit exactly the
    batch lag-window gaps (streaming twin contract)."""
    from tp1_distribuidos_mapreduce_spark.plans import relational_ext as RX

    got = {
        _gap_key(r)
        for r in run_stream(
            ST.streaming_gap_detection(stream_events(spark, events_dir)), "append"
        ).collect()
    }
    want = {_gap_key(r) for r in RX.event_gap_detection(batch_events(spark)).collect()}
    assert len(want) > 0
    assert got == want


def test_streaming_gap_detection_spans_batches(spark, tmp_path):
    """A gap whose endpoints arrive in different micro-batches must still
    be emitted: the last-seen timestamp is carried in state. Input split
    into two time-ordered halves, one file per trigger."""
    from tp1_distribuidos_mapreduce_spark.plans import relational_ext as RX

    events = batch_events(spark)
    median = events.selectExpr("percentile(unix_timestamp(ts), 0.5) AS m").collect()[0].m
    d = str(tmp_path / "gap_stream")
    first = events.where(F.unix_timestamp("ts") < median)
    second = events.where(F.unix_timestamp("ts") >= median)
    first.coalesce(1).write.parquet(d)
    second.coalesce(1).write.mode("append").parquet(d)

    got = {
        _gap_key(r)
        for r in run_stream(
            ST.streaming_gap_detection(stream_events(spark, path=d, max_files=1)),
            "append",
        ).collect()
    }
    want = {_gap_key(r) for r in RX.event_gap_detection(batch_events(spark)).collect()}
    assert len(want) > 0
    assert got == want


def test_streaming_gap_detection_ignores_null_ts(spark, tmp_path):
    """A NULL ts row must not poison gap state (NaT.value is -2^63, which
    would fabricate an astronomical gap): streaming output over an input
    with null timestamps must still equal the batch twin, which drops
    null-ts pairs via the lag comparison."""
    from tp1_distribuidos_mapreduce_spark.plans import relational_ext as RX

    events = batch_events(spark)
    with_null = events.unionByName(
        events.limit(1).select(
            (F.col("event_id") + 10_000_000).alias("event_id"),
            F.lit(None).cast("timestamp").alias("ts"),
            "user_id",
            "event_type",
            "value",
            "props",
        )
    )
    d = str(tmp_path / "gap_null_stream")
    with_null.coalesce(1).write.parquet(d)
    got = {
        _gap_key(r)
        for r in run_stream(
            ST.streaming_gap_detection(stream_events(spark, path=d)), "append"
        ).collect()
    }
    want = {_gap_key(r) for r in RX.event_gap_detection(with_null).collect()}
    assert len(want) > 0
    assert got == want


def test_stream_static_enrichment_matches_batch(spark, events_dir):
    """Stream-static broadcast enrichment: the event stream joined to
    STATIC customer/nation dims per micro-batch (no dimension-side
    streaming state) must agree with the identical batch plan — and
    multi-micro-batch replay must converge to the same totals."""
    customer = load_table(spark, SF_SMOKE, "customer")
    nation = load_table(spark, SF_SMOKE, "nation")
    batch = SJ.stream_static_enrichment(batch_events(spark), customer, nation).collect()
    stream = run_stream(
        SJ.stream_static_enrichment(
            stream_events(spark, events_dir), customer, nation
        ),
        "complete",
    ).collect()
    assert norm(stream) == norm(batch)


def test_stream_ivm_state_equals_batch_recompute(spark, tmp_path):
    """The IVM fold drained across MULTIPLE micro-batches must equal
    the one-shot batch aggregate exactly (integer cents), and a rerun
    with the same checkpoint must be a no-op (exactly-once fold)."""
    from pyspark.sql import functions as F

    from tp1_distribuidos_mapreduce_spark.streaming import sinks as SK

    src = str(tmp_path / "ivm_src")
    state = str(tmp_path / "ivm_state")
    ckpt = str(tmp_path / "ivm_ckpt")

    ev = batch_events(spark)
    # several source files -> maxFilesPerTrigger splits the replay into
    # genuinely separate foreachBatch folds
    ev.repartition(4).write.mode("overwrite").parquet(src)

    SK.write_stream_fold(
        stream_events(spark, src, max_files=1), state, ckpt, SK.IVM
    )
    got = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in SK.read_ivm_state(spark, state).collect()
    }
    expect = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in (
            ev.groupBy("user_id")
            .agg(
                F.count("*").cast("long").alias("n_events"),
                (
                    F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0
                ).alias("total_value"),
            )
            .collect()
        )
    }
    assert got == expect

    # restart with the same checkpoint: no re-fold, state unchanged
    SK.write_stream_fold(
        stream_events(spark, src, max_files=1), state, ckpt, SK.IVM
    )
    got2 = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in SK.read_ivm_state(spark, state).collect()
    }
    assert got2 == expect


def test_stream_ivm_replayed_batch_is_not_double_counted(spark, tmp_path):
    """foreachBatch is at-least-once: a crash after the state commit but
    before the checkpoint's epoch commit replays the SAME (batch_id,
    batch) on restart. The batch_id fence in the pointer must make the
    replayed fold a no-op — the bug a clean-drain rerun cannot catch."""
    import json
    import os

    from tp1_distribuidos_mapreduce_spark.streaming import sinks as SK

    state = str(tmp_path / "ivm_state")
    ev = batch_events(spark).where(F.col("event_id") < 40)

    # drive the production fold directly with an injected replay — the
    # delivery sequence an at-least-once foreachBatch produces after a
    # crash between state commit and epoch commit. Split by event_id
    # parity: limit() without an ordering re-evaluates nondeterministically
    # across jobs, so a limit/subtract split can overlap or leave gaps.
    first = ev.where(F.col("event_id") % 2 == 0)
    second = ev.where(F.col("event_id") % 2 == 1)

    SK.fold_batch(first, 0, state, SK.IVM)
    SK.fold_batch(first, 0, state, SK.IVM)  # REPLAY of epoch 0 — must be a no-op
    SK.fold_batch(second, 1, state, SK.IVM)
    SK.fold_batch(second, 1, state, SK.IVM)  # REPLAY of epoch 1 — must be a no-op

    got = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in SK.read_ivm_state(spark, state).collect()
    }
    expect = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in ev.groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0).alias(
                "total_value"
            ),
        )
        .collect()
    }
    assert got == expect

    # crash-window invariant: the pointer always names a complete
    # version dir — CURRENT exists and its target has a _SUCCESS marker
    ptr = json.load(open(os.path.join(state, "CURRENT")))
    assert os.path.exists(os.path.join(state, ptr["dir"], "_SUCCESS"))
    # retention: the current AND previous versions survive (a lazy
    # reader resolved before the last fold stays readable); nothing older
    vdirs = sorted(d for d in os.listdir(state) if d.startswith("v"))
    assert ptr["dir"] in vdirs and len(vdirs) <= 2


def test_stream_ivm_fold_via_public_drain_uses_fence(spark, tmp_path):
    """End-to-end drain through write_stream_fold (IVM) with the versioned
    layout: multi-batch fold equals batch recompute and the pointer
    records the last batch_id (exactly-once bookkeeping is visible)."""
    import os

    from tp1_distribuidos_mapreduce_spark.streaming import sinks as SK

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    ev = batch_events(spark)
    ev.repartition(3).write.mode("overwrite").parquet(src)
    SK.write_stream_fold(
        stream_events(spark, src, max_files=1), state, ckpt, SK.IVM
    )
    ptr = SK._read_pointer(state)
    assert ptr is not None and ptr["batch_id"] >= 1  # multiple epochs folded
    assert SK.read_ivm_state(spark, state).count() == (
        ev.select("user_id").distinct().count()
    )
    assert os.path.exists(os.path.join(state, ptr["dir"], "_SUCCESS"))


def test_stream_ivm_crash_between_state_write_and_pointer_commit(spark, tmp_path):
    """Crash-window drill: a fold that dies AFTER writing its versioned
    state dir but BEFORE the pointer commit must leave the previous
    committed state fully readable, and re-delivering the same batch
    must complete the fold exactly once (the pointer still names the old
    version, so the fence does NOT skip the redelivery)."""
    import os

    from pyspark.sql import functions as F

    from tp1_distribuidos_mapreduce_spark.streaming import sinks as SK

    state = str(tmp_path / "state")
    ev = batch_events(spark).where(F.col("event_id") < 30)
    first = ev.where(F.col("event_id") % 2 == 0)
    second = ev.where(F.col("event_id") % 2 == 1)

    SK.fold_batch(first, 0, state, SK.IVM)
    before = {tuple(r) for r in SK.read_ivm_state(spark, state).collect()}

    # simulate the dying fold: write v1's parquet WITHOUT committing CURRENT
    delta = second.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
    )
    delta.write.mode("overwrite").parquet(os.path.join(state, "v1"))
    # reader still sees the committed v0 state, untouched
    assert {tuple(r) for r in SK.read_ivm_state(spark, state).collect()} == before
    assert SK._read_pointer(state)["batch_id"] == 0

    # restart re-delivers batch 1; the fence allows it (0 < 1) and the
    # fold overwrites the orphan dir and commits
    SK.fold_batch(second, 1, state, SK.IVM)
    got = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in SK.read_ivm_state(spark, state).collect()
    }
    expect = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in ev.groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0).alias(
                "total_value"
            ),
        )
        .collect()
    }
    assert got == expect
    assert SK._read_pointer(state)["batch_id"] == 1


def test_rowdir_stream_writer_exactly_once(spark, tmp_path):
    """The connector's STREAMING write contract: an availableNow drain
    through writeStream.format('rowdir') lands exactly the source rows;
    re-running with the same checkpoint is a no-op; and a simulated
    replayed microbatch (stale batchId straight into commit()) is
    dropped whole — the batch-id high-water-mark guard."""
    import json
    import os

    from pyspark.sql import functions as F

    from tp1_distribuidos_mapreduce_spark.sources import pydatasource as PDS
    from tp1_distribuidos_mapreduce_spark.sources.tables import (
        load_table,
        stream_events,
    )

    PDS.register_rowdir(spark)
    out = str(tmp_path / "rowdir_stream")
    ckpt = str(tmp_path / "ckpt")
    # single-FILE parquet streams fine into v1 sinks but the v2 python
    # sink path resolves the file source with basePath (must be a
    # directory) — stream from a directory copy, the drain-test pattern
    src_dir = str(tmp_path / "events_src")
    load_table(spark, SF_SMOKE, "events").write.parquet(src_dir)

    def drain():
        q = (
            stream_events(spark, src_dir)
            .select("event_id", "user_id", "event_type")
            .writeStream.format("rowdir")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "stream did not terminate"

    drain()
    batch = (
        load_table(spark, SF_SMOKE, "events")
        .select("event_id", "user_id", "event_type")
    )
    got = sorted(map(tuple, spark.read.format("rowdir").load(out).collect()))
    assert got == sorted(map(tuple, batch.collect()))

    # same checkpoint, no new data → no change
    drain()
    again = sorted(map(tuple, spark.read.format("rowdir").load(out).collect()))
    assert again == got

    # simulated redelivery: a stale batchId must be dropped whole even
    # with a real temp file staged
    with open(os.path.join(out, PDS.ROWDIR_MANIFEST)) as f:
        manifest = json.load(f)
    mark = manifest["stream_marks"]["default"]
    assert mark >= 0
    os.makedirs(os.path.join(out, "_temp"), exist_ok=True)
    fake = "task-replay.arrow"
    with open(os.path.join(out, "_temp", fake), "w") as f:
        f.write("x")
    w = PDS.RowDirStreamArrowWriter(
        {"path": out},
        spark.read.format("rowdir").load(out).schema,
    )
    w.commit([PDS._FileCommit(fake, 1)], mark)
    final = sorted(map(tuple, spark.read.format("rowdir").load(out).collect()))
    assert final == got
    assert not os.path.exists(os.path.join(out, "_temp", fake))

    # replay marks are PER WRITER: a second producer (fresh checkpoint,
    # batchIds restarting at 0) with its own writerId must NOT be
    # mistaken for a replay of the first — its early batches commit
    q2 = (
        stream_events(spark, src_dir)
        .select("event_id", "user_id", "event_type")
        .writeStream.format("rowdir")
        .option("path", out)
        .option("writerId", "producer-2")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    assert q2.awaitTermination(120), "stream did not terminate"
    doubled = spark.read.format("rowdir").load(out).count()
    assert doubled == 2 * len(got)
    with open(os.path.join(out, PDS.ROWDIR_MANIFEST)) as f:
        marks = json.load(f)["stream_marks"]
    assert set(marks) == {"default", "producer-2"}


def test_ivm_fold_null_user_key_merges_not_duplicates(spark, tmp_path):
    """Code-review r10: the IVM state combine joins on user_id, and a
    plain equi-join never matches NULL keys — each fold would re-insert
    the NULL-user group as a fresh row. The null-safe join must keep
    exactly ONE NULL row whose totals accumulate across folds."""
    from datetime import datetime

    from tp1_distribuidos_mapreduce_spark.streaming.sinks import (
        IVM,
        fold_batch,
        read_ivm_state,
    )

    state = str(tmp_path / "ivm_state")

    def batch(eid, uid, value):
        return spark.createDataFrame(
            [(eid, datetime(2024, 1, 1, 12, 0), uid, "purchase", value, "{}")],
            "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
        )

    fold_batch(batch(1, None, 10.0), 0, state, IVM)
    fold_batch(batch(2, None, 2.5), 1, state, IVM)
    fold_batch(batch(3, 7, 1.0), 2, state, IVM)

    rows = read_ivm_state(spark, state).collect()
    nulls = [r for r in rows if r["user_id"] is None]
    assert len(nulls) == 1  # merged, not multiplied
    assert (nulls[0]["n_events"], nulls[0]["total_value"]) == (2, 12.5)
    assert {r["user_id"] for r in rows} == {None, 7}


def test_rowdir_stream_complete_mode_overwrites_per_batch(spark, tmp_path):
    """outputMode('complete') makes Spark pass overwrite=True to
    streamWriter: each micro-batch must REPLACE the table with the full
    aggregate state, not append it — ignoring the flag would accumulate
    one stale copy of every key per batch (the review-found contract
    bug)."""
    from pyspark.sql import functions as F

    from tp1_distribuidos_mapreduce_spark.sources import pydatasource as PDS
    from tp1_distribuidos_mapreduce_spark.sources.tables import (
        load_table,
        stream_events,
    )

    PDS.register_rowdir(spark)
    out = str(tmp_path / "rowdir_complete")
    ckpt = str(tmp_path / "ckpt")
    src_dir = str(tmp_path / "events_src")
    # several source files => several micro-batches under
    # maxFilesPerTrigger=1, so the complete-mode state is rewritten
    # more than once
    load_table(spark, SF_SMOKE, "events").repartition(3).write.parquet(src_dir)

    q = (
        stream_events(spark, src_dir, max_files_per_trigger=1)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .writeStream.format("rowdir")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not terminate"

    expected = sorted(
        map(
            tuple,
            load_table(spark, SF_SMOKE, "events")
            .groupBy("event_type")
            .agg(F.count("*").alias("n"))
            .collect(),
        )
    )
    got = sorted(map(tuple, spark.read.format("rowdir").load(out).collect()))
    assert got == expected  # appended stale states would duplicate keys


def test_stream_hll_sketches_equal_batch_build_exactly(spark, tmp_path):
    """The HLL fold drained across multiple micro-batches
    must produce rolling estimates IDENTICAL to the one-shot batch
    rolling_hll_active_users (register max-merge is associative,
    commutative, idempotent — micro-batch boundaries cannot change a
    single register), and a rerun with the same checkpoint is a no-op."""
    from tp1_distribuidos_mapreduce_spark.plans import approx as AX
    from tp1_distribuidos_mapreduce_spark.streaming import sinks as SK

    src = str(tmp_path / "hll_src")
    state = str(tmp_path / "hll_state")
    ckpt = str(tmp_path / "hll_ckpt")

    ev = batch_events(spark)
    ev.repartition(4).write.mode("overwrite").parquet(src)

    SK.write_stream_fold(
        stream_events(spark, src, max_files=1), state, ckpt, SK.HLL
    )
    got = {
        str(r["window_end"]): r["approx_users"]
        for r in SK.read_hll_rolling(spark, state).collect()
    }
    want = {
        str(r["window_end"]): r["approx_users"]
        for r in AX.rolling_hll_active_users(ev).collect()
    }
    assert got == want

    SK.write_stream_fold(
        stream_events(spark, src, max_files=1), state, ckpt, SK.HLL
    )
    got2 = {
        str(r["window_end"]): r["approx_users"]
        for r in SK.read_hll_rolling(spark, state).collect()
    }
    assert got2 == want


def test_stream_hll_replayed_batch_fenced_and_harmless(spark, tmp_path):
    """Injected at-least-once replay through the production fold: the
    batch-id fence skips it, and the state is byte-identical registers
    either way (max-merge idempotence — the belt under the fence)."""
    from tp1_distribuidos_mapreduce_spark.streaming import sinks as SK

    state = str(tmp_path / "hll_state2")
    ev = batch_events(spark).where(F.col("event_id") < 40)

    SK.fold_batch(ev, 0, state, SK.HLL)
    after_first = sorted(
        (str(r["day"]), tuple(r["regs"]))
        for r in spark.read.parquet(f"{state}/v0").collect()
    )
    SK.fold_batch(ev, 0, state, SK.HLL)  # replayed epoch — fenced no-op
    ptr = SK._read_pointer(state)
    assert ptr == {"dir": "v0", "batch_id": 0}
    after_replay = sorted(
        (str(r["day"]), tuple(r["regs"]))
        for r in spark.read.parquet(f"{state}/v0").collect()
    )
    assert after_replay == after_first


def test_stream_kmv_sketches_equal_batch_build_exactly(spark, tmp_path):
    """The KMV fold drained across micro-batches must yield
    overlap estimates IDENTICAL to the one-shot batch
    kmv_event_user_overlap (bottom-K union-truncate is associative,
    commutative, idempotent), and a same-checkpoint rerun is a no-op."""
    from tp1_distribuidos_mapreduce_spark.plans import approx as AX
    from tp1_distribuidos_mapreduce_spark.streaming import sinks as SK

    src = str(tmp_path / "kmv_src")
    state = str(tmp_path / "kmv_state")
    ckpt = str(tmp_path / "kmv_ckpt")

    ev = batch_events(spark)
    ev.repartition(4).write.mode("overwrite").parquet(src)

    SK.write_stream_fold(
        stream_events(spark, src, max_files=1), state, ckpt, SK.KMV
    )
    got = sorted(tuple(r) for r in SK.read_kmv_overlap(spark, state).collect())
    want = sorted(tuple(r) for r in AX.kmv_event_user_overlap(ev).collect())
    assert got == want

    SK.write_stream_fold(
        stream_events(spark, src, max_files=1), state, ckpt, SK.KMV
    )
    got2 = sorted(tuple(r) for r in SK.read_kmv_overlap(spark, state).collect())
    assert got2 == want


def test_stream_kmv_replayed_batch_fenced_and_harmless(spark, tmp_path):
    """Injected at-least-once replay through the production fold: fenced,
    and the sketch arrays are byte-identical either way."""
    from tp1_distribuidos_mapreduce_spark.streaming import sinks as SK

    state = str(tmp_path / "kmv_state2")
    ev = batch_events(spark).where(F.col("event_id") < 40)

    SK.fold_batch(ev, 0, state, SK.KMV)
    first = sorted(
        (r["event_type"], tuple(r["sk"]))
        for r in spark.read.parquet(f"{state}/v0").collect()
    )
    SK.fold_batch(ev, 0, state, SK.KMV)
    assert SK._read_pointer(state) == {"dir": "v0", "batch_id": 0}
    again = sorted(
        (r["event_type"], tuple(r["sk"]))
        for r in spark.read.parquet(f"{state}/v0").collect()
    )
    assert again == first


def test_stream_dd_buckets_equal_batch_build_exactly(spark, tmp_path):
    """The DD fold drained across micro-batches must yield
    quantiles IDENTICAL to the one-shot batch ddsketch_event_quantiles
    (bucket-count addition over a partition of the events is exact),
    and a same-checkpoint rerun is a no-op — the checkpoint, not the
    fold algebra, carries that (addition is NOT idempotent)."""
    from tp1_distribuidos_mapreduce_spark.plans import approx as AX
    from tp1_distribuidos_mapreduce_spark.streaming import sinks as SK

    src = str(tmp_path / "dd_src")
    state = str(tmp_path / "dd_state")
    ckpt = str(tmp_path / "dd_ckpt")

    ev = batch_events(spark)
    ev.repartition(4).write.mode("overwrite").parquet(src)

    SK.write_stream_fold(
        stream_events(spark, src, max_files=1), state, ckpt, SK.DD
    )
    got = sorted(tuple(r) for r in SK.read_dd_quantiles(spark, state).collect())
    want = sorted(tuple(r) for r in AX.ddsketch_event_quantiles(ev).collect())
    assert got == want and len(got) == len(AX.DD_PERCENTS)

    SK.write_stream_fold(
        stream_events(spark, src, max_files=1), state, ckpt, SK.DD
    )
    got2 = sorted(tuple(r) for r in SK.read_dd_quantiles(spark, state).collect())
    assert got2 == want


def test_stream_dd_replayed_batch_fenced(spark, tmp_path):
    """Injected at-least-once replay through the production fold: the
    batch-id fence MUST skip it — unlike the HLL/KMV max-merges, a
    re-fold here would DOUBLE-COUNT, so this pin is the load-bearing
    one for the additive sketch. State must be byte-identical after
    the replay, and a genuinely new batch must still fold."""
    from tp1_distribuidos_mapreduce_spark.streaming import sinks as SK

    state = str(tmp_path / "dd_state2")
    ev = batch_events(spark).where(F.col("event_id") < 40)

    SK.fold_batch(ev, 0, state, SK.DD)
    first = sorted(
        (r["idx"], r["cnt"]) for r in spark.read.parquet(f"{state}/v0").collect()
    )
    SK.fold_batch(ev, 0, state, SK.DD)  # replay: fenced, NOT re-added
    assert SK._read_pointer(state) == {"dir": "v0", "batch_id": 0}
    again = sorted(
        (r["idx"], r["cnt"]) for r in spark.read.parquet(f"{state}/v0").collect()
    )
    assert again == first

    # a new batch_id with the SAME rows must fold (counts double) —
    # proving the fence keys on the epoch, not the data
    SK.fold_batch(ev, 1, state, SK.DD)
    doubled = sorted(
        (r["idx"], r["cnt"]) for r in spark.read.parquet(f"{state}/v1").collect()
    )
    assert doubled == [(i, 2 * c) for i, c in first]

def test_stream_dd_by_type_equal_batch_build_exactly(spark, tmp_path):
    """The GROUPED streaming fold (r14): per-(event_type, idx) count
    addition across micro-batches must yield per-type quantiles
    IDENTICAL to the one-shot batch ddsketch_quantiles_by_type, and a
    same-checkpoint rerun is a no-op. Also the composite-key replay
    fence: a re-fold of an already-committed batch_id must leave the
    grouped state byte-identical, while a NEW batch_id with the same
    rows doubles every (type, idx) count."""
    from tp1_distribuidos_mapreduce_spark.plans import approx as AX
    from tp1_distribuidos_mapreduce_spark.streaming import sinks as SK

    src = str(tmp_path / "ddt_src")
    state = str(tmp_path / "ddt_state")
    ckpt = str(tmp_path / "ddt_ckpt")

    ev = batch_events(spark)
    ev.repartition(4).write.mode("overwrite").parquet(src)

    SK.write_stream_fold(
        stream_events(spark, src, max_files=1), state, ckpt, SK.DD_BY_TYPE
    )
    got = sorted(
        tuple(r) for r in SK.read_dd_quantiles_by_type(spark, state).collect()
    )
    want = sorted(tuple(r) for r in AX.ddsketch_quantiles_by_type(ev).collect())
    assert got == want and got

    SK.write_stream_fold(
        stream_events(spark, src, max_files=1), state, ckpt, SK.DD_BY_TYPE
    )
    got2 = sorted(
        tuple(r) for r in SK.read_dd_quantiles_by_type(spark, state).collect()
    )
    assert got2 == want

    # composite-key replay fence on the raw fold
    state2 = str(tmp_path / "ddt_state2")
    small = batch_events(spark).where(F.col("event_id") < 40)
    SK.fold_batch(small, 0, state2, SK.DD_BY_TYPE)
    first = sorted(
        (r["event_type"], r["idx"], r["cnt"])
        for r in spark.read.parquet(f"{state2}/v0").collect()
    )
    SK.fold_batch(small, 0, state2, SK.DD_BY_TYPE)  # replay: fenced, NOT re-added
    assert SK._read_pointer(state2) == {"dir": "v0", "batch_id": 0}
    again = sorted(
        (r["event_type"], r["idx"], r["cnt"])
        for r in spark.read.parquet(f"{state2}/v0").collect()
    )
    assert again == first
    SK.fold_batch(small, 1, state2, SK.DD_BY_TYPE)
    doubled = sorted(
        (r["event_type"], r["idx"], r["cnt"])
        for r in spark.read.parquet(f"{state2}/v1").collect()
    )
    assert doubled == [(t, i, 2 * c) for t, i, c in first]


def test_stream_cms_cells_equal_batch_build_exactly(spark, tmp_path):
    """The CMS fold drained across micro-batches must yield
    heavy hitters IDENTICAL to the one-shot batch cms_heavy_hitters
    (cell-count addition over a partition of the documents is exact,
    and the read path probes the persisted grid through the batch
    query's own kernel), and a same-checkpoint rerun is a no-op — the
    checkpoint, not the fold algebra, carries that (addition is NOT
    idempotent)."""
    from tp1_distribuidos_mapreduce_spark.plans import approx as AX
    from tp1_distribuidos_mapreduce_spark.sources.tables import stream_parquet
    from tp1_distribuidos_mapreduce_spark.streaming import sinks as SK

    src = str(tmp_path / "cms_src")
    state = str(tmp_path / "cms_state")
    ckpt = str(tmp_path / "cms_ckpt")

    # 2 files × max_files_per_trigger=1 → two micro-batches: the
    # smallest shape that still exercises a cross-batch fold
    docs = load_table(spark, SF_SMOKE, "documents")
    docs.repartition(2).write.mode("overwrite").parquet(src)

    SK.write_stream_fold(
        stream_parquet(spark, src, max_files_per_trigger=1), state, ckpt, SK.CMS
    )
    got = norm(SK.read_cms_heavy_hitters(spark, state, docs).collect())
    want = norm(AX.cms_heavy_hitters(docs).collect())
    assert got == want and got  # non-vacuous: the fixture has heavy words

    SK.write_stream_fold(
        stream_parquet(spark, src, max_files_per_trigger=1), state, ckpt, SK.CMS
    )
    assert norm(SK.read_cms_heavy_hitters(spark, state, docs).collect()) == want


def test_stream_cms_replayed_batch_fenced(spark, tmp_path):
    """Injected at-least-once replay through the CMS fold: the batch-id
    fence MUST skip it — like the DD fold and unlike the HLL/KMV
    max-merges, a re-fold would DOUBLE-COUNT every cell. State must be
    byte-identical after the replay, and a genuinely new epoch with the
    SAME rows must still fold (every cell count doubles — additivity,
    the same law the batch cms_merge_proof pins for the merge)."""
    from tp1_distribuidos_mapreduce_spark.streaming import sinks as SK

    state = str(tmp_path / "cms_state2")
    docs = load_table(spark, SF_SMOKE, "documents").limit(40)

    SK.fold_batch(docs, 0, state, SK.CMS)
    first = sorted(
        (r["d"], r["pos"], r["n"])
        for r in spark.read.parquet(f"{state}/v0").collect()
    )
    SK.fold_batch(docs, 0, state, SK.CMS)  # replay: fenced, NOT re-added
    assert SK._read_pointer(state) == {"dir": "v0", "batch_id": 0}
    again = sorted(
        (r["d"], r["pos"], r["n"])
        for r in spark.read.parquet(f"{state}/v0").collect()
    )
    assert again == first

    # a new batch_id with the SAME rows must fold (counts double) —
    # proving the fence keys on the epoch, not the data
    SK.fold_batch(docs, 1, state, SK.CMS)
    doubled = sorted(
        (r["d"], r["pos"], r["n"])
        for r in spark.read.parquet(f"{state}/v1").collect()
    )
    assert doubled == [(d, p, 2 * n) for d, p, n in first]


def test_stream_bloom_words_equal_batch_join_exactly(spark, tmp_path):
    """The Bloom fold drained across micro-batches must yield a
    pruned-join result IDENTICAL to the one-shot batch bloom_pruned_join
    (bit OR over a partition of the key set builds the same filter, and
    the read path probes the persisted words through the batch query's
    own bloom_prune kernel + exact semi-join), and a same-checkpoint
    rerun is a no-op."""
    from tp1_distribuidos_mapreduce_spark.plans import bloom as B
    from tp1_distribuidos_mapreduce_spark.sources.tables import stream_parquet
    from tp1_distribuidos_mapreduce_spark.streaming import sinks as SK

    src = str(tmp_path / "bloom_src")
    state = str(tmp_path / "bloom_state")
    ckpt = str(tmp_path / "bloom_ckpt")

    orders = load_table(spark, SF_SMOKE, "orders")
    lineitem = load_table(spark, SF_SMOKE, "lineitem")
    # 2 files × max_files_per_trigger=1 → two micro-batches: the
    # smallest shape that still exercises a cross-batch OR fold
    orders.repartition(2).write.mode("overwrite").parquet(src)

    def drain():
        SK.write_stream_fold(
            stream_parquet(spark, src, max_files_per_trigger=1)
            .where(F.col("o_orderpriority") == "1-URGENT")
            .select("o_orderkey"),
            state,
            ckpt,
            SK.bloom("o_orderkey"),
        )

    drain()
    got = norm(
        SK.read_bloom_pruned_revenue(spark, state, lineitem, orders).collect()
    )
    want = norm(B.bloom_pruned_join(orders, lineitem).collect())
    assert got == want and got  # non-vacuous: the fixture has urgent orders

    drain()  # same-checkpoint rerun: no new batches, state unchanged
    assert norm(
        SK.read_bloom_pruned_revenue(spark, state, lineitem, orders).collect()
    ) == want


def test_stream_bloom_refold_idempotent_past_fence(spark, tmp_path):
    """The Bloom fold's distinguishing algebra vs the additive CMS/DD
    folds: bit OR is IDEMPOTENT, so even a re-fold FORCED PAST the
    batch-id fence (a new epoch carrying verbatim-duplicate keys) leaves
    the word table byte-identical — the fence only keeps the pointer's
    batch_id truthful. Also pins the fenced replay no-op itself."""
    from tp1_distribuidos_mapreduce_spark.streaming import sinks as SK

    state = str(tmp_path / "bloom_state2")
    keys = (
        load_table(spark, SF_SMOKE, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
        .limit(200)
    )

    SK.fold_batch(keys, 0, state, SK.bloom("o_orderkey"))
    first = sorted(
        (r["word"], r["bits"])
        for r in spark.read.parquet(f"{state}/v0").collect()
    )
    assert first  # non-vacuous

    SK.fold_batch(keys, 0, state, SK.bloom("o_orderkey"))  # replay: fenced no-op
    assert SK._read_pointer(state) == {"dir": "v0", "batch_id": 0}
    assert sorted(
        (r["word"], r["bits"])
        for r in spark.read.parquet(f"{state}/v0").collect()
    ) == first

    # new epoch, SAME keys, past the fence: OR idempotence keeps every
    # word bit-identical (the CMS twin DOUBLES here — additive contrast)
    SK.fold_batch(keys, 1, state, SK.bloom("o_orderkey"))
    assert sorted(
        (r["word"], r["bits"])
        for r in spark.read.parquet(f"{state}/v1").collect()
    ) == first


@pytest.mark.parametrize(
    "family,null_col",
    [("DD_BY_TYPE", "event_type"), ("KMV", "event_type"), ("HLL", "ts")],
)
def test_null_group_key_across_batches_folds_like_one_shot(
    spark, tmp_path, family, null_col
):
    """A NULL group key present in two micro-batches must fold into the
    same state as the one-shot kernel over both batches: ONE NULL-key row
    (SQL GROUP BY's NULL group), not one per batch. HLL's key is the day
    of ``ts``, so a NULL ts is its NULL key."""
    from tp1_distribuidos_mapreduce_spark.streaming import sinks as SK

    fold = getattr(SK, family)
    state = str(tmp_path / "state")
    ev = batch_events(spark).where(F.col("event_id") < 40)
    # the NULL-key rows share one value, so DD's (event_type, idx) key
    # collides across the two batches too
    is_null_key = F.col("event_id") % 3 == 0
    ev = ev.withColumns(
        {
            null_col: F.when(is_null_key, F.lit(None)).otherwise(F.col(null_col)),
            "value": F.when(is_null_key, F.lit(1.0)).otherwise(F.col("value")),
        }
    )
    SK.fold_batch(ev.where(F.col("event_id") % 2 == 0), 0, state, fold)
    SK.fold_batch(ev.where(F.col("event_id") % 2 == 1), 1, state, fold)

    def rows(df):
        return sorted(
            (tuple(tuple(v) if isinstance(v, list) else v for v in r)
             for r in df.collect()),
            key=repr,
        )

    assert rows(SK.read_state(spark, state)) == rows(fold.delta(ev))


def test_stream_query_result_survives_a_second_call(spark):
    """The streaming fold queries return frames that are lazy over their
    state dir, so a second call must not delete the first call's state."""
    from tp1_distribuidos_mapreduce_spark.registry import queries

    q = queries()["stream_ivm_user_totals"]
    first = q(spark, SF_SMOKE)
    second = q(spark, SF_SMOKE)
    assert first.count() == second.count() > 0
