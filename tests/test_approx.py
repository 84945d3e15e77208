"""Sketch-aggregate accuracy tests: approximate results must stay within
the sketches' error bounds of the exact aggregates."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tp1_distribuidos_mapreduce_spark.plans.approx import (
    approx_price_quantiles,
    approx_user_counts,
)
from tp1_distribuidos_mapreduce_spark.sources.tables import load_table

from conftest import SF_SMOKE


def test_hll_distinct_within_rsd(spark):
    events = load_table(spark, SF_SMOKE, "events")
    # the approx (mapInPandas sketch) and exact (countDistinct) collects
    # are independent — overlap them (r16 suite-time trim, 6.7s → ~4s)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_approx = pool.submit(
            lambda: {
                r.event_type: r.approx_users
                for r in approx_user_counts(events).collect()
            }
        )
        f_exact = pool.submit(
            lambda: {
                r.event_type: r.n
                for r in events.groupBy("event_type")
                .agg(F.countDistinct("user_id").alias("n"))
                .collect()
            }
        )
        approx, exact = f_approx.result(), f_exact.result()
    assert set(approx) == set(exact)
    for t, n in exact.items():
        assert abs(approx[t] - n) <= max(0.05 * n, 2), (t, approx[t], n)


def test_approx_quantiles_close_to_exact(spark):
    orders = load_table(spark, SF_SMOKE, "orders")
    approx = {r.o_orderpriority: (r.ap50, r.ap90) for r in approx_price_quantiles(orders).collect()}
    exact = {
        r.o_orderpriority: (r.p50, r.p90)
        for r in orders.groupBy("o_orderpriority")
        .agg(
            F.expr("percentile(o_totalprice, 0.5)").alias("p50"),
            F.expr("percentile(o_totalprice, 0.9)").alias("p90"),
        )
        .collect()
    }
    for pr, (e50, e90) in exact.items():
        a50, a90 = approx[pr]
        assert abs(a50 - e50) <= 0.02 * e50 + 1, (pr, a50, e50)
        assert abs(a90 - e90) <= 0.02 * e90 + 1, (pr, a90, e90)


def test_bitmap_distinct_exact_on_zero_negative_null_ids(spark):
    """bitmap_distinct_users must equal COUNT(DISTINCT) even when ids
    include 0 and negatives ((bucket, pos) is injective over all bigints)
    and must ignore NULL ids like COUNT(DISTINCT) does."""
    from tp1_distribuidos_mapreduce_spark.plans.approx import bitmap_distinct_users

    rows = [("click", i) for i in range(-40000, 40000, 7)]
    rows += [("click", 0), ("click", 0), ("buy", -1), ("buy", 1), ("buy", None)]
    ev = spark.createDataFrame(rows, "event_type string, user_id long")
    got = {r.event_type: r.n_users for r in bitmap_distinct_users(ev).collect()}
    want = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert got == want


def test_cms_heavy_hitters_exact_even_under_collisions(spark, duck):
    """The CMS prune may only OVERestimate, so the final exact-verified
    result must be identical to the plain HAVING query no matter how small
    (collision-prone) the sketch is — pin with a 1x8 grid where nearly
    every word collides."""
    from tp1_distribuidos_mapreduce_spark.plans.approx import cms_heavy_hitters
    from tp1_distribuidos_mapreduce_spark.plans.approx import CMS_HEAVY_HITTERS_ORACLE
    from tp1_distribuidos_mapreduce_spark.sources.tables import load_table

    from conftest import SF_SMOKE, assert_df_matches_oracle

    documents = load_table(spark, SF_SMOKE, "documents")
    tiny = cms_heavy_hitters(documents, threshold=100, depth=1, width=8)
    assert_df_matches_oracle(tiny, duck, CMS_HEAVY_HITTERS_ORACLE)


def test_cms_grouped_exact_even_under_collisions(spark, duck):
    """The grouped variant keeps the same exactness-under-collisions
    law: the (source, word) composite keys share one counter space, and
    a deliberately tiny 1×8 grid forces nearly every composite to
    collide — the exact-verified output must still equal the plain
    per-source HAVING query."""
    from tp1_distribuidos_mapreduce_spark.plans.approx import (
        CMS_HEAVY_HITTERS_BY_SOURCE_ORACLE,
        cms_heavy_hitters_by_source,
    )
    from tp1_distribuidos_mapreduce_spark.sources.tables import load_table

    from conftest import SF_SMOKE, assert_df_matches_oracle

    documents = load_table(spark, SF_SMOKE, "documents")
    tiny = cms_heavy_hitters_by_source(documents, threshold=50, depth=1, width=8)
    assert_df_matches_oracle(tiny, duck, CMS_HEAVY_HITTERS_BY_SOURCE_ORACLE)


def test_rolling_hll_within_error_envelope(spark, duck):
    """The merged-sketch rolling 28d distinct must track the EXACT
    rolling distinct within HLL's error envelope for m=256 (rsd 6.5%):
    every window within 4σ (26%), mean absolute relative error under
    1.5σ (10%) — loose enough to be stable, tight enough that a merge
    bug (e.g. summing registers instead of max) fails immediately."""
    from tp1_distribuidos_mapreduce_spark.plans import approx as AX
    from tp1_distribuidos_mapreduce_spark.sources.tables import load_table

    from tp1_distribuidos_mapreduce_spark import registry

    got = {
        str(r["window_end"]): r["approx_users"]
        for r in AX.rolling_hll_active_users(
            load_table(spark, SF_SMOKE, "events")
        ).collect()
    }
    # anchor: the registered exact twin's own oracle (VERDICT r11 #5) —
    # the same driver-gated SQL that pins rolling_28d_users_exact, so
    # the envelope is asserted against an oracle-checked exact answer
    # with the identical gap-day / max-day-cut convention.
    exact = {
        str(d): n
        for d, n in duck.sql(
            registry.oracle_sql()["rolling_28d_users_exact"]
        ).fetchall()
    }
    assert got.keys() == exact.keys()
    rels = [abs(got[k] - exact[k]) / exact[k] for k in exact]
    assert max(rels) <= 0.26, sorted(
        ((abs(got[k] - exact[k]) / exact[k]), k) for k in exact
    )[-3:]
    assert sum(rels) / len(rels) <= 0.10


def test_rolling_hll_negative_ids_and_gap_days(spark):
    """Code-review r10: (a) negative user ids are in-domain for the HLL
    sketch (signed to_bytes — the unsigned form raised OverflowError);
    (b) an eventless calendar day between observed days is still a
    window end, matching the exact twin's max-day-cut convention (the
    old observed-days semi-join silently dropped it)."""
    from datetime import datetime

    from tp1_distribuidos_mapreduce_spark.plans import approx as AP
    from tp1_distribuidos_mapreduce_spark.plans import behavior as BH

    rows = []
    eid = 0
    for day, users in ((1, [-5, -6, 7]), (3, [-5, 8, 9, 10])):
        for u in users:
            eid += 1
            rows.append((eid, datetime(2024, 1, day, 12, 0), u, "click", 1.0, "{}"))
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    exact = {
        r["day"]: r["active_users"]
        for r in BH.rolling_active_users(ev, days=7).collect()
    }
    approx = {
        r["window_end"]: r["approx_users"]
        for r in AP.rolling_hll_active_users(ev, days=7).collect()
    }
    # identical day sets, INCLUDING the eventless Jan 2
    assert sorted(d.isoformat() for d in approx) == sorted(
        d.isoformat() for d in exact
    )
    assert any(d.isoformat() == "2024-01-02" for d in approx)
    # at these cardinalities the sketch is exact (linear counting regime)
    assert approx == exact


def test_kmv_overlap_matches_exact_when_unsaturated(spark):
    """Below K distinct users per type the bottom-k sketch holds EVERY
    hash, so the estimate must be exactly the true intersection. Both
    twins enumerate EVERY unordered type pair (disjoint audiences emit
    n_common = 0 rows) — the shared row-set convention from ADVICE r12,
    so this dict-equality pin no longer depends on the fixture having
    no disjoint audiences."""
    from tp1_distribuidos_mapreduce_spark.plans import approx as AX
    from tp1_distribuidos_mapreduce_spark.sources.tables import load_table

    ev = load_table(spark, SF_SMOKE, "events")
    exact = {
        (r["type_a"], r["type_b"]): r["n_common"]
        for r in AX.event_user_overlap(ev).collect()
    }
    approx = {
        (r["type_a"], r["type_b"]): r["approx_common"]
        for r in AX.kmv_event_user_overlap(ev).collect()
    }
    assert approx == exact  # sf0.001: every audience < K = 256


def test_kmv_overlap_within_envelope_when_saturated(spark):
    """Saturated regime: 60k users split into two overlapping types.
    Each cardinality estimate has rsd ≈ 1/√(K−1) ≈ 6.3%; the
    inclusion-exclusion intersection compounds three estimates, so the
    envelope is stated against the UNION size (the estimator's natural
    scale): |est − exact| ≤ 4σ·|A∪B| with σ = √3·rsd ≈ 11%."""
    from datetime import datetime

    from tp1_distribuidos_mapreduce_spark.plans import approx as AX

    n_a, n_b, n_both = 30_000, 40_000, 10_000
    rows = []
    ts = datetime(2024, 1, 1, 12, 0)
    # A: users [0, 30000); B: users [20000, 60000) → overlap 10000
    for u in range(0, n_a):
        rows.append((u, "alpha"))
    for u in range(n_a - n_both, n_a - n_both + n_b):
        rows.append((u, "beta"))
    ev = spark.createDataFrame(
        [(i, ts, u, t, 1.0, "{}") for i, (u, t) in enumerate(rows)],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    got = AX.kmv_event_user_overlap(ev).collect()
    assert len(got) == 1
    est = got[0]["approx_common"]
    union = n_a + n_b - n_both
    sigma = (3 ** 0.5) / ((AX.KMV_K - 1) ** 0.5)
    assert abs(est - n_both) <= 4 * sigma * union, (est, n_both)


def test_ddsketch_merge_is_exact(spark):
    """Mergeability, the property the streaming fold relies on: the
    bucket table built from a union of two halves (count sums) is
    BIT-IDENTICAL to the one-shot build, and so are the quantiles."""
    from pyspark.sql import functions as F2

    from tp1_distribuidos_mapreduce_spark.plans import approx as AX
    from tp1_distribuidos_mapreduce_spark.sources.tables import load_table

    ev = load_table(spark, SF_SMOKE, "events")
    half_a = ev.where(F2.col("event_id") % 2 == 0)
    half_b = ev.where(F2.col("event_id") % 2 == 1)
    merged_buckets = (
        AX.dd_value_buckets(half_a)
        .unionByName(AX.dd_value_buckets(half_b))
        .groupBy("idx")
        .agg(F2.sum("cnt").cast("long").alias("cnt"))
    )
    one_shot = sorted(tuple(r) for r in AX.dd_value_buckets(ev).collect())
    merged = sorted(tuple(r) for r in merged_buckets.collect())
    assert merged == one_shot
    q_merged = sorted(
        tuple(r) for r in AX.quantiles_from_dd_buckets(merged_buckets).collect()
    )
    q_one = sorted(
        tuple(r) for r in AX.ddsketch_event_quantiles(ev).collect()
    )
    assert q_merged == q_one


def test_ddsketch_by_type_keeps_a_null_key(spark):
    """The keyed sketch keeps a NULL event_type as one group, and the
    quantile reader must too: two NULL-type and two 'a' events give a
    full set of percent rows for both keys, each with n_rows = 2."""
    from tp1_distribuidos_mapreduce_spark.plans import approx as AX

    ev = spark.createDataFrame(
        [(None, 1.5), (None, 2.5), ("a", 3.0), ("a", 4.0)],
        "event_type string, value double",
    )
    rows = AX.ddsketch_quantiles_by_type(ev).collect()
    for key in (None, "a"):
        got = [(r["percent"], r["n_rows"]) for r in rows if r["event_type"] == key]
        assert got == [(p, 2) for p in AX.DD_PERCENTS], (key, rows)


@pytest.mark.queries("ddsketch_merge_proof", "ddsketch_event_quantiles")
def test_ddsketch_merge_proof_all_flags_true_and_bit_identical(calls):
    """The merge-proof query's own contract: every per-percent flag is
    true, and its (percent, n_rows, approx_value) triples equal the
    one-shot global build's EXACTLY — per-type builds folded by count
    addition reproduce the global sketch bit-identically. Reads the
    registry pass; tuple positions are the queries' declared column
    orders."""
    from tp1_distribuidos_mapreduce_spark.plans import approx as AX

    proof = calls["ddsketch_merge_proof"].rows
    one_rows = calls["ddsketch_event_quantiles"].rows
    # columns: (percent, n_rows, approx_value, merge_matches_onebuild)
    assert len(proof) == len(AX.DD_PERCENTS)
    assert all(r[3] for r in proof)
    one = {r[0]: r for r in one_rows}  # (percent, n_rows, approx_value)
    for pct, n_rows, approx, _flag in proof:
        assert n_rows == one[pct][1]
        assert approx == one[pct][2]


@pytest.mark.queries("hll_merge_proof", "kmv_merge_proof")
def test_hll_and_kmv_merge_proofs_on_fixture(calls, duck):
    """The r15 merge proofs' own contracts on the fixture: ONE row each,
    the bit-identity flag true (per-type sketches folded by max / by
    union-truncate reproduce the independent one-build exactly),
    n_sketches_merged == the type count, and the merged estimate within
    the sketch's 4σ envelope of the exact global distinct-user count
    (HLL m=256 → σ≈6.5%; KMV K=256 → σ≈6.3% — at fixture cardinality
    KMV is unsaturated, so its estimate must be EXACT). Exact counts
    come from DuckDB; Spark rows from the registry pass."""
    from tp1_distribuidos_mapreduce_spark.plans import approx as AX

    n_types, n_users = duck.execute(
        "SELECT count(DISTINCT event_type), count(DISTINCT user_id)"
        " FROM events"
    ).fetchone()
    # columns: (n_sketches_merged, approx_users, merge_matches_onebuild)
    for name, sigma in (
        ("hll_merge_proof", 1.04 / 16),
        ("kmv_merge_proof", 1 / 255 ** 0.5),
    ):
        got = calls[name].rows
        assert len(got) == 1
        n_merged, approx_users, flag = got[0]
        assert flag
        assert n_merged == n_types
        assert abs(approx_users - n_users) <= 4 * sigma * n_users
    kmv = calls["kmv_merge_proof"].rows
    assert n_users < AX.KMV_K and kmv[0][1] == n_users


@pytest.mark.queries("cms_merge_proof", "bloom_merge_proof")
def test_cms_and_bloom_merge_proofs_on_fixture(calls, duck):
    """The additive (CMS) and OR (Bloom) merge proofs on the fixture:
    ONE row each, flag true, and the exact structural identities —
    CMS total_count == depth × the corpus token count (each occurrence
    lands in exactly one cell per depth row); Bloom popcount ≤
    N_HASHES × distinct keys with equality exactly when no two (key,
    seed) draws collide (true at fixture cardinality: 15 users × 5
    hashes into 2^18 bits). Exact counts from DuckDB (the wc oracle's
    own tokenizer); Spark rows from the registry pass."""
    from tp1_distribuidos_mapreduce_spark.plans import approx as AX
    from tp1_distribuidos_mapreduce_spark.plans import bloom as BL

    n_tokens = duck.execute(
        r"""SELECT count(*) FROM (
          SELECT unnest(regexp_split_to_array(lower(text), '[^\p{L}]+')) AS w
          FROM documents) WHERE w <> ''"""
    ).fetchone()[0]
    n_sources = duck.execute(
        "SELECT count(DISTINCT source) FROM documents"
    ).fetchone()[0]
    n_types, n_users = duck.execute(
        "SELECT count(DISTINCT event_type), count(DISTINCT user_id)"
        " FROM events"
    ).fetchone()

    cms = calls["cms_merge_proof"].rows
    # columns: (n_sketches_merged, n_cells, total_count, merge_matches_onebuild)
    assert len(cms) == 1 and cms[0][3]
    assert cms[0][0] == n_sources
    assert cms[0][2] == AX.CMS_DEPTH * n_tokens
    assert cms[0][1] <= AX.CMS_DEPTH * AX.CMS_WIDTH

    blm = calls["bloom_merge_proof"].rows
    # columns: (n_sketches_merged, n_words, n_set_bits, merge_matches_onebuild)
    assert len(blm) == 1 and blm[0][3]
    assert blm[0][0] == n_types
    assert blm[0][2] == BL.N_HASHES * n_users  # no collisions at 15 keys
    assert blm[0][1] <= BL.M_BITS // 64


def test_merge_proofs_hold_when_sketches_saturated(spark):
    """The merge laws where truncation actually bites: 6k users split
    into two overlapping types, so every per-type bottom-K is SATURATED
    at >10×K (the union-truncate merge genuinely discards hashes) and
    the HLL raw estimate leaves the linear-counting regime (n ≫ 2.5m =
    640). Bit-identity flags must still be true — the pigeonhole /
    max-merge laws are saturation-independent — and estimates stay
    within 4σ of 6,000."""
    from datetime import datetime

    from tp1_distribuidos_mapreduce_spark.plans import approx as AX

    ts = datetime(2024, 1, 1, 12, 0)
    rows = [(u, "alpha") for u in range(0, 3_000)]
    rows += [(u, "beta") for u in range(2_000, 6_000)]
    ev = spark.createDataFrame(
        [(i, ts, u, t, 1.0, "{}") for i, (u, t) in enumerate(rows)],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    n_users = 6_000
    hll = AX.hll_merge_proof(ev).collect()
    kmv = AX.kmv_merge_proof(ev).collect()
    for got, sigma in ((hll, 1.04 / 16), (kmv, 1 / 255 ** 0.5)):
        assert len(got) == 1
        assert got[0]["merge_matches_onebuild"], got
        assert got[0]["n_sketches_merged"] == 2
        assert abs(got[0]["approx_users"] - n_users) <= 4 * sigma * n_users, got
