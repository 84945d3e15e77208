"""Property pins for the round-8 operators (plans/retail.py,
operators/vocab.py, operators/decontam.py) against independent Python
references — the oracle differential in test_relational.py proves
Spark == DuckDB; these prove the shared semantics are the INTENDED ones.
"""

from __future__ import annotations

from collections import Counter

from conftest import SF_SMOKE

from tp1_distribuidos_mapreduce_spark.operators import decontam as DC
from tp1_distribuidos_mapreduce_spark.plans import retail as RT
from tp1_distribuidos_mapreduce_spark.sources.tables import load_table


def test_weighted_median_matches_python_reference(spark):
    """Exact weighted median recomputed row-by-row in Python: smallest
    price whose cumulative (price-ascending) weight reaches half the
    total — the classic definition, independent of the window plan."""
    li = load_table(spark, SF_SMOKE, "lineitem")
    rows = li.select("l_returnflag", "l_extendedprice", "l_quantity").collect()
    by_flag: dict[str, list[tuple[float, int]]] = {}
    for r in rows:
        by_flag.setdefault(r.l_returnflag, []).append(
            (r.l_extendedprice, int(round(r.l_quantity)))
        )
    expected = {}
    for flag, vals in by_flag.items():
        vals.sort()
        total = sum(w for _, w in vals)
        cum = 0
        for price, w in vals:
            cum += w
            if 2 * cum >= total:
                expected[flag] = (price, total)
                break
    got = {
        r.l_returnflag: (r.weighted_median_price, r.total_quantity)
        for r in RT.weighted_median_price(li).collect()
    }
    assert got == expected


def test_market_basket_matches_naive_self_join(spark):
    """The basket pair self-join must produce exactly the pairs a naive
    per-order double loop produces (co-occurrence counts included)."""
    li = load_table(spark, SF_SMOKE, "lineitem")
    orders: dict[int, set[int]] = {}
    for r in li.select("l_orderkey", "l_partkey").collect():
        orders.setdefault(r.l_orderkey, set()).add(r.l_partkey)
    counts: Counter = Counter()
    for parts in orders.values():
        ps = sorted(parts)
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                counts[(ps[i], ps[j])] += 1
    expected = sorted(
        counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
    )[: RT.BASKET_TOP_K]
    got = [
        ((r.part_a, r.part_b), r.n_orders)
        for r in RT.market_basket_pairs(li).collect()
    ]
    assert got == expected


def test_contamination_flags_are_sound(spark):
    """Every flagged doc must be a corpus doc (never benchmark), have
    n_contaminated <= n_spans, and actually share at least one verbatim
    8-token span with some benchmark doc (checked in raw Python on the
    tokenized text)."""
    docs = load_table(spark, SF_SMOKE, "documents")
    flagged = DC.benchmark_contamination(docs).collect()
    assert flagged, "fixture should contain at least one contaminated doc"
    texts = {r.doc_id: r.text for r in docs.collect()}

    def spans(doc_id: int) -> set[str]:
        toks = [t for t in _tokenize(texts[doc_id]) if t]
        k = DC.DECONTAM_SPAN_K
        return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}

    bench_spans = set()
    for did in texts:
        if did % 13 == 0:
            bench_spans |= spans(did)
    for r in flagged:
        assert r.doc_id % 13 != 0
        assert 1 <= r.n_contaminated <= r.n_spans
        hits = spans(r.doc_id) & bench_spans
        assert len(hits) == r.n_contaminated


def _tokenize(text: str) -> list[str]:
    # Mirror functions/tokenize.py's [^\p{L}]+ splitter; the fixture text
    # is ASCII letters + spaces, so the ASCII letter class is equivalent.
    import re

    return re.split(r"[^a-zA-Z]+", text.lower())


def test_rfm_covers_all_customers_once(spark):
    """The segment grid must partition customers exactly: cell counts sum
    to the distinct customer count, and quintile labels stay in 1..5."""
    orders = load_table(spark, SF_SMOKE, "orders")
    grid = RT.rfm_segmentation(orders).collect()
    n_customers = orders.select("o_custkey").distinct().count()
    assert sum(r.n_customers for r in grid) == n_customers
    for r in grid:
        assert 1 <= r.r_quintile <= RT.RFM_QUANTILES
        assert 1 <= r.f_quintile <= RT.RFM_QUANTILES


def test_linear_attribution_conserves_purchase_value(spark):
    """Attribution invariants the oracle's value-hash can't state
    directly: (a) total attributed revenue never exceeds the touched
    purchases' total value, (b) the unattributed residue is strictly
    sub-millicent per (purchase, touch) — i.e. the floor split loses
    less than n_touches millicents per purchase, (c) per-type touch
    counts partition the pair table."""
    from pyspark.sql import functions as F

    from tp1_distribuidos_mapreduce_spark.plans import behavior as BH
    from tp1_distribuidos_mapreduce_spark.sources.tables import load_table

    events = load_table(spark, SF_SMOKE, "events")
    out = BH.linear_attribution(events).collect()
    attributed = sum(r["attributed_revenue"] for r in out)

    # independent recompute of the touched purchases' exact value
    purchases = events.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    touches = events.where(F.col("event_type").isin("click", "view")).select(
        F.col("user_id").alias("t_user"), F.col("ts").alias("t_ts")
    )
    touched = (
        purchases.join(
            touches,
            (F.col("p_user") == F.col("t_user"))
            & (F.col("t_ts") < F.col("p_ts"))
            & (F.col("t_ts") >= F.col("p_ts") - F.expr("INTERVAL 24 HOURS")),
            "left_semi",
        )
        .agg(F.sum("cents").alias("c"), F.count("*").alias("n"))
        .collect()[0]
    )
    total_value = touched["c"] / 100.0
    n_touched = touched["n"]
    assert attributed <= total_value + 1e-9
    # floor split loses < 1 millicent per pair row → bounded residue
    n_pairs = sum(r["n_touches"] for r in out)
    assert total_value - attributed < n_pairs / 100000.0 + 1e-9
    assert sum(r["n_purchases"] for r in out) >= n_touched
