"""Graph operator pins (operators/graph.py): hand graphs, fallback
paths, warm starts and a k-core that peels. The registry queries'
references live in differential.py."""

from __future__ import annotations

import re
from collections import Counter

import duckdb
import pytest

from conftest import SF_SMOKE, differential

from tp1_distribuidos_mapreduce_spark.operators import dedup as D
from tp1_distribuidos_mapreduce_spark.operators import graph as GR

LINEITEM = "l_orderkey long, l_partkey long"
# baskets {1,2,3} and {2,3,4}: two K3s sharing the edge (2,3)
TWO_K3 = [(100, p) for p in (1, 2, 3)] + [(200, p) for p in (2, 3, 4)]
# path 1-2-3-4 plus the isolated pair 5-6
PATH_AND_PAIR = [(10, 1), (10, 2), (20, 2), (20, 3), (30, 3), (30, 4), (40, 5), (40, 6)]
# K4 on {1,2,3,4} plus the pendant path 4-5-6
K4 = [(100, p) for p in (1, 2, 3, 4)]
K4_PENDANT = K4 + [(200, 4), (200, 5), (300, 5), (300, 6)]
# chain 1-2-3, pair 5-6, chain 10-11-12-13
CC_PAIRS = [(1, 2), (2, 3), (5, 6), (10, 11), (11, 12), (12, 13)]


@pytest.mark.queries("pagerank_copurchase")
def test_pagerank_is_a_distribution(calls):
    rows = calls["pagerank_copurchase"].rows
    total = sum(r["rank"] for r in rows)
    # No dangling nodes in an undirected graph → ranks sum to 1 (up to
    # the 6dp rounding × node count).
    assert abs(total - 1.0) <= 5e-7 * len(rows) + 1e-6
    assert all(r["rank"] > 0 for r in rows)


def test_triangle_count_hand_graph(spark):
    """Orientation correctness on a hand-built graph: baskets {1,2,3}
    and {2,3,4} → K3 on {1,2,3} plus K3 on {2,3,4} sharing edge (2,3):
    5 undirected edges, 2 triangles, each counted exactly once."""
    li = spark.createDataFrame(TWO_K3, LINEITEM)
    out = GR.triangle_count(li).collect()[0]
    assert (out["n_nodes"], out["n_edges"], out["n_triangles"]) == (4, 5, 2)


def test_triangle_orientation_bounds_hub_adjacency(spark):
    """Skew hardening: on a star graph (hub in every basket of size 2)
    the degree orientation must point every edge leaf→hub, so no
    adjacency list exceeds size 1 — with id-orientation a low-id hub
    would hold an n_leaves-sized list, the row that OOMs a power-law
    100 TB graph. Count and tallies must also stay exact: a star has
    0 triangles; adding one leaf-leaf basket closes exactly 1."""
    hub, leaves = 0, list(range(1, 41))
    rows = []
    for i, leaf in enumerate(leaves):
        rows += [(1000 + i, hub), (1000 + i, leaf)]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    out = GR.triangle_count(li).collect()[0]
    assert (out["n_nodes"], out["n_edges"], out["n_triangles"]) == (41, 40, 0)

    # pin the bounded-adjacency property via the same oriented
    # construction the operator uses (degree-ordered, tie-break id)
    from pyspark.sql import functions as F

    edges = GR.undirected_copurchase_edges(li)
    deg = GR.node_degrees(edges).toDF("v", "deg")
    wd = edges.join(
        deg.select(F.col("v").alias("src"), F.col("deg").alias("sdeg")), "src"
    ).join(deg.select(F.col("v").alias("dst"), F.col("deg").alias("ddeg")), "dst")
    lower_first = (F.col("sdeg") < F.col("ddeg")) | (
        (F.col("sdeg") == F.col("ddeg")) & (F.col("src") < F.col("dst"))
    )
    oriented = wd.select(
        F.when(lower_first, F.col("src")).otherwise(F.col("dst")).alias("u")
    )
    max_out = oriented.groupBy("u").count().agg(F.max("count")).collect()[0][0]
    assert max_out == 1  # every leaf points at the hub; hub points nowhere

    # close one triangle via a leaf-leaf basket and re-count
    li2 = spark.createDataFrame(
        rows + [(2000, leaves[0]), (2000, leaves[1])],
        "l_orderkey long, l_partkey long",
    )
    out2 = GR.triangle_count(li2).collect()[0]
    assert (out2["n_edges"], out2["n_triangles"]) == (41, 1)


def test_graph_broadcast_guard_fallback_identical(spark, monkeypatch):
    """The >1M-node degradation path (shuffled joins instead of broadcast)
    has no natural coverage at test scale — force it by dropping the
    limit to 0 and pin that ALL FIVE guard users (PageRank, BFS, triangle
    count, k-core peeling and connected components) produce IDENTICAL
    output to the broadcast path on the same graph. Protects the 100 TB
    fallback from silent rot (VERDICT r8 #4; k-core added per VERDICT
    r9 #2)."""
    rows = (
        [(100, p) for p in (1, 2, 3)]
        + [(200, p) for p in (3, 4)]
        + [(300, p) for p in (4, 5, 6)]
    )
    li = spark.createDataFrame(rows, LINEITEM)
    pairs = spark.createDataFrame(CC_PAIRS, "doc_a long, doc_b long")

    # n_iter=3 (r13 suite-time trim): the guard comparison is per-round
    # identical by construction, so 3 rounds pin the property as well as
    # the default 10 at ~1/3 the localCheckpoint builds. The operators
    # build eagerly (localCheckpoint rounds at construction) and are
    # independent — run each guard phase as one concurrent batch
    # (r16 suite-time trim, 7.7s → ~4s); the monkeypatched guard value
    # must stay constant WITHIN a phase, so the two phases stay serial.
    from concurrent.futures import ThreadPoolExecutor

    ops = {
        "pagerank": lambda: GR.pagerank_copurchase(li, n_iter=3),
        "bfs": lambda: GR.bfs_distances(li),
        "triangle": lambda: GR.triangle_count(li),
        # k=2 so the two K3s survive peeling (the 3-core of this graph
        # is empty, which would make the comparison vacuous)
        "kcore": lambda: GR.kcore_members(li, k=2),
        "cc": lambda: D.connected_components(pairs),
    }

    def run_all():
        with ThreadPoolExecutor(max_workers=len(ops)) as pool:
            futures = {
                name: pool.submit(lambda op=op: [tuple(r) for r in op().collect()])
                for name, op in ops.items()
            }
            return {name: f.result() for name, f in futures.items()}

    bcast = run_all()
    assert bcast["kcore"]  # non-vacuous: the 2-core really has members
    assert bcast["triangle"] == [(6, 7, 2)]
    assert GR.PAGERANK_BROADCAST_NODE_LIMIT > 0  # broadcast path really ran

    monkeypatch.setattr(GR, "PAGERANK_BROADCAST_NODE_LIMIT", 0)
    # ranks are rounded at 6dp in the operator output; partial-sum order
    # differences live below that, so equality here is exact
    assert run_all() == bcast


def test_degree_distribution_hand_graph(spark):
    """Same two-basket graph: nodes 1 and 4 have degree 2, nodes 2 and 3
    have degree 3."""
    li = spark.createDataFrame(TWO_K3, LINEITEM)
    got = {r["degree"]: r["n_nodes"] for r in GR.degree_distribution(li).collect()}
    assert got == {2: 2, 3: 2}


@pytest.mark.queries("weighted_token_sample")
def test_weighted_sample_hits_token_budget(calls):
    """Systematic-sample invariants on the fixture: (a) per source the
    sample has at most k + (docs wider than one stride) rows and at
    least 1, (b) every selected doc's span really crosses a grid line
    (re-derived independently in Python), (c) selection is reproducible."""
    from tp1_distribuidos_mapreduce_spark.operators import pipeline as P

    rows = calls["weighted_token_sample"].rows
    got = [(r["source"], r["doc_id"], r["n_chars"]) for r in rows]
    con = duckdb.connect()
    all_rows = con.execute(
        f"SELECT source, doc_id, n_chars FROM '{SF_SMOKE}/documents.parquet'"
        " ORDER BY source, doc_id"
    ).fetchall()
    con.close()
    k = P.SYSTEMATIC_SAMPLE_K
    by_source: dict[str, list[tuple[int, int]]] = {}
    for src, did, w in all_rows:
        by_source.setdefault(src, []).append((did, w))
    expect = []
    for src, rows in sorted(by_source.items()):
        total = sum(w for _, w in rows)
        stride = -(-total // k)
        cum = 0
        n_sel = 0
        for did, w in rows:
            cum += w
            if cum // stride > (cum - w) // stride:
                expect.append((src, did, w))
                n_sel += 1
        assert 1 <= n_sel <= k
    assert got == expect


def test_bfs_distances_hand_graph(spark):
    """Path-shaped baskets 1-2, 2-3, 3-4 plus isolated pair 5-6: root is
    part 1 → dists 0,1,2,3; the disconnected component gets sentinel -1."""
    li = spark.createDataFrame(PATH_AND_PAIR, LINEITEM)
    got = {r["part_id"]: r["dist"] for r in GR.bfs_distances(li).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3, 5: -1, 6: -1}


def test_kcore_peels_fixture_graph_like_python_reference(spark):
    """The fixture graph is its own 3-core, so the registry's k = 3
    never removes a node. At k = 68 it peels over several rounds to a
    176-node core, which must equal the Python peeling of the same edge
    list (differential.py's k-core reference, also run at k = 3)."""
    from tp1_distribuidos_mapreduce_spark.sources.tables import load_table

    li = load_table(spark, SF_SMOKE, "lineitem")
    rows = GR.kcore_members(li, k=68).collect()
    rec = differential._ref_kcore(rows, SF_SMOKE, k=68)
    assert rec["reference_match"], rec
    assert rec["n_core_members"] == 176 and rec["peel_rounds"] > 1, rec


def test_kcore_hand_graph_peels_tail(spark, monkeypatch):
    """Hand graph: K4 on {1,2,3,4} plus a pendant path 4-5-6. The 3-core
    is exactly the K4 (degrees 3): the first round peels 5 and 6
    (degrees 2 and 1), the second finds no node below 3. The K4 alone is
    already its own 3-core, so it takes one degree round over the lazy
    edge build and no semi-join round: one localCheckpoint, the
    degrees."""
    k4 = spark.createDataFrame(K4, LINEITEM)
    pendant = spark.createDataFrame(K4_PENDANT, LINEITEM)
    calls = []
    original = type(k4).localCheckpoint

    def counted(self, *args, **kwargs):
        calls.append(1)
        return original(self, *args, **kwargs)

    monkeypatch.setattr(type(k4), "localCheckpoint", counted)
    core = [(1, 3), (2, 3), (3, 3), (4, 3)]
    assert [tuple(r) for r in GR.kcore_members(pendant, k=3).collect()] == core
    assert len(calls) > 2
    calls.clear()
    assert [tuple(r) for r in GR.kcore_members(k4, k=3).collect()] == core
    assert len(calls) == 1


# The driver-side actions each iterative operator runs while it builds its
# frame, on the hand graphs above. Each one is at least one Spark job,
# a fixed cost per call at small scale: a new one must pay for itself in
# an A/B before its count here goes up.
EAGER_ACTIONS = ("localCheckpoint", "count", "collect", "first", "isEmpty")
EAGER_OPS = {
    # edges, degrees, rounds 2 and 3; the node count
    "pagerank": (
        TWO_K3,
        lambda li: GR.pagerank_copurchase(li, n_iter=3),
        {"localCheckpoint": 4, "count": 1},
    ),
    # edges, nodes, root row, 4 rounds (the last finds the frontier
    # empty); one aggregate for the root and the node count
    "bfs": (
        PATH_AND_PAIR,
        GR.bfs_distances,
        {"localCheckpoint": 7, "first": 1, "isEmpty": 4},
    ),
    # edges, degrees, oriented edges, adjacency; the node count
    "triangle": (TWO_K3, GR.triangle_count, {"localCheckpoint": 4, "count": 1}),
    # degrees, kept edges, degrees; one tally per degree round
    "kcore": (
        K4_PENDANT,
        lambda li: GR.kcore_members(li, k=3),
        {"localCheckpoint": 3, "first": 2},
    ),
    # edges, labels, 3 rounds; the node count with the first label sum,
    # then one label sum per round
    "cc": (CC_PAIRS, D.connected_components, {"localCheckpoint": 5, "first": 4}),
}


@pytest.mark.parametrize("op", list(EAGER_OPS))
def test_graph_operators_eager_actions(spark, monkeypatch, op):
    rows, build, expected = EAGER_OPS[op]
    schema = "doc_a long, doc_b long" if op == "cc" else LINEITEM
    frame = spark.createDataFrame(rows, schema)
    cls = type(frame)
    counts = Counter()
    depth = [0]

    def counting(name, original):
        def counted(self, *args, **kwargs):
            # the outermost action only: first() runs collect() inside
            counts[name] += depth[0] == 0
            depth[0] += 1
            try:
                return original(self, *args, **kwargs)
            finally:
                depth[0] -= 1

        return counted

    for name in EAGER_ACTIONS:
        monkeypatch.setattr(cls, name, counting(name, getattr(cls, name)))
    out = build(frame)
    assert {name: n for name, n in counts.items() if n} == expected
    if op == "triangle":
        # n_nodes is the guard's count as a literal: the final plan
        # aggregates only the edge and the triangle tallies
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert len(re.findall(r"Aggregate \[", plan)) == 2, plan


def test_kcore_empty_results_keep_the_schema(spark):
    """A k above the maximum degree peels every node, and a lineitem
    with no order of two or more parts has no edges: both return an
    empty (part_id bigint, core_degree bigint) frame, never an error."""
    schema = "struct<part_id:bigint,core_degree:bigint>"
    k4 = spark.createDataFrame(K4, LINEITEM)
    peeled = GR.kcore_members(k4, k=4)
    assert peeled.schema.simpleString() == schema
    assert peeled.collect() == []

    singles = spark.createDataFrame(
        [(100, 1), (200, 2), (300, 2)], "l_orderkey long, l_partkey long"
    )
    no_edges = GR.kcore_members(singles, k=3)
    assert no_edges.schema.simpleString() == schema
    assert no_edges.collect() == []


def test_pagerank_warm_start_resumes_run(spark, tmp_path):
    """Restartability: 1 round + persist + 9 warm-started rounds must
    match the single 10-round run within the persisted checkpoint's 6dp
    rounding (every rank within ~1e-6) — the preemption/resume contract
    of a long iterative job. Also pins that a warm start really is used
    (4-round ranks differ from 10-round ranks by much more than 1e-6)."""
    from tp1_distribuidos_mapreduce_spark.sources.tables import load_table

    li = load_table(spark, SF_SMOKE, "lineitem")
    # r13 suite-time trim: 10 = 1+9 rounds → 6 = 1+5 (the resume
    # contract is round-count-agnostic; 1-round ranks are still far
    # from the 6-round point, asserted below, so the resume does real
    # work). Saves ~5s of per-round localCheckpoint plan builds.
    full = {r["part_id"]: r["rank"] for r in GR.pagerank_copurchase(li, n_iter=6).collect()}

    part1 = GR.pagerank_copurchase(li, n_iter=1)
    p = str(tmp_path / "ranks_ckpt")
    part1.write.mode("overwrite").parquet(p)
    persisted = spark.read.parquet(p)
    interim = {r["part_id"]: r["rank"] for r in persisted.collect()}
    # after 1 round the ranks are still far from the 6-round point,
    # so the resume below demonstrably does real work
    assert max(abs(full[k] - interim[k]) for k in full) > 1e-5

    resumed = {
        r["part_id"]: r["rank"]
        for r in GR.pagerank_copurchase(
            li, n_iter=5, initial_ranks=persisted.select("part_id", "rank")
        ).collect()
    }
    assert resumed.keys() == full.keys()
    assert max(abs(full[k] - resumed[k]) for k in full) <= 2e-6


def test_pagerank_warm_start_bit_exact_from_unrounded(spark, tmp_path):
    """BIT-EXACT resume (VERDICT r9 #3): k rounds + persist UNROUNDED
    doubles (exact=True) + m warm-started rounds == k+m rounds in one
    job, with float ``==`` — no tolerance. Parquet round-trips IEEE754
    doubles losslessly and the per-round fold order is deterministic for
    a deterministic edge list, so any inequality here is a real resume
    bug, not noise. The 6dp public output schema is unchanged
    (exact=False remains the default)."""
    from tp1_distribuidos_mapreduce_spark.sources.tables import load_table

    li = load_table(spark, SF_SMOKE, "lineitem")
    full = {
        r["part_id"]: r["rank"]
        for r in GR.pagerank_copurchase(li, n_iter=4, exact=True).collect()
    }

    part1 = GR.pagerank_copurchase(li, n_iter=1, exact=True)
    p = str(tmp_path / "ranks_exact_ckpt")
    part1.write.mode("overwrite").parquet(p)
    persisted = spark.read.parquet(p)

    resumed = {
        r["part_id"]: r["rank"]
        for r in GR.pagerank_copurchase(
            li, n_iter=3, initial_ranks=persisted.select("part_id", "rank"),
            exact=True,
        ).collect()
    }
    assert resumed == full  # exact float equality, every node
