"""Graph analytics beyond connected components (operators/dedup.py):
PageRank over the part co-purchase graph — the influence/centrality
measure a recommender or curation pipeline runs over an item graph.

Graph construction reuses the market-basket pairs (plans/retail.py
basket_pairs): a codegen'd self-join of (order, part) rows on the order
key keeping a < b, deduplicated to an undirected edge list. Against the
interpreted in-row expansion of per-order part arrays it replaced, the
k-core op at sf0.01 (perfbench iterative, C1-only JVM, 4 vCPUs) went
from 1.16 to 0.56 executor CPU s and from 19.9 to 10.2 MB input per
op. PageRank then iterates rank ← (1−d)/N + d·Σ rank/out_degree over
the edge list:

- Each round is one edge⨝ranks join (ranks are node-cardinality; edges
  carry the data weight) plus a destination-keyed aggregate — the
  textbook distributed formulation, linear in |edges| per round. While
  the node table fits executor memory the ranks side is BROADCAST, so
  the cached edge table is never shuffled inside the loop (measured 3×
  at sf0.1); past PAGERANK_BROADCAST_NODE_LIMIT it degrades gracefully
  to the shuffled equi-join.
- The ranks frame is ``localCheckpoint``-ed every round: the iterative-
  DataFrame lesson from connected components (planning time doubles per
  round otherwise). No driver collect inside the loop — the loop body
  is pure plan construction; the fixed iteration count means no
  convergence action either.
- An undirected co-occurrence graph has no dangling nodes (every node
  in the edge list has degree ≥ 1), so the dangling-mass correction
  term vanishes and the per-round plan stays join + aggregate.

Float partial-sum order perturbs ranks at the last ulp → rows-only
check; differential.py pins every node's rank against a
numpy power-iteration reference well inside the 6dp output rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.retail import (
    basket_item_counts,
    basket_items,
    basket_pair_counts,
    basket_pairs,
    mirrored,
)

PAGERANK_DAMPING = 0.85
PAGERANK_ITERS = 10
# Broadcast the node-cardinality ranks frame into the per-round edge join
# while it plausibly fits executor memory (~24 bytes/node → ~24 MB at the
# limit); beyond that fall back to the shuffled equi-join. At sf0.1 the
# broadcast variant measured 19.8s → 6.6s (adjacent idle A/B, identical
# output): the per-round shuffle of the EDGE table is what it removes.
PAGERANK_BROADCAST_NODE_LIMIT = 1_000_000


def _maybe_broadcast(n_nodes: int):
    """The shared conditional broadcast guard for node-cardinality frames
    inside iterative joins: broadcast while the node table fits, degrade
    gracefully to the shuffled equi-join past the limit. One definition
    for all five users (PageRank, BFS, triangle count, k-core and
    dedup.connected_components) so a threshold-policy change cannot
    silently diverge between them."""
    if n_nodes <= PAGERANK_BROADCAST_NODE_LIMIT:
        return lambda df: F.broadcast(df)
    return lambda df: df


def undirected_copurchase_edges(lineitem: DataFrame) -> DataFrame:
    """Distinct undirected co-purchase edges with src < dst (one row per
    edge): the basket_pairs self-join over the raw (order, part)
    projection, then one distinct (a part repeated within an order only
    repeats pairs the distinct folds). Lazy — callers decide whether to
    checkpoint."""
    return (
        basket_pairs(lineitem)
        .select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .distinct()
    )


def node_degrees(edges: DataFrame) -> DataFrame:
    """(part_id, degree): how many edges of an undirected (src, dst) edge
    list touch each node — each edge counts once at either endpoint, in
    one pass over the list (an in-row explode, no union of two scans)."""
    return (
        edges.select(F.explode(F.array("src", "dst")).alias("part_id"))
        .groupBy("part_id")
        .agg(F.count("*").cast("long").alias("degree"))
    )


def copurchase_edges(lineitem: DataFrame) -> DataFrame:
    """Undirected co-purchase edge list as directed rows (a→b and b→a),
    deduplicated: (src, dst) — the adjacency PageRank and BFS walk.

    r22: the directed rows come from an IN-ROW explode of each undirected
    edge into its two orientations — not a union of two re-derivations of
    the edge build. The union shape evaluated the whole edge subtree once
    per branch and pushed BOTH copies through the distinct's exchange;
    the explode shape runs the subtree once, shuffles HALF the rows, and
    mirrors in-row after the distinct (guide §2.3 — shuffle fewer bytes).
    Checkpointing the undirected half instead was tried and REVERTED in
    r21 (pagerank 6.5→7.7s, bfs 4.1→4.7s, kcore 3.1→4.6s): the eager
    materialization serialized what parallel subtrees hid. Measured
    adjacent interleaved A/B at sf0.1 (edge set verified identical,
    2.392M rows; pagerank 6dp output identical): pagerank 6.54→5.58s,
    bfs 5.07→3.96s, kcore 4.04→3.33s medians."""
    return mirrored(undirected_copurchase_edges(lineitem), "src", "dst")


def pagerank_copurchase(
    lineitem: DataFrame,
    damping: float = PAGERANK_DAMPING,
    n_iter: int = PAGERANK_ITERS,
    initial_ranks: DataFrame | None = None,
    exact: bool = False,
) -> DataFrame:
    """PageRank over the co-purchase graph: (part_id, out_degree, rank).

    Deterministic contract: fixed ``n_iter`` rounds from the uniform
    start, rank rounded at 6dp in the public output (partial-sum order
    wobbles the last ulp only). Returns every node, ordered by part_id.
    That last-ulp sensitivity makes the query rows-only; every node's
    rank is pinned against numpy in differential.py.

    ``initial_ranks`` (a (part_id, rank) frame, e.g. a persisted prior
    output) WARM-STARTS the iteration instead of the uniform vector —
    the restart/resume contract a long iterative job needs at 100 TB:
    k rounds, persist, then m warm-started rounds equals k+m rounds in
    one job. ``exact=True`` emits the UNROUNDED double ranks — the form
    a checkpoint must persist for BIT-EXACT resume (k + persist + m ==
    k+m with float equality, pinned in tests/test_graph.py); resuming
    from the 6dp public output instead stays within ~1e-6 but compounds
    per restart in a long chain. A preempted cluster job loses only the
    rounds since its last persisted ranks table, never the whole run.
    """
    edges = copurchase_edges(lineitem).localCheckpoint()
    # degrees is re-read every round by the rank-update join: checkpoint
    # it once instead of re-deriving the groupBy from edges per round.
    degrees = edges.groupBy("src").agg(
        F.count(F.lit(1)).alias("out_deg")
    ).localCheckpoint()
    n_nodes = degrees.count()
    if n_nodes == 0:
        raise ValueError(
            "pagerank_copurchase: empty co-purchase graph (no order has "
            ">= 2 distinct parts) — nothing to rank"
        )
    base = (1.0 - damping) / n_nodes

    if initial_ranks is not None:
        # LEFT join + uniform default: a node absent from the supplied
        # ranks (stale/filtered checkpoint) must re-enter at the uniform
        # prior, never silently vanish from the rank vector (an inner
        # join here would drop its mass without any error).
        ranks = (
            degrees.join(
                initial_ranks.select(F.col("part_id").alias("src"), "rank"),
                "src",
                "left",
            )
            .select(
                "src",
                F.coalesce("rank", F.lit(1.0 / n_nodes)).alias("rank"),
                "out_deg",
            )
            .localCheckpoint()
        )
    else:
        # a literal projection of the checkpointed degrees: nothing to
        # materialize
        ranks = degrees.select("src", F.lit(1.0 / n_nodes).alias("rank"), "out_deg")
    bcast = _maybe_broadcast(n_nodes)
    for i in range(n_iter):
        contribs = (
            edges.join(bcast(ranks), "src")
            .select(F.col("dst").alias("src"), (F.col("rank") / F.col("out_deg")).alias("c"))
            .groupBy("src")
            .agg(F.sum("c").alias("mass"))
        )
        # Both sides of the rank update are node-cardinality; broadcasting
        # the aggregated contribs keeps the update join shuffle-free too
        # (adjacent A/B at sf0.1: 7.3-11.4s → 5.7s, identical 6dp ranks).
        ranks = degrees.join(
            bcast(contribs), "src", "left"
        ).select(
            "src",
            (
                F.lit(base)
                + F.lit(damping) * F.coalesce(F.col("mass"), F.lit(0.0))
            ).alias("rank"),
            "out_deg",
        )
        # Checkpoint every SECOND round (and always the last): lineage
        # stays ≤ 2 rounds deep (planning cost bounded) while half the
        # per-round checkpoint jobs disappear — adjacent warm A/B at
        # sf0.1: 6.29s → 5.47s, identical output (the per-partition fold
        # order feeding each aggregate is fixed by the checkpointed edge
        # table, so even the bit-exact warm-start contract is unchanged;
        # stride 5 measured no better than 2).
        if i % 2 == 1 or i == n_iter - 1:
            ranks = ranks.localCheckpoint()
    return ranks.select(
        F.col("src").alias("part_id"),
        "out_deg",
        F.col("rank").alias("rank") if exact else F.round("rank", 6).alias("rank"),
    ).orderBy("part_id")


def copurchase_jaccard(lineitem: DataFrame, top_k: int = 50) -> DataFrame:
    """Item-item Jaccard similarity over co-purchase baskets — the
    collaborative-filtering neighbor table (sim(a,b) = |orders with
    both| / |orders with either|), reported as the global top-k pairs.

    Shape: basket-bounded in-row pair expansion (the market_basket /
    pagerank edge discipline — never a part×part cross), one pair-keyed
    count, one part-keyed basket count joined TWICE by key (item
    cardinality ≪ pair cardinality, a plain shuffled equi-join at any
    scale), and a deterministic (jaccard DESC, a, b) top-k cut. The
    Jaccard itself is an exact integer ratio evaluated identically by
    both engines, so ordering and rounding are deterministic.
    """
    # NOT checkpointed (r21 A/B: 1.83→2.15s) — the two consumers
    # evaluate as parallel subtrees of one job at this scale and share
    # the basket_items exchange.
    items = basket_items(lineitem)
    pair_counts = basket_pair_counts(items)
    part_counts = basket_item_counts(items)
    na = part_counts.select(F.col("part").alias("a"), F.col("n_part").alias("n_a"))
    nb = part_counts.select(F.col("part").alias("b"), F.col("n_part").alias("n_b"))
    return (
        pair_counts.join(na, "a")
        .join(nb, "b")
        .select(
            "a",
            "b",
            "n_ab",
            "n_a",
            "n_b",
            F.round(
                F.col("n_ab")
                / (F.col("n_a") + F.col("n_b") - F.col("n_ab")),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), F.asc("a"), F.asc("b"))
        .limit(top_k)
    )


COPURCHASE_JACCARD_ORACLE = """
WITH baskets AS (
  SELECT l_orderkey, list_sort(list(DISTINCT l_partkey)) AS parts
  FROM lineitem GROUP BY l_orderkey
), pairs AS (
  SELECT a.l_orderkey, a.l_partkey AS a, b.l_partkey AS b
  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), pair_counts AS (
  SELECT a, b, CAST(count(*) AS BIGINT) AS n_ab FROM pairs GROUP BY a, b
), part_counts AS (
  SELECT l_partkey AS part, CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_part
  FROM lineitem GROUP BY l_partkey
)
SELECT p.a, p.b, p.n_ab,
       x.n_part AS n_a, y.n_part AS n_b,
       round(p.n_ab / CAST(x.n_part + y.n_part - p.n_ab AS DOUBLE), 6) AS jaccard
FROM pair_counts p
JOIN part_counts x ON p.a = x.part
JOIN part_counts y ON p.b = y.part
ORDER BY jaccard DESC, p.a, p.b
LIMIT 50
"""


# --------------------------------------------------------------------------
# Triangle counting and degree distribution over the co-purchase graph
# --------------------------------------------------------------------------


def copurchase_degrees(lineitem: DataFrame) -> DataFrame:
    """Per-node degree of the undirected co-purchase graph: (part_id,
    degree), node_degrees over the undirected edge list."""
    return node_degrees(undirected_copurchase_edges(lineitem)).orderBy("part_id")


def degree_distribution(lineitem: DataFrame) -> DataFrame:
    """Degree histogram of the co-purchase graph: (degree, n_nodes) —
    the first diagnostic anyone runs on a large graph (power-law check,
    skew sizing for the joins that follow). Two hash aggregates, the
    second over |distinct degrees| rows."""
    return (
        copurchase_degrees(lineitem)
        .groupBy("degree")
        .agg(F.count("*").cast("long").alias("n_nodes"))
        .orderBy("degree")
    )


DEGREE_DISTRIBUTION_ORACLE = """
WITH pairs AS (
  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), degrees AS (
  SELECT node, CAST(count(*) AS BIGINT) AS degree
  FROM (SELECT a AS node FROM pairs UNION ALL SELECT b FROM pairs)
  GROUP BY node
)
SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes
FROM degrees GROUP BY degree ORDER BY degree
"""


def triangle_count(lineitem: DataFrame) -> DataFrame:
    """Global triangle count of the co-purchase graph plus the
    supporting edge/node tallies: one row (n_nodes, n_edges,
    n_triangles).

    Algorithm: edge-iterator with DEGREE-ORDERED orientation. Each
    undirected edge is oriented toward the endpoint with the higher
    (degree, id) pair — ties broken by id — so every triangle is
    counted exactly once at its lowest-(degree, id) vertex, and each
    node's oriented out-degree is bounded by the graph's DEGENERACY
    rather than its max degree: a hub of degree d contributes at most
    the edges pointing to even-higher-degree nodes, never d-sized
    adjacency rows. Per oriented edge (u,v) the count is
    |N⁺(u) ∩ N⁺(v)| via in-row array_intersect of the two sorted
    adjacency lists. Versus the classic wedge-join (enumerate wedges,
    semi-join the closing edge), this never materializes the wedge set
    through a shuffle: the shuffles are the degree aggregate, the
    adjacency groupBy, and the two edge⨝adjacency equi-joins. Measured
    adjacent A/B at sf0.1 (1.2M directed edges, 1.88M triangles,
    identical counts): wedge-join 7.95/6.63s vs edge-iterator
    4.38/3.48s — ~2×; the degree orientation adds one node-cardinality
    aggregate + two hash joins and is what makes a skewed (power-law)
    100 TB graph tractable — bounded adjacency pinned on a synthetic
    star graph in tests/test_graph.py.
    """
    # src < dst by construction — use the undirected half directly (r21:
    # the previous shape built the both-directions union and immediately
    # filtered one direction back out).
    undirected = undirected_copurchase_edges(lineitem).localCheckpoint()
    # full degree per node over the undirected edge set — checkpointed
    # (r21): the orientation join consumes it twice, so without the
    # checkpoint the degree aggregate re-runs per consumer.
    deg = node_degrees(undirected).toDF("v", "deg").localCheckpoint()
    # One row per node, so this one count is both the n_nodes output
    # column (a literal) and the size the shared 1M-node guard reads:
    # node-cardinality frames (deg, adj) broadcast into the edge joins,
    # and past the limit they degrade to shuffled equi-joins. The
    # checkpointed deg frame does report a size, but unhinted the two
    # adjacency joins plan as sort-merge and AQE turns them into
    # broadcasts only after both sides' shuffle map stages ran: without
    # the hints a call ran 3 more Spark jobs (21, not 18) and wrote
    # 3.2 MB of shuffle instead of 1.96 MB (sf0.01, identical rows).
    n_nodes = deg.count()
    bcast = _maybe_broadcast(n_nodes)
    # orient toward the higher-(degree, id) endpoint. The two aliased
    # deg projections LOOK like two broadcast builds, but AQE's runtime
    # stage canonicalization already dedups them — the executed plan
    # carries a ReusedExchange for the second side (r22 probe,
    # plans/r22/triangle_count_before.txt; a shared-frame rewrite
    # measured flat in order-controlled 5-repeat A/Bs and was reverted).
    with_deg = (
        undirected.join(
            bcast(deg.select(F.col("v").alias("src"), F.col("deg").alias("sdeg"))),
            "src",
        )
        .join(
            bcast(deg.select(F.col("v").alias("dst"), F.col("deg").alias("ddeg"))),
            "dst",
        )
    )
    lower_first = (F.col("sdeg") < F.col("ddeg")) | (
        (F.col("sdeg") == F.col("ddeg")) & (F.col("src") < F.col("dst"))
    )
    oriented = with_deg.select(
        F.when(lower_first, F.col("src")).otherwise(F.col("dst")).alias("u"),
        F.when(lower_first, F.col("dst")).otherwise(F.col("src")).alias("w"),
    ).localCheckpoint()
    # adjacency is consumed by BOTH sides of the closing join: build the
    # collect_list aggregate ONCE and checkpoint it (r21 — the previous
    # shape re-ran the ObjectHashAggregate over the full oriented edge
    # set twice, once per join side; the plan now has one adjacency
    # aggregate and two broadcast reuses of its result). Out-degrees are
    # degeneracy-bounded (docstring above), so adj rows stay small.
    adj = (
        oriented.groupBy("u")
        .agg(F.sort_array(F.collect_list("w")).alias("nbrs"))
        .localCheckpoint()
    )
    common = (
        oriented.alias("e")
        .join(
            bcast(adj.select(F.col("u").alias("a"), F.col("nbrs").alias("na"))),
            F.col("e.u") == F.col("a"),
        )
        .join(
            bcast(adj.select(F.col("u").alias("b"), F.col("nbrs").alias("nb"))),
            F.col("e.w") == F.col("b"),
        )
        .select(F.size(F.array_intersect("na", "nb")).alias("c"))
    )
    n_tri = common.agg(F.coalesce(F.sum("c"), F.lit(0)).alias("n")).select("n")
    n_edges = undirected.agg(F.count("*").alias("n")).select("n")
    return n_edges.select(
        F.lit(n_nodes).cast("long").alias("n_nodes"),
        F.col("n").cast("long").alias("n_edges"),
    ).crossJoin(n_tri.select(F.col("n").cast("long").alias("n_triangles")))


TRIANGLE_COUNT_ORACLE = """
WITH oriented AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)
SELECT
  (SELECT CAST(count(DISTINCT v) AS BIGINT)
   FROM (SELECT src AS v FROM oriented UNION ALL SELECT dst FROM oriented))
    AS n_nodes,
  (SELECT CAST(count(*) AS BIGINT) FROM oriented) AS n_edges,
  (SELECT CAST(count(*) AS BIGINT)
   FROM oriented e1
   JOIN oriented e2 ON e1.dst = e2.src
   JOIN oriented e3 ON e3.src = e1.src AND e3.dst = e2.dst) AS n_triangles
"""


# --------------------------------------------------------------------------
# BFS shortest-path distances from a deterministic root
# --------------------------------------------------------------------------

BFS_MAX_ROUNDS = 64


def bfs_distances(lineitem: DataFrame) -> DataFrame:
    """Unweighted shortest-path distance from a deterministic root (the
    minimum part id in the graph) to every node: (part_id, dist), with
    unreachable nodes at sentinel −1 (engine no-NULL output policy).

    Frontier-relaxation BFS, the iterative-DataFrame discipline of
    connected components (operators/dedup.py): each round joins the
    CURRENT FRONTIER (only the nodes whose distance was just settled —
    never the full distance table) against the edge list, anti-joins
    already-settled nodes away, and folds the newly reached nodes in.
    Per round that is one |frontier|⨝edges equi-join — the textbook
    distributed BFS whose total work is O(|edges|) summed over rounds.
    localCheckpoint every round keeps lineage flat; the only driver
    actions are one scalar aggregate over the nodes (the root and the
    node count the broadcast guard reads) and one frontier-empty check
    per round — never node data. Rounds are capped at
    BFS_MAX_ROUNDS (= graph diameter bound a co-occurrence graph never
    approaches); hitting the cap raises loudly rather than returning a
    silently truncated answer.

    Oracle: DuckDB recursive CTE over the same edge list — min(dist) per
    node under UNION-distinct frontier expansion.
    """
    edges = copurchase_edges(lineitem).localCheckpoint()
    nodes = edges.select(F.col("src").alias("part_id")).distinct().localCheckpoint()
    root, n_nodes = nodes.agg(F.min("part_id"), F.count("*")).first()
    if root is None:
        raise ValueError(
            "bfs_distances: empty co-purchase graph (no order has >= 2 "
            "distinct parts) — no root to start from"
        )

    settled = nodes.sparkSession.createDataFrame(
        [(int(root), 0)], "part_id long, dist int"
    ).localCheckpoint()
    frontier = settled
    # Frontier and settled are node-cardinality (≪ edges): broadcast them
    # into the per-round joins while the node table fits — the pagerank
    # broadcast-ranks discipline (PAGERANK_BROADCAST_NODE_LIMIT), so the
    # cached EDGE table is never shuffled inside the loop. Measured
    # adjacent A/B at sf0.1 (20k nodes, 1.2M directed edges, identical
    # distance tables): 11.7/9.0s shuffled → 4.0/3.5s broadcast. Past the
    # limit both joins degrade gracefully to the shuffled equi-join.
    bcast = _maybe_broadcast(n_nodes)
    # + 1: completion is certified only by OBSERVING an empty frontier,
    # which takes one round beyond the last settling round — without it,
    # a graph whose eccentricity equals the bound exactly would raise
    # spuriously after computing every distance correctly.
    for _ in range(BFS_MAX_ROUNDS + 1):
        nxt = (
            bcast(frontier).join(edges, frontier["part_id"] == edges["src"])
            .select(F.col("dst").alias("part_id"), (F.col("dist") + 1).alias("dist"))
            .groupBy("part_id")
            .agg(F.min("dist").alias("dist"))
            .join(bcast(settled.select("part_id")), "part_id", "left_anti")
            .localCheckpoint()
        )
        if nxt.isEmpty():
            break
        # settled is a UNION OF CHECKPOINTED LEAVES (the root row and
        # each round's nxt are materialized above), so re-checkpointing
        # the union bought nothing but one extra copy job per round —
        # r21 A/B: 5.7 → 4.9s without it, identical distance table. The
        # plan stays shallow: after k rounds it is a k-leaf union of
        # ExistingRDDs, and the per-round broadcast build just reads the
        # materialized leaves. (An earlier stride experiment — 10.2/9.4s
        # strided vs 10.2/8.3s per-round — compared checkpoint CADENCE,
        # not dropping the redundant union checkpoint outright.)
        settled = settled.unionByName(nxt)
        frontier = nxt
    else:
        raise RuntimeError(
            f"BFS did not terminate within {BFS_MAX_ROUNDS} rounds — "
            "graph diameter exceeds the bound; raise BFS_MAX_ROUNDS"
        )
    return (
        # settled is node-cardinality: the same broadcast guard as the
        # loop joins keeps the closing left join from planning sort-merge
        # (r21 — this was the final plan's one SortMergeJoin). Checkpoints
        # do report a size (the nodes frame: 95,858 bytes at sf0.01), but
        # unhinted this join plans as sort-merge and AQE turns it into a
        # broadcast only after both shuffle map stages ran; without any of
        # the hints a call ran 34 Spark jobs instead of 28 (sf0.01,
        # identical rows).
        nodes.join(bcast(settled), "part_id", "left")
        .select(
            "part_id",
            F.coalesce(F.col("dist"), F.lit(-1)).cast("long").alias("dist"),
        )
        .orderBy("part_id")
    )


BFS_DISTANCES_ORACLE = """
WITH RECURSIVE und AS (
  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), edges AS (
  SELECT a AS src, b AS dst FROM und UNION ALL SELECT b, a FROM und
), nodes AS (
  SELECT DISTINCT src AS part_id FROM edges
), walk(part_id, dist) AS (
  SELECT (SELECT min(part_id) FROM nodes), 0
  UNION
  SELECT e.dst, w.dist + 1
  FROM walk w JOIN edges e ON e.src = w.part_id
  WHERE w.dist < 64
), best AS (
  SELECT part_id, min(dist) AS dist FROM walk GROUP BY part_id
)
SELECT n.part_id, CAST(coalesce(b.dist, -1) AS BIGINT) AS dist
FROM nodes n LEFT JOIN best b USING (part_id)
ORDER BY n.part_id
"""


# --------------------------------------------------------------------------
# k-core decomposition (iterative peeling)
# --------------------------------------------------------------------------

# Peeling's worst case is O(|V|) rounds (a path graph under k=2 sheds
# only its two endpoints per round), not the diameter-style bound BFS
# enjoys — 64 would raise on valid sparse chains. 4096 keeps the
# liveness guard (a genuinely stuck loop still fails loudly) while
# covering any graph whose peeling is feasible on this engine at all.
KCORE_MAX_ROUNDS = 4096


def kcore_members(lineitem: DataFrame, k: int = 3) -> DataFrame:
    """The k-core of the co-purchase graph: the maximal subgraph where
    every node keeps degree ≥ k — the classic dense-community filter
    (spam/botnet rings, trending clusters) and the third iterative
    shape in the graph family after PageRank's fixed-round power
    iteration and BFS's frontier relaxation.

    Peeling loop over the undirected edge list (one row per edge, half
    the rows of the mirrored list): each round aggregates the surviving
    edges into per-node degrees once (node_degrees counts an edge at
    both endpoints; localCheckpoint keeps lineage flat) and one
    scalar aggregate counts the nodes below k and at or above it. A
    round with no node below k stops the loop, and that round's degrees
    are the result: every surviving node then has degree ≥ k within
    the surviving edges, which is the core. Otherwise the edges are
    restricted to the kept nodes (semi-joins of src and of dst on the
    node frame, broadcast under the same 1M-node guard as PageRank/BFS,
    shuffled equi-join past it) and the next round runs. Rounds are
    capped loudly (peeling terminates in ≤ |V| rounds, in practice a
    handful). An empty graph, or a k that peels every node, returns no
    rows.

    Output: (part_id, core_degree) for k-core members — degree within
    the core, the number a community-detection consumer ranks by.
    Rows-only by design (iterative peeling has no ANSI-SQL oracle —
    recursive CTEs cannot re-aggregate per round); exactness is pinned
    in differential.py against an independent Python peeling of the
    same edge list.
    """
    # Lazy: the first degree round reads the edge build directly, and the
    # first semi-join round (a graph that peels) checkpoints the kept
    # edges. The registry's k = 3 never peels at sf0.001-sf0.1, so a
    # checkpoint here would be written and read once.
    edges = undirected_copurchase_edges(lineitem)
    for _ in range(KCORE_MAX_ROUNDS):
        degrees = (
            node_degrees(edges)
            .select("part_id", F.col("degree").alias("core_degree"))
            .localCheckpoint()
        )
        low = F.col("core_degree") < k
        n_low, n_keep = degrees.agg(
            F.count(F.when(low, 1)), F.count(F.when(~low, 1))
        ).first()
        if n_low == 0:
            return degrees.orderBy("part_id")
        keep = degrees.where(~low)
        bcast = _maybe_broadcast(n_keep)
        # the two keep broadcasts dedup at runtime (AQE stage
        # canonicalization strips the rename) — probed in r22, shared-
        # frame rewrite measured flat and was reverted; see triangle.
        edges = (
            edges.join(
                bcast(keep.select(F.col("part_id").alias("src"))), "src", "left_semi"
            )
            .join(
                bcast(keep.select(F.col("part_id").alias("dst"))), "dst", "left_semi"
            )
            .localCheckpoint()
        )
    raise RuntimeError(
        f"k-core peeling did not stabilize within {KCORE_MAX_ROUNDS} rounds"
    )
