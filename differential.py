"""The result contract, the rows-only references, and the full-registry
differential that runs both at a chosen scale factor.

``compare_rows`` is the one result contract: the Spark rows must equal
the expected rows exactly, as a multiset of rows over name-sorted
columns, and hold no NULL. "Exactly" is the sf0.01 entry-point gate's
rule (sorted row reprs): every row's ``repr`` must match, so 1 and 1.0, or two floats an ulp
apart, differ. tests/conftest.py loads this module; the pytest oracle
differential and the rows-only determinism check both call it.

``REFERENCE_CHECKS`` holds one independent reference per rows-only query
(no oracle by design: sketches, quantizers, media, graph floats):
numpy/Python re-derivations, exact DuckDB answers with documented error
envelopes, or exact-equality spec re-derivations. Each takes the
collected rows (read by field name, in collected order) and the parquet
dir. pytest runs every check at sf0.001 on the rows it already collects
(tests/test_relational.py); ``main`` runs them at sf0.1.

Usage:
    python differential.py [OUT.json]
      SPARK_GRAFT_SF_DIR   parquet dir (default /root/testdata/sf0.1)
      SPARK_GRAFT_DIFF_THREADS  collect parallelism (default 8)

``main`` compares every oracled query with its DuckDB oracle, and runs
every rows-only query twice: the two runs must match under the same
contract, and the first run must pass its reference check. sf0.1 is the
32-partition scale where float partial-sum order actually varies. The
per-query records go to OUT.json with the git commit.

Exit code = number of failing queries (any kind).
"""

from __future__ import annotations

import functools
import json
import os
import subprocess
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timezone

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def compare_rows(cols_a, rows_a, cols_b, rows_b) -> str | None:
    """The first reason Spark's ``rows_a`` (tuples in ``cols_a`` order)
    break the result contract against ``rows_b`` (in ``cols_b`` order),
    or None: a NULL anywhere in ``rows_a`` (a consumer may sort rows as
    plain tuples, and None vs str/datetime raises there; coalesce to
    sentinels in both engines), a different column set, a different row
    count, or any row whose ``repr`` differs once both sides are sorted
    by name and row."""
    names = sorted(cols_a)

    def canon(cols, rows):
        idx = [list(cols).index(c) for c in names]
        return [tuple(r[i] for i in idx) for r in rows]

    a = canon(cols_a, rows_a)
    for r in a:
        if None in r:
            return f"NULL in {names[r.index(None)]} (coalesce to sentinels): {r}"
    if names != sorted(cols_b):
        return f"columns differ: {names} vs {sorted(cols_b)}"
    b = canon(cols_b, rows_b)
    if len(a) != len(b):
        return f"row counts differ: {len(a)} vs {len(b)}"
    for x, y in zip(sorted(map(repr, a)), sorted(map(repr, b))):
        if x != y:
            return f"rows differ: {x} vs {y}"
    return None


# ---------------------------------------------------------------------------
# Independent references for the iterative rows-only heavies: numpy/Python
# re-derivations from the parquet dir, each with its tolerance's rationale.
# ---------------------------------------------------------------------------

_UND_EDGES_SQL = """
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM '{sf_dir}/lineitem.parquet'
), und AS (
  SELECT a.l_partkey AS a, b.l_partkey AS b
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
)
"""


def _ref_pagerank(rows: list, sf_dir: str) -> dict:
    import duckdb
    import numpy as np

    from tp1_distribuidos_mapreduce_spark.operators import graph as GR

    con = duckdb.connect()
    arr = con.execute(
        _UND_EDGES_SQL.format(sf_dir=sf_dir)
        + "SELECT a AS src, b AS dst FROM und UNION ALL SELECT b, a FROM und"
    ).fetchnumpy()
    con.close()
    src, dst = arr["src"], arr["dst"]
    nodes, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    si, di = inv[: len(src)], inv[len(src):]
    n = len(nodes)
    out_deg = np.bincount(si, minlength=n)
    rank = np.full(n, 1.0 / n)
    d = GR.PAGERANK_DAMPING
    for _ in range(GR.PAGERANK_ITERS):
        mass = np.bincount(di, weights=rank[si] / out_deg[si], minlength=n)
        rank = (1.0 - d) / n + d * mass
    ids_ok = [r["part_id"] for r in rows] == nodes.tolist()
    deg_ok = bool(
        (np.array([r["out_deg"] for r in rows]) == out_deg).all()
    ) if ids_ok else False
    # Spark's partial-sum order perturbs ranks at the last ulp; the 6dp
    # output rounding dominates any engine difference
    max_dev = (
        float(np.abs(np.array([r["rank"] for r in rows]) - np.round(rank, 6)).max())
        if ids_ok
        else float("inf")
    )
    return {
        "reference": "numpy power iteration",
        "n_nodes": int(n),
        "max_rank_dev": max_dev,
        "reference_match": bool(ids_ok and deg_ok and max_dev <= 1.01e-6),
    }


def _ref_kcore(rows: list, sf_dir: str, k: int = 3) -> dict:
    """Python peeling of the same edge list: every round drops all nodes
    of degree < k at once, until none is left below k."""
    import duckdb

    con = duckdb.connect()
    und = con.execute(
        _UND_EDGES_SQL.format(sf_dir=sf_dir) + "SELECT a, b FROM und"
    ).fetchall()
    con.close()
    adj: dict[int, set[int]] = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    rounds = 0
    while peel := [x for x, ns in adj.items() if len(ns) < k]:
        rounds += 1
        for node in peel:
            for m in adj.pop(node):
                adj[m].discard(node)
    want = {(x, len(ns)) for x, ns in adj.items()}
    got = {(r["part_id"], r["core_degree"]) for r in rows}
    return {
        "reference": f"Python peeling, k = {k}",
        "n_core_members": len(want),
        "peel_rounds": rounds,
        "reference_match": bool(got == want and want),
    }


def _ref_kmeans(rows: list, sf_dir: str) -> dict:
    import duckdb
    import numpy as np

    from tp1_distribuidos_mapreduce_spark.operators import vectors as VC

    con = duckdb.connect()
    t = con.execute(
        f"SELECT embedding FROM '{sf_dir}/embeddings.parquet' ORDER BY vec_id"
    ).fetchall()
    con.close()
    M = np.array([r[0] for r in t], dtype=np.float64)
    k, n_iter = VC.KMEANS_K, VC.KMEANS_ITERS
    cents = M[:k].copy()  # init = k lowest vec_ids, the query's contract
    for _ in range(n_iter):
        d = ((M[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for i in range(k):
            members = M[assign == i]
            if len(members):
                cents[i] = members.mean(axis=0)
    d = ((M[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    assign = d.argmin(axis=1)
    ref_sizes = {
        int(c): int((assign == c).sum())
        for c in range(k)
        if int((assign == c).sum()) > 0
    }
    got_sizes = {r["cluster_id"]: r["n_vecs"] for r in rows}
    # float partial-aggregation order can flip boundary points between
    # engines: >= 98% per-cluster size agreement, identical keys, exact
    # corpus coverage
    coverage_ok = sum(got_sizes.values()) == len(M)
    keys_ok = set(got_sizes) == set(ref_sizes)
    sizes_ok = keys_ok and all(
        abs(got_sizes[c] - n_ref) <= max(2, int(0.02 * n_ref))
        for c, n_ref in ref_sizes.items()
    )
    return {
        "reference": "numpy Lloyd's",
        "n_vecs": len(M),
        "reference_match": bool(coverage_ok and keys_ok and sizes_ok),
    }


def _ref_pca(rows: list, sf_dir: str) -> dict:
    import duckdb
    import numpy as np

    con = duckdb.connect()
    t = con.execute(
        f"SELECT vec_id, embedding FROM '{sf_dir}/embeddings.parquet'"
        " ORDER BY vec_id"
    ).fetchall()
    con.close()
    ids = np.array([r[0] for r in t])
    M = np.array([r[1] for r in t], dtype=np.float64)
    mu = M.mean(axis=0)
    C = (M.T @ M) / len(M) - np.outer(mu, mu)
    vals, vecs = np.linalg.eigh(C)
    comp = vecs[:, np.argsort(vals)[::-1][:2]].T
    for w in comp:  # deterministic sign: largest-|coord| positive
        if w[np.argmax(np.abs(w))] < 0:
            w *= -1.0
    expected = (M - mu) @ comp.T
    ids_ok = [r["vec_id"] for r in rows] == ids.tolist()
    got = np.array([[r["pc1"], r["pc2"]] for r in rows])
    # Gram partial-sum order perturbs the last ulp; 4dp output rounding
    # dominates
    max_dev = (
        float(np.abs(got - np.round(expected, 4)).max())
        if ids_ok
        else float("inf")
    )
    return {
        "reference": "numpy eigh PCA",
        "n_vecs": len(ids),
        "max_coord_dev": max_dev,
        "reference_match": bool(ids_ok and max_dev <= 1.01e-4),
    }


# --- sketch-family envelope checks: the approximate members' documented
# error contracts, asserted against EXACT DuckDB answers (at sf0.1 the
# sketches are saturated). ---------------------------------------------------

def _dd_exact(sf_dir: str, by_type: bool) -> dict:
    import duckdb

    from tp1_distribuidos_mapreduce_spark.plans.approx import (
        DD_PERCENTS,
        exact_ceil_rank_sql,
    )

    con = duckdb.connect()
    sql = exact_ceil_rank_sql(f"'{sf_dir}/events.parquet'", DD_PERCENTS, by_type)
    out = {}
    for *key, n, value in con.execute(sql).fetchall():
        out[tuple(key) if by_type else key[0]] = (n, value)
    con.close()
    return out


def _dd_envelope(pairs) -> tuple[bool, float]:
    """pairs: iterable of (approx_value, n_got, exact_value, n_exact).
    The DDSketch contract: |approx − exact| ≤ 1.05·alpha·exact (headroom
    for the float-log bucket-boundary ulp), n exact."""
    from tp1_distribuidos_mapreduce_spark.plans.approx import DD_ALPHA

    worst = 0.0
    ok = True
    for approx, n_got, exact, n_exact in pairs:
        rel = abs(approx - exact) / exact
        worst = max(worst, rel)
        ok = ok and n_got == n_exact and rel <= 1.05 * DD_ALPHA
    return ok, worst


def _ref_dd_global(rows: list, sf_dir: str) -> dict:
    exact = _dd_exact(sf_dir, by_type=False)
    ok, worst = _dd_envelope(
        (r["approx_value"], r["n_rows"], *reversed(exact[r["percent"]]))
        for r in rows
    ) if {r["percent"] for r in rows} == set(exact) else (False, float("inf"))
    return {
        "reference": "exact ceil-rank element (DuckDB), alpha envelope",
        "worst_rel_err": worst,
        "reference_match": bool(ok),
    }


def _ref_dd_by_type(rows: list, sf_dir: str) -> dict:
    exact = _dd_exact(sf_dir, by_type=True)
    keys = {(r["event_type"], r["percent"]) for r in rows}
    ok, worst = _dd_envelope(
        (
            r["approx_value"],
            r["n_rows"],
            *reversed(exact[(r["event_type"], r["percent"])]),
        )
        for r in rows
    ) if keys == set(exact) else (False, float("inf"))
    return {
        "reference": "exact per-type ceil-rank element (DuckDB), alpha envelope",
        "worst_rel_err": worst,
        "reference_match": bool(ok),
    }


def _ref_dd_merge(rows: list, sf_dir: str) -> dict:
    exact = _dd_exact(sf_dir, by_type=False)
    flags_ok = all(r["merge_matches_onebuild"] for r in rows)
    ok, worst = _dd_envelope(
        (r["approx_value"], r["n_rows"], *reversed(exact[r["percent"]]))
        for r in rows
    ) if {r["percent"] for r in rows} == set(exact) else (False, float("inf"))
    return {
        "reference": "merge flags + exact-element alpha envelope (DuckDB)",
        "worst_rel_err": worst,
        "reference_match": bool(flags_ok and ok),
    }


def _ref_hll_rolling(rows: list, sf_dir: str) -> dict:
    """Anchor: the registered exact twin's own oracle SQL (the pytest
    envelope: m=256 → every window ≤ 4σ = 26%, mean ≤ 1.5σ = 10%)."""
    import duckdb

    from tp1_distribuidos_mapreduce_spark import registry

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    exact = {
        str(d): n
        for d, n in con.sql(
            registry.oracle_sql()["rolling_28d_users_exact"]
        ).fetchall()
    }
    con.close()
    got = {str(r["window_end"]): r["approx_users"] for r in rows}
    if got.keys() != exact.keys():
        return {"reference": "exact twin oracle", "reference_match": False}
    rels = [abs(got[k] - exact[k]) / exact[k] for k in exact]
    return {
        "reference": "rolling_28d_users_exact oracle (DuckDB), 4-sigma envelope",
        "max_rel_err": max(rels),
        "mean_rel_err": sum(rels) / len(rels),
        "reference_match": bool(max(rels) <= 0.26 and sum(rels) / len(rels) <= 0.10),
    }


def _ref_kmv_overlap(rows: list, sf_dir: str) -> dict:
    """Exact pairwise audience intersections; bound 4σ·union with
    σ = √3/√(K−1) (the saturated-envelope pytest pin)."""
    import duckdb

    from tp1_distribuidos_mapreduce_spark.plans.approx import KMV_K

    con = duckdb.connect()
    exact = {
        (a, b): (c, u)
        for a, b, c, u in con.execute(f"""
WITH tu AS (
  SELECT DISTINCT event_type, user_id FROM '{sf_dir}/events.parquet'
), tc AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM tu GROUP BY 1
), pairs AS (
  SELECT a.event_type AS ta, b.event_type AS tb,
         CAST(count(*) AS BIGINT) AS common
  FROM tu a JOIN tu b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT na.event_type, nb.event_type,
       coalesce(p.common, 0),
       na.n + nb.n - coalesce(p.common, 0) AS un
FROM tc na JOIN tc nb ON na.event_type < nb.event_type
LEFT JOIN pairs p ON p.ta = na.event_type AND p.tb = nb.event_type
""").fetchall()
    }
    con.close()
    got = {(r["type_a"], r["type_b"]): r["approx_common"] for r in rows}
    if got.keys() != exact.keys():
        return {"reference": "exact pair overlap", "reference_match": False}
    sigma = (3 ** 0.5) / ((KMV_K - 1) ** 0.5)
    devs = [
        abs(got[k] - c) / (4 * sigma * u) if u else float(got[k] != c)
        for k, (c, u) in exact.items()
    ]
    return {
        "reference": "exact pair overlap (DuckDB), 4-sigma-of-union envelope",
        "worst_sigma_frac": max(devs),
        "reference_match": bool(max(devs) <= 1.0),
    }


def _ref_hll_counts(rows: list, sf_dir: str) -> dict:
    """approx_count_distinct(rsd=0.02) per type within the pytest bound
    max(5%, 2); the companion n_events is EXACT and pinned equal."""
    import duckdb

    con = duckdb.connect()
    exact = {
        t: (n, d)
        for t, n, d in con.execute(
            f"SELECT event_type, CAST(count(*) AS BIGINT),"
            f" CAST(count(DISTINCT user_id) AS BIGINT)"
            f" FROM '{sf_dir}/events.parquet' GROUP BY 1"
        ).fetchall()
    }
    con.close()
    got = {r["event_type"]: (r["n_events"], r["approx_users"]) for r in rows}
    if got.keys() != exact.keys():
        return {"reference": "exact distinct", "reference_match": False}
    ok = all(
        got[t][0] == n and abs(got[t][1] - d) <= max(0.05 * d, 2)
        for t, (n, d) in exact.items()
    )
    worst = max(abs(got[t][1] - d) / d for t, (_, d) in exact.items())
    return {
        "reference": "exact COUNT(DISTINCT) (DuckDB), 5% envelope",
        "worst_rel_err": worst,
        "reference_match": bool(ok),
    }


@functools.lru_cache(maxsize=2)
def _exact_types_and_distinct_users(sf_dir: str) -> tuple[int, int]:
    """Shared by the HLL/KMV/Bloom merge-proof references — cached per
    sf_dir so the sweep scans events.parquet once, not three times
    (the _emb_ground_truth convention)."""
    import duckdb

    con = duckdb.connect()
    n_types, n_users = con.execute(
        f"SELECT count(DISTINCT event_type), count(DISTINCT user_id)"
        f" FROM '{sf_dir}/events.parquet'"
    ).fetchone()
    con.close()
    return n_types, n_users


def _ref_merge_proof_factory(sigma: float, kind: str):
    """Shared reference for the HLL/KMV merge proofs: ONE row, the
    bit-identity flag true, n_sketches_merged == the exact type count,
    and the merged estimate within 4σ of the exact global
    COUNT(DISTINCT user_id) (HLL m=256 → σ≈6.5%; KMV K=256 → σ≈6.3%)."""

    def check(rows: list, sf_dir: str) -> dict:
        n_types, n_users = _exact_types_and_distinct_users(sf_dir)
        ok = (
            len(rows) == 1
            and rows[0]["merge_matches_onebuild"]
            and rows[0]["n_sketches_merged"] == n_types
            and abs(rows[0]["approx_users"] - n_users) <= 4 * sigma * n_users
        )
        return {
            "reference": f"merge flag + exact COUNT(DISTINCT) (DuckDB), "
            f"4-sigma envelope ({kind})",
            "rel_err": abs(rows[0]["approx_users"] - n_users) / n_users
            if rows
            else float("inf"),
            "reference_match": bool(ok),
        }

    return check


def _ref_cms_merge(rows: list, sf_dir: str) -> dict:
    """Merge flag + the EXACT identity: each token occurrence lands in
    exactly one cell per depth row, so total_count == CMS_DEPTH × the
    exact corpus token count (DuckDB, the wc oracle's own tokenizer);
    n_cells is bounded by the grid."""
    import duckdb

    from tp1_distribuidos_mapreduce_spark.plans.approx import (
        CMS_DEPTH,
        CMS_WIDTH,
    )

    con = duckdb.connect()
    n_tokens = con.execute(
        rf"""SELECT count(*) FROM (
          SELECT unnest(regexp_split_to_array(lower(text), '[^\p{{L}}]+')) AS w
          FROM '{sf_dir}/documents.parquet') WHERE w <> ''"""
    ).fetchone()[0]
    con.close()
    ok = (
        len(rows) == 1
        and rows[0]["merge_matches_onebuild"]
        and rows[0]["total_count"] == CMS_DEPTH * n_tokens
        and rows[0]["n_cells"] <= CMS_DEPTH * CMS_WIDTH
    )
    return {
        "reference": "merge flag + exact token-count identity "
        "(total_count == depth × DuckDB corpus tokens)",
        "n_tokens_exact": n_tokens,
        "reference_match": bool(ok),
    }


def _ref_stream_cms_hh(rows: list, sf_dir: str) -> dict:
    """The streaming fold's heavy hitters are EXACT by contract (the
    persisted grid only prunes candidates; CMS only overestimates, and
    the exact verify recounts), so the independent reference is the
    full exact answer: DuckDB word counts with HAVING cnt >= 100 over
    the same corpus — the batch cms_heavy_hitters oracle, recomputed
    here against the STREAM-folded state's output."""
    import duckdb

    con = duckdb.connect()
    want = dict(
        con.execute(
            rf"""SELECT w, CAST(count(*) AS BIGINT) FROM (
              SELECT unnest(regexp_split_to_array(lower(text), '[^\p{{L}}]+')) AS w
              FROM '{sf_dir}/documents.parquet') WHERE w <> ''
            GROUP BY w HAVING count(*) >= 100"""
        ).fetchall()
    )
    con.close()
    got = {r["word"]: r["cnt"] for r in rows}
    return {
        "reference": "exact DuckDB heavy-hitter counts (HAVING >= 100)",
        "n_heavy_exact": len(want),
        "reference_match": bool(got == want and want),
    }


def _ref_stream_bloom_pruned(rows: list, sf_dir: str) -> dict:
    """The streaming Bloom fold's pruned join is EXACT by contract (the
    persisted filter only prunes; false positives die in the exact
    semi-join), so the independent reference is the full exact answer:
    the batch bloom_pruned_join's own DuckDB oracle, recomputed here
    against the STREAM-folded state's output."""
    import duckdb

    from tp1_distribuidos_mapreduce_spark.plans.bloom import (
        BLOOM_PRUNED_JOIN_ORACLE,
    )

    con = duckdb.connect()
    for t in ("orders", "lineitem"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    want = sorted(map(tuple, con.execute(BLOOM_PRUNED_JOIN_ORACLE).fetchall()))
    con.close()
    got = sorted(
        (r["l_returnflag"], r["l_linestatus"], r["n_items"], r["revenue"])
        for r in rows
    )
    # Group keys and counts compare exactly; revenue within 0.011
    # (ADVICE r16: each engine independently computes
    # round(sum(price*(1-disc)), 2), and differing partial-sum orders
    # can land the pre-round double on opposite sides of a .005
    # boundary — a 1-cent flip both engines are entitled to. Everything
    # above a cent is still a real mismatch.)
    ok = len(got) == len(want) and all(
        g[:3] == w[:3] and abs(g[3] - w[3]) <= 0.011
        for g, w in zip(got, want)
    )
    return {
        "reference": "exact DuckDB semi-join revenue "
        "(the batch bloom_pruned_join oracle; revenue to the cent)",
        "n_groups_exact": len(want),
        "reference_match": bool(ok and want),
    }


def _ref_bloom_merge(rows: list, sf_dir: str) -> dict:
    """Merge flag + occupancy envelope: for n exact distinct keys
    (DuckDB) and K = N_HASHES·n uniform bit draws into M_BITS, the
    expected popcount is m·(1−(1−1/m)^K); xxhash64's quasi-uniform
    allocation concentrates within a fraction of a percent of it, so a
    1%-of-m band catches any systematic build error (dropped keys,
    wrong seed fan-out) while never flaking. Also pins popcount ≤ K
    (each key sets at most N_HASHES bits) and n_words ≤ M_BITS/64."""
    from tp1_distribuidos_mapreduce_spark.plans.bloom import M_BITS, N_HASHES

    n_keys = _exact_types_and_distinct_users(sf_dir)[1]
    expected = M_BITS * (1.0 - (1.0 - 1.0 / M_BITS) ** (N_HASHES * n_keys))
    # pyspark Row has no .get — go through a plain dict
    got = rows[0].asDict() if rows else {}
    ok = (
        len(rows) == 1
        and got["merge_matches_onebuild"]
        and got["n_set_bits"] <= N_HASHES * n_keys
        and abs(got["n_set_bits"] - expected) <= 0.01 * M_BITS
        and got["n_words"] <= M_BITS // 64
    )
    return {
        "reference": "merge flag + expected-occupancy envelope vs exact "
        "COUNT(DISTINCT) (DuckDB), 1%-of-m band",
        "expected_set_bits": round(expected, 1),
        "got_set_bits": got.get("n_set_bits"),
        "reference_match": bool(ok),
    }


def _ref_gk_quantiles(rows: list, sf_dir: str) -> dict:
    """percentile_approx(accuracy=10000) is a rank sketch: the returned
    value must be an element whose rank is within ±(n/accuracy + 1) of
    the target rank. Checked against the fully sorted per-priority
    price arrays (orders is small enough to sort exactly at sf0.1);
    0.01 slack absorbs the query's 2dp output rounding."""
    import duckdb
    import numpy as np

    con = duckdb.connect()
    t = con.execute(
        f"SELECT o_orderpriority, o_totalprice FROM"
        f" '{sf_dir}/orders.parquet'"
    ).fetchnumpy()
    con.close()
    pris, prices = t["o_orderpriority"], t["o_totalprice"]
    ok = True
    worst = 0.0
    for r in rows:
        mask = pris == r["o_orderpriority"]
        vals = np.sort(prices[mask])
        n = len(vals)
        if n != r["n"]:
            ok = False
            continue
        slack = int(n / 10000) + 1
        for p, col in ((0.5, "ap50"), (0.9, "ap90"), (0.99, "ap99")):
            target = max(0, min(n - 1, int(np.ceil(p * n)) - 1))
            lo = vals[max(0, target - slack)] - 0.01
            hi = vals[min(n - 1, target + slack)] + 0.01
            if not (lo <= r[col] <= hi):
                ok = False
                worst = max(worst, float(min(abs(r[col] - lo), abs(r[col] - hi))))
    return {
        "reference": "sorted exact ranks (numpy), GK rank-slack envelope",
        "worst_out_of_band": worst,
        "reference_match": bool(ok),
    }


# --- ANN family: numpy exact-cosine ground truth at sf0.1. The knn
# variants are recall-bounded (deterministic seed-42 structures, so the
# measured sf0.1 recalls — lsh 0.66, ivf 0.50, ivf_pq 0.38 — are stable;
# floors pinned ~15% below, the pytest discipline). The IVF near-dup
# candidate set carries a STRICT guarantee instead: every emitted pair is
# exact-cosine-verified, so false positives must be zero at any scale. ---


@functools.lru_cache(maxsize=2)
def _emb_ground_truth(sf_dir: str):
    import duckdb
    import numpy as np

    con = duckdb.connect()
    t = con.execute(
        f"SELECT vec_id, embedding FROM '{sf_dir}/embeddings.parquet'"
        " ORDER BY vec_id"
    ).fetchall()
    con.close()
    ids = np.array([r[0] for r in t])
    M = np.array([r[1] for r in t], dtype=np.float64)
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    # exact top-5 per query (vec_id < 10), ties by lowest neighbor id —
    # verified to reproduce the oracled knn_bruteforce EXACTLY at sf0.1
    S = Mn[:10] @ Mn.T
    top5 = set()
    for qi in range(10):
        s = S[qi].copy()
        s[qi] = -2.0
        for j in np.lexsort((ids, -s))[:5]:
            top5.add((qi, int(ids[j])))
    # exact near-dup pairs at the default 0.4 threshold, with ±1e-9
    # cushions so a boundary pair an ulp apart between the numpy and
    # Spark cosine chains can't flip the verdict
    sims = Mn @ Mn.T
    iu = np.triu_indices(len(M), k=1)
    loose = sims[iu] >= 0.4 - 1e-9
    strict = sims[iu] >= 0.4 + 1e-9
    pairs_loose = {
        (int(ids[a]), int(ids[b])) for a, b in zip(iu[0][loose], iu[1][loose])
    }
    pairs_strict = {
        (int(ids[a]), int(ids[b])) for a, b in zip(iu[0][strict], iu[1][strict])
    }
    return top5, pairs_loose, pairs_strict


def _ref_knn_factory(floor: float):
    def check(rows: list, sf_dir: str) -> dict:
        top5, _, _ = _emb_ground_truth(sf_dir)
        approx = {(r["query_id"], r["neighbor_id"]) for r in rows}
        recall = len(approx & top5) / len(top5)
        return {
            "reference": "numpy exact cosine top-5, recall floor "
            f"{floor} (measured sf0.1 value pinned ~15% above it)",
            "recall": round(recall, 3),
            "reference_match": bool(len(rows) == len(top5) and recall >= floor),
        }

    return check


def _ref_dedup_ivf(rows: list, sf_dir: str) -> dict:
    _, pairs_loose, pairs_strict = _emb_ground_truth(sf_dir)
    approx = {(r["id_a"], r["id_b"]) for r in rows}
    fp = len(approx - pairs_loose)
    recall = len(approx & pairs_strict) / max(len(pairs_strict), 1)
    return {
        "reference": "numpy exact all-pairs cosine >= 0.4: zero false "
        "positives (exact-verify contract) + recall floor 0.08 "
        "(measured 0.104 at sf0.1's default n_probe)",
        "false_positives": fp,
        "recall": round(recall, 3),
        "reference_match": bool(fp == 0 and recall >= 0.08),
    }


# --- text-kernel references: sequential Python formulations with
# EXACT-equality verdicts — these kernels are deterministic specs, so the
# bound is ==, not an envelope. -----------------------------------------------


def _bpe_reference(sf_dir: str):
    """Sequential Sennrich-style BPE over DuckDB-derived word
    frequencies (same tokenizer regex as the query): argmax pair with
    lexicographic tie-break, left-to-right non-overlapping merge."""
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        rf"""
        SELECT w, count(*) FROM (
          SELECT unnest(list_filter(
                   regexp_split_to_array(lower(text), '[^\p{{L}}]+'),
                   x -> x <> '')) AS w
          FROM '{sf_dir}/documents.parquet'
        ) GROUP BY w
        """
    ).fetchall()
    con.close()
    freqs = dict(rows)
    syms = {
        w: [c if i < len(w) - 1 else c + "</w>" for i, c in enumerate(w)]
        for w in freqs
    }
    from tp1_distribuidos_mapreduce_spark.operators import lm as LM

    rules = []
    for rank in range(1, LM.BPE_N_MERGES + 1):
        counts: dict = {}
        for w, f in freqs.items():
            s = syms[w]
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] = counts.get((s[i], s[i + 1]), 0) + f
        if not counts:
            break
        (left, right), n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        rules.append((rank, left, right, n))
        for w in syms:
            out: list = []
            for tok in syms[w]:
                if out and out[-1] == left and tok == right:
                    out[-1] = left + right
                else:
                    out.append(tok)
            syms[w] = out
    return rules


def _ref_bpe_merges(rows: list, sf_dir: str) -> dict:
    got = [
        (r["merge_rank"], r["left"], r["right"], r["pair_count"]) for r in rows
    ]
    expect = _bpe_reference(sf_dir)
    return {
        "reference": "sequential Python BPE, exact equality",
        "n_rules": len(expect),
        "reference_match": bool(got == expect),
    }


def _ref_doc_fingerprint(rows: list, sf_dir: str) -> dict:
    """Winnowing re-derived independently: normalization via
    unicodedata categories (no Java regex), Horner k-gram hash +
    murmur finisher per the spec constants, per-position window
    minima, uint64→int64 sign handling — exact equality per doc."""
    import unicodedata

    import duckdb
    import numpy as np

    k, window = 5, 4
    con = duckdb.connect()
    docs = con.execute(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'"
        " ORDER BY doc_id"
    ).fetchall()
    con.close()

    def norm(text: str) -> str:
        out = []
        prev_sep = False
        for ch in text:
            if unicodedata.category(ch).startswith("L"):
                out.append(ch.lower())
                prev_sep = False
            elif not prev_sep:
                out.append(" ")
                prev_sep = True
        return "".join(out)

    def winnow(s: str):
        b = np.frombuffer(s.encode("utf-8"), dtype=np.uint8).astype(np.uint64)
        if len(b) < k:
            b = np.pad(b, (0, k - len(b)), constant_values=32)
        h = np.zeros(len(b) - k + 1, dtype=np.uint64)
        for j in range(k):
            h = h * np.uint64(1099511628211) + b[j: len(b) - k + 1 + j]
        h ^= h >> np.uint64(33)
        h *= np.uint64(0xFF51AFD7ED558CCD)
        h ^= h >> np.uint64(33)
        if len(h) <= window:
            mins = [int(h.min())]
        else:
            mins = [
                int(h[i: i + window].min()) for i in range(len(h) - window + 1)
            ]
        u = sorted({m - (1 << 64) if m >= (1 << 63) else m for m in mins})
        return u

    # the registered query projects (doc_id, n_fingerprints,
    # min_fingerprint) — compare those against the full recomputed set
    ok = len(rows) == len(docs)
    n_checked = 0
    if ok:
        for r, (doc_id, text) in zip(rows, docs):
            fps = winnow(norm(text))
            if not (
                r["doc_id"] == doc_id
                and r["n_fingerprints"] == len(fps)
                and r["min_fingerprint"] == fps[0]
            ):
                ok = False
                break
            n_checked += 1
    return {
        "reference": "independent Python winnowing (unicodedata "
        "normalization), exact per-doc count + min equality",
        "n_docs_checked": n_checked,
        "reference_match": bool(ok),
    }


def _ref_bpe_encode(rows: list, sf_dir: str) -> dict:
    """Full train+encode re-derivation: train the sequential BPE, encode
    every (source, word), and reproduce every per-source row exactly —
    words, tokens, and the integer-half-up chars_per_token ratio. The
    tokenizer must also compress: fewer tokens than characters in every
    source."""
    import duckdb

    rules = [(l, r) for _, l, r, _ in _bpe_reference(sf_dir)]

    def encode_len(word: str) -> int:
        syms = [
            c if i < len(word) - 1 else c + "</w>" for i, c in enumerate(word)
        ]
        for left, right in rules:
            out: list = []
            for tok in syms:
                if out and out[-1] == left and tok == right:
                    out[-1] = left + right
                else:
                    out.append(tok)
            syms = out
        return len(syms)

    con = duckdb.connect()
    by_source = con.execute(
        rf"""
        SELECT source, w, count(*) FROM (
          SELECT source, unnest(list_filter(
                   regexp_split_to_array(lower(text), '[^\p{{L}}]+'),
                   x -> x <> '')) AS w
          FROM '{sf_dir}/documents.parquet'
        ) GROUP BY source, w
        """
    ).fetchall()
    con.close()
    per_source: dict = {}
    for src, w, f in by_source:
        agg = per_source.setdefault(src, [0, 0, 0])
        agg[0] += f
        agg[1] += f * encode_len(w)
        agg[2] += f * len(w)
    expect = [
        (
            src,
            n_words,
            n_tokens,
            ((n_chars * 100 + n_tokens // 2) // n_tokens) / 100.0,
        )
        for src, (n_words, n_tokens, n_chars) in sorted(per_source.items())
    ]
    got = [
        (r["source"], r["n_words"], r["n_tokens"], r["chars_per_token"])
        for r in rows
    ]
    compresses = all(t < per_source[src][2] for src, _, t, _ in expect)
    return {
        "reference": "sequential Python BPE train+encode, exact equality",
        "n_sources": len(expect),
        "reference_match": bool(got == expect and compresses),
    }


def _ref_minhash_lsh(rows: list, sf_dir: str) -> dict:
    """Estimator-concentration check on every EMITTED candidate pair:
    the true n-gram Jaccard is recomputed with an independent
    tokenization (unicodedata categories, Python shingling) and each
    32-hash estimate must sit within the binomial envelope
    4·√(j(1−j)/32) + 1/32 of it. A systematic tokenize/shingle/
    signature mismatch fails immediately (a pair with true j = 0 has a
    zero-width envelope); the sf0.1 fixture has no ≥0.5-Jaccard pairs,
    so a recall check would be vacuous here — recall is pinned on
    constructed near-dups in tests/test_dedup_similarity.py.
    Measured at sf0.1: worst dev 0.094 (margin 0.202), mean 0.023."""
    import math
    import unicodedata

    import duckdb

    con = duckdb.connect()
    texts = dict(
        con.execute(
            f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'"
        ).fetchall()
    )
    con.close()

    def shingle_set(text: str) -> set:
        out, cur = [], []
        for ch in text:
            if unicodedata.category(ch).startswith("L"):
                cur.append(ch.lower())
            elif cur:
                out.append("".join(cur))
                cur = []
        if cur:
            out.append("".join(cur))
        if not out:
            return set()
        if len(out) < 3:
            return {" ".join(out)}
        return {" ".join(out[i: i + 3]) for i in range(len(out) - 2)}

    cache: dict = {}

    def sh(d):
        if d not in cache:
            cache[d] = shingle_set(texts[d])
        return cache[d]

    worst = 0.0
    ok = True
    devs = []
    for r in rows:
        a, b = sh(r["doc_a"]), sh(r["doc_b"])
        true_j = len(a & b) / len(a | b) if a | b else 0.0
        dev = abs(r["est_jaccard"] - true_j)
        devs.append(dev)
        margin = 4 * math.sqrt(true_j * (1 - true_j) / 32) + 1 / 32
        if dev > margin:
            ok = False
        worst = max(worst, dev)
    # Zero emitted pairs is NOT an envelope violation (the envelope is
    # vacuous, not violated): report it as its own field so a fixture
    # regeneration with no LSH collisions reads as "vacuous, estimator
    # unexercised here" rather than a false reference failure (ADVICE
    # r14). Non-emptiness on data that SHOULD collide is pinned on
    # constructed near-dups in tests/test_dedup_similarity.py.
    rec = {
        "reference": "independent-tokenization true Jaccard, 32-hash "
        "binomial envelope per emitted pair",
        "n_pairs": len(rows),
        "worst_dev": round(worst, 4),
        "mean_dev": round(sum(devs) / len(devs), 4) if devs else 0.0,
        "reference_match": bool(ok),
    }
    if not rows:
        rec["note"] = (
            "no candidate pairs emitted at this SF — envelope vacuous; "
            "recall/non-emptiness pinned in tests/test_dedup_similarity.py"
        )
    return rec


def _ref_simhash(rows: list, sf_dir: str) -> dict:
    """TOTAL-equality reference: the 4-chunk pigeonhole makes
    simhash_pairs EXACT for Hamming ≤ 3, so the complete answer is
    recomputable — every fingerprint re-derived independently
    (unicodedata tokenization, stdlib blake2b, occurrence-weighted bit
    votes) and ALL pairs at Hamming ≤ 3 enumerated by vectorized
    popcount. The emitted (doc_a, doc_b, hamming) set must equal it
    exactly — candidates missed by the bucket-join or wrong distances
    both fail."""
    import hashlib
    import unicodedata
    from collections import Counter

    import duckdb
    import numpy as np

    con = duckdb.connect()
    docs = con.execute(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'"
        " ORDER BY doc_id"
    ).fetchall()
    con.close()
    hcache: dict = {}

    def fp64(text: str) -> int:
        toks, cur = [], []
        for ch in text:
            if unicodedata.category(ch).startswith("L"):
                cur.append(ch.lower())
            elif cur:
                toks.append("".join(cur))
                cur = []
        if cur:
            toks.append("".join(cur))
        if not toks:
            return 0
        votes = np.zeros(64, dtype=np.int64)
        for t, cnt in Counter(toks).items():
            b = hcache.get(t)
            if b is None:
                b = np.unpackbits(
                    np.frombuffer(
                        hashlib.blake2b(t.encode(), digest_size=8).digest(),
                        dtype=np.uint8,
                    )
                )
                hcache[t] = b
            votes += cnt * (2 * b.astype(np.int64) - 1)
        bits = (votes > 0).astype(np.uint8)
        return int.from_bytes(np.packbits(bits).tobytes(), "big", signed=True)

    ids = np.array([d for d, _ in docs])
    fps = np.array([fp64(t) for _, t in docs], dtype=np.int64).view(np.uint64)
    want: dict = {}
    B = 512
    for s in range(0, len(fps), B):
        x = fps[s: s + B][:, None] ^ fps[None, :]
        if hasattr(np, "bitwise_count"):
            h = np.bitwise_count(x)
        else:
            h = np.unpackbits(
                x.view(np.uint8).reshape(x.shape[0], x.shape[1], 8), axis=2
            ).sum(axis=2)
        ii, jj = np.where(h <= 3)
        for a, b in zip(ii, jj):
            ga, gb = int(ids[s + a]), int(ids[b])
            if ga < gb:
                want[(ga, gb)] = int(h[a, b])
    got = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in rows}
    return {
        "reference": "independent fingerprints + all-pairs popcount, "
        "TOTAL set equality at Hamming <= 3",
        "n_pairs": len(want),
        "reference_match": bool(got == want and want),
    }


# --- media family: the toy-codec blobs are a deterministic spec (seeded
# RandomState per doc_id), so the whole pipeline — synthesis → Arrow
# decode → stats — is re-derivable driver-side. The synthesis below
# mirrors the spec (it IS the input definition); the decoders and every
# statistic are freshly written, so a mangled blob, a wrong struct
# offset, or a stats bug in the Arrow path fails exact equality. --------------


@functools.lru_cache(maxsize=2)
def _synth_media_py(sf_dir: str):
    """media_id → (kind, blob bytes), per operators/multimodal.py's
    documented generator spec."""
    import struct

    import duckdb
    import numpy as np

    con = duckdb.connect()
    doc_ids = [
        r[0]
        for r in con.execute(
            f"SELECT doc_id FROM '{sf_dir}/documents.parquet' ORDER BY doc_id"
        ).fetchall()
    ]
    con.close()
    out = {}
    for doc_id in doc_ids:
        rng = np.random.RandomState(doc_id % (2 ** 31))
        kind = ("image", "audio", "video")[doc_id % 3]
        if kind == "image":
            h, w, c = int(rng.randint(8, 33)), int(rng.randint(8, 33)), 3
            px = rng.randint(0, 256, (h, w, c)).astype(np.uint8)
            data = b"FIMG" + struct.pack("<HHB", h, w, c) + px.tobytes()
        elif kind == "audio":
            rate, n = 16000, int(rng.randint(800, 3200))
            samples = (rng.randn(n) * 3000).astype("<i2")
            data = b"FAUD" + struct.pack("<I", rate) + samples.tobytes()
        else:
            nf, h, w = int(rng.randint(2, 6)), 8, 8
            data = b"FVID" + struct.pack("<H", nf)
            for _ in range(nf):
                px = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
                data += struct.pack("<I", 9 + px.size) + (
                    b"FIMG" + struct.pack("<HHB", h, w, 3) + px.tobytes()
                )
        out[doc_id] = (kind, data)
    return out


def _decode_fimg_py(data: bytes):
    import struct

    import numpy as np

    h, w, c = struct.unpack("<HHB", data[4:9])
    return np.frombuffer(data[9: 9 + h * w * c], dtype=np.uint8).reshape(h, w, c)


def _ref_image_stats(rows: list, sf_dir: str) -> dict:
    import numpy as np

    want = {}
    for mid, (kind, data) in _synth_media_py(sf_dir).items():
        if kind != "image":
            continue
        px = _decode_fimg_py(data).astype(np.float64)
        want[mid] = (
            px.shape[0],
            px.shape[1],
            round(float(px.mean()), 4),
            round(float(px.std()), 4),
        )
    got = {
        r["media_id"]: (r["height"], r["width"], r["mean"], r["std"])
        for r in rows
    }
    return {
        "reference": "independent decode + numpy stats, exact equality",
        "n_images": len(want),
        "reference_match": bool(got == want and want),
    }


def _ref_audio_stats(rows: list, sf_dir: str) -> dict:
    import struct

    import numpy as np

    want = {}
    for mid, (kind, data) in _synth_media_py(sf_dir).items():
        if kind != "audio":
            continue
        (rate,) = struct.unpack("<I", data[4:8])
        x = np.frombuffer(data[8:], dtype="<i2").astype(np.float64)
        zc = int(np.count_nonzero(np.diff(np.signbit(x)))) if len(x) > 1 else 0
        want[mid] = (
            round(len(x) / rate, 4),
            round(float(np.sqrt(np.mean(x ** 2))), 4) if len(x) else 0.0,
            round(zc / max(len(x) - 1, 1), 4),
        )
    got = {
        r["media_id"]: (r["duration_sec"], r["rms"], r["zero_crossing_rate"])
        for r in rows
    }
    return {
        "reference": "independent decode + numpy stats, exact equality",
        "n_audios": len(want),
        "reference_match": bool(got == want and want),
    }


def _ref_video_frames(rows: list, sf_dir: str) -> dict:
    import struct

    want = {}
    for mid, (kind, data) in _synth_media_py(sf_dir).items():
        if kind != "video":
            continue
        (nf,) = struct.unpack("<H", data[4:6])
        want[mid] = (nf + 1) // 2  # every-2nd sampling keeps ceil(nf/2)
    got = {r["media_id"]: r["n_sampled"] for r in rows}
    return {
        "reference": "header n_frames, every-2nd sampling arithmetic",
        "n_videos": len(want),
        "reference_match": bool(got == want and want),
    }


def _ref_media_summary(rows: list, sf_dir: str) -> dict:
    agg: dict = {}
    for _, (kind, data) in _synth_media_py(sf_dir).items():
        n, tot, mn, mx = agg.get(kind, (0, 0, None, None))
        ln = len(data)
        agg[kind] = (
            n + 1,
            tot + ln,
            ln if mn is None else min(mn, ln),
            ln if mx is None else max(mx, ln),
        )
    got = {
        r["kind"]: (r["n"], r["total_bytes"], r["min_bytes"], r["max_bytes"])
        for r in rows
    }
    return {
        "reference": "independent blob-length census, exact equality",
        "kinds": sorted(agg),
        "reference_match": bool(got == agg and agg),
    }


def _ref_phash_dupes(rows: list, sf_dir: str) -> dict:
    """Re-derive every average-hash (fresh downsample/gray/threshold/
    packbits expression) over the replayed-image universe (every 5th
    image mirrored under -id - 1) and compare the full group census."""
    import numpy as np

    def ahash(px) -> str:
        yi = (np.arange(8) * px.shape[0] // 8).astype(int)
        xi = (np.arange(8) * px.shape[1] // 8).astype(int)
        gray = px[yi][:, xi].astype(np.float64).mean(axis=2)
        bits = (gray > gray.mean()).ravel().astype(np.uint8)
        return bytes(np.packbits(bits)).hex()

    hashes = []
    for mid, (kind, data) in _synth_media_py(sf_dir).items():
        if kind != "image":
            continue
        h = ahash(_decode_fimg_py(data))
        hashes.append((mid, h))
        if mid % 5 == 0:
            hashes.append((-mid - 1, h))
    groups: dict = {}
    for mid, h in hashes:
        groups.setdefault(h, []).append(mid)
    want = {
        h: (len(ms), min(ms), max(ms))
        for h, ms in groups.items()
        if len(ms) > 1
    }
    got = {
        r["ahash"]: (r["n_images"], r["first_media_id"], r["last_media_id"])
        for r in rows
    }
    return {
        "reference": "independent ahash census over the replayed universe",
        "n_groups": len(want),
        "reference_match": bool(got == want and want),
    }


REFERENCE_CHECKS = {
    "pagerank_copurchase": _ref_pagerank,
    "kcore_members": _ref_kcore,
    "kmeans_clusters": _ref_kmeans,
    "embedding_pca": _ref_pca,
    "bpe_train_merges": _ref_bpe_merges,
    "bpe_encode_stats": _ref_bpe_encode,
    "doc_fingerprint": _ref_doc_fingerprint,
    "dedup_minhash_lsh": _ref_minhash_lsh,
    "dedup_simhash": _ref_simhash,
    "image_stats": _ref_image_stats,
    "audio_stats": _ref_audio_stats,
    "video_frame_sample": _ref_video_frames,
    "media_summary": _ref_media_summary,
    "image_phash_dupes": _ref_phash_dupes,
    "knn_lsh": _ref_knn_factory(0.55),
    "knn_ivf": _ref_knn_factory(0.42),
    "knn_ivf_persisted": _ref_knn_factory(0.42),
    "knn_ivf_pq": _ref_knn_factory(0.30),
    "knn_ivf_pq_persisted": _ref_knn_factory(0.30),
    "dedup_embedding_ivf": _ref_dedup_ivf,
    "ddsketch_event_quantiles": _ref_dd_global,
    "stream_ddsketch_quantiles": _ref_dd_global,
    "ddsketch_quantiles_by_type": _ref_dd_by_type,
    "stream_ddsketch_by_type": _ref_dd_by_type,
    "ddsketch_merge_proof": _ref_dd_merge,
    "hll_merge_proof": _ref_merge_proof_factory(1.04 / 256 ** 0.5, "HLL m=256"),
    "kmv_merge_proof": _ref_merge_proof_factory(
        1.0 / 255 ** 0.5, "KMV K=256"
    ),
    "cms_merge_proof": _ref_cms_merge,
    "stream_cms_heavy_hitters": _ref_stream_cms_hh,
    "bloom_merge_proof": _ref_bloom_merge,
    "stream_bloom_pruned_join": _ref_stream_bloom_pruned,
    "rolling_28d_users_hll": _ref_hll_rolling,
    "stream_hll_rolling_28d": _ref_hll_rolling,
    "kmv_event_user_overlap": _ref_kmv_overlap,
    "stream_kmv_overlap": _ref_kmv_overlap,
    "approx_user_counts": _ref_hll_counts,
    "approx_price_quantiles": _ref_gk_quantiles,
}


def main() -> int:
    import duckdb

    from tp1_distribuidos_mapreduce_spark import registry
    from tp1_distribuidos_mapreduce_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_path = sys.argv[1] if len(sys.argv) > 1 else "DIFFERENTIAL.json"
    n_threads = int(os.environ.get("SPARK_GRAFT_DIFF_THREADS", "8"))

    spark = get_spark("differential")
    qs, oracles = registry.queries(), registry.oracle_sql()
    names = [n for n in qs if n in oracles]

    # DuckDB connections are not thread-safe; one per worker thread, all
    # sharing the same read-only parquet views.
    tls = threading.local()

    def con():
        if not hasattr(tls, "con"):
            c = duckdb.connect()
            for t in TABLES:
                c.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
                )
            tls.con = c
        return tls.con

    def timed(check, name: str) -> tuple[str, dict]:
        t0 = time.perf_counter()
        try:
            rec = check(name)
        except Exception as ex:  # record, never abort the sweep
            rec = {"err": f"{type(ex).__name__}: {ex}"[:300]}
        rec["sec"] = round(time.perf_counter() - t0, 2)
        return name, rec

    def oracled(name: str) -> dict:
        sdf = qs[name](spark, sf_dir)
        rows = sdf.collect()
        rel = con().sql(oracles[name])
        reason = compare_rows(sdf.columns, rows, rel.columns, rel.fetchall())
        return {"rows": len(rows), "match": reason is None, "reason": reason}

    def rows_only(name: str) -> dict:
        first = qs[name](spark, sf_dir)
        second = qs[name](spark, sf_dir)
        rows = first.collect()
        reason = compare_rows(first.columns, rows, second.columns, second.collect())
        rec = {"rows": len(rows), "two_run_match": reason is None, "reason": reason}
        rec.update(REFERENCE_CHECKS[name](rows, sf_dir))
        return rec

    ro_names = [n for n in qs if n not in oracles]
    t0 = time.perf_counter()
    with ThreadPoolExecutor(max_workers=n_threads) as pool:
        results = dict(pool.map(functools.partial(timed, oracled), names))
        ro_results = dict(pool.map(functools.partial(timed, rows_only), ro_names))
    wall = round(time.perf_counter() - t0, 1)
    spark.stop()

    bad = [n for n in names if not results[n].get("match")]
    ro_bad = [n for n in ro_names if not ro_results[n].get("two_run_match")]
    ref_bad = [n for n in ro_names if not ro_results[n].get("reference_match")]
    # Honest commit stamp (VERDICT r15 #3): the r15 artifact recorded the
    # pre-fix HEAD while being generated on a post-fix dirty tree, so the
    # recorded commit predated the code it validated. Record HEAD plus an
    # explicit dirty marker computed from `git status --porcelain` filtered
    # to the code the differential actually exercises (the package,
    # differential.py itself, and the driver entry) — driver artifacts and
    # docs in the worktree don't taint the stamp.
    repo_dir = os.path.dirname(os.path.abspath(__file__)) or "."
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, cwd=repo_dir,
        ).stdout.strip()
        status = subprocess.run(
            ["git", "status", "--porcelain"],
            capture_output=True, text=True, cwd=repo_dir,
        ).stdout.splitlines()
        code_prefixes = (
            "tp1_distribuidos_mapreduce_spark/", "differential.py",
            "__spark_entry__.py",
        )
        dirty_code = sorted(
            path
            for line in status
            for path in [line[3:].split(" -> ")[-1].strip()]
            if path.startswith(code_prefixes)
        )
        if dirty_code:
            commit = f"{commit}+dirty({','.join(dirty_code)})"
    except Exception:
        commit = "unknown"
    artifact = {
        "sf_dir": sf_dir,
        "generated_utc": datetime.now(timezone.utc).isoformat(timespec="seconds"),
        "git_commit": commit,
        "n_oracled": len(names),
        "n_full_green": len(names) - len(bad),
        "failing": bad,
        "n_rows_only": len(ro_names),
        "n_rows_only_deterministic": len(ro_names) - len(ro_bad),
        "rows_only_failing": ro_bad,
        "n_reference_match": len(ro_names) - len(ref_bad),
        "reference_failing": ref_bad,
        "wall_sec": wall,
        "queries": results,
        "rows_only_queries": ro_results,
    }
    with open(out_path, "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=False)
        f.write("\n")
    print(
        f"differential: {len(names) - len(bad)}/{len(names)} oracled matches, "
        f"{len(ro_names) - len(ro_bad)}/{len(ro_names)} rows-only two-run matches, "
        f"{len(ro_names) - len(ref_bad)}/{len(ro_names)} reference matches "
        f"at {sf_dir} in {wall}s -> {out_path}"
    )
    if bad:
        print("FAILING:", ", ".join(bad))
    if ro_bad:
        print("ROWS-ONLY FAILING:", ", ".join(ro_bad))
    if ref_bad:
        print("REFERENCE FAILING:", ", ".join(ref_bad))
    return len(bad) + len(ro_bad) + len(ref_bad)


if __name__ == "__main__":
    raise SystemExit(main())
