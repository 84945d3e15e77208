"""Distributed vector analytics over the ``embeddings`` table: per-label
centroid geometry (oracle-backed), PCA projection, and Lloyd's k-means —
the embedding-space triage a curation pipeline runs before/after training
a retrieval or clustering stage.

Scale shapes:

- ``label_centroid_cosine``: centroids via posexplode → (label, dim)
  aggregate (the map-side-combinable formulation; the shuffle carries
  label×dim rows, never vector-cardinality data), broadcast back (labels
  are few), cosine as a pure Catalyst fold (functions/vectors.py). Exact
  DuckDB oracle through ``list_cosine_similarity`` on DOUBLE[].
- ``embedding_pca``: the classic two-job PCA — per-partition Gram/mean
  partials in ONE ``mapInPandas`` pass (a dim×dim numpy matrix per
  partition, never row-sized Python), element-wise reduced by a
  (position)-keyed aggregate, and only the final dim² + dim scalars are
  collected for the driver-side eigendecomposition (dim=64 → 33 KB —
  bounded and documented, the treeAggregate shape). Projection onto the
  top components is a JVM-side dot against literal arrays.
- ``kmeans_clusters``: Lloyd's with k×dim centroid literals broadcast in
  the plan each round; assignment is a Catalyst ``transform`` + argmin
  (zero Python in the hot path), the update is a (cluster, dim)-keyed
  average. Per-round driver transfer is k×dim doubles (640 — bounded);
  each round's plan is rebuilt from the base scan, so lineage never
  grows (unlike naive iterative DataFrame loops).

Determinism: PCA/k-means outputs depend on float partial-aggregation
order at the last ulp → rows-only driver checks, with numpy-reference
pins (tolerance / agreement-rate) in differential.py. The centroid
cosine query rounds at 4dp over continuous measures (the value_outliers
determinism argument).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import cosine_similarity, dot

KMEANS_K = 10
KMEANS_ITERS = 10
PCA_COMPONENTS = 2


def _as_double(embeddings: DataFrame) -> DataFrame:
    return embeddings.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )


def label_centroids(embeddings: DataFrame) -> DataFrame:
    """Per-label mean vector as (label, centroid array<double>)."""
    per_dim = _as_double(embeddings).select(
        "label", F.posexplode("v").alias("pos", "val")
    )
    return (
        per_dim.groupBy("label", "pos")
        .agg(F.avg("val").alias("c"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))),
                lambda s: s["c"],
            ).alias("centroid")
        )
    )


def label_centroid_cosine(embeddings: DataFrame) -> DataFrame:
    """Per-label cohesion report: members' cosine similarity to their
    label centroid — (label, n_vecs, avg_cosine, min_cosine).

    The centroid table is label-cardinality → broadcast join; cosine is
    the shared Catalyst fold. A tight avg/min separates well-clustered
    labels from polluted ones — the label-noise smoke test run before
    trusting classifier training data.
    """
    e = _as_double(embeddings)
    cents = label_centroids(embeddings)
    scored = e.join(F.broadcast(cents), "label").select(
        "label", cosine_similarity(F.col("v"), F.col("centroid")).alias("cos")
    )
    return (
        scored.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("cos"), 4).alias("avg_cosine"),
            F.round(F.min("cos"), 4).alias("min_cosine"),
        )
        .orderBy("label")
    )


LABEL_CENTROID_COSINE_ORACLE = """
WITH per_dim AS (
  SELECT label, i, CAST(embedding[i] AS DOUBLE) AS val
  FROM embeddings,
       LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i)
), cent AS (
  SELECT label, list(c ORDER BY i) AS centroid
  FROM (SELECT label, i, avg(val) AS c FROM per_dim GROUP BY label, i)
  GROUP BY label
)
SELECT e.label,
       count(*) AS n_vecs,
       round(avg(list_cosine_similarity(e.embedding::DOUBLE[], c.centroid)), 4)
         AS avg_cosine,
       round(min(list_cosine_similarity(e.embedding::DOUBLE[], c.centroid)), 4)
         AS min_cosine
FROM embeddings e JOIN cent c USING (label)
GROUP BY e.label
ORDER BY e.label
"""


def _gram_partials(embeddings: DataFrame) -> tuple[np.ndarray, np.ndarray, int]:
    """Distributed Gram-matrix / mean accumulation. Returns (G, s, n)
    where G = Σ v vᵀ and s = Σ v, reduced element-wise in Spark; only
    dim² + dim + 1 scalars ever reach the driver."""
    def partials(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.stack([np.asarray(x, dtype=np.float64) for x in pdf["v"]])
            yield pd.DataFrame(
                {
                    "n": [len(M)],
                    "s": [M.sum(axis=0).tolist()],
                    "g": [(M.T @ M).ravel().tolist()],
                }
            )

    # One materialization of the partials (localCheckpoint) feeds the
    # three reductions below — the scan and the Python pass run ONCE,
    # not once per downstream aggregate (the funnel_conversion lesson).
    parts = (
        embeddings.select("v")
        .mapInPandas(partials, "n long, s array<double>, g array<double>")
        .localCheckpoint()
    )
    # Element-wise reduce via posexplode keyed on position — map-side
    # combinable, shuffle bounded by dim² rows regardless of corpus size.
    g = (
        parts.select(F.posexplode("g").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.sum("x").alias("x"))
        .orderBy("pos")
    )
    s = (
        parts.select(F.posexplode("s").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.sum("x").alias("x"))
        .orderBy("pos")
    )
    n = parts.agg(F.sum("n")).collect()[0][0]
    if n is None or n == 0:
        # F.sum over zero rows is NULL — fail loudly instead of an
        # unrelated TypeError/reshape(0,0) further down.
        raise ValueError("PCA: no vectors in input")
    g_flat = np.array([r["x"] for r in g.collect()])
    s_vec = np.array([r["x"] for r in s.collect()])
    dim = s_vec.shape[0]
    return g_flat.reshape(dim, dim), s_vec, int(n)


def pca_components(
    embeddings: DataFrame, n_components: int = PCA_COMPONENTS
) -> tuple[np.ndarray, np.ndarray]:
    """Top principal components (sign-fixed) and the mean vector."""
    e = _as_double(embeddings)
    G, s, n = _gram_partials(e)
    mu = s / n
    C = G / n - np.outer(mu, mu)
    vals, vecs = np.linalg.eigh(C)
    comp = vecs[:, np.argsort(vals)[::-1][:n_components]].T
    # Deterministic sign: the largest-|coordinate| entry is positive.
    for w in comp:
        if w[np.argmax(np.abs(w))] < 0:
            w *= -1.0
    return comp, mu


def embedding_pca(
    embeddings: DataFrame, n_components: int = PCA_COMPONENTS
) -> DataFrame:
    """Project every embedding onto the corpus's top principal
    components: (vec_id, label, pc1, pc2). The projection is a JVM-side
    dot against component literal arrays — the Python boundary is
    crossed only by the bounded Gram partials."""
    comp, mu = pca_components(embeddings, n_components)
    e = _as_double(embeddings)
    cols = [F.col("vec_id"), F.col("label")]
    for j, w in enumerate(comp):
        lit_w = F.array(*[F.lit(float(x)) for x in w])
        offset = float(np.dot(mu, w))
        cols.append(
            F.round(dot(F.col("v"), lit_w) - F.lit(offset), 4).alias(f"pc{j + 1}")
        )
    return e.select(*cols).orderBy("vec_id")


def kmeans_clusters(
    embeddings: DataFrame, k: int = KMEANS_K, n_iter: int = KMEANS_ITERS
) -> DataFrame:
    """Lloyd's k-means over the embedding column, reported as a cluster
    census with label purity: (cluster_id, n_vecs, majority_label,
    purity).

    Deterministic contract: init = the k lowest-vec_id vectors, fixed
    ``n_iter`` rounds (no convergence test → no extra actions), argmin
    ties → lowest cluster id (numpy argmin returns the first minimum).

    Each round is ONE vectorized Arrow pass: the k×dim centroid matrix
    closes over a ``mapInPandas`` kernel that computes the full distance
    matrix per batch (‖x‖² − 2xCᵀ + ‖c‖², one BLAS matmul) and emits
    PER-PARTITION cluster partials — (cluster, count, sum-vector) — so
    each round's driver transfer is ≤ partitions×k×dim doubles (the PCA
    Gram-partial / treeAggregate shape; ~160 KB here), and the mean is
    finished in numpy on the driver. This replaced a per-row Catalyst
    fold over k array literals (640 lambda evaluations per row): the
    Arrow+BLAS kernel measured ~3× faster at sf0.1, the same reason the
    ANN probes use numpy kernels (PYTHON_ALLOWED in the plan audit).

    The cast base vectors are materialized ONCE (localCheckpoint) before
    the loop — the canonical Lloyd's shape of caching the working set
    across iterations (at cluster scale, ``persist(MEMORY_AND_DISK)``).
    """
    import pandas as pd

    e = _as_double(embeddings).localCheckpoint()
    # seed with the k lowest vec_ids PRESENT (not `vec_id < k`, which
    # under-fills on filtered/subset inputs or ids not starting at 0 and
    # would index past the centroid matrix in the update loop).
    init_rows = e.orderBy("vec_id").select("v").limit(k).collect()
    if len(init_rows) < k:
        raise ValueError(
            f"kmeans_clusters: k={k} but only {len(init_rows)} vectors present"
        )
    cents = np.array([list(r["v"]) for r in init_rows])

    def partials_fn(C: np.ndarray):
        cn = (C * C).sum(axis=1)

        def go(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                M = np.stack([np.asarray(x, dtype=np.float64) for x in pdf["v"]])
                d = (M * M).sum(axis=1)[:, None] - 2.0 * (M @ C.T) + cn[None, :]
                a = d.argmin(axis=1)
                rows = []
                for c in np.unique(a):
                    members = M[a == c]
                    rows.append((int(c), len(members), members.sum(axis=0).tolist()))
                yield pd.DataFrame(rows, columns=["cluster", "n", "s"])

        return go

    for _ in range(n_iter):
        parts = e.select("v").mapInPandas(
            partials_fn(cents), "cluster long, n long, s array<double>"
        ).collect()
        by_n: dict[int, int] = {}
        by_s: dict[int, np.ndarray] = {}
        for r in parts:
            by_n[r["cluster"]] = by_n.get(r["cluster"], 0) + r["n"]
            by_s[r["cluster"]] = by_s.get(r["cluster"], 0) + np.array(r["s"])
        cents = np.array(
            [
                (by_s[i] / by_n[i]) if by_n.get(i) else cents[i]
                for i in range(k)
            ]
        )

    def assign_fn(C: np.ndarray):
        cn = (C * C).sum(axis=1)

        def go(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                M = np.stack([np.asarray(x, dtype=np.float64) for x in pdf["v"]])
                d = (M * M).sum(axis=1)[:, None] - 2.0 * (M @ C.T) + cn[None, :]
                yield pd.DataFrame(
                    {"label": pdf["label"], "cluster_id": d.argmin(axis=1)}
                )

        return go

    final = e.select("v", "label").mapInPandas(
        assign_fn(cents), "label int, cluster_id long"
    )
    per_label = final.groupBy("cluster_id", "label").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("cluster_id").orderBy(F.desc("n"), F.asc("label"))
    return (
        per_label.withColumn("rk", F.row_number().over(w))
        .groupBy("cluster_id")
        .agg(
            F.sum("n").alias("n_vecs"),
            F.max(F.when(F.col("rk") == 1, F.col("label"))).alias(
                "majority_label"
            ),
            F.round(
                F.max(F.when(F.col("rk") == 1, F.col("n"))) / F.sum("n"), 4
            ).alias("purity"),
        )
        .orderBy("cluster_id")
    )
