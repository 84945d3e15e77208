"""Similarity search over embedding columns (array<float>).

Additive LLM-pipeline surface (BASELINE.md): brute-force cosine top-k as
the exact baseline, and a random-hyperplane LSH variant as the scale path.

Scale design:
- Brute force broadcasts the (small) query set and streams the corpus once;
  cosine is a Catalyst expression (functions/vectors.py) inside codegen.
  The rank step shuffles only (query × corpus) candidate rows — at 100 TB
  you bound that by pre-filtering with the LSH variant, not by giving the
  exact operator more memory.
- LSH: 16 signed random hyperplanes → 16-bit bucket key computed map-side;
  join on bucket co-locates only plausible neighbors. Recall is tunable by
  bands/probes; the pytest property test pins a floor vs brute force.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import cosine_similarity, dot


def _as_double(embeddings: DataFrame) -> DataFrame:
    return embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )


def knn_bruteforce(
    embeddings: DataFrame, n_queries: int = 10, k: int = 5
) -> DataFrame:
    """Exact cosine top-k: for each query vector (vec_id < n_queries), the
    k nearest other vectors. Returns (query_id, rank, neighbor_id)."""
    e = _as_double(embeddings)
    q = e.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    scored = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine_similarity(F.col("qv"), F.col("v")).alias("cos"),
        )
    )
    return _rank_topk(scored, k)


def knn_bruteforce_oracle(n_queries: int = 10, k: int = 5) -> str:
    """Oracle generated from the SAME parameters as knn_bruteforce —
    the hard_negative_oracle discipline: non-default parameters can
    never silently pair with a stale fixed-parameter oracle string."""
    return f"""
SELECT query_id, rank, neighbor_id
FROM (
  SELECT q.vec_id AS query_id,
         c.vec_id AS neighbor_id,
         CAST(row_number() OVER (
            PARTITION BY q.vec_id
            ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                     c.vec_id ASC) AS INTEGER) AS rank
  FROM embeddings q
  JOIN embeddings c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < {n_queries}
)
WHERE rank <= {k}
ORDER BY query_id, rank
"""


KNN_BRUTEFORCE_ORACLE = knn_bruteforce_oracle()

_N_BANDS = 8
_BITS_PER_BAND = 8


def _hyperplanes(dim: int) -> np.ndarray:
    """Deterministic random hyperplanes (seed 42) — regenerated inside each
    executor from the seed; no driver-side state to ship."""
    rng = np.random.RandomState(42)
    return rng.randn(_N_BANDS * _BITS_PER_BAND, dim)


def _band_buckets_udf(dim: int):
    """Arrow-batched bucket computation: one matmul per record batch turns
    each vector into its 8 per-band sign-pattern buckets (band b's bucket =
    the 8-bit sign pattern of its 8 hyperplane projections). Banding is the
    OR-construction that makes hyperplane LSH recall-tunable: a candidate
    needs to match on ANY band, so P(candidate) = 1-(1-p^bits)^bands with
    p = 1 - θ/π. A Catalyst-literal formulation (64 plane arrays × dim
    literals, interpreted per element) profiled ~10× slower and dominated
    plan-compile time; the BLAS batch path is the 100 TB shape."""

    @F.pandas_udf("array<int>")
    def buckets(vs: pd.Series) -> pd.Series:
        planes = _hyperplanes(dim)
        M = np.vstack(vs.to_numpy())
        signs = (M @ planes.T >= 0).astype(np.int64)
        weights = 1 << np.arange(_BITS_PER_BAND)
        vals = signs.reshape(len(M), _N_BANDS, _BITS_PER_BAND) @ weights
        return pd.Series(list(vals.astype("int32")))

    return buckets


def knn_lsh(
    embeddings: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    dim: int = 64,
    multiprobe: bool = True,
) -> DataFrame:
    """Approximate cosine top-k via banded random-hyperplane LSH with
    multi-probe (Lv et al. 2007, "Multi-Probe LSH").

    Candidates = corpus vectors sharing ≥1 of 8 8-bit sign-bands with the
    query; exact cosine rank within candidates. Shuffle is on (band,
    bucket) keys — 8 fixed-width rows per vector — and unrelated vectors
    collide on a band with P ≈ 8/256, so the candidate join stays sparse
    at any corpus size while true neighbors (smaller angle → higher
    per-bit agreement) are recalled with tunable probability.

    Multi-probe additionally probes every Hamming-distance-1 bucket of
    each query band (flip one of the 8 sign bits → 8 extra buckets per
    band): a near neighbor that disagreed on exactly one hyperplane of a
    band is still found, lifting recall without adding hyperplanes or
    corpus-side rows. The expansion is QUERY-side only — the (tiny,
    broadcast) probe table grows 9×, the corpus index is untouched — so
    the 100 TB cost model is unchanged.
    """
    e = _as_double(embeddings)
    banded = e.select(
        "vec_id",
        "v",
        F.posexplode(_band_buckets_udf(dim)(F.col("v"))).alias("band", "bucket"),
    )
    q = banded.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("band").alias("qband"),
        F.col("bucket").alias("qbucket"),
    )
    if multiprobe:
        flips = F.array(
            F.lit(0), *(F.lit(1 << b) for b in range(_BITS_PER_BAND))
        )
        q = q.select(
            "query_id",
            "qv",
            "qband",
            F.explode(flips).alias("flip"),
            "qbucket",
        ).select(
            "query_id",
            "qv",
            "qband",
            F.col("qbucket").bitwiseXOR(F.col("flip")).alias("qbucket"),
        )
    cands = (
        banded.join(
            F.broadcast(q),
            (F.col("band") == F.col("qband"))
            & (F.col("bucket") == F.col("qbucket"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "qv", "v")
        .dropDuplicates(["query_id", "neighbor_id"])
        .select(
            "query_id",
            "neighbor_id",
            cosine_similarity(F.col("qv"), F.col("v")).alias("cos"),
        )
    )
    return _rank_topk(cands, k)


def _lloyd_centroids(
    sample: np.ndarray, n_lists: int, iters: int = 10
) -> np.ndarray:
    """Deterministic spherical k-means on a bounded sample (seed 42).

    IVF training universally runs on a sample (faiss-style): driver memory
    is O(sample × dim) regardless of corpus size, and the resulting
    centroids broadcast to executors inside the UDF closure. Unit-norm
    centroids make the assignment argmax a dot product ⇔ cosine."""
    rng = np.random.RandomState(42)
    norms = np.linalg.norm(sample, axis=1, keepdims=True)
    X = sample / np.maximum(norms, 1e-12)
    n_lists = min(n_lists, len(X))  # tiny corpora: never more lists than vectors
    C = X[rng.choice(len(X), size=n_lists, replace=False)]
    for _ in range(iters):
        assign = (X @ C.T).argmax(axis=1)
        for c in range(n_lists):
            m = assign == c
            if m.any():
                v = X[m].mean(axis=0)
                C[c] = v / max(np.linalg.norm(v), 1e-12)
    return C


def _nearest_lists_udf(centroids: np.ndarray, n_probe: int):
    """Arrow-batched assignment: one matmul per record batch scores every
    vector against every centroid; top-n_probe list ids per vector."""

    @F.pandas_udf("array<int>")
    def lists(vs: pd.Series) -> pd.Series:
        M = np.vstack(vs.to_numpy())
        M = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        S = M @ centroids.T
        top = np.argsort(-S, axis=1)[:, :n_probe]
        return pd.Series(list(top.astype("int32")))

    return lists


def _collect_sample(e: DataFrame, sample_size: int) -> np.ndarray:
    """The bounded deterministic training sample every index build runs
    on: first `sample_size` vectors by vec_id — a constant-size driver
    transfer regardless of corpus size (same contract as the Bloom
    bitmap collect)."""
    return np.vstack(
        [
            np.asarray(r.v)
            for r in e.orderBy("vec_id").limit(sample_size).select("v").collect()
        ]
    )


def _train_centroids(e: DataFrame, n_lists: int, sample_size: int) -> np.ndarray:
    """Deterministic bounded-sample centroid training (shared by the
    rebuild-per-call and persisted IVF paths — the bit-identical contract
    between them depends on this being the SAME code)."""
    return _lloyd_centroids(_collect_sample(e, sample_size), n_lists)


def _assign_lists(e: DataFrame, C: np.ndarray) -> DataFrame:
    """The inverted file: every vector with its single nearest list id
    (shared by both IVF paths, same contract as _train_centroids)."""
    return e.select(
        "vec_id",
        "v",
        F.element_at(_nearest_lists_udf(C, 1)(F.col("v")), 1).alias("list_id"),
    )


def _load_centroids(spark, path: str):
    """k×dim centroid matrix from the persisted parquet, list_id order —
    one definition for both persisted-index search paths."""
    return np.vstack(
        [
            np.asarray(r.centroid)
            for r in spark.read.parquet(path).orderBy("list_id").collect()
        ]
    )


def _probe_plan(e: DataFrame, C, n_queries: int, n_probe: int) -> DataFrame:
    """(query_id, qv, qlist) probe rows — one per (query, probed list).
    The single definition all four IVF/IVF-PQ search paths share."""
    return e.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.explode(_nearest_lists_udf(C, n_probe)(F.col("v"))).alias("qlist"),
    )


def _collected_probe(spark, e: DataFrame, C, n_queries: int, n_probe: int):
    """Evaluate the probe subplan ONCE (bounded by n_queries × n_probe,
    never corpus size) and return (broadcastable frame, sorted probed
    list ids) — the persisted-index paths derive both from one collect
    so the embeddings scan and probe UDF never run twice."""
    q_plan = _probe_plan(e, C, n_queries, n_probe)
    q_rows = q_plan.collect()
    return (
        spark.createDataFrame(q_rows, q_plan.schema),
        sorted({r.qlist for r in q_rows}),
    )


def _pq_shortlist_topk(
    index_df: DataFrame, q: DataFrame, books, e: DataFrame, rerank: int, k: int
) -> DataFrame:
    """ADC-scored shortlist + bounded exact-cosine rerank + shared top-k
    tail — ONE definition for knn_ivf_pq and its persisted variant (the
    pytest bit-identical pin depends on the two never drifting)."""
    scored = index_df.join(
        F.broadcast(q),
        (F.col("list_id") == F.col("qlist"))
        & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id",
        "qv",
        F.col("vec_id").alias("neighbor_id"),
        _adc_score_udf(books)(F.col("qv"), F.col("codes")).alias("adc"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("adc"), F.asc("neighbor_id"))
    shortlist = (
        scored.withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= rerank)
        .drop("r", "adc")
    )
    exact = shortlist.join(
        e.select(F.col("vec_id").alias("neighbor_id"), "v"), "neighbor_id"
    ).select(
        "query_id",
        "neighbor_id",
        cosine_similarity(F.col("qv"), F.col("v")).alias("cos"),
    )
    return _rank_topk(exact, k)


def _rank_topk(cands: DataFrame, k: int) -> DataFrame:
    """Exact cosine rank within candidates — the ONE top-k tail shared
    by brute-force, LSH, and the IVF variants (a tie-break change here
    changes every ANN path identically, never one silently)."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id")
        .orderBy("query_id", "rank")
    )


def knn_ivf(
    embeddings: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    sample_size: int = 2048,
) -> DataFrame:
    """Approximate cosine top-k via an IVF (inverted-file) index — the
    classic ANN scale path alongside LSH (knn_lsh).

    Build: spherical k-means centroids trained on a deterministic bounded
    sample; every corpus vector is assigned to its single nearest centroid
    (one fixed-width (vec_id, list_id) row — the inverted file). Search:
    each query probes its n_probe nearest lists; candidates = corpus
    vectors in those lists; exact cosine rank within candidates.

    Scale shape: the corpus is scanned once for assignment and shuffled on
    list_id only; queries broadcast; per-query work drops from O(N) to
    O(N · n_probe / n_lists) with recall tunable by n_probe (the pytest
    property pins a recall floor vs knn_bruteforce). At 100 TB the
    inverted file would persist bucketed-by-list (sinks/bucketed.py) so
    repeated searches skip assignment entirely.
    """
    e = _as_double(embeddings)
    C = _train_centroids(e, n_lists, sample_size)
    assigned = _assign_lists(e, C)
    q = _probe_plan(e, C, n_queries, n_probe)
    cands = (
        assigned.join(
            F.broadcast(q),
            (F.col("list_id") == F.col("qlist"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine_similarity(F.col("qv"), F.col("v")).alias("cos"),
        )
    )
    return _rank_topk(cands, k)


# Bump when _train_centroids/_lloyd_centroids/_assign_lists change in any
# observable way: the persisted-index content tag includes it, so a warm
# /tmp cache built by older training code can never be silently reused
# against newer rebuild code (which would break the bit-identical pin).
IVF_INDEX_VERSION = 1


def ensure_ivf_index(
    spark,
    sf_dir: str,
    n_lists: int = 16,
    sample_size: int = 2048,
    num_buckets: int = 8,
) -> tuple[str, str]:
    """Persisted IVF index: the inverted file as a bucketed-by-list_id
    table plus a small centroid parquet — the layout knn_ivf's docstring
    promises at 100 TB, where repeated searches must skip both centroid
    training and corpus assignment.

    Content-addressed on the embeddings parquet and the index spec (same
    discipline as every /tmp cache here); same three-tier fast path as
    ensure_bucketed_fixture: catalog hit → metadata-only re-register →
    full build. Returns (inverted_table_name, centroids_path).
    """
    from ..sources.artifacts import artifact_path, fixture_cache_tag, pathlock

    tag = fixture_cache_tag(
        sf_dir, "embeddings", "ivf", IVF_INDEX_VERSION, n_lists, sample_size, num_buckets
    )

    table = f"ivf_inverted_{tag}"
    base = artifact_path(f"ivf_{tag}")
    cpath = f"{base}/centroids"
    ipath = f"{base}/inverted"
    with pathlock(base):
        return _ensure_ivf_index_locked(
            spark, sf_dir, table, cpath, ipath, n_lists, sample_size, num_buckets
        )


def _ensure_ivf_index_locked(
    spark, sf_dir, table, cpath, ipath, n_lists, sample_size, num_buckets
):
    import os

    from ..sinks.bucketed import register_existing_bucketed, write_bucketed
    from ..sources.tables import load_table

    if spark.catalog.tableExists(table):
        return table, cpath
    e = _as_double(load_table(spark, sf_dir, "embeddings"))
    if os.path.exists(os.path.join(ipath, "_SUCCESS")):
        from pyspark.sql.types import IntegerType, StructField, StructType

        # copy before extending — StructType.add MUTATES the DataFrame's
        # cached schema (SKILL.md gotcha)
        idx_schema = StructType(
            list(e.schema.fields) + [StructField("list_id", IntegerType())]
        )
        register_existing_bucketed(
            spark, table, ipath, idx_schema, ["list_id"], num_buckets
        )
        return table, cpath
    C = _train_centroids(e, n_lists, sample_size)
    spark.createDataFrame(
        [(i, [float(x) for x in C[i]]) for i in range(len(C))],
        "list_id int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(cpath)
    write_bucketed(_assign_lists(e, C), table, ipath, ["list_id"], num_buckets)
    return table, cpath


def knn_ivf_persisted(
    spark,
    sf_dir: str,
    n_queries: int = 10,
    k: int = 5,
    n_probe: int = 4,
) -> DataFrame:
    """IVF search over the PERSISTED index: reads the bucketed inverted
    file, prunes to the probed lists (an equality/IN filter on the bucket
    column — Spark's bucket pruning skips non-probed bucket FILES at the
    scan, the I/O shape that makes repeated ANN queries cheap at scale),
    and ranks candidates exactly like knn_ivf. With identical index
    parameters the result is bit-identical to knn_ivf's (deterministic
    training sample and Lloyd iterations) — pinned by pytest.

    The probed-list set is derived driver-side from the centroid table:
    bounded by n_lists × n_queries, never by corpus size.
    """
    from ..sinks.bucketed import read_bucketed
    from ..sources.tables import load_table

    table, cpath = ensure_ivf_index(spark, sf_dir)
    C = _load_centroids(spark, cpath)
    e = _as_double(load_table(spark, sf_dir, "embeddings"))
    # Evaluate the query-probe subplan ONCE: its rows are bounded by
    # n_queries x n_probe (never corpus size), so collect them and derive
    # both the probed-list set and the broadcast frame from that — the
    # lazy formulation would re-run the embeddings scan and the probe UDF
    # a second time inside the join.
    q, probed = _collected_probe(spark, e, C, n_queries, n_probe)
    inverted = read_bucketed(spark, table).where(F.col("list_id").isin(probed))
    cands = (
        inverted.join(
            F.broadcast(q),
            (F.col("list_id") == F.col("qlist"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine_similarity(F.col("qv"), F.col("v")).alias("cos"),
        )
    )
    return _rank_topk(cands, k)


# --------------------------------------------------------------------------
# IVF-PQ: product-quantized inverted file — the memory-compressed ANN shape
# --------------------------------------------------------------------------


def _train_pq_codebooks(
    sample: np.ndarray, m: int, n_codes: int, iters: int = 10
) -> np.ndarray:
    """Per-subspace k-means codebooks, shape (m, n_codes, dim/m) — plain
    PQ training (Jégou et al. 2011, "Product Quantization for Nearest
    Neighbor Search") on the unit-normalized bounded sample, seed 42,
    fully deterministic."""
    rng = np.random.RandomState(42)
    X = sample / np.maximum(np.linalg.norm(sample, axis=1, keepdims=True), 1e-12)
    n, d = X.shape
    if d % m != 0:
        raise ValueError(f"m_subq={m} must divide dim={d}")
    dsub = d // m
    books = np.zeros((m, n_codes, dsub))
    for j in range(m):
        S = X[:, j * dsub : (j + 1) * dsub]
        kk = min(n_codes, len(S))
        C = S[rng.choice(len(S), size=kk, replace=False)].copy()
        for _ in range(iters):
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(-1)
            assign = d2.argmin(1)
            for c in range(kk):
                msk = assign == c
                if msk.any():
                    C[c] = S[msk].mean(0)
        books[j, :kk] = C
        if kk < n_codes:
            books[j, kk:] = C[0]
    return books


def _pq_encode_udf(books: np.ndarray):
    """Arrow-batched PQ encoder: each vector becomes m small codes —
    dim×8 bytes collapse to m bytes of index payload."""
    m, _, dsub = books.shape

    @F.pandas_udf("array<int>")
    def enc(vs: pd.Series) -> pd.Series:
        M = np.vstack(vs.to_numpy())
        M = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        codes = np.zeros((len(M), m), dtype="int32")
        for j in range(m):
            S = M[:, j * dsub : (j + 1) * dsub]
            d2 = ((S[:, None, :] - books[j][None, :, :]) ** 2).sum(-1)
            codes[:, j] = d2.argmin(1)
        return pd.Series(list(codes))

    return enc


def _adc_score_udf(books: np.ndarray):
    """Approximate cosine of (query, PQ-coded candidate): gather each
    code's codebook entry, concatenate to the reconstruction, dot with the
    normalized query. (Production ADC replaces the reconstruction with an
    m×n_codes lookup table per query — same value, O(m) per candidate;
    the reconstruction form keeps the batch fully vectorized here.)"""
    m = books.shape[0]

    @F.pandas_udf("double")
    def score(qvs: pd.Series, codes: pd.Series) -> pd.Series:
        Q = np.vstack(qvs.to_numpy())
        Q = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
        C = np.vstack(codes.to_numpy()).astype(int)
        rec = np.concatenate([books[j][C[:, j]] for j in range(m)], axis=1)
        return pd.Series((Q * rec).sum(axis=1))

    return score


def knn_ivf_pq(
    embeddings: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    m_subq: int = 8,
    n_codes: int = 16,
    sample_size: int = 2048,
    rerank: int = 32,
) -> DataFrame:
    """Approximate cosine top-k over an IVF-PQ index: inverted lists for
    candidate pruning (as knn_ivf) plus product-quantized codes so the
    index never carries raw vectors — the memory shape that lets a 100 TB
    embedding corpus fit a serving tier (64 float64 dims → 8 byte codes,
    a 64× payload cut on the shuffled/stored index rows).

    Search: probe n_probe lists per query → ADC-score the candidates on
    their codes alone → exact-rerank only the top `rerank` shortlist with
    true cosines fetched by a join bounded by n_queries × rerank rows.
    Training (centroids + codebooks) runs on the same bounded
    deterministic sample as knn_ivf; everything downstream is
    Arrow-batched, no data-sized driver transfer anywhere. Quantizer
    internals are not SQL-expressible, so the query is rows-only; recall
    is pinned against knn_bruteforce in tests/test_dedup_similarity.py.
    """
    e = _as_double(embeddings)
    sample = _collect_sample(e, sample_size)
    C = _lloyd_centroids(sample, n_lists)
    books = _train_pq_codebooks(sample, m_subq, n_codes)
    # The index rows: (vec_id, list_id, codes) — raw vectors dropped.
    idx = _assign_lists(e, C).select(
        "vec_id", "list_id", _pq_encode_udf(books)(F.col("v")).alias("codes")
    )
    q = _probe_plan(e, C, n_queries, n_probe)
    return _pq_shortlist_topk(idx, q, books, e, rerank, k)


# Bump on any observable change to PQ training/encode (same contract as
# IVF_INDEX_VERSION): a warm /tmp cache from older code must never serve
# the bit-identical pin against newer rebuild code.
IVF_PQ_INDEX_VERSION = 1


def ensure_ivf_pq_index(
    spark,
    sf_dir: str,
    n_lists: int = 16,
    m_subq: int = 8,
    n_codes: int = 16,
    sample_size: int = 2048,
    num_buckets: int = 8,
) -> tuple[str, str]:
    """Persisted IVF-PQ index: the inverted file as a bucketed-by-list_id
    table of (vec_id, list_id, codes) — m small ints per vector, raw
    vectors NOT stored — plus centroid and codebook parquets. This is the
    serving layout at 100 TB: the index is ~m bytes/vector (vs dim×8 for
    raw), bucket files prune by probed list, and raw vectors are touched
    only by the bounded exact-rerank join against the source table.

    Content-addressed and three-tier cached like ensure_ivf_index.
    Returns (inverted_table_name, index_base_path).
    """
    from ..sources.artifacts import artifact_path, fixture_cache_tag, pathlock

    tag = fixture_cache_tag(
        sf_dir, "embeddings", "ivfpq", IVF_PQ_INDEX_VERSION,
        n_lists, m_subq, n_codes, sample_size, num_buckets,
    )

    table = f"ivfpq_inverted_{tag}"
    base = artifact_path(f"ivfpq_{tag}")
    cpath, bpath, ipath = f"{base}/centroids", f"{base}/codebooks", f"{base}/inverted"
    with pathlock(base):
        return _ensure_ivf_pq_index_locked(
            spark, sf_dir, table, base, cpath, bpath, ipath,
            n_lists, m_subq, n_codes, sample_size, num_buckets,
        )


def _ensure_ivf_pq_index_locked(
    spark, sf_dir, table, base, cpath, bpath, ipath,
    n_lists, m_subq, n_codes, sample_size, num_buckets,
):
    import os

    from ..sinks.bucketed import register_existing_bucketed, write_bucketed
    from ..sources.tables import load_table

    if spark.catalog.tableExists(table):
        return table, base
    if os.path.exists(os.path.join(ipath, "_SUCCESS")):
        from pyspark.sql.types import (
            ArrayType, IntegerType, LongType, StructField, StructType,
        )

        idx_schema = StructType(
            [
                StructField("vec_id", LongType()),
                StructField("list_id", IntegerType()),
                StructField("codes", ArrayType(IntegerType())),
            ]
        )
        register_existing_bucketed(
            spark, table, ipath, idx_schema, ["list_id"], num_buckets
        )
        return table, base
    e = _as_double(load_table(spark, sf_dir, "embeddings"))
    sample = _collect_sample(e, sample_size)
    C = _lloyd_centroids(sample, n_lists)
    books = _train_pq_codebooks(sample, m_subq, n_codes)
    spark.createDataFrame(
        [(i, [float(x) for x in C[i]]) for i in range(len(C))],
        "list_id int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(cpath)
    spark.createDataFrame(
        [
            (j, c, [float(x) for x in books[j, c]])
            for j in range(books.shape[0])
            for c in range(books.shape[1])
        ],
        "subspace int, code int, vec array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(bpath)
    idx = _assign_lists(e, C).select(
        "vec_id", "list_id", _pq_encode_udf(books)(F.col("v")).alias("codes")
    )
    write_bucketed(idx, table, ipath, ["list_id"], num_buckets)
    return table, base


def knn_ivf_pq_persisted(
    spark,
    sf_dir: str,
    n_queries: int = 10,
    k: int = 5,
    n_probe: int = 4,
    rerank: int = 32,
) -> DataFrame:
    """IVF-PQ search over the PERSISTED index: bucket-pruned scan of the
    probed lists' code rows, ADC scoring on codes alone, exact rerank of
    the bounded shortlist against the source embeddings. With identical
    index parameters the result is bit-identical to knn_ivf_pq's rebuild
    path (deterministic shared training) — pinned by pytest.

    Driver transfers stay bounded: centroids (n_lists), codebooks
    (m × n_codes), and the query-probe rows (n_queries × n_probe).
    """
    from ..sinks.bucketed import read_bucketed
    from ..sources.tables import load_table

    table, base = ensure_ivf_pq_index(spark, sf_dir)
    C = _load_centroids(spark, f"{base}/centroids")
    brows = (
        spark.read.parquet(f"{base}/codebooks").orderBy("subspace", "code").collect()
    )
    m = max(r.subspace for r in brows) + 1
    n_codes = max(r.code for r in brows) + 1
    dsub = len(brows[0].vec)
    books = np.zeros((m, n_codes, dsub))
    for r in brows:
        books[r.subspace, r.code] = np.asarray(r.vec)
    e = _as_double(load_table(spark, sf_dir, "embeddings"))
    q, probed = _collected_probe(spark, e, C, n_queries, n_probe)
    inverted = read_bucketed(spark, table).where(F.col("list_id").isin(probed))
    return _pq_shortlist_topk(inverted, q, books, e, rerank, k)


def hard_negative_mining(
    embeddings: DataFrame, n_queries: int = 10, k: int = 5
) -> DataFrame:
    """Contrastive-training hard negatives: for each query vector
    (vec_id < n_queries), the k most-similar vectors carrying a
    DIFFERENT label — the mining step that turns an embedding corpus
    into contrastive pairs (the near-misses the loss learns most from).

    Same exact-cosine template as knn_bruteforce (broadcast the bounded
    query set over one corpus scan, per-query top-k via row_number with
    an id tie-break) plus the cross-label predicate as a join filter —
    the label inequality prunes BEFORE scoring, so no same-label cosine
    is ever computed. Output is (query_id, rank, negative_id,
    query_label, negative_label) — identity and ranks only, no float
    column, so the oracle compare is insensitive to last-ulp cosine
    differences between engines (ranks themselves are stable: the
    synthetic vectors carry no exact cosine ties).

    100 TB path: swap the scan for the IVF/IVF-PQ shortlist (probe
    lists, label-filter the candidates, exact rerank) — identical
    semantics, bucket-pruned I/O.
    """
    e = embeddings.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        F.col("label").cast("int").alias("label"),
    )
    q = e.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("label").alias("query_label"),
    )
    scored = e.join(
        F.broadcast(q), F.col("label") != F.col("query_label")
    ).select(
        "query_id",
        "query_label",
        F.col("vec_id").alias("negative_id"),
        F.col("label").alias("negative_label"),
        cosine_similarity(F.col("qv"), F.col("v")).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("negative_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "negative_id", "query_label", "negative_label")
        .orderBy("query_id", "rank")
    )


def hard_negative_oracle(n_queries: int = 10, k: int = 5) -> str:
    """DuckDB oracle for ``hard_negative_mining`` — generated from the
    same (n_queries, k) as the query so non-default parameters can never
    silently pair with a stale fixed-parameter oracle string."""
    return f"""
SELECT query_id, rank, negative_id, query_label, negative_label
FROM (
  SELECT q.vec_id AS query_id,
         q.label  AS query_label,
         c.vec_id AS negative_id,
         c.label  AS negative_label,
         CAST(row_number() OVER (
            PARTITION BY q.vec_id
            ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                     c.vec_id ASC) AS INTEGER) AS rank
  FROM embeddings q
  JOIN embeddings c ON c.label <> q.label
  WHERE q.vec_id < {n_queries}
)
WHERE rank <= {k}
ORDER BY query_id, rank
"""


HARD_NEGATIVE_ORACLE = hard_negative_oracle()
