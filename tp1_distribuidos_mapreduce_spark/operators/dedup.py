"""Deduplication operators for large-scale training-data pipelines.

No counterpart in the reference (its only grouping is wc/ii's groupBy-key);
these are the additive LLM-pipeline surface (BASELINE.md). All signature
computation is Catalyst-expression-based (functions/hashing.py) so the
expensive per-document work happens map-side inside whole-stage codegen;
only compact signatures/buckets ever shuffle.

Scale design:
- exact:    shuffle O(docs) × O(16-byte hash), never full text.
- jaccard:  shuffle O(doc·shingles); the classic inverted-index self-join.
            ``max_shingle_df`` caps hot-shingle blowup (a shingle shared by
            d docs generates d² candidate pairs — at web scale stopword-ish
            shingles must be dropped, the standard df-cut).
- minhash:  shuffle O(docs × bands) fixed-width rows; candidate pairs only
            within equal band-buckets (LSH), verified by signature overlap.
- simhash:  shuffle O(docs × 4) 16-bit chunk buckets; Hamming-verify within
            buckets (exact for distance ≤ 3 by pigeonhole over 4 chunks).
- embedding: bucketed by coarse quantization would be the 100 TB path; the
            exact variant here is the oracle-checkable baseline.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.hashing import (
    hamming_distance64,
    minhash_signature_expr,
    ngram_shingles,
    simhash_expr,
)
from ..functions.tokenize import tokenize
from ..functions.vectors import cosine_similarity
from .graph import _maybe_broadcast


def _simhash_udf() -> F.Column:
    """64-bit SimHash per token array, Arrow-batched: blake2b(token) bits →
    ±1 votes summed with one numpy unpackbits/sum per doc. The pure-
    Catalyst ``simhash_expr`` (functions/hashing.py) stays available for
    UDF-free pipelines, but its per-bit higher-order filters evaluate
    interpreted and measured ~4× slower; hashes are engine-internal either
    way (no oracle), so the faster family is used here. A per-batch token
    cache dedupes hashing across documents. (Factory, not module-level
    decorator: pandas_udf parses its DDL eagerly and needs a session.)"""

    @F.pandas_udf("long")
    def sim(token_arrays: pd.Series) -> pd.Series:
        import hashlib

        out = []
        cache: dict[str, bytes] = {}
        for toks in token_arrays:
            if len(toks) == 0:
                out.append(0)
                continue
            hs = np.empty((len(toks), 8), dtype=np.uint8)
            for i, t in enumerate(toks):
                b = cache.get(t)
                if b is None:
                    b = hashlib.blake2b(t.encode(), digest_size=8).digest()
                    cache[t] = b
                hs[i] = np.frombuffer(b, dtype=np.uint8)
            bits = np.unpackbits(hs, axis=1)
            votes = bits.astype(np.int32).sum(axis=0) * 2 - len(toks)
            fp_bits = (votes > 0).astype(np.uint8)
            out.append(
                int.from_bytes(np.packbits(fp_bits).tobytes(), "big", signed=True)
            )
        return pd.Series(out, dtype="int64")

    return sim


def _pairs_within(members_col: str) -> F.Column:
    """All unordered element pairs of an array column, as array<struct<a,b>>
    — the within-bucket candidate expansion for LSH gather. The
    two-parameter lambda receives the element index (intentionally here:
    pair each element with only its successors)."""
    ms = F.col(members_col)
    return F.flatten(
        F.transform(
            ms,
            lambda a, i: F.transform(
                F.slice(ms, i + 2, F.greatest(F.size(ms) - i - 1, F.lit(0))),
                lambda b: F.struct(a.alias("a"), b.alias("b")),
            ),
        )
    )


def dedup_exact(documents: DataFrame) -> DataFrame:
    """Exact dedup by content hash: one row per distinct text.

    Returns (text_hash, keep_doc_id, n_copies) — keep the smallest doc_id,
    the standard deterministic survivor rule. Grouping on md5(text) rather
    than text keeps shuffle rows fixed-width regardless of document size.
    """
    return (
        documents.select(
            F.md5(F.col("text").cast("binary")).alias("text_hash"), "doc_id"
        )
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
        .orderBy("text_hash")
    )


DEDUP_EXACT_ORACLE = """
SELECT md5(text)      AS text_hash,
       min(doc_id)    AS keep_doc_id,
       count(*)       AS n_copies
FROM documents
GROUP BY md5(text)
ORDER BY text_hash
"""


def _shingled_with_sizes(
    documents: DataFrame, n: int, max_shingle_df: int | None
):
    """Shared shingle pipeline for the exact-Jaccard joins: checkpointed
    (doc_id, sh, n_sh) rows with PRE-cut sizes, plus the df table, with
    the hot-shingle cut applied POST-size — the exact semantics both
    ngram_jaccard_pairs and ngram_jaccard_prefix_pairs (and the shared
    oracle) rely on. Extracted so the two operators cannot drift: the
    cut discipline lives in ONE place. Returns (shingled, df_tab) —
    df_tab is computed lazily only when a cut is requested or the
    caller needs the canonical order.

    The packed struct, the repartition widen, and the eager
    localCheckpoint all carry the per-operator rationale documented on
    ngram_jaccard_pairs (CSE containment, narrow-stage parallelism,
    single materialization of the regex pipeline).
    """
    packed = F.get(
        F.transform(
            F.array(F.array_distinct(ngram_shingles(tokenize("text"), n))),
            lambda shs: F.transform(
                shs, lambda s: F.struct(s.alias("sh"), F.size(shs).alias("n_sh"))
            ),
        ),
        0,
    )
    from ..session import widen_to_shuffle_parallelism

    documents = widen_to_shuffle_parallelism(documents)
    shingled = (
        documents.select("doc_id", F.explode(packed).alias("p"))
        .select("doc_id", F.col("p.sh").alias("sh"), F.col("p.n_sh").alias("n_sh"))
        .localCheckpoint(eager=True)
    )
    df_tab = shingled.groupBy("sh").agg(F.count("*").alias("df"))
    if max_shingle_df is not None:
        shingled = shingled.join(
            F.broadcast(df_tab.where(F.col("df") > max_shingle_df).select("sh")),
            "sh",
            "left_anti",
        )
    return shingled, df_tab


def ngram_jaccard_pairs(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.2,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs via inverted-index self-join.

    doc → distinct word-n-gram shingles → join on shingle → |A∩B| per pair
    → Jaccard = inter / (|A| + |B| - inter) → filter ≥ threshold.

    ``max_shingle_df`` drops shingles appearing in more than df documents
    before the join — the mandatory skew guard at web scale (a shingle
    shared by d docs emits d² join rows; one stopword-ish shingle at
    corpus scale is a job-killer). The registered query runs with the cut
    ON (``DEFAULT_MAX_SHINGLE_DF``) and the oracle mirrors it, so results
    stay exact *given the cut*: per-doc set sizes are computed before the
    cut, intersections only over surviving shingles, on both engines.
    """
    # Shared shingle pipeline (see _shingled_with_sizes: single packed
    # struct evaluation to contain CollapseProject re-inlining, narrow-
    # stage widen, ONE eager localCheckpoint for all consumers, sizes
    # pre-cut / survivors post-cut).
    shingled, _ = _shingled_with_sizes(documents, n, max_shingle_df)

    # SHUFFLE_HASH hint: both sides are the same exploded shingle table —
    # broadcasting one (as the size estimate otherwise allows) would funnel
    # the whole pipeline through the driver and is impossible at corpus
    # scale; a shuffle hash join co-partitions on sh and streams.
    a = shingled.alias("a")
    b = shingled.hint("shuffle_hash").alias("b")
    pairs = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_sh").alias("sz_a"),
            F.col("b.n_sh").alias("sz_b"),
        )
        .agg(F.count("*").alias("inter"))
    )
    # 4dp Jaccard by half-up INTEGER division, and the ≥-threshold gate
    # compares the scaled integer: round() of the exact rational
    # inter/union ties (e.g. 7/160), where Spark's shortest-repr HALF_UP
    # and DuckDB's raw-double round pick opposite sides — flipping
    # MEMBERSHIP at the threshold boundary, not just a digit.
    t4 = int(round(threshold * 10000))
    return (
        pairs.withColumn("u", F.col("sz_a") + F.col("sz_b") - F.col("inter"))
        .withColumn("j4", F.expr("(20000 * inter + u) div (2 * u)"))
        .where(F.col("j4") >= t4)
        .select("doc_a", "doc_b", (F.col("j4") / 10000.0).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


# Registered df-cut: at sf0.1 the hottest shingle reaches df=25 and a cut
# at 10 drops the candidate-pair mass (sum of df² over shingles) 2.7×; at
# web scale the same knob is what keeps the self-join bounded. sf0.01's max
# df is 7, so the driver's correctness check exercises the cut-enabled plan
# with the cut provably changing nothing there.
DEFAULT_MAX_SHINGLE_DF = 10


def _jaccard_ctes(max_df: int | None) -> str:
    """DuckDB CTE chain mirroring ngram_jaccard_pairs. Tokens = letter
    runs, lowered, empties dropped; shingles = distinct word 3-grams
    (whole doc if < n toks). Shared by the pairs oracle and the clusters
    oracle so the two can never drift apart. ``max_df`` mirrors
    ``max_shingle_df``: sizes come from the UNCUT shingle sets, the
    intersection join runs on the cut ones — exactly the Spark plan."""
    cut = (
        f"  QUALIFY count(*) OVER (PARTITION BY sh) <= {max_df}\n"
        if max_df is not None
        else ""
    )
    return (
        r"""toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^\p{L}]+'), x -> x <> '') AS t
  FROM documents
),
shingled AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS sh
  FROM toks, unnest(range(1, greatest(len(t) - 2, 1) + 1)) AS r(i)
  WHERE len(t) > 0
),
kept AS (
  SELECT doc_id, sh FROM shingled
"""
        + cut
        + r"""),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingled GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM kept a JOIN kept b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)"""
    )


def ngram_jaccard_oracle(
    max_df: int | None = DEFAULT_MAX_SHINGLE_DF, threshold: float = 0.2
) -> str:
    return f"""
WITH {_jaccard_ctes(max_df)}
SELECT doc_a, doc_b,
       ((20000 * i + u) // (2 * u)) / 10000.0 AS jaccard
FROM (
  SELECT doc_a, doc_b, i, sa.n_sh + sb.n_sh - i AS u
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
)
WHERE (20000 * i + u) // (2 * u) >= {int(round(threshold * 10000))}
ORDER BY doc_a, doc_b
"""


NGRAM_JACCARD_ORACLE = ngram_jaccard_oracle()


def minhash_lsh_pairs(
    documents: DataFrame,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.2,
) -> DataFrame:
    """MinHash + LSH near-duplicate candidates (the scale path for Jaccard).

    shingle → 32-hash MinHash signature (map-side) → 8 bands × 4 rows →
    bucket-join on (band, band-slice hash) → candidate pairs → estimated
    Jaccard = fraction of agreeing signature components ≥ threshold.

    Estimator, not exact → no SQL oracle (driver rows-only check); the
    pytest property test validates recall against ngram_jaccard_pairs.
    """
    rows_per_band = num_hashes // bands
    # Same conditional widen as ngram_jaccard_pairs: the tokenize+minhash
    # signature pipeline is CPU-bound and narrow, and the single-row-group
    # fixture parquet pins it to one core. Isolated A/B at sf0.1:
    # 2.1-4.6s -> 1.0-1.4s. (The blanket widen-everything pass lost on the
    # bench total — see the verify skill notes — but minhash, like
    # jaccard, has ONE expensive consumer and no Python-worker fanout, so
    # the targeted widen is a clean win.)
    from ..session import widen_to_shuffle_parallelism

    documents = widen_to_shuffle_parallelism(documents)
    toks = documents.select("doc_id", tokenize("text").alias("toks")).where(
        F.size("toks") > 0
    )
    sigs = toks.select(
        "doc_id",
        minhash_signature_expr(
            F.array_distinct(ngram_shingles(F.col("toks"), n)), num_hashes
        ).alias("sig"),
    )

    banded = sigs.select(
        "doc_id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[F.element_at("sig", b * rows_per_band + r + 1) for r in range(rows_per_band)]
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "sig", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))

    # Bucket-gather instead of a self-join: ONE shuffle on (band, bucket),
    # signatures computed once, pairs expanded JVM-side within each bucket.
    # A self-join would shuffle (and recompute) the signature stage twice.
    cands = (
        banded.groupBy("band", "bucket")
        .agg(F.collect_list(F.struct("doc_id", "sig")).alias("ms"))
        .where(F.size("ms") > 1)
        .select(F.explode(_pairs_within("ms")).alias("p"))
        .select(
            F.least("p.a.doc_id", "p.b.doc_id").alias("doc_a"),
            F.greatest("p.a.doc_id", "p.b.doc_id").alias("doc_b"),
            F.col("p.a.sig").alias("sig_a"),
            F.col("p.b.sig").alias("sig_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    est = F.round(
        F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda eq: eq))
        / F.lit(num_hashes),
        4,
    )
    return (
        cands.withColumn("est_jaccard", est)
        .where(F.col("est_jaccard") >= threshold)
        .select("doc_a", "doc_b", "est_jaccard")
        .orderBy("doc_a", "doc_b")
    )


def simhash_pairs(documents: DataFrame, max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs, exact for Hamming ≤ 3 via 4-chunk pigeonhole.

    64-bit fingerprint map-side; split into 4×16-bit chunks; two docs within
    Hamming distance 3 must agree on ≥1 chunk → bucket-join per chunk, then
    verify with popcount(xor). Shuffle: 4 fixed-width rows per doc.
    """
    fp = documents.select(
        "doc_id", _simhash_udf()(tokenize("text")).alias("fp")
    )
    chunked = fp.select(
        "doc_id",
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright("fp", c * 16).bitwiseAND(F.lit(0xFFFF)).alias("val"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("cv"),
    ).select("doc_id", "fp", F.col("cv.chunk").alias("chunk"), F.col("cv.val").alias("val"))

    # Same bucket-gather as minhash_lsh_pairs: one shuffle on (chunk, val),
    # fingerprints computed once, Hamming-verified pairs within buckets.
    return (
        chunked.groupBy("chunk", "val")
        .agg(F.collect_list(F.struct("doc_id", "fp")).alias("ms"))
        .where(F.size("ms") > 1)
        .select(F.explode(_pairs_within("ms")).alias("p"))
        .select(
            F.least("p.a.doc_id", "p.b.doc_id").alias("doc_a"),
            F.greatest("p.a.doc_id", "p.b.doc_id").alias("doc_b"),
            hamming_distance64(F.col("p.a.fp"), F.col("p.b.fp")).alias("hamming"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .where(F.col("hamming") <= max_hamming)
        .orderBy("doc_a", "doc_b")
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.45,
    num_blocks: int = 8,
    max_rows_per_group: int = 200_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (exact, blocked all-pairs).

    Block-partitioned exact algorithm: vector i belongs to block ``vec_id %
    B``; every unordered block pair {bi, bj} becomes one group holding the
    vectors of both blocks, and each group computes its cross-block (or
    within-block upper-triangle) similarities as ONE numpy matmul inside
    ``applyInPandas``. Communication is O(N·B) fixed-width rows instead of
    the O(N²) pair stream a join-based formulation shuffles; per-group
    memory is 2·N/B vectors, tunable by ``num_blocks`` to fit executors at
    any corpus size. A per-pair Catalyst cosine (aggregate over zip_with)
    is interpreted per element and ~100× slower than the Arrow→BLAS path.

    Output has no float column — pair identity only — so the oracle compare
    is insensitive to last-ulp cosine differences between engines.
    """
    import numpy as np
    import pandas as pd

    B = num_blocks
    e = embeddings.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        (F.col("vec_id") % B).cast("int").alias("blk"),
    )
    # Replicate each vector once per block-pair it participates in: block k
    # meets every block o as the unordered key (min, max) — {k,o} is emitted
    # once by each endpoint, {k,k} once total.
    replicated = e.select(
        "vec_id",
        "v",
        "blk",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.least(F.col("blk"), F.lit(o)).alias("bi"),
                        F.greatest(F.col("blk"), F.lit(o)).alias("bj"),
                    )
                    for o in range(B)
                ]
            )
        ).alias("bp"),
    ).select("vec_id", "v", "blk", F.col("bp.bi").alias("bi"), F.col("bp.bj").alias("bj"))

    def block_pairs(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        bi, bj = key
        # Loud scale guard: a group holds ~2N/B vectors, so an undersized
        # num_blocks at a bigger corpus fails HERE with instructions
        # instead of as an executor OOM deep in the matmul. Keep groups
        # bounded by growing num_blocks ~ N/budget (pair groups grow B²,
        # replication only B — raising B is cheap).
        if len(pdf) > max_rows_per_group:
            raise ValueError(
                f"embedding_near_dup_pairs: block-pair group ({bi},{bj}) has "
                f"{len(pdf)} rows > max_rows_per_group={max_rows_per_group}. "
                f"Raise num_blocks (currently {B}) to ~2*N/{max_rows_per_group} "
                "or raise max_rows_per_group if executors have the memory."
            )
        M = np.vstack(pdf["v"].to_numpy())
        norms = np.linalg.norm(M, axis=1)
        M = M / np.where(norms == 0.0, 1.0, norms)[:, None]
        ids = pdf["vec_id"].to_numpy()
        if bi == bj:
            S = M @ M.T
            ai, bix = np.triu_indices(len(ids), k=1)
        else:
            left = pdf["blk"].to_numpy() == bi
            Ml, il = M[left], ids[left]
            Mr, ir = M[~left], ids[~left]
            S = Ml @ Mr.T
            ai, bix = np.nonzero(S >= threshold)
        if bi == bj:
            keep = S[ai, bix] >= threshold
            a, b = ids[ai[keep]], ids[bix[keep]]
        else:
            a, b = il[ai], ir[bix]
        return pd.DataFrame(
            {"id_a": np.minimum(a, b), "id_b": np.maximum(a, b)}
        )

    return (
        replicated.groupBy("bi", "bj")
        .applyInPandas(block_pairs, "id_a long, id_b long")
        .orderBy("id_a", "id_b")
    )


EMBEDDING_NEAR_DUP_ORACLE = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b
FROM embeddings a, embeddings b
WHERE a.vec_id < b.vec_id
  AND list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.45
ORDER BY id_a, id_b
"""


def embedding_near_dup_pairs_ivf(
    embeddings: DataFrame,
    threshold: float = 0.45,
    n_lists: int = 16,
    n_probe: int = 2,
    sample_size: int = 2048,
    max_rows_per_group: int = 200_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, IVF-pruned — the 100 TB
    formulation the exact baseline's docstring points at.

    Candidate generation reuses knn_ivf's inverted file (similarity.py:
    same deterministic centroid training): each vector is assigned to its
    ``n_probe`` nearest coarse-quantizer lists, and ONLY vectors sharing a
    list are compared — exactly, with the same one-BLAS-matmul-per-group
    ``applyInPandas`` shape as the blocked baseline. A pair co-probing two
    lists is emitted twice and deduped on fixed-width (id_a, id_b) rows.

    Scale shape vs the exact baseline: communication drops from O(N·B)
    full-replication to O(N·n_probe) rows partitioned by semantic locality,
    and compute from all N²/2 comparisons to pairs within lists —
    ~N²·n_probe²/n_lists of them on balanced lists, tunable by ``n_lists``.
    Recall is tunable by ``n_probe`` (near-dups near a Voronoi boundary
    need their list sets to intersect); ``n_probe == n_lists`` degenerates
    to the exact baseline — both properties pinned in pytest, mirroring
    the minhash-vs-jaccard discipline. Results are engine-internal
    (quantizer-dependent), so this registers rows-only, with the exact
    blocked variant as its oracle-checked ground truth.
    """
    from .similarity import _nearest_lists_udf, _train_centroids

    e = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    C = _train_centroids(e, n_lists, sample_size)
    probed = e.select(
        "vec_id",
        "v",
        F.explode(_nearest_lists_udf(C, n_probe)(F.col("v"))).alias("list_id"),
    )

    def list_pairs(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        # Same loud guard as the blocked baseline: a hot list (skewed
        # quantizer cell) fails with instructions, not an executor OOM.
        if len(pdf) > max_rows_per_group:
            raise ValueError(
                f"embedding_near_dup_pairs_ivf: list {key[0]} holds "
                f"{len(pdf)} rows > max_rows_per_group={max_rows_per_group}. "
                f"Raise n_lists (currently {n_lists}) so lists stay under "
                "the budget, or raise max_rows_per_group."
            )
        M = np.vstack(pdf["v"].to_numpy())
        norms = np.linalg.norm(M, axis=1)
        M = M / np.where(norms == 0.0, 1.0, norms)[:, None]
        ids = pdf["vec_id"].to_numpy()
        S = M @ M.T
        ai, bi = np.triu_indices(len(ids), k=1)
        keep = S[ai, bi] >= threshold
        a, b = ids[ai[keep]], ids[bi[keep]]
        return pd.DataFrame({"id_a": np.minimum(a, b), "id_b": np.maximum(a, b)})

    return (
        probed.groupBy("list_id")
        .applyInPandas(list_pairs, "id_a long, id_b long")
        .dropDuplicates(["id_a", "id_b"])
        .orderBy("id_a", "id_b")
    )


# Pointer jumping closes a diameter-D chain in O(log D) rounds, so 64
# rounds cover any graph of up to 2^64 vertices.
CC_MAX_ROUNDS = 64


def connected_components(
    pairs: DataFrame, src: str = "doc_a", dst: str = "doc_b"
) -> DataFrame:
    """Group near-duplicate pairs into clusters: min-label propagation
    connected components. Returns (doc_id, cluster_id) for every doc that
    appears in a pair, cluster_id = smallest doc_id in its component.

    This is the step that turns pairwise dedup output into an actionable
    keep/drop list (keep doc_id == cluster_id, drop the rest). Pure
    DataFrame iteration: each round every vertex takes the min of its own
    label and its neighbors' labels (one shuffle), then pointer-jumps —
    label(v) <- min(label(v), label(label(v))) — which squares the
    propagation distance, so a diameter-D component closes in O(log D)
    rounds: paths of 30, 100 and 1,000 edges take 5, 7 and 10, the last
    one finding no label changed. Each round is localCheckpoint()ed:
    without it the unioned-join lineage doubles per iteration and the
    planner, not the data, becomes the bottleneck. The convergence check
    is a single sum(label) aggregate per round (labels only ever
    decrease, so an unchanged sum ⇔ a fixed point); the first sum comes
    with the node count the broadcast guard reads, in one aggregate. A
    loop that reaches CC_MAX_ROUNDS raises.

    At 100 TB scale this is the standard alternating-contraction shape
    (cf. the large-star/small-star algorithm); min-propagation keeps it
    oracle-checkable.
    """
    edges = (
        pairs.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .unionAll(pairs.select(F.col(dst).alias("s"), F.col(src).alias("d")))
        .dropDuplicates(["s", "d"])
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("s").alias("id"))
        .dropDuplicates(["id"])
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )
    n_nodes, prev_sum = labels.agg(F.count("*"), F.sum("label")).first()
    # Broadcast the node-cardinality label frame into the per-round joins
    # while it fits executor memory (the shared graph.py guard). Checkpointed
    # frames do report a size, but graph.py measured that such unhinted
    # joins plan as sort-merge and AQE turns them into broadcasts only after
    # both sides' shuffle map stages ran: without the hints this operator
    # ran 33 Spark jobs per dedup_clusters call instead of 29 (sf0.01,
    # identical rows). Past the limit both joins degrade gracefully to the
    # shuffled equi-join.
    bcast = _maybe_broadcast(n_nodes)
    for _ in range(CC_MAX_ROUNDS):
        lb = bcast(labels)
        msgs = edges.join(lb, edges.s == lb.id).select(F.col("d").alias("id"), "label")
        stepped = labels.unionAll(msgs).groupBy("id").agg(F.min("label").alias("label"))
        # Every label value is itself a vertex id present in `stepped`,
        # so the self-join resolves each label's own label.
        lol = bcast(
            stepped.select(F.col("id").alias("lid"), F.col("label").alias("label2"))
        )
        labels = (
            stepped.join(lol, stepped.label == lol.lid, "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce(F.col("label2"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        cur_sum = labels.agg(F.sum("label")).first()[0]
        if cur_sum == prev_sum:
            return labels.select(
                F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")
            ).orderBy("doc_id")
        prev_sum = cur_sum
    # silently returning a half-propagated labeling would split
    # components and let near-duplicates survive the keep/drop step
    raise RuntimeError(
        f"connected_components did not converge in {CC_MAX_ROUNDS} "
        "pointer-jumping rounds (theoretically impossible for <= 2^64 "
        "vertices — investigate the edge set)"
    )


def near_dup_clusters(
    documents: DataFrame, max_shingle_df: int | None = DEFAULT_MAX_SHINGLE_DF
) -> DataFrame:
    """End-to-end dedup clustering: n-gram Jaccard pairs (df-cut by
    default, the scale path) → connected components → (doc_id, cluster_id)
    membership."""
    return connected_components(
        ngram_jaccard_pairs(documents, max_shingle_df=max_shingle_df)
    )


# The oracle reuses the pairs oracle's CTE chain verbatim (same df-cut)
# and closes the pairs transitively with a recursive CTE: reach(id, label)
# enumerates every vertex reachable from every vertex (edges both
# directions), so min(label) per id is the component minimum.
NEAR_DUP_CLUSTERS_ORACLE = f"""
WITH RECURSIVE {_jaccard_ctes(DEFAULT_MAX_SHINGLE_DF)},
pairs AS (
  SELECT doc_a, doc_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE round(i / (sa.n_sh + sb.n_sh - i), 4) >= 0.2
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
reach(id, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id
)
SELECT id AS doc_id, min(label) AS cluster_id
FROM reach
GROUP BY id
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# Incremental dedup: new ingest batch vs already-curated base corpus
# --------------------------------------------------------------------------


def incremental_dedup(documents: DataFrame) -> DataFrame:
    """Dedup a NEW ingest batch against an already-curated BASE corpus
    without broadcasting the base key set or re-shuffling the base.

    The fixture ships a single corpus, so the query derives both sides
    deterministically (identically in the oracle): base = docs with
    ``doc_id % 3 != 0`` (the curated corpus); the new batch = fresh docs
    (``doc_id % 3 == 0``) plus re-crawled replays (``doc_id % 7 == 0``,
    re-ingested under ``doc_id + 1_000_000`` with identical text). Replays
    whose original stayed in base are the duplicates an incremental
    pipeline must drop; replays of docs that themselves moved to the new
    batch are genuinely novel vs base and must be kept.

    Shape (the per-batch incremental-ingest pattern at 100 TB): aggregate
    base content hashes into a ~32 KB Bloom bitmap (plans/bloom.py — the
    build shuffle is bounded by the bitmap's 4,096 words, never by corpus
    size), probe the new batch map-side, and send only surviving
    candidates into the exact hash semi-join that removes Bloom false
    positives. Per batch, the join shuffle carries ~|duplicates| rows
    instead of |batch|, and the bitmap is reusable across batches. The
    end-to-end result is EXACT (FPs die in the semi-join) → plain IN
    oracle.
    """
    from ..plans.bloom import bloom_prune, build_bloom_bitmap

    h = F.md5(F.col("text").cast("binary"))
    base_h = documents.where(F.col("doc_id") % 3 != 0).select(h.alias("h"))
    fresh = documents.where(F.col("doc_id") % 3 == 0)
    replay = documents.where(F.col("doc_id") % 7 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1_000_000)
    )
    new = fresh.unionByName(replay).select("doc_id", "source", h.alias("h"))

    bitmap = build_bloom_bitmap(base_h, "h")
    cand = bloom_prune(new, "h", bitmap)
    # Two source-cardinality aggregates joined on source — no join back on
    # doc_id, so replay ids can never collide with fresh ids no matter how
    # large the corpus grows (ADVICE r7: the former doc_id re-join would
    # fan out if real ids ever reached the replay offset).
    new_counts = new.groupBy("source").agg(F.count("*").alias("n_new"))
    dup_counts = (
        cand.join(base_h, "h", "left_semi")
        .groupBy("source")
        .agg(F.count("*").alias("n_dup_vs_base"))
    )
    n_dup = F.coalesce(F.col("n_dup_vs_base"), F.lit(0)).cast("long")
    return (
        new_counts.join(dup_counts, "source", "left")
        .select(
            "source",
            "n_new",
            n_dup.alias("n_dup_vs_base"),
            (F.col("n_new") - n_dup).alias("n_kept"),
        )
        .orderBy("source")
    )


INCREMENTAL_DEDUP_ORACLE = """
WITH base AS (
  SELECT md5(text) AS h FROM documents WHERE doc_id % 3 <> 0
), newb AS (
  SELECT doc_id, source, md5(text) AS h FROM documents WHERE doc_id % 3 = 0
  UNION ALL
  SELECT doc_id + 1000000, source, md5(text) FROM documents WHERE doc_id % 7 = 0
), flagged AS (
  SELECT source,
         CASE WHEN h IN (SELECT h FROM base) THEN 1 ELSE 0 END AS is_dup
  FROM newb
)
SELECT source,
       count(*) AS n_new,
       CAST(sum(is_dup) AS BIGINT) AS n_dup_vs_base,
       CAST(count(*) - sum(is_dup) AS BIGINT) AS n_kept
FROM flagged
GROUP BY source
ORDER BY source
"""


# --------------------------------------------------------------------------
# Exact shared-span dedup: documents sharing a verbatim k-token span
# --------------------------------------------------------------------------

DEFAULT_SPAN_K = 8
DEFAULT_MAX_SPAN_DF = 10


def shared_span_pairs(
    documents: DataFrame,
    k: int = DEFAULT_SPAN_K,
    max_span_df: int = DEFAULT_MAX_SPAN_DF,
) -> DataFrame:
    """Exact substring-level dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", scaled to the fixture's
    short docs): pairs of documents sharing at least one verbatim k-token
    span, with the count of distinct shared spans per pair.

    Spans are md5-hashed before the shuffle so every shuffled key is
    fixed-width regardless of span text — md5 is bit-identical in DuckDB,
    so the oracle groups on the very same keys and the differential stays
    exact. Spans occurring in more than ``max_span_df`` documents are
    boilerplate (licence headers, navigation chrome) and are dropped ON
    BOTH SIDES before pair expansion — the same df-cut skew guard as
    ngram_jaccard_pairs (``DEFAULT_MAX_SHINGLE_DF``): without it one viral
    span would expand into a quadratic pair blow-up at 100 TB.

    Plan: map-only span build (in-row transform + array_distinct) →
    explode → groupBy span-hash (the only data-sized shuffle; fixed-width
    keys) → df-cut → in-row pair expansion (`_pairs_within`) → pair-keyed
    count. No self-join of the corpus ever happens.
    """
    # Span kernel shared with benchmark_contamination / the cross-source
    # matrix (functions/hashing.md5_span_hashes): binds the token array as
    # a lambda variable (r21) so the tokenize composite is evaluated once
    # per row, not once per span position.
    from ..functions.hashing import md5_span_hashes

    t = tokenize("text")
    d = documents.select("doc_id", t.alias("t"))
    doc_spans = d.select(
        "doc_id", F.explode(md5_span_hashes(F.col("t"), k)).alias("s")
    )
    groups = (
        doc_spans.groupBy("s")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("docs"))
        .where((F.size("docs") >= 2) & (F.size("docs") <= max_span_df))
    )
    pairs = groups.select(F.explode(_pairs_within("docs")).alias("p"))
    return (
        pairs.groupBy(
            F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b")
        )
        .agg(F.count("*").alias("n_shared_spans"))
        .orderBy("doc_a", "doc_b")
    )


SHARED_SPAN_PAIRS_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^\p{{L}}]+'), x -> x <> '') AS t
  FROM documents
), spans AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(len(t) - {DEFAULT_SPAN_K} + 2, 1)),
                i -> md5(array_to_string(t[i:i+{DEFAULT_SPAN_K}-1], ' ')))) AS s
  FROM toks
), df AS (
  SELECT s FROM spans GROUP BY s
  HAVING count(*) BETWEEN 2 AND {DEFAULT_MAX_SPAN_DF}
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_spans
  FROM spans a JOIN df USING (s) JOIN spans b USING (s)
  WHERE a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, n_shared_spans FROM pairs ORDER BY doc_a, doc_b
"""


def prefix_duplicates(documents: DataFrame, k: int = 8) -> DataFrame:
    """Prefix-fingerprint duplicate groups: documents whose first ``k``
    tokens are identical — the cheap boilerplate-header dedup key a
    curation pass runs before any pairwise similarity (shared intros /
    templated openings collapse into one group each).

    Output: one row per duplicate group — (prefix_hash, n_docs,
    n_sources, first_doc, last_doc), ordered by first_doc. Groups of
    size 1 are dropped (they're the clean majority); docs with fewer
    than ``k`` tokens can't form a prefix and are excluded on both
    engines.

    Shape: the fingerprint is a map-only md5 over the in-row token
    slice (the shared-span discipline — fixed-width keys, bit-identical
    in DuckDB), and the census is ONE hash-keyed aggregate with
    map-side combine; nothing document-sized shuffles except the
    16-byte key rows. This is exact dedup generalized from whole-text
    md5 (dedup_exact) to a prefix key.
    """
    t = tokenize("text")
    d = documents.select("doc_id", "source", t.alias("t")).where(F.size("t") >= k)
    h = F.md5(F.concat_ws(" ", F.slice("t", 1, k)).cast("binary"))
    return (
        d.select("doc_id", "source", h.alias("prefix_hash"))
        .groupBy("prefix_hash")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct("source").alias("n_sources"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .where(F.col("n_docs") > 1)
        .orderBy("first_doc")
    )


PREFIX_DUPLICATES_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id, source,
         list_filter(regexp_split_to_array(lower(text), '[^\p{{L}}]+'),
                     x -> x <> '') AS t
  FROM documents
), keyed AS (
  SELECT doc_id, source, md5(array_to_string(t[1:8], ' ')) AS prefix_hash
  FROM toks WHERE len(t) >= 8
)
SELECT prefix_hash,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM keyed
GROUP BY prefix_hash
HAVING count(*) > 1
ORDER BY first_doc
"""


def cross_source_span_matrix(
    documents: DataFrame,
    k: int = DEFAULT_SPAN_K,
    max_span_df: int = DEFAULT_MAX_SPAN_DF,
) -> DataFrame:
    """Source-to-source verbatim-overlap matrix: for every pair of
    sources, how many distinct k-token spans appear verbatim in both —
    the provenance census a curation team reads to find which feeds
    syndicate from which (mirrors, scrapes, shared boilerplate) before
    deciding what to dedup or down-weight.

    Same span keys and df-cut skew guard as shared_span_pairs (md5-
    hashed fixed-width shuffle keys; spans in > ``max_span_df`` docs are
    boilerplate and dropped on both sides). After the span groupBy the
    per-span DISTINCT SOURCE set is bounded by |sources| — in-row pair
    expansion over it can never blow up the way doc pairs can, so the
    matrix aggregate is |sources|²-bounded regardless of corpus size.
    """
    # Same bound span kernel as shared_span_pairs (r21 — see there).
    from ..functions.hashing import md5_span_hashes

    t = tokenize("text")
    d = documents.select("doc_id", "source", t.alias("t"))
    span_docs = d.select(
        "source", F.explode(md5_span_hashes(F.col("t"), k)).alias("s")
    )
    groups = (
        span_docs.groupBy("s")
        .agg(
            F.count("*").alias("n_docs"),
            F.sort_array(F.collect_set("source")).alias("sources"),
        )
        .where((F.col("n_docs") >= 2) & (F.col("n_docs") <= max_span_df))
        .where(F.size("sources") >= 2)
    )
    pairs = groups.select(F.explode(_pairs_within("sources")).alias("p"))
    return (
        pairs.groupBy(
            F.col("p.a").alias("source_a"), F.col("p.b").alias("source_b")
        )
        .agg(F.count("*").cast("long").alias("n_shared_spans"))
        .orderBy("source_a", "source_b")
    )


CROSS_SOURCE_SPAN_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id, source,
         list_filter(regexp_split_to_array(lower(text), '[^\p{{L}}]+'), x -> x <> '') AS t
  FROM documents
), spans AS (
  SELECT DISTINCT doc_id, source,
         unnest(list_transform(range(1, greatest(len(t) - {DEFAULT_SPAN_K} + 2, 1)),
                i -> md5(array_to_string(t[i:i+{DEFAULT_SPAN_K}-1], ' ')))) AS s
  FROM toks
), grp AS (
  SELECT s, count(*) AS n_docs, count(DISTINCT source) AS n_src
  FROM spans GROUP BY s
  HAVING count(*) BETWEEN 2 AND {DEFAULT_MAX_SPAN_DF}
     AND count(DISTINCT source) >= 2
), pair_src AS (
  SELECT DISTINCT a.source AS source_a, b.source AS source_b, a.s
  FROM spans a JOIN grp USING (s) JOIN spans b USING (s)
  WHERE a.source < b.source
)
SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_shared_spans
FROM pair_src GROUP BY source_a, source_b
ORDER BY source_a, source_b
"""


def dedup_survivors(documents: DataFrame, k: int = 8) -> DataFrame:
    """Quality-aware survivor selection: the curation step AFTER cluster
    detection — which copy do we keep, and which rows go on the delete
    list? Companion to prefix_duplicates, which only censuses the
    groups: this emits the actionable (dropped → canonical) mapping a
    real pipeline materializes and applies.

    Clusters on the same first-``k``-token prefix fingerprint (the
    boilerplate-header dedup key), then picks the canonical member per
    cluster by (max n_chars, min doc_id) — keep the richest copy,
    deterministic tie-break — and emits one row per DROPPED document
    with its canonical replacement.

    Scale shape: fixed-width hash keys through one groupBy shuffle; the
    argmax is a max_by aggregate (no window, no second pass over raw
    text), then one hash-keyed join of the (hash → canonical) frame
    back to the member list. The ordering key is the STRUCT
    (n_chars, −doc_id) — lexicographic struct comparison gives exactly
    (n_chars asc, doc_id desc) with no packed-integer arithmetic, so
    the selection stays correct for any id space (no 2³² doc_id
    ceiling, no BIGINT overflow; pinned at 2³³ ids in
    test_dedup_similarity.py).
    """
    t = tokenize("text")
    d = documents.select(
        "doc_id", F.col("n_chars").cast("long").alias("n_chars"), t.alias("t")
    ).where(F.size("t") >= k)
    h = F.md5(F.concat_ws(" ", F.slice("t", 1, k)).cast("binary"))
    members = d.select(h.alias("prefix_hash"), "doc_id", "n_chars")
    canon = (
        members.groupBy("prefix_hash")
        .agg(
            F.expr("max_by(doc_id, struct(n_chars, -doc_id))").alias(
                "canonical_doc_id"
            ),
            F.count("*").alias("n_members"),
        )
        .where(F.col("n_members") > 1)
    )
    return (
        members.join(canon, "prefix_hash")
        .where(F.col("doc_id") != F.col("canonical_doc_id"))
        .select(
            "doc_id",
            "canonical_doc_id",
            "prefix_hash",
            F.col("n_members").cast("long").alias("n_members"),
        )
        .orderBy("doc_id")
    )


def dedup_survivors_oracle(k: int = 8) -> str:
    """DuckDB oracle for ``dedup_survivors`` at prefix length ``k`` —
    generated from the same parameter as the query so a non-default
    ``k`` can never silently pair with a stale fixed-k oracle string."""
    return rf"""
WITH toks AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
         list_filter(regexp_split_to_array(lower(text), '[^\p{{L}}]+'),
                     x -> x <> '') AS t
  FROM documents
), members AS (
  SELECT md5(array_to_string(t[1:{k}], ' ')) AS prefix_hash, doc_id, n_chars
  FROM toks WHERE len(t) >= {k}
), canon AS (
  -- (max n_chars, min doc_id) argmax via an explicit window — DuckDB's
  -- max_by lacks struct ordering keys, and a packed-integer key would
  -- reintroduce the 2^32 doc_id ceiling the Spark side just dropped.
  SELECT prefix_hash, doc_id AS canonical_doc_id, n_members
  FROM (
    SELECT prefix_hash, doc_id,
           count(*) OVER (PARTITION BY prefix_hash) AS n_members,
           row_number() OVER (PARTITION BY prefix_hash
                              ORDER BY n_chars DESC, doc_id ASC) AS rn
    FROM members)
  WHERE rn = 1 AND n_members > 1
)
SELECT doc_id, canonical_doc_id, prefix_hash,
       CAST(n_members AS BIGINT) AS n_members
FROM members JOIN canon USING (prefix_hash)
WHERE doc_id <> canonical_doc_id
ORDER BY doc_id
"""


DEDUP_SURVIVORS_ORACLE = dedup_survivors_oracle()


def ngram_jaccard_prefix_pairs(
    documents: DataFrame,
    n: int = 3,
    t_num: int = 1,
    t_den: int = 5,
    max_shingle_df: int | None = DEFAULT_MAX_SHINGLE_DF,
) -> DataFrame:
    """Exact n-gram Jaccard pairs via PREFIX FILTERING (PPJoin-style):
    identical output to ngram_jaccard_pairs at threshold t = t_num/t_den,
    reached through a provably complete candidate set instead of the
    full inverted-index self-join.

    The prefix lemma: order every doc's (post-cut) shingles by a shared
    canonical order (ascending document frequency, ties by shingle — the
    rarest-first order that maximizes pruning). If J(A,B) ≥ t then
    |A∩B| ≥ ⌈t·szA⌉, and the canonically-smallest common shingle must
    lie within A's first |A| − ⌈t·szA⌉ + 1 shingles AND within B's
    corresponding prefix — so joining PREFIXES only loses nothing. Docs
    whose post-cut set can't reach ⌈t·sz⌉ get an empty prefix and drop
    out for free. Candidates then verify exactly with one in-row
    array_intersect against the two full shingle arrays (the
    triangle-count discipline — doc-keyed hash joins, no second
    inverted-index pass).

    Threshold is a FRACTION (t_num/t_den) so the required-intersection
    ceiling stays pure integer arithmetic — computed against the
    BOUNDARY-RELAXED threshold t − 5·10⁻⁵ because the final filter
    (like the plain join and the shared oracle) accepts round(J,4) ≥ t,
    which admits pairs with J slightly below t; sizing the prefix for
    the relaxed threshold keeps the candidate set complete for every
    pair the filter can accept. Sizes (szA) are pre-cut, intersections
    post-cut — enforced structurally by sharing _shingled_with_sizes
    with ngram_jaccard_pairs.

    Scale shape vs the plain self-join: the join fans out only on
    PREFIX rows (at t=0.8 a doc indexes ~20% of its shingles; at the
    registered t=0.2 ~80% — the knob pays off as the threshold rises),
    and the verify step is candidate-cardinality. On top of prefix
    overlap, candidates are pruned in the join condition by PPJoin's
    LENGTH filter (t'·max(szA,szB) ≤ min(szA,szB) — a qualifying pair
    can't be too size-mismatched) and POSITIONAL filter (the remaining-
    suffix bound 1 + min(n_cut−pos) at the first common shingle must
    still reach the pair's required intersection) — both derived
    against the same boundary-relaxed t', so completeness is preserved
    (A/B-pinned vs the plain join at t = 0.2, 0.5, 0.75 and 0.8 in
    tests/test_dedup_similarity.py). The df table doubles as the
    canonical order, so the cut's aggregate is reused, not recomputed.
    """
    shingled, df_tab = _shingled_with_sizes(documents, n, max_shingle_df)
    ranked = shingled.join(df_tab, "sh")
    w_doc = Window.partitionBy("doc_id").orderBy("df", "sh")
    cut_sz = Window.partitionBy("doc_id")
    with_prefix = (
        ranked.withColumn("pos", F.row_number().over(w_doc))
        .withColumn("n_cut", F.count("*").over(cut_sz))
        # Boundary-relaxed required intersection: the FINAL filter (like
        # the plain join and the shared oracle) accepts round(J,4) >= t,
        # i.e. any pair with J >= t - 5e-5. Completeness therefore needs
        # the prefix sized for t' = t - 5e-5, not t: need = ceil(sz*t')
        # with t' = (t_num*20000 - t_den) / (t_den*20000), pure BIGINT.
        .withColumn(
            "need",
            F.expr(
                f"(n_sh * ({t_num} * 20000 - {t_den}) + {t_den} * 20000 - 1)"
                f" div ({t_den} * 20000)"
            ),
        )
        .withColumn("plen", F.col("n_cut") - F.col("need") + 1)
    )
    prefixes = with_prefix.where(F.col("pos") <= F.col("plen")).select(
        "doc_id", "sh", "pos", "n_cut", F.col("n_sh").alias("sz")
    )
    # PPJoin candidate pruning (both filters are completeness-preserving;
    # the exact verify below makes soundness free). Integer scale: with
    # t' = t − 5·10⁻⁵ = TN/TD, accepted pairs satisfy J ≥ t', hence
    #   LENGTH: J ≤ min(szA,szB)/max(szA,szB)  →  min·TD ≥ max·TN;
    #   POSITIONAL: at the FIRST common shingle (minimal pos in BOTH
    #   docs under the shared canonical order — the row the prefix lemma
    #   guarantees lands in both prefixes) the post-cut intersection is
    #   bounded by 1 + min(n_cutA−posA, n_cutB−posB), and J ≥ t' needs
    #   I·(TD+TN) ≥ (szA+szB)·TN; OR-ing the check over all matching
    #   rows equals checking the first match, since it maximizes both
    #   n_cut−pos terms. At t=0.8 the two filters cut verify fan-out
    #   that prefix overlap alone admits (size-mismatched and
    #   late-overlap pairs).
    _tn = t_num * 20000 - t_den
    _td = t_den * 20000
    candidates = (
        prefixes.alias("a")
        .join(
            prefixes.hint("shuffle_hash").alias("b"),
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                F.least(F.col("a.sz"), F.col("b.sz")) * _td
                >= F.greatest(F.col("a.sz"), F.col("b.sz")) * _tn
            )
            & (
                (
                    1
                    + F.least(
                        F.col("a.n_cut") - F.col("a.pos"),
                        F.col("b.n_cut") - F.col("b.pos"),
                    )
                )
                * (_td + _tn)
                >= (F.col("a.sz") + F.col("b.sz")) * _tn
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    arrays = shingled.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("sh")).alias("arr"),
        F.first("n_sh").alias("sz"),
    )
    verified = (
        candidates.join(
            arrays.select(
                F.col("doc_id").alias("doc_a"),
                F.col("arr").alias("arr_a"),
                F.col("sz").alias("sz_a"),
            ),
            "doc_a",
        )
        .join(
            arrays.select(
                F.col("doc_id").alias("doc_b"),
                F.col("arr").alias("arr_b"),
                F.col("sz").alias("sz_b"),
            ),
            "doc_b",
        )
        .withColumn("inter", F.size(F.array_intersect("arr_a", "arr_b")))
        # same half-up integer 4dp Jaccard + integer-scaled gate as
        # ngram_jaccard_pairs (the A/B test pins bitwise-identical output)
        .withColumn("u", F.col("sz_a") + F.col("sz_b") - F.col("inter"))
        .withColumn("j4", F.expr("(20000 * inter + u) div (2 * u)"))
        .where(F.col("j4") * t_den >= F.lit(10000) * t_num)
    )
    return verified.select(
        "doc_a", "doc_b", (F.col("j4") / 10000.0).alias("jaccard")
    ).orderBy("doc_a", "doc_b")
