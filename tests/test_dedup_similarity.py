"""Property tests for the sketch-based dedup/similarity operators (the ones
without SQL oracles) + sanity for exact variants on constructed corpora."""

from __future__ import annotations

import math

import pytest

from tp1_distribuidos_mapreduce_spark.operators import dedup as D
from tp1_distribuidos_mapreduce_spark.operators import similarity as S
from tp1_distribuidos_mapreduce_spark.operators import textstats as T

from conftest import SF_SMOKE


def docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


NEAR_DUP_ROWS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "the quick brown fox jumps over the lazy dog near the river bend"),  # near-dup of 1
    (3, "completely different content about spark catalyst optimizer plans"),
    (4, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 1
    (5, "spark catalyst optimizer rewrites logical plans into physical ones"),
]


def test_dedup_exact_groups_identical_texts(spark):
    out = D.dedup_exact(docs(spark, NEAR_DUP_ROWS))
    rows = {r.keep_doc_id: r.n_copies for r in out.collect()}
    assert rows[1] == 2  # docs 1 and 4 identical, survivor = min id
    assert out.count() == 4


def test_ngram_jaccard_finds_near_dups(spark):
    out = D.ngram_jaccard_pairs(docs(spark, NEAR_DUP_ROWS), threshold=0.5)
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in out.collect()}
    assert pairs[(1, 4)] == 1.0  # identical
    assert (1, 2) in pairs  # near-dup
    assert (1, 3) not in pairs


def test_minhash_lsh_recall_of_true_near_dups(spark):
    """LSH candidates must include every high-jaccard pair (recall property
    on real fixture data) and estimates must correlate with exact."""
    documents = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    exact = {
        (r.doc_a, r.doc_b)
        for r in D.ngram_jaccard_pairs(documents, threshold=0.5).collect()
    }
    approx = {
        (r.doc_a, r.doc_b)
        for r in D.minhash_lsh_pairs(documents, threshold=0.2).collect()
    }
    missed = exact - approx
    assert not missed, f"LSH missed high-similarity pairs: {missed}"


def test_minhash_identical_docs_get_identical_signatures(spark):
    out = D.minhash_lsh_pairs(docs(spark, NEAR_DUP_ROWS), threshold=0.9)
    pairs = {(r.doc_a, r.doc_b): r.est_jaccard for r in out.collect()}
    assert pairs.get((1, 4)) == 1.0


def test_simhash_identical_docs_distance_zero(spark):
    out = D.simhash_pairs(docs(spark, NEAR_DUP_ROWS), max_hamming=3)
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in out.collect()}
    # identical docs -> identical fingerprints; detection is GUARANTEED for
    # hamming <= 3 (4-chunk pigeonhole); larger distances are best-effort.
    assert pairs.get((1, 4)) == 0
    # dissimilar docs must not appear at a tight threshold
    assert (1, 3) not in pairs and (3, 5) not in pairs


def test_embedding_near_dup_pairs_symmetric_free(spark):
    out = D.embedding_near_dup_pairs(
        spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet"), threshold=0.4
    ).collect()
    assert all(r.id_a < r.id_b for r in out)


def test_embedding_ivf_full_probe_matches_exact(spark):
    """n_probe == n_lists ⇒ every vector probes every list, so every pair
    shares a list and the IVF variant degenerates to the exact baseline —
    the analogue of knn_ivf's probe-monotonicity pin."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    exact = [tuple(r) for r in D.embedding_near_dup_pairs(emb, threshold=0.4).collect()]
    full = [
        tuple(r)
        for r in D.embedding_near_dup_pairs_ivf(
            emb, threshold=0.4, n_lists=8, n_probe=8
        ).collect()
    ]
    assert full == exact


def test_embedding_ivf_subset_and_recall(spark):
    """IVF-pruned pairs verify with the exact cosine, so output ⊆ exact
    (no false positives ever); recall at the default n_probe is pinned as
    a floor, mirroring minhash-vs-jaccard discipline."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    exact = {tuple(r) for r in D.embedding_near_dup_pairs(emb, threshold=0.4).collect()}
    approx = {
        tuple(r)
        for r in D.embedding_near_dup_pairs_ivf(emb, threshold=0.4).collect()
    }
    assert approx <= exact, f"false positives: {approx - exact}"
    if exact:
        recall = len(approx & exact) / len(exact)
        # Measured on this fixture at default n_probe: 0.591 (39/66 pairs),
        # deterministic across runs (hash-based centroid sample, no rand).
        # Pin ~10% below the measured value as the regression floor.
        assert recall >= 0.53, f"IVF near-dup recall regressed: {recall}"


def test_embedding_near_dup_group_budget_guard(spark):
    """The scale guard must fail loudly (not OOM) when a block-pair group
    exceeds the row budget."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    # executor-side ValueError surfaces as PythonException/Py4JJavaError;
    # both embed the message text.
    with pytest.raises(Exception, match="max_rows_per_group"):
        D.embedding_near_dup_pairs(emb, max_rows_per_group=3).collect()


def test_knn_lsh_recall_vs_bruteforce(spark):
    """Bucketed ANN must recover a reasonable fraction of true top-5.
    Multi-probe (Hamming-1 bucket flips, query-side only) measured 0.66
    on this fixture vs 0.14 single-probe — deterministic (seed-42
    hyperplanes). Pinned ~10% below the measured values."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    exact = {
        (r.query_id, r.neighbor_id) for r in S.knn_bruteforce(emb, 10, 5).collect()
    }
    approx = {(r.query_id, r.neighbor_id) for r in S.knn_lsh(emb, 10, 5).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.58, f"multi-probe LSH recall regressed: {recall}"
    single = {
        (r.query_id, r.neighbor_id)
        for r in S.knn_lsh(emb, 10, 5, multiprobe=False).collect()
    }
    single_recall = len(exact & single) / len(exact)
    assert single_recall >= 0.1, f"LSH recall collapsed: {single_recall}"


def test_knn_ivf_pq_recall_vs_bruteforce(spark):
    """IVF-PQ must stay close to plain IVF despite carrying only m-byte
    codes on the index rows. Measured on this fixture at defaults:
    0.58 (vs plain IVF's 0.64), deterministic (seed-42 training on the
    fixed vec_id-ordered sample). Pinned ~10% below the measured value."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    exact = {
        (r.query_id, r.neighbor_id) for r in S.knn_bruteforce(emb, 10, 5).collect()
    }
    approx = {(r.query_id, r.neighbor_id) for r in S.knn_ivf_pq(emb, 10, 5).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.52, f"IVF-PQ recall regressed: {recall}"


def test_knn_ivf_pq_index_rows_carry_codes_not_vectors(spark):
    """The memory contract: every shortlist candidate is scored from its
    PQ codes; raw vectors re-enter only for the bounded exact rerank.
    Codes must be exactly m_subq small ints."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    from tp1_distribuidos_mapreduce_spark.operators.similarity import (
        _as_double,
        _collect_sample,
        _pq_encode_udf,
        _train_pq_codebooks,
    )
    import pyspark.sql.functions as F

    e = _as_double(emb)
    books = _train_pq_codebooks(_collect_sample(e, 2048), 8, 16)
    codes = e.select(_pq_encode_udf(books)(F.col("v")).alias("c")).collect()
    assert all(len(r.c) == 8 for r in codes)
    assert all(0 <= x < 16 for r in codes for x in r.c)


def test_doc_fingerprint_properties(spark):
    out = {r.doc_id: r for r in T.doc_fingerprint(docs(spark, NEAR_DUP_ROWS)).collect()}
    # identical docs -> identical fingerprint sets
    assert out[1].fingerprints == out[4].fingerprints
    # near-dup docs share most fingerprints
    a, b = set(out[1].fingerprints), set(out[2].fingerprints)
    assert len(a & b) / len(a | b) > 0.5
    # disjoint docs share few
    c = set(out[3].fingerprints)
    assert len(a & c) / len(a | c) < 0.3


def test_language_id_on_constructed_texts(spark):
    rows = [
        (1, "the cat and the dog of a house is here"),
        (2, "el perro y la casa de los gatos en madrid"),
        (3, "der hund und die katze ist von berlin mit"),
        (4, "le chien et la maison les chats est dans paris"),
        (5, "xyzzy plugh"),
    ]
    out = {r.doc_id: r.pred_lang for r in T.language_id(docs(spark, rows)).collect()}
    assert out == {1: "en", 2: "es", 3: "de", 4: "fr", 5: "und"}


def test_connected_components_on_constructed_graph(spark):
    # chain 1-2-3, pair 5-6, chain 10-11-12-13 (long diameter), isolated-by-absence 99
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (10, 11), (11, 12), (12, 13)],
        "doc_a long, doc_b long",
    )
    got = {r.doc_id: r.cluster_id for r in D.connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 10: 10, 11: 10, 12: 10, 13: 10}


@pytest.mark.parametrize("n_edges", [30, 100])
def test_connected_components_closes_long_chains(spark, monkeypatch, n_edges):
    """A path of n_edges edges has diameter n_edges; neighbor-min alone
    needs that many rounds. With pointer jumping every node must carry
    the component minimum within ⌈log₂ n⌉ + 1 rounds for n nodes, the
    last round being the one that sees no label change. Rounds are the
    localCheckpoint calls after the edge and label builds."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n_edges)], "doc_a long, doc_b long"
    )
    calls = []
    original = type(pairs).localCheckpoint

    def counted(self, *args, **kwargs):
        calls.append(1)
        return original(self, *args, **kwargs)

    monkeypatch.setattr(type(pairs), "localCheckpoint", counted)
    out = [tuple(r) for r in D.connected_components(pairs).collect()]
    assert out == [(i, 0) for i in range(n_edges + 1)]
    assert len(calls) - 2 <= math.ceil(math.log2(n_edges + 1)) + 1, len(calls)


def test_near_dup_clusters_label_is_component_min(spark):
    documents = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    pairs = {(r.doc_a, r.doc_b) for r in D.ngram_jaccard_pairs(documents).collect()}
    clusters = {
        r.doc_id: r.cluster_id for r in D.near_dup_clusters(documents).collect()
    }
    # every paired doc is clustered, and pair members share a cluster
    for a, b in pairs:
        assert clusters[a] == clusters[b]
    # cluster label is a member and the minimum of its members
    members: dict[int, list[int]] = {}
    for d, c in clusters.items():
        members.setdefault(c, []).append(d)
    for c, ms in members.items():
        assert c == min(ms)


def test_knn_ivf_recall_vs_bruteforce(spark):
    """IVF with n_probe=4 of 16 lists scans ~25% of the corpus; on random
    synthetic embeddings (weak cluster structure) recall is bounded by the
    data — pin a floor to catch regressions, not SOTA recall."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    exact = {
        (r.query_id, r.neighbor_id) for r in S.knn_bruteforce(emb, 10, 5).collect()
    }
    approx = {(r.query_id, r.neighbor_id) for r in S.knn_ivf(emb, 10, 5).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3, f"IVF recall collapsed: {recall}"


def test_knn_ivf_probe_monotonicity(spark):
    """Probing every list must recover brute-force exactly (same tie-break)."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    exact = [
        (r.query_id, r.rank, r.neighbor_id)
        for r in S.knn_bruteforce(emb, 5, 3).collect()
    ]
    full = [
        (r.query_id, r.rank, r.neighbor_id)
        for r in S.knn_ivf(emb, 5, 3, n_lists=8, n_probe=8).collect()
    ]
    assert full == exact


@pytest.mark.parametrize("max_df", [1, 2, 3])
def test_jaccard_df_cut_parity_where_cut_bites(spark, duck, max_df):
    """Spark left_anti df-cut vs DuckDB QUALIFY, at cuts low enough that
    shingles are provably dropped on the sf0.001 fixture (its max shingle
    df is ~7, so DEFAULT_MAX_SHINGLE_DF=10 never bites in tests — this
    pins the sizes-before-cut / intersect-after-cut contract on both
    engines where the cut actually removes shingles)."""
    from tp1_distribuidos_mapreduce_spark.sources.tables import load_table

    from conftest import assert_df_matches_oracle

    documents = load_table(spark, SF_SMOKE, "documents")
    sdf = D.ngram_jaccard_pairs(documents, max_shingle_df=max_df)
    assert_df_matches_oracle(sdf, duck, D.ngram_jaccard_oracle(max_df))


def test_jaccard_plan_scans_documents_at_most_once(spark):
    """Regression pin for the round-2 df-cut plan bug: the hot aggregate,
    anti-join, and both self-join sides each re-derived the shingle
    pipeline, scanning documents.parquet 4x. With the localCheckpoint the
    returned plan reads the materialized shingle RDD — no parquet scan of
    documents may remain (the one scan happened at checkpoint time)."""
    from tp1_distribuidos_mapreduce_spark.sources.tables import load_table

    documents = load_table(spark, SF_SMOKE, "documents")
    sdf = D.ngram_jaccard_pairs(documents, max_shingle_df=D.DEFAULT_MAX_SHINGLE_DF)
    plan = sdf._jdf.queryExecution().executedPlan().toString()
    n_doc_scans = sum(
        1
        for line in plan.splitlines()
        if "Scan parquet" in line and "documents" in line
    )
    assert n_doc_scans <= 1, plan


def test_knn_ivf_persisted_matches_rebuild(spark):
    """The persisted bucketed IVF index must return bit-identical results
    to the rebuild-every-time knn_ivf (training sample and Lloyd rounds
    are deterministic), and its scan must show bucket pruning — only the
    probed list buckets are read, the I/O shape that makes repeated ANN
    searches cheap at scale."""
    from tp1_distribuidos_mapreduce_spark.sources.tables import load_table

    rebuilt = S.knn_ivf(load_table(spark, SF_SMOKE, "embeddings"))
    persisted = S.knn_ivf_persisted(spark, SF_SMOKE)
    assert [tuple(r) for r in persisted.collect()] == [
        tuple(r) for r in rebuilt.collect()
    ]
    plan = persisted._jdf.queryExecution().executedPlan().toString()
    assert "SelectedBucketsCount" in plan, plan[:3000]


def test_knn_ivf_pq_persisted_matches_rebuild(spark):
    """The persisted IVF-PQ index (codes on disk, no raw vectors) must
    return bit-identical results to the rebuild-every-time knn_ivf_pq
    (shared deterministic training), with bucket pruning visible at the
    code-table scan."""
    from tp1_distribuidos_mapreduce_spark.sources.tables import load_table

    rebuilt = S.knn_ivf_pq(load_table(spark, SF_SMOKE, "embeddings"))
    persisted = S.knn_ivf_pq_persisted(spark, SF_SMOKE)
    assert [tuple(r) for r in persisted.collect()] == [
        tuple(r) for r in rebuilt.collect()
    ]
    plan = persisted._jdf.queryExecution().executedPlan().toString()
    assert "SelectedBucketsCount" in plan, plan[:3000]


def test_prefix_jaccard_equals_plain_and_prunes(spark):
    """PPJoin correctness + pruning: the prefix-filtered variant must
    produce EXACTLY the inverted-index join's pairs (same threshold,
    same df-cut), and its candidate-generation join must touch fewer
    index rows than the full shingle table (the point of the prefix)."""
    from pyspark.sql import functions as F

    from tp1_distribuidos_mapreduce_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    # the four corpus-sized collects are independent — overlap them
    # (r13 suite-time trim: 13.4s → ~7s; scheduler is thread-safe)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=4) as pool:
        f_plain = pool.submit(
            lambda: sorted(
                tuple(r)
                for r in D.ngram_jaccard_pairs(
                    docs, max_shingle_df=D.DEFAULT_MAX_SHINGLE_DF
                ).collect()
            )
        )
        f_pref = pool.submit(
            lambda: sorted(
                tuple(r) for r in D.ngram_jaccard_prefix_pairs(docs).collect()
            )
        )
        # pruning: at a higher threshold the prefix is a small fraction
        # of each doc's shingles (t=3/4 → prefix len ≈ n/4) — pin BOTH
        # the output equality and the actual row reduction, so a
        # regression that degenerates plen to n_cut (full self-join)
        # fails here even though outputs would still match
        f_hi = pool.submit(
            lambda: sorted(
                tuple(r)
                for r in D.ngram_jaccard_prefix_pairs(
                    docs, t_num=3, t_den=4
                ).collect()
            )
        )
        f_plain_hi = pool.submit(
            lambda: sorted(
                tuple(r)
                for r in D.ngram_jaccard_pairs(
                    docs, threshold=0.75, max_shingle_df=D.DEFAULT_MAX_SHINGLE_DF
                ).collect()
            )
        )
        plain, pref = f_plain.result(), f_pref.result()
        hi_pairs, plain_hi = f_hi.result(), f_plain_hi.result()
    assert pref == plain and len(plain) > 0
    assert hi_pairs == plain_hi

    # VERDICT r9 #4 done-criteria: bitwise-identical at t=0.5 (the
    # registered threshold) and t=0.8 with the PPJoin length +
    # positional filters active in the candidate join
    for t_num, t_den, thr in ((1, 2, 0.5), (4, 5, 0.8)):
        got = sorted(
            tuple(r)
            for r in D.ngram_jaccard_prefix_pairs(
                docs, t_num=t_num, t_den=t_den
            ).collect()
        )
        want = sorted(
            tuple(r)
            for r in D.ngram_jaccard_pairs(
                docs, threshold=thr, max_shingle_df=D.DEFAULT_MAX_SHINGLE_DF
            ).collect()
        )
        assert got == want, f"t={thr}"

    shingled, df_tab = D._shingled_with_sizes(docs, 3, D.DEFAULT_MAX_SHINGLE_DF)
    from pyspark.sql.window import Window as W

    ranked = shingled.join(df_tab, "sh")
    t_num, t_den = 3, 4
    with_prefix = (
        ranked.withColumn(
            "pos", F.row_number().over(W.partitionBy("doc_id").orderBy("df", "sh"))
        )
        .withColumn("n_cut", F.count("*").over(W.partitionBy("doc_id")))
        .withColumn(
            "need",
            F.expr(
                f"(n_sh * ({t_num} * 20000 - {t_den}) + {t_den} * 20000 - 1)"
                f" div ({t_den} * 20000)"
            ),
        )
        .withColumn("plen", F.col("n_cut") - F.col("need") + 1)
    )
    n_prefix = with_prefix.where(F.col("pos") <= F.col("plen")).count()
    n_index = shingled.count()
    assert n_prefix < 0.4 * n_index


def test_dedup_survivors_exact_beyond_2_32_ids(spark):
    """Survivor argmax is a STRUCT ordering key, not packed integer
    arithmetic: selection stays exact when the doc_id gap exceeds
    Δn_chars·2³² — the regime where the old n_chars·2³²−doc_id key
    mis-ordered (ADVICE r9: dedup.py packed-key ceiling)."""
    txt = "alpha beta gamma delta epsilon zeta eta theta shared prefix"
    rows = [
        # small id, SMALLER n_chars — the old packed key wrongly
        # preferred this one (60·2³²−5 > 61·2³²−2³³ = 59·2³²).
        (5, 60, txt),
        # huge id, LARGEST n_chars — the correct canonical survivor.
        (1 << 33, 61, txt + " longer"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, n_chars long, text string")
    out = D.dedup_survivors(df, k=8).collect()
    assert len(out) == 1
    assert out[0].doc_id == 5
    assert out[0].canonical_doc_id == 1 << 33
    assert out[0].n_members == 2


def test_prefix_jaccard_randomized_boundary_stress(spark):
    """Randomized completeness stress for the PPJoin filters: SHORT
    random documents make tiny shingle sets, so exact-boundary Jaccards
    (round(J,4) == t) occur constantly — the regime where the relaxed
    ceiling, the length filter, and the positional filter could each
    over-prune by one. Prefix variant must equal the plain inverted-
    index join bitwise at every threshold, seed-deterministic."""
    import numpy as np

    rng = np.random.RandomState(42)
    vocab = [f"w{i}" for i in range(30)]
    rows = []
    for doc_id in range(60):
        n_words = int(rng.randint(4, 14))
        words = [vocab[rng.randint(len(vocab))] for _ in range(n_words)]
        rows.append((doc_id, " ".join(words)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    # all 8 collects (4 thresholds × prefix/plain) run concurrently —
    # each is a tiny 60-doc job, so wall time is per-job overhead, not
    # CPU (r13 suite-time trim: 8.6s → ~3s; scheduler is thread-safe)
    from concurrent.futures import ThreadPoolExecutor

    def pair(args):
        t_num, t_den = args
        got = sorted(
            tuple(r)
            for r in D.ngram_jaccard_prefix_pairs(
                docs, t_num=t_num, t_den=t_den, max_shingle_df=None
            ).collect()
        )
        want = sorted(
            tuple(r)
            for r in D.ngram_jaccard_pairs(
                docs, threshold=t_num / t_den, max_shingle_df=None
            ).collect()
        )
        return t_num, t_den, got, want

    with ThreadPoolExecutor(max_workers=4) as pool:
        for t_num, t_den, got, want in pool.map(
            pair, ((1, 3), (1, 2), (2, 3), (4, 5))
        ):
            assert got == want, f"t={t_num}/{t_den}"
            assert want, f"t={t_num}/{t_den}: stress corpus produced no pairs"
