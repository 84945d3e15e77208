"""Property pins for the rows-only vector operators
(operators/vectors.py): PCA component order, k-means purity and label
centroids. Their numpy references (PCA projection, Lloyd's k-means)
live in differential.py; the oracle-backed label_centroid_cosine is
covered by the registry-wide differential in test_relational.py."""

from __future__ import annotations

import numpy as np
import pyarrow.parquet as pq
import pytest

from conftest import SF_SMOKE

from tp1_distribuidos_mapreduce_spark.operators import vectors as VC
from tp1_distribuidos_mapreduce_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def emb_np():
    t = pq.read_table(f"{SF_SMOKE}/embeddings.parquet")
    ids = t["vec_id"].to_numpy()
    labels = t["label"].to_numpy()
    M = np.stack(
        [np.asarray(x, dtype=np.float64) for x in t["embedding"].to_pylist()]
    )
    order = np.argsort(ids)
    return ids[order], labels[order], M[order]


@pytest.mark.queries("embedding_pca")
def test_pca_explained_variance_ordered(calls):
    """pc1 must carry at least as much variance as pc2 — the component
    ordering contract."""
    rows = calls["embedding_pca"].rows
    pc1 = np.array([r["pc1"] for r in rows])
    pc2 = np.array([r["pc2"] for r in rows])
    assert pc1.var() >= pc2.var()


@pytest.mark.queries("kmeans_clusters")
def test_kmeans_purity_consistent(calls, emb_np):
    ids, labels, M = emb_np
    for r in calls["kmeans_clusters"].rows:
        assert 0.0 < r["purity"] <= 1.0
        assert 0 <= r["majority_label"] <= int(labels.max())


def test_label_centroids_match_numpy(spark, emb_np):
    ids, labels, M = emb_np
    cents = {
        int(lab): M[labels == lab].mean(axis=0) for lab in np.unique(labels)
    }
    got = VC.label_centroids(load_table(spark, SF_SMOKE, "embeddings")).collect()
    assert len(got) == len(cents)
    for r in got:
        np.testing.assert_allclose(
            np.asarray(r["centroid"]), cents[int(r["label"])], atol=1e-9
        )
