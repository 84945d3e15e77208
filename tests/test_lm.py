"""Pins for operators/lm.py: structural properties of the perplexity
scorer that the sf0.001 differential can't see. The BPE trainer and
encoder are checked against a sequential Python BPE in differential.py
(bpe_train_merges, bpe_encode_stats)."""

from __future__ import annotations

from conftest import SF_SMOKE

from tp1_distribuidos_mapreduce_spark import registry
from tp1_distribuidos_mapreduce_spark.operators import lm as LM


def test_perplexity_train_source_scores_lowest_quantile(spark):
    """The training source must be among the best-scoring (lowest mean
    NLL) sources — the signal the filter exists to produce. Fixture
    sources share a topical vocabulary, so demand top-half rather than
    strict argmin."""
    rows = registry.queries()["bigram_perplexity"](spark, SF_SMOKE).collect()
    scores = {r["source"]: r["mean_nll"] for r in rows}
    assert LM.LM_TRAIN_SOURCE in scores
    ranked = sorted(scores, key=scores.get)
    assert ranked.index(LM.LM_TRAIN_SOURCE) < len(ranked) / 2, scores
