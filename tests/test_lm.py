"""Pins for operators/lm.py: structural properties of the perplexity
scorer that the sf0.001 differential can't see. The BPE trainer and
encoder are checked against a sequential Python BPE in differential.py
(bpe_train_merges, bpe_encode_stats)."""

from __future__ import annotations

import pytest

from tp1_distribuidos_mapreduce_spark.operators import lm as LM


@pytest.mark.queries("bigram_perplexity")
def test_perplexity_train_source_scores_lowest_quantile(calls):
    """The training source must be among the best-scoring (lowest mean
    NLL) sources — the signal the filter exists to produce. Fixture
    sources share a topical vocabulary, so demand top-half rather than
    strict argmin."""
    scores = {r["source"]: r["mean_nll"] for r in calls["bigram_perplexity"].rows}
    assert LM.LM_TRAIN_SOURCE in scores
    ranked = sorted(scores, key=scores.get)
    assert ranked.index(LM.LM_TRAIN_SOURCE) < len(ranked) / 2, scores
