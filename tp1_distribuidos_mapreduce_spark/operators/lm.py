"""Statistical language-model operators for corpus curation: bigram-LM
perplexity scoring (the CCNet/Gopher quality-filter shape — train a
cheap LM on a trusted slice, score everything, drop the tail) and an
iterative BPE merge trainer (the tokenizer-training shape).

Reference scope: the reference engine (kmu01/TP1-Distribuidos-MapReduce,
plugins/wc/wc.go + plugins/ii/ii.go) gives users word-level map/reduce
primitives; these operators are the compositions an LLM-data team builds
on top of exactly those primitives (token counts → conditional
probabilities → per-doc scores; pair counts → greedy merges).

Scale shapes (100 TB):
- Perplexity scoring is two vocabulary-sized count tables (bigram +
  unigram, both with map-side partials) joined back onto the exploded
  corpus by key — shuffled equi-joins on fixed-width keys; no model ever
  sits on the driver.
- BPE training iterates [pair-count aggregate → argmax (a bounded
  2-field driver scalar) → in-row merge]. The corpus-sized state is the
  per-word symbol table, which stays distributed; the only driver
  round-trip per merge is the winning pair itself — the irreducible
  control decision of greedy BPE.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.tokenize import tokenize

# Trusted training slice for the bigram LM: one source, chosen
# deterministically. Everything (all 20 sources) is scored against it.
LM_TRAIN_SOURCE = "src0"


def bigram_perplexity_by_source(
    documents: DataFrame, train_source: str = LM_TRAIN_SOURCE
) -> DataFrame:
    """Per-source mean negative log-likelihood under an add-one-smoothed
    bigram LM trained on ``train_source`` — the perplexity-filter signal:
    sources whose text distribution diverges from the trusted slice score
    high.

    Model: P(w2|w1) = (c(w1,w2) + 1) / (c(w1) + V), with V = |training
    vocabulary| and c(·) = 0 for unseen keys — add-one smoothing keeps
    every probability finite so out-of-domain text scores high instead of
    crashing the pipeline. Per doc: mean of −ln P over its bigrams (docs
    with < 2 tokens contribute nothing); per source: doc-count and the
    mean of per-doc means, rounded at 4dp.

    Determinism: ln() of the same double is bit-identical per engine and
    within 1 ulp across engines; the aggregated means sit ~12 orders of
    magnitude away from any 4dp rounding boundary (irrational log sums,
    unlike the exact-decimal avg() trap in corpus_curation).

    Plan: both count tables and the scored explode reuse one tokenize
    pass shape; the joins are shuffled equi-joins on (w1, w2) / w1 with
    the unigram table small enough to broadcast at any realistic V.
    """
    from ..functions.tokenize import bind_once

    toks = tokenize("text")
    docs = documents.select("doc_id", "source", toks.alias("t"))

    # Token array bound as a lambda variable before the per-position
    # fan-out (r21, bind_once rationale): the tokenize composite would
    # otherwise be inlined into the element_at lambda and re-run once
    # per bigram position.
    def _bigrams_of(tk: F.Column) -> F.Column:
        return F.when(
            F.size(tk) < 2,
            F.array().cast("array<struct<w1:string,w2:string>>"),
        ).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.size(tk) - 1),
                lambda i: F.struct(
                    F.element_at(tk, i).alias("w1"),
                    F.element_at(tk, i + 1).alias("w2"),
                ),
            )
        )

    bigrams = bind_once(F.col("t"), _bigrams_of)
    train = docs.where(F.col("source") == train_source)
    train_bi = (
        train.select(F.explode(bigrams).alias("b"))
        .groupBy(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        .agg(F.count("*").alias("c12"))
    )
    train_uni = (
        train.select(F.explode("t").alias("w1"))
        .groupBy("w1")
        .agg(F.count("*").alias("c1"))
    )
    vocab_size = train.select(F.explode("t").alias("w")).agg(
        F.countDistinct("w").alias("v")
    )

    scored = (
        docs.select("doc_id", "source", F.explode(bigrams).alias("b"))
        .select("doc_id", "source", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        .join(train_bi, ["w1", "w2"], "left")
        .join(F.broadcast(train_uni), "w1", "left")
        .crossJoin(F.broadcast(vocab_size))
        .select(
            "doc_id",
            "source",
            (
                -F.log(
                    (F.coalesce(F.col("c12"), F.lit(0)) + 1)
                    / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("v"))
                )
            ).alias("nll"),
        )
    )
    per_doc = scored.groupBy("doc_id", "source").agg(F.avg("nll").alias("doc_nll"))
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.round(F.avg("doc_nll"), 4).alias("mean_nll"),
        )
        .orderBy("source")
    )


BIGRAM_PERPLEXITY_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id, source,
         list_filter(regexp_split_to_array(lower(text), '[^\p{{L}}]+'),
                     x -> x <> '') AS t
  FROM documents
), bi AS (
  SELECT doc_id, source,
         unnest(list_transform(range(1, greatest(len(t), 1)),
                i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS b
  FROM toks WHERE len(t) >= 2
), pairs AS (
  SELECT doc_id, source, b.w1 AS w1, b.w2 AS w2 FROM bi
  WHERE b.w2 IS NOT NULL
), train_bi AS (
  SELECT w1, w2, count(*) AS c12 FROM pairs
  WHERE source = '{LM_TRAIN_SOURCE}' GROUP BY w1, w2
), train_uni AS (
  SELECT w1, count(*) AS c1
  FROM (SELECT unnest(t) AS w1 FROM toks WHERE source = '{LM_TRAIN_SOURCE}')
  GROUP BY w1
), v AS (
  SELECT count(DISTINCT w1) AS v FROM train_uni
), scored AS (
  SELECT p.doc_id, p.source,
         -ln((coalesce(c12, 0) + 1)
             / CAST(coalesce(c1, 0) + v.v AS DOUBLE)) AS nll
  FROM pairs p
  LEFT JOIN train_bi USING (w1, w2)
  LEFT JOIN train_uni USING (w1)
  CROSS JOIN v
), per_doc AS (
  SELECT doc_id, source, avg(nll) AS doc_nll FROM scored
  GROUP BY doc_id, source
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(doc_nll), 4) AS mean_nll
FROM per_doc GROUP BY source ORDER BY source
"""


# --------------------------------------------------------------------------
# Iterative BPE merge training over the distributed word-frequency table
# --------------------------------------------------------------------------

BPE_N_MERGES = 10


def bpe_train_merges(documents: DataFrame, n_merges: int = BPE_N_MERGES) -> DataFrame:
    """Greedy byte-pair-encoding trainer: learn ``n_merges`` merge rules
    from the corpus word-frequency table and report each round's winning
    pair with its frequency — (merge_rank, left, right, pair_count).

    Classic sequential BPE (Sennrich et al. 2016) re-expressed for the
    distributed word-frequency table: every round (1) aggregates
    frequency-weighted adjacent-symbol pair counts across the corpus
    (map-side partials; the shuffle carries |distinct pairs| rows),
    (2) collects ONLY the argmax pair — a bounded 2-string driver scalar,
    ties broken lexicographically so the learned rules are deterministic
    — and (3) rewrites the symbol tables in-row with a left-to-right
    non-overlapping merge (aggregate-fold: 'aaa' + rule a+a merges the
    FIRST pair only, the reference semantics). The per-word symbol state
    never leaves the executors; differential.py pins the full rule
    sequence against an independent sequential Python implementation.

    Rows-only by nature (iterative argmax is not ANSI-SQL-expressible —
    DuckDB's recursive CTEs cannot re-aggregate per round).

    Delta-updating the pair counts between merges (maintain a
    checkpointed (l, r, n) table; per round, re-count only the words
    containing the winning pair and fold the ± delta in) was tried in
    r22 and REVERTED: the rule sequence is identical, but the adjacent
    3-repeat A/B read 2.31s full-aggregate vs 5.77s delta (and 2.65 vs
    4.09s for a lighter variant without the affected-set checkpoint) —
    the per-round pc re-aggregate + extra materializations cost more
    than the full vocabulary explode saves at any scale where the
    distinct-pair table is within ~10× of the vocabulary (here ~30k
    words). The delta shape only wins when |affected words| ≪ |vocab|
    AND the pair table is much smaller than the per-round explode — at
    that point revisit the r22 prototype (identical rules verified).
    """
    from ..functions.tokenize import words_from

    words = (
        words_from(documents, "text")
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
        # Symbol table: characters, with an end-of-word marker on the last
        # (the Sennrich formulation — keeps word-final units distinct).
        .withColumn(
            "syms",
            F.expr(
                "transform(split(word, ''), (c, i) ->"
                " CASE WHEN i = length(word) - 1 THEN c || '</w>' ELSE c END)"
            ),
        )
        .localCheckpoint()
    )

    pair_structs = F.expr(
        """
        CASE WHEN size(syms) < 2 THEN array()
             ELSE transform(sequence(1, size(syms) - 1),
                            i -> struct(element_at(syms, i) AS l,
                                        element_at(syms, i + 1) AS r))
        END
        """
    )
    rules: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        top = (
            words.select(F.col("freq"), F.explode(pair_structs).alias("p"))
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").alias("n"))
            .orderBy(F.desc("n"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        l, r, n = top[0]["l"], top[0]["r"], int(top[0]["n"])
        rules.append((rank, l, r, n))
        # CASE branches are evaluated lazily and in order, so the
        # element_at(acc, -1) in branch 2 can never see an empty array
        # (branch 1 catches it first) — ANSI mode would throw otherwise.
        # The merged symbol (l||r) never re-matches l within the same
        # round, so the fold is the left-to-right NON-overlapping merge
        # ('aaa' + rule a+a → ['aa','a'], the reference BPE semantics).
        merged = F.expr(
            f"""
            aggregate(
              syms,
              cast(array() AS array<string>),
              (acc, s) -> CASE
                 WHEN size(acc) = 0 THEN array(s)
                 WHEN element_at(acc, -1) = {_lit(l)} AND s = {_lit(r)}
                   THEN concat(slice(acc, 1, size(acc) - 1),
                               array({_lit(l)} || {_lit(r)}))
                 ELSE concat(acc, array(s))
              END)
            """
        )
        words = words.withColumn("syms", merged).localCheckpoint()

    spark = documents.sparkSession
    return spark.createDataFrame(
        rules, "merge_rank int, left string, right string, pair_count long"
    ).orderBy("merge_rank")


def _lit(s: str) -> str:
    """SQL string literal with quote escaping for embedding in F.expr."""
    return "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"


def bpe_encode_stats(
    documents: DataFrame, n_merges: int = BPE_N_MERGES
) -> DataFrame:
    """Apply the trained BPE merges to the corpus and report the
    per-source TOKEN BUDGET — (source, n_words, n_tokens,
    chars_per_token) — the number a pretraining run is actually sized
    by. Completes the tokenizer story: ``bpe_train_merges`` learns the
    rules, this encodes under them.

    Scale shape: the corpus is encoded at VOCABULARY cardinality, never
    word-occurrence cardinality — each distinct (source, word) is
    encoded once and re-weighted by its frequency, the same
    word-frequency trick the trainer uses. The learned rule list is a
    bounded driver-side constant (n_merges rows) broadcast into an
    Arrow-batched pandas UDF that folds the merges in rank order over
    each word's symbol table (left-to-right non-overlapping, the
    Sennrich semantics the trainer is pinned to); per-source totals are
    then one hash aggregate over freq-weighted token counts.
    chars_per_token is an integer half-up ratio at 2dp (no float
    surface). Rows-only by nature (inherits the trainer's iterative
    argmax); differential.py pins the full output against an
    independent sequential Python train+encode of the same corpus.
    """
    rules = [
        (r["left"], r["right"])
        for r in bpe_train_merges(documents, n_merges).collect()
    ]

    def _make_encoder(rule_list):
        # module-level pandas import (bottom of file) — the future-
        # annotations string hints must resolve against module globals
        @F.pandas_udf("int")
        def n_bpe_tokens(words: pd.Series) -> pd.Series:
            def encode(word: str) -> int:
                syms = list(word)
                if syms:
                    syms[-1] = syms[-1] + "</w>"
                for left, right in rule_list:
                    out = []
                    for s in syms:
                        if out and out[-1] == left and s == right:
                            out[-1] = left + right
                        else:
                            out.append(s)
                    syms = out
                return len(syms)

            return words.map(encode)

        return n_bpe_tokens

    enc = _make_encoder(rules)
    from ..functions.tokenize import words_from

    word_freq = (
        words_from(documents, "text", "source")
        .groupBy("source", "word")
        .agg(F.count("*").alias("freq"))
    )
    # encode each DISTINCT word exactly once, then join the token count
    # back onto the (source, word) frequencies — a word shared by k
    # sources would otherwise pay the merge fold k times (the same
    # vocabulary-cardinality discipline as the trainer)
    word_tokens = (
        word_freq.select("word").distinct().withColumn("n_tok", enc(F.col("word")))
    )
    encoded = word_freq.join(word_tokens, "word")
    return (
        encoded.groupBy("source")
        .agg(
            F.sum("freq").cast("long").alias("n_words"),
            F.sum(F.col("freq") * F.col("n_tok")).cast("long").alias("n_tokens"),
            F.sum(F.col("freq") * F.length("word")).cast("long").alias("n_chars"),
        )
        .select(
            "source",
            "n_words",
            "n_tokens",
            # integer half-up 2dp ratio: chars*100/tokens, +den/2 before div
            # divide by a DOUBLE: a bare 100.0 literal is DecimalType in
            # Spark SQL and would leak Decimal into the output schema
            F.expr(
                "(n_chars * 100 + n_tokens div 2) div n_tokens"
                " / cast(100 as double)"
            ).alias("chars_per_token"),
        )
        .orderBy("source")
    )
