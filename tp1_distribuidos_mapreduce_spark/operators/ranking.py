"""Corpus-statistics ranking operators: TF-IDF top terms and a positional
inverted index.

Additive text-analysis surface extending the reference's inverted index
(plugins/ii/ii.go:13-44 — word → sorted distinct doc list): the positional
variant keeps per-occurrence positions (the structure a phrase-query or
span-dedup pass consumes), and TF-IDF is the classic two-aggregate corpus
statistic (term frequency per doc × inverse document frequency) that a
curation pipeline uses for keyword extraction and topic balance.

Scale shape: both operators explode tokens once and aggregate on
fixed-cardinality keys ((doc, term) then (term)), all partial-aggregated
map-side. The document-frequency table is term-cardinality (vocabulary)
sized — orders of magnitude smaller than the corpus — and joins back
broadcast. N (corpus size) rides in as a scalar from a count that Catalyst
computes once. No driver-side loops; everything stays in codegen except
nothing — there are no UDFs here at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.tokenize import tokenize


def _doc_terms(documents: DataFrame) -> DataFrame:
    """(doc_id, term, pos): one row per token occurrence, 1-based position
    over the letter-run tokenizer with empties dropped (SURVEY §7.4)."""
    toks = tokenize("text")
    return documents.select(
        "doc_id", F.posexplode(toks).alias("pos0", "term")
    ).select("doc_id", "term", (F.col("pos0") + 1).alias("pos"))


def tfidf_top_terms(documents: DataFrame, top_k: int = 3) -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF.

    tf = occurrences of term in doc; df = docs containing term;
    idf = ln(N / df); score = tf × idf, rounded 4dp. Ties break by term
    asc so the top-k set is fully deterministic. Terms present in every
    document (idf = 0) can still appear when a doc has fewer than k
    positive-score terms — ordering handles them consistently.

    Both aggregates partial-combine map-side; the df table is
    vocabulary-sized and broadcast back onto (doc, term) rows; ranking is
    one window over (doc_id) — shuffle keys are (doc_id, term), (term),
    (doc_id): all fixed-width.
    """
    terms = _doc_terms(documents)
    n_docs = documents.count()  # scalar: corpus cardinality, computed once
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = tf.join(F.broadcast(df), "term").select(
        "doc_id",
        "term",
        "tf",
        "df",
        F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 4).alias(
            "tfidf"
        ),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select("doc_id", "rank", "term", "tf", "df", "tfidf")
        .orderBy("doc_id", "rank")
    )


TFIDF_TOP_TERMS_ORACLE = r"""
WITH terms AS (
  SELECT doc_id, unnest(list_filter(
           regexp_split_to_array(lower(text), '[^\p{L}]+'), x -> x <> '')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term
), df AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), n AS (
  SELECT count(*) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         round(tf.tf * ln(n.n_docs / df.df), 4) AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n
), ranked AS (
  SELECT *, CAST(row_number() OVER (
              PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS INTEGER)
            AS rank
  FROM scored
)
SELECT doc_id, rank, term, tf, df, tfidf
FROM ranked WHERE rank <= 3
ORDER BY doc_id, rank
"""


def positional_index(documents: DataFrame, max_terms: int = 2000) -> DataFrame:
    """Positional inverted index: term → postings 'doc:p1,p2;doc:p3'
    with docs ascending and positions ascending within each doc — the
    reference ii contract (sorted distinct docs, comma-joined,
    plugins/ii/ii.go:40) extended with occurrence positions.

    ``max_terms`` caps output to the first N terms alphabetically (a
    deterministic slice so the fixture-scale result stays inspectable);
    pass None to emit the full vocabulary. Postings build as
    sort_array(collect_list(struct)) per (term, doc) then per term —
    grouping keys are fixed-width, list sizes bounded by per-term
    occurrence counts, the same distribution the reference's gather
    shuffles (worker.go:171-182).
    """
    terms = _doc_terms(documents)
    per_doc = (
        terms.groupBy("term", "doc_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("positions"))
        .select(
            "term",
            "doc_id",
            F.concat_ws(
                ":",
                F.col("doc_id").cast("string"),
                F.array_join(F.transform("positions", lambda p: p.cast("string")), ","),
            ).alias("posting"),
        )
    )
    idx = (
        per_doc.groupBy("term")
        .agg(
            F.count("*").alias("n_docs"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("doc_id", "posting"))
                    ),
                    lambda s: s["posting"],
                ),
                ";",
            ).alias("postings"),
        )
        .orderBy("term")
    )
    if max_terms is not None:
        idx = idx.limit(max_terms)
    return idx


POSITIONAL_INDEX_ORACLE = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^\p{L}]+'),
                     x -> x <> '') AS t
  FROM documents
), terms AS (
  -- parallel unnests zip (Postgres semantics): token with its 1-based pos
  SELECT doc_id, unnest(t) AS term, unnest(range(1, len(t) + 1)) AS pos
  FROM toks
), per_doc AS (
  SELECT term, doc_id,
         CAST(doc_id AS VARCHAR) || ':' ||
           string_agg(CAST(pos AS VARCHAR), ',' ORDER BY pos) AS posting
  FROM terms GROUP BY term, doc_id
)
SELECT term,
       count(*) AS n_docs,
       string_agg(posting, ';' ORDER BY doc_id) AS postings
FROM per_doc
GROUP BY term
ORDER BY term
LIMIT 2000
"""


# BM25 constants (Robertson-Sparck Jones defaults)
BM25_K1 = 1.2
BM25_B = 0.75


def bm25_top_terms(documents: DataFrame, top_k: int = 3) -> DataFrame:
    """Top-k terms per document by Okapi BM25 (Robertson et al., TREC-3):
    TF-IDF's practical successor — term-frequency saturation (k1) and
    document-length normalization (b) so long documents don't dominate.

    score = idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)),
    idf = ln((N − df + 0.5)/(df + 0.5) + 1)   (the Lucene form, ≥ 0).

    Same plan skeleton as tfidf_top_terms: two partial aggregates, a
    vocabulary-sized df broadcast, one ranking window — plus two scalars
    (N, avgdl) Catalyst folds as literals. No UDFs.
    """
    terms = _doc_terms(documents)
    # NOT checkpointed (r21 A/B: checkpointing the (doc, term) frame
    # measured 2.0-3.2s → 4.3-4.5s) — tf is DATA-sized (term strings),
    # so materializing it costs more than the parallel-subtree
    # re-derivations it saves; only domain-bounded frames win from the
    # checkpoint discipline (see OPTIMIZATION_r21.md).
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dl = terms.groupBy("doc_id").agg(F.count("*").alias("dl"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = documents.count()
    avgdl = dl.agg(F.avg("dl")).collect()[0][0]  # scalar, one bounded agg
    idf = F.log(
        (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    denom = F.col("tf") + BM25_K1 * (
        1.0 - BM25_B + BM25_B * F.col("dl") / F.lit(float(avgdl))
    )
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(F.broadcast(dl), "doc_id")
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            "dl",
            F.round(idf * F.col("tf") * (BM25_K1 + 1.0) / denom, 4).alias("bm25"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("bm25"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select("doc_id", "rank", "term", "tf", "dl", "bm25")
        .orderBy("doc_id", "rank")
    )


BM25_TOP_TERMS_ORACLE = rf"""
WITH terms AS (
  SELECT doc_id, unnest(list_filter(
           regexp_split_to_array(lower(text), '[^\p{{L}}]+'), x -> x <> '')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term
), dl AS (
  SELECT doc_id, count(*) AS dl FROM terms GROUP BY doc_id
), df AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), n AS (
  SELECT count(*) AS n_docs FROM documents
), ad AS (
  SELECT avg(dl) AS avgdl FROM dl
), scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dl.dl,
         round(ln((n.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
               * tf.tf * ({BM25_K1} + 1.0)
               / (tf.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl.dl / ad.avgdl)),
               4) AS bm25
  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN n CROSS JOIN ad
), ranked AS (
  SELECT *, CAST(row_number() OVER (
              PARTITION BY doc_id ORDER BY bm25 DESC, term ASC) AS INTEGER) AS rank
  FROM scored
)
SELECT doc_id, rank, term, tf, dl, bm25
FROM ranked WHERE rank <= 3
ORDER BY doc_id, rank
"""


# The fixture corpus's most frequent bigram (deterministic synthetic
# vocabulary, stable across SFs) — a phrase guaranteed to have matches.
PHRASE = ("table", "hash")


def phrase_search(
    documents: DataFrame, phrase: tuple[str, ...] = PHRASE
) -> DataFrame:
    """Exact phrase occurrence census: per source, how many documents
    contain the token sequence and how many times it occurs — the
    adjacency check a positional index answers per query, run here as a
    corpus sweep.

    Map-only: the occurrence count is an in-row filter over candidate
    start offsets (element-wise equality at i, i+1, …), so the whole
    query is one codegen projection plus a source-cardinality aggregate.
    Spark's `sequence(a, b)` REVERSES when a > b (it never returns empty),
    so short documents need the explicit CASE guard, not sequence arithmetic.
    """
    from functools import reduce

    from ..functions.tokenize import bind_once

    L = len(phrase)
    t = tokenize("text")

    # Token array bound as a lambda variable before the per-offset scan
    # (r21, bind_once rationale): the tokenize composite would otherwise
    # be inlined into the candidate-offset lambda and re-run once per
    # start position.
    def _n_occ_of(tk: F.Column) -> F.Column:
        def match_at(i: F.Column) -> F.Column:
            return reduce(
                lambda a, b: a & b,
                [
                    F.element_at(tk, i + j) == F.lit(w)
                    for j, w in enumerate(phrase)
                ],
            )

        return F.when(F.size(tk) < L, F.lit(0)).otherwise(
            F.size(F.filter(F.sequence(F.lit(1), F.size(tk) - (L - 1)), match_at))
        )

    occ = documents.select("source", t.alias("t")).select(
        "source", bind_once(F.col("t"), _n_occ_of).alias("n_occ")
    )
    return (
        occ.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum((F.col("n_occ") > 0).cast("long")).alias("n_docs_with_phrase"),
            F.sum("n_occ").cast("long").alias("n_occurrences"),
        )
        .orderBy("source")
    )


_PHRASE_EQS_SQL = " AND ".join(
    f"t[i + {j}] = '{w}'" for j, w in enumerate(PHRASE)
)

PHRASE_SEARCH_ORACLE = rf"""
WITH toks AS (
  SELECT source,
         list_filter(regexp_split_to_array(lower(text), '[^\p{{L}}]+'),
                     x -> x <> '') AS t
  FROM documents
), occ AS (
  SELECT source,
         CASE WHEN len(t) < {len(PHRASE)} THEN 0
              ELSE len(list_filter(range(1, len(t) - {len(PHRASE)} + 2),
                                   i -> {_PHRASE_EQS_SQL}))
         END AS n_occ
  FROM toks
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN n_occ > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_with_phrase,
       CAST(sum(n_occ) AS BIGINT) AS n_occurrences
FROM occ
GROUP BY source
ORDER BY source
"""
