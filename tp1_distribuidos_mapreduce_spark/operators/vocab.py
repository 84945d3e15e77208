"""Corpus-level vocabulary analytics: the dataset-card summary a training
run publishes, and the first round of byte-pair-merge statistics a
tokenizer-training pipeline computes.

Additive LLM-pipeline surface (no reference counterpart; the reference
stops at wc/ii — SURVEY.md §2 O5-O9 — these are the corpus-wide rollups
built on the same tokenize() contract).

Scale shapes:
- corpus_card: one explode → two aggregates. The vocab count shuffles
  distinct (source, word) pairs — the wc shape, bounded by vocabulary not
  corpus size after the map-side partial distinct.
- bpe_pair_counts: per-token character bigrams built IN-ROW (transform
  over substr) and pre-counted per token string, so the shuffle carries
  (pair, partial_count) rows bounded by distinct-token × pair-width — at
  100 TB you'd add a distinct-token pre-aggregate first, which is exactly
  what the `words` CTE shape here does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.tokenize import tokenize

BPE_TOP_K = 30


def corpus_card(documents: DataFrame) -> DataFrame:
    """Per-source dataset-card row: docs, token totals, vocabulary size,
    and type-token ratio (vocab / total tokens, the classic lexical
    diversity signal; low TTR flags TEMPLATED/boilerplate sources).

    Integer-only aggregates plus one final ratio, so the differential is
    exact: the ratio divides two BIGINTs identically in both engines and
    rounds at 4dp (deterministic — same ints → same IEEE quotient).
    """
    t = tokenize("text")
    d = documents.select("source", "doc_id", t.alias("t"))
    per_source = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size("t")).alias("total_tokens"),
    )
    vocab = (
        d.select("source", F.explode("t").alias("w"))
        .distinct()
        .groupBy("source")
        .agg(F.count("*").alias("vocab_size"))
    )
    return (
        per_source.join(vocab, "source")
        .select(
            "source",
            "n_docs",
            "total_tokens",
            "vocab_size",
            F.round(
                F.col("vocab_size") / F.greatest(F.col("total_tokens"), F.lit(1)), 4
            ).alias("type_token_ratio"),
        )
        .orderBy("source")
    )


CORPUS_CARD_ORACLE = r"""
WITH toks AS (
  SELECT source, doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^\p{L}]+'), x -> x <> '') AS t
  FROM documents
), per_source AS (
  SELECT source, count(*) AS n_docs, sum(len(t)) AS total_tokens
  FROM toks GROUP BY source
), vocab AS (
  SELECT source, count(*) AS vocab_size
  FROM (SELECT DISTINCT source, unnest(t) AS w FROM toks)
  GROUP BY source
)
SELECT p.source,
       CAST(p.n_docs AS BIGINT) AS n_docs,
       CAST(p.total_tokens AS BIGINT) AS total_tokens,
       CAST(v.vocab_size AS BIGINT) AS vocab_size,
       round(v.vocab_size / greatest(p.total_tokens, 1), 4) AS type_token_ratio
FROM per_source p JOIN vocab v USING (source)
ORDER BY p.source
"""


def bpe_pair_counts(documents: DataFrame, top_k: int = BPE_TOP_K) -> DataFrame:
    """The first byte-pair-merge round of tokenizer training: corpus-wide
    counts of adjacent character pairs inside tokens, top ``top_k`` by
    count (ties broken by pair text so the cut is deterministic).

    Plan: tokenize → explode to words → count words (the wc aggregate,
    collapsing the corpus to its distinct vocabulary) → build each word's
    character bigrams in-row → explode only VOCABULARY-sized data →
    weighted pair count. Pair frequencies over a 100 TB corpus thus
    shuffle |vocab| rows twice, never |corpus| — the same two-level
    rollup real BPE trainers (sentencepiece) use.
    """
    t = tokenize("text")
    words = (
        documents.select(F.explode(t).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("wc"))
    )
    bigrams = F.expr(
        """
        CASE WHEN length(w) < 2 THEN array()
             ELSE transform(sequence(1, length(w) - 1),
                            i -> substring(w, i, 2))
        END
        """
    )
    return (
        words.select(F.explode(bigrams).alias("pair"), "wc")
        .groupBy("pair")
        .agg(F.sum("wc").alias("n_pairs"))
        .orderBy(F.desc("n_pairs"), F.asc("pair"))
        .limit(top_k)
    )


BPE_PAIR_COUNTS_ORACLE = rf"""
WITH toks AS (
  SELECT list_filter(regexp_split_to_array(lower(text), '[^\p{{L}}]+'), x -> x <> '') AS t
  FROM documents
), words AS (
  SELECT w, count(*) AS wc
  FROM (SELECT unnest(t) AS w FROM toks)
  GROUP BY w
), pairs AS (
  SELECT unnest(list_transform(range(1, greatest(length(w), 1)),
                               i -> substr(w, i, 2))) AS pair,
         wc
  FROM words
)
SELECT pair, CAST(sum(wc) AS BIGINT) AS n_pairs
FROM pairs
GROUP BY pair
ORDER BY n_pairs DESC, pair ASC
LIMIT {BPE_TOP_K}
"""


SEQ_LEN = 2048
PACK_BUCKETS = 32
TRIGRAM_TOP_K = 20


def sequence_packing(
    documents: DataFrame, seq_len: int = SEQ_LEN, n_buckets: int = PACK_BUCKETS
) -> DataFrame:
    """Pack the token stream into fixed-length training sequences — the
    step between a curated corpus and a pretraining dataloader. Documents
    are concatenated in deterministic order and each doc is assigned to
    the sequence where its first token lands (offset // seq_len).

    Distributed shape: packing is embarrassingly parallel across
    ``n_buckets`` independent streams (bucket = doc_id % n_buckets), so
    the only non-map work is a cumulative-sum window PARTITIONED BY
    bucket — no global sort, no single-partition window. At 100 TB you
    raise n_buckets to O(cores); each bucket's stream packs
    independently, which is exactly how multi-worker dataloaders shard.

    Output: one row per (bucket, seq_id) with docs packed, token count,
    and the sequence fill ratio against seq_len (>1.0 means a doc
    straddles into the next sequence; a production packer would split
    it — the assignment bookkeeping is identical).

    Token counts use the whitespace tokenizer contract shared with
    token_stats (Spark split ≡ DuckDB regexp_split_to_array on '\\s+').
    """
    from pyspark.sql import Window

    toks = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    d = documents.select(
        "doc_id",
        F.pmod(F.col("doc_id"), F.lit(n_buckets)).cast("long").alias("bucket"),
        toks.cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    placed = d.select(
        "bucket",
        "doc_id",
        "n_tokens",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).alias("start_offset"),
    ).withColumn("seq_id", F.floor(F.col("start_offset") / seq_len).cast("long"))
    return (
        placed.groupBy("bucket", "seq_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
            # tie-safe: seq_len is a power of two, so S/seq_len is an
            # exact binary double and both engines round the identical
            # exact value the same way (half-up == half-away on exacts).
            F.round(F.sum("n_tokens") / F.lit(float(seq_len)), 4).alias("fill_ratio"),
        )
        .orderBy("bucket", "seq_id")
    )


SEQUENCE_PACKING_ORACLE = rf"""
WITH d AS (
  SELECT doc_id,
         -- pmod semantics to match Spark's F.pmod: DuckDB's % is signed
         -- (−1 % 32 = −1), which would diverge on negative doc_ids.
         ((doc_id % {PACK_BUCKETS}) + {PACK_BUCKETS}) % {PACK_BUCKETS} AS bucket,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
  FROM documents
), placed AS (
  SELECT bucket, doc_id, n_tokens,
         coalesce(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS start_offset
  FROM d
)
SELECT bucket,
       CAST(floor(start_offset / {SEQ_LEN}.0) AS BIGINT) AS seq_id,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       min(doc_id) AS first_doc,
       round(sum(n_tokens) / {SEQ_LEN}.0, 4) AS fill_ratio
FROM placed
GROUP BY bucket, floor(start_offset / {SEQ_LEN}.0)
ORDER BY bucket, seq_id
"""


def _trigrams_expr() -> F.Column:
    """In-row word trigrams over a ``toks`` array column — the single
    trigram definition shared by trigram_topk and trigram_novelty (and
    both hard-coded oracles); a drift between the two copies would
    silently desynchronize two registered queries.

    The array is bound as a lambda variable before the per-position
    fan-out (r21, bind_once rationale): both callers project ``toks``
    from a tokenize composite, which Catalyst would inline into the
    element lambda — re-running the regex split once per trigram.
    element_at is 1-based where the previous toks[i] was 0-based; the
    i+1..i+3 offsets over sequence(0, size-3) address the same windows.
    """
    from ..functions.tokenize import bind_once

    def tri_of(tk: F.Column) -> F.Column:
        return F.transform(
            F.sequence(F.lit(0), F.size(tk) - 3),
            lambda i: F.concat_ws(
                " ",
                F.element_at(tk, i + 1),
                F.element_at(tk, i + 2),
                F.element_at(tk, i + 3),
            ),
        )

    return bind_once(F.col("toks"), tri_of)


def trigram_topk(documents: DataFrame, k: int = TRIGRAM_TOP_K) -> DataFrame:
    """Top-k word trigrams across the corpus — the n-gram LM / boilerplate
    detection primitive (a C4-style pipeline uses exactly this table to
    find over-represented spans).

    Trigrams are built IN-ROW with a higher-order transform over the
    token array — no posexplode+window, no per-token shuffle; the only
    shuffle carries (trigram, partial_count) pairs after map-side
    partial aggregation, bounded by distinct-trigram cardinality. The
    top-k cut is a deterministic (count DESC, trigram ASC) order.
    """
    words = tokenize("text")
    return (
        documents.select(words.alias("toks"))
        .where(F.size("toks") >= 3)
        .select(F.explode(_trigrams_expr()).alias("trigram"))
        .groupBy("trigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("trigram"))
        .limit(k)
    )


TRIGRAM_TOPK_ORACLE = rf"""
WITH toks AS (
  SELECT list_filter(regexp_split_to_array(lower(text), '[^\p{{L}}]+'),
                     x -> x <> '') AS t
  FROM documents
), tris AS (
  SELECT t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS trigram
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i)
  WHERE len(t) >= 3
)
SELECT trigram, count(*) AS n
FROM tris
GROUP BY trigram
ORDER BY n DESC, trigram ASC
LIMIT {TRIGRAM_TOP_K}
"""


def source_vocab_overlap(documents: DataFrame) -> DataFrame:
    """Pairwise vocabulary Jaccard between sources — the source-similarity
    matrix a curation pass uses to spot mirrored/duplicated feeds before
    mixing weights are chosen.

    Shape: distinct (source, word) pairs (the corpus_card vocab shape —
    map-side partial distinct, shuffle bounded by vocabulary size), one
    word-keyed self-join whose per-word fan-out is bounded by sources²
    (never corpus-sized), and a source-cardinality cross of the sizes
    table for the union denominators (tiny, broadcast). Jaccard divides
    two BIGINTs → identical double in both engines, rounded 4dp.
    """
    words = tokenize("text")
    vocab = (
        documents.select("source", F.explode(words).alias("w")).distinct()
    )
    sizes = vocab.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        vocab.alias("a")
        .join(
            vocab.alias("b"),
            (F.col("a.w") == F.col("b.w"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("sa"), F.col("b.source").alias("sb")
        )
        .agg(F.count(F.lit(1)).alias("i"))
    )
    pairs = (
        sizes.alias("x")
        .join(
            F.broadcast(sizes.alias("y")),
            F.col("x.source") < F.col("y.source"),
        )
        .select(
            F.col("x.source").alias("source_a"),
            F.col("y.source").alias("source_b"),
            F.col("x.n").alias("na"),
            F.col("y.n").alias("nb"),
        )
    )
    return (
        pairs.join(
            inter,
            (F.col("sa") == F.col("source_a")) & (F.col("sb") == F.col("source_b")),
            "left",
        )
        .select(
            "source_a",
            "source_b",
            F.coalesce(F.col("i"), F.lit(0)).cast("long").alias("n_common"),
            (F.col("na") + F.col("nb") - F.coalesce(F.col("i"), F.lit(0)))
            .cast("long")
            .alias("n_union"),
            F.round(
                F.coalesce(F.col("i"), F.lit(0))
                / (
                    F.col("na") + F.col("nb") - F.coalesce(F.col("i"), F.lit(0))
                ).cast("double"),
                4,
            ).alias("jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


SOURCE_VOCAB_OVERLAP_ORACLE = r"""
WITH vocab AS (
  SELECT DISTINCT source, w FROM (
    SELECT source,
           unnest(list_filter(regexp_split_to_array(lower(text), '[^\p{L}]+'),
                              x -> x <> '')) AS w
    FROM documents)
), sizes AS (
  SELECT source, count(*) AS n FROM vocab GROUP BY source
), inter AS (
  SELECT a.source AS sa, b.source AS sb, count(*) AS i
  FROM vocab a JOIN vocab b ON a.w = b.w AND a.source < b.source
  GROUP BY 1, 2
)
SELECT x.source AS source_a, y.source AS source_b,
       CAST(coalesce(i.i, 0) AS BIGINT) AS n_common,
       CAST(x.n + y.n - coalesce(i.i, 0) AS BIGINT) AS n_union,
       round(coalesce(i.i, 0) /
             CAST(x.n + y.n - coalesce(i.i, 0) AS DOUBLE), 4) AS jaccard
FROM sizes x JOIN sizes y ON x.source < y.source
LEFT JOIN inter i ON i.sa = x.source AND i.sb = y.source
ORDER BY source_a, source_b
"""


def source_mix_weights(documents: DataFrame, alpha: float = 0.5) -> DataFrame:
    """Temperature-based source mixing weights — the sampling table a
    pre-training run derives before interleaving corpora (the
    multilingual/domain up-sampling rule of mBERT/XLM-R and the Pile:
    w_i ∝ p_i^alpha with alpha < 1 flattening the source distribution).

    Output: (source, n_docs, n_tokens, raw_share, mix_weight,
    upsample_factor) where raw_share = n_docs/total, mix_weight is the
    normalized p^alpha, and upsample_factor = mix_weight/raw_share (>1
    means the source is repeated relative to natural sampling).

    Shape: ONE source-keyed aggregate over the corpus (map-side
    combinable counts; the token count rides the same pass), then all
    share/weight math runs on the source-cardinality result frame via
    single-partition windows — bounded by #sources, never corpus-sized.
    alpha is fixed at 0.5 so both engines compute ``sqrt`` (bit-identical
    IEEE op) rather than ``pow`` (libm-dependent).
    """
    assert alpha == 0.5, "oracle parity requires sqrt (alpha = 0.5)"
    toks = tokenize("text")
    per = documents.select("source", F.size(toks).alias("nt")).groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("nt").alias("n_tokens"),
    )
    total = Window.partitionBy()
    p = F.col("n_docs") / F.sum("n_docs").over(total)
    withp = (
        per.withColumn("p", p)
        .withColumn("tot_docs", F.sum("n_docs").over(total))
        .withColumn("sq", F.sqrt(F.col("p")))
    )
    w = F.col("sq") / F.sum("sq").over(total)
    return (
        withp.select(
            "source",
            "n_docs",
            "n_tokens",
            # raw_share is an integer-count ratio → half-up integer
            # division at 4dp (tie-capable under float round);
            # mix_weight/upsample_factor go through sqrt, so their true
            # values are irrational — a decimal tie is impossible and
            # round() of the identical double is engine-deterministic.
            (
                F.expr("(20000 * n_docs + tot_docs) div (2 * tot_docs)")
                / 10000.0
            ).alias("raw_share"),
            F.round(w, 4).alias("mix_weight"),
            F.round(w / F.col("p"), 4).alias("upsample_factor"),
        )
        .orderBy("source")
    )


SOURCE_MIX_WEIGHTS_ORACLE = r"""
WITH per AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(list_filter(regexp_split_to_array(lower(text), '[^\p{L}]+'),
                                  x -> x <> ''))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), shares AS (
  SELECT source, n_docs, n_tokens,
         sum(n_docs) OVER () AS tot_docs,
         n_docs / sum(n_docs) OVER () AS p,
         sqrt(n_docs / sum(n_docs) OVER ()) AS sq
  FROM per
)
SELECT source, n_docs, n_tokens,
       ((20000 * n_docs + tot_docs) // (2 * tot_docs)) / 10000.0 AS raw_share,
       round(sq / sum(sq) OVER (), 4) AS mix_weight,
       round(sq / sum(sq) OVER () / p, 4) AS upsample_factor
FROM shares
ORDER BY source
"""


def trigram_novelty(documents: DataFrame) -> DataFrame:
    """Per-document trigram novelty: the fraction of a document's distinct
    word trigrams whose FIRST corpus occurrence (lowest doc_id) is this
    document — the contribution/novelty score curation uses to rank
    near-boilerplate docs below genuinely new material (the inverse of
    benchmark-contamination's span-overlap view).

    Output: (doc_id, n_trigrams, n_novel, novelty_frac) for every doc
    with >= 3 tokens, ordered by doc_id.

    Shape: trigrams are built and deduplicated IN-ROW (transform +
    array_distinct — no per-token shuffle), exploded to sparse
    (doc_id, trigram) rows, and the first-occurrence attribution is ONE
    trigram-keyed window min. The shuffle is keyed on the trigram (high
    cardinality, uniform — no skew), and the final rollup is a doc-keyed
    aggregate with map-side combine. At 100 TB the only change is keying
    the shuffle on a fixed-width trigram hash instead of the string.
    """
    toks = tokenize("text")
    tris = F.array_distinct(_trigrams_expr())
    g = (
        documents.select("doc_id", toks.alias("toks"))
        .where(F.size("toks") >= 3)
        .select("doc_id", F.explode(tris).alias("g"))
    )
    first = Window.partitionBy("g")
    flagged = g.select(
        "doc_id",
        (F.col("doc_id") == F.min("doc_id").over(first)).cast("long").alias("novel"),
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_trigrams"),
            F.sum("novel").alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_trigrams",
            "n_novel",
            # half-up integer division at 4dp (integer-count ratio ties
            # at the 5th decimal; float round() splits the engines).
            (
                F.expr("(20000 * n_novel + n_trigrams) div (2 * n_trigrams)")
                / 10000.0
            ).alias("novelty_frac"),
        )
        .orderBy("doc_id")
    )


TRIGRAM_NOVELTY_ORACLE = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^\p{L}]+'),
                     x -> x <> '') AS t
  FROM documents
), tri AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(t) - 1),
                               i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS g
  FROM toks
  WHERE len(t) >= 3
), flagged AS (
  SELECT doc_id,
         CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY g) THEN 1 ELSE 0 END AS novel
  FROM tri
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_trigrams,
       CAST(sum(novel) AS BIGINT) AS n_novel,
       ((20000 * CAST(sum(novel) AS BIGINT) + count(*))
        // (2 * count(*))) / 10000.0 AS novelty_frac
FROM flagged
GROUP BY doc_id
ORDER BY doc_id
"""
