"""Text analysis operators: language-ID, quality scoring, token counting,
document fingerprinting (the LLM-pipeline text surface, BASELINE.md).

Everything except the fingerprint is pure Catalyst expressions with a DuckDB
oracle. The fingerprint uses xxhash64 (engine-specific) → rows-only check +
pytest properties.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.tokenize import tokenize

_STOPWORDS = ("the", "a", "of", "and", "in", "to", "is")

# Tiny per-language stopword profiles for the n-gram-free heuristic
# language-ID: score = number of tokens in each profile, argmax with a fixed
# priority order on ties. Deterministic and SQL-expressible.
_LANG_PROFILES = {
    "en": ("the", "a", "of", "and", "is", "to", "in"),
    "es": ("el", "la", "de", "y", "que", "en", "los"),
    "de": ("der", "die", "und", "das", "ist", "von", "mit"),
    "fr": ("le", "la", "et", "les", "des", "est", "dans"),
}


def n_tokens_expr() -> F.Column:
    """Word-token count of `text` (letter-run tokenizer, empties dropped)."""
    return F.size(tokenize("text"))


def quality_score_expr() -> F.Column:
    """Composite quality score of `text`, rounded 4dp — the same
    expression text_quality emits, exposed for single-pass compositions
    (corpus_curation computes every gate in one projection over one
    scan).

    Computed ENTIRELY in integers: the true score is the rational
    least(nt,50)·na·(nc−np) / (50·nc²), whose 4dp rounding can land
    exactly on a .00005 boundary (e.g. nc a multiple of 200) where
    Spark's shortest-repr HALF_UP and DuckDB's raw-double round()
    disagree — and corpus_curation gates membership on the rounded
    value, so a tie would flip rows, not just digits. Half-up integer
    division is tie-proof; both oracles mirror it. BIGINT headroom:
    20000·num overflows for docs past ~35 MB of text."""
    from ..functions.tokenize import TOKEN_SPLIT_REGEX

    split_re = TOKEN_SPLIT_REGEX.replace("\\", "\\\\")
    nt = f"size(filter(split(lower(text), '{split_re}'), x -> x != ''))"
    nc = "greatest(length(text), 1)"
    np = "length(regexp_replace(text, '[\\\\p{L}\\\\s]', ''))"
    na = "length(regexp_replace(text, '[^\\\\p{L}]', ''))"
    num = f"(least({nt}, 50) * {na} * ({nc} - {np}))"
    den = f"(50 * {nc} * {nc})"
    # NB: the /10000.0 stays Python-side — inside the SQL string Spark
    # would parse the literal as DECIMAL(6,1) and emit a DECIMAL column.
    return (
        F.expr(f"(20000 * cast({num} as bigint) + {den}) div (2 * {den})")
        / 10000.0
    )


def pred_lang_expr() -> F.Column:
    """Predicted language of `text` — language_id's argmax expression."""
    toks = tokenize("text")

    def profile_hits(words: tuple[str, ...]) -> F.Column:
        return F.size(F.filter(toks, lambda t: t.isin(*words)))

    scores = {lang: profile_hits(words) for lang, words in _LANG_PROFILES.items()}
    s_en, s_es, s_de, s_fr = (scores[k] for k in ("en", "es", "de", "fr"))
    best = F.greatest(s_en, s_es, s_de, s_fr)
    return (
        F.when(best == 0, "und")
        .when(s_en == best, "en")
        .when(s_es == best, "es")
        .when(s_de == best, "de")
        .otherwise("fr")
    )


def text_quality(documents: DataFrame) -> DataFrame:
    """Per-document quality signals: length, token stats, punctuation and
    stopword ratios, alpha ratio, and a composite score.

    Map-only (no shuffle): at 100 TB this runs at scan speed and the score
    is typically used as a pushed-down filter for downstream stages.
    """
    toks = tokenize("text")
    n_chars = F.length("text")
    n_tokens = F.size(toks)
    n_punct = F.length(F.regexp_replace(F.col("text"), r"[\p{L}\s]", ""))
    n_alpha = F.length(F.regexp_replace(F.col("text"), r"[^\p{L}]", ""))
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS)))

    # integer-ratio rounds at 4dp via half-up integer division: a ratio
    # like 7/160 = 0.04375 sits exactly on the boundary, where Spark's
    # shortest-repr HALF_UP and DuckDB's raw-double round() disagree.
    def r4(num: str, den: str) -> F.Column:
        return F.expr(f"(20000 * {num} + {den}) div (2 * {den})") / 10000.0

    base = documents.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        n_punct.alias("np"),
        n_alpha.alias("na"),
        n_stop.alias("ns"),
        quality_score_expr().alias("quality_score"),
    )
    return base.select(
        "doc_id",
        "n_chars",
        "n_tokens",
        r4("na", "greatest(n_tokens, 1)").alias("avg_token_len"),
        r4("np", "greatest(n_chars, 1)").alias("punct_ratio"),
        r4("ns", "greatest(n_tokens, 1)").alias("stopword_ratio"),
        r4("na", "greatest(n_chars, 1)").alias("alpha_ratio"),
        "quality_score",
    ).orderBy("doc_id")


_SW = ", ".join(f"'{w}'" for w in _STOPWORDS)

TEXT_QUALITY_ORACLE = rf"""
WITH base AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(lower(text), '[^\p{{L}}]+'), x -> x <> '') AS t,
         length(text) AS n_chars,
         length(regexp_replace(text, '[\p{{L}}\s]', '', 'g')) AS n_punct,
         length(regexp_replace(text, '[^\p{{L}}]', '', 'g')) AS n_alpha
  FROM documents
)
SELECT doc_id,
       n_chars,
       len(t) AS n_tokens,
       ((20000 * n_alpha + greatest(len(t), 1))
        // (2 * greatest(len(t), 1))) / 10000.0 AS avg_token_len,
       ((20000 * n_punct + greatest(n_chars, 1))
        // (2 * greatest(n_chars, 1))) / 10000.0 AS punct_ratio,
       ((20000 * len(list_filter(t, x -> x IN ({_SW}))) + greatest(len(t), 1))
        // (2 * greatest(len(t), 1))) / 10000.0 AS stopword_ratio,
       ((20000 * n_alpha + greatest(n_chars, 1))
        // (2 * greatest(n_chars, 1))) / 10000.0 AS alpha_ratio,
       ((20000 * (least(len(t), 50) * n_alpha * (greatest(n_chars, 1) - n_punct))
         + (50 * greatest(n_chars, 1) * greatest(n_chars, 1)))
        // (2 * (50 * greatest(n_chars, 1) * greatest(n_chars, 1)))) / 10000.0
         AS quality_score
FROM base
ORDER BY doc_id
"""


def language_id(documents: DataFrame) -> DataFrame:
    """Heuristic language-ID: stopword-profile hit counts, argmax with
    fixed priority (en > es > de > fr), 'und' when all scores are zero."""
    toks = tokenize("text")

    def profile_hits(words: tuple[str, ...]) -> F.Column:
        # single-parameter lambda only: pyspark's filter() feeds the array
        # index to a second lambda parameter, clobbering defaults.
        return F.size(F.filter(toks, lambda t: t.isin(*words)))

    scores = {lang: profile_hits(words) for lang, words in _LANG_PROFILES.items()}
    s_en, s_es, s_de, s_fr = (scores[k] for k in ("en", "es", "de", "fr"))
    return documents.select(
        "doc_id",
        pred_lang_expr().alias("pred_lang"),
        s_en.alias("s_en"),
        s_es.alias("s_es"),
        s_de.alias("s_de"),
        s_fr.alias("s_fr"),
    ).orderBy("doc_id")


def _profile_sql(words: tuple[str, ...]) -> str:
    inlist = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter(t, x -> x IN ({inlist})))"


LANGUAGE_ID_ORACLE = rf"""
WITH scored AS (
  SELECT doc_id,
         {_profile_sql(_LANG_PROFILES['en'])} AS s_en,
         {_profile_sql(_LANG_PROFILES['es'])} AS s_es,
         {_profile_sql(_LANG_PROFILES['de'])} AS s_de,
         {_profile_sql(_LANG_PROFILES['fr'])} AS s_fr
  FROM (SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '[^\p{{L}}]+'), x -> x <> '') AS t
        FROM documents)
)
SELECT doc_id,
       CASE WHEN greatest(s_en, s_es, s_de, s_fr) = 0 THEN 'und'
            WHEN s_en = greatest(s_en, s_es, s_de, s_fr) THEN 'en'
            WHEN s_es = greatest(s_es, s_de, s_fr) THEN 'es'
            WHEN s_de = greatest(s_de, s_fr) THEN 'de'
            ELSE 'fr' END AS pred_lang,
       s_en, s_es, s_de, s_fr
FROM scored
ORDER BY doc_id
"""

# BPE-ish pre-tokenizer: letter runs | digit runs | single non-space symbol
_BPE_REGEX = r"[\p{L}]+|[0-9]+|[^\p{L}0-9\s]"


def token_stats(documents: DataFrame) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-style
    pre-tokenizer regex (letters | digits | single symbol), plus distinct
    word count. Map-only."""
    ws_tokens = F.split(F.trim(F.col("text")), r"\s+")
    bpe_tokens = F.regexp_extract_all(F.col("text"), F.lit(_BPE_REGEX), 0)
    words = tokenize("text")
    return documents.select(
        "doc_id",
        F.size(ws_tokens).alias("n_ws_tokens"),
        F.size(bpe_tokens).alias("n_bpe_tokens"),
        F.size(F.array_distinct(words)).alias("n_distinct_words"),
    ).orderBy("doc_id")


TOKEN_STATS_ORACLE = r"""
SELECT doc_id,
       len(regexp_split_to_array(trim(text), '\s+')) AS n_ws_tokens,
       len(regexp_extract_all(text, '[\p{L}]+|[0-9]+|[^\p{L}0-9\s]')) AS n_bpe_tokens,
       len(list_distinct(list_filter(regexp_split_to_array(lower(text), '[^\p{L}]+'), x -> x <> ''))) AS n_distinct_words
FROM documents
ORDER BY doc_id
"""


def doc_fingerprint(documents: DataFrame, k: int = 5, window: int = 4) -> DataFrame:
    """Winnowing-style document fingerprint (rolling hash + window minima).

    Char k-grams of the normalized text are hashed (xxhash64); each sliding
    window of ``window`` consecutive gram-hashes contributes its minimum —
    the classic winnowing selection, guaranteeing any shared substring of
    length ≥ k+window-1 yields a shared fingerprint. Output is the distinct
    fingerprint set per doc (count + a stable sample).

    Hash values are engine-specific → no SQL oracle (rows-only check);
    properties (identity ⇒ equal sets, containment) are pytest-tested.

    Normalization stays a JVM expression; the rolling hash + window minima
    run as vectorized numpy over Arrow batches (Horner-scheme k-gram hash,
    ``sliding_window_view`` minima) — a Catalyst higher-order-function
    formulation evaluated interpreted per gram and profiled ~7× slower at
    sf0.1 even after binding each stage to avoid re-inlining.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    def winnow_one(text: str) -> np.ndarray:
        b = np.frombuffer(text.encode("utf-8"), dtype=np.uint8).astype(np.uint64)
        if len(b) < k:
            b = np.pad(b, (0, k - len(b)), constant_values=32)
        # Horner k-gram hash with an FNV-prime base + murmur-style finisher;
        # uint64 wraparound keeps it deterministic everywhere.
        h = np.zeros(len(b) - k + 1, dtype=np.uint64)
        for j in range(k):
            h = h * np.uint64(1099511628211) + b[j : len(b) - k + 1 + j]
        h ^= h >> np.uint64(33)
        h *= np.uint64(0xFF51AFD7ED558CCD)
        h ^= h >> np.uint64(33)
        if len(h) <= window:
            mins = h.min(keepdims=True)
        else:
            mins = np.lib.stride_tricks.sliding_window_view(h, window).min(axis=1)
        # re-sort AFTER the signed reinterpretation: unique() orders in
        # uint64 space, where hashes >= 2^63 sort last but wrap negative
        # as longs — without this, min_fingerprint (f[0]) would not be
        # the min of the emitted array and the array would not be sorted
        # in the emitted long domain.
        return np.sort(np.unique(mins).astype(np.int64))

    def winnow(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            fps = [winnow_one(t) for t in pdf["norm"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_fingerprints": [len(f) for f in fps],
                    "min_fingerprint": [int(f[0]) for f in fps],
                    "fingerprints": [list(map(int, f)) for f in fps],
                }
            )

    norm = F.lower(F.regexp_replace(F.col("text"), r"[^\p{L}]+", " "))
    return (
        documents.select("doc_id", norm.alias("norm"))
        .mapInPandas(
            winnow,
            "doc_id long, n_fingerprints int, min_fingerprint long, "
            "fingerprints array<long>",
        )
        .orderBy("doc_id")
    )


def language_confusion(documents: DataFrame) -> DataFrame:
    """Confusion matrix of the stopword-profile language-ID against the
    fixture's ground-truth ``lang`` column — the eval table a curation
    pipeline publishes for its classifier: (true_lang, pred_lang, n,
    frac_of_true).

    Shape: the per-doc prediction is the same map-only Catalyst
    expression as language_id; the matrix is ONE (true, pred)-keyed
    aggregate (≤ |langs|² rows after map-side combine), and the per-row
    fraction normalizes over a true_lang-keyed window on the already-
    aggregated matrix. frac is an exact integer ratio → deterministic.
    """
    from pyspark.sql import Window

    m = (
        documents.select(
            F.col("lang").alias("true_lang"), pred_lang_expr().alias("pred_lang")
        )
        .groupBy("true_lang", "pred_lang")
        .agg(F.count("*").alias("n"))
    )
    per_true = Window.partitionBy("true_lang")
    return (
        m.withColumn("tot", F.sum("n").over(per_true))
        .select(
            "true_lang",
            "pred_lang",
            "n",
            # half-up integer division at 4dp: round() of an exact
            # integer ratio still ties (e.g. 3/160) and the engines'
            # float round()s pick opposite sides.
            (F.expr("(20000 * n + tot) div (2 * tot)") / 10000.0).alias(
                "frac_of_true"
            ),
        )
        .orderBy("true_lang", "pred_lang")
    )


LANGUAGE_CONFUSION_ORACLE = rf"""
WITH scored AS (
  SELECT lang AS true_lang,
         {_profile_sql(_LANG_PROFILES['en'])} AS s_en,
         {_profile_sql(_LANG_PROFILES['es'])} AS s_es,
         {_profile_sql(_LANG_PROFILES['de'])} AS s_de,
         {_profile_sql(_LANG_PROFILES['fr'])} AS s_fr
  FROM (SELECT lang,
               list_filter(regexp_split_to_array(lower(text), '[^\p{{L}}]+'), x -> x <> '') AS t
        FROM documents)
), pred AS (
  SELECT true_lang,
         CASE WHEN greatest(s_en, s_es, s_de, s_fr) = 0 THEN 'und'
              WHEN s_en = greatest(s_en, s_es, s_de, s_fr) THEN 'en'
              WHEN s_es = greatest(s_es, s_de, s_fr) THEN 'es'
              WHEN s_de = greatest(s_de, s_fr) THEN 'de'
              ELSE 'fr' END AS pred_lang
  FROM scored
), m AS (
  SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n
  FROM pred GROUP BY 1, 2
)
SELECT true_lang, pred_lang, n,
       ((20000 * n + tot) // (2 * tot)) / 10000.0 AS frac_of_true
FROM (
  SELECT true_lang, pred_lang, n,
         sum(n) OVER (PARTITION BY true_lang) AS tot
  FROM m
)
ORDER BY true_lang, pred_lang
"""


def lang_fertility_stats(documents: DataFrame) -> DataFrame:
    """Tokenization-fertility budget per language: how many UTF-8 BYTES
    does one word-token cost in each language? The multilingual
    data-budgeting number (languages whose scripts encode at 2-3
    bytes/char consume proportionally more storage and context per
    token) — computed as per-lang totals plus an exact half-up
    bytes-per-token ratio.

    Exactness: byte counts are octet_length (UTF-8 octets in both
    engines), token counts the engine-wide letter-run tokenizer, and
    the ratio is integer half-up division at 2dp — (200·bytes +
    tokens) div (2·tokens) over positive BIGINTs, identical in Spark
    and DuckDB with zero float surface (the corpus_curation lesson:
    round(avg(..)) over exact decimals is an intermittent cross-engine
    flake). One map-only projection + one lang-keyed aggregate.
    """
    per_doc = documents.select(
        "lang",
        F.octet_length("text").cast("long").alias("bytes"),
        n_tokens_expr().cast("long").alias("toks"),
    ).where(F.col("toks") > 0)
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("bytes").alias("total_bytes"),
            F.sum("toks").alias("total_tokens"),
        )
        .select(
            "lang",
            "n_docs",
            "total_bytes",
            "total_tokens",
            (
                F.expr("(200 * total_bytes + total_tokens) div (2 * total_tokens)")
                / 100.0
            ).alias("bytes_per_token"),
        )
        .orderBy("lang")
    )


LANG_FERTILITY_ORACLE = r"""
WITH per_doc AS (
  SELECT lang,
         CAST(octet_length(encode(text)) AS BIGINT) AS bytes,
         CAST(len(list_filter(regexp_split_to_array(lower(text), '[^\p{L}]+'),
                              x -> x <> '')) AS BIGINT) AS toks
  FROM documents
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(bytes) AS BIGINT) AS total_bytes,
       CAST(sum(toks) AS BIGINT) AS total_tokens,
       ((200 * sum(bytes) + sum(toks)) // (2 * sum(toks))) / 100.0
         AS bytes_per_token
FROM per_doc
WHERE toks > 0
GROUP BY lang
ORDER BY lang
"""
