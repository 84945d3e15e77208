"""Text-cleaning operators for training-data curation: PII scrubbing and
repetition (boilerplate) statistics.

Additive LLM-pipeline surface (no reference counterpart — the reference's
text processing is the wc/ii tokenizer, SURVEY.md §2 O5/O6). Both operators
are pure Catalyst expressions — map-only, whole-stage codegen, no Python —
so at 100 TB they run at scan speed and compose with corpus_curation's
single-projection pattern.

PII scrubbing is the standard pre-training redaction pass (emails, IPv4
addresses) expressed as `regexp_count` / `regexp_replace` chains. The
patterns are deliberately restricted to syntax with identical semantics in
Java regex (Spark) and RE2 (DuckDB): character classes, bounded repetition,
and `\\b` word boundaries — no lookaround, no backreferences.

Repetition stats are the Gopher-style quality gates (Rae et al. 2021,
"Scaling Language Models", §A1.1): fraction of duplicated tokens and the
fraction of all bigrams accounted for by the single most frequent bigram.
High values flag boilerplate/spam documents. The bigram mode count is
computed WITHOUT a shuffle: sort the bigram array in-row and fold it with
`aggregate()` to find the longest run — per-document work stays inside one
codegen stage, where the naive explode→groupBy(doc, bigram) formulation
would shuffle every bigram of a 100 TB corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.tokenize import ngrams, tokenize

# Identical meaning in Java regex and RE2 (both sides of the oracle diff).
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
# NANP-style phone (555-123-4567) and long ID-like digit runs (>= 9
# consecutive digits: SSN-without-dashes / account numbers). Disjoint by
# construction from EMAIL (needs '@'), IPV4 (needs '.'), and each other
# (phone segments are 3-4 digits split by '-'; ID needs 9+ unbroken).
PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"
IDNUM_RE = r"\b\d{9,}\b"


def _with_injected_pii(documents: DataFrame) -> DataFrame:
    """The fixture corpus contains no PII, so the query derives a
    deterministic dirty variant: every 7th document gains a synthetic
    email + IPv4 trailer and every 5th a phone + 9-digit account id,
    all built from doc_id. The oracle derives the exact same variants,
    so every redaction pattern is exercised non-trivially while
    remaining an exact differential."""
    trailer = F.concat(
        F.lit(" Contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com from 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit("."),
        (F.col("doc_id") % 100).cast("string"),
        F.lit(" now."),
    )
    phone_trailer = F.concat(
        F.lit(" Call 555-"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" acct 9"),
        F.lpad(F.col("doc_id").cast("string"), 8, "0"),
        F.lit(" end."),
    )
    dirty = F.col("text")
    dirty = F.when(F.col("doc_id") % 7 == 0, F.concat(dirty, trailer)).otherwise(dirty)
    dirty = F.when(F.col("doc_id") % 5 == 0, F.concat(dirty, phone_trailer)).otherwise(
        dirty
    )
    return documents.withColumn("dirty", dirty)


def pii_scrub(documents: DataFrame) -> DataFrame:
    """Per-source PII census + redaction parity: how many documents carry
    an email / IPv4, how many matches were redacted, and the total
    character delta after replacing them with fixed placeholder tags.

    Shape: one projection + one small aggregation keyed on `source`
    (cardinality = #corpus sources, not #documents) — the only shuffle
    moves a handful of partial-agg rows per partition. The redaction
    itself (`regexp_replace` email → `[EMAIL]` first, then IPv4 → `[IP]`,
    in that order on both engines) never leaves codegen.
    """
    d = _with_injected_pii(documents)
    n_emails = F.regexp_count(F.col("dirty"), F.lit(EMAIL_RE))
    n_ipv4 = F.regexp_count(F.col("dirty"), F.lit(IPV4_RE))
    n_phones = F.regexp_count(F.col("dirty"), F.lit(PHONE_RE))
    n_ids = F.regexp_count(F.col("dirty"), F.lit(IDNUM_RE))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.col("dirty"), EMAIL_RE, "[EMAIL]"),
                IPV4_RE,
                "[IP]",
            ),
            PHONE_RE,
            "[PHONE]",
        ),
        IDNUM_RE,
        "[ID]",
    )
    per_doc = d.select(
        "source",
        n_emails.alias("ne"),
        n_ipv4.alias("ni"),
        n_phones.alias("np"),
        n_ids.alias("nd"),
        (F.length("dirty") - F.length(redacted)).alias("delta"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum((F.col("ne") > 0).cast("long")).alias("docs_with_email"),
            F.sum((F.col("ni") > 0).cast("long")).alias("docs_with_ipv4"),
            F.sum((F.col("np") > 0).cast("long")).alias("docs_with_phone"),
            F.sum((F.col("nd") > 0).cast("long")).alias("docs_with_id"),
            F.sum("ne").alias("n_emails"),
            F.sum("ni").alias("n_ipv4"),
            F.sum("np").alias("n_phones"),
            F.sum("nd").alias("n_ids"),
            F.sum("delta").alias("chars_removed"),
        )
        .orderBy("source")
    )


# Every aggregate is CAST(... AS BIGINT): DuckDB sum() over INTEGER returns
# HUGEINT, which pandas widens to float/object and the driver's value hash
# then diverges from Spark's BIGINT even when values are identical (the
# round-7 red-row trap; see operators/pipeline.py's same note).
PII_SCRUB_ORACLE = rf"""
WITH dirty1 AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 7 = 0
              THEN text || ' Contact user' || CAST(doc_id AS VARCHAR)
                        || '@example.com from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                        || '.' || CAST(doc_id % 100 AS VARCHAR) || ' now.'
              ELSE text END AS d1
  FROM documents
), dirty AS (
  SELECT source,
         CASE WHEN doc_id % 5 = 0
              THEN d1 || ' Call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                      || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                      || ' acct 9' || lpad(CAST(doc_id AS VARCHAR), 8, '0')
                      || ' end.'
              ELSE d1 END AS dirty
  FROM dirty1
), counted AS (
  SELECT source,
         len(regexp_extract_all(dirty, '{EMAIL_RE}')) AS ne,
         len(regexp_extract_all(dirty, '{IPV4_RE}')) AS ni,
         len(regexp_extract_all(dirty, '{PHONE_RE}')) AS np,
         len(regexp_extract_all(dirty, '{IDNUM_RE}')) AS nd,
         length(dirty) - length(
           regexp_replace(
             regexp_replace(
               regexp_replace(regexp_replace(dirty, '{EMAIL_RE}', '[EMAIL]', 'g'),
                              '{IPV4_RE}', '[IP]', 'g'),
               '{PHONE_RE}', '[PHONE]', 'g'),
             '{IDNUM_RE}', '[ID]', 'g')) AS delta
  FROM dirty
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN ne > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_email,
       CAST(sum(CASE WHEN ni > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_ipv4,
       CAST(sum(CASE WHEN np > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_phone,
       CAST(sum(CASE WHEN nd > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_id,
       CAST(sum(ne) AS BIGINT) AS n_emails,
       CAST(sum(ni) AS BIGINT) AS n_ipv4,
       CAST(sum(np) AS BIGINT) AS n_phones,
       CAST(sum(nd) AS BIGINT) AS n_ids,
       CAST(sum(delta) AS BIGINT) AS chars_removed
FROM counted
GROUP BY source
ORDER BY source
"""


def _top_run_expr() -> F.Column:
    """Count of the modal element of a ``bg`` array column: longest run of
    the sorted array via a null-safe (<=>) fold — shared by
    repetition_stats and source_quality_gates."""
    return F.expr(
        """
        aggregate(
          array_sort(bg),
          named_struct('prev', CAST(NULL AS STRING), 'run', 0, 'best', 0),
          (acc, x) -> named_struct(
              'prev', x,
              'run',  CASE WHEN x <=> acc.prev THEN acc.run + 1 ELSE 1 END,
              'best', greatest(acc.best,
                               CASE WHEN x <=> acc.prev THEN acc.run + 1 ELSE 1 END)),
          acc -> acc.best)
        """
    )


def repetition_stats(documents: DataFrame) -> DataFrame:
    """Per-document repetition signals: duplicated-token fraction and the
    most-frequent-bigram fraction (Gopher §A1.1 boilerplate gates).

    Map-only: bigrams are built, sorted, and mode-counted inside a single
    row via `array_sort` + `aggregate` (longest run of a sorted array ==
    count of the modal element), so no per-bigram shuffle exists at any
    scale. The oracle computes the same mode with a relational
    unnest→group→max, proving the fold correct.
    """
    t = tokenize("text")
    d = documents.select("doc_id", t.alias("t"))
    d = d.withColumn("bg", ngrams(F.col("t"), 2))
    top_run = _top_run_expr()
    n_tokens = F.size("t")
    n_bigrams = F.size("bg")
    # integer-ratio rounds at 4dp via half-up integer division (7/160 =
    # 0.04375 sits exactly on the boundary; the engines' float round()s
    # pick opposite sides).
    return (
        d.select(
            "doc_id",
            n_tokens.alias("n_tokens"),
            (F.greatest(n_tokens, F.lit(1)) - F.size(F.array_distinct("t"))).alias(
                "dup_n"
            ),
            F.greatest(n_tokens, F.lit(1)).alias("tok_d"),
            n_bigrams.cast("long").alias("n_bigrams"),
            top_run.alias("top_run"),
            F.greatest(n_bigrams, F.lit(1)).alias("bg_d"),
        )
        .select(
            "doc_id",
            "n_tokens",
            (F.expr("(20000 * dup_n + tok_d) div (2 * tok_d)") / 10000.0).alias(
                "dup_token_frac"
            ),
            "n_bigrams",
            (F.expr("(20000 * top_run + bg_d) div (2 * bg_d)") / 10000.0).alias(
                "top_bigram_frac"
            ),
        )
        .orderBy("doc_id")
    )


REPETITION_STATS_ORACLE = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^\p{L}]+'), x -> x <> '') AS t
  FROM documents
), bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(t), 1)),
                               i -> t[i] || ' ' || t[i + 1])) AS b
  FROM toks
), bgc AS (
  SELECT doc_id, b, count(*) AS c FROM bg GROUP BY doc_id, b
), agg AS (
  SELECT doc_id, max(c) AS top_c, sum(c) AS total_bg FROM bgc GROUP BY doc_id
)
SELECT t.doc_id,
       len(t.t) AS n_tokens,
       ((20000 * (greatest(len(t.t), 1) - len(list_distinct(t.t)))
         + greatest(len(t.t), 1))
        // (2 * greatest(len(t.t), 1))) / 10000.0 AS dup_token_frac,
       CAST(coalesce(a.total_bg, 0) AS BIGINT) AS n_bigrams,
       ((20000 * coalesce(a.top_c, 0) + greatest(coalesce(a.total_bg, 0), 1))
        // (2 * greatest(coalesce(a.total_bg, 0), 1))) / 10000.0
         AS top_bigram_frac
FROM toks t LEFT JOIN agg a ON t.doc_id = a.doc_id
ORDER BY t.doc_id
"""


def source_quality_gates(documents: DataFrame) -> DataFrame:
    """Per-source Gopher-gate pass-rate table: how many documents each
    source loses to each quality gate (Rae et al. 2021 §A1.1) — the
    report a curation run publishes per feed before mixing:

    - short:   fewer than 10 tokens
    - wordlen: mean word length outside [3, 10]
    - dup:     duplicated-token fraction > 0.3
    - bigram:  modal-bigram fraction > 0.18

    Output: (source, n_docs, n_fail_short, n_fail_wordlen, n_fail_dup,
    n_fail_bigram, n_pass, pass_rate) — n_pass counts docs clearing ALL
    gates.

    Shape: every gate is an in-row Catalyst expression (token array,
    length fold, sorted-bigram run fold — the repetition_stats
    machinery), so the whole query is one projection + one
    source-keyed aggregate; no per-token shuffle exists at any scale.
    Every gate compares exact integer ratios (identical doubles on both
    engines), so the flags are deterministic.
    """
    t = tokenize("text")
    d = documents.select("source", t.alias("t"))
    n = F.size("t")
    sum_len = F.expr("aggregate(t, 0L, (acc, x) -> acc + length(x))")
    mean_len = sum_len / F.greatest(n, F.lit(1))
    dup_frac = F.lit(1) - F.size(F.array_distinct("t")) / F.greatest(n, F.lit(1))
    bg = ngrams(F.col("t"), 2)
    d = d.withColumn("n", n).withColumn("mean_len", mean_len).withColumn(
        "dup_frac", dup_frac
    ).withColumn("bg", bg)
    top_run = _top_run_expr()
    bigram_frac = top_run / F.greatest(F.size("bg"), F.lit(1))
    flags = d.select(
        "source",
        (F.col("n") < 10).cast("long").alias("f_short"),
        ((F.col("mean_len") < 3.0) | (F.col("mean_len") > 10.0))
        .cast("long")
        .alias("f_wordlen"),
        (F.col("dup_frac") > 0.3).cast("long").alias("f_dup"),
        (bigram_frac > 0.18).cast("long").alias("f_bigram"),
    )
    return (
        flags.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("f_short").alias("n_fail_short"),
            F.sum("f_wordlen").alias("n_fail_wordlen"),
            F.sum("f_dup").alias("n_fail_dup"),
            F.sum("f_bigram").alias("n_fail_bigram"),
            F.sum(
                (
                    (F.col("f_short") + F.col("f_wordlen") + F.col("f_dup") + F.col("f_bigram"))
                    == 0
                ).cast("long")
            ).alias("n_pass"),
        )
        .withColumn(
            # half-up integer division at 4dp (integer-ratio round ties).
            "pass_rate",
            F.expr("(20000 * n_pass + n_docs) div (2 * n_docs)") / 10000.0,
        )
        .orderBy("source")
    )


SOURCE_QUALITY_GATES_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, source,
         list_filter(regexp_split_to_array(lower(text), '[^\p{L}]+'), x -> x <> '') AS t
  FROM documents
), bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(t), 1)),
                               i -> t[i] || ' ' || t[i + 1])) AS b
  FROM toks
), bgc AS (
  SELECT doc_id, b, count(*) AS c FROM bg GROUP BY doc_id, b
), bga AS (
  SELECT doc_id, max(c) AS top_c, sum(c) AS total_bg FROM bgc GROUP BY doc_id
), flags AS (
  SELECT k.source,
         CASE WHEN len(k.t) < 10 THEN 1 ELSE 0 END AS f_short,
         CASE WHEN len(k.t) = 0 THEN 1
              WHEN list_sum(list_transform(k.t, x -> length(x)))
                     / CAST(greatest(len(k.t), 1) AS DOUBLE) < 3.0 THEN 1
              WHEN list_sum(list_transform(k.t, x -> length(x)))
                     / CAST(greatest(len(k.t), 1) AS DOUBLE) > 10.0 THEN 1
              ELSE 0 END AS f_wordlen,
         CASE WHEN 1 - len(list_distinct(k.t)) / CAST(greatest(len(k.t), 1) AS DOUBLE) > 0.3
              THEN 1 ELSE 0 END AS f_dup,
         CASE WHEN coalesce(a.top_c, 0) / CAST(greatest(coalesce(a.total_bg, 0), 1) AS DOUBLE) > 0.18
              THEN 1 ELSE 0 END AS f_bigram
  FROM toks k LEFT JOIN bga a ON k.doc_id = a.doc_id
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(f_short) AS BIGINT) AS n_fail_short,
       CAST(sum(f_wordlen) AS BIGINT) AS n_fail_wordlen,
       CAST(sum(f_dup) AS BIGINT) AS n_fail_dup,
       CAST(sum(f_bigram) AS BIGINT) AS n_fail_bigram,
       CAST(sum(CASE WHEN f_short + f_wordlen + f_dup + f_bigram = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
       ((20000 * CAST(sum(CASE WHEN f_short + f_wordlen + f_dup + f_bigram = 0
                               THEN 1 ELSE 0 END) AS BIGINT) + count(*))
        // (2 * count(*))) / 10000.0 AS pass_rate
FROM flags
GROUP BY source
ORDER BY source
"""
