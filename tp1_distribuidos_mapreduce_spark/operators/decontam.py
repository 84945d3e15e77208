"""Benchmark decontamination: flag training documents that share verbatim
k-token spans with a held-out benchmark/eval set.

Additive LLM-pipeline surface (no reference counterpart — the reference's
text processing is the wc/ii tokenizer, SURVEY.md §2 O5/O6). This is the
standard pre-training decontamination pass (GPT-3 appendix C; Lee et al.
2022 §5): any training doc containing an n-gram of an eval document is
suspect and gets dropped or audited before training.

Scale shape: the benchmark side is SMALL by construction (eval suites are
thousands of docs, the corpus is billions), so its distinct span-hash set
broadcasts and the corpus-side probe is a map-side broadcast semi-join —
the only data-sized shuffle is the per-doc contamination count aggregate,
keyed on doc_id. Spans are md5-hashed before any join (fixed-width keys,
bit-identical in DuckDB), reusing the shared-span discipline of
operators/dedup.py::shared_span_pairs.

The fixture ships one corpus, so the query derives the split
deterministically (identically in the oracle): benchmark = docs with
``doc_id % 13 == 0``, training corpus = the rest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.tokenize import tokenize

DECONTAM_SPAN_K = 8


def _doc_spans(documents: DataFrame, k: int) -> DataFrame:
    """(doc_id, s) distinct md5 span hashes per doc — map-only in-row
    build (transform + array_distinct) then explode; the span kernel is
    functions/hashing.md5_span_hashes, shared with shared_span_pairs so
    both operators stay oracle-exact. The kernel binds the token array
    as a lambda variable (r21) — previously the tokenize composite was
    inlined into the per-position slice lambda and re-ran once per span
    (benchmark_contamination measured 6.5s → 2.1s at sf0.1 from that
    binding, identical output)."""
    from ..functions.hashing import md5_span_hashes

    t = tokenize("text")
    d = documents.select("doc_id", t.alias("t"))
    # Materialize the span array as a named column BEFORE size+explode:
    # Catalyst inlines (never CSEs) the expression into the Project above
    # the Generate, so size(spans) alongside explode(spans) would rebuild
    # the whole tokenize+md5 array once per EXPLODED ROW — O(m²) md5 work
    # per doc (verified in the formatted plan). Projected first, the
    # array is computed once per input row and size() reads the attribute.
    return d.select("doc_id", md5_span_hashes(F.col("t"), k).alias("spans")).select(
        "doc_id",
        F.size("spans").cast("long").alias("n_spans"),
        F.explode("spans").alias("s"),
    )


def benchmark_contamination(
    documents: DataFrame, k: int = DECONTAM_SPAN_K
) -> DataFrame:
    """Per contaminated training doc: how many of its distinct k-token
    spans appear verbatim in ANY benchmark doc, plus the contaminated
    fraction of its spans. Only docs with >= 1 hit are returned (the
    audit/drop list); clean docs stay out of the result by construction.

    Plan: benchmark span set (distinct hashes, small) broadcast →
    left-semi probe of the corpus span stream → doc_id-keyed count.
    Nothing corpus-sized ever shuffles on a text key.
    """
    # The tokenize+md5-span pipeline is CPU-bound and narrow: a small
    # parquet input (one 128 MB split — the sf0.1 fixture) pins it to ONE
    # core. Widen to session shuffle parallelism first — measured 20.7s →
    # 3.6s at sf0.1 (adjacent A/B, idle machine); at cluster scale inputs
    # already have thousands of splits and this is a planning-time no-op
    # (same policy as ngram_jaccard_pairs / minhash_lsh_pairs).
    from ..session import widen_to_shuffle_parallelism

    documents = widen_to_shuffle_parallelism(documents)
    bench_spans = (
        _doc_spans(documents.where(F.col("doc_id") % 13 == 0), k)
        .select("s")
        .distinct()
    )
    corpus_spans = _doc_spans(documents.where(F.col("doc_id") % 13 != 0), k)
    hits = corpus_spans.join(F.broadcast(bench_spans), "s", "left_semi")
    return (
        hits.groupBy("doc_id")
        .agg(
            F.first("n_spans").alias("n_spans"),
            F.count("*").alias("n_contaminated"),
        )
        .select(
            "doc_id",
            "n_spans",
            "n_contaminated",
            F.round(
                F.col("n_contaminated") / F.greatest(F.col("n_spans"), F.lit(1)), 4
            ).alias("contaminated_frac"),
        )
        .orderBy("doc_id")
    )


BENCHMARK_CONTAMINATION_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^\p{{L}}]+'), x -> x <> '') AS t
  FROM documents
), spans AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(len(t) - {DECONTAM_SPAN_K} + 2, 1)),
                i -> md5(array_to_string(t[i:i+{DECONTAM_SPAN_K}-1], ' ')))) AS s
  FROM toks
  WHERE len(t) >= {DECONTAM_SPAN_K}
), sizes AS (
  SELECT doc_id, count(*) AS n_spans FROM spans GROUP BY doc_id
), bench AS (
  SELECT DISTINCT s FROM spans WHERE doc_id % 13 = 0
), hits AS (
  SELECT c.doc_id, count(*) AS n_contaminated
  FROM spans c JOIN bench b USING (s)
  WHERE c.doc_id % 13 <> 0
  GROUP BY c.doc_id
)
SELECT h.doc_id,
       CAST(z.n_spans AS BIGINT) AS n_spans,
       CAST(h.n_contaminated AS BIGINT) AS n_contaminated,
       round(h.n_contaminated / greatest(z.n_spans, 1), 4) AS contaminated_frac
FROM hits h JOIN sizes z USING (doc_id)
ORDER BY h.doc_id
"""
