"""Tokenization expressions — the reference's word splitter, Spark-side.

Reference tokenizer: split on any non-letter rune, Unicode-aware
(plugins/wc/wc.go:12-14, plugins/ii/ii.go:13-15, via unicode.IsLetter),
then lowercase each token (wc.go:18, ii.go:19).

Java regex ``\\p{L}`` matches the same Unicode letter category as Go's
``unicode.IsLetter``, so ``split(lower(text), '[^\\p{L}]+')`` reproduces it.
Spark's ``split`` also yields an empty element for leading or trailing
separators (and for empty text), where Go's ``FieldsFunc`` yields none
(SURVEY.md §7.4); ``tokenize`` removes them with ``array_remove``, so no
caller filters them again. ``array_remove`` compiles inside whole-stage
codegen, where a ``filter`` lambda would not.

All of this stays JVM-side (whole-stage codegen) — no Python UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Character class identical in Java regex (Spark) and RE2 (DuckDB oracle).
TOKEN_SPLIT_REGEX = r"[^\p{L}]+"


def tokenize(text: Column | str) -> Column:
    """Lowercased array<string> of letter-run tokens, never an empty one."""
    col = F.col(text) if isinstance(text, str) else text
    return F.array_remove(F.split(F.lower(col), TOKEN_SPLIT_REGEX), "")


def bind_once(col: Column, f) -> Column:
    """Evaluate ``col`` once per row and pass it to ``f`` as a bound
    lambda variable — the anti-inlining barrier for per-position fan-outs.

    Catalyst INLINES (never CSEs) an expression referenced from inside a
    higher-order-function lambda: ``transform(sequence(1, size(t)-k+1),
    i -> ...slice(t, i, k)...)`` with ``t`` a projected tokenize composite
    re-runs the whole regex split ONCE PER POSITION — O(tokens ×
    tokenize) per row (measured r21: the 8-token md5 span build over the
    sf0.1 corpus dropped 4.2s → 1.2s from this binding alone, identical
    output hash). Wrapping the composite as the single element of an
    array and transforming over it makes every reference inside ``f`` a
    lambda-variable lookup, which Catalyst cannot inline into.
    ``minhash_signature_expr`` (functions/hashing.py) has used this shape
    since r6; this helper makes it reusable by every span/bigram/shingle
    builder so the discipline cannot drift.
    """
    return F.get(F.transform(F.array(col), f), 0)


def ngrams(tokens: Column, n: int) -> Column:
    """array<string> of the space-joined windows of ``n`` consecutive
    ``tokens``, in order; empty when there are fewer than ``n`` tokens.

    ``tokens`` is bound once (``bind_once``), and each window is one
    ``concat_ws`` over ``element_at`` lookups, so no per-window array is
    allocated. The ``size < n`` arm is what keeps short rows empty:
    Spark's ``sequence(1, size - n + 1)`` counts down when the end is
    below the start."""

    def windows(t: Column) -> Column:
        return F.when(F.size(t) < n, F.array().cast("array<string>")).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.size(t) - (n - 1)),
                lambda i: F.concat_ws(" ", *(F.element_at(t, i + j) for j in range(n))),
            )
        )

    return bind_once(tokens, windows)


def words_from(df: DataFrame, text_col: str = "value", *carry: str) -> DataFrame:
    """Explode ``text_col`` into one lowercase word per row (O5+O6+O14).

    ``carry`` columns are kept alongside each word (e.g. doc_id for the
    inverted index).
    """
    return df.select(F.explode(tokenize(text_col)).alias("word"), *carry)
