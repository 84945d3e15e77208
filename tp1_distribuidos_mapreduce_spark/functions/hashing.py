"""Hash/sketch expressions for near-duplicate detection — all JVM-side.

MinHash and SimHash are built from ``xxhash64`` (a Catalyst expression) via
higher-order array functions, so signature computation happens inside
whole-stage codegen during the scan — no Python UDF, no shuffle. At 100 TB
this is the difference between a map-only signature pass and a crawl.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .tokenize import bind_once, ngrams


def md5_span_hashes(tokens: Column, k: int) -> Column:
    """array<string> of DISTINCT md5 hex hashes of the k-token spans of
    ``tokens`` (< k tokens → empty array) — the shared span-fingerprint
    kernel of the verbatim-overlap family (shared_span_pairs,
    cross_source_span_matrix, benchmark_contamination). md5 is
    bit-identical in DuckDB, so every oracle groups on the very same
    keys. The spans are ``ngrams``, which binds ``tokens`` once before
    the per-position fan-out."""
    return F.array_distinct(
        F.transform(ngrams(tokens, k), lambda g: F.md5(g.cast("binary")))
    )


def ngram_shingles(tokens: Column, n: int = 3) -> Column:
    """Word n-gram shingles from a token array (array<string> → array<string>).

    Documents shorter than ``n`` tokens yield their whole text as one
    shingle so they still participate in similarity; the windows of
    longer ones are ``ngrams``.
    """

    def grams_of(toks: Column) -> Column:
        k = F.size(toks)
        return F.when(
            (k > 0) & (k < n), F.array(F.array_join(toks, " "))
        ).otherwise(ngrams(toks, n))

    return bind_once(tokens, grams_of)


def minhash_signature_expr(shingles: Column, num_hashes: int = 32) -> Column:
    """MinHash signature: array<bigint> of length ``num_hashes``.

    Hash family: xxhash64 seeded by position via an extra literal column —
    standard "k independent hashes from one keyed hash" construction.
    min() over the shingle set per seed = the MinHash estimator.

    NB: the per-seed lambda must take exactly ONE parameter — pyspark's
    ``transform`` passes the array index to a two-parameter lambda, which
    would silently replace the seed and collapse the hash family.

    ``shingles`` is bound as a lambda variable before fan-out: the caller
    usually passes a composite expression (tokenize → shingle →
    array_distinct), and referencing it directly from all ``num_hashes``
    array slots would make Catalyst evaluate it ``num_hashes`` times per
    row — expression trees get inlined, not CSE'd, across lambda scopes.
    """

    def signature(sh: Column) -> Column:
        def min_hash(seed: int) -> Column:
            return F.array_min(F.transform(sh, lambda s: F.xxhash64(F.lit(seed), s)))

        return F.array(*[min_hash(i) for i in range(num_hashes)])

    return F.get(F.transform(F.array(shingles), signature), 0)


def simhash_expr(tokens: Column, bits: int = 64) -> Column:
    """64-bit SimHash fingerprint (bigint) of a token array.

    Two passes over fixed-width data: hash every token once into an
    array<bigint>, then for each of the 64 bit positions count set bits
    with ``filter``+``size`` and set the fingerprint bit where set-count
    exceeds half (majority of ±1 votes > 0). Scalar shift/and per element —
    no per-token array allocation, no 64-wide zip_with accumulator, which
    profiled ~5× slower from allocation pressure alone. Bit 63 wrapping to
    a negative bigint is fine — the value is an opaque fingerprint.
    """

    def build(hs: Column) -> Column:
        n = F.size(hs)

        # factory (not an inline lambda in the loop): binds j by value —
        # a loop-scoped lambda would late-bind j, and a default-arg lambda
        # would become two-parameter and receive the array index instead.
        def ones_at(j: int) -> Column:
            return F.size(
                F.filter(hs, lambda h: F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1)
            )

        acc = F.lit(0).cast("long")
        for j in range(bits):
            bitval = -(1 << 63) if j == 63 else (1 << j)
            acc = acc.bitwiseOR(
                F.when(ones_at(j) * 2 > n, F.lit(bitval).cast("long"))
                .otherwise(F.lit(0).cast("long"))
            )
        return acc

    hashes = F.transform(tokens, lambda t: F.xxhash64(t))
    return F.get(F.transform(F.array(hashes), build), 0)


def hamming_distance64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit fingerprints via popcount(xor)."""
    return F.bit_count(a.bitwiseXOR(b))
