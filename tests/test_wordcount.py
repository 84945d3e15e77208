"""wc / ii parity tests — mirrors the reference's test corpus
(tests/test_wc.py, tests/test_ii.py): basic overlap, mixed case,
punctuation, stress/skew, multi-doc distinctness (FIXTURES.md §A)."""

from __future__ import annotations

import pytest

from tp1_distribuidos_mapreduce_spark.operators.wordcount import (
    inverted_index,
    word_count,
)
from tp1_distribuidos_mapreduce_spark import registry

from conftest import SF_SMOKE, assert_df_matches_oracle


def corpus(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, value string")


def test_wc_basic_overlap(spark):
    # reference tests/test_wc.py:42-79
    df = corpus(spark, [("pg-1", "hola don pepito"), ("pg-2", "hola don jose")])
    got = {r.word: r.cnt for r in word_count(df).collect()}
    assert got == {"hola": 2, "don": 2, "pepito": 1, "jose": 1}


def test_wc_mixed_case(spark):
    # reference tests/test_wc.py:82-120
    df = corpus(spark, [("pg-1", "HOla dON don senioR seNIoritOO pePItO!")])
    got = {r.word: r.cnt for r in word_count(df).collect()}
    assert got == {"hola": 1, "don": 2, "senior": 1, "senioritoo": 1, "pepito": 1}


def test_wc_punctuation_no_empty_tokens(spark):
    # reference tests/test_wc.py:123-162 — the empty-token trap (SURVEY §7.4)
    df = corpus(spark, [("pg-1", "hola,,, hola!!. chau!$$ 123 ü ño")])
    got = {r.word: r.cnt for r in word_count(df).collect()}
    assert got == {"hola": 2, "chau": 1, "ü": 1, "ño": 1}
    assert "" not in got


def test_tokenize_arrays_hold_no_empty_token(spark):
    """tokenize drops the empty elements Spark's split leaves for leading
    and trailing separators and for text without letters, so callers
    count and slice its arrays directly; NULL text stays NULL."""
    from tp1_distribuidos_mapreduce_spark.functions.tokenize import tokenize

    rows = [("  Hola, don  ",), ("",), (None,), ("123 456",), ("¡Ñandú, ÉL!",)]
    df = spark.createDataFrame(rows, "text string")
    got = [r.t for r in df.select(tokenize("text").alias("t")).collect()]
    assert got == [["hola", "don"], [], None, [], ["ñandú", "él"]]


def test_wc_stress_golden(spark):
    # reference tests/test_wc.py:254-300 golden counts, scaled down 100×
    text1 = "hola " * 100 + "don " * 20 + "pepito " * 50
    text2 = "hola " * 100 + "don " * 20 + "jose " * 50
    df = corpus(spark, [("pg-1", text1), ("pg-2", text2)])
    got = {r.word: r.cnt for r in word_count(df).collect()}
    assert got == {"hola": 200, "don": 40, "pepito": 50, "jose": 50}


def test_ii_sorted_distinct_docs(spark):
    # reference tests/test_ii.py:51-88 semantics: distinct, ascending, comma-join
    df = corpus(
        spark,
        [("b.txt", "hola don"), ("a.txt", "hola hola"), ("c.txt", "don hola don")],
    )
    got = {r.word: r.docs for r in inverted_index(df).collect()}
    assert got == {"hola": "a.txt,b.txt,c.txt", "don": "b.txt,c.txt"}
    arrs = {r.word: r.docs_arr for r in inverted_index(df).collect()}
    assert arrs["don"] == ["b.txt", "c.txt"]


def test_wc_output_sorted_by_word(spark):
    df = corpus(spark, [("pg-1", "zeta alfa mika")])
    words = [r.word for r in word_count(df).collect()]
    assert words == sorted(words)


@pytest.mark.parametrize("name", ["wc", "ii"])
def test_registry_matches_duckdb_oracle(spark, duck, name):
    sdf = registry.queries()[name](spark, SF_SMOKE)
    assert_df_matches_oracle(sdf, duck, registry.oracle_sql()[name])
