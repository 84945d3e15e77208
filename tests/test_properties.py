"""Property-based differential tests (hypothesis): the tokenizer and wc
semantics must agree with the DuckDB oracle on arbitrary unicode inputs —
the reference's case/punctuation test classes (tests/test_wc.py:82-162)
generalized from fixed strings to generated ones."""

from __future__ import annotations

from collections import Counter

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tp1_distribuidos_mapreduce_spark.operators.mapreduce import _wc_map
from tp1_distribuidos_mapreduce_spark.operators.wordcount import word_count

# text with letters (several scripts), digits, numerals that are not
# letters (No/Nl), a combining mark, punctuation, whitespace
_ALPHABET = st.sampled_from(
    list("abcXYZñÑüÜßλΩ日本語0123456789²½Ⅻ\u0301 \t\n.,;:!?¡¿'\"-_()[]{}@#$%&*+=/\\|~`^")
)
# r12 suite-time rework: fewer hypothesis examples, each carrying MORE
# docs (1 Spark job per example is the fixed cost; doc count is ~free),
# so total fuzzed text volume is unchanged at roughly half the jobs.
_TEXTS = st.lists(st.text(_ALPHABET, max_size=80), min_size=1, max_size=12)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(texts=_TEXTS)
def test_wordcount_matches_duckdb_on_arbitrary_text(spark, texts):
    corpus = spark.createDataFrame(
        [(str(i), t) for i, t in enumerate(texts)], "doc_id string, value string"
    )
    got = {(r.word, r.cnt) for r in word_count(corpus).collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE docs (text VARCHAR)")
    for t in texts:
        con.execute("INSERT INTO docs VALUES (?)", [t])
    want = set(
        con.sql(
            r"""
            SELECT word, count(*) AS cnt
            FROM (SELECT unnest(regexp_split_to_array(lower(text), '[^\p{L}]+')) AS word
                  FROM docs)
            WHERE word <> ''
            GROUP BY word
            """
        ).fetchall()
    )
    con.close()
    assert got == want
    # The plugin tokenizer (pure Python) must split exactly as DuckDB does.
    plugin = Counter(w for t in texts for w, _ in _wc_map("d", t))
    assert set(plugin.items()) == want


def test_bench_emits_driver_contract_json(spark, monkeypatch, capsys):
    """bench.py is the driver's per-round feedback loop — its ONE-JSON-line
    contract breaking would silently drop the round's BENCH artifact.

    r13 suite-time trim: runs bench.main() IN-PROCESS (get_spark's
    getOrCreate reuses the suite's warmed session; SparkSession.stop is
    no-op'd for the call so the shared session survives) instead of
    spawning a fresh ~15s JVM subprocess. The contract under test — JSON
    shape, warmup knob, sidecar redirect, failure accounting — is
    main()'s behavior either way; the __main__ shim is one line.
    """
    import json
    import tempfile

    import bench
    from pyspark.sql import SparkSession

    # A representative slice (text tokenize, pandas kernel, format
    # parity) exercises the harness contract without a full timing
    # sweep — full-registry execution is covered by the oracle
    # differential; full-registry TIMING is the driver's sf0.1 run.
    subset = "wc,mr_ii,weekday_orders_from_csv"
    with tempfile.NamedTemporaryFile(suffix=".json") as side:
        monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
        monkeypatch.setenv("SPARK_GRAFT_BENCH_ONLY", subset)
        monkeypatch.setenv("SPARK_GRAFT_BENCH_WARMUP", "0")
        monkeypatch.setenv("SPARK_GRAFT_BENCH_SIDECAR", side.name)
        monkeypatch.delenv("SPARK_GRAFT_BENCH_REPEATS", raising=False)
        monkeypatch.setattr(SparkSession, "stop", lambda self: None)
        bench.main()
        out = capsys.readouterr().out
        json_lines = [l for l in out.splitlines() if l.startswith("{")]
        assert len(json_lines) == 1, out[-2000:]
        d = json.loads(json_lines[0])
        assert d["metric"] == "total_query_wall_clock" and d["unit"] == "sec"
        assert d["sf"] == 0.001
        assert len(json_lines[0]) < 2000  # fits the driver's stdout tail cap
        assert d["n_queries"] == len(subset.split(","))
        assert set(d["queries"]) == set(subset.split(","))
        failed = {k: v for k, v in d["queries"].items() if v < 0}
        assert not failed, f"bench queries failed: {failed}"
        # complete sidecar went to the redirected path, full precision
        full = json.loads(side.read().decode())
        assert set(full["queries"]) == set(subset.split(","))
    # the committed sf0.1 record was NOT touched by this sf0.001 run
    committed = json.load(open("/root/repo/BENCH_FULL.json"))
    assert committed["sf"] == 0.1


def test_chunking_covers_every_token_at_any_geometry(spark):
    """For any doc length and chunk size with stride == chunk (partition
    mode), chunk token counts must sum to the doc's token count; with
    stride == chunk//2 (overlap mode), every token index must be covered.

    r12 suite-time rework: was hypothesis max_examples=10 (20 Spark
    jobs on 1-row frames, ~15s); now a deterministic BOUNDARY GRID —
    all doc lengths ride in ONE DataFrame per chunk geometry (2 jobs
    per geometry), and the length set {0, 1, c−1, c, c+1, 2c−1, 2c,
    2c+1, 200} × chunk ∈ {1, 2, 3, 64} covers every off-by-one the
    randomized version could reach, plus the empty-doc edge, in ~1/3
    the wall time with strictly broader coverage."""
    from tp1_distribuidos_mapreduce_spark.operators.pipeline import chunk_documents

    for chunk in (1, 2, 3, 64):
        lengths = sorted(
            {0, 1, max(0, chunk - 1), chunk, chunk + 1,
             2 * chunk - 1, 2 * chunk, 2 * chunk + 1, 200}
        )
        rows = [
            (n, " ".join(f"t{i}" for i in range(n))) for n in lengths
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        expected = {n: (n if n else 1) for n in lengths}  # "" → one token

        part = chunk_documents(df, chunk_size=chunk, stride=chunk).collect()
        got_sum: dict[int, int] = {}
        for r in part:
            got_sum[r.doc_id] = got_sum.get(r.doc_id, 0) + r.n_chunk_tokens
        assert got_sum == expected, f"chunk={chunk}"

        stride = max(1, chunk // 2)
        over = chunk_documents(df, chunk_size=chunk, stride=stride).collect()
        covered: dict[int, set] = {n: set() for n in lengths}
        for r in over:
            start = r.chunk_id * stride
            covered[r.doc_id].update(range(start, start + r.n_chunk_tokens))
        for n in lengths:
            assert covered[n] == set(range(expected[n])), (chunk, n)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(texts=_TEXTS)
def test_repetition_fold_matches_python_reference(spark, texts):
    """The in-row sorted-fold bigram mode (operators/textclean.py) must
    equal a plain Python Counter on arbitrary unicode text — the fold is
    the one piece of clever expression logic in the module."""
    import re

    from tp1_distribuidos_mapreduce_spark.operators.textclean import repetition_stats

    docs = spark.createDataFrame(
        [(i, t, "x", "s", len(t)) for i, t in enumerate(texts)],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    got = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    for i, t in enumerate(texts):
        # Python re lacks \p{L}; the generated alphabet's letters are
        # exactly these, so this class emulates the engine's tokenizer on
        # every input hypothesis can produce here.
        toks = [w for w in re.split(r"[^a-zñüßλω日本語]+", t.lower()) if w]
        bgs = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        top = max(Counter(bgs).values()) if bgs else 0
        assert got[i]["n_bigrams"] == len(bgs), (t, toks)
        want_frac = round(top / max(len(bgs), 1), 4)
        assert abs(got[i]["top_bigram_frac"] - want_frac) < 1e-9, (t, toks)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(texts=_TEXTS)
def test_shared_span_pairs_matches_python_reference(spark, texts):
    """The span build + df-cut + pair expansion (operators/dedup.py) must
    agree with a direct Python computation on arbitrary unicode text,
    including short docs (< k tokens) and boilerplate spans over the cut."""
    import re
    from collections import defaultdict
    from itertools import combinations

    from tp1_distribuidos_mapreduce_spark.operators.dedup import shared_span_pairs

    k, cut = 3, 2
    docs = spark.createDataFrame(
        [(i, t, "x", "s", len(t)) for i, t in enumerate(texts)],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["n_shared_spans"]
        for r in shared_span_pairs(docs, k=k, max_span_df=cut).collect()
    }

    span_docs = defaultdict(set)
    for i, t in enumerate(texts):
        toks = [w for w in re.split(r"[^a-zñüßλω日本語]+", t.lower()) if w]
        for j in range(len(toks) - k + 1):
            span_docs[" ".join(toks[j : j + k])].add(i)
    want = defaultdict(int)
    for ds in span_docs.values():
        if 2 <= len(ds) <= cut:
            for a, b in combinations(sorted(ds), 2):
                want[(a, b)] += 1
    assert got == dict(want), (got, dict(want))


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(st.text("abcxyzñλ日", min_size=1, max_size=4), max_size=12),
        min_size=1,
        max_size=12,
    ),
    n=st.integers(1, 8),
)
def test_ngrams_match_python_windows(spark, docs, n):
    """``ngrams`` (functions/tokenize.py) is every run of n consecutive
    tokens joined by one space, in order, and empty below n tokens;
    ``ngram_shingles`` is the same except that a document with
    0 < len < n tokens is one shingle of its whole text."""
    from pyspark.sql import functions as F

    from tp1_distribuidos_mapreduce_spark.functions.hashing import ngram_shingles
    from tp1_distribuidos_mapreduce_spark.functions.tokenize import ngrams

    df = spark.createDataFrame([(i, t) for i, t in enumerate(docs)], "i int, t array<string>")
    got = {
        r["i"]: (r["g"], r["s"])
        for r in df.select(
            "i", ngrams(F.col("t"), n).alias("g"), ngram_shingles(F.col("t"), n).alias("s")
        ).collect()
    }
    for i, t in enumerate(docs):
        want = [" ".join(t[j : j + n]) for j in range(len(t) - n + 1)]
        assert got[i][0] == want, (t, n)
        assert got[i][1] == ([" ".join(t)] if 0 < len(t) < n else want), (t, n)


_PART = st.one_of(st.none(), st.integers(1, 9))


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    orders=st.lists(st.tuples(st.integers(1, 6), _PART), min_size=1, max_size=30),
    null_basket=st.lists(_PART, min_size=2, max_size=6),
)
def test_basket_pairs_match_python_double_loop(spark, orders, null_basket):
    """The co-purchase self-join (plans/retail.py basket_pairs) against a
    double loop over each order's distinct non-NULL part set. Every frame
    holds a NULL order key (one basket, as a groupBy makes it), a part
    repeated within an order and a NULL part key."""
    from tp1_distribuidos_mapreduce_spark.operators.graph import (
        undirected_copurchase_edges,
    )
    from tp1_distribuidos_mapreduce_spark.plans.retail import (
        basket_item_counts,
        basket_items,
        basket_pair_counts,
    )

    rows = (
        orders
        + orders[:1]
        + [(orders[0][0], None)]
        + [(None, p) for p in null_basket]
    )
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    baskets: dict = {}
    for o, p in rows:
        if p is not None:
            baskets.setdefault(o, set()).add(p)
    pairs = Counter(
        (a, b) for parts in baskets.values() for a in parts for b in parts if a < b
    )
    parts = Counter(p for ps in baskets.values() for p in ps)

    items = basket_items(li)
    edge_rows = [tuple(r) for r in undirected_copurchase_edges(li).collect()]
    edges = set(edge_rows)
    assert len(edge_rows) == len(edges), edge_rows
    counts = {(r["a"], r["b"]): r["n_ab"] for r in basket_pair_counts(items).collect()}
    n_part = {r["part"]: r["n_part"] for r in basket_item_counts(items).collect()}
    assert edges == set(pairs), (rows, edges)
    assert counts == dict(pairs), (rows, counts)
    assert n_part == dict(parts), (rows, n_part)
