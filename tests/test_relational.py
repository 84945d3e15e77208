"""Differential tests: every registered query with an oracle is checked
against DuckDB at sf0.001 — the same gate the driver runs at sf0.01."""

from __future__ import annotations

import pytest

from tp1_distribuidos_mapreduce_spark import registry

from conftest import SF_SMOKE, assert_rows_match_oracle

ORACLE_NAMES = sorted(registry.oracle_sql().keys())


@pytest.fixture(scope="session")
def oracle_results(spark, request):
    """Collect the SELECTED oracle-backed queries' results ONCE,
    concurrently.

    The per-query differential below then only compares precomputed rows
    — per-query failure granularity is unchanged, but the ~150 Spark
    executions overlap instead of running serially (Spark's scheduler is
    thread-safe; shared /tmp artifacts are race-free via
    sources/artifacts.build_once). Measured: the serial parameterized
    version was the suite's dominant cost. Only names actually selected
    for this session are computed, so `-k one_query` stays a one-query
    dev loop instead of a full sweep.
    """
    from concurrent.futures import ThreadPoolExecutor

    qs = registry.queries()
    selected = {
        item.callspec.params["name"]
        for item in request.session.items
        if getattr(item, "callspec", None) is not None
        and item.callspec.params.get("name") in qs
        and item.function.__name__ == "test_query_matches_oracle"
    }
    names = [n for n in ORACLE_NAMES if n in selected] or ORACLE_NAMES

    def run(name):
        try:
            sdf = qs[name](spark, SF_SMOKE)
            cols = sorted(sdf.columns)
            rows = [tuple(row[c] for c in cols) for row in sdf.collect()]
            return (cols, rows, None)
        except Exception as ex:  # surfaced by the owning param test
            return (None, None, ex)

    # 32 threads (r16, was 24): the collects are executor-bound on 32
    # cores but each has py4j/planning dead time a deeper pool overlaps.
    with ThreadPoolExecutor(max_workers=32) as pool:
        return dict(zip(names, pool.map(run, names)))


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_query_matches_oracle(duck, oracle_results, name):
    cols, rows, err = oracle_results[name]
    if err is not None:
        raise err
    assert_rows_match_oracle(cols, rows, duck, registry.oracle_sql()[name])


def test_every_query_has_callable_signature(spark):
    qs = registry.queries()
    assert len(qs) >= 4
    for name, fn in qs.items():
        assert callable(fn), name


def test_readme_query_counts_match_registry():
    """ADVICE r3: README's '<N> named queries … (<M>) carry a DuckDB
    oracle' counts went stale; derive them from the registry so they
    can't drift again."""
    import re
    from pathlib import Path

    text = Path(__file__).resolve().parent.parent.joinpath("README.md").read_text()
    m = re.search(
        r"(\d+) named queries in `registry\.py`.*?\((\d+)\) carry a DuckDB oracle",
        text,
        re.DOTALL,
    )
    assert m, "README query-count sentence not found"
    assert int(m.group(1)) == len(registry.queries())
    assert int(m.group(2)) == len(registry.oracle_sql())


def test_driver_order_starts_with_parity_queries_then_oracled():
    """The driver compares the first 50 entries of queries() against
    their oracles, so those entries must all carry one, and the five
    reference-parity queries lead."""
    names = list(registry.queries())
    assert names[:5] == ["wc", "wc_textfiles", "ii", "mr_wc", "mr_ii"]
    rows_only = [n for n in names[:50] if n not in registry.oracle_sql()]
    assert not rows_only, f"rows-only queries in the first 50: {rows_only}"


# The rows_only_results fixture lives in conftest.py (r15: shared with
# the merge-proof pins in test_approx.py).
from conftest import _rows_only_names  # noqa: E402

ROWS_ONLY_NAMES = _rows_only_names()


@pytest.mark.parametrize("name", ROWS_ONLY_NAMES)
def test_rows_only_queries_emit_no_nulls(rows_only_results, name):
    """The oracle differential now enforces the no-NULL output policy
    mechanically for oracle-backed queries (conftest); rows-only queries
    get the same scan here so the whole registry is covered."""
    a, _ = rows_only_results[name]
    assert not isinstance(a, str), f"{name} failed: {a}"
    nulls = [(i, v) for r in a for i, v in enumerate(r) if v is None]
    assert not nulls, f"{name} emitted NULLs: {nulls[:3]}"


def test_minhash_lsh_emits_pairs_on_the_corpus_fixture(rows_only_results):
    """Non-emptiness guard for the LSH pipeline on the REAL corpus (not
    just constructed near-dups): the sf0.001 fixture is known to emit
    candidate pairs (28 as generated; sf0.1 emits 256), so a banding/
    bucketing regression that collapses the candidate set reads as a
    failure HERE — the differential's envelope check deliberately
    treats zero pairs as vacuous rather than failing (ADVICE r14), so
    this pin is the compensating signal. Zero extra collects: consumes
    the pooled fixture rows."""
    rows, _ = rows_only_results["dedup_minhash_lsh"]
    assert not isinstance(rows, str), rows
    assert len(rows) > 0, (
        "dedup_minhash_lsh emitted no candidate pairs on the corpus "
        "fixture — banding/bucketing regression?"
    )


def test_rows_only_queries_are_deterministic(rows_only_results):
    """The rows-only queries — the set with NO oracle differential —
    must return identical rows when run twice in the same session.
    Catches the nondeterminism classes a single-run gate passes:
    rand()/uuid in a plan, unordered limit()/first() whose selection
    varies across evaluations, iterative operators sensitive to
    partitioning, Python kernels with per-run state. (Oracle-backed
    queries get repeated independent executions across the
    differential, the driver gate, and bench every round — their
    nondeterminism would surface as a hash mismatch there.)"""
    problems = []
    for name, (a, b) in rows_only_results.items():
        if isinstance(a, str) or isinstance(b, str):
            problems.append(f"{name}: {a if isinstance(a, str) else b}")
        elif a != b:
            problems.append(f"{name}: two runs differ")
    assert not problems, problems


def test_rows_only_reference_tier_is_complete():
    """r14 closed the rows-only assurance gap: every query without a
    DuckDB oracle carries an sf0.1 independent-reference check in
    differential.py (numpy/Python re-derivations, exact DuckDB answers
    with documented error envelopes, or exact-equality spec
    re-derivations). This pin keeps that invariant: registering a new
    rows-only query without adding its REFERENCE_CHECKS entry — or
    renaming one so its check silently stops running — fails here, not
    silently in the next round's artifact."""
    import importlib.util
    from pathlib import Path

    spec = importlib.util.spec_from_file_location(
        "differential",
        Path(__file__).resolve().parent.parent / "differential.py",
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    checks = set(mod.REFERENCE_CHECKS)
    rows_only = set(registry.queries()) - set(registry.oracle_sql())
    assert checks == rows_only, (
        f"missing reference checks: {sorted(rows_only - checks)}; "
        f"stale check keys: {sorted(checks - rows_only)}"
    )
