"""Differential tests: every registered query with an oracle is checked
against DuckDB at sf0.001 — the same gate the driver runs at sf0.01."""

from __future__ import annotations

import pytest

from tp1_distribuidos_mapreduce_spark import registry

from conftest import SF_SMOKE, assert_rows_match_oracle, differential

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
            return (sdf.columns, sdf.collect(), None)
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


def test_register_rejects_a_duplicate_name():
    """A name registered twice raises and the first registration stays:
    a copy-pasted one-line registration must not silently replace a
    query or its oracle."""
    wc, wc_sql = registry.queries()["wc"], registry.oracle_sql()["wc"]
    with pytest.raises(ValueError, match="'wc'"):
        registry.register("wc", "SELECT 1")(lambda spark, sf_dir: None)
    assert registry.queries()["wc"] is wc
    assert registry.oracle_sql()["wc"] == wc_sql


def load_table_wrappers(source: str) -> list[str]:
    """Names of the ``@register`` functions in ``source`` whose body,
    past a docstring, is only ``return plan(load_table(...), ...)``: the
    form ``register(name, oracle)(over(plan, *tables))`` replaces."""
    import ast

    def loads_table(arg: ast.expr) -> bool:
        return (
            isinstance(arg, ast.Call)
            and isinstance(arg.func, ast.Name)
            and arg.func.id == "load_table"
        )

    out = []
    for node in ast.parse(source).body:
        if not isinstance(node, ast.FunctionDef) or not any(
            isinstance(d, ast.Call) and getattr(d.func, "id", None) == "register"
            for d in node.decorator_list
        ):
            continue
        body = node.body[1:] if ast.get_docstring(node) is not None else node.body
        ret = body[0] if len(body) == 1 else None
        if (
            isinstance(ret, ast.Return)
            and isinstance(ret.value, ast.Call)
            and ret.value.args
            and not ret.value.keywords
            and all(loads_table(a) for a in ret.value.args)
        ):
            out.append(node.name)
    return out


def test_table_queries_are_registered_with_over():
    from pathlib import Path

    assert load_table_wrappers(Path(registry.__file__).read_text()) == []
    src = (
        '@register("a")\ndef q_a(spark, sf_dir):\n    """Doc."""\n'
        '    return f(load_table(spark, sf_dir, "t"))\n\n'
        '@register("b")\ndef q_b(spark, sf_dir):\n'
        '    return f(load_table(spark, sf_dir, "t"), k=1)\n'
    )
    assert load_table_wrappers(src) == ["q_a"]


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
    """The result contract (differential.compare_rows) rejects NULLs in
    oracle-backed output; rows-only queries get the same scan here so
    the whole registry is covered."""
    a, _ = rows_only_results[name]
    assert not isinstance(a, str), f"{name} failed: {a}"
    nulls = [(i, v) for r in a for i, v in enumerate(r) if v is None]
    assert not nulls, f"{name} emitted NULLs: {nulls[:3]}"


@pytest.mark.parametrize("name", ROWS_ONLY_NAMES)
def test_rows_only_query_matches_reference(rows_only_results, name):
    """Every rows-only query passes its independent reference check
    (differential.REFERENCE_CHECKS, the same check the sf0.1 sweep
    runs) on the first run's rows."""
    rows, _ = rows_only_results[name]
    assert not isinstance(rows, str), f"{name} failed: {rows}"
    rec = differential.REFERENCE_CHECKS[name](rows, SF_SMOKE)
    assert rec["reference_match"], rec


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
            continue
        cols = list(a[0].__fields__) if a else []
        reason = differential.compare_rows(cols, a, cols, b)
        if reason:
            problems.append(f"{name}: {reason}")
    assert not problems, problems


def test_rows_only_reference_tier_is_complete():
    """r14 closed the rows-only assurance gap: every query without a
    DuckDB oracle carries an independent-reference check in
    differential.py (numpy/Python re-derivations, exact DuckDB answers
    with documented error envelopes, or exact-equality spec
    re-derivations), run at sf0.001 above and at sf0.1 by the sweep.
    This pin keeps that invariant: registering a new
    rows-only query without adding its REFERENCE_CHECKS entry — or
    renaming one so its check silently stops running — fails here, not
    silently in the next round's artifact."""
    checks = set(differential.REFERENCE_CHECKS)
    rows_only = set(registry.queries()) - set(registry.oracle_sql())
    assert checks == rows_only, (
        f"missing reference checks: {sorted(rows_only - checks)}; "
        f"stale check keys: {sorted(checks - rows_only)}"
    )
