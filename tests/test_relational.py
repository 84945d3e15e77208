"""Differential tests: every registered query with an oracle is checked
against DuckDB at sf0.001 — the same gate the driver runs at sf0.01."""

from __future__ import annotations

from types import SimpleNamespace

import pytest

from tp1_distribuidos_mapreduce_spark import registry

from conftest import SF_SMOKE, Call, Calls, differential, selected_queries
from conftest import assert_rows_match_oracle

ORACLE_NAMES = sorted(registry.oracle_sql().keys())
ROWS_ONLY_NAMES = sorted(set(registry.queries()) - set(ORACLE_NAMES))


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_query_matches_oracle(duck, calls, name):
    call = calls[name]
    assert_rows_match_oracle(
        call.columns, call.rows, duck, registry.oracle_sql()[name]
    )


def test_pass_builds_what_the_selected_tests_declare():
    """The registry pass calls exactly the queries that the selected
    tests reading it declare, in registration order: a `name` parameter
    that names a query, or a `queries` marker (all queries, for a
    registry-wide test). A test with neither, or one that does not read
    the pass, adds nothing."""

    def item(name=None, marked=(), reads=True):
        marks = [pytest.mark.queries(*marked).mark] if marked else []
        return SimpleNamespace(
            fixturenames=["registry_pass"] if reads else ["spark"],
            iter_markers=lambda _: marks,
            **({} if name is None else {"callspec": SimpleNamespace(params={"name": name})}),
        )

    everything = list(registry.queries())
    items = [item("ii"), item(marked=("q1_pricing_summary", "wc")), item(),
             item("orders"), item("q6_forecast_revenue", reads=False)]
    assert selected_queries(items) == ["wc", "ii", "q1_pricing_summary"]
    assert selected_queries([item(), item(marked=everything)]) == everything
    assert selected_queries([item()]) == []


def test_calls_reject_an_undeclared_query_and_reraise_errors():
    """A test reads only the queries it declares, and a query whose call
    raised re-raises in every test that reads it."""
    call = Call("plan", [], ["word"], [("a",)], None)
    view = Calls("t.py::test_x", {"wc", "ii"}, {"wc": call, "ii": RuntimeError("boom")})
    assert view["wc"] is call
    with pytest.raises(RuntimeError, match="boom"):
        view["ii"]
    with pytest.raises(pytest.fail.Exception, match=(
        "t.py::test_x reads registry query 'q1_pricing_summary' without declaring it"
    )):
        view["q1_pricing_summary"]


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


def pass_through_wrappers(source: str) -> list[str]:
    """Names of the ``@register`` functions in ``source`` whose body,
    past a docstring, is only ``return plan(load_table(...), ...)``, the
    form ``register(name, oracle)(over(plan, *tables))`` replaces, or
    only ``return plan(spark, sf_dir)``, which ``register(name,
    oracle)(plan)`` replaces."""
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
        if not (
            isinstance(ret, ast.Return)
            and isinstance(ret.value, ast.Call)
            and ret.value.args
            and not ret.value.keywords
        ):
            continue
        params = [a.arg for a in node.args.args]
        forwards = [getattr(a, "id", None) for a in ret.value.args] == params
        if forwards or all(loads_table(a) for a in ret.value.args):
            out.append(node.name)
    return out


def test_table_queries_are_registered_with_over():
    from pathlib import Path

    assert pass_through_wrappers(Path(registry.__file__).read_text()) == []
    src = (
        '@register("a")\ndef q_a(spark, sf_dir):\n    """Doc."""\n'
        '    return f(load_table(spark, sf_dir, "t"))\n\n'
        '@register("b")\ndef q_b(spark, sf_dir):\n'
        '    return f(load_table(spark, sf_dir, "t"), k=1)\n\n'
        '@register("c", oracle=C)\ndef q_c(spark, sf_dir):\n    """Doc."""\n'
        '    return M.plan(spark, sf_dir)\n\n'
        '@register("d")\ndef q_d(spark, sf_dir):\n'
        '    return M.plan(spark)\n\n'
        '@register("e")\ndef q_e(spark, sf_dir):\n'
        '    return M.plan(sf_dir, spark)\n'
    )
    assert pass_through_wrappers(src) == ["q_a", "q_c"]


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


@pytest.mark.parametrize("name", ROWS_ONLY_NAMES)
def test_rows_only_queries_emit_no_nulls(calls, name):
    """The result contract (differential.compare_rows) rejects NULLs in
    oracle-backed output; rows-only queries get the same scan here so
    the whole registry is covered."""
    nulls = [(i, v) for r in calls[name].rows for i, v in enumerate(r) if v is None]
    assert not nulls, f"{name} emitted NULLs: {nulls[:3]}"


@pytest.mark.parametrize("name", ROWS_ONLY_NAMES)
def test_rows_only_query_matches_reference(calls, name):
    """Every rows-only query passes its independent reference check
    (differential.REFERENCE_CHECKS, the same check the sf0.1 sweep
    runs) on the first run's rows."""
    rec = differential.REFERENCE_CHECKS[name](calls[name].rows, SF_SMOKE)
    assert rec["reference_match"], rec


@pytest.mark.queries("dedup_minhash_lsh")
def test_minhash_lsh_emits_pairs_on_the_corpus_fixture(calls):
    """Non-emptiness guard for the LSH pipeline on the REAL corpus (not
    just constructed near-dups): the sf0.001 fixture is known to emit
    candidate pairs (28 as generated; sf0.1 emits 256), so a banding/
    bucketing regression that collapses the candidate set reads as a
    failure HERE — the differential's envelope check deliberately
    treats zero pairs as vacuous rather than failing (ADVICE r14), so
    this pin is the compensating signal."""
    assert len(calls["dedup_minhash_lsh"].rows) > 0, (
        "dedup_minhash_lsh emitted no candidate pairs on the corpus "
        "fixture — banding/bucketing regression?"
    )


@pytest.mark.queries(*ROWS_ONLY_NAMES)
def test_rows_only_queries_are_deterministic(calls):
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
    for name in ROWS_ONLY_NAMES:
        call = calls[name]
        reason = differential.compare_rows(
            call.columns, call.rows, call.columns, call.rerun
        )
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
