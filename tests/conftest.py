from __future__ import annotations

import importlib.util
import threading
from collections import namedtuple
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import duckdb
import pytest

from tp1_distribuidos_mapreduce_spark import registry
from tp1_distribuidos_mapreduce_spark.session import get_spark
from tp1_distribuidos_mapreduce_spark.sources import artifacts, tables
from tp1_distribuidos_mapreduce_spark.sources.tables import TABLE_NAMES

SF_SMOKE = "/root/testdata/sf0.001"

# differential.py, the one home of the result contract (compare_rows) and
# of the rows-only references (REFERENCE_CHECKS), loaded once for the suite.
_spec = importlib.util.spec_from_file_location(
    "differential", Path(__file__).resolve().parent.parent / "differential.py"
)
differential = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(differential)


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tp1-tests")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with fixture tables registered as views at sf0.001,
    mirroring the driver's oracle setup (__spark_entry__.py docstring)."""
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{SF_SMOKE}/{name}.parquet'"
        )
    yield con
    con.close()


# One call of a registry query at SF_SMOKE: its executed-plan string,
# taken before execution; the paths it passed to build_once; its columns
# and collected rows; and, for a rows-only query, the rows of a second,
# independent call (the determinism check's other run).
Call = namedtuple("Call", "plan paths columns rows rerun")


def declared_queries(item) -> set[str]:
    """The registry queries a test declares it reads from ``calls``: its
    ``name`` parameter when that names a query, and the names its
    ``queries`` marker lists."""
    names = {n for mark in item.iter_markers("queries") for n in mark.args}
    callspec = getattr(item, "callspec", None)
    if callspec is not None and callspec.params.get("name") in registry.queries():
        names.add(callspec.params["name"])
    return names


def selected_queries(items) -> list[str]:
    """Every query a selected test that reads the registry pass declares,
    in registration order."""
    wanted = set()
    for item in items:
        if "registry_pass" in item.fixturenames:
            wanted |= declared_queries(item)
    return [n for n in registry.queries() if n in wanted]


@pytest.fixture(scope="session")
def registry_pass(spark, request):
    """One concurrent pass over the selected queries at SF_SMOKE: name ->
    its ``Call``, or the exception the call raised. Each query is called
    once, and a rows-only query once more, independently. The rows are
    collected right after the build, so a later test that deletes an
    artifact cannot break them. The µs events copy is built before
    recording starts, so no query records it (its rebuild has its own
    test in test_sources_contract.py)."""
    tables.load_table(spark, SF_SMOKE, "events")
    local = threading.local()
    real = artifacts.build_once

    def recording(out, build, marker="_SUCCESS"):
        local.paths.append(out)
        return real(out, build, marker)

    def run(job):
        name, first = job
        local.paths = []
        try:
            df = qs[name](spark, SF_SMOKE)
            if not first:
                return df.collect()
            plan = df._jdf.queryExecution().executedPlan().toString()
            return Call(plan, list(local.paths), df.columns, df.collect(), None)
        except Exception as ex:
            return ex

    qs = registry.queries()
    names = selected_queries(request.session.items)
    rows_only = set(qs) - set(registry.oracle_sql())
    jobs = [(n, True) for n in names] + [(n, False) for n in names if n in rows_only]
    # Spark's scheduler is thread-safe, the Python data sources pin their
    # thread-local state in register_* (pydatasource), and build_once
    # locks each artifact. Building and collecting is py4j-, planning-
    # and streaming-latency-bound, so threads scale past the core count.
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(artifacts, "build_once", recording)
        mp.setattr(tables, "build_once", recording)
        with ThreadPoolExecutor(max_workers=32) as pool:
            results = dict(zip(jobs, pool.map(run, jobs)))
    out = {}
    for name in names:
        call, rerun = results[(name, True)], results.get((name, False))
        raised = [r for r in (call, rerun) if isinstance(r, Exception)]
        out[name] = raised[0] if raised else call._replace(rerun=rerun)
    return out


class Calls:
    """The registry pass as one test may read it: only the queries the
    test declares, and a query that raised re-raises."""

    def __init__(self, test: str, declared: set[str], results: dict):
        self.test, self.declared, self.results = test, declared, results

    def __getitem__(self, name: str) -> Call:
        if name not in self.declared:
            pytest.fail(
                f"{self.test} reads registry query {name!r} without declaring "
                "it: add it to the test's `name` parameter or its "
                "@pytest.mark.queries(...) marker"
            )
        result = self.results[name]
        if isinstance(result, Exception):
            raise result
        return result


@pytest.fixture
def calls(registry_pass, request):
    return Calls(request.node.nodeid, declared_queries(request.node), registry_pass)


def assert_df_matches_oracle(sdf, duck, sql):
    """Spark DataFrame vs DuckDB SQL under the result contract,
    differential.compare_rows (the reference's sequential-oracle
    comparison is tests/test_wc.py:30-39)."""
    assert_rows_match_oracle(sdf.columns, sdf.collect(), duck, sql)


def assert_rows_match_oracle(spark_cols, spark_rows, duck, sql):
    """Comparison half of assert_df_matches_oracle, over already-collected
    (cols, rows) — lets the oracle differential collect all queries
    CONCURRENTLY (Spark's scheduler is thread-safe) and compare serially."""
    rel = duck.sql(sql)
    reason = differential.compare_rows(
        spark_cols, spark_rows, rel.columns, rel.fetchall()
    )
    assert reason is None, reason
