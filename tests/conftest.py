from __future__ import annotations

import importlib.util
from pathlib import Path

import duckdb
import pytest

from tp1_distribuidos_mapreduce_spark.session import get_spark
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


def _rows_only_names():
    from tp1_distribuidos_mapreduce_spark import registry

    return sorted(set(registry.queries()) - set(registry.oracle_sql()))


# Non-parametrized tests (anywhere in the suite) that consume
# rows_only_results rows instead of re-collecting their queries (r15
# suite-time consolidation): test name → the fixture keys it needs. A
# targeted run of just these tests then collects only these queries,
# not all 37 rows-only. EVERY non-parametrized consumer must be listed
# here (ADVICE r15: an omission makes a targeted `-k` selection that
# includes the test but not its keys fail with KeyError instead of its
# real check; full-suite and solo runs fall back to collecting all).
FIXTURE_CONSUMERS = {
    "test_minhash_lsh_emits_pairs_on_the_corpus_fixture": [
        "dedup_minhash_lsh",
    ],
    "test_ddsketch_merge_proof_all_flags_true_and_bit_identical": [
        "ddsketch_merge_proof",
        "ddsketch_event_quantiles",
    ],
    "test_hll_and_kmv_merge_proofs_on_fixture": [
        "hll_merge_proof",
        "kmv_merge_proof",
    ],
    "test_cms_and_bloom_merge_proofs_on_fixture": [
        "cms_merge_proof",
        "bloom_merge_proof",
    ],
    "test_pagerank_is_a_distribution": ["pagerank_copurchase"],
    "test_pca_explained_variance_ordered": ["embedding_pca"],
    "test_kmeans_purity_consistent": ["kmeans_clusters"],
}


@pytest.fixture(scope="session")
def rows_only_results(spark, request):
    """Both evaluations of every SELECTED rows-only query, collected
    ONCE concurrently (r14 suite-time consolidation, VERDICT r13 #5):
    one fixture feeds the no-NULL scan, the reference checks, the
    determinism compare, AND (r15) the merge-proof pins in
    test_approx.py from the same two runs. Each run is its list of
    ``Row``s in collected order: the PageRank and PCA references compare
    order, and every reference reads fields by name; the determinism
    compare sorts where it compares. Lives in conftest so consumers
    outside test_relational.py resolve it."""
    from concurrent.futures import ThreadPoolExecutor

    from tp1_distribuidos_mapreduce_spark import registry

    qs = registry.queries()
    all_names = _rows_only_names()
    det_selected = any(
        item.function.__name__ == "test_rows_only_queries_are_deterministic"
        for item in request.session.items
    )
    if det_selected:
        names = list(all_names)  # determinism always checks ALL
    else:
        selected = {
            item.callspec.params["name"]
            for item in request.session.items
            if getattr(item, "callspec", None) is not None
            and item.function.__name__
            in (
                "test_rows_only_queries_emit_no_nulls",
                "test_rows_only_query_matches_reference",
            )
        }
        for item in request.session.items:
            selected.update(FIXTURE_CONSUMERS.get(item.function.__name__, []))
        names = [n for n in all_names if n in selected] or list(all_names)

    def run_once(name):
        try:
            return name, qs[name](spark, SF_SMOKE).collect()
        except Exception as ex:
            return name, f"{type(ex).__name__}: {str(ex)[:120]}"

    # both evaluations of every query are INDEPENDENT pool tasks (r13:
    # one task per query ran its two evaluations serially, making the
    # wall 2× the slowest iterative query; /tmp artifacts are
    # build_once-locked so concurrent first-builds are safe)
    jobs = [n for n in names for _ in (0, 1)]
    # 32 threads (r16 suite-time trim, was 16 then 24): the pool is
    # dominated by the streaming-drain queries' fixed per-query latency,
    # not CPU, so threads scale to the job count (37 queries × 2 runs)
    with ThreadPoolExecutor(max_workers=32) as pool:
        results = list(pool.map(run_once, jobs))
    return {
        results[i][0]: (results[i][1], results[i + 1][1])
        for i in range(0, len(results), 2)
    }


def _first_call_names(items, all_names):
    """The registry names the selected tests read from
    registry_first_calls: every name when the registry-wide plan audit is
    selected or no selected test narrows the set."""
    names = set()
    for item in items:
        fn = item.function.__name__
        if fn == "test_registry_wide_plan_audit":
            return list(all_names)
        if fn == "test_documented_scan_counts_hold":
            names.update(item.module.DOCUMENTED_SCAN_COUNTS)
        elif fn == "test_query_rebuilds_its_deleted_artifacts":
            names.add(item.callspec.params["name"])
    return [n for n in all_names if n in names] or list(all_names)


@pytest.fixture(scope="session")
def registry_first_calls(spark, request):
    """Each registered query the selected tests need (_first_call_names)
    called once at SF_SMOKE, concurrently on a shared pool, for the
    suite: name -> (executed-plan string, the paths the call passed to
    ``sources/artifacts.build_once``, and, when there are any, the call's
    columns and collected rows). The rows are taken right after the
    build, before a later test deletes an artifact the frame's file
    listing points at. The µs events copy is built before recording, so
    no query records it (its rebuild has its own test in
    test_sources_contract.py)."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from tp1_distribuidos_mapreduce_spark import registry
    from tp1_distribuidos_mapreduce_spark.sources import artifacts, tables

    tables.load_table(spark, SF_SMOKE, "events")
    local = threading.local()
    real = artifacts.build_once

    def recording(out, build, marker="_SUCCESS"):
        local.paths.append(out)
        return real(out, build, marker)

    def first_call(item):
        name, fn = item
        local.paths = []
        df = fn(spark, SF_SMOKE)
        plan = df._jdf.queryExecution().executedPlan().toString()
        paths = list(dict.fromkeys(local.paths))
        rows = (df.columns, df.collect()) if paths else None
        return name, (plan, paths, rows)

    # Spark's scheduler is thread-safe, and the Python data sources pin
    # their thread-local state in register_* (pydatasource). Plan
    # construction is py4j/Catalyst-bound, so threads scale past the core
    # count (r13 measured 22.9 s → ~12 s at 16 threads; 32 since r16).
    qs = registry.queries()
    names = _first_call_names(request.session.items, qs)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(artifacts, "build_once", recording)
        mp.setattr(tables, "build_once", recording)
        with ThreadPoolExecutor(max_workers=32) as pool:
            return dict(pool.map(first_call, ((n, qs[n]) for n in names)))


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
