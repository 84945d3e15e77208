"""Skew-utility correctness + plan-quality guards.

The plan tests pin the scale properties the engine relies on: dimension
joins broadcast, scans get pushed filters and pruned schemas, aggregations
do map-side partial combine, and no relational query falls back to a
nested-loop join or a row-at-a-time Python UDF.
"""

from __future__ import annotations

import re

import pytest

from pyspark.sql import functions as F

from tp1_distribuidos_mapreduce_spark import registry
from tp1_distribuidos_mapreduce_spark.operators.skew import (
    salted_collect_set,
    salted_join,
)
from tp1_distribuidos_mapreduce_spark.sources.tables import load_table

from conftest import SF_SMOKE


# --------------------------------------------------------------------------- #
# salted skew utilities
# --------------------------------------------------------------------------- #


def test_salted_join_matches_plain_join(spark):
    events = load_table(spark, SF_SMOKE, "events")
    # event_type has 5 hot values over 2k rows -> maximally skewed key
    types = events.groupBy("event_type").agg(F.count("*").alias("n_of_type"))
    plain = (
        events.join(types, "event_type")
        .groupBy("event_type", "n_of_type")
        .agg(F.count("*").alias("n"))
    )
    salted = (
        salted_join(events, types, "event_type", num_salts=4)
        .groupBy("event_type", "n_of_type")
        .agg(F.count("*").alias("n"))
    )
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_salted_join_spreads_hot_keys(spark):
    """Exercises the OPERATOR's salt (operators/skew.py:_salt_of), not a
    local re-implementation: the regression class is a hot key whose rows
    are BYTE-IDENTICAL across every column — a whole-row hash alone sends
    them all to one salt and silently defeats the mitigation."""
    from tp1_distribuidos_mapreduce_spark.operators.skew import _salt_of

    # 2000 byte-identical rows of one hot key
    big = spark.range(0, 2000).select(
        F.lit(7).alias("k"), F.lit("x").alias("payload")
    )
    n_salts = (
        big.withColumn("__s", _salt_of(big, 4)).select("__s").distinct().count()
    )
    assert n_salts == 4, "identical hot-key rows must spread over all salts"
    # and the salted join itself stays correct on that degenerate input
    small = spark.createDataFrame([(7, "dim")], "k long, d string")
    out = salted_join(big, small, "k", num_salts=4)
    assert out.count() == 2000
    assert out.select("d").distinct().collect()[0][0] == "dim"


def test_salted_collect_set_matches_direct(spark):
    events = load_table(spark, SF_SMOKE, "events")
    direct = {
        r.event_type: sorted(r.vs)
        for r in events.groupBy("event_type")
        .agg(F.collect_set("user_id").alias("vs"))
        .collect()
    }
    two_phase = {
        r.event_type: list(r.values)
        for r in salted_collect_set(events, "event_type", "user_id", 4).collect()
    }
    assert two_phase == direct


# --------------------------------------------------------------------------- #
# plan-quality guards over the registered relational queries
# --------------------------------------------------------------------------- #


def plan_of(spark, name: str) -> str:
    df = registry.queries()[name](spark, SF_SMOKE)
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize(
    "name", ["q3_shipping_priority", "q5_revenue_by_nation", "top_parts_by_revenue"]
)
def test_dim_joins_broadcast_and_scans_prune(spark, name):
    plan = plan_of(spark, name)
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "PushedFilters: [" in plan
    # scans must not read every column
    for line in plan.splitlines():
        if "ReadSchema" in line and "lineitem" in line:
            assert "l_tax" not in line  # never referenced by these queries


def test_wc_has_partial_aggregation(spark):
    plan = plan_of(spark, "wc")
    # partial + final HashAggregate pair around the exchange — the combiner
    # the reference lacks (SURVEY.md §4.2 'No combiner').
    assert plan.count("HashAggregate") >= 2
    assert "partial_count" in plan


@pytest.mark.parametrize(
    "name",
    [
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_revenue_by_nation",
        "rollup_lineitem_flags",
        "supplier_activity",
        "daily_revenue_moving_avg",
        "wc",
        "ii",
        "text_quality",
    ],
)
def test_relational_hot_paths_have_no_python_udf(spark, name):
    plan = plan_of(spark, name)
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas"):
        assert marker not in plan, f"{name} fell off the JVM fast path: {marker}"


@pytest.mark.parametrize(
    "name",
    [
        "returned_item_revenue",
        "promo_revenue_by_month",
        "supplier_part_variety",
        "large_quantity_orders",
        "disjunctive_brand_revenue",
    ],
)
def test_new_relational_queries_broadcast_and_push(spark, name):
    plan = plan_of(spark, name)
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "PushedFilters: [" in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan, f"{name} fell off the JVM fast path"


@pytest.mark.parametrize(
    "name",
    [
        "q7_volume_shipping",
        "q14_promo_effect",
        "q15_top_supplier",
        "q18_large_volume_customers",
        "q19_discounted_revenue",
    ],
)
def test_round9_tpch_broadcast_and_push(spark, name):
    """The round-9 TPC-H classics must keep their stated plan shape:
    broadcast dimension joins (q19's OR-of-ANDs must NOT degrade to a
    nested loop — the planner trap the query exists to pin), pushed
    scan filters, JVM-only expressions."""
    plan = plan_of(spark, name)
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "PushedFilters: [" in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan, f"{name} fell off the JVM fast path"


def test_q6_predicates_reach_scan_and_no_row_exchange(spark):
    """Q6 is the plan-quality canary: every predicate must land in the
    parquet scan's PushedFilters, the scan must read only the four
    referenced columns, and the only Exchange is the one-row partial
    aggregate hand-off — an Exchange of lineitem rows is a planner
    bug."""
    plan = plan_of(spark, "q6_forecast_revenue")
    scan = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert scan, "no pushed filters on the q6 scan"
    pushed = scan[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed to the scan"
    rs = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert rs and "l_extendedprice" in rs[0]
    for col in ("l_orderkey", "l_partkey", "l_returnflag", "l_tax"):
        assert col not in rs[0], f"q6 scan reads unreferenced column {col}"
    # exactly the partial→final aggregate exchange, nothing fact-sized
    assert plan.count("Exchange") == 1
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_disjunctive_predicate_reaches_both_scans(spark):
    """Q19 shape: Catalyst must derive per-table residuals of the
    OR-of-conjunctions (quantity bounds -> lineitem scan, brand/size ->
    part scan) instead of filtering only after the join."""
    plan = plan_of(spark, "disjunctive_brand_revenue")
    lineitem_scan = [l for l in plan.splitlines() if "FileScan" in l and "l_quantity" in l]
    part_scan = [l for l in plan.splitlines() if "FileScan" in l and "p_brand" in l]

    def data_filters_of(line: str) -> str:
        # the predicate must appear INSIDE the DataFilters bracket —
        # 'l_quantity' also matches ReadSchema and 'DataFilters:' prints
        # on every FileScan even when empty, so a bare substring test is
        # tautological.
        i = line.find("DataFilters: [")
        return line[i : line.find("]", i) + 1] if i != -1 else ""

    assert any("l_quantity" in data_filters_of(l) for l in lineitem_scan)
    assert any("Brand#" in l for l in part_scan)


def test_large_orders_preaggregates_before_join(spark):
    """The HAVING aggregate must run on lineitem BEFORE the orders join —
    join input is per-order partials, not raw line items."""
    df = registry.queries()["large_quantity_orders"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    agg_pos = plan.find("HashAggregate")
    join_pos = plan.find("Join")
    assert agg_pos != -1 and join_pos != -1
    # executedPlan prints top-down: the join consumes the aggregate, so
    # sum_qty (the aggregate's OUTPUT) must appear in the join's own
    # printed attributes (above the join node) — proving the join input
    # is per-order partials, not raw line items. (An `or "partial_sum" in
    # plan` arm would be vacuous: any aggregate anywhere matches it.)
    assert "sum_qty" in plan[:join_pos]


@pytest.mark.parametrize(
    "name",
    [
        "train_val_test_split",
        "chunk_documents",
        "latest_event_per_user",
        "hourly_event_gapfill",
        "stream_dedup_counts",
        "promo_revenue_by_month",
    ],
)
def test_pipeline_queries_stay_jvm_side(spark, name):
    """The corpus-pipeline and time-series queries are pure Catalyst
    expressions — any Python eval node means an accidental fallback."""
    plan = plan_of(spark, name)
    for marker in (
        "BatchEvalPython",
        "ArrowEvalPython",
        "MapInPandas",
        "FlatMapGroupsInPandas",
    ):
        assert marker not in plan, f"{name} fell off the JVM fast path: {marker}"


# --------------------------------------------------------------------------- #
# registry-wide plan audit: every query, one policy
# --------------------------------------------------------------------------- #

# Python eval nodes are allowed ONLY where the operator is defined by its
# Python/Arrow kernel; everything else must stay in JVM codegen.
PYTHON_ALLOWED = {
    "mr_wc", "mr_ii",                      # the plugin contract IS Python
    "dedup_simhash", "knn_lsh", "knn_ivf", # Arrow-batched BLAS kernels
    "knn_ivf_persisted",                   # same probe kernel, persisted index
    "dedup_embedding_cosine",              # blocked-matmul applyInPandas
    "dedup_embedding_ivf",                 # same BLAS kernel, IVF-pruned candidates
    "sentence_stats",                      # the UDTF surface demo
    "doc_fingerprint",                     # vectorized winnowing
    "media_summary", "image_stats", "audio_stats", "video_frame_sample",
    "knn_ivf_pq",                          # Arrow-batched PQ encode/ADC kernels
    "knn_ivf_pq_persisted",                # same ADC kernel, persisted codes
    "embedding_pca",                       # bounded mapInPandas Gram partials
    "image_phash_dupes",                   # Arrow-batched decode+ahash kernel
    "kmeans_clusters",                     # Arrow+BLAS assignment partials
    "rolling_28d_users_hll",               # Arrow-batched per-day HLL sketch
                                           # build; merge/estimate are Catalyst
    "bpe_encode_stats",                    # Arrow-batched merge-fold encoder
                                           # over the distinct-word table
    "hll_merge_proof",                     # the same Arrow-batched register
                                           # build, keyed by type + constant
}

# Non-equi / cross joins allowed ONLY where the semantics are all-pairs by
# definition or both sides are provably tiny derived relations.
NESTED_LOOP_ALLOWED = {
    "knn_bruteforce",        # exact ANN baseline: score every (q, corpus) pair
    "hourly_event_gapfill",  # hours × event_types calendar, both tiny
    "bloom_pruned_join",     # single-row broadcast of the 32 KB bloom bitmap
    "cms_heavy_hitters",     # single-row broadcast of the 64 KB CMS grid
    "cms_heavy_hitters_by_source",  # same single-row grid broadcast,
                                    # (source, word)-composite keys (r15)
    "stream_cms_heavy_hitters",     # same single-row grid broadcast, the
                                    # grid read from the fold state (r16)
    "stream_bloom_pruned_join",     # same 32 KB single-row bitmap
                                    # broadcast, the words read from the
                                    # fold state (r16)
    "idle_customers_opportunity",  # single-row broadcast scalar aggregate
    "q2_min_cost_supplier",        # single-row broadcast supplier-count
                                   # frame feeding the derived-partsupp
                                   # hash modulus (r16)
    "q11_important_stock",         # the same derived-partsupp 1-row
                                   # modulus broadcast, plus the 1-row
                                   # global-total frame the HAVING
                                   # fraction compares against (r17)
    "q16_supplier_part_counts",    # the same 1-row modulus broadcast,
                                   # plus the 1-row null-key guard that
                                   # reproduces NOT IN's empty-on-NULL
                                   # semantics (r18)
    "q22_global_sales_opportunity",  # single-row broadcast (Σcents⁺, n)
                                     # frame — the scalar-avg subquery's
                                     # exact integer form (r19)
    "incremental_dedup_bloom",     # same 32 KB single-row bitmap broadcast
    "numeric_histogram",           # single-row broadcast min/max aggregate
    "rolling_7d_active_users",     # single-row broadcast max-day aggregate
    "rolling_28d_users_exact",     # same plan at the sketch's window length
    "kaplan_meier_repurchase",     # three 1-row broadcasts: max order
                                   # date, subject total, factor array
    "theil_sen_revenue_trend",     # calendar-bounded pairwise day-frame
                                   # cross (~2.4k×2.4k max, constant in
                                   # fact rows — drill slope 0.6) plus
                                   # 1-row broadcasts: the two medians'
                                   # grid extents/rank targets and the
                                   # median-slope frame (r13: medians
                                   # now bucket-selected, no full-frame
                                   # single-task sort)
    "event_weekday_mutual_info",   # three 1-row broadcasts: N total and
                                   # the two marginal-entropy scalars
    "quantity_price_spearman",     # 1-row broadcast N scalar (r14: the
                                   # exact integer centering mean N+1
                                   # that lifted the 10⁹ ceiling)
    "weekday_seasonality_index",   # 1-row broadcast overall-total frame
    "k_anonymity_census",          # 1-row broadcast row-total frame
    "kmv_event_user_overlap",      # types × types sketch-pair cross
                                   # (tiny, < any join)
    "event_user_overlap",          # same types × types pair universe
                                   # (broadcast cross of the per-type
                                   # cardinality frame) so the exact twin
                                   # emits disjoint pairs too (ADVICE r12)
    "stream_kmv_overlap",          # same types × types sketch-pair
                                   # cross, read from persisted state
    "rolling_28d_users_hll",       # same single-row max-day cut as its
                                   # exact twin (aligned in r10)
    "stream_hll_rolling_28d",      # the same single-row max-day cut,
                                   # read from the persisted sketch table
    "source_vocab_overlap",        # source-cardinality sizes cross (< join)
    "triangle_count",              # three 1-row tallies cross-joined into
                                   # the single output row
    "bigram_perplexity",           # single-row broadcast vocab-size scalar
    "association_rules",           # single-row broadcast basket-count scalar
    "hard_negative_mining",        # knn_bruteforce template: broadcast of the
                                   # bounded n_queries frame over one corpus
                                   # scan (label != filter has no equi-key)
    "event_weekday_chi2",          # single-row broadcast grand-total N over
                                   # the types×7 contingency cells
    "ks_returned_price",           # single-row broadcast (n1, n2) totals
                                   # over the per-price cumulative rows
    "benford_price_audit",         # single-row broadcast grand total over
                                   # the 9 digit rows
    "winsorized_mean_price",       # 1-row broadcasts: grand total and the
                                   # two selected cut elements (r13)
    "iqr_price_fences",            # same shape: 1-row total + the two
                                   # selected quartile elements (r13)
    "ddsketch_event_quantiles",    # 1-row total + 5-row percent-spec
                                   # broadcasts over the ≤ ~800-row
                                   # log-domain bucket frame (r13)
    "stream_ddsketch_quantiles",   # same quantile read, from the
                                   # persisted sketch state (r13)
    "ddsketch_quantiles_by_type",  # 5-row percent-spec broadcast over
                                   # the per-type log-bucket frame (r14)
    "stream_ddsketch_by_type",     # same grouped quantile read, from
                                   # the persisted sketch state (r14)
    "ddsketch_merge_proof",        # the same percent-spec broadcasts in
                                   # both independent sketch paths (r14)
    "event_value_quartiles_by_type",  # 3-row percent-spec broadcast
                                   # over the (type, cent)-cell
                                   # cumulative (r14)
    "hll_merge_proof",             # 1-row broadcast of the independent
                                   # one-build sketch (r15)
    "kmv_merge_proof",             # same 1-row one-build broadcast (r15)
    "cms_merge_proof",             # 1-row broadcast group-count tally
                                   # over the 1-row compare frame (r15)
    "bloom_merge_proof",           # same two-1-row-tallies cross (r15)
}


@pytest.fixture(scope="session")
def registry_plans(registry_first_calls):
    """Executed-plan strings for EVERY registered query at SF_SMOKE, from
    the suite's one concurrent construction pass (conftest
    registry_first_calls), consumed by both the registry-wide audit and
    the documented scan-count pins. Iterative operators RUN (their
    localCheckpoints) at plan-construction time, so building all 220+
    plans serially dominated the suite (42s)."""
    return {name: first[0] for name, first in registry_first_calls.items()}


def test_registry_wide_plan_audit(registry_plans):
    py_markers = (
        "BatchEvalPython", "ArrowEvalPython", "MapInPandas",
        "FlatMapGroupsInPandas", "PythonUDTF",
    )
    triage = (
        "Newly registered queries must be triaged here: a Python/Arrow-kernel "
        "operator belongs in PYTHON_ALLOWED, an intentionally all-pairs or "
        "tiny-broadcast join in NESTED_LOOP_ALLOWED (both in "
        "tests/test_skew_and_plans.py) — with a justification comment. "
        "Anything else is a genuine plan regression: fix the query."
    )
    violations = []
    for name, plan in registry_plans.items():
        if any(m in plan for m in py_markers) and name not in PYTHON_ALLOWED:
            violations.append(f"{name}: unexpected Python eval node")
        if "BroadcastNestedLoopJoin" in plan and name not in NESTED_LOOP_ALLOWED:
            violations.append(f"{name}: unexpected nested-loop join")
        if "CartesianProduct" in plan:
            violations.append(f"{name}: cartesian product")
    assert not violations, f"{violations}\n{triage}"


# Documented final-job source-scan counts for the multi-consumer query
# class (VERDICT r15 #7). Each of these queries documents in its plan
# code how many FileScans its FINAL job performs: every other consumer
# of its shared frame rides a domain-bounded eager localCheckpoint
# (which prints as `Scan ExistingRDD`, its one build scan having already
# happened at construction). The FileScan count of the executed plan is
# the regression tell — the r15 CMS/Bloom merge proofs initially
# re-derived their grouped table and scanned the corpus 3× instead of
# 2×, caught only by a manual plan read (commit 1200645); this pin makes
# that class impossible to reintroduce silently. Counts are of the
# final-plan string only, so "2 scans documented" for the additive
# proofs = 1 checkpoint-build scan (not in this plan) + 1 here.
DOCUMENTED_SCAN_COUNTS = {
    # additive merge proofs: grouped cell/word table checkpointed
    # (plans/approx.py cms_merge_proof, plans/bloom.py
    # bloom_merge_proof), the independent one-build pays its one
    # deliberate scan in the final job
    "cms_merge_proof": 1,
    "bloom_merge_proof": 1,
    # idempotent merge proofs: no multi-consumer frame to pin — both
    # sides are deliberately independent full scans in the final job
    # (plan-node sharing would make the proof circular)
    "hll_merge_proof": 2,
    "kmv_merge_proof": 2,
    # DD readers: the bucket frame is checkpointed inside
    # quantiles_from_dd_buckets*, so the cumulative/total/estimator
    # consumers all ride the pin and the final job scans NO source
    "ddsketch_merge_proof": 0,
    "ddsketch_event_quantiles": 0,
    # spearman cell collapse: the (x, y, n) cell frame is checkpointed
    # (plans/stats.py) and feeds the quantity map, price map, N scalar,
    # and closing weighted Pearson — one fact scan total, at build
    "quantity_price_spearman": 0,
    # streaming sketch read paths (VERDICT r16 #7): the persisted fold
    # state is collected driver-side at construction (the grid / the
    # ≤4,096-row word table — the sketch, never data), so it never
    # appears as a FileScan; the final job's scans are exactly the
    # landed-source reads. CMS: 2 corpus scans (the grid-pruned
    # candidate pass + the exact-verify recount — the documented
    # division of labor in streaming/sinks.py read_cms_heavy_hitters).
    # Bloom: 2 fact-side scans (the bitmap-pruned lineitem probe + the
    # urgent-orders semi-join build in the shared
    # plans/bloom.py urgent_pruned_revenue kernel).
    "stream_cms_heavy_hitters": 2,
    "stream_bloom_pruned_join": 2,
    # q11: the per-part vals frame feeds two consumers (global total +
    # HAVING join) and is checkpointed at build, so the final job scans
    # NO source — the one dimension-scan pass happened at construction
    "q11_important_stock": 0,
    # q16: dimension scans only — part twice (the pair derivation and
    # the attribute join-back, both with the full attribute predicate
    # pushed) and supplier three times (the 1-row modulus count, the
    # broadcast complaint anti-join build, the 1-row null-key guard).
    # No fact table at any scale.
    "q16_supplier_part_counts": 5,
    # q22: the candidate frame (7-nation filter, 3 columns) feeds two
    # consumers (the 1-row positive-balance average and the anti-join
    # probe) and is checkpointed at build, so the final job's ONLY scan
    # is the date-pruned orders read feeding the LEFT ANTI join
    "q22_global_sales_opportunity": 1,
    # q21: a single-consumer linear pipeline (the rewrite exists so the
    # per-pair frame never needs a second consumer) — each of the four
    # tables is scanned exactly once, nothing is re-derived
    "q21_waiting_suppliers": 4,
    # q12: single-consumer linear pipeline — one pruned lineitem scan
    # (returnflag IN + the shipdate RANGE both pushed — r21 rewrote
    # year()=1996 as the equivalent half-open range so it reaches
    # PushedFilters) + one orders scan feeding the single fact shuffle;
    # the 2-value-domain aggregate adds none
    "q12_shipmode_priority": 2,
    # r21 checkpoint batch — each of these collapses its fact input to a
    # domain-bounded frame consumed by several branches; the checkpoint
    # makes the final job scan NO source (fact scanned exactly once, at
    # build). Before: ks 3 scans, chi2/MI 4/8, kaplan 12, q2 12.
    "ks_returned_price": 0,
    "event_weekday_chi2": 0,
    "event_weekday_mutual_info": 0,
    "kaplan_meier_repurchase": 0,
    "q2_min_cost_supplier": 0,
    # running_prior users with a checkpointed cent-cell collapse: the
    # cut selection, its total and the closing aggregate all read the
    # cells, so the final job scans no source
    "winsorized_mean_price": 0,
    "iqr_price_fences": 0,
    "event_value_quartiles_by_type": 0,
}


def test_documented_scan_counts_hold(registry_plans):
    bad = []
    for name, want in sorted(DOCUMENTED_SCAN_COUNTS.items()):
        got = registry_plans[name].count("FileScan")
        if got != want:
            bad.append(f"{name}: {got} FileScans in final plan, documented {want}")
    assert not bad, (
        f"{bad}\nA count above the documented number means a shared frame "
        "lost its localCheckpoint (or grew a consumer that re-derives the "
        "source); below means a deliberate independent scan got fused — "
        "either way, re-read the query's scan-count comment before touching "
        "this table."
    )


def test_tokenize_never_inside_per_position_lambda(spark):
    """r21 regression pin for the bind_once barrier (functions/tokenize.py):
    a tokenize composite referenced from inside a higher-order-function
    lambda is INLINED by Catalyst and re-runs once per span/bigram/shingle
    position — O(tokens × tokenize) per row. benchmark_contamination's
    pre-fix plan carried 4 such occurrences (regexp split re-run per
    8-token span; measured 4.5s → 1.6s at sf0.1 from the binding alone).
    The pin: in every plan line of the span/ngram family, no `split(`
    (the tokenizer) may appear after a `lambdafunction(` opens — bound
    lambda variables are attribute lookups and never print the composite."""
    for name in (
        "benchmark_contamination",
        "shared_span_pairs",
        "cross_source_span_matrix",
        "dedup_ngram_jaccard",
        "dedup_jaccard_prefix",
        "trigram_topk",
        "phrase_search",
        "bigram_perplexity",
        "repetition_stats",
    ):
        plan = plan_of(spark, name)
        bad = []
        for line in plan.splitlines():
            # scope-aware scan: flag a split( whose ENCLOSING parenthesis
            # frames include a lambdafunction( — a prefix count would
            # false-positive when one line prints the tokenize composite
            # twice (e.g. the inferred size(...)>0 generate filter).
            stack: list[bool] = []
            for j, ch in enumerate(line):
                if ch == "(":
                    # word boundary (ADVICE r21): a suffix match alone
                    # would flag any *split( function (regexp_split,
                    # str_split, ...) inside any lambda — only the bare
                    # tokenizer split( is the pinned pattern.
                    if any(stack) and re.search(
                        r"(?<![A-Za-z0-9_])split$", line[:j]
                    ):
                        bad.append(line.strip()[:160])
                    stack.append(line[:j].endswith("lambdafunction"))
                elif ch == ")" and stack:
                    stack.pop()
        assert not bad, (
            f"{name}: tokenize split() evaluated inside a per-position "
            f"lambda (re-runs once per element) — rebind the array with "
            f"bind_once before fanning out: {bad[:2]}"
        )


def test_stats_single_pass_scans_prune_columns(spark):
    """The round-12 two-sample members must collapse in ONE pruned pass:
    welch reads exactly (returnflag, extendedprice), mannwhitney exactly
    (returnflag, quantity) — a scan that drags the full 16-column
    lineitem row through a 100 TB aggregate would dominate the query."""
    plan = plan_of(spark, "welch_price_ttest")
    scans = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scans and all(
        "l_extendedprice" in l and "l_returnflag" in l and "l_quantity" not in l
        and "l_orderkey" not in l
        for l in scans
    ), scans
    plan2 = plan_of(spark, "mannwhitney_quantity")
    scans2 = [l for l in plan2.splitlines() if "ReadSchema" in l]
    assert scans2 and all(
        "l_quantity" in l and "l_returnflag" in l and "l_extendedprice" not in l
        for l in scans2
    ), scans2


# --------------------------------------------------------------------------- #
# r13 refresh triage: the 14 r7-era members rotated back into the driver
# window (VERDICT r12 #1/#7). Each entry re-reviews the member's plan, not
# just its row: the scan must prune to exactly the columns the operator
# needs (a 100 TB scan that drags unused text/props columns would dominate),
# and the per-member comment names the risk that was re-checked. The
# risk-specific FUNCTIONAL pins stay where they live: phrase_search's
# sequence-reversal guard (short docs must match nothing — the Spark
# sequence(a,b) reverses, never empties) in tests/test_lm.py, and
# chunk_documents' boundary geometry (full coverage, overlap stride, short
# final chunk) in tests/test_curation_ops.py.
# --------------------------------------------------------------------------- #

# query -> (must appear in every scan line, must NOT appear in any scan line)
R7_REFRESH_SCAN_PINS = {
    # integer threshold filter; must never read price/date columns it
    # doesn't aggregate
    "large_quantity_orders": (["l_quantity"], ["l_extendedprice", "l_shipdate"]),
    # per-user value sum: 2 of 6 event columns
    "user_event_totals": (["user_id", "value"], ["props", "event_type"]),
    # distinct-count join: never reads quantities
    "supplier_part_variety": ([], ["l_quantity", "l_extendedprice"]),
    # packed-BIGINT argmax: everything except the wide props blob
    "latest_event_per_user": (["ts", "user_id"], ["props"]),
    # tumbling windows: no user/props columns
    "tumbling_event_counts": (["ts", "event_type"], ["props", "user_id"]),
    # md5-bucket stratification: the KEY property — the sample gate runs
    # on (doc_id, lang, source) and never touches the text blob
    "stratified_sample": (["lang", "source"], ["text"]),
    # bitmap popcounts: 2 of 6 columns
    "bitmap_distinct_users": (["user_id", "event_type"], ["value", "props"]),
    # integer lag thresholds: no type/props
    "event_gap_detection": (["ts", "user_id"], ["event_type", "props"]),
    # n-gram language id needs text but not source/lang (it PREDICTS lang)
    "language_id": (["text"], ["source", "n_chars"]),
    # UDTF surface demo (PYTHON_ALLOWED): text only
    "sentence_stats": (["text"], ["source", "lang"]),
    # token-position arithmetic: text only
    "positional_index": (["text"], ["lang", "n_chars"]),
    # sequence-guarded n-gram match: text + source, never the lang column
    "phrase_search": (["text"], ["lang", "n_chars"]),
    # boundary geometry: text only, and the empty-doc filter must be
    # PUSHED (asserted separately below)
    "chunk_documents": (["text"], ["source", "lang"]),
    # deterministic md5 split: doc_id ONLY — the whole point is that the
    # split assignment never reads document bodies
    "train_val_test_split": (["doc_id"], ["text", "lang", "source"]),
}


def test_r7_refresh_scans_prune_columns(spark):
    bad = []
    for name, (need, forbid) in R7_REFRESH_SCAN_PINS.items():
        plan = plan_of(spark, name)
        scans = [l for l in plan.splitlines() if "ReadSchema" in l]
        if not scans:
            bad.append(f"{name}: no FileScan in plan")
            continue
        for col in need:
            if not any(col in l for l in scans):
                bad.append(f"{name}: scan missing required column {col}")
        for col in forbid:
            if any(col in l for l in scans):
                bad.append(f"{name}: scan reads unneeded column {col}")
    assert not bad, bad


def test_chunk_documents_pushes_empty_doc_filter(spark):
    """The r7 boundary-geometry review, plan side: the empty-document
    guard (size(split(trim(text))) > 0) must reach the scan as a data
    filter — at 100 TB the blank-doc drop belongs in the reader, not a
    post-scan filter stage."""
    plan = plan_of(spark, "chunk_documents")
    scan = [l for l in plan.splitlines() if "DataFilters" in l]
    assert scan and any("size(split" in l for l in scan), scan


def test_q21_aggregates_ride_the_join_partitioning(spark):
    """Q21's whole reason to exist (r19): the EXISTS/NOT EXISTS
    correlated self-joins are rewritten into per-order aggregates so
    the plan has ONE fact shuffle — the orders⨝lineitem join — and the
    (orderkey, suppkey) and per-order aggregates both satisfy their
    clustering from that join's orderkey hash partitioning (orderkey is
    a subset of both grouping key sets). At SF_SMOKE AQE broadcasts the
    orders side (which voids the partitioning and re-shuffles the
    aggregates — correct there, wrong at scale), so this pin disables
    auto-broadcast to get the 100 TB plan: a SortMergeJoin on orderkey
    followed by ZERO exchanges until the supplier-bounded final
    aggregate. A hashpartitioning(l_orderkey, l_suppkey) exchange here
    is the regression this test exists to catch — it means the pair
    aggregate stopped riding the join and added a second fact-sized
    shuffle."""
    import re

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
    old_aqe = spark.conf.get(
        "spark.sql.adaptive.autoBroadcastJoinThreshold", None
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        df = registry.queries()["q21_waiting_suppliers"](spark, SF_SMOKE)
        # the INITIAL physical plan (no execution) already carries the
        # whole pinned shape — executing a broadcast-disabled q21 in the
        # shared session would buy nothing but suite seconds
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        for key, val in (
            ("spark.sql.autoBroadcastJoinThreshold", old),
            ("spark.sql.adaptive.autoBroadcastJoinThreshold", old_aqe),
        ):
            if val is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, val)
    assert "SortMergeJoin" in plan, plan
    exchanges = re.findall(r"Exchange hashpartitioning\(([^,]+)", plan)
    keys = {k.split("#")[0] for k in exchanges}
    # The KEY SET is what's pinned: the two join sides and the final
    # supplier aggregate, and nothing keyed by (orderkey, suppkey) or
    # orderkey alone downstream of the join.
    assert keys == {"l_orderkey", "o_orderkey", "s_name"}, sorted(exchanges)
    pair_exchanges = [
        e for e in re.findall(r"Exchange hashpartitioning\(([^)]+)\)", plan)
        if "l_suppkey" in e
    ]
    assert not pair_exchanges, pair_exchanges


def test_widen_probe_matches_public_partition_count(spark):
    """r22 pin for widen_to_shuffle_parallelism's partition probe: the
    JVM-side InternalRow RDD count must equal the public df.rdd count
    (df.rdd is a partition-preserving map over it) — on a raw scan, a
    derived projection, and an explicitly repartitioned frame. If the
    private queryExecution().toRdd() API ever drifts, the helper falls
    back to df.rdd, but this pin is what notices the drift."""
    docs = load_table(spark, SF_SMOKE, "documents")
    frames = [
        docs,
        docs.select("doc_id", "text"),
        docs.repartition(5),
    ]
    for df in frames:
        jvm_n = df._jdf.queryExecution().toRdd().getNumPartitions()
        assert jvm_n == df.rdd.getNumPartitions()
