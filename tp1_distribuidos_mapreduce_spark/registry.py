"""Query registry: every implemented operator as a named (spark, sf_dir) →
DataFrame callable, with a DuckDB oracle SQL string where the semantics are
ANSI-SQL-expressible (SURVEY.md §5 oracle discipline; driver contract in
__spark_entry__.py).

Column-name discipline: every computed column is aliased identically in the
Spark plan and the oracle SQL — the driver sorts columns by name before
value-hashing, so names must line up exactly.
"""

from __future__ import annotations

import itertools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.mapreduce import II_JOB, WC_JOB, run_mapreduce
from .operators.wordcount import inverted_index, word_count
from .plans import relational as R
from .sources.tables import load_table
from .sources.text import read_documents_as_corpus
from .streaming import sinks as SK

QueryFn = Callable[[SparkSession, str], DataFrame]

# Tokenizer regex shared verbatim by Spark (Java regex) and DuckDB (RE2):
# both support the Unicode letter class \p{L}. Imported, not re-declared:
# the Spark-side plans tokenize via this same constant, so an edit to the
# token class can never silently desynchronize the reference-parity
# oracles from the plans.
from .functions.tokenize import TOKEN_SPLIT_REGEX as _TOK  # noqa: E402

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}

# Monotonic per-process generation counter for the streaming fold
# queries' work dirs (_stream_fold_query).
_STREAM_Q_SEQ = itertools.count()


def _stream_fold_query(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    family: SK.Fold,
    read: Callable[[SparkSession, str], DataFrame],
    prep: Callable[[DataFrame], DataFrame] = lambda stream: stream,
) -> DataFrame:
    """Drain the fixture's ``table`` through ``family``'s versioned-state
    fold (streaming/sinks.py write_stream_fold) and return
    ``read(spark, state_path)``.

    The streaming file source needs a directory, so the table is landed
    once as a 4-file dir (content-addressed, build_once) and drained two
    files per micro-batch: every drain folds more than one batch. Each
    call folds into its own ``…_{pid}_g{n}`` work dir: the returned frame
    is lazy over that dir, so a later call must not wipe it (ADVICE r12),
    and the pid keeps concurrent processes apart."""
    import os
    import shutil

    from .sources.artifacts import build_once
    from .sources.tables import fixture_cache_tag, stream_events, stream_parquet

    tag = fixture_cache_tag(sf_dir, table, "stream-src-v1")
    src = f"/tmp/tp1_spark_stream_{table}_{tag}"
    build_once(
        src,
        lambda: load_table(spark, sf_dir, table)
        .repartition(4)
        .write.mode("overwrite")
        .parquet(src),
    )
    work = f"/tmp/tp1_spark_fold_q_{tag}_{os.getpid()}_g{next(_STREAM_Q_SEQ)}"
    shutil.rmtree(work, ignore_errors=True)  # a reused pid's stale checkpoint
    stream = (stream_events if table == "events" else stream_parquet)(
        spark, src, max_files_per_trigger=2
    )
    SK.write_stream_fold(prep(stream), f"{work}/state", f"{work}/ckpt", family)
    return read(spark, f"{work}/state")


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def queries() -> dict[str, QueryFn]:
    """Every query in registration order: the five reference-parity
    queries first, and only oracled queries among the first 50
    (tests/test_relational.py pins both)."""
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(_ORACLES)


# --------------------------------------------------------------------------
# Reference-parity queries (SURVEY.md §2): wc + ii over documents.text
# --------------------------------------------------------------------------


_WC_ORACLE = f"""
    SELECT word, count(*) AS cnt
    FROM (SELECT unnest(regexp_split_to_array(lower(text), '{_TOK}')) AS word
          FROM documents)
    WHERE word <> ''
    GROUP BY word
    ORDER BY word
    """


@register("wc", oracle=_WC_ORACLE)
def q_wc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word count (reference plugins/wc/wc.go) over documents.text."""
    return word_count(read_documents_as_corpus(spark, sf_dir))


@register("wc_textfiles", oracle=_WC_ORACLE)
def q_wc_textfiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word count over RAW TEXT FILES — the reference's true entry path
    (filesystem .txt intake, one-file-one-task at
    cmd/coordinator/coordinator.go:312) driven end-to-end: the fixture is
    materialized to .txt once under /tmp, re-read via read_text_corpus
    (spark.read.text + input_file_name), and must reproduce the exact
    parquet-path word counts."""
    from .sources.text import documents_as_text_files, read_text_corpus

    return word_count(read_text_corpus(spark, documents_as_text_files(spark, sf_dir)))


@register(
    "ii",
    oracle=f"""
    SELECT word,
           array_to_string(list_sort(array_agg(DISTINCT CAST(doc_id AS VARCHAR))), ',') AS docs
    FROM (SELECT doc_id,
                 unnest(regexp_split_to_array(lower(text), '{_TOK}')) AS word
          FROM documents)
    WHERE word <> ''
    GROUP BY word
    ORDER BY word
    """,
)
def q_ii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index (reference plugins/ii/ii.go) over documents."""
    return inverted_index(read_documents_as_corpus(spark, sf_dir)).select("word", "docs")


@register(
    "mr_wc",
    oracle=f"""
    SELECT word AS key, CAST(count(*) AS VARCHAR) AS value
    FROM (SELECT unnest(regexp_split_to_array(lower(text), '{_TOK}')) AS word
          FROM documents)
    WHERE word <> ''
    GROUP BY word
    ORDER BY key
    """,
)
def q_mr_wc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """wc via the generic MapReduce plugin API (reference O12 contract,
    seq/sequential.go:14-15) — proves the plugin surface reproduces the
    native-DataFrame result."""
    return run_mapreduce(read_documents_as_corpus(spark, sf_dir), WC_JOB)


@register(
    "mr_ii",
    oracle=f"""
    SELECT word AS key,
           array_to_string(list_sort(array_agg(DISTINCT CAST(doc_id AS VARCHAR))), ',') AS value
    FROM (SELECT doc_id,
                 unnest(regexp_split_to_array(lower(text), '{_TOK}')) AS word
          FROM documents)
    WHERE word <> ''
    GROUP BY word
    ORDER BY key
    """,
)
def q_mr_ii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ii via the generic MapReduce plugin API (reference O12 contract)."""
    return run_mapreduce(read_documents_as_corpus(spark, sf_dir), II_JOB)


# --------------------------------------------------------------------------
# Relational suite (plans/relational.py) — additive surface beyond the
# reference (SURVEY.md §2 negative space): joins, windows, set ops, pivot,
# having, top-k, sessionization, JSON, as-of.
# --------------------------------------------------------------------------


@register("q1_pricing_summary", oracle=R.Q1_ORACLE)
def q_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.q1_pricing_summary(load_table(spark, sf_dir, "lineitem"))


@register("q3_shipping_priority", oracle=R.Q3_ORACLE)
def q_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.q3_shipping_priority(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


@register("q5_revenue_by_nation", oracle=R.Q5_ORACLE)
def q_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.q5_revenue_by_nation(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
    )


@register("monthly_order_stats", oracle=R.MONTHLY_ORACLE)
def q_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.monthly_order_stats(load_table(spark, sf_dir, "orders"))


@register("brand_stats_having", oracle=R.BRAND_HAVING_ORACLE)
def q_brand_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.brand_stats_having(load_table(spark, sf_dir, "part"))


@register("top_customers_per_nation", oracle=R.TOP_CUSTOMERS_ORACLE)
def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.top_customers_per_nation(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "nation"),
    )


@register("order_priority_pivot", oracle=R.PIVOT_ORACLE)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.order_priority_pivot(load_table(spark, sf_dir, "orders"))


@register("customer_set_ops", oracle=R.SET_OPS_ORACLE)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.customer_set_ops(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
    )


@register("top_parts_by_revenue", oracle=R.TOP_PARTS_ORACLE)
def q_top_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.top_parts_by_revenue(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
    )


@register("sessionize_events", oracle=R.SESSIONIZE_ORACLE)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.sessionize_events(load_table(spark, sf_dir, "events"))


@register("events_json_stats", oracle=R.EVENTS_JSON_ORACLE)
def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.events_json_stats(load_table(spark, sf_dir, "events"))


@register("purchase_asof_last_click", oracle=R.ASOF_ORACLE)
def q_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.purchase_asof_last_click(load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# Relational extension (plans/relational_ext.py): rollup/cube, semi/anti,
# percentiles, window frames, EXISTS, array + date functions.
# --------------------------------------------------------------------------

from .plans import relational_ext as RX  # noqa: E402


@register("rollup_lineitem_flags", oracle=RX.ROLLUP_ORACLE)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return RX.rollup_lineitem_flags(load_table(spark, sf_dir, "lineitem"))


@register("cube_order_status_priority", oracle=RX.CUBE_ORACLE)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    return RX.cube_order_status_priority(load_table(spark, sf_dir, "orders"))


@register("supplier_activity", oracle=RX.SUPPLIER_ACTIVITY_ORACLE)
def q_supplier_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return RX.supplier_activity(
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "lineitem"),
    )


@register("order_price_quantiles", oracle=RX.QUANTILES_ORACLE)
def q_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return RX.order_price_quantiles(load_table(spark, sf_dir, "orders"))


@register("daily_revenue_moving_avg", oracle=RX.MOVING_AVG_ORACLE)
def q_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return RX.daily_revenue_moving_avg(load_table(spark, sf_dir, "lineitem"))


@register("priorities_with_big_items", oracle=RX.EXISTS_ORACLE)
def q_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    return RX.priorities_with_big_items(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


@register("brand_type_vocabulary", oracle=RX.BRAND_VOCAB_ORACLE)
def q_brand_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    return RX.brand_type_vocabulary(load_table(spark, sf_dir, "part"))


@register("weekday_order_stats", oracle=RX.WEEKDAY_ORACLE)
def q_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    return RX.weekday_order_stats(load_table(spark, sf_dir, "orders"))


@register("returned_item_revenue", oracle=RX.Q10_ORACLE)
def q_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return RX.returned_item_revenue(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "nation"),
    )


@register("parts_above_brand_avg", oracle=RX.ABOVE_AVG_ORACLE)
def q_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return RX.parts_above_brand_avg(load_table(spark, sf_dir, "part"))


@register("customer_order_gaps", oracle=RX.ORDER_GAPS_ORACLE)
def q_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    return RX.customer_order_gaps(load_table(spark, sf_dir, "orders"))


@register("promo_revenue_by_month", oracle=RX.PROMO_REVENUE_ORACLE)
def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return RX.promo_revenue_by_month(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


@register("supplier_part_variety", oracle=RX.SUPPLIER_VARIETY_ORACLE)
def q_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    return RX.supplier_part_variety(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
        load_table(spark, sf_dir, "supplier"),
    )


@register("large_quantity_orders", oracle=RX.LARGE_ORDERS_ORACLE)
def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return RX.large_quantity_orders(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


@register("disjunctive_brand_revenue", oracle=RX.DISJUNCTIVE_ORACLE)
def q_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    return RX.disjunctive_brand_revenue(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


@register("order_value_deciles", oracle=RX.DECILES_ORACLE)
def q_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return RX.order_value_deciles(load_table(spark, sf_dir, "orders"))


@register("latest_event_per_user", oracle=RX.LATEST_EVENT_ORACLE)
def q_latest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    return RX.latest_event_per_user(load_table(spark, sf_dir, "events"))


@register("hourly_event_gapfill", oracle=RX.GAPFILL_ORACLE)
def q_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    return RX.hourly_event_gapfill(load_table(spark, sf_dir, "events"))


@register("event_gap_detection", oracle=RX.EVENT_GAP_ORACLE)
def q_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    return RX.event_gap_detection(load_table(spark, sf_dir, "events"))


@register("value_outliers", oracle=RX.VALUE_OUTLIERS_ORACLE)
def q_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score outlier census (plans/relational_ext.py): moments
    aggregate broadcast back over the scan, map-side flag + count — the
    numeric-sanity gate before trusting a value column."""
    return RX.value_outliers(load_table(spark, sf_dir, "events"))


from .plans import bloom as B  # noqa: E402


@register("bloom_pruned_join", oracle=B.BLOOM_PRUNED_JOIN_ORACLE)
def q_bloom_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return B.bloom_pruned_join(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )


from .plans import behavior as BH  # noqa: E402


@register("funnel_conversion", oracle=BH.FUNNEL_CONVERSION_ORACLE)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase funnel (plans/behavior.py): per-user
    first-event cascade with user-cardinality joins; stage counts and
    conversion rates."""
    return BH.funnel_conversion(load_table(spark, sf_dir, "events"))


@register("cohort_retention", oracle=BH.COHORT_RETENTION_ORACLE)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix (plans/behavior.py): first-week
    cohorts × active-week offsets, exact integer week arithmetic with
    floor() on both engines."""
    return BH.cohort_retention(load_table(spark, sf_dir, "events"))


@register("time_weighted_value", oracle=BH.TIME_WEIGHTED_VALUE_ORACLE)
def q_time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duration-weighted (TWAP-style) mean event value per type
    (plans/behavior.py): each event's value holds until the user's next
    event and weighs by whole-second interval length — the correct
    aggregate for state-like readings, where a plain mean treats a
    1-second and a 3-day reading identically. Exact BIGINT weighted
    sums, half-up integer 4dp mean."""
    return BH.time_weighted_value(load_table(spark, sf_dir, "events"))


@register("subtree_rollup", oracle=RX.SUBTREE_ROLLUP_ORACLE)
def q_subtree_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtree rollup over the implicit 10-ary doc tree
    (plans/relational_ext.py) — the recursive-CTE query family, built
    Spark-first as a bounded union of log-depth parent-jump projections
    (one job, no loop actions); the oracle is a literal WITH RECURSIVE."""
    return RX.subtree_rollup(load_table(spark, sf_dir, "documents"))


@register("top_event_paths", oracle=BH.TOP_EVENT_PATHS_ORACLE)
def q_top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Journey mining (plans/behavior.py): most common ordered event-type
    paths, prefix-capped by a rank filter BEFORE the collect so per-user
    aggregate state is bounded under any skew; deterministic tie-breaks."""
    return BH.top_event_paths(load_table(spark, sf_dir, "events"))


from .plans import merge as MG  # noqa: E402


@register("merge_upsert_orders", oracle=MG.MERGE_UPSERT_ORDERS_ORACLE)
def q_merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC MERGE/upsert (plans/merge.py): deterministic update+insert batch
    applied to orders via one co-partitioned full-outer join with
    source-wins coalescing, summarized per status in scaled-cents
    BIGINTs."""
    return MG.merge_upsert_orders(load_table(spark, sf_dir, "orders"))


from .sinks import partitioned as PT  # noqa: E402


@register("partitioned_pruned_daily", oracle=PT.PARTITIONED_DAILY_ACTIVITY_ORACLE)
def q_partitioned_pruned_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-day activity read partition-pruned from a date-partitioned
    copy of events (sinks/partitioned.py): the literal date predicate
    resolves against directory names at plan time, so the scan lists a
    single partition directory; the oracle aggregates the flat table."""
    return PT.partitioned_daily_activity(spark, sf_dir)


from .sinks import bucketed as BK  # noqa: E402


@register("bucketed_colocated_join", oracle=BK.BUCKETED_REVENUE_ORACLE)
def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return BK.bucketed_revenue_by_priority(spark, sf_dir)


from .sinks import manifest as MF  # noqa: E402


@register("published_events_census", oracle=MF.PUBLISHED_EVENTS_CENSUS_ORACLE)
def q_published_events_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type census read through the manifest-committed publish path
    (sinks/manifest.py: snapshot dir + commit-last manifest +
    footer-count validation); the oracle aggregates the raw fixture, so
    any row the publish loses, duplicates, or mixes in from a stray
    writer breaks the hash — the snapshot layout is physical only."""
    return MF.published_events_census(spark, sf_dir)


_ZORDER_PRUNED_ORACLE = """
WITH b AS (SELECT min(user_id) AS lo, max(user_id) AS hi FROM events)
SELECT event_type,
       count(*) AS n_events,
       ((sum(CAST(round(value * 1000) AS BIGINT)) + 5) // 10) / 100.0
         AS sum_value
FROM events e, b
WHERE e.user_id BETWEEN b.lo + ((b.hi - b.lo) * 2) // 5
                    AND b.lo + ((b.hi - b.lo) * 3) // 5
GROUP BY event_type
ORDER BY event_type
"""


@register("zorder_pruned_scan", oracle=_ZORDER_PRUNED_ORACLE)
def q_zorder_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range scan over a Z-ORDERED copy of events (Morton curve over
    (ts, user_id), sinks/zorder.py): a mid-domain user_id slab — the
    NON-lead dimension of the classic time-sorted layout — aggregated by
    event_type. Z-order is pure physical layout, so the oracle runs the
    identical filter over the PLAIN parquet: any row difference means the
    layout lost or duplicated data. The scan benefit is pinned
    deterministically in tests/test_zorder.py via parquet row-group
    min/max stats (measured on events sf0.001, 10% slab on the second
    dimension: linear-by-lead-column reads 15/15 row groups, z-order
    reads 6/32). Bounds arithmetic is integer-only (`div`/`//`) so Spark
    and DuckDB agree bit-exactly."""
    from .sinks.zorder import ensure_zordered_fixture

    path = ensure_zordered_fixture(
        spark, sf_dir, "events", ("ts", "user_id"), num_files=32
    )
    ev = spark.read.parquet(path)
    # bounded collect: one row of two scalars (bucket-bound class, same as
    # the sketch grids in plans/approx.py)
    b = ev.agg(F.min("user_id").alias("lo"), F.max("user_id").alias("hi")).collect()[0]
    lo = b.lo + ((b.hi - b.lo) * 2) // 5
    hi = b.lo + ((b.hi - b.lo) * 3) // 5
    return (
        ev.filter(F.col("user_id").between(lo, hi))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            # exact 1e-3-scaled BIGINT sum, half-up integer round to 2dp.
            (
                F.expr("(sum(cast(round(value * 1000) as bigint)) + 5) div 10")
                / 100.0
            ).alias("sum_value"),
        )
        .orderBy("event_type")
    )


@register("waiting_suppliers", oracle=RX.WAITING_SUPPLIERS_ORACLE)
def q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return RX.waiting_suppliers(
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "nation"),
    )


@register("idle_customers_opportunity", oracle=RX.IDLE_CUSTOMERS_ORACLE)
def q_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return RX.idle_customers_opportunity(
        load_table(spark, sf_dir, "customer"), load_table(spark, sf_dir, "orders")
    )


# --------------------------------------------------------------------------
# SQL front-end surface (plans/sql_surface.py): the SQL text runs verbatim
# on Spark AND serves as its own DuckDB oracle — one text, two engines.
# --------------------------------------------------------------------------

from .plans import sql_surface as SQ  # noqa: E402


@register("sql_revenue_by_region", oracle=SQ.REVENUE_BY_REGION_SQL)
def q_sql_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SQ.run_sql(spark, sf_dir, SQ.REVENUE_BY_REGION_SQL)


@register("sql_top_balances_per_nation", oracle=SQ.TOP_BALANCES_SQL)
def q_sql_top_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SQ.run_sql(spark, sf_dir, SQ.TOP_BALANCES_SQL)


@register("sql_grouping_sets", oracle=SQ.GROUPING_SETS_SQL)
def q_sql_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SQ.run_sql(spark, sf_dir, SQ.GROUPING_SETS_SQL)


# Sketch aggregates (plans/approx.py): engine-specific estimates → rows-only
# driver check; accuracy pinned vs exact aggregates in tests/test_approx.py.

from .plans import approx as AX  # noqa: E402


@register("approx_user_counts")
def q_approx_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    return AX.approx_user_counts(load_table(spark, sf_dir, "events"))


@register("cms_heavy_hitters", oracle=AX.CMS_HEAVY_HITTERS_ORACLE)
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return AX.cms_heavy_hitters(load_table(spark, sf_dir, "documents"))


@register(
    "cms_heavy_hitters_by_source", oracle=AX.CMS_HEAVY_HITTERS_BY_SOURCE_ORACLE
)
def q_cms_heavy_hitters_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED CMS heavy hitters (plans/approx.py, VERDICT r14 #7):
    per-source words with exact count >= 50, found via ONE fixed-size
    count-min sketch keyed by the (source, word) composite — the grouped
    story for the frequency member. Overestimate-only pruning keeps the
    answer EXACT, so this carries a full DuckDB oracle (per-source word
    count with HAVING) like its global anchor cms_heavy_hitters."""
    return AX.cms_heavy_hitters_by_source(load_table(spark, sf_dir, "documents"))


@register("stream_cms_heavy_hitters")
def q_stream_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming count-min-at-ingest end-to-end: an availableNow drain
    folds each micro-batch of documents' (d, pos) cell counts into a
    persisted sketch table, and the heavy hitters — candidate-pruned by
    the PERSISTED grid through the batch query's probe kernel — equal
    the one-shot batch cms_heavy_hitters EXACTLY (pinned across a
    multi-batch replay in tests/test_streaming.py). Rows-only (streaming
    drain; the batch twin cms_heavy_hitters carries the DuckDB oracle)."""
    return _stream_fold_query(
        spark,
        sf_dir,
        "documents",
        SK.CMS,
        lambda spark, state: SK.read_cms_heavy_hitters(
            spark, state, load_table(spark, sf_dir, "documents")
        ),
    )


@register("stream_bloom_pruned_join")
def q_stream_bloom_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming membership-sketch-at-ingest end-to-end: an availableNow
    drain folds each micro-batch of urgent-order keys into a persisted
    sparse Bloom word table, and the revenue — lineitem pruned by the
    PERSISTED filter, false positives removed by the exact semi-join —
    equals the one-shot batch bloom_pruned_join EXACTLY. Rows-only
    (streaming drain; the batch twin bloom_pruned_join carries the DuckDB
    oracle)."""
    return _stream_fold_query(
        spark,
        sf_dir,
        "orders",
        SK.bloom("o_orderkey"),
        lambda spark, state: SK.read_bloom_pruned_revenue(
            spark,
            state,
            load_table(spark, sf_dir, "lineitem"),
            load_table(spark, sf_dir, "orders"),
        ),
        prep=lambda stream: stream.where(
            F.col("o_orderpriority") == "1-URGENT"
        ).select("o_orderkey"),
    )


@register("bitmap_distinct_users", oracle=AX.BITMAP_DISTINCT_ORACLE)
def q_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return AX.bitmap_distinct_users(load_table(spark, sf_dir, "events"))


@register("approx_price_quantiles")
def q_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return AX.approx_price_quantiles(load_table(spark, sf_dir, "orders"))


# Skew path end-to-end: salted two-phase collect_set on a maximally skewed
# key (5 event types over the whole table), oracle-checked for equality
# with the direct aggregation.

from .operators.skew import salted_collect_set  # noqa: E402


@register(
    "skewed_distinct_users",
    oracle="""
    SELECT event_type,
           array_to_string(list_sort(list_distinct(list(user_id))), ',') AS values
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_skewed_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The driver canonicalizer hashes scalar cells only (pandas sort_values
    # chokes on list cells — the one red row in CORRECTNESS_r01), so the
    # sorted distinct array is comma-joined to a string on BOTH sides,
    # mirroring how ii.docs passes. Numeric sort happens before the cast on
    # both engines, so the strings agree.
    out = salted_collect_set(
        load_table(spark, sf_dir, "events"), "event_type", "user_id"
    )
    return out.select(
        "event_type",
        F.array_join(
            F.transform("values", lambda v: v.cast("string")), ","
        ).alias("values"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# LLM-data-pipeline operators (BASELINE.md): dedup, similarity search,
# text analysis. Sketch-based ops (minhash/simhash/LSH/fingerprint) use
# engine-specific hashes → rows-only driver check; properties are pinned
# by pytest against the exact variants.
# --------------------------------------------------------------------------

from .operators import dedup as D  # noqa: E402
from .operators import similarity as S  # noqa: E402
from .sources import pydatasource as PDS  # noqa: E402
from .operators import ranking as RK  # noqa: E402
from .operators import textclean as TC  # noqa: E402
from .operators import textstats as T  # noqa: E402


@register("dedup_exact", oracle=D.DEDUP_EXACT_ORACLE)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.dedup_exact(load_table(spark, sf_dir, "documents"))


@register("incremental_dedup_bloom", oracle=D.INCREMENTAL_DEDUP_ORACLE)
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental new-batch-vs-base dedup (operators/dedup.py): Bloom
    bitmap over base content hashes, map-side probe of the derived ingest
    batch, exact semi-join to kill false positives — the per-batch
    incremental-ingest shape; exact result, plain-IN oracle."""
    return D.incremental_dedup(load_table(spark, sf_dir, "documents"))


@register("shared_span_pairs", oracle=D.SHARED_SPAN_PAIRS_ORACLE)
def q_shared_span_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact verbatim k-token span sharing (operators/dedup.py): md5-hashed
    spans (fixed-width shuffle keys, bit-identical in DuckDB), df-cut
    boilerplate guard mirrored in the oracle, in-row pair expansion."""
    return D.shared_span_pairs(load_table(spark, sf_dir, "documents"))


@register("dedup_ngram_jaccard", oracle=D.NGRAM_JACCARD_ORACLE)
def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Registered with the hot-shingle df-cut ON (the scale path — a shingle
    # shared by d docs emits d² join rows without it); the oracle applies
    # the identical cut, so the comparison stays exact given the cut.
    return D.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"),
        max_shingle_df=D.DEFAULT_MAX_SHINGLE_DF,
    )


@register("dedup_minhash_lsh")
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_lsh_pairs(load_table(spark, sf_dir, "documents"))


@register("dedup_simhash")
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash_pairs(load_table(spark, sf_dir, "documents"))


@register("dedup_embedding_cosine", oracle=D.EMBEDDING_NEAR_DUP_ORACLE)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.embedding_near_dup_pairs(load_table(spark, sf_dir, "embeddings"))


@register("dedup_embedding_ivf")
def q_dedup_embedding_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rows-only by design (quantizer-internal candidate set); recall and
    # full-probe equivalence vs dedup_embedding_cosine pinned in pytest.
    return D.embedding_near_dup_pairs_ivf(load_table(spark, sf_dir, "embeddings"))


@register("knn_bruteforce", oracle=S.KNN_BRUTEFORCE_ORACLE)
def q_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.knn_bruteforce(load_table(spark, sf_dir, "embeddings"))


@register("knn_lsh")
def q_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.knn_lsh(load_table(spark, sf_dir, "embeddings"))


@register("knn_ivf_persisted")
def q_knn_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.knn_ivf_persisted(spark, sf_dir)


@register("knn_ivf")
def q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.knn_ivf(load_table(spark, sf_dir, "embeddings"))


@register("knn_ivf_pq_persisted")
def q_knn_ivf_pq_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search over the PERSISTED code index (operators/
    similarity.py): bucket-pruned scan of probed lists' m-byte code rows,
    ADC on codes, bounded exact rerank against the source table — the
    100 TB serving shape. Bit-identical to knn_ivf_pq's rebuild path
    (pinned in pytest); rows-only driver check."""
    return S.knn_ivf_pq_persisted(spark, sf_dir)


@register("knn_ivf_pq")
def q_knn_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (operators/similarity.py): inverted-file pruning plus
    product-quantized codes (index rows carry m-byte codes, never raw
    vectors) with an exact rerank of the ADC shortlist. Quantizer
    internals aren't SQL-expressible → rows-only driver check; recall is
    pinned vs knn_bruteforce in tests/test_dedup_similarity.py."""
    return S.knn_ivf_pq(load_table(spark, sf_dir, "embeddings"))


@register("dedup_clusters", oracle=D.NEAR_DUP_CLUSTERS_ORACLE)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.near_dup_clusters(load_table(spark, sf_dir, "documents"))


from .operators import pipeline as P  # noqa: E402


@register("train_val_test_split", oracle=P.TRAIN_VAL_TEST_ORACLE)
def q_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    return P.train_val_test_split(load_table(spark, sf_dir, "documents"))


@register("chunk_documents", oracle=P.CHUNK_DOCUMENTS_ORACLE)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return P.chunk_documents(load_table(spark, sf_dir, "documents"))


@register("corpus_curation", oracle=P.CORPUS_CURATION_ORACLE)
def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return P.corpus_curation(load_table(spark, sf_dir, "documents"))


@register("stratified_sample", oracle=P.STRATIFIED_SAMPLE_ORACLE)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return P.stratified_sample(load_table(spark, sf_dir, "documents"))


@register("language_rebalance", oracle=P.LANGUAGE_REBALANCE_ORACLE)
def q_language_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    return P.language_rebalance(load_table(spark, sf_dir, "documents"))


from .operators import udtf_ops as U  # noqa: E402


@register("sentence_stats", oracle=U.SENTENCE_STATS_ORACLE)
def q_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return U.sentence_stats(load_table(spark, sf_dir, "documents"))


@register("text_quality", oracle=T.TEXT_QUALITY_ORACLE)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.text_quality(load_table(spark, sf_dir, "documents"))


@register("language_id", oracle=T.LANGUAGE_ID_ORACLE)
def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.language_id(load_table(spark, sf_dir, "documents"))


@register("token_stats", oracle=T.TOKEN_STATS_ORACLE)
def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.token_stats(load_table(spark, sf_dir, "documents"))


@register("tfidf_top_terms", oracle=RK.TFIDF_TOP_TERMS_ORACLE)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction (operators/ranking.py): two map-side
    partial aggregates, vocabulary-sized df table broadcast back, one
    per-doc ranking window — no UDFs anywhere."""
    return RK.tfidf_top_terms(load_table(spark, sf_dir, "documents"))


@register("positional_index", oracle=RK.POSITIONAL_INDEX_ORACLE)
def q_positional_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional inverted index (operators/ranking.py): the reference ii
    contract (sorted distinct docs, plugins/ii/ii.go:40) extended with
    per-occurrence positions, 'doc:p1,p2;doc:p3' postings."""
    return RK.positional_index(load_table(spark, sf_dir, "documents"))


@register("bm25_top_terms", oracle=RK.BM25_TOP_TERMS_ORACLE)
def q_bm25_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 keyword extraction (operators/ranking.py): tf saturation
    + doc-length normalization over the same UDF-free plan skeleton as
    tfidf_top_terms."""
    return RK.bm25_top_terms(load_table(spark, sf_dir, "documents"))


@register("phrase_search", oracle=RK.PHRASE_SEARCH_ORACLE)
def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase census (operators/ranking.py): in-row adjacency filter
    over candidate offsets — map-only codegen plus a source-cardinality
    aggregate; the corpus-sweep form of a positional-index lookup."""
    return RK.phrase_search(load_table(spark, sf_dir, "documents"))


@register("pii_scrub", oracle=TC.PII_SCRUB_ORACLE)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII census + redaction over a deterministically-dirtied corpus
    (operators/textclean.py): per-source email/IPv4 match counts and the
    char delta after [EMAIL]/[IP] replacement — map-only regex codegen,
    source-cardinality aggregate."""
    return TC.pii_scrub(load_table(spark, sf_dir, "documents"))


@register("repetition_stats", oracle=TC.REPETITION_STATS_ORACLE)
def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition gates (operators/textclean.py): duplicated-
    token fraction and modal-bigram fraction per document, with the bigram
    mode computed by an in-row sorted fold (no per-bigram shuffle); the
    oracle proves the fold against a relational unnest→group→max."""
    return TC.repetition_stats(load_table(spark, sf_dir, "documents"))


@register("doc_fingerprint")
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.doc_fingerprint(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "n_fingerprints", "min_fingerprint"
    )


from .operators import decontam as DC  # noqa: E402
from .operators import vocab as VB  # noqa: E402


@register("benchmark_contamination", oracle=DC.BENCHMARK_CONTAMINATION_ORACLE)
def q_benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/decontam.py): training docs
    sharing verbatim 8-token spans with the (derived) eval split — small
    benchmark span set broadcast, corpus probed map-side, doc-keyed
    count."""
    return DC.benchmark_contamination(load_table(spark, sf_dir, "documents"))


@register("corpus_card", oracle=VB.CORPUS_CARD_ORACLE)
def q_corpus_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card rollup (operators/vocab.py): per-source docs, token
    totals, vocabulary size, and type-token ratio — integer aggregates
    plus one deterministic BIGINT-quotient round."""
    return VB.corpus_card(load_table(spark, sf_dir, "documents"))


@register("bpe_pair_counts", oracle=VB.BPE_PAIR_COUNTS_ORACLE)
def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE merge round (operators/vocab.py): corpus-wide adjacent
    character-pair counts computed over the DISTINCT vocabulary with
    word-count weights, so pair expansion never touches corpus-sized
    data."""
    return VB.bpe_pair_counts(load_table(spark, sf_dir, "documents"))


from .plans import retail as RT  # noqa: E402


@register("event_transition_matrix", oracle=BH.EVENT_TRANSITION_ORACLE)
def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transitions between consecutive event types per
    user (plans/behavior.py): one lag window + type×type aggregate with
    engine-exact BIGINT-quotient probabilities."""
    return BH.event_transition_matrix(load_table(spark, sf_dir, "events"))


@register("rfm_segmentation", oracle=RT.RFM_SEGMENTATION_ORACLE)
def q_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM quintile grid (plans/retail.py): customer-cardinality ntile
    windows with custkey tiebreaks, cent-BIGINT monetary sums."""
    return RT.rfm_segmentation(load_table(spark, sf_dir, "orders"))


@register("market_basket_pairs", oracle=RT.MARKET_BASKET_ORACLE)
def q_market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top co-purchased part pairs (plans/retail.py): bounded per-order
    part sets expanded to pairs IN-ROW (no lineitem self-join), pair-keyed
    count, deterministic top-k cut."""
    return RT.market_basket_pairs(load_table(spark, sf_dir, "lineitem"))


@register("open_orders_by_month", oracle=RT.OPEN_ORDERS_BY_MONTH_ORACLE)
def q_open_orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval/range join by month bucketing (plans/retail.py): each
    order's fulfillment interval exploded into the months it spans —
    Spark's scalable encoding of an interval join — then bucket-keyed
    counts and cent-exact value sums."""
    return RT.open_orders_by_month(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )


@register("weighted_median_price", oracle=RT.WEIGHTED_MEDIAN_ORACLE)
def q_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted median per return flag (plans/retail.py): distinct
    (flag, price) weight rollup, cumulative-weight window, pure-BIGINT
    half-total selection — a native-Spark-missing operator composed from
    two aggregates and one window."""
    return RT.weighted_median_price(load_table(spark, sf_dir, "lineitem"))


@register("sequence_packing", oracle=VB.SEQUENCE_PACKING_ORACLE)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-length training-sequence packing (operators/vocab.py):
    bucket-sharded cumulative-offset assignment — the dataloader-shard
    shape, no global sort; window partitioned by bucket only."""
    return VB.sequence_packing(load_table(spark, sf_dir, "documents"))


@register("trigram_topk", oracle=VB.TRIGRAM_TOPK_ORACLE)
def q_trigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus top-k word trigrams (operators/vocab.py): in-row
    higher-order transform builds trigrams (no posexplode+window), the
    only shuffle is (trigram, partial_count) after map-side combine."""
    return VB.trigram_topk(load_table(spark, sf_dir, "documents"))


@register("rolling_7d_active_users", oracle=BH.ROLLING_ACTIVE_USERS_ORACLE)
def q_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling 7-day actives per day (plans/behavior.py): (day,
    user) dedup first, then in-row ×7 window-end explode — a linear map
    replacing the quadratic range self-join — then per-day distinct."""
    return BH.rolling_active_users(load_table(spark, sf_dir, "events"))


@register("orders_yoy_growth", oracle=RT.ORDERS_YOY_GROWTH_ORACLE)
def q_orders_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth (plans/retail.py): cent-BIGINT
    year aggregate + lag window over year-cardinality rows."""
    return RT.orders_yoy_growth(load_table(spark, sf_dir, "orders"))


from .plans import profile as PF  # noqa: E402


@register("table_profile", oracle=PF.TABLE_PROFILE_ORACLE)
def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style one-pass column profiler (plans/profile.py): every
    column × metric cell from ONE aggregate over ONE lineitem scan,
    unpivoted on the 1-row result; means from cent-BIGINT sums."""
    return PF.table_profile(load_table(spark, sf_dir, "lineitem"))


@register("data_quality_checks", oracle=PF.DATA_QUALITY_CHECKS_ORACLE)
def q_data_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint-check report (plans/profile.py): PK/NULL/range/domain
    rules folded into one aggregate per table plus an anti-join FK
    check, unioned into (check_name, n_violations, passed)."""
    return PF.data_quality_checks(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "events"),
    )


@register("numeric_histogram", oracle=PF.NUMERIC_HISTOGRAM_ORACLE)
def q_numeric_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width price histogram (plans/profile.py): 1-row min/max
    aggregate broadcast back over the scan, map-side bin assignment,
    ≤10-key hash aggregate."""
    return PF.numeric_histogram(load_table(spark, sf_dir, "lineitem"))


@register("user_state_islands", oracle=BH.USER_STATE_ISLANDS_ORACLE)
def q_user_state_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands state history (plans/behavior.py): lag boundary
    marks + cumulative island numbering, both windows partitioned by
    user_id — the SCD2 interval derivation from an event stream."""
    return BH.user_state_islands(load_table(spark, sf_dir, "events"))


@register("source_vocab_overlap", oracle=VB.SOURCE_VOCAB_OVERLAP_ORACLE)
def q_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-vocabulary Jaccard (operators/vocab.py): distinct
    (source, word) shape, word-keyed self-join with sources²-bounded
    fan-out, source-cardinality broadcast cross for denominators —
    mirrored-feed detection before mixing weights."""
    return VB.source_vocab_overlap(load_table(spark, sf_dir, "documents"))


@register("daily_revenue_anomalies", oracle=RX.DAILY_REVENUE_ANOMALIES_ORACLE)
def q_daily_revenue_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal anomaly census (plans/relational_ext.py):
    day-keyed cent sums, 7-row baseline broadcast back, 2σ gate on
    integer cents — every day reported with its flag."""
    return RX.daily_revenue_anomalies(load_table(spark, sf_dir, "orders"))


from .operators import graph as GR  # noqa: E402


@register("pagerank_copurchase")
def q_pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the co-purchase part graph (operators/graph.py):
    in-row basket pair expansion → edge list, then fixed-round
    join+aggregate power iteration with per-round localCheckpoint.
    Float-order sensitive at the last ulp → rows-only; every node's
    rank numpy-pinned in tests/test_graph.py."""
    return GR.pagerank_copurchase(load_table(spark, sf_dir, "lineitem"))


from .operators import vectors as VC  # noqa: E402


@register("label_centroid_cosine", oracle=VC.LABEL_CENTROID_COSINE_ORACLE)
def q_label_centroid_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid cohesion (operators/vectors.py): centroids via
    a (label, dim)-keyed aggregate broadcast back over the scan, cosine
    as a Catalyst fold — label-noise triage with an exact DuckDB
    list_cosine_similarity oracle."""
    return VC.label_centroid_cosine(load_table(spark, sf_dir, "embeddings"))


@register("embedding_pca")
def q_embedding_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus PCA projection (operators/vectors.py): one mapInPandas
    Gram-partial pass (dim×dim per partition), dim²-bounded reduce +
    driver eigendecomposition, JVM-side projection. Float-order
    sensitive at the last ulp → rows-only; numpy-pinned in
    tests/test_vectors.py."""
    return VC.embedding_pca(load_table(spark, sf_dir, "embeddings"))


@register("kmeans_clusters")
def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means census (operators/vectors.py): deterministic
    lowest-vec_id init, fixed rounds, map-side Catalyst argmin
    assignment, k×dim-bounded per-round collect. Rows-only; agreement-
    pinned vs a numpy reference in tests/test_vectors.py."""
    return VC.kmeans_clusters(load_table(spark, sf_dir, "embeddings"))


# --------------------------------------------------------------------------
# Multimodal surface (operators/multimodal.py) — binary media columns with
# decode/feature/resize/frame-sample via mapInPandas. Blob synthesis is
# numpy-seeded (not SQL-expressible) → rows-only driver checks; values are
# pinned against numpy ground truth in tests/test_multimodal.py.
# --------------------------------------------------------------------------

from .operators import multimodal as MM  # noqa: E402


@register("media_summary")
def q_media_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return MM.media_summary(MM.synthesize_media(load_table(spark, sf_dir, "documents")))


@register("image_stats")
def q_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return MM.image_stats(
        MM.synthesize_media(load_table(spark, sf_dir, "documents"))
    ).select("media_id", "height", "width", "mean", "std")


@register("audio_stats")
def q_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return MM.audio_stats(MM.synthesize_media(load_table(spark, sf_dir, "documents")))


@register("video_frame_sample")
def q_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        MM.sample_frames(MM.synthesize_media(load_table(spark, sf_dir, "documents")))
        .groupBy("media_id")
        .agg(F.count("*").alias("n_sampled"))
        .orderBy("media_id")
    )


# --------------------------------------------------------------------------
# Streaming surface (streaming/) — registered in BATCH mode (Structured
# Streaming's unified model: same plan, same results on bounded input);
# tests/test_streaming.py replays them as real streams and pins agreement.
# --------------------------------------------------------------------------

from .streaming import dedup as SD  # noqa: E402
from .streaming import joins as SJ  # noqa: E402
from .streaming import stateful as ST  # noqa: E402
from .streaming import windows as W  # noqa: E402


@register("tumbling_event_counts", oracle=W.TUMBLING_ORACLE)
def q_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return W.tumbling_event_counts(load_table(spark, sf_dir, "events"))


@register("sliding_event_stats", oracle=W.SLIDING_ORACLE)
def q_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return W.sliding_event_stats(load_table(spark, sf_dir, "events"))


@register("session_window_stats", oracle=W.SESSION_ORACLE)
def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return W.session_window_stats(load_table(spark, sf_dir, "events"))


@register("user_event_totals", oracle=ST.USER_TOTALS_ORACLE)
def q_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ST.user_event_totals(load_table(spark, sf_dir, "events"))


@register("click_purchase_attribution", oracle=SJ.ATTRIBUTION_ORACLE)
def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SJ.click_purchase_attribution(load_table(spark, sf_dir, "events"))


@register("stream_static_enrichment", oracle=SJ.STREAM_STATIC_ENRICHMENT_ORACLE)
def q_stream_static_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrichment (streaming/joins.py): the event
    stream broadcast-joined to static customer⨝nation per micro-batch —
    no streaming state on the dimension side; batch mode runs the
    identical plan for the oracle."""
    return SJ.stream_static_enrichment(
        load_table(spark, sf_dir, "events"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
    )


STREAM_DEDUP_ORACLE = """
SELECT event_type, count(*) AS n_events
FROM (
  SELECT DISTINCT event_id, event_type
  FROM (SELECT * FROM events UNION ALL SELECT * FROM events)
)
GROUP BY event_type
ORDER BY event_type
"""


@register("stream_dedup_counts", oracle=STREAM_DEDUP_ORACLE)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Doubled input models at-least-once delivery; dedup must collapse it.
    ev = load_table(spark, sf_dir, "events")
    return SD.deduped_event_type_counts(ev.unionAll(ev))


# Round-8 batch 2: web-corpus domain census, mixing weights, novelty
# scoring, range-join attribution, rank windows, and wide→long reshape.
from .operators import urls as UR  # noqa: E402


@register("url_domain_stats", oracle=UR.URL_DOMAIN_STATS_ORACLE)
def q_url_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain link census (operators/urls.py): codegen regexp
    extraction, sparse explode, domain-keyed aggregate; share-of-total
    window runs over the domain-cardinality frame only."""
    return UR.url_domain_stats(load_table(spark, sf_dir, "documents"))


@register("source_mix_weights", oracle=VB.SOURCE_MIX_WEIGHTS_ORACLE)
def q_source_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-sampling mix table (operators/vocab.py): one
    source-keyed aggregate; sqrt-based p^0.5 weights normalized over the
    source-cardinality frame — the pre-training interleave table."""
    return VB.source_mix_weights(load_table(spark, sf_dir, "documents"))


@register("trigram_novelty", oracle=VB.TRIGRAM_NOVELTY_ORACLE)
def q_trigram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc trigram novelty (operators/vocab.py): in-row distinct
    trigrams, trigram-keyed window-min attribution, doc-keyed rollup —
    contribution scoring for curation ranking."""
    return VB.trigram_novelty(load_table(spark, sf_dir, "documents"))


@register("views_before_purchase", oracle=BH.VIEWS_BEFORE_PURCHASE_ORACLE)
def q_views_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded range join (plans/behavior.py): user-keyed equi-join with a
    30-minute band predicate — count-in-window attribution; the as-of
    variant lives in purchase_asof_last_click."""
    return BH.views_before_purchase(load_table(spark, sf_dir, "events"))


@register("supplier_balance_percentiles", oracle=RX.BALANCE_PERCENTILES_ORACLE)
def q_supplier_balance_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-family windows (plans/relational_ext.py): percent_rank +
    cume_dist per nation, top-decile gate on the exact rational rank —
    no float-aggregate wobble by construction."""
    return RX.supplier_balance_percentiles(load_table(spark, sf_dir, "supplier"))


@register("monthly_metrics_unpivot", oracle=RX.MONTHLY_UNPIVOT_ORACLE)
def q_monthly_metrics_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (plans/relational_ext.py): exact-cent monthly
    KPIs reshaped with DataFrame.unpivot — map-only row expansion."""
    return RX.monthly_metrics_unpivot(load_table(spark, sf_dir, "orders"))


@register("mad_outliers", oracle=PF.MAD_OUTLIERS_ORACLE)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust median/MAD outlier census (plans/profile.py): two exact-
    median type-keyed aggregates with a 5-row broadcast between passes
    — the resistant counterpart to value_outliers' z-scores."""
    return PF.mad_outliers(load_table(spark, sf_dir, "events"))


@register("customer_ltv_pareto", oracle=RT.CUSTOMER_LTV_PARETO_ORACLE)
def q_customer_ltv_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto revenue concentration (plans/retail.py): customer-keyed
    exact-cent aggregate + one global window cumsum; the 80% head flag
    is a pure integer comparison — no float gate."""
    return RT.customer_ltv_pareto(load_table(spark, sf_dir, "orders"))


@register("prefix_duplicates", oracle=D.PREFIX_DUPLICATES_ORACLE)
def q_prefix_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-fingerprint dup groups (operators/dedup.py): in-row
    8-token md5 key, one hash-keyed census aggregate — exact dedup
    generalized to a boilerplate-header key."""
    return D.prefix_duplicates(load_table(spark, sf_dir, "documents"))


@register("nation_trade_flows", oracle=RX.NATION_TRADE_FLOWS_ORACLE)
def q_nation_trade_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-shaped flow matrix (plans/relational_ext.py): 4-table
    fact chain with nation broadcast twice under two roles; cross-nation
    filter runs before the name joins."""
    return RX.nation_trade_flows(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
    )


@register("image_phash_dupes")
def q_image_phash_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image dedup (operators/multimodal.py): Arrow-
    batched decode→ahash, 16-char-key census — rows-only (DuckDB cannot
    decode FIMG); groups pinned against the numpy reference in
    tests/test_multimodal.py. Input replays every 5th image under a
    negative mirror id so duplicate groups exist at every SF."""
    return MM.image_phash_dupes(
        MM.media_with_replayed_images(load_table(spark, sf_dir, "documents"))
    )


@register("language_confusion", oracle=T.LANGUAGE_CONFUSION_ORACLE)
def q_language_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier eval matrix (operators/textstats.py): map-only
    stopword-profile prediction vs the fixture truth label, one
    (true, pred)-keyed aggregate + matrix-frame window normalize."""
    return T.language_confusion(load_table(spark, sf_dir, "documents"))


@register("copurchase_jaccard", oracle=GR.COPURCHASE_JACCARD_ORACLE)
def q_copurchase_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item Jaccard neighbors (operators/graph.py): in-row basket
    pair expansion, pair-keyed count, two item-keyed joins, exact
    integer-ratio top-k — the collaborative-filtering primitive."""
    return GR.copurchase_jaccard(load_table(spark, sf_dir, "lineitem"))


@register("source_quality_gates", oracle=TC.SOURCE_QUALITY_GATES_ORACLE)
def q_source_quality_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Gopher-gate pass rates (operators/textclean.py): four
    in-row gates (token count, word length, dup fraction, modal bigram)
    → one source-keyed aggregate; all gates exact integer ratios."""
    return TC.source_quality_gates(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# Round-8 batch 6: remaining TPC-H classics, graph triangle/degree, ER
# fuzzy match, sweep-line concurrency, weighted systematic sampling
# --------------------------------------------------------------------------

from .plans import tpch_more as TM  # noqa: E402


@register("q4_order_priority", oracle=TM.Q4_ORACLE)
def q_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped correlated EXISTS (plans/tpch_more.py): LEFT SEMI
    equi-join with the date inequality as join filter, year filter
    pushed below the shuffle."""
    return TM.q4_order_priority(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )


@register("q13_custdist", oracle=TM.Q13_ORACLE)
def q_q13_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 customer order-count distribution (plans/tpch_more.py):
    LEFT OUTER join keeps the k=0 bucket, two partial-agg hash
    aggregates."""
    return TM.q13_customer_distribution(
        load_table(spark, sf_dir, "customer"), load_table(spark, sf_dir, "orders")
    )


@register("q17_small_qty_revenue", oracle=TM.Q17_ORACLE)
def q_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 small-quantity revenue (plans/tpch_more.py): per-part
    average decorrelated into a broadcast aggregate, map-side probe."""
    return TM.q17_small_quantity_revenue(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


@register("q8_market_share", oracle=TM.Q8_ORACLE)
def q_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-shaped market-share matrix (plans/tpch_more.py): full
    dimension chain broadcast, one shuffled fact join, share via a
    window over the aggregated (year × nation) frame."""
    return TM.q8_market_share(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
    )


@register("fuzzy_part_match", oracle=TM.FUZZY_PART_ORACLE)
def q_fuzzy_part_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked Levenshtein entity resolution (plans/tpch_more.py):
    noun-token blocking key bounds the self-join, edit-distance verify
    inside blocks only — the standard ER blocking shape."""
    return TM.fuzzy_part_match(load_table(spark, sf_dir, "part"))


@register("max_concurrent_sessions", oracle=TM.MAX_CONCURRENT_ORACLE)
def q_max_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line peak concurrency (plans/tpch_more.py): sessionize,
    ±1 deltas, day-partitioned running sum — no global ordering
    anywhere."""
    return TM.max_concurrent_sessions(load_table(spark, sf_dir, "events"))


@register("degree_distribution", oracle=GR.DEGREE_DISTRIBUTION_ORACLE)
def q_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-purchase graph degree histogram (operators/graph.py): two hash
    aggregates over the in-row-expanded edge list — the power-law/skew
    diagnostic run before any graph join."""
    return GR.degree_distribution(load_table(spark, sf_dir, "lineitem"))


@register("triangle_count", oracle=GR.TRIANGLE_COUNT_ORACLE)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed triangle counting (operators/graph.py): edge-iterator
    with degree-ordered orientation — each undirected edge points at its
    higher-(degree, id) endpoint, sorted adjacency lists, in-row
    array_intersect per oriented edge. Each triangle counted exactly
    once at its lowest vertex; adjacency fan-out bounded by degeneracy,
    not max degree (star-graph pin in tests/test_graph.py)."""
    return GR.triangle_count(load_table(spark, sf_dir, "lineitem"))


@register("weighted_token_sample", oracle=P.WEIGHTED_SYSTEMATIC_SAMPLE_ORACLE)
def q_weighted_token_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source weighted systematic sample (operators/pipeline.py):
    integer-exact grid-crossing selection proportional to n_chars — the
    token-budget sampler; zero float surface cross-engine."""
    return P.weighted_systematic_sample(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# Round-8 batch 7: LM-based curation, iterative graph/BPE, robust stats,
# provenance matrix
# --------------------------------------------------------------------------

from .operators import lm as LM  # noqa: E402
from .plans import robust as RB  # noqa: E402


@register("bigram_perplexity", oracle=LM.BIGRAM_PERPLEXITY_ORACLE)
def q_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-filter signal (operators/lm.py): add-one bigram LM
    trained on the trusted source, every source scored by mean NLL —
    the CCNet/Gopher quality-filter shape, all Catalyst."""
    return LM.bigram_perplexity_by_source(load_table(spark, sf_dir, "documents"))


@register("bpe_train_merges")
def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative greedy BPE trainer (operators/lm.py): per-round
    distributed pair-count aggregate + bounded argmax collect + in-row
    fold merge. Rows-only (iterative argmax is not ANSI-SQL); the full
    rule sequence is pinned against a sequential Python reference in
    tests/test_lm.py."""
    return LM.bpe_train_merges(load_table(spark, sf_dir, "documents"))


@register("bpe_encode_stats")
def q_bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODE under the trained merges (operators/lm.py): per-source
    token budget (n_words, n_tokens, chars_per_token) — encoding at
    vocabulary cardinality with the bounded rule list broadcast into an
    Arrow-batched fold, then one freq-weighted aggregate. Rows-only
    (inherits the trainer's iterative argmax); full train+encode pinned
    against a sequential Python reference in tests/test_lm.py."""
    return LM.bpe_encode_stats(load_table(spark, sf_dir, "documents"))


@register("bfs_distances", oracle=GR.BFS_DISTANCES_ORACLE)
def q_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontier-relaxation BFS (operators/graph.py) from the minimum
    part id over the co-purchase graph; recursive-CTE oracle — the
    iterative algorithm class with a full differential check."""
    return GR.bfs_distances(load_table(spark, sf_dir, "lineitem"))


@register("trimmed_mean_price", oracle=RB.TRIMMED_MEAN_ORACLE)
def q_trimmed_mean_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-trimmed per-brand mean (plans/robust.py): exact
    percent_rank cut + integer-cents half-up mean — zero float-boundary
    surface."""
    return RB.trimmed_mean_price(load_table(spark, sf_dir, "part"))


@register("source_gini", oracle=RB.SOURCE_GINI_ORACLE)
def q_source_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Gini of document-length mass (plans/robust.py):
    integer-exact rank formula, one window + one aggregate."""
    return RB.source_gini(load_table(spark, sf_dir, "documents"))


@register("cross_source_span_matrix", oracle=D.CROSS_SOURCE_SPAN_ORACLE)
def q_cross_source_span_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-to-source verbatim-span overlap census (operators/
    dedup.py): md5 span keys, df-cut, |sources|²-bounded matrix — the
    provenance view of the shared-span dedup stack."""
    return D.cross_source_span_matrix(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# Round-8 batch 8: format breadth, schema evolution, association rules,
# incremental view maintenance, table reconciliation
# --------------------------------------------------------------------------

from .plans import ivm as IV  # noqa: E402
from .sources import formats as FM  # noqa: E402


@register("q1_from_orc", oracle=R.Q1_ORACLE)
def q_q1_from_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 over an ORC materialization of lineitem (sources/
    formats.py): the ORC scan path end-to-end under the same oracle as
    the parquet twin — any value/type drift between format paths fails
    the differential."""
    return R.q1_pricing_summary(FM.read_lineitem_orc(spark, sf_dir))


@register("schema_evolution_census", oracle=FM.SCHEMA_EVOLUTION_ORACLE)
def q_schema_evolution_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mergeSchema read over heterogeneous parquet batches (sources/
    formats.py): footer reconciliation + partition discovery, per-batch
    late-column census — the long-lived-table ingestion reality."""
    return FM.schema_evolution_census(spark, sf_dir)


@register("type_widening_census", oracle=FM.TYPE_WIDENING_ORACLE)
def q_type_widening_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mergeSchema read over parquet batches whose o_custkey physical
    type differs (INT32 batch vs INT64 batch, sources/formats.py): the
    type-WIDENING half of table evolution — merged field asserted
    BIGINT engine-side, values proven exact against the all-BIGINT
    oracle."""
    return FM.type_widening_census(spark, sf_dir)


@register("association_rules", oracle=RT.ASSOCIATION_RULES_ORACLE)
def q_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed confidence/lift rules over basket pairs (plans/
    retail.py): in-row pair expansion, support cut, integer-ratio
    metrics — the recommender-facing market-basket output."""
    return RT.association_rules(load_table(spark, sf_dir, "lineitem"))


@register("incremental_agg_merge", oracle=IV.INCREMENTAL_AGG_ORACLE)
def q_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance (plans/ivm.py): persisted base
    state + delta-only aggregation + full-outer combine, proven equal
    to the full recompute in exact integer cents."""
    return IV.incremental_agg_merge(spark, sf_dir)


@register("table_diff", oracle=IV.TABLE_DIFF_ORACLE)
def q_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-restatement reconciliation (plans/ivm.py): full-outer key
    join, added/removed/changed/unchanged census in exact cents."""
    return IV.table_diff(load_table(spark, sf_dir, "orders"))


# --------------------------------------------------------------------------
# Round-8 batch 9: skyline, nucleus coverage cut, RANGE-frame window
# --------------------------------------------------------------------------


@register("pareto_frontier_parts", oracle=RB.PARETO_FRONTIER_ORACLE)
def q_pareto_frontier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2D price/size skyline (plans/robust.py): per-price reduce +
    one window over distinct prices — no pairwise dominance join."""
    return RB.pareto_frontier_parts(load_table(spark, sf_dir, "part"))


@register("nucleus_token_cut", oracle=RB.NUCLEUS_CUT_ORACLE)
def q_nucleus_token_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source top-p character-mass nucleus (plans/robust.py):
    integer head gate, one window + one aggregate — the token-budget
    concentration census."""
    return RB.nucleus_token_cut(load_table(spark, sf_dir, "documents"))


@register("trailing_30d_revenue", oracle=RX.TRAILING_30D_ORACLE)
def q_trailing_30d_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 30-day RANGE-frame mean (plans/relational_ext.py):
    value-bounded frame over day-aggregated integer cents."""
    return RX.trailing_30d_revenue(load_table(spark, sf_dir, "orders"))


# --------------------------------------------------------------------------
# Round-8 batch 10: CSV and JSONL connector parity under the oracle gate
# --------------------------------------------------------------------------


@register("weekday_orders_from_csv", oracle=RX.WEEKDAY_ORACLE)
def q_weekday_orders_from_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday order stats over a CSV round-trip of orders (sources/
    formats.py → files.py read_csv): the schema-enforced line-oriented
    CSV connector end-to-end under the same oracle as the parquet twin —
    null discipline, header removal, and timestamp round-trip all score
    on the differential."""
    return RX.weekday_order_stats(FM.read_orders_csv(spark, sf_dir))


@register("latest_event_from_jsonl", oracle=RX.LATEST_EVENT_ORACLE)
def q_latest_event_from_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-event-per-user over a gzip JSONL round-trip of events
    (sources/formats.py → files.py read_jsonl): the quarantining JSONL
    connector end-to-end under the parquet oracle — ISO-8601 UTC
    timestamps and double round-trips must be lossless to pass."""
    return RX.latest_event_per_user(FM.read_events_jsonl(spark, sf_dir))


# --------------------------------------------------------------------------
# Round-8 batch 11: streaming incremental view maintenance
# --------------------------------------------------------------------------

STREAM_IVM_ORACLE = """
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0
         AS total_value
FROM events
GROUP BY user_id
ORDER BY user_id
"""


@register("stream_ivm_user_totals", oracle=STREAM_IVM_ORACLE)
def q_stream_ivm_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental view maintenance end-to-end: an availableNow
    drain folds per-user (count, value-cents) deltas into a persisted
    state table (streaming/sinks.py IVM). Integer cents make the fold
    exact across any micro-batch boundaries, so the final state equals
    the one-shot batch aggregate (multi-batch replay and restart no-op
    pinned in tests/test_streaming.py)."""
    return _stream_fold_query(spark, sf_dir, "events", SK.IVM, SK.read_ivm_state)


# --------------------------------------------------------------------------
# Round-9: completing the partsupp-free TPC-H set (Q6, Q7, Q14, Q15, Q18,
# Q19 — Q2/Q9/Q11/Q16/Q20 need the partsupp table the fixture lacks;
# Q12/Q21 need l_shipmode/l_commitdate/l_receiptdate; Q10→
# returned_item_revenue and Q22→idle_customers_opportunity already exist)
# --------------------------------------------------------------------------


@register("q6_forecast_revenue", oracle=TM.Q6_ORACLE)
def q_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 scan-filter-aggregate (plans/tpch_more.py): every
    predicate pushed to the parquet scan, one partial+final sum, zero
    row shuffles — the plan-quality canary."""
    return TM.q6_forecast_revenue(load_table(spark, sf_dir, "lineitem"))


@register("q7_volume_shipping", oracle=TM.Q7_ORACLE)
def q_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 bilateral trade volume (plans/tpch_more.py): both
    nation-filtered dimension sides broadcast; the only fact shuffle is
    lineitem⨝orders on the order key."""
    return TM.q7_volume_shipping(
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
    )


@register("q9_product_type_profit", oracle=TM.Q9_ORACLE)
def q_q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 product-type profit (plans/tpch_more.py, r16): the
    partsupp query, unlocked by deriving ps_supplycost as a pure
    engine-portable hash function of (partkey, suppkey) — the fixture
    set has no partsupp table, and lineitem already carries l_suppkey.
    Broadcast part filter + broadcast supplier⨝nation; the only
    fact-sized shuffle is lineitem⨝orders. Exact BIGINT profit units
    divided once — no float partial-sum order, no rounding tie."""
    return TM.q9_product_type_profit(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "part"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
    )


@register("q2_min_cost_supplier", oracle=TM.Q2_ORACLE)
def q_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 minimum-cost supplier (plans/tpch_more.py, r16): the
    correlated-min join-back over the DERIVED partsupp relation
    (hash-chosen supplier pairs + the q9 cost function — both engines
    derive it independently). Region-filtered dims broadcast; the
    per-part min is one part-bounded aggregate equi-joined back; the
    LIMIT rides a fully tie-broken sort so the cut is deterministic.
    Dimension-bounded end to end — no fact table touched."""
    return TM.q2_min_cost_supplier(
        load_table(spark, sf_dir, "part"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
    )


@register("q11_important_stock", oracle=TM.Q11_ORACLE)
def q_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 important stock (plans/tpch_more.py, r17): the
    fraction-of-global-total HAVING over the derived partsupp relation
    with a third derived dimension (ps_availqty, the shared _availqty
    hash). Per-part values are one part-bounded aggregate; the global
    total is a broadcast 1-row frame; the threshold compare is pure
    BIGINT cross-multiplication — no float until the display division.
    Dimension-bounded end to end — no fact table touched."""
    return TM.q11_important_stock(
        load_table(spark, sf_dir, "part"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
    )


@register("q20_potential_promotion", oracle=TM.Q20_ORACLE)
def q_q20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 potential part promotion (plans/tpch_more.py, r17): the
    nested semi-join chain — name-filtered parts broadcast into the
    year-pruned lineitem scan, ONE partial-aggregated pair shuffle, the
    exact-integer half-of-annual-demand threshold (2×availqty > Σqty,
    the shared _availqty hash on lineitem's own pairs — the q9 move,
    documented in the plan docstring), then a broadcast supplier⨝nation
    semi-join. One pruned fact shuffle total."""
    return TM.q20_potential_promotion(
        load_table(spark, sf_dir, "part"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "lineitem"),
    )


@register("q16_supplier_part_counts", oracle=TM.Q16_ORACLE)
def q_q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 supplier-part counts (plans/tpch_more.py, r18): the LAST
    derived-partsupp tier member — null-aware NOT IN as a broadcast
    anti-join with an explicit probe-side null drop plus a broadcast
    1-row null-key guard (full NOT IN semantics branch-free, not an
    implicit non-null assumption), then grouped count(DISTINCT
    ps_suppkey). The attribute filter prunes part BEFORE the pair
    derivation (pure per-partkey arithmetic, so identical pairs).
    Dimension-bounded end to end — no fact table touched."""
    return TM.q16_supplier_part_counts(
        load_table(spark, sf_dir, "part"),
        load_table(spark, sf_dir, "supplier"),
    )


@register("q21_waiting_suppliers", oracle=TM.Q21_ORACLE)
def q_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 waiting suppliers (plans/tpch_more.py, r19): the
    existential-self-join classic — EXISTS + NOT EXISTS correlated
    self-joins on the fact table, both collapsed into ONE per-order
    aggregate (|suppliers| >= 2 is the EXISTS; |late suppliers| == 1 is
    the NOT EXISTS, and then the single late supplier is l1's own — the
    equivalence derived in the plan docstring). One fact shuffle total:
    the status-pruned orders⨝lineitem join; both downstream aggregates
    ride its orderkey partitioning with no further exchange. The oracle
    keeps the literal correlated EXISTS/NOT EXISTS form — an
    independent derivation from the rewrite."""
    return TM.q21_waiting_suppliers(
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "nation"),
    )


@register("q22_global_sales_opportunity", oracle=TM.Q22_ORACLE)
def q_q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 global sales opportunity (plans/tpch_more.py, r19): the
    scalar-AVG-subquery + NOT-EXISTS-anti-join classic. The float mean
    never exists: bal > avg(bal⁺) runs as the exact integer
    cross-multiplication cents × n > Σcents⁺ in DECIMAL(38,0)/HUGEINT
    (the q11 discipline), so a one-ulp sum-order difference can never
    flip a row. NOT EXISTS is one LEFT ANTI join on custkey with the
    date predicate pushed to the orders scan; the candidate frame is
    checkpointed (two consumers), the (Σ, n) frame broadcasts back,
    and the closing aggregate is bounded by the 7-nation code domain."""
    return TM.q22_global_sales_opportunity(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
    )


@register("q12_shipmode_priority", oracle=TM.Q12_ORACLE)
def q_q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shipmode priority check (plans/tpch_more.py, r20): the
    conditional two-way aggregate over the orders⨝lineitem join — the
    last absent classic, closing the full 22/22 TPC-H shape set. The
    mode filter + group key is l_returnflag IN ('A','R') (the fixture
    has no l_shipmode; two of three values as TPC-H takes two of seven
    modes) and lateness is the Q4/Q21 60-day proxy — both adaptations
    documented in the plan docstring. One pruned fact shuffle, a
    2-value-domain closing aggregate, and pure BIGINT counts: no float
    anywhere."""
    return TM.q12_shipmode_priority(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


@register("q14_promo_effect", oracle=TM.Q14_ORACLE)
def q_q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 promotion share (plans/tpch_more.py): broadcast part
    dimension, conditional + total sums in ONE pass, ratio on the two
    scalars."""
    return TM.q14_promo_effect(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


@register("q15_top_supplier", oracle=TM.Q15_ORACLE)
def q_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 top supplier (plans/tpch_more.py): the revenue view is
    computed ONCE; the scalar max joins back as a broadcast 1-row frame
    — never a recompute, never an all-supplier window."""
    return TM.q15_top_supplier(
        load_table(spark, sf_dir, "supplier"), load_table(spark, sf_dir, "lineitem")
    )


@register("q18_large_volume_customers", oracle=TM.Q18_ORACLE)
def q_q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 large-volume customers (plans/tpch_more.py): HAVING on
    the fact aggregate FIRST (order-cardinality), then enrich only the
    qualifying keys."""
    return TM.q18_large_volume_customers(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


@register("q19_discounted_revenue", oracle=TM.Q19_ORACLE)
def q_q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 OR-of-ANDs predicate (plans/tpch_more.py): the equi-key
    factored out of the disjunction so the join stays a broadcast hash
    join with the OR as a post-join filter — never a nested loop."""
    return TM.q19_discounted_revenue(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


@register("linear_attribution", oracle=BH.LINEAR_ATTRIBUTION_ORACLE)
def q_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch revenue attribution (plans/behavior.py):
    purchases ⨝ prior-24h touches on user_id, integer-millicent equal
    split (floor div — identical in both engines), per-touch-type
    rollup. The multi-touch counterpart of purchase_asof_last_click."""
    return BH.linear_attribution(load_table(spark, sf_dir, "events"))


@register("repeat_purchase_intervals", oracle=BH.REPEAT_PURCHASE_ORACLE)
def q_repeat_purchase_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase cadence per segment (plans/behavior.py):
    per-customer lag window (high-cardinality partitions), integral
    day gaps, exact quartiles that interpolate identically
    cross-engine."""
    return BH.repeat_purchase_intervals(
        load_table(spark, sf_dir, "customer"), load_table(spark, sf_dir, "orders")
    )


@register("dedup_survivors", oracle=D.DEDUP_SURVIVORS_ORACLE)
def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivor selection over normalized exact-dup
    clusters (operators/dedup.py): fixed-width hash groupBy, max_by
    struct argmax (no window), delete-list output — the curation step
    after cluster detection."""
    return D.dedup_survivors(load_table(spark, sf_dir, "documents"))


@register("hard_negative_mining", oracle=S.HARD_NEGATIVE_ORACLE)
def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining (operators/similarity.py): the
    knn_bruteforce template with a cross-label join filter — per query,
    top-k most-similar DIFFERENT-label vectors, identity/rank output
    (no float column in the compare)."""
    return S.hard_negative_mining(load_table(spark, sf_dir, "embeddings"))


@register("star_revenue_rollup", oracle=RX.STAR_REVENUE_ROLLUP_ORACLE)
def q_star_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema ROLLUP cube (plans/relational_ext.py): broadcast
    dimension chain into the single fact shuffle, one Expand-based
    aggregate for all four subtotal levels, per-row integral cents so
    every subtotal is an exact BIGINT sum."""
    return RX.star_revenue_rollup(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
    )


@register("purchases_by_browsing_state", oracle=BH.PURCHASES_BY_STATE_ORACLE)
def q_purchases_by_browsing_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2-interval purchase attribution (plans/behavior.py): derive
    browsing-state islands from non-purchase events (two user-keyed
    windows), interval-join purchases into their containing island
    (user-keyed equi-join + range filter), 'none' bucket for gap
    purchases — NULL-free, cents-exact."""
    return BH.purchases_by_browsing_state(load_table(spark, sf_dir, "events"))


@register("time_to_convert_stats", oracle=BH.TIME_TO_CONVERT_ORACLE)
def q_time_to_convert_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency quartiles (plans/behavior.py): first view →
    first qualifying purchase per user, integral minutes, percentile
    input one row per converter — never an event-sized window."""
    return BH.time_to_convert_stats(load_table(spark, sf_dir, "events"))


@register("lang_fertility_stats", oracle=T.LANG_FERTILITY_ORACLE)
def q_lang_fertility_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language bytes-per-token budget (operators/textstats.py):
    octet_length vs letter-run tokens, integer half-up ratio at 2dp —
    zero float surface (the multilingual data-budgeting number)."""
    return T.lang_fertility_stats(load_table(spark, sf_dir, "documents"))


@register("detgen_bucket_stats", oracle=PDS.DETGEN_BUCKET_STATS_ORACLE)
def q_detgen_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource end-to-end (sources/pydatasource.py):
    Spark 4 connector surface — declared schema, partition planning,
    lazy per-partition generators — feeding a Catalyst aggregate, with
    the deterministic integer generation formula replayed by the DuckDB
    oracle via generate_series."""
    return PDS.detgen_bucket_stats(spark)


@register("rowdir_roundtrip", oracle=PDS.ROWDIR_ROUNDTRIP_ORACLE)
def q_rowdir_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-side custom DataSource (sources/pydatasource.py): orders
    flow through the rowdir OUTPUT-COMMIT PROTOCOL (per-task Arrow IPC
    temp files → driver commit → atomic manifest publish) and back
    through its manifest-scoped reader into a Catalyst aggregate; the
    oracle aggregates the orders table directly, so any lost, duplicate
    or partial file breaks the hash. The Spark-4 analogue of the
    reference's output-commit step (coordinator.go:241-273)."""
    return PDS.rowdir_roundtrip_priority_revenue(spark, sf_dir)


@register("rowdir_time_travel", oracle=PDS.ROWDIR_TIME_TRAVEL_ORACLE)
def q_rowdir_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot TIME TRAVEL over the rowdir connector's versioned
    manifests (sources/pydatasource.py): version 1 (pre-1997 overwrite
    commit) and the current pointer (post-append) of the same table
    path are read side-by-side and aggregated by year; the oracle
    replays both snapshots as filtered aggregates — Iceberg/Delta
    time-travel semantics carried natively by the commit protocol."""
    return PDS.rowdir_time_travel_census(spark, sf_dir)


@register("rowdir_pruned_scan", oracle=PDS.ROWDIR_PRUNED_SCAN_ORACLE)
def q_rowdir_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map file pruning through the Spark-4 pushFilters contract
    (sources/pydatasource.py): the rowdir artifact is range-partitioned
    by year at write time, per-file min/max stats land in the manifest,
    and the year predicate prunes whole files at planning time — the
    Iceberg/Delta data-skipping shape. Mechanical skip count pinned in
    tests/test_sources_contract.py; this row proves cross-engine
    equality of the pruned read."""
    return PDS.rowdir_pruned_scan_census(spark, sf_dir)


@register("kcore_members")
def q_kcore_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling (operators/graph.py): iterative degree-filtered
    edge restriction with broadcast-guarded semi-joins, scalar-only
    convergence checks. Rows-only by design (recursive CTEs cannot
    re-aggregate per round); exact Python-peeling pin in
    tests/test_graph.py."""
    return GR.kcore_members(load_table(spark, sf_dir, "lineitem"))


@register("props_variant_census", oracle=RX.PROPS_VARIANT_ORACLE)
def q_props_variant_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT-typed semi-structured analytics (plans/relational_ext.py):
    parse_json once → typed variant_get path access → exact integer
    aggregates — the Spark 4 modernization of get_json_object string
    re-parsing."""
    return RX.props_variant_census(load_table(spark, sf_dir, "events"))


@register("weighted_p90_price", oracle=RT.WEIGHTED_P90_ORACLE)
def q_weighted_p90_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted 90th-percentile price per flag (plans/retail.py):
    the two-phase bucketed percentile generalized from the median —
    no window partition ever sorts a full flag's distinct prices."""
    return RT.weighted_p90_price(load_table(spark, sf_dir, "lineitem"))


@register("dedup_jaccard_prefix", oracle=D.ngram_jaccard_oracle(threshold=0.5))
def q_dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPJoin-style prefix-filtered exact Jaccard (operators/dedup.py):
    rarest-first canonical order, per-doc integer prefix lengths, prefix-
    only candidate join, in-row array_intersect verify. Registered at
    t=0.5 — the regime the technique exists for (each doc indexes ~half
    its shingles; at dedup_ngram_jaccard's t=0.2 the prefix is ~80% of
    the set and the plain inverted-index join is the right plan, which
    is why both stay registered). Equality with the plain join is pinned
    at two thresholds in tests/test_dedup_similarity.py."""
    return D.ngram_jaccard_prefix_pairs(
        load_table(spark, sf_dir, "documents"), t_num=1, t_den=2
    )


@register("rolling_28d_users_hll")
def q_rolling_28d_users_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-HLL rolling 28-day distinct users (plans/approx.py):
    one fixed-size sketch per day built in a single Arrow-batched pass,
    register-wise max-merge per window in pure Catalyst — the
    sketch-at-ingest/merge-at-query pattern. Rows-only; error envelope
    vs the exact rolling distinct pinned in tests/test_approx.py."""
    return AX.rolling_hll_active_users(load_table(spark, sf_dir, "events"))


@register(
    "rolling_28d_users_exact",
    oracle=BH.rolling_active_users_oracle(days=AX.ROLLING_HLL_DAYS),
)
def q_rolling_28d_users_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling 28-day distinct users (plans/behavior.py at the
    HLL sketch's window length — VERDICT r11 #5): the oracle-checked
    anchor for rolling_28d_users_hll's error envelope, same gap-day /
    max-day-cut convention, so the sketch's accuracy is pinned against
    a driver-gated exact answer at every sf, not only the 7-day twin's
    different window. Window length and oracle both derive from
    ROLLING_HLL_DAYS — the pair cannot silently diverge."""
    return BH.rolling_active_users(
        load_table(spark, sf_dir, "events"), days=AX.ROLLING_HLL_DAYS
    )


from .plans import stats as STT  # noqa: E402


@register("nation_revenue_trend", oracle=STT.NATION_REVENUE_TREND_ORACLE)
def q_nation_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped OLS trend (plans/stats.py): per-nation least-squares
    slope of daily revenue — exact BIGINT sufficient statistics, one
    closed-form division, no iteration."""
    return STT.nation_revenue_trend(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
    )


@register("event_weekday_chi2", oracle=STT.EVENT_WEEKDAY_CHI2_ORACLE)
def q_event_weekday_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence of event_type × weekday (plans/stats.py):
    exact-integer contingency table, canonical-order double fold — the
    statistic is bit-identical across engines, not merely close."""
    return STT.event_weekday_chi2(load_table(spark, sf_dir, "events"))


@register("brand_qty_price_corr", oracle=STT.BRAND_QTY_PRICE_CORR_ORACLE)
def q_brand_qty_price_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped Pearson correlation (plans/stats.py): per-brand r between
    quantity and price — DECIMAL(38,0)/HUGEINT sufficient statistics
    (squares of cents pass 2^63 at scale), one divide-sqrt-divide chain,
    bit-identical across engines."""
    return STT.brand_qty_price_corr(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


@register("revenue_autocorrelation", oracle=STT.REVENUE_AUTOCORRELATION_ORACLE)
def q_revenue_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of daily revenue (plans/stats.py): lead()
    pairing over the post-aggregation calendar frame, consecutive days
    only; exact decimal sufficient statistics."""
    return STT.revenue_autocorrelation(load_table(spark, sf_dir, "orders"))


@register("ks_returned_price", oracle=STT.KS_RETURNED_PRICE_ORACLE)
def q_ks_returned_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS statistic (plans/stats.py): returned-vs-other
    price distributions via the two-phase bucketed cumulative — no
    global single-partition window; DECIMAL/HUGEINT cross-products."""
    return STT.ks_returned_price(load_table(spark, sf_dir, "lineitem"))


@register("event_type_entropy", oracle=STT.EVENT_TYPE_ENTROPY_ORACLE)
def q_event_type_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-weekday Shannon entropy of the event-type mix
    (plans/stats.py): canonical-order fold, shared ln2 literal, 6dp
    continuous-class rounding."""
    return STT.event_type_entropy(load_table(spark, sf_dir, "events"))


@register("benford_price_audit", oracle=STT.BENFORD_PRICE_AUDIT_ORACLE)
def q_benford_price_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit (plans/stats.py): decimal-string digit
    extraction (no log10), raw exact-rational shares, literal expected
    values — bit-exact, zero rounding."""
    return STT.benford_price_audit(load_table(spark, sf_dir, "orders"))


@register("welch_price_ttest", oracle=STT.WELCH_PRICE_TTEST_ORACLE)
def q_welch_price_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch two-sample t-test, returned vs other line prices
    (plans/stats.py): ONE conditional hash aggregate builds both
    groups' exact decimal sufficient statistics; t and dof are a
    shared correctly-rounded double chain — bit-exact."""
    return STT.welch_price_ttest(load_table(spark, sf_dir, "lineitem"))


@register("mannwhitney_quantity", oracle=STT.MANNWHITNEY_QUANTITY_ORACLE)
def q_mannwhitney_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U over line quantities, returned vs other
    (plans/stats.py): U from exact value-level counts (2·U stays
    integer — no midranks), tie-corrected z; the cumulative window is
    bounded by the quantity domain, never the data."""
    return STT.mannwhitney_quantity(load_table(spark, sf_dir, "lineitem"))


@register("anova_price_by_priority", oracle=STT.ANOVA_PRICE_BY_PRIORITY_ORACLE)
def q_anova_price_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of order totals across priorities
    (plans/stats.py): exact per-group decimal statistics, canonical-
    order fold of the k ratio terms, closed-form F and eta-squared —
    bit-exact."""
    return STT.anova_price_by_priority(load_table(spark, sf_dir, "orders"))


@register(
    "event_weekday_mutual_info", oracle=STT.EVENT_WEEKDAY_MUTUAL_INFO_ORACLE
)
def q_event_weekday_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information type×weekday in bits (plans/stats.py):
    cell-bounded contingency frame, exact decimal N·o/(r·c) ratios,
    canonical-order folds for the MI and both marginal entropies —
    bit-exact at 6dp."""
    return STT.event_weekday_mutual_info(load_table(spark, sf_dir, "events"))


@register(
    "nation_trend_significance", oracle=STT.NATION_TREND_SIGNIFICANCE_ORACLE
)
def q_nation_trend_significance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation OLS trend with inference (plans/stats.py): slope, R²
    and the slope t-statistic from exact decimal sufficient statistics
    via the proven Pearson divide-sqrt chain — bit-exact."""
    return STT.nation_trend_significance(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
    )


@register(
    "weekday_seasonality_index", oracle=STT.WEEKDAY_SEASONALITY_INDEX_ORACLE
)
def q_weekday_seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiplicative weekday seasonal index (plans/stats.py):
    (S_w·n)/(n_w·S) — one correctly-rounded division of exact decimal
    products, no mean-of-means float chain — bit-exact."""
    return STT.weekday_seasonality_index(load_table(spark, sf_dir, "orders"))


@register("k_anonymity_census", oracle=PF.K_ANONYMITY_CENSUS_ORACLE)
def q_k_anonymity_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity privacy audit over customer quasi-identifiers
    (plans/profile.py): equivalence-class size bands, pure integer
    counting, explicit floor() bucketing both engines (int-cast
    truncate-vs-round trap) — the pre-release re-identification check
    a training-data pipeline runs."""
    return PF.k_anonymity_census(load_table(spark, sf_dir, "customer"))


@register(
    "quantity_price_spearman", oracle=STT.QUANTITY_PRICE_SPEARMAN_ORACLE
)
def q_quantity_price_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation quantity×price (plans/stats.py):
    exact midranks from value-domain rank maps (2·midrank stays an
    integer under ties), weighted Pearson over cells, never a global
    row-level rank — bit-exact."""
    return STT.quantity_price_spearman(load_table(spark, sf_dir, "lineitem"))


@register("theil_sen_revenue_trend", oracle=STT.THEIL_SEN_REVENUE_TREND_ORACLE)
def q_theil_sen_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust daily-revenue trend (plans/stats.py): median of
    calendar²-bounded pairwise slopes, selected (lower median) rather
    than interpolated so the result is bit-exact cross-engine."""
    return STT.theil_sen_revenue_trend(load_table(spark, sf_dir, "orders"))


@register("kaplan_meier_repurchase", oracle=STT.KAPLAN_MEIER_REPURCHASE_ORACLE)
def q_kaplan_meier_repurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier time-to-repeat-purchase survival curve under right
    censoring (plans/stats.py): day-domain-bounded risk-set cumulative,
    canonical-order product-limit prefix fold — bit-exact vs the
    WITH-window + list_reduce oracle."""
    return STT.kaplan_meier_repurchase(load_table(spark, sf_dir, "orders"))


@register("event_user_overlap", oracle=AX.EVENT_USER_OVERLAP_ORACLE)
def q_event_user_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise event-type audience overlap (plans/approx.py):
    (type, user) distinct then a user-keyed pair expansion bounded by
    types² per user; the oracle-checked exact twin of the KMV sketch
    version."""
    return AX.event_user_overlap(load_table(spark, sf_dir, "events"))


@register("kmv_event_user_overlap")
def q_kmv_event_user_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-k (KMV/theta-style) sketch audience overlap
    (plans/approx.py): per-(type, partition) partial bottom-K of a
    60-bit md5 hash, K-array merges, inclusion-exclusion intersection —
    the set-operation sketch HLL cannot be. Rows-only; error envelope
    vs the exact twin pinned in tests/test_approx.py."""
    return AX.kmv_event_user_overlap(load_table(spark, sf_dir, "events"))


@register("stream_hll_rolling_28d")
def q_stream_hll_rolling_28d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sketch-at-ingest end-to-end: an availableNow drain folds
    each micro-batch into a persisted per-day HLL register table, and the
    rolling 28-day estimates — read from the SKETCH table, never the raw
    events — equal the one-shot batch rolling_28d_users_hll EXACTLY
    (pinned across a 3-batch replay in tests/test_streaming.py).
    Rows-only (sketch); the exact anchor is rolling_28d_users_exact's
    driver row."""
    return _stream_fold_query(spark, sf_dir, "events", SK.HLL, SK.read_hll_rolling)


@register("stream_kmv_overlap")
def q_stream_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming bottom-K sketch-at-ingest end-to-end: per-microbatch
    union-truncate folds into a persisted per-type sketch table, and the
    overlap estimates read from it equal the one-shot batch
    kmv_event_user_overlap EXACTLY (pinned across a multi-batch replay in
    tests/test_streaming.py). Rows-only (sketch); the exact anchor is
    event_user_overlap's driver row."""
    return _stream_fold_query(spark, sf_dir, "events", SK.KMV, SK.read_kmv_overlap)


# --------------------------------------------------------------------------
# round 13: the binomial/effect-size/robust-center stats members
# (plans/stats.py)
# --------------------------------------------------------------------------


@register("wilson_ci_return_rate", oracle=STT.WILSON_CI_RETURN_RATE_ORACLE)
def q_wilson_ci_return_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation Wilson 95% CI on the return rate (plans/stats.py):
    one conditional hash aggregate to (n, r) per nation; the interval
    chain is the same expression tree both engines, 6dp-rounded
    (sqrt-based continuous — the tie-safe class)."""
    return STT.wilson_ci_return_rate(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
    )


@register("cohens_d_returned_price", oracle=STT.COHENS_D_RETURNED_PRICE_ORACLE)
def q_cohens_d_returned_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d effect size, returned vs kept prices (plans/stats.py):
    the welch_price_ttest sufficient-statistics pass with the pooled-SD
    closing chain — bit-exact, single scan."""
    return STT.cohens_d_returned_price(load_table(spark, sf_dir, "lineitem"))


@register(
    "median_order_value_by_nation",
    oracle=STT.MEDIAN_ORDER_VALUE_BY_NATION_ORACLE,
)
def q_median_order_value_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation lower-median order value (plans/stats.py): grouped
    element selection over (nation, cent) cells with nation-partitioned
    cumulative windows — no global sort, median SELECTED not
    interpolated (the theil_sen discipline)."""
    return STT.median_order_value_by_nation(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
    )


@register("winsorized_mean_price", oracle=STT.WINSORIZED_MEAN_PRICE_ORACLE)
def q_winsorized_mean_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5/95-winsorized mean price (plans/stats.py): both cut elements
    selected from the bucketed cent-domain cumulative (ks discipline),
    exact integer cut-rank arithmetic, clamped sum as exact decimal,
    one closing division."""
    return STT.winsorized_mean_price(load_table(spark, sf_dir, "lineitem"))


@register("geomean_price_by_brand", oracle=STT.GEOMEAN_PRICE_BY_BRAND_ORACLE)
def q_geomean_price_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand geometric mean price (plans/stats.py): broadcast part
    dimension, (brand, cent)-cell collapse, canonical-order log fold
    (the entropy discipline), 6dp-rounded exp."""
    return STT.geomean_price_by_brand(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
    )


@register("iqr_price_fences", oracle=STT.IQR_PRICE_FENCES_ORACLE)
def q_iqr_price_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey boxplot census of prices (plans/stats.py): element-selected
    quartiles from the bucketed cent-domain cumulative, doubled-unit
    integer fence comparisons — exact counts, grid values."""
    return STT.iqr_price_fences(load_table(spark, sf_dir, "lineitem"))


@register("ddsketch_event_quantiles")
def q_ddsketch_event_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDSketch relative-error quantiles of the event value
    (plans/approx.py): log-domain bucket counts (one mergeable hash
    aggregate), cumulative selection over the ≤ ~800-row bucket frame,
    midpoint estimator within DD_ALPHA of the exact element at every
    requested rank. Rows-only (sketch); error envelope + merge
    bit-identity pinned in tests/test_approx.py; the exact element
    machinery holding driver rows is winsorized_mean_price /
    iqr_price_fences (same cent-cell selection discipline)."""
    return AX.ddsketch_event_quantiles(load_table(spark, sf_dir, "events"))


@register("stream_ddsketch_quantiles")
def q_stream_ddsketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming DDSketch-at-ingest end-to-end: an availableNow drain
    folds each micro-batch's bucket counts into a persisted sketch table,
    and the quantiles read from it equal the one-shot batch
    ddsketch_event_quantiles EXACTLY (pinned across a multi-batch replay
    in tests/test_streaming.py). Rows-only (sketch)."""
    return _stream_fold_query(spark, sf_dir, "events", SK.DD, SK.read_dd_quantiles)


@register("stream_ddsketch_by_type")
def q_stream_ddsketch_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED streaming DDSketch-at-ingest end-to-end: (event_type, idx)
    bucket counts fold into a persisted grouped sketch table, and the
    per-type quantiles read from it equal the one-shot batch
    ddsketch_quantiles_by_type EXACTLY (pinned across a multi-batch
    replay in tests/test_streaming.py). Rows-only (sketch)."""
    return _stream_fold_query(
        spark, sf_dir, "events", SK.DD_BY_TYPE, SK.read_dd_quantiles_by_type
    )


@register(
    "event_value_quartiles_by_type",
    oracle=AX.EVENT_VALUE_QUARTILES_BY_TYPE_ORACLE,
)
def q_event_value_quartiles_by_type(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT per-event-type value quartiles (plans/approx.py) — the
    oracle-anchored exact twin of the grouped DDSketch, over the
    sketch's own positive-cents population and ceil-rank convention:
    one (type, cent)-cell collapse, iqr_price_fences-style bucketed
    cumulative selection with the group key added. Exact BIGINT ranks,
    grid values."""
    return AX.event_value_quartiles_by_type(load_table(spark, sf_dir, "events"))


@register("ddsketch_quantiles_by_type")
def q_ddsketch_quantiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type DDSketch quantiles (plans/approx.py): the grouped
    sketch build is ONE hash aggregate keyed (event_type, idx);
    selection windows run over each group's ≤ ~800-row log-bucket
    frame. Rows-only (sketch); per-group error envelope vs the exact
    per-group element pinned in tests/test_approx.py; the exact twin
    holding a driver row is event_value_quartiles_by_type (same
    population, same rank convention)."""
    return AX.ddsketch_quantiles_by_type(load_table(spark, sf_dir, "events"))


@register("ddsketch_merge_proof")
def q_ddsketch_merge_proof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-merge proof (plans/approx.py): per-type sketches merged
    by per-idx count addition must reproduce an INDEPENDENTLY built
    global sketch bit-identically — the KMV-twin move for the quantile
    member, proving the 100 TB deployment shape (per-partition builds
    folded by addition). Rows-only; every merge_matches_onebuild flag
    must be true (also pinned in tests/test_approx.py)."""
    return AX.ddsketch_merge_proof(load_table(spark, sf_dir, "events"))


@register("hll_merge_proof")
def q_hll_merge_proof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL merge proof (plans/approx.py, VERDICT r14 #3): per-event-type
    register sketches max-merged must reproduce an INDEPENDENTLY built
    global sketch's registers AND estimate bit-identically — register
    max-merge is idempotent (replay-safe without a fence), the contrast
    to the DD fold's additive merge. Rows-only; one row whose
    merge_matches_onebuild flag must be true (pinned in
    tests/test_approx.py; estimate enveloped vs exact COUNT(DISTINCT)
    in differential.py)."""
    return AX.hll_merge_proof(load_table(spark, sf_dir, "events"))


@register("kmv_merge_proof")
def q_kmv_merge_proof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV merge proof (plans/approx.py, VERDICT r14 #3): per-event-type
    bottom-K sketches union-truncate-merged must reproduce an
    INDEPENDENTLY built global bottom-K bit-identically (the
    order-statistics pigeonhole: every global bottom-K hash is in its
    type's bottom-K). Rows-only; one row whose merge_matches_onebuild
    flag must be true (pinned in tests/test_approx.py; estimate
    enveloped vs exact COUNT(DISTINCT) in differential.py)."""
    return AX.kmv_merge_proof(load_table(spark, sf_dir, "events"))


@register("cms_merge_proof")
def q_cms_merge_proof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS merge proof (plans/approx.py, r15): per-source count-min cell
    tables summed per (d, pos) must reproduce an INDEPENDENTLY built
    global sketch cell-for-cell (additive merge, the DD law for the
    frequency member). Rows-only; one row whose merge_matches_onebuild
    flag must be true, and whose total_count carries the exact identity
    depth × corpus token count (checked vs DuckDB in differential.py;
    pinned in tests/test_approx.py)."""
    return AX.cms_merge_proof(load_table(spark, sf_dir, "documents"))


@register("bloom_merge_proof")
def q_bloom_merge_proof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom merge proof (plans/bloom.py, r15): per-event-type Bloom
    word tables OR-merged must reproduce an INDEPENDENTLY built global
    filter word-for-word (bit_or is idempotent — replay-safe like
    HLL/KMV, unlike the additive DD/CMS folds). Completes the
    mergeable-sketch family's end-to-end merge proofs: DD additive,
    HLL max, KMV union-truncate, CMS additive, Bloom OR. Rows-only;
    one row whose merge_matches_onebuild flag must be true (pinned in
    tests/test_approx.py; popcount occupancy enveloped vs exact
    COUNT(DISTINCT) in differential.py)."""
    return B.bloom_merge_proof(load_table(spark, sf_dir, "events"))
