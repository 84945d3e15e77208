"""Query registry: every implemented operator as a named (spark, sf_dir) →
DataFrame callable, with a DuckDB oracle SQL string where the semantics are
ANSI-SQL-expressible (SURVEY.md §5 oracle discipline; driver contract in
__spark_entry__.py).

A query that only runs a plan function over fixture tables is one line,
``register(name, oracle)(over(plan, "table", ...))``; a query that does
more (a streaming drain, a derived artifact, literal arguments, a
projection) is a decorated function.

Column-name discipline: every computed column is aliased identically in the
Spark plan and the oracle SQL — the driver sorts columns by name before
value-hashing, so names must line up exactly.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Tokenizer regex shared verbatim by Spark (Java regex) and DuckDB (RE2):
# both support the Unicode letter class \p{L}. Imported, not re-declared:
# the Spark-side plans tokenize via this same constant, so an edit to the
# token class can never silently desynchronize the reference-parity
# oracles from the plans.
from .functions.tokenize import TOKEN_SPLIT_REGEX as _TOK
from .operators import decontam as DC
from .operators import dedup as D
from .operators import graph as GR
from .operators import lm as LM
from .operators import multimodal as MM
from .operators import pipeline as P
from .operators import ranking as RK
from .operators import similarity as S
from .operators import textclean as TC
from .operators import textstats as T
from .operators import udtf_ops as U
from .operators import urls as UR
from .operators import vectors as VC
from .operators import vocab as VB
from .operators.mapreduce import II_JOB, WC_JOB, run_mapreduce
from .operators.skew import salted_collect_set
from .operators.wordcount import inverted_index, word_count
from .plans import approx as AX
from .plans import behavior as BH
from .plans import bloom as B
from .plans import ivm as IV
from .plans import merge as MG
from .plans import profile as PF
from .plans import relational as R
from .plans import relational_ext as RX
from .plans import retail as RT
from .plans import robust as RB
from .plans import sql_surface as SQ
from .plans import stats as STT
from .plans import tpch_more as TM
from .sinks import bucketed as BK
from .sinks import manifest as MF
from .sinks import partitioned as PT
from .sources import formats as FM
from .sources import pydatasource as PDS
from .sources.tables import load_table
from .sources.text import read_documents_as_corpus
from .streaming import dedup as SD
from .streaming import joins as SJ
from .streaming import sinks as SK
from .streaming import stateful as ST
from .streaming import windows as W

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


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
    once as a 4-file dir (content-addressed) and drained two files per
    micro-batch: every drain folds more than one batch. Each call folds
    into its own per-process scratch dir, removed at exit: the returned
    frame is lazy over that dir, so a later call must not wipe it (ADVICE
    r12), and the pid keeps concurrent processes apart."""
    from .sources.artifacts import fixture_artifact, scratch_dir
    from .sources.tables import stream_events, stream_parquet

    src = fixture_artifact(
        f"stream_{table}", sf_dir, table, "stream-src-v1",
        build=lambda out: load_table(spark, sf_dir, table)
        .repartition(4)
        .write.mode("overwrite")
        .parquet(out),
    )
    work = scratch_dir(f"fold_q_{table}")
    stream = (stream_events if table == "events" else stream_parquet)(
        spark, src, max_files_per_trigger=2
    )
    SK.write_stream_fold(prep(stream), f"{work}/state", f"{work}/ckpt", family)
    return read(spark, f"{work}/state")


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Add ``fn`` as query ``name``, with its DuckDB ``oracle`` SQL if any.
    A name registered twice raises ``ValueError`` and keeps the first."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _QUERIES:
            raise ValueError(f"query {name!r} is already registered")
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def over(plan: Callable[..., DataFrame], *tables: str) -> QueryFn:
    """The query that runs ``plan`` over the fixture ``tables``, in order.
    ``load_table`` is looked up in this module on every call, so a wrapper
    bound to that name later (the perfbench tracer) sees every load."""

    def query(spark: SparkSession, sf_dir: str) -> DataFrame:
        return plan(*(load_table(spark, sf_dir, t) for t in tables))

    return query


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


register("q1_pricing_summary", R.Q1_ORACLE)(over(R.q1_pricing_summary, "lineitem"))
register("q3_shipping_priority", R.Q3_ORACLE)(
    over(R.q3_shipping_priority, "customer", "orders", "lineitem")
)
register("q5_revenue_by_nation", R.Q5_ORACLE)(
    over(
        R.q5_revenue_by_nation,
        "customer", "orders", "lineitem", "supplier", "nation", "region",
    )
)
register("monthly_order_stats", R.MONTHLY_ORACLE)(over(R.monthly_order_stats, "orders"))
register("brand_stats_having", R.BRAND_HAVING_ORACLE)(
    over(R.brand_stats_having, "part")
)
register("top_customers_per_nation", R.TOP_CUSTOMERS_ORACLE)(
    over(R.top_customers_per_nation, "customer", "orders", "nation")
)
register("order_priority_pivot", R.PIVOT_ORACLE)(over(R.order_priority_pivot, "orders"))
register("customer_set_ops", R.SET_OPS_ORACLE)(
    over(R.customer_set_ops, "customer", "orders")
)
register("top_parts_by_revenue", R.TOP_PARTS_ORACLE)(
    over(R.top_parts_by_revenue, "lineitem", "part")
)
register("sessionize_events", R.SESSIONIZE_ORACLE)(over(R.sessionize_events, "events"))
register("events_json_stats", R.EVENTS_JSON_ORACLE)(over(R.events_json_stats, "events"))
register("purchase_asof_last_click", R.ASOF_ORACLE)(
    over(R.purchase_asof_last_click, "events")
)


# --------------------------------------------------------------------------
# Relational extension (plans/relational_ext.py): rollup/cube, semi/anti,
# percentiles, window frames, EXISTS, array + date functions.
# --------------------------------------------------------------------------


register("rollup_lineitem_flags", RX.ROLLUP_ORACLE)(
    over(RX.rollup_lineitem_flags, "lineitem")
)
register("cube_order_status_priority", RX.CUBE_ORACLE)(
    over(RX.cube_order_status_priority, "orders")
)
register("supplier_activity", RX.SUPPLIER_ACTIVITY_ORACLE)(
    over(RX.supplier_activity, "supplier", "lineitem")
)
register("order_price_quantiles", RX.QUANTILES_ORACLE)(
    over(RX.order_price_quantiles, "orders")
)
register("daily_revenue_moving_avg", RX.MOVING_AVG_ORACLE)(
    over(RX.daily_revenue_moving_avg, "lineitem")
)
register("priorities_with_big_items", RX.EXISTS_ORACLE)(
    over(RX.priorities_with_big_items, "orders", "lineitem")
)
register("brand_type_vocabulary", RX.BRAND_VOCAB_ORACLE)(
    over(RX.brand_type_vocabulary, "part")
)
register("weekday_order_stats", RX.WEEKDAY_ORACLE)(
    over(RX.weekday_order_stats, "orders")
)
register("returned_item_revenue", RX.Q10_ORACLE)(
    over(RX.returned_item_revenue, "customer", "orders", "lineitem", "nation")
)
register("parts_above_brand_avg", RX.ABOVE_AVG_ORACLE)(
    over(RX.parts_above_brand_avg, "part")
)
register("customer_order_gaps", RX.ORDER_GAPS_ORACLE)(
    over(RX.customer_order_gaps, "orders")
)
register("promo_revenue_by_month", RX.PROMO_REVENUE_ORACLE)(
    over(RX.promo_revenue_by_month, "lineitem", "part")
)
register("supplier_part_variety", RX.SUPPLIER_VARIETY_ORACLE)(
    over(RX.supplier_part_variety, "lineitem", "part", "supplier")
)
register("large_quantity_orders", RX.LARGE_ORDERS_ORACLE)(
    over(RX.large_quantity_orders, "customer", "orders", "lineitem")
)
register("disjunctive_brand_revenue", RX.DISJUNCTIVE_ORACLE)(
    over(RX.disjunctive_brand_revenue, "lineitem", "part")
)
register("order_value_deciles", RX.DECILES_ORACLE)(
    over(RX.order_value_deciles, "orders")
)
register("latest_event_per_user", RX.LATEST_EVENT_ORACLE)(
    over(RX.latest_event_per_user, "events")
)
register("hourly_event_gapfill", RX.GAPFILL_ORACLE)(
    over(RX.hourly_event_gapfill, "events")
)
register("event_gap_detection", RX.EVENT_GAP_ORACLE)(
    over(RX.event_gap_detection, "events")
)
register("value_outliers", RX.VALUE_OUTLIERS_ORACLE)(over(RX.value_outliers, "events"))
register("bloom_pruned_join", B.BLOOM_PRUNED_JOIN_ORACLE)(
    over(B.bloom_pruned_join, "orders", "lineitem")
)
register("funnel_conversion", BH.FUNNEL_CONVERSION_ORACLE)(
    over(BH.funnel_conversion, "events")
)
register("cohort_retention", BH.COHORT_RETENTION_ORACLE)(
    over(BH.cohort_retention, "events")
)
register("time_weighted_value", BH.TIME_WEIGHTED_VALUE_ORACLE)(
    over(BH.time_weighted_value, "events")
)
register("subtree_rollup", RX.SUBTREE_ROLLUP_ORACLE)(
    over(RX.subtree_rollup, "documents")
)
register("top_event_paths", BH.TOP_EVENT_PATHS_ORACLE)(
    over(BH.top_event_paths, "events")
)
register("merge_upsert_orders", MG.MERGE_UPSERT_ORDERS_ORACLE)(
    over(MG.merge_upsert_orders, "orders")
)


@register("partitioned_pruned_daily", oracle=PT.PARTITIONED_DAILY_ACTIVITY_ORACLE)
def q_partitioned_pruned_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-day activity read partition-pruned from a date-partitioned
    copy of events (sinks/partitioned.py): the literal date predicate
    resolves against directory names at plan time, so the scan lists a
    single partition directory; the oracle aggregates the flat table."""
    return PT.partitioned_daily_activity(spark, sf_dir)


@register("bucketed_colocated_join", oracle=BK.BUCKETED_REVENUE_ORACLE)
def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return BK.bucketed_revenue_by_priority(spark, sf_dir)


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


register("waiting_suppliers", RX.WAITING_SUPPLIERS_ORACLE)(
    over(RX.waiting_suppliers, "supplier", "lineitem", "orders", "nation")
)
register("idle_customers_opportunity", RX.IDLE_CUSTOMERS_ORACLE)(
    over(RX.idle_customers_opportunity, "customer", "orders")
)


# --------------------------------------------------------------------------
# SQL front-end surface (plans/sql_surface.py): the SQL text runs verbatim
# on Spark AND serves as its own DuckDB oracle — one text, two engines.
# --------------------------------------------------------------------------


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
register("approx_user_counts")(over(AX.approx_user_counts, "events"))
register("cms_heavy_hitters", AX.CMS_HEAVY_HITTERS_ORACLE)(
    over(AX.cms_heavy_hitters, "documents")
)
register("cms_heavy_hitters_by_source", AX.CMS_HEAVY_HITTERS_BY_SOURCE_ORACLE)(
    over(AX.cms_heavy_hitters_by_source, "documents")
)


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


register("bitmap_distinct_users", AX.BITMAP_DISTINCT_ORACLE)(
    over(AX.bitmap_distinct_users, "events")
)
register("approx_price_quantiles")(over(AX.approx_price_quantiles, "orders"))


# Skew path end-to-end: salted two-phase collect_set on a maximally skewed
# key (5 event types over the whole table), oracle-checked for equality
# with the direct aggregation.
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


register("dedup_exact", D.DEDUP_EXACT_ORACLE)(over(D.dedup_exact, "documents"))
register("incremental_dedup_bloom", D.INCREMENTAL_DEDUP_ORACLE)(
    over(D.incremental_dedup, "documents")
)
register("shared_span_pairs", D.SHARED_SPAN_PAIRS_ORACLE)(
    over(D.shared_span_pairs, "documents")
)


@register("dedup_ngram_jaccard", oracle=D.NGRAM_JACCARD_ORACLE)
def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Registered with the hot-shingle df-cut ON (the scale path — a shingle
    # shared by d docs emits d² join rows without it); the oracle applies
    # the identical cut, so the comparison stays exact given the cut.
    return D.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"),
        max_shingle_df=D.DEFAULT_MAX_SHINGLE_DF,
    )


register("dedup_minhash_lsh")(over(D.minhash_lsh_pairs, "documents"))
register("dedup_simhash")(over(D.simhash_pairs, "documents"))
register("dedup_embedding_cosine", D.EMBEDDING_NEAR_DUP_ORACLE)(
    over(D.embedding_near_dup_pairs, "embeddings")
)
register("dedup_embedding_ivf")(over(D.embedding_near_dup_pairs_ivf, "embeddings"))
register("knn_bruteforce", S.KNN_BRUTEFORCE_ORACLE)(
    over(S.knn_bruteforce, "embeddings")
)
register("knn_lsh")(over(S.knn_lsh, "embeddings"))


@register("knn_ivf_persisted")
def q_knn_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.knn_ivf_persisted(spark, sf_dir)


register("knn_ivf")(over(S.knn_ivf, "embeddings"))


@register("knn_ivf_pq_persisted")
def q_knn_ivf_pq_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search over the PERSISTED code index (operators/
    similarity.py): bucket-pruned scan of probed lists' m-byte code rows,
    ADC on codes, bounded exact rerank against the source table — the
    100 TB serving shape. Bit-identical to knn_ivf_pq's rebuild path
    (pinned in pytest); rows-only driver check."""
    return S.knn_ivf_pq_persisted(spark, sf_dir)


register("knn_ivf_pq")(over(S.knn_ivf_pq, "embeddings"))
register("dedup_clusters", D.NEAR_DUP_CLUSTERS_ORACLE)(
    over(D.near_dup_clusters, "documents")
)
register("train_val_test_split", P.TRAIN_VAL_TEST_ORACLE)(
    over(P.train_val_test_split, "documents")
)
register("chunk_documents", P.CHUNK_DOCUMENTS_ORACLE)(
    over(P.chunk_documents, "documents")
)
register("corpus_curation", P.CORPUS_CURATION_ORACLE)(
    over(P.corpus_curation, "documents")
)
register("stratified_sample", P.STRATIFIED_SAMPLE_ORACLE)(
    over(P.stratified_sample, "documents")
)
register("language_rebalance", P.LANGUAGE_REBALANCE_ORACLE)(
    over(P.language_rebalance, "documents")
)
register("sentence_stats", U.SENTENCE_STATS_ORACLE)(over(U.sentence_stats, "documents"))
register("text_quality", T.TEXT_QUALITY_ORACLE)(over(T.text_quality, "documents"))
register("language_id", T.LANGUAGE_ID_ORACLE)(over(T.language_id, "documents"))
register("token_stats", T.TOKEN_STATS_ORACLE)(over(T.token_stats, "documents"))
register("tfidf_top_terms", RK.TFIDF_TOP_TERMS_ORACLE)(
    over(RK.tfidf_top_terms, "documents")
)
register("positional_index", RK.POSITIONAL_INDEX_ORACLE)(
    over(RK.positional_index, "documents")
)
register("bm25_top_terms", RK.BM25_TOP_TERMS_ORACLE)(
    over(RK.bm25_top_terms, "documents")
)
register("phrase_search", RK.PHRASE_SEARCH_ORACLE)(over(RK.phrase_search, "documents"))
register("pii_scrub", TC.PII_SCRUB_ORACLE)(over(TC.pii_scrub, "documents"))
register("repetition_stats", TC.REPETITION_STATS_ORACLE)(
    over(TC.repetition_stats, "documents")
)


@register("doc_fingerprint")
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.doc_fingerprint(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "n_fingerprints", "min_fingerprint"
    )


register("benchmark_contamination", DC.BENCHMARK_CONTAMINATION_ORACLE)(
    over(DC.benchmark_contamination, "documents")
)
register("corpus_card", VB.CORPUS_CARD_ORACLE)(over(VB.corpus_card, "documents"))
register("bpe_pair_counts", VB.BPE_PAIR_COUNTS_ORACLE)(
    over(VB.bpe_pair_counts, "documents")
)
register("event_transition_matrix", BH.EVENT_TRANSITION_ORACLE)(
    over(BH.event_transition_matrix, "events")
)
register("rfm_segmentation", RT.RFM_SEGMENTATION_ORACLE)(
    over(RT.rfm_segmentation, "orders")
)
register("market_basket_pairs", RT.MARKET_BASKET_ORACLE)(
    over(RT.market_basket_pairs, "lineitem")
)
register("open_orders_by_month", RT.OPEN_ORDERS_BY_MONTH_ORACLE)(
    over(RT.open_orders_by_month, "orders", "lineitem")
)
register("weighted_median_price", RT.WEIGHTED_MEDIAN_ORACLE)(
    over(RT.weighted_median_price, "lineitem")
)
register("sequence_packing", VB.SEQUENCE_PACKING_ORACLE)(
    over(VB.sequence_packing, "documents")
)
register("trigram_topk", VB.TRIGRAM_TOPK_ORACLE)(over(VB.trigram_topk, "documents"))
register("rolling_7d_active_users", BH.ROLLING_ACTIVE_USERS_ORACLE)(
    over(BH.rolling_active_users, "events")
)
register("orders_yoy_growth", RT.ORDERS_YOY_GROWTH_ORACLE)(
    over(RT.orders_yoy_growth, "orders")
)
register("table_profile", PF.TABLE_PROFILE_ORACLE)(over(PF.table_profile, "lineitem"))
register("data_quality_checks", PF.DATA_QUALITY_CHECKS_ORACLE)(
    over(PF.data_quality_checks, "orders", "lineitem", "events")
)
register("numeric_histogram", PF.NUMERIC_HISTOGRAM_ORACLE)(
    over(PF.numeric_histogram, "lineitem")
)
register("user_state_islands", BH.USER_STATE_ISLANDS_ORACLE)(
    over(BH.user_state_islands, "events")
)
register("source_vocab_overlap", VB.SOURCE_VOCAB_OVERLAP_ORACLE)(
    over(VB.source_vocab_overlap, "documents")
)
register("daily_revenue_anomalies", RX.DAILY_REVENUE_ANOMALIES_ORACLE)(
    over(RX.daily_revenue_anomalies, "orders")
)
register("pagerank_copurchase")(over(GR.pagerank_copurchase, "lineitem"))
register("label_centroid_cosine", VC.LABEL_CENTROID_COSINE_ORACLE)(
    over(VC.label_centroid_cosine, "embeddings")
)
register("embedding_pca")(over(VC.embedding_pca, "embeddings"))
register("kmeans_clusters")(over(VC.kmeans_clusters, "embeddings"))


# --------------------------------------------------------------------------
# Multimodal surface (operators/multimodal.py) — binary media columns with
# decode/feature/resize/frame-sample via mapInPandas. Blob synthesis is
# numpy-seeded (not SQL-expressible) → rows-only driver checks; values are
# pinned against numpy ground truth in tests/test_multimodal.py.
# --------------------------------------------------------------------------


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


register("tumbling_event_counts", W.TUMBLING_ORACLE)(
    over(W.tumbling_event_counts, "events")
)
register("sliding_event_stats", W.SLIDING_ORACLE)(over(W.sliding_event_stats, "events"))
register("session_window_stats", W.SESSION_ORACLE)(
    over(W.session_window_stats, "events")
)
register("user_event_totals", ST.USER_TOTALS_ORACLE)(
    over(ST.user_event_totals, "events")
)
register("click_purchase_attribution", SJ.ATTRIBUTION_ORACLE)(
    over(SJ.click_purchase_attribution, "events")
)
register("stream_static_enrichment", SJ.STREAM_STATIC_ENRICHMENT_ORACLE)(
    over(SJ.stream_static_enrichment, "events", "customer", "nation")
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
register("url_domain_stats", UR.URL_DOMAIN_STATS_ORACLE)(
    over(UR.url_domain_stats, "documents")
)
register("source_mix_weights", VB.SOURCE_MIX_WEIGHTS_ORACLE)(
    over(VB.source_mix_weights, "documents")
)
register("trigram_novelty", VB.TRIGRAM_NOVELTY_ORACLE)(
    over(VB.trigram_novelty, "documents")
)
register("views_before_purchase", BH.VIEWS_BEFORE_PURCHASE_ORACLE)(
    over(BH.views_before_purchase, "events")
)
register("supplier_balance_percentiles", RX.BALANCE_PERCENTILES_ORACLE)(
    over(RX.supplier_balance_percentiles, "supplier")
)
register("monthly_metrics_unpivot", RX.MONTHLY_UNPIVOT_ORACLE)(
    over(RX.monthly_metrics_unpivot, "orders")
)
register("mad_outliers", PF.MAD_OUTLIERS_ORACLE)(over(PF.mad_outliers, "events"))
register("customer_ltv_pareto", RT.CUSTOMER_LTV_PARETO_ORACLE)(
    over(RT.customer_ltv_pareto, "orders")
)
register("prefix_duplicates", D.PREFIX_DUPLICATES_ORACLE)(
    over(D.prefix_duplicates, "documents")
)
register("nation_trade_flows", RX.NATION_TRADE_FLOWS_ORACLE)(
    over(RX.nation_trade_flows, "lineitem", "orders", "customer", "supplier", "nation")
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


register("language_confusion", T.LANGUAGE_CONFUSION_ORACLE)(
    over(T.language_confusion, "documents")
)
register("copurchase_jaccard", GR.COPURCHASE_JACCARD_ORACLE)(
    over(GR.copurchase_jaccard, "lineitem")
)
register("source_quality_gates", TC.SOURCE_QUALITY_GATES_ORACLE)(
    over(TC.source_quality_gates, "documents")
)


# --------------------------------------------------------------------------
# Round-8 batch 6: remaining TPC-H classics, graph triangle/degree, ER
# fuzzy match, sweep-line concurrency, weighted systematic sampling
# --------------------------------------------------------------------------


register("q4_order_priority", TM.Q4_ORACLE)(
    over(TM.q4_order_priority, "orders", "lineitem")
)
register("q13_custdist", TM.Q13_ORACLE)(
    over(TM.q13_customer_distribution, "customer", "orders")
)
register("q17_small_qty_revenue", TM.Q17_ORACLE)(
    over(TM.q17_small_quantity_revenue, "lineitem", "part")
)
register("q8_market_share", TM.Q8_ORACLE)(
    over(
        TM.q8_market_share,
        "lineitem", "orders", "customer", "supplier", "nation", "region",
    )
)
register("fuzzy_part_match", TM.FUZZY_PART_ORACLE)(over(TM.fuzzy_part_match, "part"))
register("max_concurrent_sessions", TM.MAX_CONCURRENT_ORACLE)(
    over(TM.max_concurrent_sessions, "events")
)
register("degree_distribution", GR.DEGREE_DISTRIBUTION_ORACLE)(
    over(GR.degree_distribution, "lineitem")
)
register("triangle_count", GR.TRIANGLE_COUNT_ORACLE)(
    over(GR.triangle_count, "lineitem")
)
register("weighted_token_sample", P.WEIGHTED_SYSTEMATIC_SAMPLE_ORACLE)(
    over(P.weighted_systematic_sample, "documents")
)


# --------------------------------------------------------------------------
# Round-8 batch 7: LM-based curation, iterative graph/BPE, robust stats,
# provenance matrix
# --------------------------------------------------------------------------


register("bigram_perplexity", LM.BIGRAM_PERPLEXITY_ORACLE)(
    over(LM.bigram_perplexity_by_source, "documents")
)
register("bpe_train_merges")(over(LM.bpe_train_merges, "documents"))
register("bpe_encode_stats")(over(LM.bpe_encode_stats, "documents"))
register("bfs_distances", GR.BFS_DISTANCES_ORACLE)(over(GR.bfs_distances, "lineitem"))
register("trimmed_mean_price", RB.TRIMMED_MEAN_ORACLE)(
    over(RB.trimmed_mean_price, "part")
)
register("source_gini", RB.SOURCE_GINI_ORACLE)(over(RB.source_gini, "documents"))
register("cross_source_span_matrix", D.CROSS_SOURCE_SPAN_ORACLE)(
    over(D.cross_source_span_matrix, "documents")
)


# --------------------------------------------------------------------------
# Round-8 batch 8: format breadth, schema evolution, association rules,
# incremental view maintenance, table reconciliation
# --------------------------------------------------------------------------


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


register("association_rules", RT.ASSOCIATION_RULES_ORACLE)(
    over(RT.association_rules, "lineitem")
)


@register("incremental_agg_merge", oracle=IV.INCREMENTAL_AGG_ORACLE)
def q_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance (plans/ivm.py): persisted base
    state + delta-only aggregation + full-outer combine, proven equal
    to the full recompute in exact integer cents."""
    return IV.incremental_agg_merge(spark, sf_dir)


register("table_diff", IV.TABLE_DIFF_ORACLE)(over(IV.table_diff, "orders"))


# --------------------------------------------------------------------------
# Round-8 batch 9: skyline, nucleus coverage cut, RANGE-frame window
# --------------------------------------------------------------------------


register("pareto_frontier_parts", RB.PARETO_FRONTIER_ORACLE)(
    over(RB.pareto_frontier_parts, "part")
)
register("nucleus_token_cut", RB.NUCLEUS_CUT_ORACLE)(
    over(RB.nucleus_token_cut, "documents")
)
register("trailing_30d_revenue", RX.TRAILING_30D_ORACLE)(
    over(RX.trailing_30d_revenue, "orders")
)


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


register("q6_forecast_revenue", TM.Q6_ORACLE)(over(TM.q6_forecast_revenue, "lineitem"))
register("q7_volume_shipping", TM.Q7_ORACLE)(
    over(TM.q7_volume_shipping, "supplier", "lineitem", "orders", "customer", "nation")
)
register("q9_product_type_profit", TM.Q9_ORACLE)(
    over(TM.q9_product_type_profit, "lineitem", "orders", "part", "supplier", "nation")
)
register("q2_min_cost_supplier", TM.Q2_ORACLE)(
    over(TM.q2_min_cost_supplier, "part", "supplier", "nation", "region")
)
register("q11_important_stock", TM.Q11_ORACLE)(
    over(TM.q11_important_stock, "part", "supplier", "nation")
)
register("q20_potential_promotion", TM.Q20_ORACLE)(
    over(TM.q20_potential_promotion, "part", "supplier", "nation", "lineitem")
)
register("q16_supplier_part_counts", TM.Q16_ORACLE)(
    over(TM.q16_supplier_part_counts, "part", "supplier")
)
register("q21_waiting_suppliers", TM.Q21_ORACLE)(
    over(TM.q21_waiting_suppliers, "supplier", "lineitem", "orders", "nation")
)
register("q22_global_sales_opportunity", TM.Q22_ORACLE)(
    over(TM.q22_global_sales_opportunity, "customer", "orders")
)
register("q12_shipmode_priority", TM.Q12_ORACLE)(
    over(TM.q12_shipmode_priority, "orders", "lineitem")
)
register("q14_promo_effect", TM.Q14_ORACLE)(
    over(TM.q14_promo_effect, "lineitem", "part")
)
register("q15_top_supplier", TM.Q15_ORACLE)(
    over(TM.q15_top_supplier, "supplier", "lineitem")
)
register("q18_large_volume_customers", TM.Q18_ORACLE)(
    over(TM.q18_large_volume_customers, "customer", "orders", "lineitem")
)
register("q19_discounted_revenue", TM.Q19_ORACLE)(
    over(TM.q19_discounted_revenue, "lineitem", "part")
)
register("linear_attribution", BH.LINEAR_ATTRIBUTION_ORACLE)(
    over(BH.linear_attribution, "events")
)
register("repeat_purchase_intervals", BH.REPEAT_PURCHASE_ORACLE)(
    over(BH.repeat_purchase_intervals, "customer", "orders")
)
register("dedup_survivors", D.DEDUP_SURVIVORS_ORACLE)(
    over(D.dedup_survivors, "documents")
)
register("hard_negative_mining", S.HARD_NEGATIVE_ORACLE)(
    over(S.hard_negative_mining, "embeddings")
)
register("star_revenue_rollup", RX.STAR_REVENUE_ROLLUP_ORACLE)(
    over(RX.star_revenue_rollup, "lineitem", "orders", "customer", "nation")
)
register("purchases_by_browsing_state", BH.PURCHASES_BY_STATE_ORACLE)(
    over(BH.purchases_by_browsing_state, "events")
)
register("time_to_convert_stats", BH.TIME_TO_CONVERT_ORACLE)(
    over(BH.time_to_convert_stats, "events")
)
register("lang_fertility_stats", T.LANG_FERTILITY_ORACLE)(
    over(T.lang_fertility_stats, "documents")
)


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


register("kcore_members")(over(GR.kcore_members, "lineitem"))
register("props_variant_census", RX.PROPS_VARIANT_ORACLE)(
    over(RX.props_variant_census, "events")
)
register("weighted_p90_price", RT.WEIGHTED_P90_ORACLE)(
    over(RT.weighted_p90_price, "lineitem")
)


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


register("rolling_28d_users_hll")(over(AX.rolling_hll_active_users, "events"))


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


register("nation_revenue_trend", STT.NATION_REVENUE_TREND_ORACLE)(
    over(STT.nation_revenue_trend, "orders", "customer", "nation")
)
register("event_weekday_chi2", STT.EVENT_WEEKDAY_CHI2_ORACLE)(
    over(STT.event_weekday_chi2, "events")
)
register("brand_qty_price_corr", STT.BRAND_QTY_PRICE_CORR_ORACLE)(
    over(STT.brand_qty_price_corr, "lineitem", "part")
)
register("revenue_autocorrelation", STT.REVENUE_AUTOCORRELATION_ORACLE)(
    over(STT.revenue_autocorrelation, "orders")
)
register("ks_returned_price", STT.KS_RETURNED_PRICE_ORACLE)(
    over(STT.ks_returned_price, "lineitem")
)
register("event_type_entropy", STT.EVENT_TYPE_ENTROPY_ORACLE)(
    over(STT.event_type_entropy, "events")
)
register("benford_price_audit", STT.BENFORD_PRICE_AUDIT_ORACLE)(
    over(STT.benford_price_audit, "orders")
)
register("welch_price_ttest", STT.WELCH_PRICE_TTEST_ORACLE)(
    over(STT.welch_price_ttest, "lineitem")
)
register("mannwhitney_quantity", STT.MANNWHITNEY_QUANTITY_ORACLE)(
    over(STT.mannwhitney_quantity, "lineitem")
)
register("anova_price_by_priority", STT.ANOVA_PRICE_BY_PRIORITY_ORACLE)(
    over(STT.anova_price_by_priority, "orders")
)
register("event_weekday_mutual_info", STT.EVENT_WEEKDAY_MUTUAL_INFO_ORACLE)(
    over(STT.event_weekday_mutual_info, "events")
)
register("nation_trend_significance", STT.NATION_TREND_SIGNIFICANCE_ORACLE)(
    over(STT.nation_trend_significance, "orders", "customer", "nation")
)
register("weekday_seasonality_index", STT.WEEKDAY_SEASONALITY_INDEX_ORACLE)(
    over(STT.weekday_seasonality_index, "orders")
)
register("k_anonymity_census", PF.K_ANONYMITY_CENSUS_ORACLE)(
    over(PF.k_anonymity_census, "customer")
)
register("quantity_price_spearman", STT.QUANTITY_PRICE_SPEARMAN_ORACLE)(
    over(STT.quantity_price_spearman, "lineitem")
)
register("theil_sen_revenue_trend", STT.THEIL_SEN_REVENUE_TREND_ORACLE)(
    over(STT.theil_sen_revenue_trend, "orders")
)
register("kaplan_meier_repurchase", STT.KAPLAN_MEIER_REPURCHASE_ORACLE)(
    over(STT.kaplan_meier_repurchase, "orders")
)
register("event_user_overlap", AX.EVENT_USER_OVERLAP_ORACLE)(
    over(AX.event_user_overlap, "events")
)
register("kmv_event_user_overlap")(over(AX.kmv_event_user_overlap, "events"))


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


register("wilson_ci_return_rate", STT.WILSON_CI_RETURN_RATE_ORACLE)(
    over(STT.wilson_ci_return_rate, "lineitem", "orders", "customer", "nation")
)
register("cohens_d_returned_price", STT.COHENS_D_RETURNED_PRICE_ORACLE)(
    over(STT.cohens_d_returned_price, "lineitem")
)
register("median_order_value_by_nation", STT.MEDIAN_ORDER_VALUE_BY_NATION_ORACLE)(
    over(STT.median_order_value_by_nation, "orders", "customer", "nation")
)
register("winsorized_mean_price", STT.WINSORIZED_MEAN_PRICE_ORACLE)(
    over(STT.winsorized_mean_price, "lineitem")
)
register("geomean_price_by_brand", STT.GEOMEAN_PRICE_BY_BRAND_ORACLE)(
    over(STT.geomean_price_by_brand, "lineitem", "part")
)
register("iqr_price_fences", STT.IQR_PRICE_FENCES_ORACLE)(
    over(STT.iqr_price_fences, "lineitem")
)
register("ddsketch_event_quantiles")(over(AX.ddsketch_event_quantiles, "events"))


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


register("event_value_quartiles_by_type", AX.EVENT_VALUE_QUARTILES_BY_TYPE_ORACLE)(
    over(AX.event_value_quartiles_by_type, "events")
)
register("ddsketch_quantiles_by_type")(over(AX.ddsketch_quantiles_by_type, "events"))
register("ddsketch_merge_proof")(over(AX.ddsketch_merge_proof, "events"))
register("hll_merge_proof")(over(AX.hll_merge_proof, "events"))
register("kmv_merge_proof")(over(AX.kmv_merge_proof, "events"))
register("cms_merge_proof")(over(AX.cms_merge_proof, "documents"))
register("bloom_merge_proof")(over(B.bloom_merge_proof, "events"))
