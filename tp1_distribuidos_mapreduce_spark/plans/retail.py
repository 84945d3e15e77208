"""Retail/commerce analytics over orders + lineitem: RFM segmentation,
market-basket co-occurrence, interval (range-join) month overlap, and an
exact weighted median — four classic warehouse workloads the reference's
wc/ii surface cannot express, each with an exact DuckDB oracle.

Scale notes per operator are on the functions; the shared discipline:
every money aggregate runs on scaled-cent BIGINTs (sum order between
partial aggregates never changes an integer sum — the verify notes'
round(avg) flake class), and every top-k / quantile cut carries a full
deterministic tiebreak.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

RFM_QUANTILES = 5
BASKET_TOP_K = 25


def basket_items(lineitem: DataFrame) -> DataFrame:
    """(l_orderkey, l_partkey) once per order and part: the baskets the
    co-purchase counts start from (here and in operators/graph.py). One
    hash aggregate; consumers that count pairs and parts over the same
    frame share its exchange."""
    return lineitem.select("l_orderkey", "l_partkey").distinct()


def basket_pairs(items: DataFrame) -> DataFrame:
    """(a, b) for every two parts a < b that share an order in ``items``,
    any frame with (l_orderkey, l_partkey) columns: one row per pair per
    matching row pair, so a part repeated within an order repeats the
    pair (callers dedup or count over ``basket_items``).

    A self-join on the order key, not an in-row expansion of per-order
    part arrays: collect_set → sort_array → flatten(transform(slice))
    are higher-order functions that Spark evaluates interpreted, outside
    whole-stage codegen, while the equi-join, the ``a < b`` filter and
    the projection run as generated code. The key is compared null-safe,
    so the rows of a NULL order key form one basket as a groupBy makes
    them; a NULL part key never passes ``a < b``. SHUFFLE_HASH hint: both
    sides are the whole (order, part) table, which the size estimate
    lets the planner broadcast; the broadcast is built serially on the
    driver and cost more wall time than the expansion it replaced (sf0.1
    edge build, 4 vCPUs: 2.6 s broadcast, 1.8 s in-row, 1.1 s shuffled
    hash join). Fan-out per order is its size squared over two, bounded
    by TPC-H's 7 lineitems per order."""
    left = items.select(
        F.col("l_orderkey").alias("order_a"), F.col("l_partkey").alias("a")
    )
    right = items.select(
        F.col("l_orderkey").alias("order_b"), F.col("l_partkey").alias("b")
    ).hint("shuffle_hash")
    return left.join(
        right,
        F.col("order_a").eqNullSafe(F.col("order_b")) & (F.col("a") < F.col("b")),
    ).select("a", "b")


def basket_pair_counts(items: DataFrame) -> DataFrame:
    """(a, b, n_ab): for each part pair a < b, how many orders of
    ``items`` (basket_items rows) hold both."""
    return basket_pairs(items).groupBy("a", "b").agg(F.count("*").alias("n_ab"))


def mirrored(pairs: DataFrame, a: str, b: str, *carry: str) -> DataFrame:
    """Both orientations of every (a, b) row, as (a, b, *carry) rows: an
    in-row explode of the row and its swap, so each input row is read
    once (a union of the two projections reads the input once per
    branch)."""
    return pairs.select(
        F.explode(
            F.array(
                F.struct(F.col(a).alias(a), F.col(b).alias(b)),
                F.struct(F.col(b).alias(a), F.col(a).alias(b)),
            )
        ).alias("e"),
        *carry,
    ).select(f"e.{a}", f"e.{b}", *carry)


def basket_item_counts(items: DataFrame) -> DataFrame:
    """(part, n_part): how many orders of ``items`` (basket_items rows)
    hold each part."""
    return (
        items.where(F.col("l_partkey").isNotNull())
        .groupBy(F.col("l_partkey").alias("part"))
        .agg(F.count("*").alias("n_part"))
    )


def rfm_segmentation(orders: DataFrame) -> DataFrame:
    """RFM grid: customers quintiled by Recency (days since last order,
    vs the corpus max date), Frequency (order count), and Monetary
    (lifetime spend); output is the (r_quintile, f_quintile) segment
    matrix with customer counts and average spend.

    Shape: orders collapse to one row per customer (the only data-sized
    shuffle), then three ntile windows run over the CUSTOMER table —
    a global sort each, fine for |customers| << |orders|; at extreme
    customer cardinality you'd swap ntile for approx-percentile
    boundaries (plans/approx.py) at the cost of the exact oracle. The
    reference date is max(o_orderdate) via a window, not a collect, so
    the whole plan is one job. Ties order by custkey so quintile
    assignment is engine-deterministic; spend is summed in cent BIGINTs.
    """
    per_cust = (
        orders.select(
            "o_custkey",
            "o_orderdate",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count("*").alias("frequency"),
            F.sum("cents").alias("monetary_cents"),
        )
        .withColumn(
            "recency_days",
            F.datediff(
                F.to_date(F.max("last_order").over(Window.partitionBy())),
                F.to_date("last_order"),
            ),
        )
    )
    r_w = Window.orderBy(F.asc("recency_days"), F.asc("o_custkey"))
    f_w = Window.orderBy(F.desc("frequency"), F.asc("o_custkey"))
    scored = per_cust.select(
        "o_custkey",
        "monetary_cents",
        F.ntile(RFM_QUANTILES).over(r_w).alias("r_quintile"),
        F.ntile(RFM_QUANTILES).over(f_w).alias("f_quintile"),
    )
    return (
        scored.groupBy("r_quintile", "f_quintile")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("monetary_cents").alias("s"),
        )
        .select(
            "r_quintile",
            "f_quintile",
            "n_customers",
            # half-up integer division before the one exact /100.0:
            # round(sum/count) of cent values has 3rd-decimal ties that
            # split Spark's BigDecimal round from DuckDB's double round.
            (
                F.expr("(2 * s + n_customers) div (2 * n_customers)") / 100.0
            ).alias("avg_monetary"),
        )
        .orderBy("r_quintile", "f_quintile")
    )


RFM_SEGMENTATION_ORACLE = f"""
WITH per_cust AS (
  SELECT o_custkey,
         max(o_orderdate) AS last_order,
         count(*) AS frequency,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS monetary_cents
  FROM orders GROUP BY o_custkey
), with_recency AS (
  SELECT o_custkey, frequency, monetary_cents,
         date_diff('day', CAST(last_order AS DATE),
                   CAST(max(last_order) OVER () AS DATE)) AS recency_days
  FROM per_cust
), scored AS (
  SELECT o_custkey, monetary_cents,
         ntile({RFM_QUANTILES}) OVER (
           ORDER BY recency_days ASC, o_custkey ASC) AS r_quintile,
         ntile({RFM_QUANTILES}) OVER (
           ORDER BY frequency DESC, o_custkey ASC) AS f_quintile
  FROM with_recency
)
SELECT CAST(r_quintile AS INTEGER) AS r_quintile,
       CAST(f_quintile AS INTEGER) AS f_quintile,
       count(*) AS n_customers,
       ((2 * CAST(sum(monetary_cents) AS BIGINT) + count(*))
        // (2 * count(*))) / 100.0 AS avg_monetary
FROM scored
GROUP BY r_quintile, f_quintile
ORDER BY r_quintile, f_quintile
"""


def market_basket_pairs(lineitem: DataFrame, top_k: int = BASKET_TOP_K) -> DataFrame:
    """Top co-purchased part pairs: how many orders contain both parts.

    Plan: the per-order distinct (order, part) rows (basket_items), a
    codegen'd self-join on the order key keeping a < b (basket_pairs),
    then a pair-keyed count. Fan-out per order is bounded by its size
    (TPC-H orders carry <= 7 lineitems), so the join never nears a
    part×part cross. Against the in-row expansion of per-order part
    arrays it replaced, this query measured flat in wall time at sf0.1
    (warm, 4 vCPUs: 1.4–2.1 s either way): the self-join saves the
    interpreted lambdas but adds the distinct's shuffle.
    """
    return (
        basket_pair_counts(basket_items(lineitem))
        .select(
            F.col("a").alias("part_a"),
            F.col("b").alias("part_b"),
            F.col("n_ab").alias("n_orders"),
        )
        .orderBy(F.desc("n_orders"), F.asc("part_a"), F.asc("part_b"))
        .limit(top_k)
    )


MARKET_BASKET_ORACLE = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
)
SELECT a.l_partkey AS part_a,
       b.l_partkey AS part_b,
       count(*) AS n_orders
FROM items a JOIN items b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY a.l_partkey, b.l_partkey
ORDER BY n_orders DESC, part_a ASC, part_b ASC
LIMIT {BASKET_TOP_K}
"""


def open_orders_by_month(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Interval/range join via month bucketing: for each calendar month,
    how many orders were 'open' (between order date and their last
    shipment) and their total value.

    Spark has no native interval join; the scalable encoding is to
    explode each interval into the fixed-granularity buckets it spans
    (bounded by interval length — months here) and aggregate on the
    bucket key, which is exactly what `sequence(start_month, end_month,
    interval 1 month)` + explode does — no global calendar table, no
    collect, no cross join. The `end >= start` guard matters: Spark's
    sequence() REVERSES instead of returning empty when start > end.
    """
    spans = (
        lineitem.groupBy("l_orderkey").agg(F.max("l_shipdate").alias("last_ship"))
        .join(
            orders.select(
                F.col("o_orderkey").alias("l_orderkey"),
                "o_orderdate",
                F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
            ),
            "l_orderkey",
        )
        .where(F.col("last_ship") >= F.col("o_orderdate"))
    )
    months = F.expr(
        "sequence(date_trunc('MONTH', o_orderdate),"
        " date_trunc('MONTH', last_ship), interval 1 month)"
    )
    return (
        spans.select(F.explode(months).alias("m"), "cents")
        .groupBy(F.to_date("m").alias("month"))
        .agg(
            F.count("*").alias("n_open_orders"),
            (F.sum("cents") / 100.0).alias("open_value"),
        )
        .orderBy("month")
    )


OPEN_ORDERS_BY_MONTH_ORACLE = """
WITH spans AS (
  SELECT o.o_orderkey, o.o_orderdate,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents,
         s.last_ship
  FROM orders o
  JOIN (SELECT l_orderkey, max(l_shipdate) AS last_ship
        FROM lineitem GROUP BY l_orderkey) s
    ON s.l_orderkey = o.o_orderkey
  WHERE s.last_ship >= o.o_orderdate
), exploded AS (
  SELECT CAST(unnest(generate_series(date_trunc('month', o_orderdate),
                                     date_trunc('month', last_ship),
                                     INTERVAL 1 MONTH)) AS DATE) AS month,
         cents
  FROM spans
)
SELECT month,
       count(*) AS n_open_orders,
       CAST(sum(cents) AS BIGINT) / 100.0 AS open_value
FROM exploded
GROUP BY month
ORDER BY month
"""


def weighted_median_price(lineitem: DataFrame) -> DataFrame:
    """Exact quantity-weighted median of extended price per return flag —
    the robust 'typical item value' statistic, an operator Spark lacks
    natively (percentile() is unweighted), composed from two aggregates
    and one cumulative window.

    Plan: TWO-PHASE exact median, so no window partition ever sorts the
    full distinct-price set of a flag (there are only 3 flags — a
    single-phase cumulative window would serialize millions of distinct
    prices onto 3 tasks at sf100):

    1. collapse to (flag, price, summed BIGINT weight) — the only
       lineitem-cardinality shuffle;
    2. range-bucket prices (fixed width — deterministic, no
       data-dependent split points) and aggregate weight per
       (flag, bucket): a tiny frame, flags × ~100 buckets;
    3. bucket-level cumulative weights (window over the tiny frame)
       locate the single bucket containing the median and its
       prior-bucket cumulative weight;
    4. broadcast-join that one-row-per-flag locator back and run the
       in-bucket cumulative window ONLY over the median bucket's
       distinct prices — per-task input is one bucket, not one flag.

    The median price p* (min price whose cumulative weight reaches half
    the total, `2*cum >= tot`, pure BIGINT arithmetic) provably lies in
    the located bucket: every earlier bucket's inclusive cumulative is
    below tot/2. The result is an ACTUAL data value, bit-exact against
    the single-phase oracle with no rounding discipline needed.
    """
    return _weighted_percentile_price(
        lineitem, p_num=1, p_den=2, value_alias="weighted_median_price"
    )


def weighted_p90_price(lineitem: DataFrame) -> DataFrame:
    """Exact quantity-weighted 90th-percentile extended price per return
    flag — the tail-price statistic (what do the heaviest-shipped 10%
    of units cost?), via the same two-phase bucketed machinery as the
    weighted median (see weighted_median_price's plan notes)."""
    return _weighted_percentile_price(
        lineitem, p_num=9, p_den=10, value_alias="weighted_p90_price"
    )


def _weighted_percentile_price(
    lineitem: DataFrame, p_num: int, p_den: int, value_alias: str
) -> DataFrame:
    """Shared two-phase exact weighted percentile: smallest price whose
    cumulative weight reaches p = p_num/p_den of the flag's total —
    `p_den·cum >= p_num·tot`, pure BIGINT arithmetic (p_num=1, p_den=2
    is the median). The located bucket provably contains the percentile
    price: every earlier bucket's inclusive cumulative is below p·tot.
    """
    bucket_width = 1024  # fixed price-range width; ~100 buckets on TPC-H
    wp = (
        lineitem.select(
            "l_returnflag",
            "l_extendedprice",
            F.round("l_quantity").cast("long").alias("wt"),
        )
        .groupBy("l_returnflag", "l_extendedprice")
        .agg(F.sum("wt").alias("wt"))
        .withColumn(
            "bkt", F.floor(F.col("l_extendedprice") / bucket_width).cast("long")
        )
        # (flag, price)-domain checkpoint (r21, the ks_returned_price
        # discipline): the bucket cumulative (consumed twice by the
        # locator) and the in-bucket probe all re-derived this collapse —
        # 3 fact scans in the final plan; now one, at build.
        .localCheckpoint()
    )
    per_bkt = wp.groupBy("l_returnflag", "bkt").agg(F.sum("wt").alias("bwt"))
    cum_b = (
        Window.partitionBy("l_returnflag")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot_w = Window.partitionBy("l_returnflag")
    bkts = per_bkt.withColumn("cumb", F.sum("bwt").over(cum_b)).withColumn(
        "tot", F.sum("bwt").over(tot_w)
    )
    med_bkt = (
        bkts.where(p_den * F.col("cumb") >= p_num * F.col("tot"))
        .groupBy("l_returnflag")
        .agg(F.min("bkt").alias("bkt"))
        .join(bkts, ["l_returnflag", "bkt"])
        .select(
            "l_returnflag",
            "bkt",
            (F.col("cumb") - F.col("bwt")).alias("prior"),
            "tot",
        )
    )
    cum_in = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_extendedprice")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        wp.join(F.broadcast(med_bkt), ["l_returnflag", "bkt"])
        .withColumn("cum", F.col("prior") + F.sum("wt").over(cum_in))
        .where(p_den * F.col("cum") >= p_num * F.col("tot"))
        .groupBy("l_returnflag")
        .agg(
            F.min("l_extendedprice").alias(value_alias),
            F.min("tot").alias("total_quantity"),
        )
        .orderBy("l_returnflag")
    )


WEIGHTED_MEDIAN_ORACLE = """
WITH wp AS (
  SELECT l_returnflag, l_extendedprice,
         sum(CAST(round(l_quantity) AS BIGINT)) AS wt
  FROM lineitem
  GROUP BY l_returnflag, l_extendedprice
), cum AS (
  SELECT l_returnflag, l_extendedprice,
         sum(wt) OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice
                       ROWS UNBOUNDED PRECEDING) AS cum,
         sum(wt) OVER (PARTITION BY l_returnflag) AS tot
  FROM wp
)
SELECT l_returnflag,
       min(l_extendedprice) AS weighted_median_price,
       CAST(min(tot) AS BIGINT) AS total_quantity
FROM cum
WHERE 2 * cum >= tot
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def orders_yoy_growth(orders: DataFrame) -> DataFrame:
    """Year-over-year revenue growth — the board-deck trend table.

    One year-keyed aggregate (cent-BIGINT sums so partial-agg order can
    never perturb the value) then a lag window over the handful of year
    rows — the window input is year-cardinality, so the global sort it
    implies is free at any data scale. Growth is a BIGINT/BIGINT
    quotient rounded at 2dp: identical rational → identical double in
    both engines. The first year has no prior and is dropped (no-NULL
    output policy).
    """
    per_year = (
        orders.select(
            F.year("o_orderdate").alias("year"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("year")
        .agg(F.sum("cents").alias("cents"))
    )
    w = Window.orderBy("year")
    return (
        per_year.select(
            "year",
            F.round(F.col("cents") / 100.0, 2).alias("revenue"),
            F.lag("cents").over(w).alias("prev_cents"),
            "cents",
        )
        .where(F.col("prev_cents").isNotNull())
        .select(
            "year",
            "revenue",
            F.round(F.col("prev_cents") / 100.0, 2).alias("prev_revenue"),
            F.round(
                (F.col("cents") - F.col("prev_cents"))
                / F.col("prev_cents")
                * 100.0,
                2,
            ).alias("growth_pct"),
        )
        .orderBy("year")
    )


ORDERS_YOY_GROWTH_ORACLE = """
WITH per_year AS (
  SELECT CAST(year(o_orderdate) AS INTEGER) AS year,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1
), lagged AS (
  SELECT year, cents, lag(cents) OVER (ORDER BY year) AS prev_cents
  FROM per_year
)
SELECT year,
       round(cents / 100.0, 2) AS revenue,
       round(prev_cents / 100.0, 2) AS prev_revenue,
       round((cents - prev_cents) / CAST(prev_cents AS DOUBLE) * 100.0, 2) AS growth_pct
FROM lagged
WHERE prev_cents IS NOT NULL
ORDER BY year
"""


def customer_ltv_pareto(orders: DataFrame) -> DataFrame:
    """Pareto / ABC revenue-concentration analysis: every customer with
    their lifetime revenue, cumulative revenue share (customers ranked
    richest-first), and a head-of-distribution flag — "which customers
    make up the first 80% of revenue".

    Output: (o_custkey, revenue, cum_share, in_top80) ordered by the
    ranking (revenue DESC, custkey ASC tiebreak).

    Determinism discipline: all ranking and the 80% gate run on EXACT
    integer cents — the flag is the integer comparison
    5·(cum − own) < 4·total, so no float partial-sum order can flip it
    (the daily_revenue_anomalies cents discipline taken one step
    further: even the gate is integral). cum_share is rounded from an
    exact integer ratio. Shape: customer-keyed cent aggregate, then one
    global-ordered window cumsum — the unkeyed window runs over the
    customer-cardinality aggregate, not the orders scan; at 100 TB
    you'd range-partition that final ranking, the aggregate below it is
    unchanged.
    """
    per = (
        orders.select(
            "o_custkey",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("o_custkey")
        .agg(F.sum("cents").alias("cents"))
    )
    total = Window.partitionBy()
    rank = (
        Window.partitionBy()
        .orderBy(F.desc("cents"), F.asc("o_custkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        per.select(
            "o_custkey",
            "cents",
            F.sum("cents").over(rank).alias("cum"),
            F.sum("cents").over(total).alias("tot"),
        )
        .select(
            "o_custkey",
            F.round(F.col("cents") / 100.0, 2).alias("revenue"),
            # half-up integer division at 4dp (integer-cents ratio can
            # tie at the 5th decimal; float round() splits the engines).
            (F.expr("(20000 * cum + tot) div (2 * tot)") / 10000.0).alias(
                "cum_share"
            ),
            (
                (F.col("cum") - F.col("cents")) * 5 < F.col("tot") * 4
            )
            .cast("long")
            .alias("in_top80"),
        )
        .orderBy(F.desc("revenue"), F.asc("o_custkey"))
    )


CUSTOMER_LTV_PARETO_ORACLE = """
WITH per AS (
  SELECT o_custkey,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT o_custkey, cents,
         CAST(sum(cents) OVER (ORDER BY cents DESC, o_custkey
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum,
         CAST(sum(cents) OVER () AS BIGINT) AS tot
  FROM per
)
SELECT o_custkey,
       round(cents / 100.0, 2) AS revenue,
       ((20000 * cum + tot) // (2 * tot)) / 10000.0 AS cum_share,
       CAST(CASE WHEN (cum - cents) * 5 < tot * 4 THEN 1 ELSE 0 END AS BIGINT)
         AS in_top80
FROM ranked
ORDER BY revenue DESC, o_custkey
"""


# --------------------------------------------------------------------------
# Association rules: confidence and lift over the basket pair counts
# --------------------------------------------------------------------------

RULE_MIN_SUPPORT = 3


def association_rules(lineitem: DataFrame, min_support: int = RULE_MIN_SUPPORT) -> DataFrame:
    """Directed association rules a→b over co-purchase baskets:
    confidence = P(b|a) = n_ab/n_a and lift = P(b|a)/P(b) =
    n_ab·N/(n_a·n_b), for every ordered pair whose joint support meets
    ``min_support`` — the market-basket output a recommender actually
    consumes (market_basket_pairs reports the raw counts; this derives
    the decision metrics).

    Same basket pair count as market_basket_pairs; the support cut keeps
    the rule table |frequent pairs|-sized. Both metrics are ratios of
    identical 64-bit integers evaluated once into doubles, so the 6dp
    rounding is deterministic cross-engine; ordering is by exact
    integers (n_ab) with a pair tiebreak, never by a float.
    """
    # NOT checkpointed (r21 A/B: 1.82→2.25s with a checkpoint) — the
    # three consumers evaluate as parallel subtrees of one job at this
    # scale and share the basket_items exchange, while an eager
    # checkpoint serializes them.
    items = basket_items(lineitem)
    n_baskets = (
        items.select("l_orderkey").distinct()
        .agg(F.count("*").cast("long").alias("n_total"))
    )
    pair_counts = basket_pair_counts(items).where(F.col("n_ab") >= min_support)
    item_counts = basket_item_counts(items)
    directed = mirrored(pair_counts, "a", "b", "n_ab")
    na = item_counts.select(F.col("part").alias("a"), F.col("n_part").alias("n_a"))
    nb = item_counts.select(F.col("part").alias("b"), F.col("n_part").alias("n_b"))
    return (
        directed.join(na, "a")
        .join(nb, "b")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            F.col("a").alias("antecedent"),
            F.col("b").alias("consequent"),
            "n_ab",
            # half-up integer division at 6dp: integer-count ratios can
            # tie at the 7th decimal, where float round() splits engines.
            (
                F.expr("(2000000 * n_ab + n_a) div (2 * n_a)") / 1000000.0
            ).alias("confidence"),
            (
                F.expr(
                    "(2000000 * n_ab * n_total + n_a * n_b)"
                    " div (2 * n_a * n_b)"
                )
                / 1000000.0
            ).alias("lift"),
        )
        .orderBy(F.desc("n_ab"), "antecedent", "consequent")
    )


ASSOCIATION_RULES_ORACLE = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), n_total AS (
  SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_total FROM items
), pair_counts AS (
  SELECT a.l_partkey AS a, b.l_partkey AS b, CAST(count(*) AS BIGINT) AS n_ab
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= {RULE_MIN_SUPPORT}
), directed AS (
  SELECT a, b, n_ab FROM pair_counts
  UNION ALL
  SELECT b, a, n_ab FROM pair_counts
), item_counts AS (
  SELECT l_partkey AS part, CAST(count(*) AS BIGINT) AS n_part
  FROM items GROUP BY 1
)
SELECT d.a AS antecedent, d.b AS consequent, d.n_ab,
       ((2000000 * d.n_ab + x.n_part) // (2 * x.n_part)) / 1000000.0
         AS confidence,
       ((2000000 * d.n_ab * n_total.n_total + x.n_part * y.n_part)
        // (2 * x.n_part * y.n_part)) / 1000000.0 AS lift
FROM directed d
JOIN item_counts x ON d.a = x.part
JOIN item_counts y ON d.b = y.part
CROSS JOIN n_total
ORDER BY d.n_ab DESC, antecedent, consequent
"""


WEIGHTED_P90_ORACLE = """
WITH wp AS (
  SELECT l_returnflag, l_extendedprice,
         sum(CAST(round(l_quantity) AS BIGINT)) AS wt
  FROM lineitem
  GROUP BY l_returnflag, l_extendedprice
), cum AS (
  SELECT l_returnflag, l_extendedprice,
         sum(wt) OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice
                       ROWS UNBOUNDED PRECEDING) AS cum,
         sum(wt) OVER (PARTITION BY l_returnflag) AS tot
  FROM wp
)
SELECT l_returnflag,
       min(l_extendedprice) AS weighted_p90_price,
       CAST(min(tot) AS BIGINT) AS total_quantity
FROM cum
WHERE 10 * cum >= 9 * tot
GROUP BY l_returnflag
ORDER BY l_returnflag
"""
