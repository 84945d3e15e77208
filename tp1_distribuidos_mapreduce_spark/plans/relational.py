"""Relational query plans over the TPC-H-ish fixture star schema.

The reference has NO relational operators — no joins, windows, set ops,
having, pivot, or top-k (SURVEY.md §2 "negative space"). These plans are the
new engine's additive surface, expressed declaratively so Catalyst provides
pushdown/pruning/join-selection and AQE re-plans at runtime.

Scale notes (100 TB discipline):
- ``nation``/``region`` are broadcast explicitly — their cardinality is
  architecture-fixed (25/5 rows), so the broadcast is correct at any SF.
- Fact-fact joins (lineitem ⋈ orders) are equi-joins on the leading key;
  at scale these become sort-merge joins with AQE skew splitting, and both
  sides shuffle on o_orderkey/l_orderkey once, reusable by later stages.
- Aggregates are algebraic (sum/count/avg) → Catalyst partial aggregation
  keeps shuffle volume at O(groups), never O(rows).
- Top-k uses orderBy+limit, which Spark executes as TakeOrderedAndProject —
  a per-partition heap + driver merge of k rows, NOT a global sort.
- Double-typed aggregates are rounded in plan AND oracle so the driver's
  value-hash is insensitive to float summation order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def revenue_units() -> Column:
    """A lineitem's discounted revenue in exact BIGINT units of 1e-4
    dollars: price cents × (100 − discount percent). Price and discount
    both carry exactly 2 decimals, so every row is exact and a sum of
    units does not depend on the order of partial aggregates, where a
    float revenue sum can land on either side of a half-cent."""
    return F.round(F.col("l_extendedprice") * 100).cast("long") * (
        F.lit(100) - F.round(F.col("l_discount") * 100).cast("long")
    )


def units_to_revenue(units: str) -> Column:
    """Dollars at 2dp from the unit sum in column ``units``, by half-up
    INTEGER division ((u + 50) div 100): Spark's round() re-decimalizes
    a double via its shortest repr while DuckDB rounds the raw double,
    so a float round() splits the engines on a genuine half-cent tie."""
    return F.expr(f"({units} + 50) div 100") / 100.0


def q1_pricing_summary(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q1: pricing summary report (groupBy 2 cols + 8 aggregates).

    All money aggregates run on EXACT scaled BIGINTs (price/discount/tax
    carry exactly 2 decimals, so cents, cents·(100−d), and
    cents·(100−d)·(100+t) are exact per-row integers and their sums are
    partial-order-independent), rounded by half-up INTEGER division —
    float sums over millions of rows per group land on half-cent /
    5th-decimal ties and split the engines (the nation_trade_flows flake
    class). Quantities are integral, so their float sum is exact below
    2^53 and needs no scaling. BIGINT headroom: the 1e-6-dollar charge
    sum overflows past ~$9.2e6 billion per group; at that scale cast the
    unit columns to decimal(38,0)."""
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    d = F.round(F.col("l_discount") * 100).cast("long")
    t = F.round(F.col("l_tax") * 100).cast("long")
    return (
        lineitem.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.sum(cents).alias("c"),
            F.sum(cents * (F.lit(100) - d)).alias("u4"),
            F.sum(cents * (F.lit(100) - d) * (F.lit(100) + t)).alias("u6"),
            F.sum(F.col("l_quantity").cast("long")).alias("sq"),
            F.sum(d).alias("sd"),
            F.count("*").alias("count_order"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            "sum_qty",
            (F.col("c") / 100.0).alias("sum_base_price"),
            units_to_revenue("u4").alias("sum_disc_price"),
            (F.expr("(u6 + 5000) div 10000") / 100.0).alias("sum_charge"),
            # half-up integer division at 4dp: round(10^4·S/n) for the
            # integral-quantity sum, round(10^2·S/n) for cent-scaled sums.
            (
                F.expr("(20000 * sq + count_order) div (2 * count_order)") / 10000.0
            ).alias("avg_qty"),
            (
                F.expr("(200 * c + count_order) div (2 * count_order)") / 10000.0
            ).alias("avg_price"),
            (
                F.expr("(200 * sd + count_order) div (2 * count_order)") / 10000.0
            ).alias("avg_disc"),
            "count_order",
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q1_ORACLE = """
WITH g AS (
  SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 2) AS sum_qty,
         sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS c,
         sum(CAST(round(l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS u4,
         sum(CAST(round(l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(round(l_discount * 100) AS BIGINT))
             * (100 + CAST(round(l_tax * 100) AS BIGINT))) AS u6,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq,
         sum(CAST(round(l_discount * 100) AS BIGINT)) AS sd,
         count(*) AS count_order
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '1998-09-02'
  GROUP BY l_returnflag, l_linestatus
)
SELECT l_returnflag, l_linestatus, sum_qty,
       c / 100.0                                                AS sum_base_price,
       ((u4 + 50) // 100) / 100.0                               AS sum_disc_price,
       ((u6 + 5000) // 10000) / 100.0                           AS sum_charge,
       ((20000 * sq + count_order) // (2 * count_order)) / 10000.0 AS avg_qty,
       ((200 * c + count_order) // (2 * count_order)) / 10000.0 AS avg_price,
       ((200 * sd + count_order) // (2 * count_order)) / 10000.0 AS avg_disc,
       count_order
FROM g
ORDER BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(customer: DataFrame, orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """TPC-H Q3: top-10 unshipped orders by revenue for one segment.

    customer is small at every SF relative to the facts → broadcast hint;
    lineitem ⋈ orders stays a shuffle join on the order key. The top-k is
    TakeOrderedAndProject (no global sort). Tie-broken by o_orderkey for
    determinism vs the oracle.
    """
    cutoff = F.lit("1998-07-01").cast("timestamp")
    return (
        lineitem.where(F.col("l_shipdate") > cutoff)
        .join(orders.where(F.col("o_orderdate") < cutoff), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(customer.where(F.col("c_mktsegment") == "BUILDING")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        # exact-units revenue (nation_trade_flows discipline): the top-k
        # cut ranks on the BIGINT so a half-cent float tie can't reorder.
        .agg(F.sum(revenue_units()).alias("u"))
        .orderBy(F.desc("u"), F.asc("o_orderkey"))
        .limit(10)
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
            units_to_revenue("u").alias("revenue"),
        )
    )


Q3_ORACLE = """
SELECT o_orderkey, orderdate, o_orderpriority,
       ((u + 50) // 100) / 100.0 AS revenue
FROM (
  SELECT o_orderkey,
         strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
         o_orderpriority,
         sum(CAST(round(l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS u
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment = 'BUILDING'
    AND o_orderdate < TIMESTAMP '1998-07-01'
    AND l_shipdate  > TIMESTAMP '1998-07-01'
  GROUP BY o_orderkey, o_orderdate, o_orderpriority
  ORDER BY u DESC, o_orderkey ASC
  LIMIT 10
)
"""


def q5_revenue_by_nation(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
) -> DataFrame:
    """TPC-H Q5 shape: revenue per nation inside one region, where the
    supplier and customer share a nation (the classic 6-way join).

    nation/region broadcast unconditionally (25/5 rows at any SF);
    supplier is broadcast-eligible and left to AQE's runtime size check.
    """
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(supplier, (F.col("l_suppkey") == F.col("s_suppkey")) & (F.col("c_nationkey") == F.col("s_nationkey")))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region.where(F.col("r_name") == "ASIA")), F.col("n_regionkey") == F.col("r_regionkey"))
        .where(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .groupBy("n_name")
        # exact-units revenue sum (nation_trade_flows discipline).
        .agg(F.sum(revenue_units()).alias("u"))
        .select("n_name", units_to_revenue("u").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


Q5_ORACLE = """
SELECT n_name,
       ((sum(CAST(round(l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(round(l_discount * 100) AS BIGINT))) + 50) // 100)
       / 100.0 AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey  = c_custkey
JOIN supplier ON l_suppkey  = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name ASC
"""


def monthly_order_stats(orders: DataFrame) -> DataFrame:
    """Calendar rollup: per-month order count / total / avg value."""
    return (
        orders.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        # exact cents: the sum is lossless at 2dp; the 4dp average uses
        # half-up integer division (round(10^2·S_cents/n)) — round(avg)
        # over floats flakes on partial-sum order at rounding ties.
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("c"),
        )
        .select(
            "month",
            "n_orders",
            (F.col("c") / 100.0).alias("total_value"),
            (F.expr("(200 * c + n_orders) div (2 * n_orders)") / 10000.0).alias(
                "avg_value"
            ),
        )
        .orderBy("month")
    )


MONTHLY_ORACLE = """
SELECT strftime(o_orderdate, '%Y-%m')       AS month,
       count(*)                             AS n_orders,
       sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS total_value,
       ((200 * sum(CAST(round(o_totalprice * 100) AS BIGINT)) + count(*))
        // (2 * count(*))) / 10000.0        AS avg_value
FROM orders
GROUP BY month
ORDER BY month
"""


def brand_stats_having(part: DataFrame) -> DataFrame:
    """GROUP BY + HAVING over part: brands whose avg retail price is
    above the median-ish cut.

    Exact-arithmetic form (ADVICE flake class: round(avg(double),4) in a
    HAVING can flip group membership when a group mean lands on the
    rounding boundary and the engines' partial-sum orders differ by an
    ulp): prices scale to integral cents per row, the 4dp mean is an
    integer half-up division, and the HAVING compares the same exact
    BIGINT — no float ever decides membership or the printed value."""
    scaled = F.sum(
        F.round(F.col("p_retailprice") * 100).cast("long")
    ).alias("sum_cents")
    return (
        part.groupBy("p_brand")
        .agg(
            F.count("*").alias("n_parts"),
            scaled,
            F.max("p_size").alias("max_size"),
        )
        # avg at 4dp = half-up(sum_cents*100 / n): (2*S*100 + n) div (2*n)
        .withColumn(
            "avg_4dp_scaled",
            F.expr("(2 * sum_cents * 100 + n_parts) div (2 * n_parts)"),
        )
        .where(F.col("avg_4dp_scaled") > 910_0000)
        .select(
            "p_brand",
            "n_parts",
            (F.col("avg_4dp_scaled") / 10000.0).alias("avg_price"),
            "max_size",
        )
        .orderBy("p_brand")
    )


BRAND_HAVING_ORACLE = """
SELECT p_brand, n_parts, avg_4dp_scaled / 10000.0 AS avg_price, max_size
FROM (
  SELECT p_brand,
         count(*) AS n_parts,
         (2 * sum(CAST(round(p_retailprice * 100) AS BIGINT)) * 100
            + count(*)) // (2 * count(*)) AS avg_4dp_scaled,
         max(p_size) AS max_size
  FROM part
  GROUP BY p_brand
)
WHERE avg_4dp_scaled > 9100000
ORDER BY p_brand
"""


def top_customers_per_nation(customer: DataFrame, orders: DataFrame, nation: DataFrame) -> DataFrame:
    """Window top-k: 3 highest-spending customers per nation (row_number).

    The canonical distributed top-k-per-group: shuffle once on the group
    key, rank within partitions — never a global sort.
    """
    spend = (
        orders.groupBy("o_custkey")
        # exact cents sum, lossless /100.0 — order-independent, so the
        # per-nation rank can't flip on a float partial-sum tie.
        .agg(
            (
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0
            ).alias("spend")
        )
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    w = Window.partitionBy("n_name").orderBy(F.desc("spend"), F.asc("c_custkey"))
    return (
        spend.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("n_name", "rank", "c_custkey", "c_name", "spend")
        .orderBy("n_name", "rank")
    )


TOP_CUSTOMERS_ORACLE = """
SELECT n_name, rank, c_custkey, c_name, spend
FROM (
  SELECT n_name, c_custkey, c_name, spend,
         CAST(row_number() OVER (PARTITION BY n_name ORDER BY spend DESC, c_custkey ASC) AS INTEGER) AS rank
  FROM (
    SELECT o_custkey,
           sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS spend
    FROM orders GROUP BY o_custkey
  )
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
)
WHERE rank <= 3
ORDER BY n_name, rank
"""


def order_priority_pivot(orders: DataFrame) -> DataFrame:
    """Pivot: order counts by status × priority (fixed pivot values so the
    plan is static — required for a deterministic schema at scale)."""
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    aliases = ["urgent", "high", "medium", "not_specified", "low"]
    pivoted = orders.groupBy("o_orderstatus").pivot("o_orderpriority", prios).count()
    return pivoted.select(
        "o_orderstatus",
        *[F.coalesce(F.col(f"`{p}`"), F.lit(0)).alias(a) for p, a in zip(prios, aliases)],
    ).orderBy("o_orderstatus")


PIVOT_ORACLE = """
SELECT o_orderstatus,
       count(*) FILTER (WHERE o_orderpriority = '1-URGENT')        AS urgent,
       count(*) FILTER (WHERE o_orderpriority = '2-HIGH')          AS high,
       count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM')        AS medium,
       count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS not_specified,
       count(*) FILTER (WHERE o_orderpriority = '5-LOW')           AS low
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def customer_set_ops(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """Set operations: customers active in 1996 but NOT in 1997 (EXCEPT),
    labeled, unioned with those active in both (INTERSECT)."""

    def active(year: int) -> DataFrame:
        return (
            orders.where(F.year("o_orderdate") == year)
            .select(F.col("o_custkey").alias("custkey"))
            .distinct()
        )

    only_96 = active(1996).exceptAll(active(1997)).withColumn("cohort", F.lit("only_1996"))
    both = active(1996).intersect(active(1997)).withColumn("cohort", F.lit("both_years"))
    return only_96.unionAll(both).orderBy("cohort", "custkey")


SET_OPS_ORACLE = """
WITH a96 AS (SELECT DISTINCT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1996),
     a97 AS (SELECT DISTINCT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1997)
SELECT custkey, 'only_1996' AS cohort FROM (SELECT custkey FROM a96 EXCEPT SELECT custkey FROM a97)
UNION ALL
SELECT custkey, 'both_years' AS cohort FROM (SELECT custkey FROM a96 INTERSECT SELECT custkey FROM a97)
ORDER BY cohort, custkey
"""


def top_parts_by_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Join fact→dim + top-20: revenue per part. part is broadcast-eligible
    (grows with SF but stays dim-sized; AQE confirms at runtime)."""
    return (
        lineitem.groupBy("l_partkey")
        # exact-units revenue; the top-20 ranks on the BIGINT so float
        # half-cent ties can't reorder the cut boundary.
        .agg(F.sum(revenue_units()).alias("u"))
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .orderBy(F.desc("u"), F.asc("p_partkey"))
        .limit(20)
        .select(
            "p_partkey",
            "p_name",
            "p_brand",
            units_to_revenue("u").alias("revenue"),
        )
    )


TOP_PARTS_ORACLE = """
SELECT p_partkey, p_name, p_brand, ((u + 50) // 100) / 100.0 AS revenue
FROM (
  SELECT p_partkey, p_name, p_brand, u
  FROM (
    SELECT l_partkey,
           sum(CAST(round(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS u
    FROM lineitem GROUP BY l_partkey
  )
  JOIN part ON l_partkey = p_partkey
  ORDER BY u DESC, p_partkey ASC
  LIMIT 20
)
"""


def sessionize_events(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Batch sessionization: a session break is a >gap pause per user.

    lag + conditional-sum window — one shuffle on user_id; the same logic
    streaming exposes via session_window (streaming/windows.py).

    The gap compares INTEGER MICROSECONDS on both engines (unix_micros /
    epoch_us): the fixture timestamps carry microseconds, and a
    whole-second Spark diff vs DuckDB's fractional epoch() would flip a
    pair whose true gap sits in (gap, gap+1) seconds — e.g. 1800.8s is a
    break in DuckDB but 2800−1000 = 1800 (not >1800) kept one session in
    Spark. No fixture pair sits in the flip zone today; exactness makes
    that luck irrelevant.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = gap_minutes * 60 * 1_000_000
    with_breaks = events.withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)) > gap_us),
            1,
        ).otherwise(0),
    )
    return (
        with_breaks.groupBy("user_id")
        .agg(
            F.sum("new_session").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
        .orderBy("user_id")
    )


SESSIONIZE_ORACLE = """
SELECT user_id,
       CAST(sum(new_session) AS BIGINT) AS n_sessions,
       count(*)                         AS n_events
FROM (
  SELECT user_id, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
GROUP BY user_id
ORDER BY user_id
"""


def events_json_stats(events: DataFrame) -> DataFrame:
    """JSON extraction from the props string column + aggregate per type."""
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        events.withColumn("k", k)
        .groupBy("event_type")
        # value carries exactly 3 decimals and k is integral, so both
        # averages run on exact integer sums with half-up integer
        # division at 4dp (round(avg) over floats flakes at ties); the
        # avg() denominators are the non-null counts.
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 1000).cast("long")).alias("sv"),
            F.count("value").alias("nv"),
            F.sum("k").alias("sk"),
            F.count("k").alias("nk"),
            F.max("k").alias("max_k"),
        )
        .select(
            "event_type",
            "n_events",
            (F.expr("(20 * sv + nv) div (2 * nv)") / 10000.0).alias("avg_value"),
            (F.expr("(20000 * sk + nk) div (2 * nk)") / 10000.0).alias("avg_k"),
            "max_k",
        )
        .orderBy("event_type")
    )


EVENTS_JSON_ORACLE = """
WITH g AS (
  SELECT event_type,
         count(*) AS n_events,
         sum(CAST(round(value * 1000) AS BIGINT)) AS sv,
         count(value) AS nv,
         CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sk,
         count(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS nk,
         max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
  FROM events
  GROUP BY event_type
)
SELECT event_type, n_events,
       ((20 * sv + nv) // (2 * nv)) / 10000.0       AS avg_value,
       ((20000 * sk + nk) // (2 * nk)) / 10000.0    AS avg_k,
       max_k
FROM g
ORDER BY event_type
"""


def purchase_asof_last_click(events: DataFrame) -> DataFrame:
    """As-of join (Spark has no native one): for each purchase, the most
    recent preceding click timestamp of the same user — expressed as a
    last_value-ignore-nulls running window over the interleaved stream.

    This is the scalable formulation: one shuffle on user_id, no
    self-join explosion; works identically at 100 TB because state per
    user is O(1) within the sorted partition.
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_click = F.last(
        F.when(F.col("event_type") == "click", F.col("ts")), ignorenulls=True
    ).over(w)
    return (
        events.withColumn("last_click_ts", last_click)
        .where(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
            # 'none' (not NULL) for purchases with no preceding click: a
            # NULL here breaks None-unaware row-sort comparators downstream,
            # and the sentinel is hash-identical across engines.
            F.coalesce(
                F.date_format("last_click_ts", "yyyy-MM-dd HH:mm:ss"), F.lit("none")
            ).alias("click_ts"),
        )
        .orderBy("event_id")
    )


ASOF_ORACLE = """
SELECT event_id, user_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
       coalesce(strftime(last_click_ts, '%Y-%m-%d %H:%M:%S'), 'none') AS click_ts
FROM (
  SELECT event_id, user_id, ts, event_type,
         last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_ts
  FROM events
)
WHERE event_type = 'purchase'
ORDER BY event_id
"""
