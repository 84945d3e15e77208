"""Relational coverage extension: rollup/cube, semi/anti joins, exact
percentiles, window frames (moving average), correlated EXISTS, array and
date functions.

These fill the remainder of the reference's negative space (SURVEY.md §2:
"joins of any kind, window functions, set ops beyond union, grouping
sets/cube/rollup, limits/top-k, date/math/array/map/JSON functions" —
absent from the reference, required of a complete engine). All pure
DataFrame compositions; Catalyst handles pushdown/broadcast planning.

Column-name discipline as in plans/relational.py: every computed column
aliased identically in Spark and oracle SQL; doubles rounded to 4dp on
both sides so value-hashes agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .relational import revenue_units, units_to_revenue


def rollup_lineitem_flags(lineitem: DataFrame) -> DataFrame:
    """ROLLUP over (returnflag, linestatus): per-group, per-flag subtotal,
    and grand total in one aggregation pass. Subtotal rows' NULL keys are
    rewritten to 'ALL' via grouping() so they stay distinguishable from
    real NULLs (and hash-stable across engines)."""
    return (
        lineitem.rollup("l_returnflag", "l_linestatus")
        .agg(
            # grouping() is only legal inside the aggregate list, so the
            # 'ALL' rewrite happens here rather than in a later select.
            F.when(F.grouping("l_returnflag") == 1, F.lit("ALL"))
            .otherwise(F.col("l_returnflag"))
            .alias("returnflag"),
            F.when(F.grouping("l_linestatus") == 1, F.lit("ALL"))
            .otherwise(F.col("l_linestatus"))
            .alias("linestatus"),
            F.count("*").alias("n"),
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        )
        .select("returnflag", "linestatus", "n", "sum_qty")
        .orderBy("returnflag", "linestatus")
    )


ROLLUP_ORACLE = """
SELECT CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL' ELSE l_returnflag END AS returnflag,
       CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL' ELSE l_linestatus END AS linestatus,
       count(*) AS n,
       round(sum(l_quantity), 4) AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY returnflag, linestatus
"""


def cube_order_status_priority(orders: DataFrame) -> DataFrame:
    """CUBE over (orderstatus, orderpriority): all 4 grouping-set combos."""
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.when(F.grouping("o_orderstatus") == 1, F.lit("ALL"))
            .otherwise(F.col("o_orderstatus"))
            .alias("status"),
            F.when(F.grouping("o_orderpriority") == 1, F.lit("ALL"))
            .otherwise(F.col("o_orderpriority"))
            .alias("priority"),
            F.count("*").alias("n"),
            # exact cents: the grand-total grouping set sums the whole
            # table, where a float sum's accumulated error can cross a
            # 4dp rounding boundary; the BIGINT sum is lossless.
            (
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0
            ).alias("sum_price"),
        )
        .select("status", "priority", "n", "sum_price")
        .orderBy("status", "priority")
    )


CUBE_ORACLE = """
SELECT CASE WHEN GROUPING(o_orderstatus) = 1 THEN 'ALL' ELSE o_orderstatus END AS status,
       CASE WHEN GROUPING(o_orderpriority) = 1 THEN 'ALL' ELSE o_orderpriority END AS priority,
       count(*) AS n,
       sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS sum_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY status, priority
"""


def supplier_activity(supplier: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Semi/anti join pair: per nation, how many suppliers shipped at least
    one lineitem vs none. Both joins hash only the distinct supplier keys
    of lineitem (Catalyst builds the join on the aggregated key set)."""
    active = supplier.join(
        lineitem, supplier.s_suppkey == lineitem.l_suppkey, "left_semi"
    )
    idle = supplier.join(
        lineitem, supplier.s_suppkey == lineitem.l_suppkey, "left_anti"
    )
    a = active.groupBy("s_nationkey").agg(F.count("*").alias("n_active"))
    i = idle.groupBy("s_nationkey").agg(F.count("*").alias("n_idle"))
    return (
        a.join(i, "s_nationkey", "full_outer")
        .select(
            "s_nationkey",
            F.coalesce("n_active", F.lit(0)).alias("n_active"),
            F.coalesce("n_idle", F.lit(0)).alias("n_idle"),
        )
        .orderBy("s_nationkey")
    )


SUPPLIER_ACTIVITY_ORACLE = """
SELECT s_nationkey,
       count(*) FILTER (WHERE EXISTS (
           SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey)) AS n_active,
       count(*) FILTER (WHERE NOT EXISTS (
           SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey)) AS n_idle
FROM supplier
GROUP BY s_nationkey
ORDER BY s_nationkey
"""


def order_price_quantiles(orders: DataFrame) -> DataFrame:
    """Exact interpolated percentiles (median/p90) + sample stddev per
    priority. ``percentile`` is Spark's exact linear-interpolation
    aggregate — same definition as DuckDB's quantile_cont."""
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("median_price"),
            F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90_price"),
            F.round(F.stddev_samp("o_totalprice"), 4).alias("sd_price"),
        )
        .orderBy("o_orderpriority")
    )


QUANTILES_ORACLE = """
SELECT o_orderpriority,
       count(*) AS n,
       round(quantile_cont(o_totalprice, 0.5), 4) AS median_price,
       round(quantile_cont(o_totalprice, 0.9), 4) AS p90_price,
       round(stddev_samp(o_totalprice), 4) AS sd_price
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def daily_revenue_moving_avg(lineitem: DataFrame) -> DataFrame:
    """Window-frame aggregation: daily revenue with a trailing 7-row
    moving average (ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) — ordered
    frame over a pre-aggregated series, so the window input is one row per
    day, not per lineitem.

    Revenue runs in EXACT integer units of 1e-4 dollars (cents ×
    (100 − discount_pct), the nation_trade_flows discipline) — exactly
    the 4dp output grain, so revenue is the lossless u/10000.0 and the
    frame mean is half-up INTEGER division over the frame's u-sum and
    row count. A float frame mean differs at last-ulp between Spark's
    sliding add/subtract accumulation and DuckDB's window sum, flipping
    4dp rounding near 5th-decimal boundaries."""
    from pyspark.sql import Window

    u = revenue_units()
    daily = lineitem.groupBy(F.to_date("l_shipdate").alias("ship_date")).agg(
        F.sum(u).alias("u")
    )
    w = Window.orderBy("ship_date").rowsBetween(-6, 0)
    return (
        daily.select(
            "ship_date",
            (F.col("u") / 10000.0).alias("revenue"),
            F.sum("u").over(w).alias("s"),
            F.count("u").over(w).alias("n"),
        )
        .select(
            "ship_date",
            "revenue",
            (F.expr("(2 * s + n) div (2 * n)") / 10000.0).alias("ma7"),
        )
        .orderBy("ship_date")
    )


MOVING_AVG_ORACLE = """
WITH daily AS (
  SELECT CAST(l_shipdate AS DATE) AS ship_date,
         sum(CAST(round(l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS u
  FROM lineitem
  GROUP BY 1
), framed AS (
  SELECT ship_date, u / 10000.0 AS revenue,
         sum(u)   OVER (ORDER BY ship_date
                        ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS s,
         count(u) OVER (ORDER BY ship_date
                        ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS n
  FROM daily
)
SELECT ship_date, revenue, ((2 * s + n) // (2 * n)) / 10000.0 AS ma7
FROM framed
ORDER BY ship_date
"""


def priorities_with_big_items(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Correlated-EXISTS shape: orders having ≥1 lineitem above a price
    threshold, counted per priority — expressed as a semi join, which is
    exactly what Catalyst rewrites EXISTS subqueries into."""
    big = lineitem.where(F.col("l_extendedprice") > 5000).select("l_orderkey")
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
        .orderBy("o_orderpriority")
    )


EXISTS_ORACLE = """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_extendedprice > 5000)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def brand_type_vocabulary(part: DataFrame) -> DataFrame:
    """Array-function pipeline: per brand, the sorted distinct vocabulary
    of p_type words (split → flatten → distinct → sort → join) and its
    size — the collect/flatten/array-op surface."""
    return (
        part.groupBy("p_brand")
        .agg(
            F.array_sort(
                F.array_distinct(F.flatten(F.collect_list(F.split("p_type", " "))))
            ).alias("words")
        )
        .select(
            "p_brand",
            F.size("words").alias("n_words"),
            F.array_join("words", ",").alias("vocabulary"),
        )
        .orderBy("p_brand")
    )


BRAND_VOCAB_ORACLE = """
SELECT p_brand,
       len(list_sort(list_distinct(flatten(list(str_split(p_type, ' ')))))) AS n_words,
       array_to_string(list_sort(list_distinct(flatten(list(str_split(p_type, ' '))))), ',') AS vocabulary
FROM part
GROUP BY p_brand
ORDER BY p_brand
"""


def weekday_order_stats(orders: DataFrame) -> DataFrame:
    """Date-function surface: per weekday (1=Sunday..7=Saturday), order
    count and average price."""
    return (
        orders.groupBy(F.dayofweek("o_orderdate").alias("weekday"))
        # exact-cents average via half-up integer division at 4dp
        # (round(avg) over floats flakes at rounding-boundary ties).
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("c"),
        )
        .select(
            "weekday",
            "n_orders",
            (F.expr("(200 * c + n_orders) div (2 * n_orders)") / 10000.0).alias(
                "avg_price"
            ),
        )
        .orderBy("weekday")
    )


WEEKDAY_ORACLE = """
SELECT CAST(date_part('dow', o_orderdate) + 1 AS INTEGER) AS weekday,
       count(*) AS n_orders,
       ((200 * sum(CAST(round(o_totalprice * 100) AS BIGINT)) + count(*))
        // (2 * count(*))) / 10000.0 AS avg_price
FROM orders
GROUP BY 1
ORDER BY weekday
"""


def returned_item_revenue(
    customer: DataFrame, orders: DataFrame, lineitem: DataFrame, nation: DataFrame
) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returned items per customer, top 20.
    lineitem filter pushes to the scan; nation broadcasts.

    Revenue sums the nation_trade_flows EXACT units (cents × (100 −
    discount_pct)) and the top-20 cut orders by that BIGINT — a float
    sum near a half-cent boundary could flip both the rounding AND the
    ranking of the boundary customer; integer arithmetic can't."""
    returned = lineitem.where(F.col("l_returnflag") == "R")
    u = revenue_units()
    return (
        returned.join(orders, returned.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(u).alias("u"))
        .orderBy(F.desc("u"), "c_custkey")
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            units_to_revenue("u").alias("revenue"),
        )
    )


Q10_ORACLE = """
SELECT c_custkey, c_name, n_name,
       ((u + 50) // 100) / 100.0 AS revenue
FROM (
  SELECT c_custkey, c_name, n_name,
         sum(CAST(round(l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS u
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  WHERE l_returnflag = 'R'
  GROUP BY c_custkey, c_name, n_name
  ORDER BY u DESC, c_custkey
  LIMIT 20
)
"""


def parts_above_brand_avg(part: DataFrame) -> DataFrame:
    """Correlated-scalar-subquery shape (price > its brand's average),
    expressed as a window average — the decorrelated plan Catalyst would
    produce, with one shuffle on brand instead of a re-scanning subquery.

    Membership is decided in EXACT integers, never on a float average:
    price > mean(prices) ⟺ price_cents · n > Σ cents (prices carry
    exactly 2 decimals), so a part whose price equals its brand's true
    mean cannot flip sides on partial-sum order — the avg()-boundary
    membership flake class idle_customers_opportunity documents."""
    from pyspark.sql import Window

    w = Window.partitionBy("p_brand")
    cents = F.round(F.col("p_retailprice") * 100).cast("long")
    return (
        part.withColumn("cents", cents)
        .withColumn("brand_n", F.count("*").over(w))
        .withColumn("brand_cents", F.sum("cents").over(w))
        .where(F.col("cents") * F.col("brand_n") > F.col("brand_cents"))
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_above"),
            F.round(F.max("p_retailprice"), 2).alias("max_price"),
        )
        .orderBy("p_brand")
    )


ABOVE_AVG_ORACLE = """
SELECT p_brand, count(*) AS n_above, round(max(p_retailprice), 2) AS max_price
FROM part p
WHERE CAST(round(p.p_retailprice * 100) AS BIGINT)
      * (SELECT count(*) FROM part p2 WHERE p2.p_brand = p.p_brand)
      > (SELECT sum(CAST(round(p2.p_retailprice * 100) AS BIGINT))
         FROM part p2 WHERE p2.p_brand = p.p_brand)
GROUP BY p_brand
ORDER BY p_brand
"""


def customer_order_gaps(orders: DataFrame) -> DataFrame:
    """lag + date arithmetic: average days between a customer's consecutive
    orders, for customers with ≥ 5 orders.

    The 2dp average is computed by HALF-UP INTEGER division over the
    integer day-sum ((200·S + g) div (2g), g = non-null gap count, the
    avg() denominator) — round(avg(int)) has 3rd-decimal ties (e.g.
    281/40 = 7.025) that Spark's BigDecimal round and DuckDB's raw-double
    round resolve differently."""
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = orders.withColumn(
        "gap_days",
        F.datediff(
            F.to_date("o_orderdate"), F.to_date(F.lag("o_orderdate").over(w))
        ),
    )
    return (
        gaps.groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("gap_days").alias("s"),
            F.count("gap_days").alias("g"),
        )
        .where(F.col("n_orders") >= 5)
        .select(
            "o_custkey",
            "n_orders",
            (F.expr("(200 * s + g) div (2 * g)") / 100.0).alias("avg_gap_days"),
        )
        .orderBy("o_custkey")
    )


ORDER_GAPS_ORACLE = """
WITH gaps AS (
  SELECT o_custkey,
         date_diff('day',
                   CAST(lag(o_orderdate) OVER (PARTITION BY o_custkey
                        ORDER BY o_orderdate, o_orderkey) AS DATE),
                   CAST(o_orderdate AS DATE)) AS gap_days
  FROM orders
)
SELECT o_custkey,
       count(*) AS n_orders,
       ((200 * sum(gap_days) + count(gap_days))
        // (2 * count(gap_days))) / 100.0 AS avg_gap_days
FROM gaps
GROUP BY o_custkey
HAVING count(*) >= 5
ORDER BY o_custkey
"""


def promo_revenue_by_month(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q14 shape: share of revenue from PROMO parts per ship month.
    Conditional aggregation over a fact-dim join; part broadcasts.

    Revenue runs in the nation_trade_flows EXACT units (cents × (100 −
    discount_pct), an order-independent BIGINT sum); total_revenue and
    promo_pct then round by half-up INTEGER division — the float-sum
    half-cent-boundary and ratio-tie flake classes can't occur. The
    20000·promo_u term stays in BIGINT range while a month's revenue is
    below ~$46B (4.6e14 u); past that, cast the ratio to decimal(38,0).
    """
    u = revenue_units()
    return (
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("month"))
        .agg(
            F.sum(
                F.when(F.col("p_type").startswith("PROMO"), u).otherwise(F.lit(0))
            ).alias("promo_u"),
            F.sum(u).alias("total_u"),
        )
        .select(
            "month",
            (
                F.expr("(20000 * promo_u + total_u) div (2 * total_u)") / 100.0
            ).alias("promo_pct"),
            units_to_revenue("total_u").alias("total_revenue"),
        )
        .orderBy("month")
    )


PROMO_REVENUE_ORACLE = """
WITH m AS (
  SELECT strftime(CAST(l_shipdate AS DATE), '%Y-%m') AS month,
         sum(CASE WHEN p_type LIKE 'PROMO%'
                  THEN CAST(round(l_extendedprice * 100) AS BIGINT)
                       * (100 - CAST(round(l_discount * 100) AS BIGINT))
                  ELSE 0 END) AS promo_u,
         sum(CAST(round(l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS total_u
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  GROUP BY 1
)
SELECT month,
       ((20000 * promo_u + total_u) // (2 * total_u)) / 100.0 AS promo_pct,
       ((total_u + 50) // 100) / 100.0 AS total_revenue
FROM m
ORDER BY month
"""


def supplier_part_variety(
    lineitem: DataFrame, part: DataFrame, supplier: DataFrame
) -> DataFrame:
    """TPC-H Q16 shape: distinct suppliers shipping each (brand, size band),
    excluding suppliers in bad standing (NOT IN → broadcast anti-join).
    The supplier link comes from lineitem (the fixtures carry no partsupp)."""
    excluded = supplier.where(F.col("s_acctbal") < 0).select("s_suppkey")
    size_band = (
        (F.floor((F.col("p_size") - 1) / 10) * 10 + 1).cast("int").alias("size_band")
    )
    return (
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .join(
            F.broadcast(excluded),
            lineitem.l_suppkey == excluded.s_suppkey,
            "left_anti",
        )
        .groupBy("p_brand", size_band)
        .agg(F.countDistinct("l_suppkey").alias("n_suppliers"))
        .orderBy(F.desc("n_suppliers"), "p_brand", "size_band")
    )


SUPPLIER_VARIETY_ORACLE = """
SELECT p_brand,
       CAST(floor((p_size - 1) / 10) * 10 + 1 AS INTEGER) AS size_band,
       count(DISTINCT l_suppkey) AS n_suppliers
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2
ORDER BY n_suppliers DESC, p_brand, size_band
"""


def large_quantity_orders(
    customer: DataFrame, orders: DataFrame, lineitem: DataFrame, min_qty: int = 180
) -> DataFrame:
    """TPC-H Q18 shape: top-100 big-ticket orders whose total line quantity
    exceeds a threshold. The HAVING pre-aggregate reduces lineitem to
    qualifying orderkeys BEFORE the 3-way join — the order that keeps the
    join build sides small at scale."""
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .where(F.col("sum_qty") > min_qty)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.col("o_orderdate").cast("string").alias("o_orderdate"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.round("sum_qty", 1).alias("sum_qty"),
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


LARGE_ORDERS_ORACLE = """
SELECT c_custkey, c_name, o_orderkey,
       CAST(o_orderdate AS VARCHAR)  AS o_orderdate,
       round(o_totalprice, 2)        AS o_totalprice,
       round(sum(l_quantity), 1)     AS sum_qty
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
HAVING sum(l_quantity) > 180
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


def disjunctive_brand_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q19 shape: revenue under an OR of three brand/size/quantity
    conjunctions. One scan of each table: the disjunction is a single
    post-join filter Catalyst can partially push (common l_quantity bounds
    reach the lineitem scan)."""
    cond = (
        (
            (F.col("p_brand") == "Brand#11")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#22")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 35)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(25, 50)
            & F.col("l_quantity").between(20, 50)
        )
    )
    u = revenue_units()
    return (
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .where(cond)
        .groupBy("p_brand")
        # exact-units revenue sum (nation_trade_flows discipline): a float
        # sum near a half-cent boundary rounds differently across engines.
        .agg(F.count("*").alias("n_lines"), F.sum(u).alias("u"))
        .select(
            "p_brand",
            "n_lines",
            units_to_revenue("u").alias("revenue"),
        )
        .orderBy("p_brand")
    )


DISJUNCTIVE_ORACLE = """
SELECT p_brand, count(*) AS n_lines,
       ((sum(CAST(round(l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(round(l_discount * 100) AS BIGINT))) + 50) // 100)
       / 100.0 AS revenue
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#22' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 35)
   OR (p_brand = 'Brand#3'  AND p_size BETWEEN 25 AND 50 AND l_quantity BETWEEN 20 AND 50)
GROUP BY p_brand
ORDER BY p_brand
"""


def order_value_deciles(orders: DataFrame) -> DataFrame:
    """ntile window: decile boundaries and averages of order totalprice.
    Deterministic tie-break on o_orderkey so both engines tile identically.

    Scale note: an unpartitioned window funnels all rows through one task —
    exact and oracle-checkable here, but at 100 TB you'd swap the ntile for
    approx_percentile boundary cuts (plans/approx.py shows the sketch path)
    and keep this shape only for per-key windows."""
    from pyspark.sql import Window

    w = Window.orderBy("o_totalprice", "o_orderkey")
    return (
        orders.withColumn("decile", F.ntile(10).over(w))
        .withColumn("cents", F.round(F.col("o_totalprice") * 100).cast("long"))
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
            F.sum("cents").alias("s"),
        )
        .select(
            "decile",
            "n_orders",
            "lo",
            "hi",
            # half-up integer division: round(avg) of 2dp values has
            # 3rd-decimal ties that split the engines (nation_trade_flows
            # discipline).
            (F.expr("(2 * s + n_orders) div (2 * n_orders)") / 100.0).alias(
                "avg_price"
            ),
        )
        .orderBy("decile")
    )


DECILES_ORACLE = """
SELECT decile, count(*) AS n_orders,
       round(min(o_totalprice), 2) AS lo,
       round(max(o_totalprice), 2) AS hi,
       ((2 * sum(cents) + count(*)) // (2 * count(*))) / 100.0 AS avg_price
FROM (
  SELECT o_totalprice,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
  FROM orders
)
GROUP BY decile
ORDER BY decile
"""


def latest_event_per_user(events: DataFrame) -> DataFrame:
    """Changelog compaction (the upsert/CDC pattern): keep each key's
    newest record — row_number over (key, ts desc) with event_id as the
    deterministic tie-break. This is the batch shape of a MERGE latest-wins
    compaction; at scale it is one shuffle on the key, and with the input
    bucketed by user_id (sinks/bucketed.py) it is shuffle-free."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        events.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            "event_id",
            F.col("ts").cast("string").alias("ts"),
            "event_type",
            F.round("value", 3).alias("value"),
        )
        .orderBy("user_id")
    )


LATEST_EVENT_ORACLE = """
SELECT user_id, event_id, CAST(ts AS VARCHAR) AS ts, event_type,
       round(value, 3) AS value
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
ORDER BY user_id
"""


def hourly_event_gapfill(events: DataFrame) -> DataFrame:
    """Dense hourly series per event_type: zero-filled counts for every
    hour in [min(ts), max(ts)], the gap-fill/resample shape dashboards and
    feature pipelines need (a groupBy alone silently drops empty hours).

    The calendar is sequence()-generated from the global min/max — two
    scalar aggregates broadcast via a cross join of one row — then
    left-joined with the per-hour counts. Calendar size is bounded by the
    time span, not the event count, so the explode stays tiny at any
    scale; the real data passes through one hash aggregate."""
    hours = events.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    ).select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hour")
    )
    types = events.select("event_type").distinct()
    # value carries exactly 3 decimals in the fixtures, so the sum runs
    # on exact 1e-3-scaled BIGINTs (order-independent) and the one
    # /1000.0 at the edge is deterministic — a float sum near a
    # 0.0005 boundary rounds differently across engines.
    counts = events.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(
        F.count("*").alias("n"),
        (
            F.sum(F.round(F.col("value") * 1000).cast("long")) / 1000.0
        ).alias("sum_value"),
    )
    return (
        hours.crossJoin(types)
        .join(counts, ["hour", "event_type"], "left")
        .select(
            F.col("hour").cast("string").alias("hour"),
            "event_type",
            F.coalesce("n", F.lit(0)).alias("n"),
            F.coalesce("sum_value", F.lit(0.0)).alias("sum_value"),
        )
        .orderBy("hour", "event_type")
    )


GAPFILL_ORACLE = """
WITH bounds AS (
  SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
  FROM events
),
hours AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM bounds
),
types AS (SELECT DISTINCT event_type FROM events),
counts AS (
  SELECT date_trunc('hour', ts) AS hour, event_type,
         count(*) AS n,
         sum(CAST(round(value * 1000) AS BIGINT)) / 1000.0 AS sum_value
  FROM events GROUP BY 1, 2
)
SELECT CAST(h.hour AS VARCHAR) AS hour, t.event_type AS event_type,
       coalesce(c.n, 0) AS n, coalesce(c.sum_value, 0.0) AS sum_value
FROM hours h
CROSS JOIN types t
LEFT JOIN counts c ON c.hour = h.hour AND c.event_type = t.event_type
ORDER BY hour, t.event_type
"""


def event_gap_detection(events: DataFrame, min_gap_s: int = 86400) -> DataFrame:
    """Per-user inactivity gaps: consecutive-event deltas above a
    threshold — lag over (user_id, ts) then filter. The batch shape of
    session-timeout / outage detection (the streaming twin is the
    applyInPandasWithState gap detector in streaming/); one shuffle on
    user_id, the window never materializes more than one previous row.

    Sub-second handling: both engines compare second-truncated timestamps
    (unix_timestamp here, date_diff('second') in the oracle), so a gap is
    whole elapsed seconds — portable across engines and stable under the
    fixture's microsecond jitter.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # prev is bound BEFORE the filter: a window expression placed after the
    # where() would lag over the already-filtered rows and misreport
    # gap_start.
    gapped = events.withColumn("prev", F.lag("ts").over(w)).withColumn(
        "gap_s", F.unix_timestamp("ts") - F.unix_timestamp("prev")
    )
    return (
        gapped.where(F.col("gap_s") > min_gap_s)
        .select(
            "user_id",
            F.col("prev").cast("string").alias("gap_start"),
            F.col("ts").cast("string").alias("gap_end"),
            "gap_s",
        )
        .orderBy("user_id", "gap_end")
    )


EVENT_GAP_ORACLE = """
WITH g AS (
  SELECT user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
         date_diff('second',
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                   ts) AS gap_s
  FROM events
)
SELECT user_id,
       CAST(prev AS VARCHAR) AS gap_start,
       CAST(ts AS VARCHAR)   AS gap_end,
       gap_s
FROM g
WHERE gap_s > 86400
ORDER BY user_id, gap_end
"""


def waiting_suppliers(
    supplier: DataFrame, lineitem: DataFrame, orders: DataFrame, nation: DataFrame
) -> DataFrame:
    """TPC-H Q21 shape adapted to this schema (the fixture carries no
    commit/receipt dates, so "kept the order waiting" becomes "was the
    ONLY supplier with returned items on a multi-supplier finished
    order"): a double-correlated EXISTS / NOT EXISTS over the same fact
    table, decorrelated into one semi-join and one anti-join on
    (orderkey, suppkey ≠). The dims broadcast; the two correlated probes
    shuffle on l_orderkey only.
    """
    l1 = lineitem.where(F.col("l_returnflag") == "R").alias("l1")
    o = orders.where(F.col("o_orderstatus") == "F").alias("o")
    l2 = lineitem.alias("l2")
    l3 = lineitem.where(F.col("l_returnflag") == "R").alias("l3")
    base = l1.join(o, F.col("l1.l_orderkey") == F.col("o.o_orderkey"))
    with_other = base.join(
        l2,
        (F.col("l2.l_orderkey") == F.col("l1.l_orderkey"))
        & (F.col("l2.l_suppkey") != F.col("l1.l_suppkey")),
        "left_semi",
    )
    only_r = with_other.join(
        l3,
        (F.col("l3.l_orderkey") == F.col("l1.l_orderkey"))
        & (F.col("l3.l_suppkey") != F.col("l1.l_suppkey"))
        & (F.col("l3.l_returnflag") == "R"),
        "left_anti",
    )
    return (
        only_r.join(F.broadcast(supplier), F.col("l1.l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("s_name", "n_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


WAITING_SUPPLIERS_ORACLE = """
SELECT s_name, n_name, count(*) AS numwait
FROM lineitem l1
JOIN orders   ON o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
JOIN supplier ON s_suppkey = l1.l_suppkey
JOIN nation   ON n_nationkey = s_nationkey
WHERE l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY s_name, n_name
ORDER BY numwait DESC, s_name
LIMIT 20
"""


def idle_customers_opportunity(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """TPC-H Q22 shape adapted (no phone country codes in this schema —
    the grouping key is the market segment): customers with an
    above-average positive balance who have never placed an URGENT order
    (every fixture customer has ordered at least once, so the classic
    no-orders-at-all predicate selects nothing; the urgent-order variant
    keeps the scalar-subquery + anti-join shape AND a non-trivial result).

    Engine-portable by construction: balances are exact integer cents, and
    the above-average test is `cents * n > total_cents` — pure bigint
    arithmetic on both engines, immune to the avg()-boundary divergences
    this repo has hit twice (a float avg threshold flips membership for
    any balance within 1 ulp of it). The global aggregate rides in as a
    broadcast single-row frame (the scale-correct scalar-subquery plan; a
    global window would funnel every row through one partition).
    """
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    c = customer.select("c_custkey", "c_mktsegment", cents.alias("cents"))
    totals = (
        c.where(F.col("cents") > 0)
        .agg(F.sum("cents").alias("s"), F.count("*").alias("n"))
    )
    return (
        c.crossJoin(F.broadcast(totals))
        .where(F.col("cents") * F.col("n") > F.col("s"))
        .join(
            orders.where(F.col("o_orderpriority") == "1-URGENT"),
            c.c_custkey == orders.o_custkey,
            "left_anti",
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_custs"),
            (F.sum("cents") / 100.0).alias("total_bal"),
        )
        .orderBy("c_mktsegment")
    )


IDLE_CUSTOMERS_ORACLE = """
WITH c AS (
  SELECT c_custkey, c_mktsegment,
         CAST(round(c_acctbal * 100) AS BIGINT) AS cents
  FROM customer
),
t AS (
  SELECT CAST(sum(cents) AS BIGINT) AS s, count(*) AS n
  FROM c WHERE cents > 0
)
SELECT c_mktsegment,
       count(*) AS n_custs,
       CAST(sum(cents) AS BIGINT) / 100.0 AS total_bal
FROM c, t
WHERE c.cents * t.n > t.s
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c.c_custkey
                    AND o_orderpriority = '1-URGENT')
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


def value_outliers(events: DataFrame, z: float = 3.0) -> DataFrame:
    """Per-event-type z-score outlier census — the value-sanity gate a
    training pipeline runs before trusting a numeric column (points more
    than z sample-standard-deviations from the type mean).

    Two passes over one scan lineage: a per-type moments aggregate
    (type-cardinality rows, broadcast back) then a map-side flag + count.
    Both engines compute stddev_samp over the identical double set, so
    the z comparison agrees except for points within float-ulp of the
    threshold — impossible-in-practice for continuous measures (the same
    determinism argument as the verify notes' 'continuous measures are
    safe' rule; boundary-exact synthetic data would need the scaled-int
    pattern instead). Pre-rounding the gap (ADVICE r7) was considered and
    rejected: `round(gap, 6) > 0` merely moves the single divergence
    boundary from 0 to 5e-7 without shrinking its measure, so the honest
    fix for boundary-exact fixtures remains scaled-int, not rounding.
    """
    stats = events.groupBy("event_type").agg(
        F.avg("value").alias("mu"),
        F.stddev("value").alias("sigma"),
        F.count("*").alias("n_events"),
    )
    flagged = events.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "n_events",
        "mu",
        "sigma",
        (
            F.abs(F.col("value") - F.col("mu"))
            > F.lit(z) * F.coalesce(F.col("sigma"), F.lit(0.0))
        ).cast("long").alias("is_outlier"),
    )
    return (
        flagged.groupBy("event_type")
        .agg(
            F.first("n_events").alias("n_events"),
            F.sum("is_outlier").alias("n_outliers"),
            F.round(F.first("mu"), 4).alias("mean_value"),
            # single-event groups have NULL stddev_samp; the engine-wide
            # no-NULL output policy (verify notes) coalesces it to 0.0
            F.round(F.coalesce(F.first("sigma"), F.lit(0.0)), 4).alias(
                "stddev_value"
            ),
        )
        .orderBy("event_type")
    )


VALUE_OUTLIERS_ORACLE = """
WITH stats AS (
  SELECT event_type,
         avg(value) AS mu,
         stddev_samp(value) AS sigma,
         count(*) AS n_events
  FROM events GROUP BY event_type
)
SELECT e.event_type,
       CAST(max(s.n_events) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN abs(e.value - s.mu) > 3.0 * coalesce(s.sigma, 0.0)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       round(max(s.mu), 4) AS mean_value,
       round(coalesce(max(s.sigma), 0.0), 4) AS stddev_value
FROM events e JOIN stats s USING (event_type)
GROUP BY e.event_type
ORDER BY e.event_type
"""


def daily_revenue_anomalies(orders: DataFrame) -> DataFrame:
    """Seasonal anomaly census: each day's revenue against its
    day-of-week baseline (mean ± 2·stddev over the corpus) — the
    ops-dashboard alert a revenue pipeline runs nightly.

    Two aggregates over one scan lineage: day-keyed cent sums (exact
    BIGINTs; double sums of cent-integers stay exact below 2^53 so the
    mean is engine-identical), then a 7-row day-of-week baseline joined
    back by broadcast. The 2σ gate shares value_outliers' continuous-
    measure determinism argument (σ carries last-ulp wobble; integer
    cents sit on a boundary with probability ~0). Output is every day
    with its flag, so the differential never depends on which side of a
    boundary a single day falls… the flag itself does, which is why the
    inputs are integer cents, not floats.

    Day-of-week convention: 0 = Sunday on both engines (Spark
    dayofweek()−1, DuckDB date_part('dow')).
    """
    daily = (
        orders.select(
            F.to_date("o_orderdate").alias("day"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("day")
        .agg(F.sum("cents").alias("cents"))
    )
    base = (
        daily.select(
            (F.dayofweek("day") - 1).alias("dow"), "cents"
        )
        .groupBy("dow")
        .agg(
            F.avg("cents").alias("mu"),
            F.sum("cents").alias("s"),
            F.count("cents").alias("cnt"),
            F.stddev("cents").alias("sigma"),
        )
    )
    return (
        daily.select((F.dayofweek("day") - 1).alias("dow"), "day", "cents")
        .join(F.broadcast(base), "dow")
        .select(
            "day",
            F.round(F.col("cents") / 100.0, 2).alias("revenue"),
            F.col("dow").cast("int").alias("dow"),
            # dow_mean by half-up integer division: round(S/(100n)) at
            # 2dp ties at the half-cent (the float avg round flake
            # class); the anomaly gate below keeps the float mu — both
            # engines derive the identical double from identical ints.
            (F.expr("(2 * s + cnt) div (2 * cnt)") / 100.0).alias("dow_mean"),
            (
                F.abs(F.col("cents") - F.col("mu"))
                > F.lit(2.0) * F.coalesce(F.col("sigma"), F.lit(0.0))
            )
            .cast("long")
            .alias("is_anomaly"),
        )
        .orderBy("day")
    )


DAILY_REVENUE_ANOMALIES_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1
), base AS (
  SELECT date_part('dow', day) AS dow,
         avg(cents) AS mu,
         CAST(sum(cents) AS BIGINT) AS s,
         count(cents) AS cnt,
         stddev_samp(cents) AS sigma
  FROM daily GROUP BY 1
)
SELECT d.day,
       round(d.cents / 100.0, 2) AS revenue,
       CAST(b.dow AS INTEGER) AS dow,
       ((2 * b.s + b.cnt) // (2 * b.cnt)) / 100.0 AS dow_mean,
       CAST(CASE WHEN abs(d.cents - b.mu) > 2.0 * coalesce(b.sigma, 0.0)
            THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
FROM daily d JOIN base b ON date_part('dow', d.day) = b.dow
ORDER BY d.day
"""


def supplier_balance_percentiles(supplier: DataFrame) -> DataFrame:
    """Rank-family window coverage (percent_rank + cume_dist): every
    supplier's balance rank WITHIN its nation plus a top-quartile flag —
    (s_nationkey, s_suppkey, s_acctbal, pct_rank, cume, top_quartile).

    Shape: one nation-keyed window sort (the shuffle is keyed on the
    partition column; per-nation state is the sort run, spillable), then
    a map-side filter. percent_rank/cume_dist are exact rationals
    ((rank−1)/(n−1), rank/n) computed identically by both engines, so the
    4dp rounding and the >= 0.75 flag are deterministic. The flag is a
    column rather than a filter so the differential exercises every
    partition size — at sf0.001 each nation holds exactly one supplier
    and both engines define the degenerate ranks as (0.0, 1.0) — unlike a gate on
    a float aggregate, no partial-sum wobble exists here.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("s_nationkey").orderBy("s_acctbal")
    ranked = supplier.select(
        "s_nationkey",
        "s_suppkey",
        F.round("s_acctbal", 2).alias("s_acctbal"),
        F.round(F.percent_rank().over(w), 4).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 4).alias("cume"),
    )
    return ranked.withColumn(
        "top_quartile", (F.col("pct_rank") >= 0.75).cast("long")
    ).orderBy("s_nationkey", "s_suppkey")


BALANCE_PERCENTILES_ORACLE = """
WITH ranked AS (
  SELECT s_nationkey, s_suppkey,
         round(s_acctbal, 2) AS s_acctbal,
         round(percent_rank() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal), 4)
           AS pct_rank,
         round(cume_dist() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal), 4)
           AS cume
  FROM supplier
)
SELECT *, CAST(CASE WHEN pct_rank >= 0.75 THEN 1 ELSE 0 END AS BIGINT) AS top_quartile
FROM ranked
ORDER BY s_nationkey, s_suppkey
"""


def monthly_metrics_unpivot(orders: DataFrame) -> DataFrame:
    """Wide→long reshape coverage (DataFrame.unpivot / SQL stack): monthly
    order KPIs pivoted into a (month, metric, value) fact stream — the
    shape dashboards and metric stores ingest.

    Shape: month-keyed aggregate over EXACT integer cents (the
    daily_revenue_anomalies discipline: cent sums are order-independent,
    so the 2dp rounding never flakes on partial-sum order), then unpivot
    — a map-only row expansion (3 rows per month, no shuffle).

    avg_price divides summed cents by the month's order count with
    HALF-UP INTEGER division ((2S + n) div (2n)) before the one exact
    /100.0: an avg of 2dp values has arbitrary-denominator rationals
    whose 3rd-decimal ties split Spark's BigDecimal round from DuckDB's
    raw-double round (the nation_trade_flows tie mechanism).
    """
    wide = (
        orders.select(
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("month")
        .agg(
            F.count("*").alias("n"),
            F.sum("cents").alias("cents"),
        )
        .select(
            "month",
            F.col("n").cast("double").alias("n_orders"),
            F.round(F.col("cents") / 100.0, 2).alias("revenue"),
            (F.expr("(2 * cents + n) div (2 * n)") / 100.0).alias("avg_price"),
        )
    )
    return wide.unpivot(
        ["month"], ["n_orders", "revenue", "avg_price"], "metric", "value"
    ).orderBy("month", "metric")


MONTHLY_UNPIVOT_ORACLE = """
WITH wide AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS month,
         count(*) AS n,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1
), metrics AS (
  SELECT month,
         CAST(n AS DOUBLE) AS n_orders,
         round(cents / 100.0, 2) AS revenue,
         ((2 * cents + n) // (2 * n)) / 100.0 AS avg_price
  FROM wide
)
SELECT month, metric, value FROM (
  SELECT month, 'n_orders' AS metric, n_orders AS value FROM metrics
  UNION ALL
  SELECT month, 'revenue', revenue FROM metrics
  UNION ALL
  SELECT month, 'avg_price', avg_price FROM metrics
)
ORDER BY month, metric
"""


def nation_trade_flows(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): revenue flowing from each
    supplier nation to each DIFFERENT customer nation per ship year —
    the classic two-role dimension join (nation joined twice under two
    aliases) over the full lineitem⨝orders⨝customer⨝supplier chain.

    Q7 proper fixes two nations; this generalizes to the full flow
    matrix so every nation pair lands in the differential. Both nation
    aliases broadcast unconditionally (25 rows at any SF); supplier is
    broadcast-eligible and left to AQE. The cross-nation filter runs
    BEFORE the nation-name joins — it needs only the two key columns
    already present after the supplier join, so mismatched rows never
    reach the broadcast probes.

    Revenue uses the exact-integer discipline one step further than the
    cents sums: price and discount both carry exactly 2 decimals, so
    cents × (100 − discount_pct) is an exact BIGINT per row and the sum
    is partial-order-independent — the flow matrix has enough groups
    that a float sum WILL land on a half-cent boundary somewhere (it
    did, at sf0.001, in this query's first draft). The half-cent tie
    that remains after exact summation is resolved by INTEGER half-up
    division ((u + 50) div 100): Spark's round() re-decimalizes the
    double via shortest-repr BigDecimal while DuckDB rounds the raw
    double, so a genuine ...*.485 tie splits the engines — integer
    division cannot.
    """
    n_supp = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n_cust = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .where(F.col("s_nationkey") != F.col("c_nationkey"))
        .join(F.broadcast(n_supp), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n_cust), F.col("c_nationkey") == F.col("c_nk"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(F.sum(revenue_units()).alias("u"))
        .select(
            "supp_nation",
            "cust_nation",
            "l_year",
            units_to_revenue("u").alias("revenue"),
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


NATION_TRADE_FLOWS_ORACLE = """
SELECT ns.n_name AS supp_nation,
       nc.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INTEGER) AS l_year,
       ((CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                  * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
         + 50) // 100) / 100.0 AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey  = c_custkey
JOIN supplier ON l_suppkey  = s_suppkey
JOIN nation ns ON s_nationkey = ns.n_nationkey
JOIN nation nc ON c_nationkey = nc.n_nationkey
WHERE s_nationkey <> c_nationkey
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


def trailing_30d_revenue(orders: DataFrame) -> DataFrame:
    """Per-day order revenue with a TRAILING 30-DAY RANGE-frame mean:
    the frame is bounded by date VALUE (days 29-back through today),
    not row count — on a calendar with gaps the two frames differ, and
    the RANGE form is the correct 'last 30 days' semantics
    (daily_revenue_moving_avg covers the ROWS form).

    Revenue is integer cents; the windowed mean divides summed cents by
    the frame's day COUNT with half-up integer division before the one
    exact /100.0 — the corpus_curation scaled-int discipline, since a
    mean of 2dp values lands exactly on rounding boundaries. The window
    orders by epoch-day int; one day-keyed aggregate precedes it, so
    the global window runs over |days| aggregated rows.
    """
    from pyspark.sql.window import Window

    daily = (
        orders.groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "cents"
            )
        )
        .withColumn("epoch_day", F.datediff("day", F.lit("1970-01-01")).cast("long"))
    )
    w = Window.orderBy("epoch_day").rangeBetween(-29, 0)
    return (
        daily.withColumn("sum_c", F.sum("cents").over(w))
        .withColumn("n_days", F.count("cents").over(w).cast("long"))
        .select(
            "day",
            (F.col("cents") / 100.0).alias("day_revenue"),
            "n_days",
            (
                F.expr("(sum_c + n_days div 2) div n_days") / 100.0
            ).alias("trailing_30d_avg"),
        )
        .orderBy("day")
    )


TRAILING_30D_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents,
         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
           AS epoch_day
  FROM orders GROUP BY 1, 3
), win AS (
  SELECT day, cents,
         sum(cents) OVER (ORDER BY epoch_day
                          RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)
           AS sum_c,
         count(cents) OVER (ORDER BY epoch_day
                            RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)
           AS n_days
  FROM daily
)
SELECT day, cents / 100.0 AS day_revenue, CAST(n_days AS BIGINT) AS n_days,
       ((sum_c + n_days // 2) // n_days) / 100.0 AS trailing_30d_avg
FROM win ORDER BY day
"""


def star_revenue_rollup(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
) -> DataFrame:
    """Star-schema revenue ROLLUP over (year → customer nation → market
    segment): the OLAP-cube materialization a BI layer schedules nightly,
    with every subtotal level in one pass.

    Plan shape: the dimension chain customer⨝nation is broadcast into
    the lineitem⨝orders fact join (the only fact-sized shuffle), then
    ONE Expand-based rollup aggregate produces all four grouping levels
    — never one scan per level. Revenue is made tie-proof by scaling to
    integral cents PER ROW (round(vol·100) — the same double rounds the
    same way in both engines) so every subtotal is an exact BIGINT sum
    regardless of aggregation order; subtotal NULL keys are rewritten to
    'ALL' per the engine's no-NULL output policy.
    """
    dim = customer.join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        customer["c_nationkey"] == F.col("n_nationkey"),
    ).select("c_custkey", "n_name", "c_mktsegment")
    facts = (
        lineitem.select(
            "l_orderkey",
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            )
            .cast("long")
            .alias("vol_cents"),
        )
        .join(
            orders.select("o_orderkey", "o_custkey", F.year("o_orderdate").alias("year")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(dim), F.col("o_custkey") == F.col("c_custkey"))
    )
    return (
        facts.rollup("year", "n_name", "c_mktsegment")
        .agg(
            F.when(F.grouping("year") == 1, F.lit("ALL"))
            .otherwise(F.col("year").cast("string"))
            .alias("year_label"),
            F.when(F.grouping("n_name") == 1, F.lit("ALL"))
            .otherwise(F.col("n_name"))
            .alias("nation"),
            F.when(F.grouping("c_mktsegment") == 1, F.lit("ALL"))
            .otherwise(F.col("c_mktsegment"))
            .alias("segment"),
            (F.sum("vol_cents") / 100.0).alias("revenue"),
            F.count("*").cast("long").alias("n_lineitems"),
        )
        .select(
            F.col("year_label").alias("year"),
            "nation",
            "segment",
            "revenue",
            "n_lineitems",
        )
        .orderBy("year", "nation", "segment")
    )


STAR_REVENUE_ROLLUP_ORACLE = """
SELECT CASE WHEN GROUPING(year) = 1 THEN 'ALL' ELSE CAST(year AS VARCHAR) END AS year,
       CASE WHEN GROUPING(n_name) = 1 THEN 'ALL' ELSE n_name END AS nation,
       CASE WHEN GROUPING(c_mktsegment) = 1 THEN 'ALL' ELSE c_mktsegment END AS segment,
       sum(vol_cents) / 100.0 AS revenue,
       CAST(count(*) AS BIGINT) AS n_lineitems
FROM (
  SELECT year(o_orderdate) AS year, n_name, c_mktsegment,
         CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS vol_cents
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
)
GROUP BY ROLLUP (year, n_name, c_mktsegment)
ORDER BY year, nation, segment
"""


def props_variant_census(events: DataFrame) -> DataFrame:
    """Semi-structured analytics over the VARIANT type (Spark 4): parse
    the props JSON string ONCE into a variant column, then typed-path
    extraction (variant_get with a target type) feeds ordinary
    aggregates — the modern engine's answer to schemaless columns,
    replacing per-access get_json_object string re-parsing (the
    events_json_stats formulation this query modernizes).

    At 100 TB the variant binary encoding is the storage/scan win:
    parsed once at ingest, shredded into columnar form by the writer,
    and path access never re-tokenizes JSON text. Integer aggregates
    keep the differential exact.
    """
    v = F.parse_json("props")
    k = F.variant_get(v, "$.k", "int")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.count("k").cast("long").alias("n_with_k"),
            # coalesce at the SUM: an all-NULL group (no row carries $.k)
            # must yield 0, matching the oracle's CASE/coalesce — and the
            # engine-wide no-NULL output policy
            F.coalesce(F.sum("k"), F.lit(0)).cast("long").alias("sum_k"),
            F.coalesce(
                F.sum((F.col("k") % 2 == 0).cast("long")), F.lit(0)
            )
            .cast("long")
            .alias("n_even_k"),
        )
        .orderBy("event_type")
    )


PROPS_VARIANT_ORACLE = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(k) AS BIGINT) AS n_with_k,
       CAST(coalesce(sum(k), 0) AS BIGINT) AS sum_k,
       CAST(sum(CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_even_k
FROM (
  SELECT event_type,
         CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
  FROM events
)
GROUP BY event_type
ORDER BY event_type
"""


def subtree_rollup(documents: DataFrame) -> DataFrame:
    """Hierarchical (recursive-CTE-family) rollup: documents form a
    10-ary tree via parent(n) = n div 10 (root 0), and every node gets
    its SUBTREE totals — descendant count and total text chars,
    descendants including itself. The org-chart / category-tree rollup
    shape SQL writes as WITH RECURSIVE (the oracle does exactly that);
    Spark has no recursive CTE, so this is the Spark-first equivalent.

    Shape: the ancestor closure is a BOUNDED UNION of ceil(log10(max_id))
    parent-jump projections — one scalar agg picks the depth bound, then
    the whole closure + rollup is ONE declarative job (no per-round
    actions, no loop state): closure size is n·depth rows (~5n at a
    10-ary fan-out), shuffled once on the ancestor key. At 100 TB the
    same plan holds — depth grows logarithmically, and each jump is a
    map-only projection, not a join (the parent function is arithmetic;
    a stored parent-pointer table would use log-round pointer doubling
    instead). Ancestors are kept only if they exist as real nodes
    (semi-join), so sparse id spaces don't invent virtual nodes.

    The (node, chars) projection is materialized ONCE (eager
    localCheckpoint, n fixed-width rows): without it every union branch
    and both join sides re-scan the corpus parquet — 9 scans in the
    executed plan — because Spark reuses exchanges, not scans.
    """
    d = documents.select(
        F.col("doc_id").cast("long").alias("node"),
        F.length("text").cast("long").alias("chars"),
    ).localCheckpoint(eager=True)
    # bounded collect: one scalar (the depth bound), sketch-grid class
    max_id = d.agg(F.max("node")).collect()[0][0] or 0
    rounds = max(len(str(max_id)), 1)
    levels = [d.select("node", F.col("node").alias("anc"))]
    frontier = d.select(
        "node", F.expr("case when node > 0 then node div 10 end").alias("anc")
    ).where(F.col("anc").isNotNull())
    for _ in range(rounds):
        levels.append(frontier)
        frontier = frontier.select(
            "node", F.expr("case when anc > 0 then anc div 10 end").alias("anc")
        ).where(F.col("anc").isNotNull())
    closure = levels[0]
    for lv in levels[1:]:
        closure = closure.unionByName(lv)
    return (
        closure.join(d, "node")
        .join(
            d.select(F.col("node").alias("anc")), "anc", "left_semi"
        )
        .groupBy("anc")
        .agg(F.count("*").alias("n_desc"), F.sum("chars").alias("subtree_chars"))
        .select(F.col("anc").alias("node"), "n_desc", "subtree_chars")
        .orderBy("node")
    )


SUBTREE_ROLLUP_ORACLE = """
WITH RECURSIVE anc AS (
  SELECT doc_id AS node, doc_id AS anc FROM documents
  UNION ALL
  SELECT node, anc // 10 FROM anc WHERE anc > 0
)
SELECT a.anc AS node,
       count(*) AS n_desc,
       CAST(sum(length(d.text)) AS BIGINT) AS subtree_chars
FROM anc a
JOIN documents d ON d.doc_id = a.node
WHERE a.anc IN (SELECT doc_id FROM documents)
GROUP BY a.anc
ORDER BY node
"""
