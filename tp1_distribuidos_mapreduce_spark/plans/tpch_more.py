"""Remaining TPC-H-shaped classics over the fixture's (partsupp-less)
schema, plus entity-resolution and concurrency analytics: Q4 (correlated
EXISTS), Q13 (custdist outer-join distribution), Q17 (small-quantity
revenue vs per-part average), Q8 (market-share matrix), a blocked
Levenshtein fuzzy-match self-join, and a sweep-line maximum-concurrency
query.

Reference scope note: the reference engine (kmu01/TP1-Distribuidos-
MapReduce) exposes a generic map/reduce plugin surface (rpc/work.proto,
plugins/wc/wc.go) — every query here is a composition its users would
hand-write as plugins; here each is one declarative Catalyst plan.

Scale shapes (100 TB):
- Q4/Q17 keep the correlated side as an equi-join on the key with the
  inequality as a post-join filter — Spark plans LEFT SEMI / broadcast
  hash joins, never a nested loop.
- Q13 is the canonical outer-join + double aggregate; both aggregates
  have map-side partials.
- Q8's dimension chain (customer→nation→region, supplier→nation) is
  broadcast end-to-end; only the lineitem⨝orders join shuffles.
- The fuzzy match BLOCKS (same noun token) before the quadratic
  Levenshtein verify, the standard ER blocking pattern — the self-join
  is per-block, never corpus×corpus.
- Max-concurrency partitions the sweep line by day so no single window
  partition carries the whole timeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .relational import revenue_units, units_to_revenue


# --------------------------------------------------------------------------
# Q4: order-priority check — EXISTS with a correlated date inequality
# --------------------------------------------------------------------------


def q4_order_priority(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Orders (in 1996) having at least one line item shipped more than
    60 days after the order date, counted per priority — TPC-H Q4 with
    the fixture's l_shipdate standing in for the missing
    l_commitdate/l_receiptdate pair.

    Plan shape: the correlated EXISTS becomes a LEFT SEMI equi-join on
    l_orderkey with the date inequality as a join-side filter; the year
    filter prunes orders before the shuffle and Catalyst pushes the
    lineitem column prune to the scan (only l_orderkey + l_shipdate are
    read). The 60-day cutoff is full-TIMESTAMP interval arithmetic
    (o_orderdate + INTERVAL 60 DAYS, no to_date truncation) so it stays
    exact for fixtures whose order dates carry a time-of-day component.
    """
    o = orders.where(F.year("o_orderdate") == 1996)
    late = o.join(
        lineitem.select("l_orderkey", "l_shipdate"),
        on=[
            o["o_orderkey"] == F.col("l_orderkey"),
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
        ],
        how="left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").cast("long").alias("order_count"))
        .orderBy("o_orderpriority")
    )


Q4_ORACLE = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders o
WHERE year(o_orderdate) = 1996
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# --------------------------------------------------------------------------
# Q13: customer order-count distribution (outer join + double aggregate)
# --------------------------------------------------------------------------


def q13_customer_distribution(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """How many customers placed exactly k orders (excluding low-priority
    ones), including the zero-order customers — TPC-H Q13.

    The LEFT OUTER join is what makes this a classic: the k=0 bucket
    only exists because customers with no qualifying orders survive the
    join with a NULL o_orderkey, which count("o_orderkey") ignores. Both
    aggregates are hash aggregates with map-side partials; the second
    one runs over at most |distinct k| ≪ |customers| rows.
    """
    per_cust = (
        customer.join(
            orders.where(F.col("o_orderpriority") != "5-LOW").select(
                "o_custkey", "o_orderkey"
            ),
            customer["c_custkey"] == F.col("o_custkey"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("long").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").cast("long").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


Q13_ORACLE = """
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
  GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


# --------------------------------------------------------------------------
# Q17: small-quantity-order revenue vs the per-part average
# --------------------------------------------------------------------------


def q17_small_quantity_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Average yearly revenue lost if small-quantity orders (below 20% of
    the part's average order quantity) for one brand went unfilled —
    TPC-H Q17.

    The correlated scalar subquery (per-part avg quantity) becomes a
    standalone aggregate joined back on l_partkey. Both the brand-pruned
    part dimension AND the per-part averages are part-cardinality —
    broadcast, so the probe over lineitem is map-side only and the only
    wide exchange is the aggregate's own partial→final step.

    The membership gate runs in EXACT integers: quantities are integral,
    so q < 0.2·(S/n) ⟺ 5·n·q < S — a float 0.2·avg threshold can flip a
    boundary row on partial-sum order (the avg()-membership flake
    class). avg_yearly likewise: cents summed as BIGINT, /7 rounded by
    half-up integer division."""
    brand_parts = part.where(F.col("p_brand") == "Brand#23").select("p_partkey")
    avg_qty = (
        lineitem.join(
            F.broadcast(brand_parts),
            lineitem["l_partkey"] == F.col("p_partkey"),
            "left_semi",
        )
        .groupBy("l_partkey")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("qty_sum"),
            F.count("*").alias("qty_n"),
        )
    )
    small = (
        lineitem.join(F.broadcast(avg_qty), "l_partkey")
        .where(
            F.lit(5) * F.col("qty_n") * F.col("l_quantity").cast("long")
            < F.col("qty_sum")
        )
    )
    return small.agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("c")
    ).select(
        # value = c/(100·7); 2dp round ⟺ round-half-up(c/7)/100
        (F.expr("(2 * c + 7) div 14") / 100.0).alias("avg_yearly")
    )


Q17_ORACLE = """
SELECT ((2 * sum(CAST(round(l_extendedprice * 100) AS BIGINT)) + 7) // 14)
       / 100.0 AS avg_yearly
FROM lineitem l
JOIN part ON p_partkey = l.l_partkey
WHERE p_brand = 'Brand#23'
  AND 5 * (SELECT count(*) FROM lineitem l2
           WHERE l2.l_partkey = l.l_partkey)
      * CAST(l.l_quantity AS BIGINT)
      < (SELECT sum(CAST(l2.l_quantity AS BIGINT)) FROM lineitem l2
         WHERE l2.l_partkey = l.l_partkey)
"""


# --------------------------------------------------------------------------
# Q8: market-share matrix — supplier-nation share of a region's revenue
# --------------------------------------------------------------------------


def q8_market_share(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
) -> DataFrame:
    """Each supplier nation's share of yearly revenue in the ASIA
    customer market — TPC-H Q8 generalized from one nation's share to
    the full (year × supp_nation) share matrix.

    Plan: the entire dimension chain (region→nation→customer on the
    market side, nation→supplier on the share side) is broadcast — the
    only shuffled join is lineitem⨝orders on orderkey, followed by one
    hash aggregate. Share = nation revenue / window-sum over the year:
    the window runs over |years × nations| aggregated rows, not data.
    """
    asia_customers = (
        customer.join(
            F.broadcast(
                nation.join(
                    F.broadcast(region.where(F.col("r_name") == "ASIA")),
                    nation["n_regionkey"] == F.col("r_regionkey"),
                ).select("n_nationkey")
            ),
            customer["c_nationkey"] == F.col("n_nationkey"),
            "left_semi",
        ).select("c_custkey")
    )
    supp_nation = supplier.join(
        F.broadcast(nation),
        supplier["s_nationkey"] == F.col("n_nationkey"),
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))

    rev = (
        lineitem.join(
            orders.join(
                F.broadcast(asia_customers),
                orders["o_custkey"] == F.col("c_custkey"),
                "left_semi",
            ).select("o_orderkey", F.year("o_orderdate").alias("o_year")),
            lineitem["l_orderkey"] == F.col("o_orderkey"),
        )
        .join(F.broadcast(supp_nation), lineitem["l_suppkey"] == F.col("s_suppkey"))
        .groupBy("o_year", "supp_nation")
        # exact-units nation revenue: the share then divides two exact
        # BIGINTs, identical on both engines (a float sum's partial-order
        # wobble would shift the ratio across a 5th-decimal boundary).
        .agg(F.sum(revenue_units()).alias("nation_u"))
    )
    total = Window.partitionBy("o_year")
    return (
        rev.withColumn("total_u", F.sum("nation_u").over(total))
        .select(
            "o_year",
            "supp_nation",
            # half-up integer division at 4dp: round(10^4·nu/tu).
            (
                F.expr("(20000 * nation_u + total_u) div (2 * total_u)") / 10000.0
            ).alias("mkt_share"),
        )
        .orderBy("o_year", "supp_nation")
    )


Q8_ORACLE = """
WITH rev AS (
  SELECT year(o_orderdate) AS o_year, n2.n_name AS supp_nation,
         sum(CAST(round(l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS nation_u
  FROM lineitem
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON n1.n_nationkey = c_nationkey
  JOIN region   ON r_regionkey = n1.n_regionkey AND r_name = 'ASIA'
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation n2 ON n2.n_nationkey = s_nationkey
  GROUP BY 1, 2
)
SELECT o_year, supp_nation,
       ((20000 * nation_u + total_u) // (2 * total_u)) / 10000.0 AS mkt_share
FROM (
  SELECT o_year, supp_nation, nation_u,
         sum(nation_u) OVER (PARTITION BY o_year) AS total_u
  FROM rev
)
ORDER BY o_year, supp_nation
"""


# --------------------------------------------------------------------------
# Entity resolution: blocked Levenshtein fuzzy self-match on part names
# --------------------------------------------------------------------------


def fuzzy_part_match(part: DataFrame, max_dist: int = 3) -> DataFrame:
    """Near-identical part-name pairs: same head noun (last token — the
    blocking key) and full-name Levenshtein distance ≤ ``max_dist``,
    keyed a<b so each unordered pair appears once.

    This is the standard entity-resolution shape: a cheap BLOCKING key
    cuts the candidate space from |parts|² to Σ|block|², then the
    expensive edit-distance verify runs only inside blocks. At 100 TB
    the block self-join shuffles on the blocking key; a skewed block
    (one noun dominating) would get the same salting treatment as
    operators/skew.py. Distinct p_name pairs — the same name pair
    repeated across part rows collapses, keeping output entity-shaped.
    """
    names = part.select(
        "p_name", F.element_at(F.split("p_name", " "), -1).alias("block")
    ).distinct()
    a = names.alias("a")
    b = names.alias("b")
    return (
        a.join(b, "block")
        .where(F.col("a.p_name") < F.col("b.p_name"))
        # bind the O(len²) edit distance to a column BEFORE filtering:
        # Filter and Project are separate operators and Catalyst does not
        # CSE across them, so filtering and re-projecting the raw
        # expression would compute Levenshtein twice per surviving pair.
        .withColumn(
            "edit_dist",
            F.levenshtein(F.col("a.p_name"), F.col("b.p_name")).cast("long"),
        )
        .where(F.col("edit_dist") <= max_dist)
        .select(
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            "edit_dist",
        )
        .orderBy("name_a", "name_b")
    )


FUZZY_PART_ORACLE = """
WITH names AS (
  SELECT DISTINCT p_name,
         list_extract(string_split(p_name, ' '), -1) AS block
  FROM part
)
SELECT a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
FROM names a JOIN names b USING (block)
WHERE a.p_name < b.p_name AND levenshtein(a.p_name, b.p_name) <= 3
ORDER BY name_a, name_b
"""


# --------------------------------------------------------------------------
# Sweep line: maximum concurrent user sessions per day
# --------------------------------------------------------------------------


def max_concurrent_sessions(events: DataFrame, gap_min: int = 30) -> DataFrame:
    """Peak number of simultaneously-active user sessions per day, via
    the classic sweep line: sessionize (30-min inactivity gap), emit a
    +1 at each session start and a −1 at its end, order the deltas in
    time and take the running sum's maximum.

    The running sum partitions by DAY (sessions here never straddle
    midnight UTC in effect because the cut assigns each session to its
    start day and the max is per-day by construction), so no window
    partition ever carries the whole timeline — the scale requirement
    for any sweep-line query. Tie order matters: at the same timestamp
    ends sort before starts (delta ascending: −1 first), the
    non-overlapping convention shared with the oracle.
    """
    # event_id tiebreak + integer-microsecond gap (unix_micros vs the
    # oracle's epoch_us): the sessionize_events discipline — a truncated
    # whole-second diff vs fractional epoch() flips pairs whose true gap
    # sits in (gap, gap+1) seconds, and an untied ts order would be
    # engine-nondeterministic on equal timestamps.
    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = w_user.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap_us = gap_min * 60 * 1_000_000
    sess = (
        events.select("user_id", "event_id", "ts")
        .withColumn("prev_ts", F.lag("ts").over(w_user))
        .withColumn(
            "new_sess",
            (
                F.col("prev_ts").isNull()
                | (F.unix_micros("ts") - F.unix_micros("prev_ts") > gap_us)
            ).cast("int"),
        )
        .withColumn("sess_id", F.sum("new_sess").over(w_run))
        .groupBy("user_id", "sess_id")
        .agg(F.min("ts").alias("start_ts"), F.max("ts").alias("end_ts"))
    )
    deltas = sess.select(
        F.to_date("start_ts").alias("day"),
        F.col("start_ts").alias("t"),
        F.lit(1).alias("delta"),
    ).unionByName(
        sess.select(
            F.to_date("start_ts").alias("day"),
            F.col("end_ts").alias("t"),
            F.lit(-1).alias("delta"),
        )
    )
    w_sweep = Window.partitionBy("day").orderBy("t", "delta")
    return (
        deltas.withColumn("running", F.sum("delta").over(w_sweep))
        .groupBy("day")
        .agg(F.max("running").cast("long").alias("peak_concurrent"))
        .orderBy("day")
    )


MAX_CONCURRENT_ORACLE = """
WITH marked AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, sess_id, min(ts) AS start_ts, max(ts) AS end_ts
  FROM (SELECT user_id, event_id, ts,
               sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sess_id
        FROM marked)
  GROUP BY user_id, sess_id
), deltas AS (
  SELECT CAST(start_ts AS DATE) AS day, start_ts AS t, 1 AS delta FROM sess
  UNION ALL
  SELECT CAST(start_ts AS DATE), end_ts, -1 FROM sess
)
SELECT day, CAST(max(running) AS BIGINT) AS peak_concurrent
FROM (SELECT day,
             sum(delta) OVER (PARTITION BY day ORDER BY t, delta
                              ROWS UNBOUNDED PRECEDING) AS running
      FROM deltas)
GROUP BY day
ORDER BY day
"""


# --------------------------------------------------------------------------
# Q6: forecast revenue change — pure scan-filter-aggregate
# --------------------------------------------------------------------------


def q6_forecast_revenue(lineitem: DataFrame) -> DataFrame:
    """Revenue increase from hypothetically eliminating small discounts —
    TPC-H Q6 (year/discount-band/quantity filters adapted to the
    fixture's 1995–2001 dates and 0–0.10 discount range).

    The plan-quality benchmark query: every predicate must reach the
    parquet scan (shipdate min/max row-group pruning + discount/quantity
    PushedFilters) and the aggregate is a single partial+final sum with
    no shuffle of data rows — only the one-row partials. Any Exchange of
    lineitem rows here is a planner bug.
    """
    return (
        lineitem.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        # exact units (cents × discount_pct = 1e-4 dollars, an
        # order-independent BIGINT sum), half-up integer cents round.
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("long")
                * F.round(F.col("l_discount") * 100).cast("long")
            ).alias("u")
        )
        .select(
            F.coalesce(units_to_revenue("u"), F.lit(0.0)).alias("revenue")
        )
    )


Q6_ORACLE = """
SELECT coalesce(((sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                      * CAST(round(l_discount * 100) AS BIGINT)) + 50) // 100)
                / 100.0, 0.0) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


# --------------------------------------------------------------------------
# Q7: volume shipping between two nations (supplier nation ≠ customer nation)
# --------------------------------------------------------------------------


def q7_volume_shipping(
    supplier: DataFrame,
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
) -> DataFrame:
    """Bilateral trade volume between NATION_1 and NATION_2 by ship year
    — TPC-H Q7 (nation pair and 1996–1997 window adapted to the
    fixture).

    Plan shape: both nation-filtered dimension sides (supplier⨝nation,
    customer⨝nation) are broadcast into the lineitem⨝orders fact join;
    the cross-pair predicate (supp_nation ≠ cust_nation within the
    chosen pair) is applied post-join where both keys are in hand. The
    only fact-sized shuffle is lineitem⨝orders on the order key.
    """
    n1, n2 = "NATION_1", "NATION_2"
    nat = nation.where(F.col("n_name").isin(n1, n2)).select("n_nationkey", "n_name")
    supp = supplier.join(
        F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    cust = customer.join(
        F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey", F.col("n_name").alias("cust_nation"))
    return (
        lineitem.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(orders.select("o_orderkey", "o_custkey"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        # exact-units revenue sum (nation_trade_flows discipline).
        .agg(F.sum(revenue_units()).alias("u"))
        .select(
            "supp_nation",
            "cust_nation",
            "l_year",
            units_to_revenue("u").alias("revenue"),
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


Q7_ORACLE = """
SELECT supp_nation, cust_nation, l_year,
       ((sum(u) + 50) // 100) / 100.0 AS revenue
FROM (
  SELECT sn.n_name AS supp_nation,
         cn.n_name AS cust_nation,
         year(l_shipdate) AS l_year,
         CAST(round(l_extendedprice * 100) AS BIGINT)
         * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS u
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  WHERE sn.n_name IN ('NATION_1', 'NATION_2')
    AND cn.n_name IN ('NATION_1', 'NATION_2')
    AND sn.n_name <> cn.n_name
    AND l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1998-01-01'
)
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


# --------------------------------------------------------------------------
# Q14: promotion effect — conditional aggregate share
# --------------------------------------------------------------------------


def q14_promo_effect(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Percentage of one month's revenue from PROMO-type parts — TPC-H
    Q14 (the fixture's categorical p_type 'PROMO' stands in for the
    'PROMO%' prefix family).

    Plan: part is a broadcast dimension carrying only (p_partkey,
    is_promo); the month filter prunes lineitem at the scan; the
    conditional share is two partial-aggregated sums in ONE pass —
    never two scans. The ratio is computed once on the two scalars.
    """
    promo = part.select(
        "p_partkey", (F.col("p_type") == "PROMO").alias("is_promo")
    )
    month = lineitem.where(
        (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    # exact-units sums feed the pct; round(10^4·100·pv/tv) by half-up
    # integer division. BIGINT headroom: 1e6·pv_u overflows past ~$920B
    # in the month window; past that, cast the ratio to decimal(38,0).
    vol = revenue_units()
    return (
        month.join(F.broadcast(promo), month["l_partkey"] == F.col("p_partkey"))
        .agg(
            F.sum(F.when(F.col("is_promo"), vol).otherwise(F.lit(0))).alias("pv"),
            F.sum(vol).alias("tv"),
        )
        .select(
            (F.expr("(2000000 * pv + tv) div (2 * tv)") / 10000.0).alias(
                "promo_revenue_pct"
            )
        )
    )


Q14_ORACLE = """
WITH g AS (
  SELECT sum(CASE WHEN p_type = 'PROMO'
                  THEN CAST(round(l_extendedprice * 100) AS BIGINT)
                       * (100 - CAST(round(l_discount * 100) AS BIGINT))
                  ELSE 0 END) AS pv,
         sum(CAST(round(l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS tv
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  WHERE l_shipdate >= TIMESTAMP '1997-03-01'
    AND l_shipdate <  TIMESTAMP '1997-04-01'
)
SELECT ((2000000 * pv + tv) // (2 * tv)) / 10000.0 AS promo_revenue_pct
FROM g
"""


# --------------------------------------------------------------------------
# Q15: top supplier by quarterly revenue (aggregate + max equi-select)
# --------------------------------------------------------------------------


def q15_top_supplier(supplier: DataFrame, lineitem: DataFrame) -> DataFrame:
    """The supplier(s) whose 1997-Q1 shipment revenue equals the maximum
    over all suppliers — TPC-H Q15 with the revenue view inlined.

    Plan: one supplier-keyed aggregate over the quarter-pruned lineitem
    scan builds the revenue table; the scalar max is computed over that
    (supplier-cardinality) table and broadcast back as a 1-row frame
    — the view is NOT recomputed (TPC-H's stated trap), and no window
    over all suppliers is needed. Revenue is integral cents PER ROW
    (the star_revenue_rollup discipline): the max and the equality
    compare exact BIGINTs, so no cross-engine partial-sum order can
    flip a supplier sitting within an ulp of a half-cent boundary;
    cents convert to a 2dp double exactly once at the output edge.
    """
    rev = (
        lineitem.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                ).cast("long")
            ).alias("rev_cents")
        )
    )
    mx = rev.agg(F.max("rev_cents").alias("mx"))
    return (
        rev.join(F.broadcast(mx), rev["rev_cents"] == F.col("mx"))
        .join(supplier, rev["l_suppkey"] == F.col("s_suppkey"))
        .select(
            F.col("s_suppkey").cast("long").alias("s_suppkey"),
            "s_name",
            (F.col("rev_cents") / 100.0).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


Q15_ORACLE = """
WITH revenue AS (
  SELECT l_suppkey,
         sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
           AS rev_cents
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate <  TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
)
SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name,
       rev_cents / 100.0 AS total_revenue
FROM revenue JOIN supplier ON s_suppkey = l_suppkey
WHERE rev_cents = (SELECT max(rev_cents) FROM revenue)
ORDER BY s_suppkey
"""


# --------------------------------------------------------------------------
# Q18: large-volume customers (HAVING over a fact aggregate, then enrich)
# --------------------------------------------------------------------------


def q18_large_volume_customers(
    customer: DataFrame, orders: DataFrame, lineitem: DataFrame
) -> DataFrame:
    """Customers whose single orders total more than 300 units — TPC-H
    Q18 (top-100 by order value).

    Plan: the qualifying ORDER KEYS are found first with one
    lineitem-keyed aggregate + HAVING — order-cardinality output, never
    a fact-fact join — then only those keys' orders/customers are
    enriched via joins (the qualifying set is small, so Spark's runtime
    stats broadcast it under AQE). Quantity sums are integral doubles,
    so the >300 cut and the BIGINT cast are exact in both engines.
    """
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .where(F.col("total_qty") > 300)
    )
    return (
        big.join(orders, big["l_orderkey"] == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            F.col("c_custkey").cast("long").alias("c_custkey"),
            F.col("o_orderkey").cast("long").alias("o_orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.col("total_qty").cast("long").alias("total_qty"),
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


Q18_ORACLE = """
SELECT c_name,
       CAST(c_custkey AS BIGINT)  AS c_custkey,
       CAST(o_orderkey AS BIGINT) AS o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       round(o_totalprice, 2) AS o_totalprice,
       CAST(total_qty AS BIGINT) AS total_qty
FROM (
  SELECT l_orderkey, sum(l_quantity) AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300
)
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 100
"""


# --------------------------------------------------------------------------
# Q19: discounted revenue under an OR-of-ANDs predicate family
# --------------------------------------------------------------------------


def q19_discounted_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Revenue from three disjoint (brand, size-range, quantity-band)
    channels — TPC-H Q19's OR-of-ANDs join predicate (container/shipmode
    legs adapted to the fixture's columns: p_size bands replace
    containers).

    The classic planner test: the OR must NOT degrade the join to a
    nested loop. The equi-join key (l_partkey = p_partkey) is factored
    OUT of the disjunction, so Spark plans a hash join on the key with
    the OR as a post-join filter; part-side prune (the union of the
    three brands) is pushed to the dimension scan and broadcast.
    """
    p = part.where(
        F.col("p_brand").isin("Brand#12", "Brand#23", "Brand#4")
    ).select("p_partkey", "p_brand", "p_size")
    j = lineitem.join(F.broadcast(p), lineitem["l_partkey"] == F.col("p_partkey"))
    leg = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#4")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    # exact-units revenue sum (nation_trade_flows discipline).
    return (
        j.where(leg)
        .agg(F.sum(revenue_units()).alias("u"))
        .select(
            F.coalesce(units_to_revenue("u"), F.lit(0.0)).alias("revenue")
        )
    )


Q19_ORACLE = """
SELECT coalesce(((sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                      * (100 - CAST(round(l_discount * 100) AS BIGINT))) + 50)
                 // 100) / 100.0, 0.0) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
"""


# --------------------------------------------------------------------------
# Q9: product-type profit — the partsupp query, with ps_supplycost DERIVED
# --------------------------------------------------------------------------


def q9_product_type_profit(
    lineitem: DataFrame,
    orders: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
) -> DataFrame:
    """Profit on 'red' parts by supplier nation and order year — TPC-H Q9
    ('%green%' adapted to the fixture's color vocabulary; reference scope:
    the reference has no joins at all, SURVEY.md §2 — this extends the
    TPC-H family past the partsupp gap).

    The fixture set carries NO partsupp table (TESTDATA.md), which is
    what capped the TPC-H tier at the partsupp-free queries. Q9 needs
    partsupp ONLY for ps_supplycost keyed by (partkey, suppkey) — and
    lineitem already carries l_suppkey — so the cost dimension is
    DERIVED as a pure deterministic function of the key pair:
    supplycost_cents = 100 + hash4("pk:sk"), where hash4 is the
    engine-portable first-4-hex-chars-of-md5 bucket
    (operators/pipeline.py _hash_bucket, verified digit-identical in
    DuckDB via the instr() hex decode). Both engines derive the cost
    INDEPENDENTLY — no /tmp artifact, no ordering dependency between
    the Spark run and the oracle.

    Plan shape: the selective p_name filter broadcasts into the
    lineitem scan first (kills ~87% of rows before anything else),
    supplier⨝nation broadcasts next, and the ONLY fact-sized shuffle is
    lineitem⨝orders on the order key — the canonical Q9 plan at 100 TB
    (part and supplier are always broadcastable; orders co-shuffles
    once). Exactness: per-row profit in integer 10^-4-dollar units
    (cents × cents-scale discount minus cents-cost × integral quantity
    × 100), summed as BIGINT and divided ONCE by 10^4 — no float
    partial-sum order, no rounding ties (profit can be negative, so the
    (u+50) div 100 half-up device is NOT used: Spark div truncates
    toward zero while DuckDB // floors, and they disagree below zero).
    BIGINT headroom: |amount_u| < 10^9 per row leaves ~9·10^9 rows per
    (nation, year) group before 2^63 — past that, cast the sum to
    DECIMAL(38,0) on both sides."""
    red_parts = part.where(F.col("p_name").like("%red%")).select("p_partkey")
    supp_nat = supplier.join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", F.col("n_name").alias("nation"))
    sc_cents = (
        _hash4(F.concat_ws(":", F.col("l_partkey"), F.col("l_suppkey"))) + 100
    )
    amount_u = (
        revenue_units() - sc_cents * F.round(F.col("l_quantity")).cast("long") * 100
    )
    return (
        lineitem.join(
            F.broadcast(red_parts), F.col("l_partkey") == F.col("p_partkey")
        )
        .join(F.broadcast(supp_nat), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            orders.select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg((F.sum(amount_u).cast("double") / 10000.0).alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


Q9_ORACLE = """
SELECT nation, o_year, CAST(sum(amount_u) AS DOUBLE) / 10000.0 AS sum_profit
FROM (
  SELECT n_name AS nation,
         year(o_orderdate) AS o_year,
         CAST(round(l_extendedprice * 100) AS BIGINT)
           * (100 - CAST(round(l_discount * 100) AS BIGINT))
         - (100 + CAST(((instr('0123456789abcdef', substr(md5(l_partkey::VARCHAR || ':' || l_suppkey::VARCHAR),1,1)) - 1) * 4096
                      + (instr('0123456789abcdef', substr(md5(l_partkey::VARCHAR || ':' || l_suppkey::VARCHAR),2,1)) - 1) * 256
                      + (instr('0123456789abcdef', substr(md5(l_partkey::VARCHAR || ':' || l_suppkey::VARCHAR),3,1)) - 1) * 16
                      + (instr('0123456789abcdef', substr(md5(l_partkey::VARCHAR || ':' || l_suppkey::VARCHAR),4,1)) - 1)) AS BIGINT))
           * CAST(round(l_quantity) AS BIGINT) * 100 AS amount_u
  FROM lineitem
  JOIN part     ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN nation   ON n_nationkey = s_nationkey
  WHERE p_name LIKE '%red%'
)
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
"""


# --------------------------------------------------------------------------
# Derived partsupp + Q2: minimum-cost supplier (correlated-min join-back)
# --------------------------------------------------------------------------


def _hash4(key: F.Column) -> F.Column:
    """First-4-hex-chars-of-md5 as a BIGINT in [0, 65536) — the
    engine-portable deterministic hash (operators/pipeline.py
    _hash_bucket without the modulus; DuckDB reproduces it with the
    instr() hex decode, verified digit-identical). Shared by the q9
    supplycost derivation and the derived partsupp pair/cost builders
    so the cost function cannot drift between the queries."""
    return F.conv(
        F.substring(F.md5(key.cast("binary")), 1, 4), 16, 10
    ).cast("long")


def derived_partsupp(part: DataFrame, supplier: DataFrame) -> DataFrame:
    """The partsupp relation the fixture set lacks, DERIVED: each part is
    supplied by (up to) 4 suppliers chosen as hash4("pk:i") mod n_supp
    for i in 0..3 (0-based supplier keys, matching the fixture; hash
    collisions across i collapse via distinct, so a part carries 1-4
    distinct suppliers), each pair costed at
    ps_supplycost_cents = 100 + hash4("pk:sk") — the SAME cost function
    q9 applies to lineitem's own (l_partkey, l_suppkey) pairs. Both
    engines derive the relation independently (pure key arithmetic — no
    /tmp artifact, no ordering dependency). n_supp rides in as a
    broadcast 1-row count frame, so the build stays fully distributed:
    |part| × 4 generated rows, one distinct shuffle bounded by the part
    dimension, never a fact-sized anything.

    Degenerate-input divergence (ADVICE r16, not reachable on the
    shipped fixtures): on an EMPTY supplier table Spark's
    pmod(x, 0) yields NULL — every pair silently vanishes and the
    Spark result is empty — while the oracle's ``% (SELECT count(*)
    FROM supplier)`` raises a division-by-zero in DuckDB. A future
    fixture change that empties supplier fails loudly on the oracle
    side, not silently on this one."""
    n_supp = supplier.agg(F.count("*").cast("long").alias("__n_supp"))
    pairs = (
        part.select("p_partkey")
        .crossJoin(F.broadcast(n_supp))
        .select(
            "p_partkey",
            "__n_supp",
            F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("__i"),
        )
        .select(
            F.col("p_partkey").alias("ps_partkey"),
            F.pmod(
                _hash4(F.concat_ws(":", F.col("p_partkey"), F.col("__i"))),
                F.col("__n_supp"),
            ).alias("ps_suppkey"),
        )
        .distinct()
    )
    return pairs.withColumn(
        "ps_supplycost_cents",
        _hash4(F.concat_ws(":", F.col("ps_partkey"), F.col("ps_suppkey")))
        + 100,
    )


def q2_min_cost_supplier(
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
) -> DataFrame:
    """Minimum-cost EUROPE supplier for every STANDARD part — TPC-H Q2
    (size-15/'%BRASS' adapted to the fixture's type vocabulary; p_mfgr
    → p_brand) over the derived partsupp relation.

    The TPC-H trap is the correlated subquery (the min must range over
    REGION suppliers only, then the outer row must tie back on cost
    equality). Plan: region-filtered supplier⨝nation broadcasts into
    the derived pair table, the per-part min is ONE part-bounded
    aggregate broadcast back as an equi-join (never a recompute, never
    a window over the candidate table — the q15 discipline), and the
    LIMIT rides a fully tie-broken sort (s_acctbal DESC, n_name,
    s_name, p_partkey — unique per candidate row since s_name is
    unique and pairs are distinct), so the cut is deterministic in both
    engines. Every frame here is dimension-bounded; at 100 TB this
    whole query never touches a fact table."""
    ps = derived_partsupp(part, supplier)
    eur = (
        supplier.join(
            F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
        )
        .join(
            F.broadcast(region.where(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    std = part.where(F.col("p_type") == "STANDARD").select(
        "p_partkey", "p_brand"
    )
    # candidate-frame checkpoint (r21): the per-part min AND the tie-back
    # equi-join both consume cand — without it the derived-partsupp md5
    # pair build and the dimension joins ran once per consumer (12 scans
    # in the final plan; now each dimension is scanned exactly once, at
    # build). The frame is dimension-bounded (4 pairs per part).
    cand = (
        ps.join(F.broadcast(std), F.col("ps_partkey") == F.col("p_partkey"))
        .join(F.broadcast(eur), F.col("ps_suppkey") == F.col("s_suppkey"))
        .localCheckpoint()
    )
    mins = cand.groupBy(F.col("p_partkey").alias("__mk")).agg(
        F.min("ps_supplycost_cents").alias("__min_cost")
    )
    return (
        cand.join(
            F.broadcast(mins),
            (F.col("p_partkey") == F.col("__mk"))
            & (F.col("ps_supplycost_cents") == F.col("__min_cost")),
        )
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_brand",
            (F.col("ps_supplycost_cents") / 100.0).alias("supplycost"),
        )
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey"
        )
        .limit(100)
    )


_PS_HASH4 = """((instr('0123456789abcdef', substr(md5({k}),1,1)) - 1) * 4096
              + (instr('0123456789abcdef', substr(md5({k}),2,1)) - 1) * 256
              + (instr('0123456789abcdef', substr(md5({k}),3,1)) - 1) * 16
              + (instr('0123456789abcdef', substr(md5({k}),4,1)) - 1))"""

Q2_ORACLE = f"""
WITH ps AS (
  SELECT DISTINCT p_partkey AS ps_partkey,
         CAST({_PS_HASH4.format(k="p_partkey::VARCHAR || ':' || i::VARCHAR")}
              % (SELECT count(*) FROM supplier) AS BIGINT) AS ps_suppkey
  FROM part, range(4) t(i)
),
psc AS (
  SELECT ps_partkey, ps_suppkey,
         100 + CAST({_PS_HASH4.format(k="ps_partkey::VARCHAR || ':' || ps_suppkey::VARCHAR")}
                    AS BIGINT) AS ps_supplycost_cents
  FROM ps
),
eur AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
),
cand AS (
  SELECT p_partkey, p_brand, s_name, s_acctbal, n_name, ps_supplycost_cents
  FROM part JOIN psc ON p_partkey = ps_partkey
            JOIN eur ON ps_suppkey = s_suppkey
  WHERE p_type = 'STANDARD'
),
mins AS (
  SELECT p_partkey AS mk, min(ps_supplycost_cents) AS min_cost
  FROM cand GROUP BY p_partkey
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
       CAST(ps_supplycost_cents AS DOUBLE) / 100.0 AS supplycost
FROM cand JOIN mins ON p_partkey = mk AND ps_supplycost_cents = min_cost
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


# --------------------------------------------------------------------------
# Q11 + Q20: the rest of the derived-partsupp tier (r17, VERDICT r16 #2)
# --------------------------------------------------------------------------


def _availqty(pk: F.Column, sk: F.Column) -> F.Column:
    """ps_availqty DERIVED as 1 + hash4("aq:pk:sk") % 100 — the third
    engine-portable dimension of the derived partsupp relation (after
    the pair choice and the supplycost), salted with "aq:" so it is
    independent of the cost hash on the same pair. Range [1, 100]: the
    fixture's per-part annual demand is ~100 units at every SF (both
    lineitem and part scale linearly), so a stock level in [1, 100]
    makes Q20's half-of-annual-demand threshold discriminate (~half the
    pairs pass) instead of being vacuously true the way TPC-H's
    [1, 9999] range would be against this fixture. ONE definition
    shared by Q11 (stock value) and Q20 (promotion threshold) so the
    quantity dimension cannot drift between them."""
    return F.pmod(_hash4(F.concat_ws(":", F.lit("aq"), pk, sk)), F.lit(100)) + 1


def q11_important_stock(
    part: DataFrame, supplier: DataFrame, nation: DataFrame
) -> DataFrame:
    """Partkeys holding a significant share of one nation's total stock
    value — TPC-H Q11 (GERMANY → NATION_3, a nation with suppliers at
    every fixture SF; fraction 0.0001 → 0.001, sized so the HAVING
    discriminates at sf0.1's ~3,200-partkey scope) over the derived
    partsupp relation.

    The TPC-H trap is the scalar subquery in the HAVING (per-part value
    vs a fraction of the GLOBAL total). Plan: nation-filtered supplier
    broadcasts into the derived pair table (part-bounded), per-part
    values are ONE bounded aggregate, and the global total is a 1-row
    frame cross-broadcast back (the idle_customers_opportunity
    pattern) — never a window over the whole frame, never a second
    derivation. Exactness: value = supplycost_cents × availqty is a
    pure BIGINT product (bounded per row by ~10,099 × 100, never near
    int64), and from the first aggregation onward EVERYTHING runs in
    DECIMAL(38,0) on the Spark side / HUGEINT on the DuckDB side — the
    per-row product is cast before F.sum, so the per-part values, the
    global total, AND the ×1000 threshold compare are all exact to
    1e38 (ADVICE r17 hardened the compare; ADVICE r18 noted the BIGINT
    sums feeding it still wrapped silently past ~9.2e18 in Spark's
    non-ANSI mode while DuckDB's sum is HUGEINT-exact — the cast now
    sits below the aggregation, so there is no int64 ceiling anywhere
    in the arithmetic). A Spark decimal overflow yields NULL, which
    the > rejects — never a wrapped wrong answer. No float enters
    until the final /100.0 display division, so both engines agree to
    the digit.

    At 100 TB this query never touches a fact table: every frame is
    bounded by the part dimension."""
    ps = derived_partsupp(part, supplier).withColumn(
        "ps_availqty", _availqty(F.col("ps_partkey"), F.col("ps_suppkey"))
    )
    nat_supp = supplier.join(
        F.broadcast(nation.where(F.col("n_name") == "NATION_3")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey")
    # vals feeds TWO consumers (the global total and the HAVING join) —
    # the multi-consumer checkpoint discipline (Catalyst never CSEs
    # across consumers, so a lazy vals would re-derive the whole
    # derived-partsupp lineage twice). Eager at construction; the final
    # job then performs ZERO FileScans (pinned in
    # tests/test_skew_and_plans.py DOCUMENTED_SCAN_COUNTS).
    vals = (
        ps.join(F.broadcast(nat_supp), F.col("ps_suppkey") == F.col("s_suppkey"))
        .groupBy("ps_partkey")
        .agg(
            F.sum(
                (F.col("ps_supplycost_cents") * F.col("ps_availqty")).cast(
                    "decimal(38,0)"
                )
            ).alias("__vu")
        )
        .localCheckpoint(eager=True)
    )
    total = vals.agg(F.sum("__vu").alias("__tot"))
    return (
        vals.crossJoin(F.broadcast(total))
        .where(F.col("__vu") * 1000 > F.col("__tot"))
        .select(
            "ps_partkey",
            (F.col("__vu") / 100.0).alias("stock_value"),
        )
        .orderBy(F.col("stock_value").desc(), "ps_partkey")
    )


_PS_AVAILQTY = """(1 + {h} % 100)"""

Q11_ORACLE = f"""
WITH ps AS (
  SELECT DISTINCT p_partkey AS ps_partkey,
         CAST({_PS_HASH4.format(k="p_partkey::VARCHAR || ':' || i::VARCHAR")}
              % (SELECT count(*) FROM supplier) AS BIGINT) AS ps_suppkey
  FROM part, range(4) t(i)
),
psf AS (
  SELECT ps_partkey, ps_suppkey,
         100 + CAST({_PS_HASH4.format(k="ps_partkey::VARCHAR || ':' || ps_suppkey::VARCHAR")}
                    AS BIGINT) AS ps_supplycost_cents,
         CAST({_PS_AVAILQTY.format(h=_PS_HASH4.format(k="'aq:' || ps_partkey::VARCHAR || ':' || ps_suppkey::VARCHAR"))}
              AS BIGINT) AS ps_availqty
  FROM ps
),
vals AS (
  SELECT ps_partkey, sum(ps_supplycost_cents * ps_availqty) AS vu
  FROM psf JOIN supplier ON ps_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_3'
  GROUP BY ps_partkey
)
SELECT ps_partkey, CAST(vu AS DOUBLE) / 100.0 AS stock_value
FROM vals
WHERE CAST(vu AS HUGEINT) * 1000 > (SELECT sum(vu) FROM vals)
ORDER BY stock_value DESC, ps_partkey
"""


def q20_potential_promotion(
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    lineitem: DataFrame,
) -> DataFrame:
    """Suppliers in one nation holding excess stock of promotable parts —
    TPC-H Q20 ('forest%' → 'cold%' in the fixture's adjective
    vocabulary; CANADA → NATION_8, supplied at every SF; shipdate year
    1994 → 1997, inside the fixture's 1995–2001 span): the nested
    semi-join chain (name-filtered parts → partsupp pairs → the
    correlated half-of-annual-shipped-quantity threshold → suppliers).

    Fixture adaptation, documented: the pair universe here is
    lineitem's OWN (l_partkey, l_suppkey) pairs — the same move Q9 made
    for supplycost — because the hash-CHOSEN derived_partsupp pairs are
    independent of the fixture's lineitem pairs, so TPC-H's pair-grain
    correlated subquery would degenerate to a near-empty intersection
    (≈4/n_supp of lineitem rows). Availqty and the threshold keep TPC-H
    semantics exactly: a pair qualifies iff ps_availqty > 0.5 × that
    pair's shipped quantity in the year, evaluated as the exact integer
    compare 2×availqty > sum_qty (l_quantity is integer-valued; summed
    as BIGINT — no float anywhere), and pairs with no shipments in the
    year are excluded just as TPC-H's NULL-comparing correlated
    subquery excludes them.

    Plan shape: the name-filtered part dimension broadcasts into the
    lineitem scan FIRST (with the year predicate pushed to the scan),
    so the ONLY fact-sized work is one partial-aggregated shuffle of
    the filtered ~2% of lineitem on the pair key; everything after is
    pair-bounded, and the closing supplier⨝nation semi-join is a
    broadcast. At 100 TB: one pruned fact shuffle, zero windows, zero
    driver-side state."""
    cold = part.where(F.col("p_name").like("cold%")).select("p_partkey")
    year_qty = (
        lineitem.where(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
        )
        .join(
            F.broadcast(cold), F.col("l_partkey") == F.col("p_partkey"), "left_semi"
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("__sq"))
    )
    eligible = (
        year_qty.where(
            _availqty(F.col("l_partkey"), F.col("l_suppkey")) * 2
            > F.col("__sq")
        )
        .select("l_suppkey")
        .distinct()
    )
    return (
        supplier.join(
            F.broadcast(nation.where(F.col("n_name") == "NATION_8")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(eligible, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


Q20_ORACLE = f"""
WITH year_qty AS (
  SELECT l_partkey, l_suppkey, sum(CAST(l_quantity AS BIGINT)) AS sq
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate <  TIMESTAMP '1998-01-01'
    AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'cold%')
  GROUP BY l_partkey, l_suppkey
),
eligible AS (
  SELECT DISTINCT l_suppkey
  FROM year_qty
  WHERE CAST({_PS_AVAILQTY.format(h=_PS_HASH4.format(k="'aq:' || l_partkey::VARCHAR || ':' || l_suppkey::VARCHAR"))}
             AS BIGINT) * 2 > sq
)
SELECT s_name, s_acctbal
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_8'
  AND s_suppkey IN (SELECT l_suppkey FROM eligible)
ORDER BY s_name
"""


# --------------------------------------------------------------------------
# Q16: supplier counts per part-attribute cell (r18 — the LAST member of
# the derived-partsupp tier: Q2/Q9 r16, Q11/Q20 r17)
# --------------------------------------------------------------------------


def q16_supplier_part_counts(part: DataFrame, supplier: DataFrame) -> DataFrame:
    """Distinct-supplier counts per (brand, type, size) cell for parts a
    customer could still order, excluding complaint suppliers — TPC-H
    Q16 over the derived partsupp relation.

    Fixture adaptations, documented: ``p_brand <> 'Brand#45'`` →
    ``'Brand#5'`` (the fixture's brand vocabulary is Brand#0..24);
    ``p_type NOT LIKE 'MEDIUM POLISHED%'`` → ``NOT LIKE 'MED%'`` (the
    fixture's six one-word types — keeps the NOT-LIKE-prefix shape and
    excludes MEDIUM); the eight-value ``p_size IN`` list keeps TPC-H's
    literal values (fixture sizes span 1..50, all eight present); the
    complaint predicate ``s_comment LIKE '%Customer%Complaints%'`` →
    ``s_acctbal < 0`` (the fixture has no comment column; a negative
    account balance is the problem-supplier analog, ~6% of suppliers).

    The TPC-H traps are (a) the null-aware ``NOT IN`` subquery and (b)
    the grouped ``count(DISTINCT ps_suppkey)``. (a) a plain LEFT ANTI
    join is NOT equivalent to ``NOT IN`` when keys can be NULL: one
    NULL in the subquery empties the whole ``NOT IN`` result, and a
    NULL probe key never qualifies — an anti-join instead ignores the
    former and KEEPS the latter. Both key columns here are non-null by
    construction (fixture key column; pmod of a hash), but the plan
    reproduces full ``NOT IN`` semantics branch-free anyway: probe
    rows with a NULL key are dropped explicitly, and the complaint
    frame's null-key count rides in as a broadcast 1-row guard that
    empties the result exactly as ``NOT IN`` would — one extra
    dimension-bounded aggregate buys a plan that stays correct if the
    keys ever become nullable, instead of an implicit non-null
    assumption an engine cannot check. (b) ``count(DISTINCT)`` is one
    part-bounded shuffle — Spark expands it into the standard two-phase
    (expand + partial-agg) plan automatically.

    Plan shape: the attribute filter prunes part BEFORE the pair
    derivation (the derivation is pure per-partkey arithmetic, so
    deriving from the filtered part yields byte-identical pairs to
    filtering afterward — no correctness tradeoff), the complaint
    exclusion is a broadcast anti-join, and the attribute join-back is
    a broadcast. Q16 never touches lineitem or any other fact table at
    any scale; every frame is bounded by the part dimension."""
    attrs = part.where(
        (F.col("p_brand") != "Brand#5")
        & (~F.col("p_type").like("MED%"))
        & (F.col("p_size").isin(49, 14, 23, 45, 19, 3, 36, 9))
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    ps = derived_partsupp(attrs, supplier)
    compl = supplier.where(F.col("s_acctbal") < 0).select("s_suppkey")
    null_guard = compl.agg(
        F.coalesce(
            F.sum(F.when(F.col("s_suppkey").isNull(), 1).otherwise(0)),
            F.lit(0),
        ).alias("__null_keys")
    )
    kept = (
        ps.where(F.col("ps_suppkey").isNotNull())
        .join(
            F.broadcast(compl),
            F.col("ps_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .join(F.broadcast(attrs), F.col("ps_partkey") == F.col("p_partkey"))
    )
    return (
        kept.groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
        .crossJoin(F.broadcast(null_guard))
        .where(F.col("__null_keys") == 0)
        .select("p_brand", "p_type", "p_size", "supplier_cnt")
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


Q16_ORACLE = f"""
WITH attrs AS (
  SELECT p_partkey, p_brand, p_type, p_size
  FROM part
  WHERE p_brand <> 'Brand#5'
    AND p_type NOT LIKE 'MED%'
    AND p_size IN (49, 14, 23, 45, 19, 3, 36, 9)
),
ps AS (
  SELECT DISTINCT p_partkey AS ps_partkey,
         CAST({_PS_HASH4.format(k="p_partkey::VARCHAR || ':' || i::VARCHAR")}
              % (SELECT count(*) FROM supplier) AS BIGINT) AS ps_suppkey
  FROM attrs, range(4) t(i)
)
SELECT p_brand, p_type, p_size,
       count(DISTINCT ps_suppkey) AS supplier_cnt
FROM ps JOIN attrs ON ps_partkey = p_partkey
WHERE ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


# --------------------------------------------------------------------------
# Q21: suppliers who kept waiting orders — EXISTS + NOT EXISTS correlated
# self-joins on the fact table (r19)
# --------------------------------------------------------------------------


def q21_waiting_suppliers(
    supplier: DataFrame,
    lineitem: DataFrame,
    orders: DataFrame,
    nation: DataFrame,
) -> DataFrame:
    """Suppliers in one nation who were the SOLE late supplier on a
    finished multi-supplier order, counted by late line item — TPC-H
    Q21, the existential-self-join classic: EXISTS (another supplier
    also shipped on this order) + NOT EXISTS (no OTHER supplier was
    late on it).

    Fixture adaptations, documented: lateness is
    ``l_shipdate > o_orderdate + INTERVAL 60 DAYS`` — the Q4 precedent
    for the fixture's missing l_commitdate/l_receiptdate pair (the
    proxy is per-line-item and constant across an order's lines, so the
    correlated comparisons keep their TPC-H structure); SAUDI ARABIA →
    NATION_19 (suppliers with qualifying rows at every fixture SF).
    o_orderstatus = 'F' and the LIMIT 100 keep TPC-H verbatim (the
    ORDER BY numwait DESC, s_name is a total order — s_name is unique —
    so the limit is deterministic).

    The trap is the pair of correlated self-joins on lineitem: taken
    literally they are two more fact-vs-fact joins (TPC-H's l2/l3).
    Both collapse into ONE per-order aggregate instead — the
    equivalence, derived once:

    - over an order's line items let S = distinct suppliers and
      L = distinct LATE suppliers;
    - ``EXISTS l2 (l2.supp <> l1.supp)`` for a late l1 ⟺ |S| ≥ 2;
    - ``NOT EXISTS l3 (l3.supp <> l1.supp AND l3 late)`` for a late
      l1 ⟺ L = {l1.supp} ⟺ |L| = 1 (l1's own supplier is in L by
      hypothesis, so "no other late supplier" is exactly "one late
      supplier");
    - therefore when |L| = 1 the single late supplier IS l1's, and
      numwait's per-(order, supplier) contribution is that supplier's
      late-row count — both carried out of the same aggregate
      (``max(CASE WHEN late...)`` is well-defined precisely because
      the |L| = 1 filter guarantees one candidate).

    Plan shape: orders is status-filtered at the scan and joins
    lineitem on orderkey — the ONE fact shuffle. Every later step rides
    that same orderkey hash partitioning: the (orderkey, suppkey)
    partial aggregate and the per-order aggregate both satisfy their
    clustering from the join's partitioning (orderkey is a subset of
    both grouping keys), so Catalyst inserts NO further exchange until
    the final supplier-bounded groupBy; the suite's plan audit pins
    this (a second fact-sized exchange here is the failure mode that
    motivates the rewrite — the literal l2/l3 joins would each add
    one). The nation dimension broadcasts; the closing aggregate is
    bounded by |suppliers of one nation|. Zero windows, zero
    multi-consumer frames (the single-aggregate formulation exists so
    per-pair never needs a checkpoint), zero driver-side state.

    Reference scope note: the reference engine
    (kmu01/TP1-Distribuidos-MapReduce, rpc/work.proto + worker.go)
    would express this as three chained map/reduce plugin rounds
    (pair-grain reduce, order-grain reduce, supplier-grain reduce);
    here it is one declarative plan whose shuffles Catalyst places."""
    lf = (
        lineitem.select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(
            orders.where(F.col("o_orderstatus") == "F").select(
                "o_orderkey", "o_orderdate"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            "l_orderkey",
            "l_suppkey",
            (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
            ).alias("__late"),
        )
    )
    per_pair = lf.groupBy("l_orderkey", "l_suppkey").agg(
        F.sum(F.col("__late").cast("long")).alias("__late_rows")
    )
    per_order = per_pair.groupBy("l_orderkey").agg(
        F.count("*").alias("__n_supp"),
        F.sum((F.col("__late_rows") > 0).cast("long")).alias("__n_late"),
        F.max(
            F.when(F.col("__late_rows") > 0, F.col("l_suppkey"))
        ).alias("__late_supp"),
        F.sum(
            F.when(F.col("__late_rows") > 0, F.col("__late_rows"))
        ).alias("__late_cnt"),
    )
    nat_supp = supplier.join(
        F.broadcast(nation.where(F.col("n_name") == "NATION_19")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", "s_name")
    return (
        per_order.where(
            (F.col("__n_supp") >= 2) & (F.col("__n_late") == 1)
        )
        .join(F.broadcast(nat_supp), F.col("__late_supp") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.sum("__late_cnt").cast("long").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


# The oracle deliberately keeps TPC-H's LITERAL correlated EXISTS /
# NOT EXISTS formulation (DuckDB decorrelates it internally) — a
# genuinely independent derivation from the Spark side's per-order
# aggregate rewrite, so a mistake in the equivalence argument above
# cannot cancel out.
Q21_ORACLE = """
WITH lf AS (
  SELECT l.l_orderkey, l.l_suppkey,
         (l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY) AS late
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderstatus = 'F'
)
SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
FROM lf l1 JOIN supplier ON l1.l_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_19'
  AND l1.late
  AND EXISTS (
    SELECT 1 FROM lf l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lf l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.late
  )
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""


# --------------------------------------------------------------------------
# Q22: global sales opportunity — scalar-avg subquery + NOT EXISTS
# anti-join (r19, the second of the round's two capped adds)
# --------------------------------------------------------------------------


def q22_global_sales_opportunity(
    customer: DataFrame, orders: DataFrame
) -> DataFrame:
    """Wealthy-but-lapsed customers per country — TPC-H Q22, the last
    distinctive classic join shape: a scalar AVG subquery gating the
    probe rows plus a NOT EXISTS anti-join against the orders fact.

    Fixture adaptations, documented: the fixture customer has no
    c_phone, so country code = c_nationkey and TPC-H's seven literal
    codes map mod 25 into the fixture's 0..24 nation space
    (13,31,23,29,30,18,17 → 13,6,23,4,5,18,17 — all seven populated at
    every SF); the fixture has essentially NO customer without orders
    (0 at sf0.001/sf0.01, 1 at sf0.1 — its order generator draws
    custkeys near-uniformly), so TPC-H's "no orders at all" NOT EXISTS
    becomes "no order since 2000-06-01" (the last ~14 months of the
    fixture's 1995–2001 span) — the lapsed-customer intent and,
    critically, the NOT EXISTS shape survive: a correlated anti-join
    against orders with the date predicate pushed to the scan.

    The TPC-H traps are (a) the scalar AVG subquery — a float mean
    feeding a > gate, where a one-ulp cross-engine difference in sum
    order flips ROWS, not digits — and (b) NOT EXISTS against a fact
    table. (a) is solved by never dividing: c_acctbal carries exactly 2
    decimals, so cents = CAST(round(bal×100) AS BIGINT) is exact, and
    ``bal > avg(bal⁺)`` is evaluated as the integer cross-multiplication
    ``cents × n > Σcents⁺`` — both sides exact in DECIMAL(38,0) (Spark)
    / HUGEINT (DuckDB), the q11 discipline, so both engines agree to
    the row. No float exists anywhere until the final /100.0 display
    division of an exact BIGINT group sum. (b) is one LEFT ANTI join on
    custkey with the date filter pushed into the orders scan — the only
    fact-sized work in the plan.

    Plan shape: the candidate frame (7-nation filter, 3 columns) feeds
    TWO consumers — the 1-row positive-balance average and the
    anti-join probe — so it is eagerly checkpointed (the multi-consumer
    discipline; the final job then scans ONLY the date-pruned orders,
    pinned in DOCUMENTED_SCAN_COUNTS). The 1-row (Σ, n) frame
    cross-broadcasts back; the closing aggregate is bounded by the
    7-value country-code domain. At 100 TB: one pruned customer scan at
    build, one date-pruned orders scan + one custkey anti-join shuffle
    in the job, zero windows, zero driver-side state."""
    cand = (
        customer.where(F.col("c_nationkey").isin(13, 6, 23, 4, 5, 18, 17))
        .select(
            "c_custkey",
            "c_nationkey",
            F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("__cents"),
        )
        .localCheckpoint(eager=True)
    )
    avgf = cand.where(F.col("__cents") > 0).agg(
        F.sum(F.col("__cents").cast("decimal(38,0)")).alias("__s"),
        F.count("*").alias("__n"),
    )
    lapsed = cand.join(
        orders.where(F.col("o_orderdate") >= "2000-06-01").select("o_custkey"),
        F.col("c_custkey") == F.col("o_custkey"),
        "left_anti",
    )
    return (
        lapsed.crossJoin(F.broadcast(avgf))
        .where(F.col("__cents").cast("decimal(38,0)") * F.col("__n") > F.col("__s"))
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count("*").cast("long").alias("numcust"),
            (F.sum("__cents") / 100.0).alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


Q22_ORACLE = """
WITH cand AS (
  SELECT c_custkey, c_nationkey,
         CAST(round(c_acctbal * 100, 0) AS BIGINT) AS cents
  FROM customer
  WHERE c_nationkey IN (13, 6, 23, 4, 5, 18, 17)
),
avgf AS (
  SELECT sum(cents) AS s, count(*) AS n FROM cand WHERE cents > 0
)
SELECT c_nationkey AS cntrycode,
       CAST(count(*) AS BIGINT) AS numcust,
       CAST(sum(cents) AS DOUBLE) / 100.0 AS totacctbal
FROM cand, avgf
WHERE CAST(cents AS HUGEINT) * n > s
  AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = cand.c_custkey
      AND o.o_orderdate >= TIMESTAMP '2000-06-01 00:00:00'
  )
GROUP BY c_nationkey
ORDER BY cntrycode
"""


# --------------------------------------------------------------------------
# Q12: shipmode priority check — conditional two-way aggregate over the
# orders⨝lineitem join (r20, the last of the 22 classic TPC-H shapes)
# --------------------------------------------------------------------------


def q12_shipmode_priority(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Late line items by ship mode, split into high- vs low-priority
    order counts — TPC-H Q12, the conditional two-way aggregate over an
    orders⨝lineitem join. With this, every one of the 22 classic TPC-H
    query shapes has a registry member.

    Fixture adaptations, documented: the fixture lineitem has no
    l_shipmode, so the two-of-N ship-mode filter + group key is played
    by l_returnflag IN ('A', 'R') — the fixture's only line-grain
    categorical with more than two values (A/N/R), filtered to two of
    three exactly as TPC-H filters two of seven modes; the missing
    l_commitdate/l_receiptdate pair means "received late despite an
    on-time commitment" becomes the Q4/Q21 lateness-proxy precedent,
    ``l_shipdate > o_orderdate + INTERVAL 60 DAYS``; the receipt-year
    window maps to ``year(l_shipdate) = 1996``. The two-way CASE
    aggregate over o_orderpriority — the shape that makes Q12 Q12 — is
    TPC-H verbatim (1-URGENT/2-HIGH vs the rest), and both counts are
    exact BIGINTs: no float exists anywhere in the query.

    Plan shape: lineitem is pruned at the scan (the returnflag IN and
    the shipdate range — year()=1996 expressed as a half-open date
    range so the Parquet reader prunes row groups on it — both push
    down, and only 3 columns are read); the orderkey equi-join with
    orders is the ONE fact shuffle,
    with the lateness inequality a post-join filter exactly as in Q4;
    the closing aggregate is bounded by the 2-value mode domain with a
    map-side partial. Single-consumer linear pipeline — each table
    scanned exactly once, zero windows, zero driver-side state. At
    100 TB the only cost is the one pruned fact-fact join, which rides
    whatever orderkey clustering the layout already has.

    Reference scope note: the reference engine
    (kmu01/TP1-Distribuidos-MapReduce, rpc/work.proto + worker.go)
    would express this as a map round emitting (mode, priority-class)
    pairs after a keyed join round, then a reduce round summing the two
    classes; here it is one declarative plan."""
    li = lineitem.where(
        F.col("l_returnflag").isin("A", "R")
        # year(l_shipdate) = 1996 rewritten as a half-open date range:
        # value-identical for DATE inputs, but the range form pushes down
        # to the Parquet reader (PushedFilters gains both GreaterThanOr-
        # Equal and LessThan on l_shipdate → row-group min/max pruning)
        # while year() stayed a post-scan DataFilter (ADVICE r20).
        & (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("date"))
    ).select("l_orderkey", "l_returnflag", "l_shipdate")
    j = li.join(
        orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    ).where(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        j.groupBy(F.col("l_returnflag").alias("shipmode"))
        .agg(
            F.sum(high.cast("long")).alias("high_line_count"),
            F.sum((~high).cast("long")).alias("low_line_count"),
        )
        .orderBy("shipmode")
    )


Q12_ORACLE = """
SELECT l_returnflag AS shipmode,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_returnflag IN ('A', 'R')
  AND year(l_shipdate) = 1996
  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
GROUP BY l_returnflag
ORDER BY shipmode
"""
