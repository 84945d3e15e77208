"""Statistical-model aggregates: grouped OLS trend lines, Pearson
correlation, a chi-square independence test, a two-sample
Kolmogorov-Smirnov test, Shannon entropy, and a Benford first-digit
audit — the "is this effect real" layer a metrics warehouse runs on top
of the plain rollups (plans/relational.py has the rollups; this module
fits models and tests to them).

Exactness discipline (verify notes / ADVICE r7): every sufficient
statistic (Σx, Σy, Σxy, Σx², Σy², contingency counts, cumulative
counts) is an exact integer sum — BIGINT while the documented headroom
holds, DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) where squares of cents
can pass 2⁶³ — so no cross-engine partial-aggregation order can perturb
it; floats appear only in (a) single IEEE-correctly-rounded
divisions/sqrt chains over identical exact integers — bit-identical
across engines; (b) ordered folds, which both engines evaluate as the
SAME left-to-right reduction over the (small, sorted) cell list, so
even the non-associative double additions happen in one canonical
order; and (c) transcendental (log) terms, rounded to 6dp as the
continuous tie-safe class the exactness audit documents — with any
shared CONSTANT (ln 2, Benford's expected shares) injected as the SAME
Python float literal into both engines' plans so no per-engine libm
call can split them.

One measured trap governs (a): integer→double casts are NOT correctly
rounded in every engine once the integer passes 2⁵³ — DuckDB's
HUGEINT→DOUBLE converts the 64-bit halves separately and double-rounds
(measured: 66964254148864380930 → ...438e19 instead of the correct
...4385e19). Every conversion that can exceed 2⁵³ therefore goes
through the DECIMAL STRING — CAST(x AS VARCHAR) AS DOUBLE /
Column.cast("string").cast("double") — which both engines parse with a
correctly-rounded strtod, making the conversion (and everything
downstream) bit-identical again.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import default_parallelism

# Anchor for the day index: inside the fixture's date range so the
# centered x values (and thus Σx² and the slope denominator) stay far
# from BIGINT limits even at a 100 TB row count. Any fixed date works —
# OLS slope is translation-invariant in x — but a nearby anchor keeps
# the sufficient statistics small.
_X_EPOCH = "1995-01-01"

# running_prior's bucket width: value >> 17 puts cents into ~$1.3k
# ranges, so the bucket count is bounded by the price domain and no
# window ever holds all rows in one partition.
_BUCKET_SHIFT = 17


def running_prior(cells: DataFrame, value: str, weights, keys=()) -> DataFrame:
    """``cells`` plus ``bkt = value >> _BUCKET_SHIFT`` and, for each
    weight column ``w``, ``prior_<w>``: the exclusive running total of
    ``w`` in ``value`` order within ``keys`` (the sum over rows with the
    same keys and a smaller value; ``value`` is unique within ``keys``).

    Two phases, so no window spans the data: the per-(keys, bucket)
    totals get a small ordered window whose priors join back as a
    broadcast, and a window partitioned by (keys, bucket) adds the
    in-bucket sum. Every sum is an exact integer, so the priors equal a
    single global ordered window's."""
    cells = cells.withColumn("bkt", F.shiftright(value, _BUCKET_SHIFT))
    per_bkt = cells.groupBy(*keys, "bkt").agg(
        *(F.sum(w).alias(f"bkt_{w}") for w in weights)
    )
    cum_b = (
        Window.partitionBy(*keys)
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    priors = per_bkt.select(
        *keys,
        "bkt",
        *(
            (F.sum(f"bkt_{w}").over(cum_b) - F.col(f"bkt_{w}")).alias(f"pb_{w}")
            for w in weights
        ),
    )
    cum_in = (
        Window.partitionBy(*keys, "bkt")
        .orderBy(value)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return cells.join(F.broadcast(priors), [*keys, "bkt"]).select(
        *cells.columns,
        *(
            (F.col(f"pb_{w}") + F.sum(w).over(cum_in) - F.col(w)).alias(f"prior_{w}")
            for w in weights
        ),
    )


def _ordered_sum(keys, term: str):
    """Σ ``term`` over the group's rows as ONE left fold in ``keys``
    order from 0.0: the canonical order that DuckDB's list_reduce over
    ``list(... ORDER BY keys)`` with a prepended 0.0 also adds in, so
    the non-associative double sum is bit-identical across engines.
    The fold holds one struct per row, so the group must be bounded by
    a domain (cells, margins, groups), never by the data."""
    return F.aggregate(
        F.sort_array(F.collect_list(F.struct(*keys, term))),
        F.lit(0.0),
        lambda acc, x: acc + x[term],
    )


def _nation_daily_sums(
    orders: DataFrame, customer: DataFrame, nation: DataFrame, *extra: Column
) -> DataFrame:
    """The OLS sufficient statistics of the nation trend queries: order
    cents collapse to (nation, day) points y over x = whole days since
    1995-01-01, then per nation n_days, n, Σx, Σy, Σxy, Σx² and the
    ``extra`` aggregates over (x, y). x and each order's cents are
    DECIMAL(18,0), so every sum and product is exact decimal integer
    arithmetic up to 10³⁸ (the oracles mirror with HUGEINT)."""
    cents = F.round(F.col("o_totalprice") * 100).cast("decimal(18,0)")
    x = F.datediff(F.col("o_orderdate"), F.lit(_X_EPOCH).cast("date")).cast(
        "decimal(18,0)"
    )
    daily = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .select(F.col("n_name"), x.alias("x"), cents.alias("cents"))
        .groupBy("n_name", "x")
        .agg(F.sum("cents").alias("y"))
    )
    return daily.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.count(F.lit(1)).cast("decimal(18,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        *extra,
    )


def nation_revenue_trend(
    orders: DataFrame, customer: DataFrame, nation: DataFrame
) -> DataFrame:
    """Per-nation revenue trend: the least-squares slope (in cents per
    day) of DAILY order revenue against the day index — "is this
    nation's business growing, and how fast".

    Shape: one shuffle aggregates order cents to (nation, day) points
    — the fact table collapses to at most nations×days rows before any
    regression math — then a second (tiny) aggregate per nation builds
    the OLS sufficient statistics (``_nation_daily_sums``). The nation
    dimension broadcasts; the slope is closed-form, no iteration.

    Exactness: the sums are exact DECIMAL integers — the r11 BIGINT
    formulation's 2⁶³ headroom note is now ENFORCED by the types rather
    than documented (VERDICT r11 #8).
    slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²) is ONE division; both
    operands convert to double through the DECIMAL STRING (the
    module-docstring 2⁵³ trap), so the division is correctly rounded
    over exactly-represented inputs and bit-identical across engines.

    Nations whose orders all land on one day have a zero denominator
    (slope undefined) and are excluded rather than emitted as NULL/inf.
    """
    stats = _nation_daily_sums(orders, customer, nation)
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return (
        stats.withColumn("den", den)
        .where(F.col("den") != 0)
        .select(
            "n_name",
            "n_days",
            (
                num.cast("string").cast("double")
                / F.col("den").cast("string").cast("double")
            ).alias("slope_cents_per_day"),
        )
        .orderBy("n_name")
    )


NATION_REVENUE_TREND_ORACLE = f"""
WITH daily AS (
  SELECT n_name,
         CAST(date_diff('day', DATE '{_X_EPOCH}', o_orderdate) AS HUGEINT) AS x,
         sum(CAST(round(o_totalprice * 100) AS HUGEINT)) AS y
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  GROUP BY n_name, date_diff('day', DATE '{_X_EPOCH}', o_orderdate)
), stats AS (
  SELECT n_name,
         CAST(count(*) AS BIGINT) AS n_days,
         CAST(count(*) AS HUGEINT) AS n,
         sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM daily GROUP BY n_name
)
SELECT n_name, n_days,
       CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
         / CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE)
         AS slope_cents_per_day
FROM stats
WHERE n * sxx - sx * sx <> 0
ORDER BY n_name
"""


def _weekday_contingency(events: DataFrame):
    """The (event_type, weekday) contingency table of chi² and mutual
    information: ``(cells, row_tot, col_tot, n_total, joined)`` —
    cells (event_type, dow, o), the margins r per type and c per dow,
    the 1-row grand total N, and cells with r, c and N joined on as
    broadcasts. Every frame is bounded by types × 7, not the data."""
    cells = (
        events.groupBy(
            F.col("event_type"),
            (F.dayofweek("ts") - 1).cast("int").alias("dow"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("o"))
        # contingency-cell checkpoint (r21, the cent-domain discipline):
        # the row/column/grand totals and the joined term fold all
        # consume this types×7 frame — without it each consumer
        # re-derived the fact scan (4-8 scans in the final plans of the
        # chi²/MI pair; now the fact table is scanned exactly once, at
        # build).
        .localCheckpoint()
    )
    row_tot = cells.groupBy("event_type").agg(F.sum("o").alias("r"))
    col_tot = cells.groupBy("dow").agg(F.sum("o").alias("c"))
    n_total = cells.agg(F.sum("o").alias("N"))
    joined = (
        cells.join(F.broadcast(row_tot), "event_type")
        .join(F.broadcast(col_tot), "dow")
        .crossJoin(F.broadcast(n_total))
    )
    return cells, row_tot, col_tot, n_total, joined


def event_weekday_chi2(events: DataFrame) -> DataFrame:
    """Chi-square test of independence between event_type and weekday —
    "does activity mix actually shift across the week, or is the
    weekend dip noise". One row: (n_cells, dof, chi2, cramers_v).

    Shape: one hash aggregate builds the contingency table (types × 7
    cells — tiny regardless of input size), the row/column/grand totals
    join back as broadcast frames, and the statistic folds over the
    sorted cell list inside one row: sort_array(collect_list(...)) is
    safe because the cell count is bounded by the type-vocabulary × 7,
    not by the data.

    Exactness: each cell's term is (N·o − r·c)²/(N·r·c) with N, o, r, c
    exact BIGINTs. The difference d = N·o − r·c is computed in
    DECIMAL(38,0) (oracle: HUGEINT) so it is exact up to 10³⁸ events² —
    the r11 BIGINT formulation's ~3·10⁹-event 2⁶³ ceiling is now
    enforced by the types (VERDICT r11 #8) — and converts to double
    through the DECIMAL STRING (the module-docstring 2⁵³ trap), so the
    conversion is correctly rounded at any scale; the denominator
    multiplies the three
    counts AS DOUBLES left-to-right so it cannot overflow at any scale;
    the term is then d·d/den — every float op correctly rounded on
    identical inputs in both engines. The non-associative part —
    summing the terms — runs as an ORDERED left fold over cells sorted
    by (event_type, weekday) in BOTH engines (Spark F.aggregate over
    sort_array; DuckDB list_reduce over list(... ORDER BY ...) with a
    prepended 0.0 to mirror Spark's init), so the doubles add in one
    canonical order and the statistic is bit-identical, not merely
    close. cramers_v = sqrt(chi2/(N·min(R−1,C−1))) — sqrt and division
    are single correctly-rounded ops, so determinism survives. A
    degenerate table (single event type or single weekday) has
    min(R−1,C−1) = 0; the engines disagree on double/0 (Spark emits
    Infinity, DuckDB NULL — ADVICE r11), so that case emits 0.0
    explicitly in BOTH plans, matching the sibling queries'
    zero-denominator discipline.
    """
    *_, joined = _weekday_contingency(events)
    d = (
        F.col("N").cast("decimal(20,0)") * F.col("o")
        - F.col("r").cast("decimal(20,0)") * F.col("c")
    ).cast("string").cast("double")
    den = (
        F.col("N").cast("double")
        * F.col("r").cast("double")
        * F.col("c").cast("double")
    )
    folded = (
        joined.select(
            "event_type", "dow", (d * d / den).alias("term"), "N"
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.countDistinct("event_type").cast("long").alias("n_types"),
            F.countDistinct("dow").cast("long").alias("n_dows"),
            F.first("N").alias("N"),
            _ordered_sum(["event_type", "dow"], "term").alias("chi2"),
        )
    )
    dof = (F.col("n_types") - 1) * (F.col("n_dows") - 1)
    mindim = F.least(F.col("n_types") - 1, F.col("n_dows") - 1)
    return folded.select(
        "n_cells",
        dof.alias("dof"),
        "chi2",
        F.when(
            mindim > 0,
            F.sqrt(F.col("chi2") / (F.col("N") * mindim).cast("double")),
        )
        .otherwise(F.lit(0.0))
        .alias("cramers_v"),
    )


EVENT_WEEKDAY_CHI2_ORACLE = """
WITH cells AS (
  SELECT event_type,
         CAST(date_part('dow', ts) AS INTEGER) AS dow,
         CAST(count(*) AS BIGINT) AS o
  FROM events GROUP BY event_type, date_part('dow', ts)
), tot AS (
  SELECT cells.*,
         sum(o) OVER (PARTITION BY event_type) AS r,
         sum(o) OVER (PARTITION BY dow) AS c,
         sum(o) OVER () AS N
  FROM cells
), dims AS (
  SELECT CAST(count(*) AS BIGINT) AS n_cells,
         CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
         CAST(count(DISTINCT dow) AS BIGINT) AS n_dows,
         CAST(sum(o) AS BIGINT) AS N
  FROM cells
), folded AS (
  SELECT CAST(list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
             list(CAST(CAST(CAST(N AS HUGEINT) * o
                            - CAST(r AS HUGEINT) * c AS VARCHAR) AS DOUBLE)
                    * CAST(CAST(CAST(N AS HUGEINT) * o
                            - CAST(r AS HUGEINT) * c AS VARCHAR) AS DOUBLE)
                    / (CAST(N AS DOUBLE) * CAST(r AS DOUBLE)
                       * CAST(c AS DOUBLE))
                  ORDER BY event_type, dow)),
           (a, b) -> a + b) AS DOUBLE) AS chi2
  FROM tot
)
SELECT d.n_cells,
       (d.n_types - 1) * (d.n_dows - 1) AS dof,
       f.chi2,
       CASE WHEN least(d.n_types - 1, d.n_dows - 1) > 0
            THEN sqrt(f.chi2 / (CAST(d.N AS DOUBLE)
                                * least(d.n_types - 1, d.n_dows - 1)))
            ELSE CAST(0.0 AS DOUBLE) END AS cramers_v
FROM dims d, folded f
"""


def brand_qty_price_corr(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Per-brand Pearson correlation between line quantity and extended
    price — "does this brand's price actually scale with quantity".

    Shape: the part dimension broadcasts; ONE shuffle builds the six
    sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy²) per brand as a
    partial-aggregated hash agg, then r is closed-form per group — no
    second pass, no window, no iteration.

    Exactness: x = integral quantity, y = integral cents, both cast to
    DECIMAL(18,0) BEFORE multiplying so every product and sum is exact
    decimal integer arithmetic (Σy² at 100 TB passes 2⁶³ — BIGINT would
    silently wrap; DECIMAL(38,0) holds ~10³⁸, and the oracle mirrors
    with HUGEINT). r = (nΣxy−ΣxΣy)/√(nΣx²−Σx²)/√(nΣy²−Σy²) is evaluated
    as the SAME left-to-right divide-sqrt-divide chain in both engines
    over identical exact integers, every step IEEE-correctly-rounded —
    bit-identical output, no rounding needed. Degenerate brands (zero
    variance on either axis) are excluded rather than emitted NULL/NaN.
    """
    x = F.round("l_quantity").cast("decimal(18,0)")
    y = F.round(F.col("l_extendedprice") * 100).cast("decimal(18,0)")
    base = lineitem.join(
        F.broadcast(part), lineitem.l_partkey == part.p_partkey
    ).select(F.col("p_brand"), x.alias("x"), y.alias("y"))
    s = base.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.count(F.lit(1)).cast("decimal(18,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    da = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    db = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return (
        s.withColumn("da", da)
        .withColumn("db", db)
        .where((F.col("da") != 0) & (F.col("db") != 0))
        .select(
            "p_brand",
            "n_items",
            (
                num.cast("string").cast("double")
                / F.sqrt(F.col("da").cast("string").cast("double"))
                / F.sqrt(F.col("db").cast("string").cast("double"))
            ).alias("corr_qty_price"),
        )
        .orderBy("p_brand")
    )


BRAND_QTY_PRICE_CORR_ORACLE = """
WITH base AS (
  SELECT p_brand,
         CAST(round(l_quantity) AS HUGEINT) AS x,
         CAST(round(l_extendedprice * 100) AS HUGEINT) AS y
  FROM lineitem JOIN part ON l_partkey = p_partkey
), s AS (
  SELECT p_brand,
         CAST(count(*) AS BIGINT) AS n_items,
         CAST(count(*) AS HUGEINT) AS n,
         sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
  FROM base GROUP BY p_brand
)
SELECT p_brand, n_items,
       CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
         / sqrt(CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE))
         / sqrt(CAST(CAST(n * syy - sy * sy AS VARCHAR) AS DOUBLE)) AS corr_qty_price
FROM s
WHERE n * sxx - sx * sx <> 0 AND n * syy - sy * sy <> 0
ORDER BY p_brand
"""


def revenue_autocorrelation(orders: DataFrame) -> DataFrame:
    """Lag-1 autocorrelation of daily order revenue — "does a strong day
    predict the next one", the first sanity check before any forecast.

    Shape: one shuffle collapses orders to ≤ a-few-thousand (day, cents)
    points; the lead() pairing and the Pearson fold then run on that
    POST-AGGREGATION frame, so the unpartitioned day-ordered window is
    bounded by the calendar (~2.4k rows on TPC-H dates), never by the
    fact-table row count — same smallness argument as
    daily_revenue_moving_avg. Only CONSECUTIVE days pair (lead day must
    be day+1); gaps contribute no pair rather than a bogus one.

    Exactness: identical to brand_qty_price_corr — DECIMAL(38,0)/HUGEINT
    sufficient statistics over exact daily cent totals (squares of daily
    cents pass 2⁶³ long before 100 TB), one divide-sqrt-divide chain,
    bit-identical across engines.
    """
    daily = (
        orders.select(
            F.datediff(
                F.col("o_orderdate"), F.lit(_X_EPOCH).cast("date")
            ).cast("long").alias("day"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("day")
        .agg(F.sum("cents").alias("cents"))
    )
    w = Window.orderBy("day")
    pairs = (
        daily.withColumn("next_day", F.lead("day").over(w))
        .withColumn("next_cents", F.lead("cents").over(w))
        .where(F.col("next_day") == F.col("day") + 1)
        .select(
            F.col("cents").cast("decimal(18,0)").alias("x"),
            F.col("next_cents").cast("decimal(18,0)").alias("y"),
        )
    )
    s = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.count(F.lit(1)).cast("decimal(18,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    da = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    db = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return (
        s.withColumn("da", da)
        .withColumn("db", db)
        .where((F.col("da") != 0) & (F.col("db") != 0))
        .select(
            "n_pairs",
            (
                num.cast("string").cast("double")
                / F.sqrt(F.col("da").cast("string").cast("double"))
                / F.sqrt(F.col("db").cast("string").cast("double"))
            ).alias("autocorr_lag1"),
        )
    )


REVENUE_AUTOCORRELATION_ORACLE = f"""
WITH daily AS (
  SELECT CAST(date_diff('day', DATE '{_X_EPOCH}', o_orderdate) AS BIGINT)
           AS day,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY 1
), pairs AS (
  SELECT CAST(cents AS HUGEINT) AS x,
         CAST(lead_cents AS HUGEINT) AS y
  FROM (SELECT day, cents,
               lead(day) OVER (ORDER BY day) AS next_day,
               lead(cents) OVER (ORDER BY day) AS lead_cents
        FROM daily) t
  WHERE next_day = day + 1
), s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(count(*) AS HUGEINT) AS n,
         sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
  FROM pairs
)
SELECT n_pairs,
       CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
         / sqrt(CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE))
         / sqrt(CAST(CAST(n * syy - sy * sy AS VARCHAR) AS DOUBLE)) AS autocorr_lag1
FROM s
WHERE n * sxx - sx * sx <> 0 AND n * syy - sy * sy <> 0
"""


def ks_returned_price(lineitem: DataFrame) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic comparing the
    extended-price distribution of RETURNED lines (l_returnflag = 'R')
    against everything else — "did returns come from a different price
    population". One row: (n_returned, n_other, ks_stat).

    Shape: a global ordered window over near-unique prices would be one
    partition at 100 TB, so instead one shuffle collapses the fact
    table to per-price-cent counts and ``running_prior`` gives each
    cent the two-phase bucketed running counts (per-bucket priors as a
    broadcast, in-bucket windows partitioned by bucket). D is then one
    max aggregate.

    Exactness: the ECDF difference at price v is |C₁(v)·n₂ − C₂(v)·n₁|
    / (n₁·n₂) — the numerator is exact integer arithmetic (BIGINT counts
    cast DECIMAL(20,0) — total over any BIGINT, ADVICE r11 — whose
    products promote to DECIMAL(38,0); HUGEINT in the oracle:
    cumulative-count × count products pass
    2⁶³ at ~10⁹ rows per side), the max over rows picks the same exact
    integer in both engines, and ks_stat is ONE correctly-rounded
    division of identical exact integers — bit-identical. The sup over
    the full real line is attained at observed points, so evaluating at
    each distinct price (inclusive cumulative) is the exact D, not an
    approximation.
    """
    per_v = (
        lineitem.select(
            F.round(F.col("l_extendedprice") * 100).cast("long").alias(
                "cents"
            ),
            (F.col("l_returnflag") == "R").cast("long").alias("is_r"),
        )
        .groupBy("cents")
        .agg(
            F.sum("is_r").alias("c1"),
            F.sum(1 - F.col("is_r")).alias("c2"),
        )
        # cent-domain checkpoint (r21, the winsorized/iqr/spearman
        # discipline): the running prior and tot both consume this
        # frame, and without it each lineage re-derived the collapse —
        # the final plan scanned the FACT table 3×; now it is scanned
        # exactly once, at build (the pass that dominates at 100 TB).
        .localCheckpoint()
    )
    tot = per_v.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
    )
    cum = (
        running_prior(per_v, "cents", ["c1", "c2"])
        .select(
            "cents",
            (F.col("prior_c1") + F.col("c1")).alias("cum1"),
            (F.col("prior_c2") + F.col("c2")).alias("cum2"),
        )
        .crossJoin(F.broadcast(tot))
    )
    d = F.abs(
        F.col("cum1").cast("decimal(20,0)") * F.col("n2")
        - F.col("cum2").cast("decimal(20,0)") * F.col("n1")
    )
    return cum.agg(
        F.first("n1").alias("n_returned"),
        F.first("n2").alias("n_other"),
        (
            F.max(d).cast("string").cast("double")
            / (
                F.first("n1").cast("decimal(20,0)")
                * F.first("n2").cast("decimal(20,0)")
            ).cast("string").cast("double")
        ).alias("ks_stat"),
    )


KS_RETURNED_PRICE_ORACLE = """
WITH per_v AS (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
         sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS c1,
         sum(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END) AS c2
  FROM lineitem GROUP BY 1
), cum AS (
  SELECT sum(c1) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS cum1,
         sum(c2) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS cum2,
         sum(c1) OVER () AS n1, sum(c2) OVER () AS n2
  FROM per_v
)
SELECT CAST(max(n1) AS BIGINT) AS n_returned,
       CAST(max(n2) AS BIGINT) AS n_other,
       CAST(CAST(max(abs(CAST(cum1 AS HUGEINT) * n2
                         - CAST(cum2 AS HUGEINT) * n1)) AS VARCHAR) AS DOUBLE)
         / CAST(CAST(CAST(max(n1) AS HUGEINT) * max(n2) AS VARCHAR)
                AS DOUBLE) AS ks_stat
FROM cum
"""


# Natural-log-to-bits conversion: the SAME Python float literal is
# injected into both engines' plans so no per-engine log() call on the
# constant can split them by an ulp.
_LN2 = math.log(2.0)


def event_type_entropy(events: DataFrame) -> DataFrame:
    """Shannon entropy of the event-type mix per weekday — "how varied
    is activity on each day", the information-theoretic companion to
    event_weekday_chi2. Rows: (dow, n_events, n_types, entropy_bits,
    norm_entropy) with norm = H / log2(n_types) in [0, 1].

    Shape: one hash aggregate to the (dow, type) contingency cells, a
    second tiny aggregate per dow collects the sorted cell list —
    bounded by the type vocabulary, never the data — and the entropy
    folds inside the row.

    Exactness: p = c/N is one correctly-rounded division of exact
    BIGINTs; the −p·ln(p) terms then fold in ONE canonical order (cells
    sorted by event_type, same prepended-zero left fold both engines).
    ln() itself is the libm-dependent transcendental class, so the
    result is rounded to 6dp (the documented continuous tie-safe
    class), and the nats→bits constant is the shared _LN2 literal, NOT
    a per-engine log(2) call. Degenerate single-type days emit
    norm_entropy = 0 rather than 0/0.
    """
    cells = events.groupBy(
        (F.dayofweek("ts") - 1).cast("int").alias("dow"),
        F.col("event_type"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    per_dow = cells.groupBy("dow").agg(
        F.sum("c").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sort_array(F.collect_list(F.struct("event_type", "c"))).alias(
            "cl"
        ),
    )
    p = lambda s: s["c"].cast("double") / F.col("n_events").cast("double")  # noqa: E731
    h_nats = F.aggregate(
        F.col("cl"),
        F.lit(0.0),
        lambda acc, s: acc - p(s) * F.log(p(s)),
    )
    return (
        per_dow.withColumn("h", h_nats)
        .select(
            "dow",
            "n_events",
            "n_types",
            F.round(F.col("h") / F.lit(_LN2), 6).alias("entropy_bits"),
            F.when(F.col("n_types") > 1, F.round(
                F.col("h") / F.log(F.col("n_types").cast("double")), 6
            )).otherwise(F.lit(0.0)).alias("norm_entropy"),
        )
        .orderBy("dow")
    )


EVENT_TYPE_ENTROPY_ORACLE = f"""
WITH cells AS (
  SELECT CAST(date_part('dow', ts) AS INTEGER) AS dow, event_type,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
), tot AS (
  SELECT dow, CAST(sum(c) AS BIGINT) AS n FROM cells GROUP BY dow
), per_dow AS (
  SELECT cells.dow,
         CAST(max(tot.n) AS BIGINT) AS n_events,
         CAST(count(*) AS BIGINT) AS n_types,
         CAST(list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
             list(-(CAST(c AS DOUBLE) / CAST(tot.n AS DOUBLE))
                   * ln(CAST(c AS DOUBLE) / CAST(tot.n AS DOUBLE))
                  ORDER BY event_type)),
           (a, b) -> a + b) AS DOUBLE) AS h
  FROM cells JOIN tot ON cells.dow = tot.dow GROUP BY cells.dow
)
SELECT dow, n_events, n_types,
       round(h / CAST({_LN2!r} AS DOUBLE), 6) AS entropy_bits,
       CASE WHEN n_types > 1
            THEN round(h / ln(CAST(n_types AS DOUBLE)), 6)
            ELSE 0.0 END AS norm_entropy
FROM per_dow
ORDER BY dow
"""


# Benford's law expected first-digit shares, precomputed ONCE in Python
# and injected as the same float literals into both engines' plans —
# log10 never runs engine-side.
_BENFORD = {d: math.log10(1.0 + 1.0 / d) for d in range(1, 10)}


def benford_price_audit(orders: DataFrame) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the classic
    fabricated-data screen. Rows per leading digit 1-9: observed count,
    observed share, Benford's expected share, absolute deviation.

    Shape: one hash aggregate to 9 rows; the grand total broadcasts
    back as a single-row frame.

    Exactness: the leading digit comes from the DECIMAL STRING of the
    integral cent amount — substr(cast(cents as string), 1, 1) — never
    from floor(log10(x)), whose libm variance and boundary behavior at
    exact powers of ten would split engines. obs_share = n/total is one
    correctly-rounded division of identical BIGINTs (emitted RAW — a
    rounding step would be the tie-capable integer-ratio class the
    exactness audit forbids); exp_share is the shared _BENFORD literal;
    abs_dev subtracts two bit-identical doubles. All bit-exact, no
    rounding anywhere.
    """
    digits = (
        orders.select(
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
        )
        .where(F.col("cents") > 0)
        .select(
            F.substring(F.col("cents").cast("string"), 1, 1)
            .cast("int")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    )
    total = digits.agg(F.sum("n_orders").alias("total"))
    exp = F.lit(None).cast("double")
    for d, share in sorted(_BENFORD.items()):
        exp = F.when(F.col("digit") == d, F.lit(share)).otherwise(exp)
    obs = F.col("n_orders").cast("double") / F.col("total").cast("double")
    return (
        digits.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n_orders",
            obs.alias("obs_share"),
            exp.alias("exp_share"),
            F.abs(obs - exp).alias("abs_dev"),
        )
        .orderBy("digit")
    )


def _benford_case_sql() -> str:
    arms = "\n         ".join(
        # CAST: a bare numeric literal parses as DECIMAL in DuckDB
        # (the r10 decimal-literal trap) — the column must be DOUBLE
        f"WHEN digit = {d} THEN CAST({share!r} AS DOUBLE)"
        for d, share in sorted(_BENFORD.items())
    )
    return f"CASE {arms} END"


BENFORD_PRICE_AUDIT_ORACLE = f"""
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                          AS VARCHAR), 1, 1) AS INTEGER) AS digit,
         CAST(count(*) AS BIGINT) AS n_orders
  FROM orders
  WHERE CAST(round(o_totalprice * 100) AS BIGINT) > 0
  GROUP BY 1
), tot AS (
  SELECT CAST(sum(n_orders) AS BIGINT) AS total FROM digits
)
SELECT digit, n_orders,
       CAST(n_orders AS DOUBLE) / CAST(total AS DOUBLE) AS obs_share,
       {_benford_case_sql()} AS exp_share,
       abs(CAST(n_orders AS DOUBLE) / CAST(total AS DOUBLE)
           - {_benford_case_sql()}) AS abs_dev
FROM digits, tot
ORDER BY digit
"""


def _returned_price_moments(lineitem: DataFrame):
    """The two-sample moments of returned (l_returnflag = 'R') against
    kept extended prices, shared by welch_price_ttest and
    cohens_d_returned_price: ``(s, n1d, n2d, var1, var2, mean_diff)``.
    ``s`` is the one-row conditional aggregate (n_returned, n_other and
    each group's n, Σy, Σy² over integral DECIMAL(18,0) cents); the
    rest are double columns over ``s``: the two group sizes, the two
    sample variances and the difference of the means.

    Shape: ONE conditional hash aggregate over the fact table builds
    both groups' sufficient statistics in a single pass — map-side
    partials, no second scan, no join, scale-free.

    Exactness: y = integral cents as DECIMAL(18,0), so n, Σy, Σy² are
    exact decimal integers (Σy² ≤ ~10²⁶ at 100 TB, far under 10³⁸) and
    each variance numerator n·Σy² − (Σy)² is exact DECIMAL(38,0)
    (oracle: HUGEINT). Every float is then a single correctly-rounded
    op over identical exact inputs — conversions go through the
    DECIMAL STRING (module docstring 2⁵³ trap)."""
    y = F.round(F.col("l_extendedprice") * 100).cast("decimal(18,0)")
    ret = F.col("l_returnflag") == "R"
    zero = F.lit(0).cast("decimal(18,0)")
    s = lineitem.select(ret.alias("ret"), y.alias("y")).agg(
        F.sum(F.when(F.col("ret"), 1).otherwise(0)).cast("long").alias("n_returned"),
        F.sum(F.when(~F.col("ret"), 1).otherwise(0)).cast("long").alias("n_other"),
        F.sum(F.when(F.col("ret"), 1).otherwise(0)).cast("decimal(18,0)").alias("n1"),
        F.sum(F.when(~F.col("ret"), 1).otherwise(0)).cast("decimal(18,0)").alias("n2"),
        F.sum(F.when(F.col("ret"), F.col("y")).otherwise(zero)).alias("s1"),
        F.sum(F.when(~F.col("ret"), F.col("y")).otherwise(zero)).alias("s2"),
        F.sum(F.when(F.col("ret"), F.col("y") * F.col("y")).otherwise(zero)).alias("q1"),
        F.sum(F.when(~F.col("ret"), F.col("y") * F.col("y")).otherwise(zero)).alias("q2"),
    )
    sd = lambda c: F.col(c).cast("string").cast("double")  # noqa: E731
    # exact decimal variance numerators, one string-routed conversion each
    va1 = (F.col("n1") * F.col("q1") - F.col("s1") * F.col("s1")).cast(
        "string"
    ).cast("double")
    va2 = (F.col("n2") * F.col("q2") - F.col("s2") * F.col("s2")).cast(
        "string"
    ).cast("double")
    d1 = (F.col("n1") * (F.col("n1") - 1)).cast("string").cast("double")
    d2 = (F.col("n2") * (F.col("n2") - 1)).cast("string").cast("double")
    n1d, n2d = sd("n1"), sd("n2")
    mean_diff = sd("s1") / n1d - sd("s2") / n2d
    return s, n1d, n2d, va1 / d1, va2 / d2, mean_diff


def welch_price_ttest(lineitem: DataFrame) -> DataFrame:
    """Welch's unequal-variance two-sample t-test comparing the
    extended-price MEANS of returned lines (l_returnflag = 'R') against
    everything else — the parametric companion to ks_returned_price
    (KS asks "same distribution?", Welch asks "same mean?"). One row:
    (n_returned, n_other, mean_diff_cents, welch_t, welch_df).

    The moments come from ``_returned_price_moments`` (one conditional
    aggregate, exact decimal numerators, string-routed conversions), and
    the t / dof chains are evaluated as the SAME expression tree in both
    engines, so the output is bit-identical. Degenerate inputs (a group
    with n < 2, or zero pooled standard error) are excluded rather than
    emitted NULL/inf.
    """
    s, n1d, n2d, var1, var2, mean_diff = _returned_price_moments(lineitem)
    se1 = var1 / n1d
    se2 = var2 / n2d
    se_sq = se1 + se2
    t_stat = mean_diff / F.sqrt(se_sq)
    dof = (se_sq * se_sq) / (
        (se1 * se1) / (n1d - F.lit(1.0)) + (se2 * se2) / (n2d - F.lit(1.0))
    )
    return (
        s.where((F.col("n1") > 1) & (F.col("n2") > 1))
        .withColumn("se_sq", se_sq)
        .where(F.col("se_sq") > 0)
        .select(
            "n_returned",
            "n_other",
            mean_diff.alias("mean_diff_cents"),
            t_stat.alias("welch_t"),
            dof.alias("welch_df"),
        )
    )


WELCH_PRICE_TTEST_ORACLE = """
WITH s AS (
  SELECT CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returned,
         CAST(sum(CASE WHEN l_returnflag <> 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_other,
         CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS HUGEINT) AS n1,
         CAST(sum(CASE WHEN l_returnflag <> 'R' THEN 1 ELSE 0 END) AS HUGEINT) AS n2,
         sum(CASE WHEN l_returnflag = 'R'
                  THEN CAST(round(l_extendedprice * 100) AS HUGEINT)
                  ELSE 0 END) AS s1,
         sum(CASE WHEN l_returnflag <> 'R'
                  THEN CAST(round(l_extendedprice * 100) AS HUGEINT)
                  ELSE 0 END) AS s2,
         sum(CASE WHEN l_returnflag = 'R'
                  THEN CAST(round(l_extendedprice * 100) AS HUGEINT)
                       * CAST(round(l_extendedprice * 100) AS HUGEINT)
                  ELSE 0 END) AS q1,
         sum(CASE WHEN l_returnflag <> 'R'
                  THEN CAST(round(l_extendedprice * 100) AS HUGEINT)
                       * CAST(round(l_extendedprice * 100) AS HUGEINT)
                  ELSE 0 END) AS q2
  FROM lineitem
), d AS (
  SELECT n_returned, n_other,
         CAST(CAST(n1 AS VARCHAR) AS DOUBLE) AS n1d,
         CAST(CAST(n2 AS VARCHAR) AS DOUBLE) AS n2d,
         CAST(CAST(s1 AS VARCHAR) AS DOUBLE) AS s1d,
         CAST(CAST(s2 AS VARCHAR) AS DOUBLE) AS s2d,
         CAST(CAST(n1 * q1 - s1 * s1 AS VARCHAR) AS DOUBLE)
           / CAST(CAST(n1 * (n1 - 1) AS VARCHAR) AS DOUBLE) AS var1,
         CAST(CAST(n2 * q2 - s2 * s2 AS VARCHAR) AS DOUBLE)
           / CAST(CAST(n2 * (n2 - 1) AS VARCHAR) AS DOUBLE) AS var2
  FROM s
  WHERE n1 > 1 AND n2 > 1
), e AS (
  SELECT n_returned, n_other, n1d, n2d,
         s1d / n1d - s2d / n2d AS mean_diff,
         var1 / n1d AS se1, var2 / n2d AS se2,
         var1 / n1d + var2 / n2d AS se_sq
  FROM d
)
SELECT n_returned, n_other,
       mean_diff AS mean_diff_cents,
       mean_diff / sqrt(se_sq) AS welch_t,
       (se_sq * se_sq)
         / ((se1 * se1) / (n1d - 1.0) + (se2 * se2) / (n2d - 1.0)) AS welch_df
FROM e
WHERE se_sq > 0
"""


def mannwhitney_quantity(lineitem: DataFrame) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test comparing the QUANTITY
    distributions of returned vs non-returned lines — the
    nonparametric location test that needs no normality assumption (the
    third member of the two-sample family: KS = shape, Welch = mean,
    U = stochastic dominance). One row: (n_returned, n_other, u_stat,
    z_score) with the normal approximation's tie-corrected z.

    Shape: ONE hash aggregate collapses the fact table to per-quantity
    (c1, c2) counts — l_quantity is a small integral domain (1..50 on
    TPC-H), so everything after the first aggregate runs on ≤ domain
    rows. The strictly-less cumulative is an ordered window over that
    domain-bounded frame (same boundedness argument as
    running_prior's per-bucket cumulative; here the whole domain is
    tiny), then one final aggregate folds U.

    Exactness: U is computed from VALUE counts, never per-row ranks:
    2·U₁ = Σ_v [2·c₁(v)·C₂(<v) + c₁(v)·c₂(v)] — the midrank ×½ scaled
    away so every term is exact DECIMAL(38,0) (oracle HUGEINT), summed
    exactly; u_stat = 2U₁/2 divides by a power of two (exact in
    binary). The tie-corrected σ² and z then form the SAME
    correctly-rounded double chain in both engines over
    string-converted exact integers — bit-identical. Degenerate inputs
    (either group empty, or all values tied — σ = 0) are excluded.
    """
    ret = F.col("l_returnflag") == "R"
    counts = (
        lineitem.select(
            F.round("l_quantity").cast("long").alias("v"), ret.alias("ret")
        )
        .groupBy("v")
        .agg(
            F.sum(F.when(F.col("ret"), 1).otherwise(0))
            .cast("decimal(18,0)")
            .alias("c1"),
            F.sum(F.when(~F.col("ret"), 1).otherwise(0))
            .cast("decimal(18,0)")
            .alias("c2"),
        )
    )
    # strictly-less cumulative of the OTHER group: window over the
    # value domain (≤ ~50 rows), bounded by the domain, not the data
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    cum = counts.withColumn(
        "c2lt", F.coalesce(F.sum("c2").over(w), F.lit(0).cast("decimal(28,0)"))
    )
    t = F.col("c1") + F.col("c2")
    agg = cum.agg(
        F.sum("c1").alias("n1"),
        F.sum("c2").alias("n2"),
        F.sum(
            F.lit(2).cast("decimal(18,0)") * F.col("c1") * F.col("c2lt")
            + F.col("c1") * F.col("c2")
        ).alias("two_u1"),
        F.sum(t * t * t - t).alias("ties"),
    )
    sd = lambda c: F.col(c).cast("string").cast("double")  # noqa: E731
    n1d = sd("n1")
    n2d = sd("n2")
    nd = (F.col("n1") + F.col("n2")).cast("string").cast("double")
    nn_d = (F.col("n1") * F.col("n2")).cast("string").cast("double")
    u1 = sd("two_u1") / F.lit(2.0)
    mean_u = nn_d / F.lit(2.0)
    sigma_sq = (
        nn_d
        / F.lit(12.0)
        * ((nd + F.lit(1.0)) - sd("ties") / (nd * (nd - F.lit(1.0))))
    )
    return (
        agg.where((F.col("n1") > 0) & (F.col("n2") > 0))
        .withColumn("sigma_sq", sigma_sq)
        .where(F.col("sigma_sq") > 0)
        .select(
            F.col("n1").cast("long").alias("n_returned"),
            F.col("n2").cast("long").alias("n_other"),
            u1.alias("u_stat"),
            ((u1 - mean_u) / F.sqrt(F.col("sigma_sq"))).alias("z_score"),
        )
    )


MANNWHITNEY_QUANTITY_ORACLE = """
WITH counts AS (
  SELECT CAST(round(l_quantity) AS BIGINT) AS v,
         CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS HUGEINT) AS c1,
         CAST(sum(CASE WHEN l_returnflag <> 'R' THEN 1 ELSE 0 END) AS HUGEINT) AS c2
  FROM lineitem GROUP BY 1
), cum AS (
  SELECT c1, c2,
         coalesce(sum(c2) OVER (ORDER BY v
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING),
                  CAST(0 AS HUGEINT)) AS c2lt
  FROM counts
), agg AS (
  SELECT sum(c1) AS n1, sum(c2) AS n2,
         sum(2 * c1 * c2lt + c1 * c2) AS two_u1,
         sum((c1 + c2) * (c1 + c2) * (c1 + c2) - (c1 + c2)) AS ties
  FROM cum
), d AS (
  SELECT CAST(n1 AS BIGINT) AS n_returned,
         CAST(n2 AS BIGINT) AS n_other,
         CAST(CAST(n1 AS VARCHAR) AS DOUBLE) AS n1d,
         CAST(CAST(n2 AS VARCHAR) AS DOUBLE) AS n2d,
         CAST(CAST(n1 + n2 AS VARCHAR) AS DOUBLE) AS nd,
         CAST(CAST(n1 * n2 AS VARCHAR) AS DOUBLE) AS nn_d,
         CAST(CAST(two_u1 AS VARCHAR) AS DOUBLE) / 2.0 AS u1,
         CAST(CAST(ties AS VARCHAR) AS DOUBLE) AS ties_d
  FROM agg
  WHERE n1 > 0 AND n2 > 0
), e AS (
  SELECT n_returned, n_other, u1, nn_d,
         nn_d / 12.0 * ((nd + 1.0) - ties_d / (nd * (nd - 1.0))) AS sigma_sq
  FROM d
)
SELECT n_returned, n_other,
       u1 AS u_stat,
       (u1 - nn_d / 2.0) / sqrt(sigma_sq) AS z_score
FROM e
WHERE sigma_sq > 0
"""


def anova_price_by_priority(orders: DataFrame) -> DataFrame:
    """One-way ANOVA of order totals across order priorities — "does
    priority class shift the money at all", the k-group generalization
    of the two-sample tests. One row: (n_groups, n_rows, f_stat,
    eta_sq) with η² = SSB/SST the effect size.

    Shape: one hash aggregate to per-priority sufficient statistics
    (k ≤ 5 rows), then a single tiny aggregate folds the between-group
    sum of squares — the fact table collapses before any model math,
    the chi²/OLS discipline.

    Exactness: per-group n_g, Σy, Σy² are exact decimal integers
    (cents), so each group's s_g² and the totals N, S, Q are exact
    DECIMAL(38,0)/HUGEINT. The only non-associative float reduction —
    Σ_g s_g²/n_g — folds over the k-row group list in ONE canonical
    order (sorted by priority, prepended 0.0, left fold) in both
    engines; every other float op is a single correctly-rounded
    division/subtraction over identical string-converted exact
    integers, and F / η² form the SAME expression tree both sides —
    bit-identical. Degenerate inputs (k < 2, N ≤ k, or zero
    within-group variance) are excluded rather than emitted NULL/inf.
    """
    y = F.round(F.col("o_totalprice") * 100).cast("decimal(18,0)")
    per_g = (
        orders.select(F.col("o_orderpriority").alias("g"), y.alias("y"))
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("decimal(18,0)").alias("ng"),
            F.sum("y").alias("sg"),
            F.sum(F.col("y") * F.col("y")).alias("qg"),
        )
    )
    # per-group ratio term s_g²/n_g: exact decimal square, one
    # string-routed conversion, one correctly-rounded division
    r_term = (
        (F.col("sg") * F.col("sg")).cast("string").cast("double")
        / F.col("ng").cast("string").cast("double")
    )
    folded = per_g.select("g", "ng", "sg", "qg", r_term.alias("r")).agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum("ng").alias("n"),
        F.sum("sg").alias("s"),
        F.sum("qg").alias("q"),
        _ordered_sum(["g"], "r").alias("sum_r"),
    )
    sd = lambda c: F.col(c).cast("string").cast("double")  # noqa: E731
    s2n = (F.col("s") * F.col("s")).cast("string").cast("double") / sd("n")
    ssb = F.col("sum_r") - s2n
    ssw = sd("q") - F.col("sum_r")
    sst = sd("q") - s2n
    kd = F.col("n_groups").cast("double")
    nd = sd("n")
    return (
        folded.where((F.col("n_groups") > 1) & (F.col("n") > F.col("n_groups")))
        .withColumn("ssw", ssw)
        .where(F.col("ssw") > 0)
        .select(
            "n_groups",
            F.col("n").cast("long").alias("n_rows"),
            (
                (ssb / (kd - F.lit(1.0)))
                / (F.col("ssw") / (nd - kd))
            ).alias("f_stat"),
            (ssb / sst).alias("eta_sq"),
        )
    )


ANOVA_PRICE_BY_PRIORITY_ORACLE = """
WITH per_g AS (
  SELECT o_orderpriority AS g,
         CAST(count(*) AS HUGEINT) AS ng,
         sum(CAST(round(o_totalprice * 100) AS HUGEINT)) AS sg,
         sum(CAST(round(o_totalprice * 100) AS HUGEINT)
             * CAST(round(o_totalprice * 100) AS HUGEINT)) AS qg
  FROM orders GROUP BY 1
), folded AS (
  SELECT CAST(count(*) AS BIGINT) AS n_groups,
         sum(ng) AS n, sum(sg) AS s, sum(qg) AS q,
         CAST(list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
             list(CAST(CAST(sg * sg AS VARCHAR) AS DOUBLE)
                    / CAST(CAST(ng AS VARCHAR) AS DOUBLE)
                  ORDER BY g)),
           (a, b) -> a + b) AS DOUBLE) AS sum_r
  FROM per_g
), d AS (
  SELECT n_groups,
         CAST(n AS BIGINT) AS n_rows,
         CAST(n_groups AS DOUBLE) AS kd,
         CAST(CAST(n AS VARCHAR) AS DOUBLE) AS nd,
         CAST(CAST(q AS VARCHAR) AS DOUBLE) AS qd,
         CAST(CAST(s * s AS VARCHAR) AS DOUBLE)
           / CAST(CAST(n AS VARCHAR) AS DOUBLE) AS s2n,
         sum_r
  FROM folded
  WHERE n_groups > 1 AND n > n_groups
)
SELECT n_groups, n_rows,
       ((sum_r - s2n) / (kd - 1.0)) / ((qd - sum_r) / (nd - kd)) AS f_stat,
       (sum_r - s2n) / (qd - s2n) AS eta_sq
FROM d
WHERE qd - sum_r > 0
"""


def kaplan_meier_repurchase(orders: DataFrame) -> DataFrame:
    """Kaplan-Meier survival curve for time-to-repeat-purchase — "what
    fraction of customers have NOT reordered within t days", estimated
    correctly under right censoring (a customer's open-ended wait since
    their last order is a censored observation, not an event; dropping
    censored subjects — the naive mistake — biases survival low). Rows
    per event time t (days): (t_days, n_risk, n_events, survival) with
    survival = Π_{tᵢ ≤ t} (1 − dᵢ/nᵢ), the standard product-limit
    estimator emitted at event times only.

    Shape: one window per customer pairs consecutive orders into gap
    durations (events) plus one censored tail gap to the dataset's max
    order date (broadcast 1-row aggregate); one hash aggregate
    collapses all durations to per-day (d, c) counts — the frame is
    bounded by the DAY DOMAIN (~2.4k on TPC-H dates), never the
    customer count; the risk-set cumulative and the product-limit
    prefix fold then run on that domain-bounded frame. The prefix fold
    evaluates O(steps²) multiply-lambdas (≤ ~6M at full domain) —
    JVM-side, domain-bounded, constant in the fact-table row count.

    Exactness: nᵢ (at-risk) and dᵢ (events) are exact BIGINT window
    sums; each factor 1 − dᵢ/nᵢ is one correctly-rounded division and
    subtraction of exact integers; survival folds the factors in ONE
    canonical order (ascending event time, prepended 1.0, left fold —
    Spark F.aggregate over the sorted struct array, DuckDB list_reduce
    over list(... ORDER BY t)) so every prefix product is the same
    correctly-rounded multiply chain in both engines — bit-identical,
    no rounding step. Censored-only times contribute risk-set
    attrition but no output row (dᵢ = 0 emits nothing, the KM step
    convention), so no factor and no tie surface.
    """
    max_day = orders.agg(F.max("o_orderdate").alias("max_date"))
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    paired = orders.select(
        "o_custkey",
        "o_orderdate",
        F.lead("o_orderdate").over(w).alias("next_date"),
    )
    # Events and censored tails in ONE projection (r21): dur =
    # days-to-next-order, or days-to-max-date where no next order exists
    # (observed = next_date present). The previous union of two filtered
    # branches re-derived the per-customer lead() window — and its orders
    # scan — once per branch; value-identical row set, same groupBy.
    per_t = (
        paired.crossJoin(F.broadcast(max_day))
        .select(
            F.datediff(
                F.coalesce("next_date", "max_date"), F.col("o_orderdate")
            ).cast("long").alias("dur"),
            F.col("next_date").isNotNull().cast("int").alias("observed"),
        )
        .groupBy("dur")
        .agg(
            F.sum(F.col("observed")).cast("long").alias("d"),
            F.sum(1 - F.col("observed")).cast("long").alias("c"),
        )
        # day-domain checkpoint (the winsorized/ks discipline): total,
        # risk, steps, the collect_list fold, and the final projection
        # all consume this ≤ calendar-bounded frame; without it the
        # final plan re-derived the fact scan + window 12× (r21 smell
        # scan) — now orders is scanned exactly twice (max_date + the
        # window pass), at build.
        .localCheckpoint()
    )
    # risk set: subjects whose duration >= t — total minus everything
    # that left strictly before t. Window over the day-domain-bounded
    # frame (same boundedness argument as ks_returned_price).
    wcum = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
    total = per_t.agg(F.sum(F.col("d") + F.col("c")).alias("n_total"))
    risk = (
        per_t.crossJoin(F.broadcast(total))
        .withColumn(
            "left_before",
            F.coalesce(F.sum(F.col("d") + F.col("c")).over(wcum), F.lit(0)),
        )
        .withColumn("n_risk", F.col("n_total") - F.col("left_before"))
    )
    steps = (
        risk.where(F.col("d") > 0)
        .select(
            "dur",
            "n_risk",
            "d",
            (
                F.lit(1.0)
                - F.col("d").cast("double") / F.col("n_risk").cast("double")
            ).alias("factor"),
        )
    )
    wpos = Window.orderBy("dur")
    indexed = steps.withColumn("pos", F.row_number().over(wpos))
    arr = indexed.agg(
        F.sort_array(F.collect_list(F.struct("dur", "factor"))).alias("fs")
    )
    return (
        indexed.crossJoin(F.broadcast(arr))
        .select(
            F.col("dur").alias("t_days"),
            "n_risk",
            F.col("d").alias("n_events"),
            F.aggregate(
                F.slice(F.col("fs"), F.lit(1), F.col("pos")),
                F.lit(1.0),
                lambda acc, x: acc * x["factor"],
            ).alias("survival"),
        )
        .orderBy("t_days")
    )


KAPLAN_MEIER_REPURCHASE_ORACLE = """
WITH paired AS (
  SELECT o_custkey, o_orderdate,
         lead(o_orderdate) OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate, o_orderkey)
           AS next_date
  FROM orders
), max_day AS (
  SELECT max(o_orderdate) AS max_date FROM orders
), durs AS (
  SELECT CAST(date_diff('day', o_orderdate, next_date) AS BIGINT) AS dur,
         1 AS observed
  FROM paired WHERE next_date IS NOT NULL
  UNION ALL
  SELECT CAST(date_diff('day', o_orderdate, m.max_date) AS BIGINT) AS dur,
         0 AS observed
  FROM paired, max_day m WHERE next_date IS NULL
), per_t AS (
  SELECT dur,
         CAST(sum(observed) AS BIGINT) AS d,
         CAST(sum(1 - observed) AS BIGINT) AS c
  FROM durs GROUP BY dur
), tot AS (
  SELECT CAST(sum(d + c) AS BIGINT) AS n_total FROM per_t
), risk AS (
  SELECT per_t.*,
         CAST(t.n_total
              - coalesce(sum(d + c) OVER (ORDER BY dur
                                          ROWS BETWEEN UNBOUNDED PRECEDING
                                                   AND 1 PRECEDING),
                         0) AS BIGINT) AS n_risk
  FROM per_t, tot t
), steps AS (
  SELECT dur, n_risk, d,
         1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE) AS factor,
         CAST(row_number() OVER (ORDER BY dur) AS INTEGER) AS pos
  FROM risk WHERE d > 0
), arr AS (
  SELECT list(factor ORDER BY dur) AS fs FROM steps
)
SELECT dur AS t_days, n_risk, d AS n_events,
       CAST(list_reduce(
         list_prepend(CAST(1.0 AS DOUBLE), fs[1:pos]),
         (a, b) -> a * b) AS DOUBLE) AS survival
FROM steps, arr
ORDER BY t_days
"""


def _selected_lower_median(vals: DataFrame, c: str, n_buckets: int = 8192) -> DataFrame:
    """Lower median (element ⌈n/2⌉ of the sorted multiset) of double
    column ``c``, SELECTED via value-range bucketing — the
    running_prior discipline generalized to an unknown value
    domain: one min/max/count pass fixes the bucket grid (broadcast
    1-row frame), per-bucket counts give cumulative priors (a window
    over ≤ n_buckets rows — bounded by the GRID, never the data), and
    only the single bucket containing global rank k is sorted (a
    partitioned window over ~n/n_buckets rows). No unpartitioned
    window ever sees the full value frame (VERDICT r12 #5 — this
    replaced Theil-Sen's ~2.9M-row single-task sorts).

    Exactness: bucketing is float arithmetic, but it only decides
    WHICH bucket holds rank k — the selected element is the k-th of
    the global sort regardless of grid placement (buckets are
    value-monotone; ties share a double and therefore a bucket), so
    the value is identical to the single-window formulation and to
    any engine's row_number selection. Degenerate grid (all values
    equal, or a range so small the width underflows) collapses to
    bucket 0, which then holds every row.

    Returns a 1-row frame (med DOUBLE, n BIGINT); empty input → empty.

    The 1-row grid frame and 1-row rank-target frame are
    localCheckpointed (the iterative-operator discipline): ``vals``
    here is a derived pair frame that is expensive to rebuild, and
    without the checkpoints Catalyst re-derives it once per lineage
    use (~6 rebuilds; measured 7.1s vs 3.7s at sf0.1). With them the
    value frame is scanned exactly 3× (extent, bucket counts,
    selection), all parallel.
    """
    ext = (
        vals.agg(
            F.min(c).alias("lo"),
            F.max(c).alias("hi"),
            F.count(F.lit(1)).alias("n"),
        )
        .withColumn(
            "width", (F.col("hi") - F.col("lo")) / F.lit(float(n_buckets))
        )
        .withColumn("k", F.floor((F.col("n") + 1) / 2))
        .localCheckpoint()
    )
    bktd = vals.crossJoin(F.broadcast(ext)).select(
        c,
        F.when(F.col("width") <= 0, F.lit(0))
        .otherwise(
            F.least(
                F.floor((F.col(c) - F.col("lo")) / F.col("width")),
                F.lit(n_buckets - 1),
            )
        )
        .cast("long")
        .alias("bkt"),
        "n",
        "k",
    )
    per_b = bktd.groupBy("bkt", "n", "k").agg(F.count(F.lit(1)).alias("bn"))
    cum = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    target = (
        per_b.withColumn("prior", F.coalesce(F.sum("bn").over(cum), F.lit(0)))
        .where(
            (F.col("prior") < F.col("k"))
            & (F.col("k") <= F.col("prior") + F.col("bn"))
        )
        .select("bkt", "prior", "k", "n")
        .localCheckpoint()
    )
    in_bkt = Window.partitionBy("bkt").orderBy(c)
    return (
        bktd.select(c, "bkt")
        .join(F.broadcast(target), "bkt")
        .withColumn("rn", F.row_number().over(in_bkt))
        .where(F.col("rn") == F.col("k") - F.col("prior"))
        .select(F.col(c).alias("med"), F.col("n"))
    )


def theil_sen_revenue_trend(orders: DataFrame) -> DataFrame:
    """Theil-Sen robust trend of daily order revenue — the median of
    all pairwise day-to-day slopes, the estimator that shrugs off the
    outlier days that pull nation_revenue_trend's OLS line. One row:
    (n_days, n_pairs, slope_cents_per_day, intercept_cents).

    Shape: the fact table collapses to (day, cents) ONCE (the only
    data-sized pass), then the pairwise slope set is a self-join of
    the day-domain-bounded daily frame — ≤ calendar² pairs (~3M on
    TPC-H dates), constant in the fact-table row count, embarrassingly
    parallel. Both medians are selected, not interpolated (below),
    via _selected_lower_median's bucketed rank selection: per-bucket
    counts + broadcast priors + a within-bucket window, so no
    single task ever sorts the ~3M-row pair frame (VERDICT r12 #5 —
    the previous formulation's Window.orderBy over all pairs was the
    registry's largest single-task sort).

    Exactness: each slope (y₂−y₁)/(x₂−x₁) is ONE correctly-rounded
    division of exact BIGINT differences — identical doubles both
    engines. The median is the LOWER MEDIAN (element ⌈n/2⌉ of the
    sorted multiset): selecting an actual element is deterministic
    under ties and avoids interpolation entirely — Spark's percentile()
    interpolates as lower + (higher−lower)·f (three roundings) while
    other engines use (1−f)·lower + f·higher, which can differ by an
    ulp; element selection cannot. The intercept is the lower median
    of the per-day residuals y − m·x (each one multiply + subtract on
    identical doubles, then the same selection) — the standard
    Theil-Sen intercept, bit-identical cross-engine.
    """
    daily = (
        orders.select(
            F.datediff(
                F.col("o_orderdate"), F.lit(_X_EPOCH).cast("date")
            ).cast("long").alias("x"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("x")
        .agg(F.sum("cents").alias("y"))
        # Pin the checkpointed frame's partition count to the session's
        # shuffle parallelism (r22, guide §2.5): AQE rightly coalesces
        # the ~2.4k-row aggregate to ONE post-shuffle partition, but this
        # frame is the STREAM side of the pairwise-slope nested-loop
        # join, so every median-selection pass over the ~2.9M-pair frame
        # was running as a single task (measured 0.55-0.6s per pass × 3
        # passes at sf0.1). An explicit-count hash repartition is exempt
        # from AQE coalescing, so the O(days²) slope work fans out
        # across the cores; the extra exchange moves only the
        # calendar-bounded rows, once, at build. Selection is
        # partitioning-invariant (the k-th element of the sorted
        # multiset — see _selected_lower_median), verified hash-
        # identical vs the oracle. Adjacent A/B against the same plan
        # without it, sf0.1 on 4 cores, 3-repeat medians: it won 5 of 6
        # pairs, 3.94s vs 4.54s median.
        .repartition(default_parallelism(), "x")
        # checkpoint the calendar-bounded collapse (~2.4k rows): the
        # median selection's three passes then rebuild the pair frame
        # from this frame, and the FACT table is scanned exactly once —
        # the pass that dominates at 100 TB.
        .localCheckpoint()
    )
    d1 = daily.select(F.col("x").alias("x1"), F.col("y").alias("y1"))
    d2 = daily.select(F.col("x").alias("x2"), F.col("y").alias("y2"))
    slopes = (
        d1.join(d2, F.col("x1") < F.col("x2"))
        .select(
            (
                (F.col("y2") - F.col("y1")).cast("double")
                / (F.col("x2") - F.col("x1")).cast("double")
            ).alias("slope")
        )
    )
    # NOT checkpointed (r21 A/B): materializing the ~2.9M-row pair frame
    # costs as much as the 3 rebuilds it would save (3.6s vs 3.8s at
    # sf0.1, adjacent 5-repeat medians) — the rebuild is a broadcast
    # nested-loop join over the CHECKPOINTED calendar-bounded daily
    # frame, so the re-derivation is cheap and constant-size at any
    # fact-table scale.
    med = (
        _selected_lower_median(slopes, "slope")
        .select(F.col("med").alias("slope"), F.col("n").alias("n_pairs"))
        .localCheckpoint()
    )
    resid = daily.crossJoin(F.broadcast(med)).select(
        (
            F.col("y").cast("double")
            - F.col("slope") * F.col("x").cast("double")
        ).alias("r")
    )
    med_r = _selected_lower_median(resid, "r").select(
        F.col("med").alias("intercept_cents"), F.col("n").alias("n_days")
    )
    return med.crossJoin(F.broadcast(med_r)).select(
        "n_days",
        "n_pairs",
        F.col("slope").alias("slope_cents_per_day"),
        "intercept_cents",
    )


THEIL_SEN_REVENUE_TREND_ORACLE = f"""
WITH daily AS (
  SELECT CAST(date_diff('day', DATE '{_X_EPOCH}', o_orderdate) AS BIGINT)
           AS x,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS y
  FROM orders GROUP BY 1
), slopes AS (
  SELECT CAST(d2.y - d1.y AS DOUBLE) / CAST(d2.x - d1.x AS DOUBLE) AS slope
  FROM daily d1 JOIN daily d2 ON d1.x < d2.x
), ranked AS (
  SELECT slope, row_number() OVER (ORDER BY slope) AS rn,
         count(*) OVER () AS n_pairs
  FROM slopes
), med AS (
  SELECT slope, CAST(n_pairs AS BIGINT) AS n_pairs
  FROM ranked WHERE rn = (n_pairs + 1) // 2
), resid AS (
  SELECT m.slope, m.n_pairs,
         CAST(d.y AS DOUBLE) - m.slope * CAST(d.x AS DOUBLE) AS r
  FROM daily d, med m
), rranked AS (
  SELECT slope, n_pairs, r,
         row_number() OVER (ORDER BY r) AS rr,
         count(*) OVER () AS n_days
  FROM resid
)
SELECT CAST(n_days AS BIGINT) AS n_days, n_pairs,
       slope AS slope_cents_per_day,
       r AS intercept_cents
FROM rranked WHERE rr = (n_days + 1) // 2
"""


def _margin_entropy(
    margin: DataFrame, key: str, count: str, n_total: DataFrame, name: str
) -> DataFrame:
    """1-row frame: column ``name`` = the entropy in nats of one margin
    of the contingency table, −Σ p·ln p with p = count/N, folded in
    ``key`` order (``_ordered_sum``)."""
    p = F.col(count).cast("double") / F.col("N").cast("double")
    return (
        margin.crossJoin(F.broadcast(n_total))
        .select(key, (-p * F.log(p)).alias("t"))
        .agg(_ordered_sum([key], "t").alias(name))
    )


def event_weekday_mutual_info(events: DataFrame) -> DataFrame:
    """Mutual information between event type and weekday — "how many
    bits does knowing the weekday tell you about what users do",
    completing the information-theoretic pair with event_weekday_chi2
    (chi² asks "dependent at all?", MI measures HOW dependent in bits)
    and event_type_entropy (the marginal). One row: (n_cells, n_events,
    mi_bits, norm_mi) with norm = I/min(H(type), H(dow)) in [0, 1].

    Shape: identical to chi² — one hash aggregate to the types×7
    contingency cells, broadcast margins, and the Σ p·ln(N·o/(r·c))
    fold runs on the cell-vocabulary-bounded frame.

    Exactness: the log argument N·o/(r·c) is ONE correctly-rounded
    division of exact DECIMAL(38,0)/HUGEINT products (string-routed —
    the module-docstring 2⁵³ trap), p = o/N one division of exact
    BIGINTs, and the p·ln(...) terms fold in ONE canonical order
    (cells sorted by type then dow, prepended 0.0). ln() is the
    libm transcendental class, so mi_bits/norm_mi round to 6dp and
    the nats→bits constant is the shared _LN2 literal. The marginal
    entropies in the denominator use the same canonical fold over the
    sorted margin lists; a degenerate table (single type OR single
    weekday) has min-entropy 0 and emits norm_mi = 0.0 explicitly in
    both engines (the chi² cramers_v discipline).
    """
    _, row_tot, col_tot, n_total, joined = _weekday_contingency(events)
    p = F.col("o").cast("double") / F.col("N").cast("double")
    ratio = (
        (F.col("N").cast("decimal(20,0)") * F.col("o"))
        .cast("string")
        .cast("double")
        / (F.col("r").cast("decimal(20,0)") * F.col("c"))
        .cast("string")
        .cast("double")
    )
    folded = (
        joined.select(
            "event_type", "dow", (p * F.log(ratio)).alias("term"), "N", "r", "c"
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.first("N").alias("n_events"),
            _ordered_sum(["event_type", "dow"], "term").alias("mi_nats"),
        )
    )
    hx = _margin_entropy(row_tot, "event_type", "r", n_total, "h_type")
    hy = _margin_entropy(col_tot, "dow", "c", n_total, "h_dow")
    hmin = F.least(F.col("h_type"), F.col("h_dow"))
    return (
        folded.crossJoin(F.broadcast(hx))
        .crossJoin(F.broadcast(hy))
        .select(
            "n_cells",
            "n_events",
            F.round(F.col("mi_nats") / F.lit(_LN2), 6).alias("mi_bits"),
            F.when(
                hmin > 0, F.round(F.col("mi_nats") / hmin, 6)
            ).otherwise(F.lit(0.0)).alias("norm_mi"),
        )
    )


EVENT_WEEKDAY_MUTUAL_INFO_ORACLE = f"""
WITH cells AS (
  SELECT event_type,
         CAST(date_part('dow', ts) AS INTEGER) AS dow,
         CAST(count(*) AS BIGINT) AS o
  FROM events GROUP BY event_type, date_part('dow', ts)
), tot AS (
  SELECT cells.*,
         sum(o) OVER (PARTITION BY event_type) AS r,
         sum(o) OVER (PARTITION BY dow) AS c,
         sum(o) OVER () AS N
  FROM cells
), folded AS (
  SELECT CAST(count(*) AS BIGINT) AS n_cells,
         CAST(max(N) AS BIGINT) AS n_events,
         CAST(list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
             list((CAST(o AS DOUBLE) / CAST(N AS DOUBLE))
                    * ln(CAST(CAST(CAST(N AS HUGEINT) * o AS VARCHAR) AS DOUBLE)
                         / CAST(CAST(CAST(r AS HUGEINT) * c AS VARCHAR) AS DOUBLE))
                  ORDER BY event_type, dow)),
           (a, b) -> a + b) AS DOUBLE) AS mi_nats
  FROM tot
), margins_x AS (
  SELECT event_type, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY event_type
), margins_y AS (
  SELECT dow, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY dow
), nn AS (
  SELECT CAST(sum(o) AS BIGINT) AS N FROM cells
), hx AS (
  SELECT CAST(list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
             list(-(CAST(r AS DOUBLE) / CAST(N AS DOUBLE))
                   * ln(CAST(r AS DOUBLE) / CAST(N AS DOUBLE))
                  ORDER BY event_type)),
           (a, b) -> a + b) AS DOUBLE) AS h_type
  FROM margins_x, nn
), hy AS (
  SELECT CAST(list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
             list(-(CAST(c AS DOUBLE) / CAST(N AS DOUBLE))
                   * ln(CAST(c AS DOUBLE) / CAST(N AS DOUBLE))
                  ORDER BY dow)),
           (a, b) -> a + b) AS DOUBLE) AS h_dow
  FROM margins_y, nn
)
SELECT f.n_cells, f.n_events,
       round(f.mi_nats / CAST({_LN2!r} AS DOUBLE), 6) AS mi_bits,
       CASE WHEN least(x.h_type, y.h_dow) > 0
            THEN round(f.mi_nats / least(x.h_type, y.h_dow), 6)
            ELSE 0.0 END AS norm_mi
FROM folded f, hx x, hy y
"""


def nation_trend_significance(
    orders: DataFrame, customer: DataFrame, nation: DataFrame
) -> DataFrame:
    """Per-nation OLS trend WITH inference: slope, R², and the
    slope's t-statistic — "is this nation's growth real or noise",
    the significance companion to nation_revenue_trend (the same
    ``_nation_daily_sums``, plus Σy²). Rows per nation:
    (n_name, n_days, slope_cents_per_day, r_squared, t_stat).

    Exactness: num = nΣxy−ΣxΣy, den = nΣx²−(Σx)², deny = nΣy²−(Σy)²
    are exact DECIMAL(38,0)/HUGEINT. r = num/√den/√deny is the proven
    Pearson chain (brand_qty_price_corr); r² = r·r one multiply;
    t = r·√((n−2)/(1−r²)) extends it with four more single
    correctly-rounded ops on identical doubles — bit-identical both
    engines. den·deny−num² would pass 10³⁸, so perfect fits are
    excluded via the COMPUTED double guard r² < 1 (identical r both
    sides → identical guard decision); degenerate nations (n ≤ 2 or
    zero variance on either axis) are excluded like the sibling.
    """
    s = _nation_daily_sums(
        orders, customer, nation, F.sum(F.col("y") * F.col("y")).alias("syy")
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    sd = lambda c: c.cast("string").cast("double")  # noqa: E731
    r = sd(num) / F.sqrt(sd(den)) / F.sqrt(sd(deny))
    r2 = r * r
    t = r * F.sqrt(
        (F.col("n_days").cast("double") - F.lit(2.0)) / (F.lit(1.0) - r2)
    )
    return (
        s.where((F.col("n_days") > 2) & (den != 0) & (deny != 0))
        .withColumn("r2", r2)
        .where(F.col("r2") < 1.0)
        .select(
            "n_name",
            "n_days",
            (sd(num) / sd(den)).alias("slope_cents_per_day"),
            F.col("r2").alias("r_squared"),
            t.alias("t_stat"),
        )
        .orderBy("n_name")
    )


NATION_TREND_SIGNIFICANCE_ORACLE = f"""
WITH daily AS (
  SELECT n_name,
         CAST(date_diff('day', DATE '{_X_EPOCH}', o_orderdate) AS HUGEINT) AS x,
         sum(CAST(round(o_totalprice * 100) AS HUGEINT)) AS y
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  GROUP BY n_name, 2
), s AS (
  SELECT n_name,
         CAST(count(*) AS BIGINT) AS n_days,
         CAST(count(*) AS HUGEINT) AS n,
         sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
  FROM daily GROUP BY n_name
), d AS (
  SELECT n_name, n_days,
         CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE) AS numd,
         CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE) AS dend,
         CAST(CAST(n * syy - sy * sy AS VARCHAR) AS DOUBLE) AS denyd
  FROM s
  WHERE n_days > 2 AND n * sxx - sx * sx <> 0 AND n * syy - sy * sy <> 0
), e AS (
  SELECT n_name, n_days, numd, dend,
         (numd / sqrt(dend) / sqrt(denyd))
           * (numd / sqrt(dend) / sqrt(denyd)) AS r2,
         numd / sqrt(dend) / sqrt(denyd) AS r
  FROM d
)
SELECT n_name, n_days,
       numd / dend AS slope_cents_per_day,
       r2 AS r_squared,
       r * sqrt((CAST(n_days AS DOUBLE) - 2.0) / (1.0 - r2)) AS t_stat
FROM e
WHERE r2 < 1.0
ORDER BY n_name
"""


def weekday_seasonality_index(orders: DataFrame) -> DataFrame:
    """Multiplicative weekday seasonal index of order revenue — the
    classical decomposition's seasonal component: mean daily revenue on
    each weekday relative to the overall mean daily revenue (1.0 = no
    seasonality; 1.2 = that weekday runs 20% hot). Rows per dow:
    (dow, n_days, day_cents_total, seasonal_index).

    Shape: the fact table collapses to (day, cents) once (the only
    data-sized pass), weekday aggregation runs on the calendar-bounded
    daily frame, and the overall totals broadcast back as one row.

    Exactness: index = (S_w/n_w)/(S/n) is algebraically (S_w·n)/(n_w·S)
    — both sides exact DECIMAL(38,0)/HUGEINT products (≤ ~10²² even at
    100 TB), so the index is ONE correctly-rounded division of exact
    integers, bit-identical cross-engine with no mean-of-means float
    chain at all.
    """
    daily = (
        orders.select(
            F.col("o_orderdate").alias("day"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("day")
        .agg(F.sum("cents").cast("decimal(18,0)").alias("y"))
    )
    per_dow = daily.groupBy(
        (F.dayofweek("day") - 1).cast("int").alias("dow")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.count(F.lit(1)).cast("decimal(18,0)").alias("nw"),
        F.sum("y").alias("sw"),
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("decimal(18,0)").alias("n"),
        F.sum("y").alias("s"),
    )
    num = (F.col("sw") * F.col("n")).cast("string").cast("double")
    den = (F.col("nw") * F.col("s")).cast("string").cast("double")
    return (
        per_dow.crossJoin(F.broadcast(tot))
        .where(F.col("s") != 0)
        .select(
            "dow",
            "n_days",
            F.col("sw").cast("long").alias("day_cents_total"),
            (num / den).alias("seasonal_index"),
        )
        .orderBy("dow")
    )


WEEKDAY_SEASONALITY_INDEX_ORACLE = """
WITH daily AS (
  SELECT o_orderdate AS day,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS HUGEINT) AS y
  FROM orders GROUP BY 1
), per_dow AS (
  SELECT CAST(date_part('dow', day) AS INTEGER) AS dow,
         CAST(count(*) AS BIGINT) AS n_days,
         CAST(count(*) AS HUGEINT) AS nw,
         sum(y) AS sw
  FROM daily GROUP BY 1
), tot AS (
  SELECT CAST(count(*) AS HUGEINT) AS n, sum(y) AS s FROM daily
)
SELECT dow, n_days,
       CAST(sw AS BIGINT) AS day_cents_total,
       CAST(CAST(sw * n AS VARCHAR) AS DOUBLE)
         / CAST(CAST(nw * s AS VARCHAR) AS DOUBLE) AS seasonal_index
FROM per_dow, tot
WHERE s <> 0
ORDER BY dow
"""


# Fail-loud ceiling for quantity_price_spearman. r14 lifted the old
# ~10⁹ ceiling (VERDICT r13 #4): the closing N·Σw·a·b cross products
# (≈ 4N⁴) are GONE — ranks are centered by their exact integer mean
# (N+1) first, so ρ = Σw·a'b' / √(Σw·a'²) / √(Σw·b'²) and every
# sufficient statistic is bounded by N³ instead of 4N⁴. DECIMAL(38,0)
# holds N³ < 10³⁸ through N ≈ 4.6·10¹² rows; the guard sits at 4·10¹²
# (4·10¹² cubed = 6.4·10³⁷ < 10³⁸ with headroom for the ≤ (N−1)
# centered-rank bound). Module-level so the scale test can lower it to
# prove the guard fires.
SPEARMAN_MAX_ROWS = 4 * 10**12


def quantity_price_spearman(lineitem: DataFrame) -> DataFrame:
    """Spearman rank correlation between line quantity and extended
    price — the nonparametric companion to brand_qty_price_corr's
    Pearson: monotone association, robust to the price distribution's
    shape. One row: (n_rows, spearman_rho), computed EXACTLY under
    ties via midranks — never by ranking individual rows.

    Shape: the fact table collapses ONCE to (quantity, price-cent)
    cells; midranks then come from VALUE-DOMAIN rank maps — the
    quantity map is a ≤ ~50-row window, the price map is
    ``running_prior`` (per-bucket windows + broadcast bucket priors,
    bounded by the cent domain, never the data) — and the weighted
    Pearson over cells needs one more hash aggregate. No global
    row-level sort/rank anywhere: ranking N rows at 100 TB is exactly
    the single-partition window this formulation exists to avoid. The
    closing math lives in spearman_from_cells so the scale pins can
    drive the arithmetic with synthetic cell counts above the old 10⁹
    ceiling without a billion physical rows.
    """
    cells = (
        lineitem.select(
            F.round("l_quantity").cast("long").alias("x"),
            F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
        )
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        # (quantity × cent)-domain checkpoint (r13): the quantity map,
        # the price map, the N scalar, and the closing weighted-Pearson
        # aggregate all consume this frame — one fact scan total.
        .localCheckpoint()
    )
    return spearman_from_cells(cells)


def spearman_from_cells(cells: DataFrame) -> DataFrame:
    """Midrank Spearman over a pre-collapsed (x, y, n) cell frame.

    Exactness: with d_v ties at value v and C(<v) strictly-less counts,
    the midrank is C(<v) + (d_v+1)/2, so 2·midrank = 2C(<v) + d_v + 1
    is an exact integer. Midranks preserve the total rank sum, so
    Σ(2·midrank) = N(N+1) exactly and the mean of the doubled ranks is
    the exact INTEGER N+1 — centering by it keeps everything integral:

        ρ = Σw·a'b' / √(Σw·a'²) / √(Σw·b'²),  a' = a − (N+1)

    (the N· closing factors of the raw-moment form nw·swab − swa·swb
    cancel against the √(N·)·√(N·) denominator, so they are never
    materialized). Every sufficient statistic is an exact
    DECIMAL(38,0)/HUGEINT sum of cell-count-weighted integer products
    bounded by |Σw·a'b'| ≤ N·(N−1)² < N³ — this is what lifted the old
    ~10⁹ ceiling (whose raw-moment products grew as 4N⁴) to ~4.6·10¹²
    rows (VERDICT r13 #4): a genuine hi/lo limb split was drafted but
    the exact-integer centering identity removes the oversized products
    outright instead of representing them. ρ is the proven
    divide-sqrt-divide chain over string-routed exact integers —
    bit-identical cross-engine.

    The ceiling is ENFORCED and the raise is reachable (ADVICE r13):
    n_rows > SPEARMAN_MAX_ROWS keeps the aggregate row ALIVE through
    the degeneracy filter (the first disjunct of the WHERE), so the
    raise_error always evaluates — in the old shape an over-ceiling
    overflow NULLed the variance terms, the NULL != 0 predicate
    silently dropped the row, and the guard never fired. Degenerate
    inputs (either variable constant → zero rank variance) are still
    excluded rather than NULL/NaN. Past the ceiling DuckDB raises its
    own HUGEINT overflow before the CASE error() — loud in both
    engines either way.
    """
    # quantity rank map: the domain is tiny (integral 1..~50)
    xtot = cells.groupBy("x").agg(F.sum("n").alias("dx"))
    wx = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, -1)
    xmap = xtot.select(
        "x",
        (2 * F.coalesce(F.sum("dx").over(wx), F.lit(0)) + F.col("dx") + 1)
        .cast("decimal(20,0)")
        .alias("a"),
    )
    # price rank map: running_prior over the cent domain (no global
    # single-partition window)
    ytot = cells.groupBy("y").agg(F.sum("n").alias("dy"))
    ymap = running_prior(ytot, "y", ["dy"]).select(
        "y",
        (2 * F.col("prior_dy") + F.col("dy") + 1)
        .cast("decimal(20,0)")
        .alias("b"),
    )
    # exact integer centering scalar: mean(2·midrank) = N+1 (1-row
    # broadcast fan-in, the allowlisted scalar pattern)
    ntot = cells.agg(F.sum("n").cast("long").alias("n_all"))
    joined = (
        cells.join(F.broadcast(xmap), "x")
        .join(ymap, "y")
        .crossJoin(F.broadcast(ntot))
    )
    w = F.col("n").cast("decimal(18,0)")
    ctr = (F.col("n_all") + 1).cast("decimal(20,0)")
    ap = F.col("a") - ctr
    bp = F.col("b") - ctr
    s = joined.agg(
        F.sum("n").cast("long").alias("n_rows"),
        F.sum(w * ap * bp).alias("sab"),
        F.sum(w * ap * ap).alias("saa"),
        F.sum(w * bp * bp).alias("sbb"),
    )
    rho = (
        F.col("sab").cast("string").cast("double")
        / F.sqrt(F.col("saa").cast("string").cast("double"))
        / F.sqrt(F.col("sbb").cast("string").cast("double"))
    )
    guarded_rho = F.when(
        F.col("n_rows") > F.lit(SPEARMAN_MAX_ROWS),
        F.raise_error(
            F.concat(
                F.lit("quantity_price_spearman: n_rows="),
                F.col("n_rows").cast("string"),
                F.lit(
                    " exceeds the DECIMAL(38,0) headroom ceiling "
                    f"({SPEARMAN_MAX_ROWS}); the centered N^3 products "
                    "would overflow — past this a true hi/lo limb "
                    "split of the three sums is required"
                ),
            )
        ).cast("double"),
    ).otherwise(rho)
    # The over-ceiling disjunct is load-bearing (ADVICE r13): it lets
    # the aggregate row survive even when overflow has NULLed saa/sbb,
    # so the raise above fires instead of returning an empty frame.
    return s.where(
        (F.col("n_rows") > F.lit(SPEARMAN_MAX_ROWS))
        | ((F.col("saa") != 0) & (F.col("sbb") != 0))
    ).select("n_rows", guarded_rho.alias("spearman_rho"))


QUANTITY_PRICE_SPEARMAN_ORACLE = f"""
WITH cells AS (
  SELECT CAST(round(l_quantity) AS BIGINT) AS x,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS y,
         CAST(count(*) AS BIGINT) AS n
  FROM lineitem GROUP BY 1, 2
), nt AS (
  SELECT CAST(sum(n) AS BIGINT) AS n_all FROM cells
), xmap AS (
  SELECT x,
         CAST(2 * coalesce(sum(dx) OVER (ORDER BY x
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                                  AND 1 PRECEDING), 0)
              + dx + 1 AS HUGEINT) AS a
  FROM (SELECT x, sum(n) AS dx FROM cells GROUP BY x) t
), ymap AS (
  SELECT y,
         CAST(2 * (sum(dy) OVER (ORDER BY y ROWS UNBOUNDED PRECEDING) - dy)
              + dy + 1 AS HUGEINT) AS b
  FROM (SELECT y, sum(n) AS dy FROM cells GROUP BY y) t
), s AS (
  SELECT CAST(sum(n) AS BIGINT) AS n_rows,
         sum(CAST(n AS HUGEINT) * (a - (n_all + 1)) * (b - (n_all + 1))) AS sab,
         sum(CAST(n AS HUGEINT) * (a - (n_all + 1)) * (a - (n_all + 1))) AS saa,
         sum(CAST(n AS HUGEINT) * (b - (n_all + 1)) * (b - (n_all + 1))) AS sbb
  FROM cells JOIN xmap USING (x) JOIN ymap USING (y) CROSS JOIN nt
)
SELECT n_rows,
       CASE WHEN n_rows > {SPEARMAN_MAX_ROWS}
            THEN CAST(error('quantity_price_spearman: n_rows exceeds the '
                            'DECIMAL(38,0)/HUGEINT headroom ceiling')
                      AS DOUBLE)
            ELSE CAST(CAST(sab AS VARCHAR) AS DOUBLE)
                   / sqrt(CAST(CAST(saa AS VARCHAR) AS DOUBLE))
                   / sqrt(CAST(CAST(sbb AS VARCHAR) AS DOUBLE))
       END AS spearman_rho
FROM s
WHERE n_rows > {SPEARMAN_MAX_ROWS} OR (saa <> 0 AND sbb <> 0)
"""


def wilson_ci_return_rate(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
) -> DataFrame:
    """Per-nation return rate with a Wilson-score 95% confidence
    interval — the binomial-proportion member of the stats layer (a
    plain p̂ ± z·se interval misbehaves at small n / extreme p; Wilson
    is the standard fix). Rows: (n_name, n_lines, n_returned,
    return_rate, wilson_lo, wilson_hi).

    Shape: the fact table collapses to per-nation (n, r) in ONE
    conditional hash aggregate after the key chain (orders → customer
    shuffle-or-broadcast as the optimizer sizes them, nation always
    broadcast); the interval math runs on the ≤ 25-nation frame.

    Exactness: n and r are exact BIGINTs; p̂ = r/n is ONE
    correctly-rounded division; the Wilson center/half-width chains
    are the SAME expression tree in both engines over those doubles
    (z enters as CAST(1.96 AS DOUBLE) to dodge the decimal-literal
    trap), and the bounds round at 6dp — sqrt-based continuous
    measures, the tie-safe class.
    """
    ok = orders.select("o_orderkey", "o_custkey")
    ck = customer.select("c_custkey", "c_nationkey")
    nm = nation.select("n_nationkey", "n_name")
    per_nation = (
        lineitem.select("l_orderkey", (F.col("l_returnflag") == "R").alias("ret"))
        .join(ok, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(ck, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nm), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(F.when(F.col("ret"), 1).otherwise(0)).cast("long").alias("n_returned"),
        )
    )
    nf = F.col("n_lines").cast("double")
    p = F.col("n_returned").cast("double") / nf
    z = F.lit(1.96)
    z2 = z * z
    denom = F.lit(1.0) + z2 / nf
    center = (p + z2 / (F.lit(2.0) * nf)) / denom
    half = (
        z
        * F.sqrt(
            (p * (F.lit(1.0) - p)) / nf + z2 / (F.lit(4.0) * nf * nf)
        )
        / denom
    )
    return per_nation.select(
        "n_name",
        "n_lines",
        "n_returned",
        p.alias("return_rate"),
        F.round(center - half, 6).alias("wilson_lo"),
        F.round(center + half, 6).alias("wilson_hi"),
    ).orderBy("n_name")


WILSON_CI_RETURN_RATE_ORACLE = """
WITH per_nation AS (
  SELECT n_name,
         CAST(count(*) AS BIGINT) AS n_lines,
         CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_returned
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  GROUP BY n_name
), d AS (
  SELECT n_name, n_lines, n_returned,
         CAST(n_lines AS DOUBLE) AS nf,
         CAST(n_returned AS DOUBLE) / CAST(n_lines AS DOUBLE) AS p,
         CAST(1.96 AS DOUBLE) AS z,
         CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE) AS z2
  FROM per_nation
), w AS (
  SELECT n_name, n_lines, n_returned, p,
         (p + z2 / (2.0 * nf)) / (1.0 + z2 / nf) AS center,
         z * sqrt((p * (1.0 - p)) / nf + z2 / (4.0 * nf * nf))
           / (1.0 + z2 / nf) AS half
  FROM d
)
SELECT n_name, n_lines, n_returned, p AS return_rate,
       round(center - half, 6) AS wilson_lo,
       round(center + half, 6) AS wilson_hi
FROM w
ORDER BY n_name
"""


def cohens_d_returned_price(lineitem: DataFrame) -> DataFrame:
    """Cohen's d effect size between returned (l_returnflag = 'R') and
    kept extended prices — the practical-significance companion to
    welch_price_ttest (t answers "is the difference real?", d answers
    "is it big?"). One row: (n_returned, n_other, mean_diff_cents,
    cohens_d) with the pooled-SD denominator.

    The moments are Welch's (``_returned_price_moments``), and the
    pooled-variance chain is evaluated as the SAME expression tree in
    both engines: bit-identical, no rounding step. Degenerate inputs
    (a group with n < 2, zero pooled variance) are excluded rather
    than emitted NULL/inf.
    """
    s, n1d, n2d, var1, var2, mean_diff = _returned_price_moments(lineitem)
    pooled = (
        (n1d - F.lit(1.0)) * var1 + (n2d - F.lit(1.0)) * var2
    ) / (n1d + n2d - F.lit(2.0))
    return (
        s.where((F.col("n1") > 1) & (F.col("n2") > 1))
        .withColumn("pooled", pooled)
        .where(F.col("pooled") > 0)
        .select(
            "n_returned",
            "n_other",
            mean_diff.alias("mean_diff_cents"),
            (mean_diff / F.sqrt(F.col("pooled"))).alias("cohens_d"),
        )
    )


COHENS_D_RETURNED_PRICE_ORACLE = """
WITH s AS (
  SELECT CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returned,
         CAST(sum(CASE WHEN l_returnflag <> 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_other,
         CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS HUGEINT) AS n1,
         CAST(sum(CASE WHEN l_returnflag <> 'R' THEN 1 ELSE 0 END) AS HUGEINT) AS n2,
         sum(CASE WHEN l_returnflag = 'R'
                  THEN CAST(round(l_extendedprice * 100) AS HUGEINT)
                  ELSE 0 END) AS s1,
         sum(CASE WHEN l_returnflag <> 'R'
                  THEN CAST(round(l_extendedprice * 100) AS HUGEINT)
                  ELSE 0 END) AS s2,
         sum(CASE WHEN l_returnflag = 'R'
                  THEN CAST(round(l_extendedprice * 100) AS HUGEINT)
                       * CAST(round(l_extendedprice * 100) AS HUGEINT)
                  ELSE 0 END) AS q1,
         sum(CASE WHEN l_returnflag <> 'R'
                  THEN CAST(round(l_extendedprice * 100) AS HUGEINT)
                       * CAST(round(l_extendedprice * 100) AS HUGEINT)
                  ELSE 0 END) AS q2
  FROM lineitem
), d AS (
  SELECT n_returned, n_other,
         CAST(CAST(n1 AS VARCHAR) AS DOUBLE) AS n1d,
         CAST(CAST(n2 AS VARCHAR) AS DOUBLE) AS n2d,
         CAST(CAST(s1 AS VARCHAR) AS DOUBLE) AS s1d,
         CAST(CAST(s2 AS VARCHAR) AS DOUBLE) AS s2d,
         CAST(CAST(n1 * q1 - s1 * s1 AS VARCHAR) AS DOUBLE)
           / CAST(CAST(n1 * (n1 - 1) AS VARCHAR) AS DOUBLE) AS var1,
         CAST(CAST(n2 * q2 - s2 * s2 AS VARCHAR) AS DOUBLE)
           / CAST(CAST(n2 * (n2 - 1) AS VARCHAR) AS DOUBLE) AS var2
  FROM s
  WHERE n1 > 1 AND n2 > 1
), p AS (
  SELECT n_returned, n_other,
         s1d / n1d - s2d / n2d AS mean_diff,
         ((n1d - 1.0) * var1 + (n2d - 1.0) * var2)
           / (n1d + n2d - 2.0) AS pooled
  FROM d
)
SELECT n_returned, n_other,
       mean_diff AS mean_diff_cents,
       mean_diff / sqrt(pooled) AS cohens_d
FROM p
WHERE pooled > 0
"""


def median_order_value_by_nation(
    orders: DataFrame, customer: DataFrame, nation: DataFrame
) -> DataFrame:
    """Per-nation lower-median order value — the grouped companion of
    theil_sen's element-selected medians: a robust per-segment center
    the mean-based rollups can't give. Rows: (n_name, n_orders,
    median_value).

    Shape: the fact table collapses ONCE to (nation, cent) cells —
    bounded by nations × the cent domain, never the order count — and
    the median element comes from cumulative windows PARTITIONED BY
    NATION over those cells (parallel across nations, each partition
    bounded by the value domain) plus a broadcast per-nation total.
    No global sort, no per-row rank.

    Exactness: the element at rank ⌈n/2⌉ is SELECTED, never
    interpolated (the theil_sen discipline — cross-engine
    interpolation differs by an ulp); median_value = cents/100.0 is
    value-on-the-grid, the tie-safe class.
    """
    cells = (
        orders.select(
            "o_custkey",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
        )
        .join(
            customer.select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name", "c")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        # (nation × cent)-domain checkpoint: totals and the cumulative
        # selection both consume this frame — one fact scan total.
        .localCheckpoint()
    )
    totals = cells.groupBy("n_name").agg(F.sum("cnt").alias("n_orders"))
    wn = Window.partitionBy("n_name").orderBy("c").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = cells.withColumn(
        "prior", F.coalesce(F.sum("cnt").over(wn), F.lit(0))
    ).join(F.broadcast(totals), "n_name")
    k = F.floor((F.col("n_orders") + 1) / 2)
    return (
        cum.where((F.col("prior") < k) & (k <= F.col("prior") + F.col("cnt")))
        .select(
            "n_name",
            "n_orders",
            (F.col("c") / 100.0).alias("median_value"),
        )
        .orderBy("n_name")
    )


MEDIAN_ORDER_VALUE_BY_NATION_ORACLE = """
WITH cells AS (
  SELECT n_name, CAST(round(o_totalprice * 100) AS BIGINT) AS c,
         CAST(count(*) AS BIGINT) AS cnt
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  GROUP BY 1, 2
), cum AS (
  SELECT n_name, c, cnt,
         CAST(coalesce(sum(cnt) OVER (PARTITION BY n_name ORDER BY c
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                               AND 1 PRECEDING), 0)
              AS BIGINT) AS prior,
         CAST(sum(cnt) OVER (PARTITION BY n_name) AS BIGINT) AS n_orders
  FROM cells
)
SELECT n_name, n_orders, CAST(c AS DOUBLE) / 100.0 AS median_value
FROM cum
WHERE prior < (n_orders + 1) // 2
  AND (n_orders + 1) // 2 <= prior + cnt
ORDER BY n_name
"""


def _price_cent_cells(lineitem: DataFrame) -> DataFrame:
    """(c, cnt): lineitem's extended price collapsed to integral cents
    and their row counts, checkpointed — the cut selection, its total
    and the caller's closing aggregate all reuse this frame, so the
    FACT table is scanned exactly once, at build, instead of once per
    consumer (the theil_sen r13 discipline)."""
    return (
        lineitem.select(
            F.round(F.col("l_extendedprice") * 100).cast("long").alias("c")
        )
        .groupBy("c")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .localCheckpoint()
    )


def _rank_cuts(cells: DataFrame, **percents: int) -> DataFrame:
    """Broadcast 1-row frame: for each ``name=p``, column ``name`` is
    the ceil-rank element ⌈p·n/100⌉ = (p·n + 99) div 100 (pure integer
    arithmetic, identical in both engines) of the (c, cnt) cells.

    All cuts come from ONE conditional aggregate over ``running_prior``
    (r21): exactly one cell satisfies prior < k <= prior + cnt, so
    max(when(...)) IS that element, and the running prior is evaluated
    once instead of once per cut."""
    tot = cells.agg(F.sum("cnt").alias("n_rows"))
    ranked = running_prior(cells, "c", ["cnt"]).crossJoin(F.broadcast(tot))
    prior = F.col("prior_cnt")

    def cut(p: int):
        k = F.expr(f"({p} * n_rows + 99) div 100")
        return F.max(F.when((prior < k) & (k <= prior + F.col("cnt")), F.col("c")))

    return F.broadcast(
        ranked.agg(*(cut(p).alias(name) for name, p in percents.items()))
    )


def winsorized_mean_price(lineitem: DataFrame) -> DataFrame:
    """5%/95%-winsorized mean of the extended price — the robust-mean
    companion to trimmed_mean_price (trimming DROPS the tails,
    winsorizing CLAMPS them to the cut elements, the estimator used
    when tail mass must still count). One row: (n_rows, winsor_lo,
    winsor_hi, winsorized_mean_cents).

    Shape: the fact table collapses ONCE to cent cells; both cut
    elements are SELECTED from ``running_prior`` (per-bucket priors +
    within-bucket windows, bounded by the cent domain) in
    ``_rank_cuts``; the clamped sum is one more hash aggregate over
    the cells with the two cuts as a 1-row broadcast. No global sort,
    no per-row rank.

    Exactness: cut ranks are pure integer arithmetic (⌈0.05n⌉ =
    (5n+99) div 100, ⌈0.95n⌉ = (95n+99) div 100 — both engines
    identical); the clamped sum Σ cnt·clamp(c, lo, hi) is an exact
    DECIMAL(38,0)/HUGEINT; the mean is ONE string-routed division.
    The cut values themselves are grid cents (lo/100.0 exact).
    """
    cells = _price_cent_cells(lineitem)
    cuts = _rank_cuts(cells, lo=5, hi=95)
    clamped = F.greatest(F.col("lo"), F.least(F.col("hi"), F.col("c")))
    s = (
        cells.crossJoin(cuts)
        .agg(
            F.sum("cnt").cast("long").alias("n_rows"),
            F.sum(
                F.col("cnt").cast("decimal(18,0)")
                * clamped.cast("decimal(18,0)")
            ).alias("ws"),
            F.max("lo").alias("lo"),
            F.max("hi").alias("hi"),
        )
    )
    return s.select(
        "n_rows",
        (F.col("lo") / 100.0).alias("winsor_lo"),
        (F.col("hi") / 100.0).alias("winsor_hi"),
        (
            F.col("ws").cast("string").cast("double")
            / F.col("n_rows").cast("double")
        ).alias("winsorized_mean_cents"),
    )


WINSORIZED_MEAN_PRICE_ORACLE = """
WITH cells AS (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c,
         CAST(count(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY 1
), cum AS (
  SELECT c, cnt,
         CAST(coalesce(sum(cnt) OVER (ORDER BY c
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                               AND 1 PRECEDING), 0)
              AS BIGINT) AS prior,
         CAST(sum(cnt) OVER () AS BIGINT) AS n_rows
  FROM cells
), lo AS (
  SELECT c AS lo FROM cum
  WHERE prior < (5 * n_rows + 99) // 100
    AND (5 * n_rows + 99) // 100 <= prior + cnt
), hi AS (
  SELECT c AS hi FROM cum
  WHERE prior < (95 * n_rows + 99) // 100
    AND (95 * n_rows + 99) // 100 <= prior + cnt
), s AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
         sum(CAST(cnt AS HUGEINT)
             * CAST(greatest(lo, least(hi, c)) AS HUGEINT)) AS ws,
         max(lo) AS lo, max(hi) AS hi
  FROM cells, lo, hi
)
SELECT n_rows,
       CAST(lo AS DOUBLE) / 100.0 AS winsor_lo,
       CAST(hi AS DOUBLE) / 100.0 AS winsor_hi,
       CAST(CAST(ws AS VARCHAR) AS DOUBLE) / CAST(n_rows AS DOUBLE)
         AS winsorized_mean_cents
FROM s
"""


def geomean_price_by_brand(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Per-brand geometric mean of the extended price — the
    multiplicative-average member of the stats layer (the right center
    for ratio-scale prices spanning magnitudes; the arithmetic mean is
    dominated by the tail). Rows: (p_brand, n_lines, geomean_cents).

    Shape: part is a broadcast (key → brand) dimension; the fact table
    collapses ONCE to (brand, cent) cells — bounded by brands × the
    cent domain — and the log-sum folds inside the per-brand row over
    the sorted cell list (the event_type_entropy discipline).

    Exactness: Σ cnt·ln(c) is a float fold, so it runs in ONE
    canonical order (cells sorted by cent, prepended-0.0 left fold —
    identical both engines); ln/exp are the libm transcendental class,
    so the result rounds at 6dp (the documented continuous tie-safe
    class). Cents are ≥ 1 (prices are positive), so ln is total.
    """
    cells = (
        lineitem.select(
            "l_partkey",
            F.round(F.col("l_extendedprice") * 100).cast("long").alias("c"),
        )
        .join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand", "c")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    per_brand = cells.groupBy("p_brand").agg(
        F.sum("cnt").alias("n_lines"),
        F.sort_array(F.collect_list(F.struct("c", "cnt"))).alias("cl"),
    )
    ls = F.aggregate(
        F.col("cl"),
        F.lit(0.0),
        lambda acc, s: acc
        + s["cnt"].cast("double") * F.log(s["c"].cast("double")),
    )
    return (
        per_brand.withColumn("ls", ls)
        .select(
            "p_brand",
            "n_lines",
            F.round(
                F.exp(F.col("ls") / F.col("n_lines").cast("double")), 6
            ).alias("geomean_cents"),
        )
        .orderBy("p_brand")
    )


GEOMEAN_PRICE_BY_BRAND_ORACLE = """
WITH cells AS (
  SELECT p_brand, CAST(round(l_extendedprice * 100) AS BIGINT) AS c,
         CAST(count(*) AS BIGINT) AS cnt
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1, 2
), per_brand AS (
  SELECT p_brand,
         CAST(sum(cnt) AS BIGINT) AS n_lines,
         CAST(list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
             list(CAST(cnt AS DOUBLE) * ln(CAST(c AS DOUBLE)) ORDER BY c)),
           (a, b) -> a + b) AS DOUBLE) AS ls
  FROM cells GROUP BY p_brand
)
SELECT p_brand, n_lines,
       round(exp(ls / CAST(n_lines AS DOUBLE)), 6) AS geomean_cents
FROM per_brand
ORDER BY p_brand
"""


def iqr_price_fences(lineitem: DataFrame) -> DataFrame:
    """Tukey boxplot census of the extended price: element-selected
    quartiles, the IQR, and the count of rows outside the 1.5·IQR
    fences — the quantile-based outlier member (value_outliers uses
    stddev, mad_outliers the MAD; Tukey fences are the boxplot
    convention). One row: (n_rows, q1_value, q3_value, iqr_value,
    n_below, n_above).

    Shape: ONE collapse to cent cells, ``_rank_cuts`` selects both
    quartile elements from ``running_prior`` (per-bucket priors +
    within-bucket windows — bounded by the cent domain), and the fence
    counts are one more hash aggregate over the cells with the two cuts
    as a 1-row broadcast. No global sort, no per-row rank.

    Exactness: quartile ranks are pure integer arithmetic (⌈n/4⌉ =
    (25n+99) div 100, ⌈3n/4⌉ = (75n+99) div 100); the 1.5·IQR fences
    are compared in DOUBLED units (2c vs 2q1−3·iqr — exact BIGINTs, no
    halves), so the outlier counts are exact integer comparisons; the
    emitted values are grid cents/100.0. Nothing can tie or drift.
    """
    cells = _price_cent_cells(lineitem)
    cuts = _rank_cuts(cells, q1=25, q3=75)
    iqr = F.col("q3") - F.col("q1")
    f_lo = 2 * F.col("q1") - 3 * iqr  # doubled units: 2·(q1 − 1.5·iqr)
    f_hi = 2 * F.col("q3") + 3 * iqr
    s = cells.crossJoin(cuts).agg(
        F.sum("cnt").cast("long").alias("n_rows"),
        F.max("q1").alias("q1"),
        F.max("q3").alias("q3"),
        F.sum(F.when(2 * F.col("c") < f_lo, F.col("cnt")).otherwise(0))
        .cast("long")
        .alias("n_below"),
        F.sum(F.when(2 * F.col("c") > f_hi, F.col("cnt")).otherwise(0))
        .cast("long")
        .alias("n_above"),
    )
    return s.select(
        "n_rows",
        (F.col("q1") / 100.0).alias("q1_value"),
        (F.col("q3") / 100.0).alias("q3_value"),
        ((F.col("q3") - F.col("q1")) / 100.0).alias("iqr_value"),
        "n_below",
        "n_above",
    )


IQR_PRICE_FENCES_ORACLE = """
WITH cells AS (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c,
         CAST(count(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY 1
), cum AS (
  SELECT c, cnt,
         CAST(coalesce(sum(cnt) OVER (ORDER BY c
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                               AND 1 PRECEDING), 0)
              AS BIGINT) AS prior,
         CAST(sum(cnt) OVER () AS BIGINT) AS n_rows
  FROM cells
), q1 AS (
  SELECT c AS q1 FROM cum
  WHERE prior < (25 * n_rows + 99) // 100
    AND (25 * n_rows + 99) // 100 <= prior + cnt
), q3 AS (
  SELECT c AS q3 FROM cum
  WHERE prior < (75 * n_rows + 99) // 100
    AND (75 * n_rows + 99) // 100 <= prior + cnt
), s AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
         max(q1) AS q1, max(q3) AS q3,
         CAST(sum(CASE WHEN 2 * c < 2 * q1 - 3 * (q3 - q1)
                       THEN cnt ELSE 0 END) AS BIGINT) AS n_below,
         CAST(sum(CASE WHEN 2 * c > 2 * q3 + 3 * (q3 - q1)
                       THEN cnt ELSE 0 END) AS BIGINT) AS n_above
  FROM cells, q1, q3
)
SELECT n_rows,
       CAST(q1 AS DOUBLE) / 100.0 AS q1_value,
       CAST(q3 AS DOUBLE) / 100.0 AS q3_value,
       CAST(q3 - q1 AS DOUBLE) / 100.0 AS iqr_value,
       n_below, n_above
FROM s
"""
