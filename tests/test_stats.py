"""Independent pins for plans/stats.py — the grouped-OLS trend and the
chi-square independence test are re-derived in plain Python (exact int
sufficient statistics + the same canonical-order double fold) and
compared with == on floats, not approx: the module's docstrings claim
bit-identical cross-engine results, so the test holds it to that.
"""

from __future__ import annotations

import math

import pytest

from pyspark.sql import functions as F

from tp1_distribuidos_mapreduce_spark.plans import stats as STT

from conftest import SF_SMOKE


def test_nation_trend_slope_bit_exact_vs_python(spark):
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    customer = spark.read.parquet(f"{SF_SMOKE}/customer.parquet")
    nation = spark.read.parquet(f"{SF_SMOKE}/nation.parquet")

    got = {
        r["n_name"]: (r["n_days"], r["slope_cents_per_day"])
        for r in STT.nation_revenue_trend(orders, customer, nation).collect()
    }

    # Independent re-derivation: exact ints all the way to one division.
    rows = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(nation, customer.c_nationkey == nation.n_nationkey)
        .select(
            "n_name",
            F.datediff(
                F.col("o_orderdate"), F.lit(STT._X_EPOCH).cast("date")
            ).alias("x"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .collect()
    )
    daily: dict[tuple[str, int], int] = {}
    for r in rows:
        daily[(r["n_name"], r["x"])] = daily.get((r["n_name"], r["x"]), 0) + r[
            "cents"
        ]
    stats: dict[str, list[int]] = {}
    for (name, x), y in daily.items():
        s = stats.setdefault(name, [0, 0, 0, 0, 0])  # n, sx, sy, sxy, sxx
        s[0] += 1
        s[1] += x
        s[2] += y
        s[3] += x * y
        s[4] += x * x
    want = {}
    for name, (n, sx, sy, sxy, sxx) in stats.items():
        den = n * sxx - sx * sx
        if den != 0:
            want[name] = (n, (n * sxy - sx * sy) / den)

    assert got == want  # == on floats: one division of identical BIGINTs
    assert len(got) >= 20  # fixture has 25 nations; most must survive


def test_chi2_bit_exact_vs_python_ordered_fold(spark):
    events = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    row = STT.event_weekday_chi2(events).collect()[0]

    cells: dict[tuple[str, int], int] = {}
    for r in (
        events.select(
            "event_type", (F.dayofweek("ts") - 1).cast("int").alias("dow")
        )
        .groupBy("event_type", "dow")
        .count()
        .collect()
    ):
        cells[(r["event_type"], r["dow"])] = r["count"]
    rt: dict[str, int] = {}
    ct: dict[int, int] = {}
    for (t, d), o in cells.items():
        rt[t] = rt.get(t, 0) + o
        ct[d] = ct.get(d, 0) + o
    n_total = sum(cells.values())
    chi2 = 0.0  # same left fold over the same (type, dow) sort order
    for t, d in sorted(cells):
        o = cells[(t, d)]
        diff = float(n_total * o - rt[t] * ct[d])  # exact BIGINT -> double
        chi2 += diff * diff / (float(n_total) * float(rt[t]) * float(ct[d]))

    assert row["n_cells"] == len(cells)
    assert row["dof"] == (len(rt) - 1) * (len(ct) - 1)
    assert row["chi2"] == chi2  # bit-identical, not approx
    mindim = min(len(rt) - 1, len(ct) - 1)
    assert row["cramers_v"] == math.sqrt(chi2 / (n_total * mindim))


def test_brand_corr_bit_exact_vs_python(spark):
    lineitem = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    part = spark.read.parquet(f"{SF_SMOKE}/part.parquet")
    got = {
        r["p_brand"]: (r["n_items"], r["corr_qty_price"])
        for r in STT.brand_qty_price_corr(lineitem, part).collect()
    }

    rows = (
        lineitem.join(part, lineitem.l_partkey == part.p_partkey)
        .select(
            "p_brand",
            F.round("l_quantity").cast("long").alias("x"),
            F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
        )
        .collect()
    )
    s: dict[str, list[int]] = {}
    for r in rows:
        t = s.setdefault(r["p_brand"], [0, 0, 0, 0, 0, 0])
        x, y = r["x"], r["y"]  # Python ints: exact, unbounded
        t[0] += 1
        t[1] += x
        t[2] += y
        t[3] += x * y
        t[4] += x * x
        t[5] += y * y
    want = {}
    for brand, (n, sx, sy, sxy, sxx, syy) in s.items():
        da, db = n * sxx - sx * sx, n * syy - sy * sy
        if da and db:
            want[brand] = (
                n,
                float(n * sxy - sx * sy)
                / math.sqrt(float(da))
                / math.sqrt(float(db)),
            )
    assert got == want  # == on floats: identical op chain over exact ints
    assert len(got) == 25


def test_autocorrelation_consecutive_days_only(spark):
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    row = STT.revenue_autocorrelation(orders).collect()[0]

    daily: dict[int, int] = {}
    epoch_rows = orders.select(
        F.datediff(
            F.col("o_orderdate"), F.lit(STT._X_EPOCH).cast("date")
        ).alias("d"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    ).collect()
    for r in epoch_rows:
        daily[r["d"]] = daily.get(r["d"], 0) + r["cents"]
    pairs = [
        (daily[d], daily[d + 1]) for d in sorted(daily) if d + 1 in daily
    ]
    n = len(pairs)
    sx = sum(x for x, _ in pairs)
    sy = sum(y for _, y in pairs)
    sxy = sum(x * y for x, y in pairs)
    sxx = sum(x * x for x, _ in pairs)
    syy = sum(y * y for _, y in pairs)
    da, db = n * sxx - sx * sx, n * syy - sy * sy
    want = float(n * sxy - sx * sy) / math.sqrt(float(da)) / math.sqrt(
        float(db)
    )
    assert row["n_pairs"] == n
    assert row["autocorr_lag1"] == want
    # the fixture calendar has gaps: consecutive-day pairing must drop
    # at least one day, i.e. pairs < days
    assert n < len(daily)


def test_running_prior_matches_python_running_sums(spark):
    """running_prior's two-phase bucketed prior equals a plain running
    sum, across a bucket edge (2¹⁷−1, 2¹⁷, 2¹⁷+1 cents), over distant
    buckets, for two weights, with and without a key — group "b" has a
    single row."""
    edge = 1 << 17
    rows = [
        ("a", 5, 3, 0),
        ("a", edge - 1, 1, 7),
        ("a", edge, 4, 2),
        ("a", edge + 1, 1, 1),
        ("a", 3 * edge + 7, 5, 9),
        ("a", 40 * edge, 9, 6),
        ("b", edge + 2, 2, 8),
    ]
    cells = spark.createDataFrame(rows, "g string, v long, w1 long, w2 long")

    def reference(key):
        prior, want = {}, {}
        for g, v, w1, w2 in sorted(rows, key=lambda r: r[1]):
            p1, p2 = prior.get(key(g), (0, 0))
            want[(g, v)] = (v >> 17, p1, p2)
            prior[key(g)] = (p1 + w1, p2 + w2)
        return want

    for keys, key in (((), lambda g: None), (("g",), lambda g: g)):
        got = STT.running_prior(cells, "v", ["w1", "w2"], keys=keys).collect()
        assert {
            (r["g"], r["v"]): (r["bkt"], r["prior_w1"], r["prior_w2"]) for r in got
        } == reference(key), keys


def test_ks_statistic_bit_exact_vs_python(spark):
    lineitem = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    row = STT.ks_returned_price(lineitem).collect()[0]

    per_v: dict[int, list[int]] = {}
    for r in lineitem.select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        (F.col("l_returnflag") == "R").alias("is_r"),
    ).collect():
        c = per_v.setdefault(r["cents"], [0, 0])
        c[0 if r["is_r"] else 1] += 1
    n1 = sum(v[0] for v in per_v.values())
    n2 = sum(v[1] for v in per_v.values())
    cum1 = cum2 = 0
    dnum = 0
    for cents in sorted(per_v):
        cum1 += per_v[cents][0]
        cum2 += per_v[cents][1]
        dnum = max(dnum, abs(cum1 * n2 - cum2 * n1))
    assert row["n_returned"] == n1 and row["n_other"] == n2
    assert row["ks_stat"] == float(dnum) / float(n1 * n2)
    assert 0.0 <= row["ks_stat"] <= 1.0


def test_entropy_matches_python_ordered_fold(spark):
    events = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    got = {
        r["dow"]: (
            r["n_events"],
            r["n_types"],
            r["entropy_bits"],
            r["norm_entropy"],
        )
        for r in STT.event_type_entropy(events).collect()
    }

    cells: dict[tuple[int, str], int] = {}
    for r in (
        events.select(
            (F.dayofweek("ts") - 1).cast("int").alias("dow"), "event_type"
        )
        .groupBy("dow", "event_type")
        .count()
        .collect()
    ):
        cells[(r["dow"], r["event_type"])] = r["count"]
    for dow in sorted({d for d, _ in cells}):
        cl = sorted((t, c) for (d, t), c in cells.items() if d == dow)
        n = sum(c for _, c in cl)
        h = 0.0  # same left fold, same (event_type) order
        for _, c in cl:
            p = c / n
            h += -(p * math.log(p))
        n_ev, n_ty, bits, norm = got[dow]
        assert (n_ev, n_ty) == (n, len(cl))
        assert bits == pytest.approx(h / math.log(2.0), abs=1e-6)
        if len(cl) > 1:
            assert norm == pytest.approx(h / math.log(len(cl)), abs=1e-6)
            assert 0.0 <= norm <= 1.0
        else:
            assert norm == 0.0


def test_benford_shares_exact_and_complete(spark):
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    rows = STT.benford_price_audit(orders).collect()

    counts: dict[int, int] = {}
    for r in orders.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    ).collect():
        if r["cents"] > 0:
            d = int(str(r["cents"])[0])
            counts[d] = counts.get(d, 0) + 1
    total = sum(counts.values())
    got = {r["digit"]: r for r in rows}
    assert set(got) == set(counts)
    for d, n in counts.items():
        r = got[d]
        assert r["n_orders"] == n
        assert r["obs_share"] == n / total  # raw exact-rational division
        assert r["exp_share"] == math.log10(1.0 + 1.0 / d)
        assert r["abs_dev"] == abs(n / total - math.log10(1.0 + 1.0 / d))
    # shares sum to 1 within float error; TPC-H prices are roughly
    # log-uniform over one decade so every digit appears at this SF
    assert abs(sum(r["obs_share"] for r in rows) - 1.0) < 1e-9


def test_welch_bit_exact_vs_python(spark):
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    got = STT.welch_price_ttest(li).collect()
    assert len(got) == 1
    g = got[0]

    rows = li.select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    ).collect()
    stats = {True: [0, 0, 0], False: [0, 0, 0]}  # n, sy, syy (exact ints)
    for r in rows:
        s = stats[r["l_returnflag"] == "R"]
        s[0] += 1
        s[1] += r["cents"]
        s[2] += r["cents"] * r["cents"]
    (n1, s1, q1), (n2, s2, q2) = stats[True], stats[False]
    # the SAME double chain the plan evaluates (string-routed exact ints
    # are plain Python ints here — float() of an int < 2^53*ulp rounds
    # correctly, like both engines' strtod)
    var1 = float(n1 * q1 - s1 * s1) / float(n1 * (n1 - 1))
    var2 = float(n2 * q2 - s2 * s2) / float(n2 * (n2 - 1))
    se1, se2 = var1 / float(n1), var2 / float(n2)
    se_sq = se1 + se2
    mean_diff = float(s1) / float(n1) - float(s2) / float(n2)
    assert g["n_returned"] == n1 and g["n_other"] == n2
    assert g["mean_diff_cents"] == mean_diff
    assert g["welch_t"] == mean_diff / math.sqrt(se_sq)
    assert g["welch_df"] == (se_sq * se_sq) / (
        (se1 * se1) / (n1 - 1.0) + (se2 * se2) / (n2 - 1.0)
    )


def test_welch_degenerate_single_group_emits_nothing(spark):
    li = spark.createDataFrame(
        [("N", 10.0), ("N", 20.0), ("N", 30.0)],
        "l_returnflag string, l_extendedprice double",
    )
    assert STT.welch_price_ttest(li).count() == 0


def test_mannwhitney_bit_exact_vs_python(spark):
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    got = STT.mannwhitney_quantity(li).collect()
    assert len(got) == 1
    g = got[0]

    rows = li.select(
        "l_returnflag", F.round("l_quantity").cast("long").alias("v")
    ).collect()
    c1: dict[int, int] = {}
    c2: dict[int, int] = {}
    for r in rows:
        d = c1 if r["l_returnflag"] == "R" else c2
        d[r["v"]] = d.get(r["v"], 0) + 1
    vals = sorted(set(c1) | set(c2))
    n1, n2 = sum(c1.values()), sum(c2.values())
    two_u1, ties, c2cum = 0, 0, 0
    for v in vals:
        a, b = c1.get(v, 0), c2.get(v, 0)
        two_u1 += 2 * a * c2cum + a * b
        t = a + b
        ties += t * t * t - t
        c2cum += b
    nd, nn_d = float(n1 + n2), float(n1 * n2)
    u1 = float(two_u1) / 2.0
    sigma_sq = nn_d / 12.0 * ((nd + 1.0) - float(ties) / (nd * (nd - 1.0)))
    assert g["n_returned"] == n1 and g["n_other"] == n2
    assert g["u_stat"] == u1
    assert g["z_score"] == (u1 - nn_d / 2.0) / math.sqrt(sigma_sq)


def test_mannwhitney_all_tied_emits_nothing(spark):
    """Every observation identical → σ² = 0 → excluded, not NaN."""
    li = spark.createDataFrame(
        [("R", 5.0), ("N", 5.0), ("R", 5.0), ("N", 5.0)],
        "l_returnflag string, l_quantity double",
    )
    assert STT.mannwhitney_quantity(li).count() == 0


def test_anova_bit_exact_vs_python(spark):
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    got = STT.anova_price_by_priority(orders).collect()
    assert len(got) == 1
    g = got[0]

    rows = orders.select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    ).collect()
    per: dict[str, list[int]] = {}
    for r in rows:
        s = per.setdefault(r["o_orderpriority"], [0, 0, 0])
        s[0] += 1
        s[1] += r["cents"]
        s[2] += r["cents"] * r["cents"]
    k = len(per)
    n = sum(s[0] for s in per.values())
    s_tot = sum(s[1] for s in per.values())
    q_tot = sum(s[2] for s in per.values())
    # canonical-order fold: ascending group key, left fold from 0.0
    sum_r = 0.0
    for gname in sorted(per):
        ng, sg, _ = per[gname]
        sum_r = sum_r + float(sg * sg) / float(ng)
    s2n = float(s_tot * s_tot) / float(n)
    ssb, ssw, sst = sum_r - s2n, float(q_tot) - sum_r, float(q_tot) - s2n
    assert g["n_groups"] == k and g["n_rows"] == n
    assert g["f_stat"] == (ssb / (k - 1.0)) / (ssw / (n - float(k)))
    assert g["eta_sq"] == ssb / sst


def test_anova_single_group_emits_nothing(spark):
    orders = spark.createDataFrame(
        [("1-URGENT", 10.0), ("1-URGENT", 20.0)],
        "o_orderpriority string, o_totalprice double",
    )
    assert STT.anova_price_by_priority(orders).count() == 0


def test_chi2_degenerate_single_type_emits_zero_cramers_v(spark):
    """ADVICE r11: a single event type gives min(R−1, C−1) = 0; both
    plan and oracle must emit cramers_v = 0.0, never double/0."""
    from datetime import datetime

    ev = spark.createDataFrame(
        [(1, datetime(2024, 1, 1), 7, "click", 1.0, "{}"),
         (2, datetime(2024, 1, 2), 8, "click", 1.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    got = STT.event_weekday_chi2(ev).collect()
    assert len(got) == 1
    assert got[0]["cramers_v"] == 0.0
    assert got[0]["chi2"] == 0.0


def test_kaplan_meier_bit_exact_vs_python(spark):
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    got = [
        (r["t_days"], r["n_risk"], r["n_events"], r["survival"])
        for r in STT.kaplan_meier_repurchase(orders).collect()
    ]

    rows = orders.select("o_custkey", "o_orderdate", "o_orderkey").collect()
    by_cust: dict[int, list] = {}
    for r in rows:
        by_cust.setdefault(r["o_custkey"], []).append(
            (r["o_orderdate"], r["o_orderkey"])
        )
    max_date = max(r["o_orderdate"] for r in rows)
    durs: list[tuple[int, int]] = []  # (duration_days, observed)
    for dates in by_cust.values():
        dates.sort()
        for a, b in zip(dates, dates[1:]):
            durs.append(((b[0] - a[0]).days, 1))
        durs.append(((max_date - dates[-1][0]).days, 0))
    per_t: dict[int, list[int]] = {}
    for dur, obs in durs:
        s = per_t.setdefault(dur, [0, 0])
        s[0] += obs
        s[1] += 1 - obs
    n_risk = len(durs)
    want = []
    surv = 1.0
    for t in sorted(per_t):
        d, c = per_t[t]
        if d > 0:
            # same canonical chain: one division, one subtract, one multiply
            surv = surv * (1.0 - float(d) / float(n_risk))
            want.append((t, n_risk, d, surv))
        n_risk -= d + c
    assert got == want


def test_kaplan_meier_no_repeat_orders_emits_nothing(spark):
    """All subjects censored (one order each) → no event times → empty
    curve, not a NULL/0-division row."""
    from datetime import date

    orders = spark.createDataFrame(
        [(1, date(2024, 1, 1), 100), (2, date(2024, 2, 1), 101)],
        "o_custkey long, o_orderdate date, o_orderkey long",
    )
    assert STT.kaplan_meier_repurchase(orders).count() == 0


def test_theil_sen_bit_exact_vs_python(spark):
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    got = STT.theil_sen_revenue_trend(orders).collect()
    assert len(got) == 1
    g = got[0]

    rows = orders.select(
        F.datediff(
            F.col("o_orderdate"), F.lit(STT._X_EPOCH).cast("date")
        ).alias("x"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    ).collect()
    daily: dict[int, int] = {}
    for r in rows:
        daily[r["x"]] = daily.get(r["x"], 0) + r["cents"]
    pts = sorted(daily.items())
    slopes = [
        float(y2 - y1) / float(x2 - x1)
        for i, (x1, y1) in enumerate(pts)
        for (x2, y2) in pts[i + 1:]
    ]
    slopes.sort()
    m = slopes[(len(slopes) + 1) // 2 - 1]  # lower median (1-based ceil(n/2))
    resid = sorted(float(y) - m * float(x) for x, y in pts)
    b = resid[(len(resid) + 1) // 2 - 1]
    assert g["n_days"] == len(pts) and g["n_pairs"] == len(slopes)
    assert g["slope_cents_per_day"] == m
    assert g["intercept_cents"] == b


def test_mutual_info_degenerate_single_type_emits_zero_norm(spark):
    """Single event type → H(type) = 0 → norm_mi emits 0.0 (never 0/0),
    and MI itself is exactly 0 bits (p(x,y) = p(x)p(y) cell-by-cell)."""
    from datetime import datetime

    ev = spark.createDataFrame(
        [(1, datetime(2024, 1, 1), 7, "click", 1.0, "{}"),
         (2, datetime(2024, 1, 2), 8, "click", 1.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    got = STT.event_weekday_mutual_info(ev).collect()
    assert len(got) == 1
    assert got[0]["mi_bits"] == 0.0
    assert got[0]["norm_mi"] == 0.0


def test_spearman_bit_exact_vs_python_and_degenerate(spark):
    """Midrank Spearman re-derived in plain Python over value-domain
    midranks via the SAME exact-integer sufficient statistics and
    double chain, compared with ==; plus the constant-variable guard."""
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    got = STT.quantity_price_spearman(li).collect()
    assert len(got) == 1
    g = got[0]

    rows = li.select(
        F.round("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    ).collect()
    from collections import Counter

    cx = Counter(r["x"] for r in rows)
    cy = Counter(r["y"] for r in rows)

    def twice_midranks(c):
        out, cum = {}, 0
        for v in sorted(c):
            out[v] = 2 * cum + c[v] + 1  # exact int: 2 * midrank
            cum += c[v]
        return out

    a = twice_midranks(cx)
    b = twice_midranks(cy)
    n = len(rows)
    # r14 centered chain: mean(2·midrank) is the exact INTEGER n+1
    # (midranks preserve the total rank sum), so centering keeps every
    # sufficient statistic an exact int bounded by n^3 — the identity
    # that lifted the old 10^9 raw-moment ceiling.
    c = n + 1
    sab = sum((a[r["x"]] - c) * (b[r["y"]] - c) for r in rows)
    saa = sum((a[r["x"]] - c) ** 2 for r in rows)
    sbb = sum((b[r["y"]] - c) ** 2 for r in rows)
    import math

    # exact-integer sanity of the centering identity itself
    assert sum(a[r["x"]] for r in rows) == n * c
    assert sum(b[r["y"]] for r in rows) == n * c
    want = float(sab) / math.sqrt(float(saa)) / math.sqrt(float(sbb))
    assert g["n_rows"] == n
    assert g["spearman_rho"] == want

    # constant quantity → zero rank variance → excluded, not NaN
    const = spark.createDataFrame(
        [(5.0, 10.0), (5.0, 20.0), (5.0, 30.0)],
        "l_quantity double, l_extendedprice double",
    )
    assert STT.quantity_price_spearman(const).count() == 0


def test_spearman_headroom_guard_fails_loud(spark, monkeypatch):
    """The ~4.6·10¹²-row DECIMAL(38,0) ceiling on the CENTERED chain is
    ENFORCED (VERDICT r12 #4 discipline, ceiling lifted r14): past it
    the N³ products would overflow and silently NULL out in non-ANSI
    mode, so the plan raises instead. Lowering the module ceiling must
    turn a green run into a loud USER_RAISED_EXCEPTION on both
    engines."""
    import duckdb

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    # the oracle string was f-formatted at import with the REAL ceiling
    # — capture it before the monkeypatch lowers the module attr
    real_ceiling = str(STT.SPEARMAN_MAX_ROWS)
    monkeypatch.setattr(STT, "SPEARMAN_MAX_ROWS", 10)
    with pytest.raises(Exception, match="headroom ceiling"):
        STT.quantity_price_spearman(li).collect()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM '{SF_SMOKE}/lineitem.parquet'"
    )
    lowered = STT.QUANTITY_PRICE_SPEARMAN_ORACLE.replace(real_ceiling, "10")
    with pytest.raises(Exception, match="headroom ceiling"):
        con.sql(lowered).fetchall()


def test_spearman_above_old_ceiling_exact(spark):
    """The r14 ceiling lift is CORRECT, not just permissive: synthetic
    cell counts summing to 3·10⁹ + 7 rows — above the old 10⁹
    raw-moment ceiling, where the retired 4N⁴ closing products
    (~3·10³⁸) would already have overflowed DECIMAL(38,0) — produce the
    exact centered-chain value re-derived in arbitrary-precision
    Python. The cell-level entry point makes the arithmetic headroom
    testable without a billion physical rows: the ceiling was always
    about sufficient-statistic magnitudes, which scale with cell
    COUNTS, not cell rows."""
    import math

    big = 10**9
    cells = [(1, 100, big), (2, 300, big), (3, 200, big + 7)]
    got = STT.spearman_from_cells(
        spark.createDataFrame(cells, "x long, y long, n long")
    ).collect()
    assert len(got) == 1
    g = got[0]
    n = sum(c for _, _, c in cells)
    assert n > 10**9  # above the OLD ceiling, below the new 4e12 one
    assert g["n_rows"] == n

    def twice_midranks(weights):
        out, cum = {}, 0
        for v in sorted(weights):
            out[v] = 2 * cum + weights[v] + 1
            cum += weights[v]
        return out

    a = twice_midranks({x: c for x, _, c in cells})
    b = twice_midranks({y: c for _, y, c in cells})
    ctr = n + 1
    sab = sum(c * (a[x] - ctr) * (b[y] - ctr) for x, y, c in cells)
    saa = sum(c * (a[x] - ctr) ** 2 for x, y, c in cells)
    sbb = sum(c * (b[y] - ctr) ** 2 for x, y, c in cells)
    assert max(abs(sab), saa, sbb) < 10**38  # fits DECIMAL(38,0)
    want = float(sab) / math.sqrt(float(saa)) / math.sqrt(float(sbb))
    assert g["spearman_rho"] == want
    # y dips at x=3 → genuinely non-degenerate, non-±1 rho
    assert -1.0 < g["spearman_rho"] < 1.0


def test_spearman_guard_fires_at_true_overflow(spark):
    """ADVICE r13 (medium): the raise must be REACHABLE at the very
    scale it guards. Cell counts summing to 5·10¹² rows push the N³
    products past DECIMAL(38,0) — the per-term multiplies NULL out in
    non-ANSI mode, so the old shape's degeneracy filter (NULL != 0 →
    NULL) silently dropped the aggregate row and returned an EMPTY
    frame instead of raising. The r14 WHERE keeps the over-ceiling row
    alive through the filter, so this must raise loudly, not return
    empty."""
    big = 2 * 10**12
    cells = [(1, 100, big), (2, 200, big), (3, 300, 10**12)]
    with pytest.raises(Exception, match="headroom ceiling"):
        STT.spearman_from_cells(
            spark.createDataFrame(cells, "x long, y long, n long")
        ).collect()


def test_wilson_ci_matches_python_reference(spark):
    """Wilson bounds re-derived in plain Python with the SAME expression
    tree (z enters as the 1.96 double literal, identical op order) and
    compared at the 6dp rounding the query emits; p̂ compared with ==."""
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    ords = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    cust = spark.read.parquet(f"{SF_SMOKE}/customer.parquet")
    nat = spark.read.parquet(f"{SF_SMOKE}/nation.parquet")
    got = {
        r["n_name"]: r
        for r in STT.wilson_ci_return_rate(li, ords, cust, nat).collect()
    }

    o2c = {r["o_orderkey"]: r["o_custkey"] for r in ords.collect()}
    c2n = {r["c_custkey"]: r["c_nationkey"] for r in cust.collect()}
    n2name = {r["n_nationkey"]: r["n_name"] for r in nat.collect()}
    from collections import Counter

    n_c, r_c = Counter(), Counter()
    for row in li.select("l_orderkey", "l_returnflag").collect():
        name = n2name[c2n[o2c[row["l_orderkey"]]]]
        n_c[name] += 1
        r_c[name] += 1 if row["l_returnflag"] == "R" else 0
    assert set(got) == set(n_c)
    for name in n_c:
        nf, rr = float(n_c[name]), r_c[name]
        p = float(rr) / nf
        z = 1.96
        z2 = z * z
        denom = 1.0 + z2 / nf
        center = (p + z2 / (2.0 * nf)) / denom
        half = z * ((p * (1.0 - p)) / nf + z2 / (4.0 * nf * nf)) ** 0.5 / denom
        g = got[name]
        assert g["n_lines"] == n_c[name] and g["n_returned"] == rr
        assert g["return_rate"] == p
        assert g["wilson_lo"] == round(center - half, 6)
        assert g["wilson_hi"] == round(center + half, 6)


def test_cohens_d_matches_python_reference(spark):
    """Pooled-SD effect size re-derived over exact integer sufficient
    statistics with the same double chain; compared with == on floats."""
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    got = STT.cohens_d_returned_price(li).collect()[0]

    rows = li.select("l_returnflag", "l_extendedprice").collect()
    g1 = [round(r["l_extendedprice"] * 100) for r in rows if r["l_returnflag"] == "R"]
    g2 = [round(r["l_extendedprice"] * 100) for r in rows if r["l_returnflag"] != "R"]
    n1, n2 = len(g1), len(g2)
    s1, s2 = sum(g1), sum(g2)
    q1, q2 = sum(y * y for y in g1), sum(y * y for y in g2)
    var1 = float(n1 * q1 - s1 * s1) / float(n1 * (n1 - 1))
    var2 = float(n2 * q2 - s2 * s2) / float(n2 * (n2 - 1))
    mean_diff = float(s1) / float(n1) - float(s2) / float(n2)
    pooled = ((float(n1) - 1.0) * var1 + (float(n2) - 1.0) * var2) / (
        float(n1) + float(n2) - 2.0
    )
    assert got["n_returned"] == n1 and got["n_other"] == n2
    assert got["mean_diff_cents"] == mean_diff
    assert got["cohens_d"] == mean_diff / pooled ** 0.5


def test_median_by_nation_is_lower_median_element(spark):
    """The grouped median must be the ⌈n/2⌉-th ELEMENT of each nation's
    sorted cent multiset (lower median), never an interpolation."""
    ords = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    cust = spark.read.parquet(f"{SF_SMOKE}/customer.parquet")
    nat = spark.read.parquet(f"{SF_SMOKE}/nation.parquet")
    got = {
        r["n_name"]: (r["n_orders"], r["median_value"])
        for r in STT.median_order_value_by_nation(ords, cust, nat).collect()
    }
    c2n = {r["c_custkey"]: r["c_nationkey"] for r in cust.collect()}
    n2name = {r["n_nationkey"]: r["n_name"] for r in nat.collect()}
    per = {}
    for row in ords.select("o_custkey", "o_totalprice").collect():
        per.setdefault(n2name[c2n[row["o_custkey"]]], []).append(
            round(row["o_totalprice"] * 100)
        )
    assert set(got) == set(per)
    for name, cents in per.items():
        cents.sort()
        k = (len(cents) + 1) // 2
        assert got[name] == (len(cents), cents[k - 1] / 100.0), name


def test_winsorized_and_iqr_match_python_reference(spark):
    """Cut elements by explicit ceil-rank selection on the sorted cent
    multiset, clamped mean as an exact int sum, Tukey fence counts by
    doubled-unit integer comparison — all compared with ==."""
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    cents = sorted(
        round(r["l_extendedprice"] * 100) for r in li.select("l_extendedprice").collect()
    )
    n = len(cents)

    w = STT.winsorized_mean_price(li).collect()[0]
    kl, kh = (5 * n + 99) // 100, (95 * n + 99) // 100
    lo, hi = cents[kl - 1], cents[kh - 1]
    ws = sum(max(lo, min(hi, c)) for c in cents)
    assert w["n_rows"] == n
    assert w["winsor_lo"] == lo / 100.0 and w["winsor_hi"] == hi / 100.0
    assert w["winsorized_mean_cents"] == float(ws) / float(n)

    q = STT.iqr_price_fences(li).collect()[0]
    k1, k3 = (25 * n + 99) // 100, (75 * n + 99) // 100
    q1, q3 = cents[k1 - 1], cents[k3 - 1]
    iqr = q3 - q1
    n_below = sum(1 for c in cents if 2 * c < 2 * q1 - 3 * iqr)
    n_above = sum(1 for c in cents if 2 * c > 2 * q3 + 3 * iqr)
    assert q["n_rows"] == n
    assert (q["q1_value"], q["q3_value"]) == (q1 / 100.0, q3 / 100.0)
    assert q["iqr_value"] == iqr / 100.0
    assert (q["n_below"], q["n_above"]) == (n_below, n_above)


def test_geomean_matches_python_canonical_fold(spark):
    """The per-brand log fold re-run in plain Python in the SAME
    canonical order (cells sorted by cent, left fold from 0.0) must give
    the identical 6dp geomean; a different fold order would drift in the
    last ulp and (rarely) the 6th decimal — the test locks the order."""
    import math

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    part = spark.read.parquet(f"{SF_SMOKE}/part.parquet")
    got = {
        r["p_brand"]: (r["n_lines"], r["geomean_cents"])
        for r in STT.geomean_price_by_brand(li, part).collect()
    }
    p2b = {r["p_partkey"]: r["p_brand"] for r in part.collect()}
    from collections import Counter

    cells = Counter()
    for row in li.select("l_partkey", "l_extendedprice").collect():
        cells[(p2b[row["l_partkey"]], round(row["l_extendedprice"] * 100))] += 1
    brands = {}
    for (b, c), cnt in cells.items():
        brands.setdefault(b, []).append((c, cnt))
    assert set(got) == set(brands)
    for b, cl in brands.items():
        cl.sort()
        ls = 0.0
        nn = 0
        for c, cnt in cl:
            ls = ls + float(cnt) * math.log(float(c))
            nn += cnt
        assert got[b] == (nn, round(math.exp(ls / float(nn)), 6)), b


def test_selected_lower_median_edge_cases(spark):
    """Direct pins for the shared bucketed rank-selection helper
    (_selected_lower_median) beyond its theil_sen use: the selected
    value must equal Python's sorted()[⌈n/2⌉-1] on adversarial shapes —
    all-equal values (degenerate zero-width grid), two clusters far
    apart (empty middle buckets), negatives straddling zero, a single
    element, tie runs crossing the median rank, and a sub-bucket-width
    range (grid width underflow territory)."""
    cases = [
        [5.0] * 7,
        [1e-9, 1e-9, 1e9, 1e9, 1e9],
        [-3.5, -1.0, 0.0, 2.0, 7.25, -100.0],
        [42.0],
        [1.0, 2.0, 2.0, 2.0, 3.0, 4.0],
        [1.0 + i * 1e-13 for i in range(9)],
        [float(i) for i in range(1, 101)],
    ]
    from concurrent.futures import ThreadPoolExecutor

    def run_case(vals):
        df = spark.createDataFrame([(v,) for v in vals], "v double")
        return STT._selected_lower_median(df, "v").collect()

    # each case is a multi-stage selection plan (~1.2s); collect them
    # concurrently (r14 suite-time consolidation)
    with ThreadPoolExecutor(max_workers=len(cases)) as pool:
        results = list(pool.map(run_case, cases))
    for vals, got in zip(cases, results):
        want = sorted(vals)[(len(vals) + 1) // 2 - 1]
        assert len(got) == 1 and got[0]["n"] == len(vals)
        assert got[0]["med"] == want, (vals, got[0]["med"], want)
    # empty input → empty output, not a crash or a NULL row
    empty = spark.createDataFrame([], "v double")
    assert STT._selected_lower_median(empty, "v").collect() == []
