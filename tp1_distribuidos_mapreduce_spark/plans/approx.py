"""Approximate (sketch) aggregates: HyperLogLog distinct counts and
approximate quantiles.

At 100 TB exact COUNT(DISTINCT) and exact percentiles are shuffle-heavy
(all distinct values / all rows must meet); the sketch versions are
single-pass, mergeable, fixed-size state — the interactive-analytics path.
Sketch outputs are engine-specific (no DuckDB oracle; driver rows-only
check); tests/test_approx.py pins relative error against the exact
aggregates instead.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def approx_user_counts(events: DataFrame, rsd: float = 0.02) -> DataFrame:
    """Per-event-type approx distinct users (HyperLogLog++, target relative
    standard deviation ``rsd``) next to the event count."""
    return (
        events.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.approx_count_distinct("user_id", rsd).alias("approx_users"),
        )
        .orderBy("event_type")
    )


def approx_price_quantiles(orders: DataFrame, accuracy: int = 10000) -> DataFrame:
    """Approximate median/p90/p99 of order price per priority
    (Greenwald-Khanna sketch with the given accuracy)."""
    q = F.percentile_approx(
        "o_totalprice", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)), accuracy
    )
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.round(F.element_at(q, 1), 2).alias("ap50"),
            F.round(F.element_at(q, 2), 2).alias("ap90"),
            F.round(F.element_at(q, 3), 2).alias("ap99"),
        )
        .orderBy("o_orderpriority")
    )


def bitmap_distinct_users(events: DataFrame) -> DataFrame:
    """EXACT distinct users per event type via bitmap aggregation — the
    shuffle-light exact-distinct technique for dense integer keys.

    Phase 1 (map-side heavy): group by (type, bitmap bucket) and OR each
    user's bit into a fixed 4KB bitmap — the shuffle carries one bitmap
    per (type, bucket), not one row per event or per user. Phase 2 sums
    popcounts. Versus COUNT(DISTINCT), which expands to a two-shuffle
    distinct-then-count over raw ids, this moves orders of magnitude fewer
    bytes when ids are dense; versus HLL it is exact. The standard bitmap
    pattern Spark exposes as bitmap_bucket_number / bitmap_bit_position /
    bitmap_construct_agg / bitmap_count.

    Exactness domain: (bitmap_bucket_number, bitmap_bit_position) is
    injective over the whole bigint range including zero and negatives
    (verified: 140001 consecutive ids straddling 0 → 140001 distinct
    (bucket, pos) pairs; e.g. 0→(0,0), -1→(0,1), 1→(1,0)), so the popcount
    sum counts every distinct id exactly once whatever the sign. NULLs are
    dropped explicitly to mirror COUNT(DISTINCT)'s implicit null-ignore.
    """
    events = events.where(F.col("user_id").isNotNull())
    buckets = events.groupBy(
        "event_type",
        F.bitmap_bucket_number(F.col("user_id")).alias("bucket"),
    ).agg(
        F.bitmap_construct_agg(F.bitmap_bit_position(F.col("user_id"))).alias("bm")
    )
    return (
        buckets.groupBy("event_type")
        .agg(F.sum(F.bitmap_count("bm")).alias("n_users"))
        .orderBy("event_type")
    )


BITMAP_DISTINCT_ORACLE = """
SELECT event_type, count(DISTINCT user_id) AS n_users
FROM events
GROUP BY event_type
ORDER BY event_type
"""


# Count-min sketch geometry: 4 x 2048 64-bit counters = 64 KB total, the
# fixed-size budget that makes the driver collect data-independent.
CMS_DEPTH = 4
CMS_WIDTH = 1 << 11


def _cms_cell_structs(keys: list, depth: int, width: int):
    """The depth hash positions of a sketch key (one or more columns,
    hashed jointly by the variadic xxhash64) as an array of (d, pos)
    structs, ready to explode — THE single definition of the sketch's
    hash layout, shared by the heavy-hitter builds (global + grouped),
    their probe expressions, and the merge proof, so a geometry edit
    cannot desynchronize any pair of them."""
    return F.array(
        *[
            F.struct(
                F.lit(d).alias("d"),
                F.pmod(F.xxhash64(*keys, F.lit(d)), F.lit(width)).alias("pos"),
            )
            for d in range(depth)
        ]
    )


def _cms_pruned_exact_counts(
    words: DataFrame,
    key_cols: list[str],
    threshold: int,
    depth: int,
    width: int,
) -> DataFrame:
    """Shared CMS prune + exact verify over a word frame keyed by
    ``key_cols`` (the composite sketch key — [word] for the global
    build, [source, word] for the grouped one; both wrappers and the
    oracle semantics are exact, the sketch only prunes).

    Build: one pass explodes (row, position) cells via the shared cell
    structs; partial aggregation bounds the shuffle at depth × width
    rows per upstream partition REGARDLESS of key cardinality. The
    driver collect is the depth×width cell grid, never data-sized, and
    rides back in as a broadcast single-row frame (same transport as
    the Bloom bitmap). CMS can only OVERestimate, so est >= threshold
    is a provable superset of the true heavy keys, and the exact count
    over that pruned candidate set is the EXACT answer.

    Scope of the pruning (ADVICE r3): only the exact-count AGGREGATION
    is CMS-pruned — candidate enumeration below still runs a
    key-cardinality ``distinct()`` shuffle (of bare keys, with map-side
    partials). What the sketch removes is the per-candidate exact
    counting work and the HAVING-style full groupBy of token
    OCCURRENCES; a key space too large even to distinct() cheaply
    needs sketch-only answers (accepting overestimates) rather than
    this exact formulation.

    The three consumers (sketch build, candidate distinct, exact
    verify) each re-derive the upstream tokenize — Catalyst never CSEs
    across actions. A localCheckpoint here was MEASURED at sf0.1 and
    rejected: warm 1.79s→1.38s but first-call 2.97s→5.08s (the
    materialization + extra codegen dominates); unlike the jaccard
    self-join the re-derived pass is cheap relative to checkpoint cost.
    """
    cells = _cms_cell_counts(words, key_cols, depth, width).collect()
    grid = _cms_grid_from_cells(cells, depth, width)
    return _cms_exact_counts_from_grid(
        words, key_cols, grid, threshold, depth, width
    )


def _cms_cell_counts(
    words: DataFrame, key_cols: list[str], depth: int, width: int
) -> DataFrame:
    """The (d, pos, n) cell-count frame of a CMS build over ``words``
    keyed by ``key_cols`` — one explode + one partial-aggregated hash
    aggregate, shuffle bounded at depth × width rows per upstream
    partition regardless of key cardinality. Shared by the batch
    prune (_cms_pruned_exact_counts) and the streaming fold's per-batch
    delta (streaming/sinks.py CMS fold), so the two builds cannot
    desynchronize; the hash layout itself lives in _cms_cell_structs."""
    keys = [F.col(c) for c in key_cols]
    return (
        words.select(F.explode(_cms_cell_structs(keys, depth, width)).alias("c"))
        .groupBy(F.col("c.d").alias("d"), F.col("c.pos").alias("pos"))
        .agg(F.count("*").cast("long").alias("n"))
    )


def _cms_grid_from_cells(cells, depth: int, width: int):
    """Collected (d, pos, n) rows → the dense depth×width numpy grid
    (absent cells are zero)."""
    import numpy as np

    grid = np.zeros((depth, width), dtype=np.int64)
    for r in cells:
        grid[r["d"], r["pos"]] = r["n"]
    return grid


def _cms_exact_counts_from_grid(
    words: DataFrame,
    key_cols: list[str],
    grid,
    threshold: int,
    depth: int,
    width: int,
) -> DataFrame:
    """Probe + exact-verify half of the CMS prune, over an
    already-built dense grid (numpy depth×width): broadcast the grid as
    a single-row frame, estimate each distinct key via least-over-depth
    probes built from the SAME shared cell structs as every build, keep
    est >= threshold (a provable superset — CMS only overestimates),
    and exact-count just those candidates. Split out of
    _cms_pruned_exact_counts (r16) so the streaming read path
    (streaming/sinks.py read_cms_heavy_hitters) can probe a PERSISTED
    fold state with the identical kernel instead of a re-derivation."""
    spark = words.sparkSession
    sketch_df = spark.createDataFrame(
        [([list(map(int, row)) for row in grid],)], "grid array<array<bigint>>"
    )
    keys = [F.col(c) for c in key_cols]
    # probe: least over the depth rows, positions from the SAME shared
    # cell structs (element n of the array is depth row n's (d, pos))
    probe_structs = _cms_cell_structs(keys, depth, width)
    ests = [
        F.element_at(
            F.element_at("grid", d + 1),
            (F.get(probe_structs, d)["pos"] + 1).cast("int"),
        )
        for d in range(depth)
    ]
    est = ests[0] if len(ests) == 1 else F.least(*ests)
    candidates = (
        words.distinct()
        .crossJoin(F.broadcast(sketch_df))
        .where(est >= threshold)
        .select(*key_cols)
    )
    return (
        words.join(F.broadcast(candidates), key_cols, "left_semi")
        .groupBy(*key_cols)
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") >= threshold)
        .orderBy(*key_cols)
    )


def cms_heavy_hitters(
    documents: DataFrame,
    threshold: int = 100,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Heavy-hitter words (exact count >= threshold) found via a count-min
    sketch prune + exact verification — the CMS companion to
    plans/bloom.py's bitmap prune, same epistemic shape (oracle: plain
    word count with HAVING). Thin wrapper over the shared builder
    (_cms_pruned_exact_counts) keyed by [word]."""
    from ..functions.tokenize import words_from

    return _cms_pruned_exact_counts(
        words_from(documents, "text"), ["word"], threshold, depth, width
    )


CMS_HEAVY_HITTERS_ORACLE = r"""
SELECT word, count(*) AS cnt
FROM (SELECT unnest(regexp_split_to_array(lower(text), '[^\p{L}]+')) AS word
      FROM documents)
WHERE word <> ''
GROUP BY word
HAVING count(*) >= 100
ORDER BY word
"""


def cms_heavy_hitters_by_source(
    documents: DataFrame,
    threshold: int = 50,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """GROUPED heavy hitters — per-source words with exact count >=
    threshold — via ONE count-min sketch whose key is the (source, word)
    COMPOSITE (VERDICT r14 #7: the grouped story for the frequency
    member, the way r14's grouped DDSketch did it for quantiles). The
    sketch stays the same fixed depth×width grid however many groups
    exist: composite keys share the counter space, and overestimate-only
    pruning keeps the answer EXACT (oracle: per-source word count with
    HAVING). Like the DD bucket counts, CMS cells are ADDITIVE — per-
    slice grids merged by cell sum reproduce the one-shot grid exactly
    (cms_merge_proof pins the law end-to-end). Thin wrapper over the
    shared builder keyed by [source, word]."""
    from ..functions.tokenize import words_from

    return _cms_pruned_exact_counts(
        words_from(documents, "text", "source"),
        ["source", "word"],
        threshold,
        depth,
        width,
    )


CMS_HEAVY_HITTERS_BY_SOURCE_ORACLE = r"""
SELECT source, word, count(*) AS cnt
FROM (SELECT source,
             unnest(regexp_split_to_array(lower(text), '[^\p{L}]+')) AS word
      FROM documents)
WHERE word <> ''
GROUP BY source, word
HAVING count(*) >= 50
ORDER BY source, word
"""


def cms_merge_proof(
    documents: DataFrame, depth: int = CMS_DEPTH, width: int = CMS_WIDTH
) -> DataFrame:
    """End-to-end MERGEABILITY proof for the frequency sketch (r15,
    completing the family: DD additive, HLL max, KMV union-truncate,
    CMS additive, Bloom OR): per-SOURCE count-min cell tables of the
    word stream are MERGED by per-(d, pos) count addition — CMS cells
    are additive like DD buckets, so a streaming fold of this sketch
    would need the same batch-id fence, unlike the idempotent HLL/KMV/
    Bloom folds — and compared cell-for-cell against an INDEPENDENTLY
    built global sketch (a second tokenize scan with no group key,
    sharing no plan nodes). Rows: ONE (n_sketches_merged, n_cells,
    total_count, merge_matches_onebuild); the flag requires every cell
    count identical in a full-outer compare. total_count carries an
    EXACT cross-engine identity — each token occurrence lands in
    exactly one cell per depth row, so total_count = depth × the exact
    corpus token count (the differential's reference). At 100 TB this
    is how per-slice frequency sketches fold: depth×width bounded cell
    frames summed per cell, never the vocabulary crossing the wire."""
    from ..functions.tokenize import words_from

    by_source = (
        words_from(documents, "text", "source")
        .select(
            "source", F.explode(_cms_cell_structs([F.col("word")], depth, width)).alias("c")
        )
        .groupBy("source", F.col("c.d").alias("d"), F.col("c.pos").alias("pos"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        # (groups × grid)-bounded checkpoint: the merge rollup AND the
        # group-count tally both consume this frame, and Catalyst never
        # CSEs across consumers — unpinned, the grouped build's corpus
        # scan ran twice (plan audit: 3 source scans, now 2 — the
        # independent one-build plus this one). Eager at construction,
        # the DD readers' documented convention.
        .localCheckpoint()
    )
    merged = by_source.groupBy("d", "pos").agg(
        F.sum("n").cast("long").alias("n")
    )
    n_sources = by_source.agg(
        F.countDistinct("source").cast("long").alias("n_sketches_merged")
    )
    onebuild = (
        words_from(documents, "text")
        .select(F.explode(_cms_cell_structs([F.col("word")], depth, width)).alias("c"))
        .groupBy(F.col("c.d").alias("d2"), F.col("c.pos").alias("pos2"))
        .agg(F.count(F.lit(1)).cast("long").alias("n2"))
    )
    cmp = merged.join(
        onebuild,
        (merged["d"] == onebuild["d2"]) & (merged["pos"] == onebuild["pos2"]),
        "full_outer",
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum("n").cast("long").alias("total_count"),
        F.every(
            F.col("d").isNotNull()
            & F.col("d2").isNotNull()
            & (F.col("n") == F.col("n2"))
        ).alias("merge_matches_onebuild"),
    )
    return F.broadcast(n_sources).crossJoin(cmp).select(
        "n_sketches_merged", "n_cells", "total_count", "merge_matches_onebuild"
    )


HLL_M = 256  # registers (b=8 bucket bits) → rsd ≈ 1.04/√256 = 6.5%
HLL_ALPHA = 0.7213 / (1 + 1.079 / HLL_M)
ROLLING_HLL_DAYS = 28


def _hll_zero():
    """The all-zero m-register array literal."""
    return F.array_repeat(F.lit(0), HLL_M)


def _hll_zipmax(acc, x):
    """Register-wise max — THE HLL merge, one definition for every fold
    site (daily build, rolling reader, type build, merge proof)."""
    return F.zip_with(acc, x, lambda a, b: F.greatest(a, b))


def _fold_users_into_regs(regs, users) -> None:
    """Fold a batch of user ids into an HLL register array in place.

    The 64-bit hash is the splitmix64 finalizer (public-domain mixer
    from Steele et al., "Fast Splittable Pseudorandom Number
    Generators"; same avalanche construction as MurmurHash3's
    fmix64) evaluated numpy-vectorized over the whole id batch —
    no per-row Python (VERDICT r11 #2 replaced the previous
    hashlib.blake2b list comprehension, the last Python-level per-row
    loop in any mapInPandas kernel; at 100 TB the sketch build is the
    ingest path, so the hash must stay inside numpy). Negative ids are
    in-domain via the two's-complement view. The hash supplies bucket
    bits (low 8) and the rho run-length (56-bit suffix); numpy
    maximum.at folds the whole batch in one pass. uint64 arithmetic
    wraps mod 2^64 by construction — exactly splitmix64's semantics."""
    import numpy as np

    if not len(users):
        return
    x = np.asarray(users, dtype=np.int64).view(np.uint64)
    x = x + np.uint64(0x9E3779B97F4A7C15)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    hs = x ^ (x >> np.uint64(31))
    j = (hs & np.uint64(HLL_M - 1)).astype(np.int64)
    w = hs >> np.uint64(8)
    # rho = leading-zero count of the 56-bit suffix + 1. Exact integer
    # bit length via binary-shift unrolling — never through float64,
    # whose 53-bit mantissa could round log2(w) across a power-of-two
    # boundary for w >= 2^53 and skew rho by one.
    bitlen = np.zeros(len(w), dtype=np.int64)
    v = w.copy()
    for shift in (32, 16, 8, 4, 2, 1):
        big = v >= np.uint64(1) << np.uint64(shift)
        bitlen[big] += shift
        v[big] >>= np.uint64(shift)
    bitlen[w > np.uint64(0)] += 1
    rho = (56 - bitlen + 1).astype(np.int32)
    np.maximum.at(regs, j, rho)


def _hll_partial_mapper(key: str = "day"):
    """mapInPandas kernel: one PARTIAL register array per (``key``,
    partition) from that partition's (key, user_id) rows. Registers are
    max-mergeable by construction, so no group's user list is ever
    materialized into a single row — the per-group reduce downstream
    merges ≤ num-partitions fixed-size arrays, which is how a sketch
    table is built at 100 TB (partial sketches per slice, tiny merge).
    (Factory — keeps the pandas/numpy imports executor-side.)"""

    def build(batches):
        import numpy as np
        import pandas as pd

        regs_by_key: dict = {}
        for pdf in batches:
            # local per-batch dedup: folding is idempotent, this only
            # trims redundant hashing of repeat (key, user) rows.
            pdf = pdf.drop_duplicates()
            for k, grp in pdf.groupby(key):
                regs = regs_by_key.setdefault(
                    k, np.zeros(HLL_M, dtype=np.int32)
                )
                _fold_users_into_regs(regs, grp["user_id"].to_numpy())
        if regs_by_key:
            yield pd.DataFrame(
                {
                    key: list(regs_by_key.keys()),
                    "regs": [r.tolist() for r in regs_by_key.values()],
                }
            )

    return build


def daily_hll_sketches(events: DataFrame) -> DataFrame:
    """The sketch TABLE build: one m-register HLL per observed day from
    a single Arrow-batched pass over (day, user) rows — partial
    registers per (day, partition), per-day register-max reduce. This
    is the piece a streaming ingest folds incrementally
    (streaming/sinks.py HLL fold): register max-merge
    is associative, commutative, and IDEMPOTENT, so daily sketches
    built from any partitioning of the stream — including replayed
    micro-batches — are bit-identical to the one-shot build."""
    partials = events.select(
        F.to_date("ts").alias("day"), "user_id"
    ).mapInPandas(_hll_partial_mapper(), "day date, regs array<int>")
    return partials.groupBy("day").agg(
        F.aggregate(F.collect_list("regs"), _hll_zero(), _hll_zipmax).alias("regs")
    )


def rolling_estimates_from_sketches(
    daily: DataFrame, max_day: DataFrame, days: int = ROLLING_HLL_DAYS
) -> DataFrame:
    """Rolling-window estimation over a prebuilt daily-sketch table:
    register-wise max-merge of each window's ≤``days`` sketches in pure
    Catalyst, then the HLL estimator with linear-counting correction.
    ``max_day`` is a 1-row (max_day DATE) frame giving the window-end
    cutoff (the exact twin's gap-day convention)."""
    contrib = (
        daily.select(
            F.explode(
                F.sequence(
                    F.col("day"),
                    F.date_add(F.col("day"), days - 1),
                    F.expr("interval 1 day"),
                )
            ).alias("window_end"),
            "regs",
        )
        .join(F.broadcast(max_day))
        .where(F.col("window_end") <= F.col("max_day"))
        .drop("max_day")
    )
    merged = contrib.groupBy("window_end").agg(
        F.aggregate(F.collect_list("regs"), _hll_zero(), _hll_zipmax).alias("regs")
    )
    return (
        merged.select(
            "window_end",
            F.round(_hll_estimate(F.col("regs"))).cast("long").alias(
                "approx_users"
            ),
        )
        .orderBy("window_end")
    )


def _hll_estimate(regs):
    """The HLL estimator over a register-array column: harmonic-mean raw
    estimate with linear-counting correction in the small regime. A pure
    expression over the fixed-order m-element array, so identical
    registers give a BIT-IDENTICAL double — the property hll_merge_proof
    leans on."""
    sum_inv = F.aggregate(
        regs,
        F.lit(0.0),
        lambda acc, r: acc + F.pow(F.lit(2.0), -r.cast("double")),
    )
    n_zero = F.size(F.filter(regs, lambda r: r == 0))
    raw_est = F.lit(HLL_ALPHA * HLL_M * HLL_M) / sum_inv
    return F.when(
        (raw_est <= 2.5 * HLL_M) & (n_zero > 0),
        F.lit(float(HLL_M))
        * F.log(F.lit(float(HLL_M)) / n_zero.cast("double")),
    ).otherwise(raw_est)


def hll_type_sketches(events: DataFrame) -> DataFrame:
    """Per-event-type HLL register sketches — the same partial-then-
    reduced build as the daily table, keyed by event_type: one m-register
    array per (type, partition) partial, per-type register max-merge.
    This is the grouped deployment shape hll_merge_proof folds up."""
    partials = events.select("event_type", "user_id").mapInPandas(
        _hll_partial_mapper("event_type"), "event_type string, regs array<int>"
    )
    return partials.groupBy("event_type").agg(
        F.aggregate(F.collect_list("regs"), _hll_zero(), _hll_zipmax).alias("regs")
    )


def hll_merge_proof(events: DataFrame) -> DataFrame:
    """End-to-end MERGEABILITY proof for the distinct-count sketch
    (VERDICT r14 #3, mirroring ddsketch_merge_proof): per-event-type
    register sketches are built, MERGED by register-wise max — HLL's
    merge is max, which is associative, commutative, and IDEMPOTENT, the
    contrast to the DD bucket fold's ADDITIVE merge whose streaming
    batch-id fence is load-bearing; a replayed HLL partial changes
    nothing — and the merged sketch's registers and estimate are
    compared against an INDEPENDENTLY built global sketch (a second
    scan keyed by a constant, deliberately sharing no plan nodes, so
    equality proves the merge law rather than plan reuse). Rows: ONE
    (n_sketches_merged, approx_users, merge_matches_onebuild); the flag
    requires the register ARRAYS bit-identical, not just the estimates.
    At 100 TB this is exactly how the sketch deploys: per-slice builds
    folded by max, one 256-int array per group crossing the wire."""
    merged = hll_type_sketches(events).agg(
        F.count(F.lit(1)).cast("long").alias("n_sketches_merged"),
        F.aggregate(F.collect_list("regs"), _hll_zero(), _hll_zipmax).alias("regs"),
    )
    onebuild = (
        events.select(F.lit("__all__").alias("event_type"), "user_id")
        .mapInPandas(
            _hll_partial_mapper("event_type"),
            "event_type string, regs array<int>",
        )
        .groupBy("event_type")
        .agg(F.aggregate(F.collect_list("regs"), _hll_zero(), _hll_zipmax).alias("regs2"))
        .drop("event_type")
    )
    return merged.crossJoin(F.broadcast(onebuild)).select(
        "n_sketches_merged",
        F.round(_hll_estimate(F.col("regs"))).cast("long").alias(
            "approx_users"
        ),
        # array equality alone is the full claim: the estimator is a
        # pure function of the register array, so equal registers give
        # bit-identical estimates by construction
        (F.col("regs") == F.col("regs2")).alias("merge_matches_onebuild"),
    )


def rolling_hll_active_users(
    events: DataFrame, days: int = ROLLING_HLL_DAYS
) -> DataFrame:
    """Rolling ``days``-day distinct users per day via MERGEABLE
    HyperLogLog sketches — the pre-aggregated-sketch-table pattern: the
    raw stream is scanned ONCE to build one m-register sketch per day
    (day-cardinality, fixed 1 KB each), and every rolling window is
    answered by register-wise max-merge of its ≤``days`` daily sketches
    — never by rescanning or re-deduplicating raw events. This is how
    interactive rolling-distinct dashboards run at 100 TB: sketch at
    ingest, merge at query time; the exact twin
    (rolling_7d_active_users) rescans day-user pairs per window.

    Rows-only by design (register contents are engine-internal);
    tests/test_approx.py pins the estimate against the exact rolling
    distinct within HLL's error envelope. Merging and estimation are
    pure Catalyst (zip_with/aggregate over the tiny register arrays);
    Python appears only in the one Arrow-batched sketch build per day.
    Composition (r12 refactor, shared with the streaming ingest):
    daily_hll_sketches builds the PARTIAL-then-reduced sketch table —
    no day's user list ever lands in one row, NO global distinct
    (register folding is idempotent under duplicates, so the build
    stays genuinely map-side) — and rolling_estimates_from_sketches
    merges/estimates per window with the max-day cut (the exact twin's
    gap-day convention: eventless calendar days between observed days
    are still window ends).
    """
    max_day = events.agg(F.max(F.to_date("ts")).alias("max_day"))
    return rolling_estimates_from_sketches(
        daily_hll_sketches(events), max_day, days
    )


KMV_K = 256  # bottom-k sketch size → rsd ≈ 1/√(K−1) ≈ 6.3% per cardinality
_KMV_MAXH = float(16**15)  # hash domain: 15 md5 hex chars = 60 bits


def event_user_overlap(events: DataFrame) -> DataFrame:
    """EXACT pairwise event-type audience overlap: for every unordered
    pair of event types, the distinct-user counts of each side, the
    distinct users who did BOTH, and the Jaccard overlap — the
    segment-intersection question ("how much do buyers and reviewers
    overlap") that sketches answer approximately at scale. This is the
    oracle-checked exact twin of kmv_event_user_overlap, the same
    pairing the rolling-HLL family uses (exact anchor + sketch).

    Shape: ONE distinct collapses events to (type, user) pairs —
    bounded by users × types, not events — then a user-keyed self-join
    expands each user's type set into ordered pairs (fan-out bounded
    by types²/2 per user, types is a small vocabulary) and one hash
    aggregate counts; per-type totals join back as a broadcast
    (type-cardinality frame). Exactness: counts are exact BIGINTs;
    jaccard is ONE correctly-rounded division of exact integers —
    bit-identical cross-engine, no rounding.

    Row-set convention (shared with the KMV sketch twin): EVERY
    unordered type pair gets a row, including pairs whose audiences
    are disjoint (n_common = 0, jaccard = 0.0). The pair universe is
    the types-cardinality cross of the per-type frame — tiny — with
    the user-join counts LEFT-joined in; without this, the twins'
    row sets diverge on any data where two types share no users and
    the sketch-vs-exact pin (tests/test_approx.py) silently depends
    on the fixture having no disjoint audiences (ADVICE r12).
    """
    du = events.select("event_type", "user_id").distinct()
    per_type = du.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )
    a = du.select(F.col("event_type").alias("type_a"), "user_id")
    b = du.select(F.col("event_type").alias("type_b"), "user_id")
    common = (
        a.join(b, "user_id")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    na = per_type.select(
        F.col("event_type").alias("type_a"), F.col("n_users").alias("n_users_a")
    )
    nb = per_type.select(
        F.col("event_type").alias("type_b"), F.col("n_users").alias("n_users_b")
    )
    pairs = (
        F.broadcast(na)
        .crossJoin(F.broadcast(nb))
        .where(F.col("type_a") < F.col("type_b"))
        .join(common, ["type_a", "type_b"], "left")
        .withColumn("n_common", F.coalesce("n_common", F.lit(0)))
    )
    union_n = F.col("n_users_a") + F.col("n_users_b") - F.col("n_common")
    return (
        pairs.select(
            "type_a",
            "type_b",
            "n_users_a",
            "n_users_b",
            "n_common",
            (F.col("n_common").cast("double") / union_n.cast("double")).alias(
                "jaccard"
            ),
        )
        .orderBy("type_a", "type_b")
    )


EVENT_USER_OVERLAP_ORACLE = """
WITH du AS (
  SELECT DISTINCT event_type, user_id FROM events
), per_type AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_users
  FROM du GROUP BY event_type
), common AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(count(*) AS BIGINT) AS n_common
  FROM du a JOIN du b ON a.user_id = b.user_id
  WHERE a.event_type < b.event_type
  GROUP BY 1, 2
), pairs AS (
  -- every unordered type pair, disjoint audiences included (n_common 0):
  -- the row-set convention shared with the KMV sketch twin (ADVICE r12)
  SELECT na.event_type AS type_a, nb.event_type AS type_b,
         na.n_users AS n_users_a, nb.n_users AS n_users_b,
         coalesce(c.n_common, 0) AS n_common
  FROM per_type na
  CROSS JOIN per_type nb
  LEFT JOIN common c
    ON c.type_a = na.event_type AND c.type_b = nb.event_type
  WHERE na.event_type < nb.event_type
)
SELECT type_a, type_b, n_users_a, n_users_b, n_common,
       CAST(n_common AS DOUBLE)
         / CAST(n_users_a + n_users_b - n_common AS DOUBLE) AS jaccard
FROM pairs
ORDER BY type_a, type_b
"""


def _kmv_est(arr):
    """Cardinality estimate from a bottom-k sketch: exact size while the
    sketch is unsaturated (it holds EVERY distinct hash), else the
    order-statistics estimator (K−1)·H/M with M the K-th minimum."""
    return F.when(
        F.size(arr) < KMV_K, F.size(arr).cast("double")
    ).otherwise(
        F.lit((KMV_K - 1) * _KMV_MAXH)
        / F.element_at(arr, KMV_K).cast("double")
    )


def kmv_event_user_overlap(events: DataFrame) -> DataFrame:
    """APPROXIMATE pairwise audience overlap via bottom-k (KMV / theta-
    style) sketches — the set-operation sketch HLL cannot be: bottom-k
    sketches support UNION (merge + re-truncate) and therefore
    INTERSECTION by inclusion-exclusion, which is how "how many users
    did both X and Y" is answered at 100 TB without a users×types
    self-join. Rows per unordered type pair: (type_a, type_b,
    approx_common) — pinned against the exact twin
    (event_user_overlap) in tests/test_approx.py.

    Shape — genuinely map-side, the HLL-partials pattern: each (type,
    partition) builds a PARTIAL bottom-K of the 60-bit md5 hash
    (collect_set bounded by the partition's rows, truncated to K
    before the shuffle), the per-type merge folds ≤ num-partitions
    K-arrays (array_distinct + sort + truncate), and pair estimation
    runs on the types-cardinality sketch table. No global (type, user)
    distinct, no self-join; duplicates are absorbed because bottom-K
    of a multiset equals bottom-K of its support. The hash is the
    JVM-side md5 prefix (conv(substr(md5, 1, 15))) — deterministic,
    no Python anywhere.
    """
    return overlap_from_kmv_sketches(kmv_type_sketches(events))


def _kmv_hash(col):
    """THE 60-bit KMV hash (conv of the first 15 md5 hex chars) — one
    definition for the type build, the global build, and therefore the
    merge proof's two sides; an edit moves every consumer together."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10).cast(
        "long"
    )


def kmv_type_sketches(events: DataFrame) -> DataFrame:
    """The KMV sketch-TABLE build: one bottom-K hash array per event
    type — partial bottom-K per (type, partition), K-array merge per
    type. Like the HLL daily build, bottom-K union-then-truncate is
    associative, commutative, and IDEMPOTENT, so sketches built from
    any partitioning of the stream — including replayed micro-batches
    (streaming/sinks.py KMV fold) — are bit-identical
    to the one-shot build."""
    hashed = events.select(
        "event_type", _kmv_hash(F.col("user_id")).alias("h")
    )
    partials = (
        hashed.groupBy("event_type", F.spark_partition_id().alias("pid"))
        .agg(
            F.slice(F.array_sort(F.collect_set("h")), 1, KMV_K).alias("pk")
        )
    )
    return partials.groupBy("event_type").agg(
        F.slice(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("pk")))),
            1,
            KMV_K,
        ).alias("sk")
    )


def overlap_from_kmv_sketches(sketches: DataFrame) -> DataFrame:
    """Pairwise intersection estimates over a prebuilt (event_type, sk)
    sketch table: K-array union merge per pair, inclusion-exclusion —
    runs on the types-cardinality frame, never the raw events."""
    a = sketches.select(
        F.col("event_type").alias("type_a"), F.col("sk").alias("sk_a")
    )
    b = sketches.select(
        F.col("event_type").alias("type_b"), F.col("sk").alias("sk_b")
    )
    merged = F.slice(
        F.array_sort(F.array_distinct(F.concat("sk_a", "sk_b"))), 1, KMV_K
    )
    paired = (
        a.crossJoin(b)
        .where(F.col("type_a") < F.col("type_b"))
        .withColumn("sk_u", merged)
    )
    est_common = F.greatest(
        F.lit(0.0),
        _kmv_est(F.col("sk_a")) + _kmv_est(F.col("sk_b")) - _kmv_est(F.col("sk_u")),
    )
    return (
        paired.select(
            "type_a",
            "type_b",
            F.round(est_common).cast("long").alias("approx_common"),
        )
        .orderBy("type_a", "type_b")
    )


def kmv_global_sketch(events: DataFrame) -> DataFrame:
    """Global bottom-K sketch of the user-id hash — the kmv_type_sketches
    build without the group key: partial bottom-K per partition, one
    K-array union-truncate merge. 1 row: (sk array<bigint>)."""
    hashed = events.select(_kmv_hash(F.col("user_id")).alias("h"))
    partials = hashed.groupBy(F.spark_partition_id().alias("pid")).agg(
        F.slice(F.array_sort(F.collect_set("h")), 1, KMV_K).alias("pk")
    )
    return partials.agg(
        F.slice(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("pk")))),
            1,
            KMV_K,
        ).alias("sk")
    )


def kmv_merge_proof(events: DataFrame) -> DataFrame:
    """End-to-end MERGEABILITY proof for the bottom-k sketch (VERDICT
    r14 #3, mirroring ddsketch_merge_proof / hll_merge_proof): the
    per-event-type bottom-K sketches are MERGED — union, re-sort,
    re-truncate to K, which is associative, commutative, and IDEMPOTENT
    like HLL's max (and unlike the DD bucket fold's additive sum) — and
    compared against an INDEPENDENTLY built global bottom-K (a second
    scan with no group key, sharing no plan nodes). The merge law here
    is the order-statistics pigeonhole: any hash among the global K
    smallest is among its own type's K smallest, so union-then-truncate
    of per-type bottom-Ks reproduces the global bottom-K EXACTLY. Rows:
    ONE (n_sketches_merged, approx_users, merge_matches_onebuild); the
    flag requires the hash ARRAYS bit-identical, not just the
    estimates. This is the sketch's production shape at 100 TB:
    per-slice bottom-Ks folded by union-truncate, one ≤K-element array
    per group crossing the wire."""
    merged = kmv_type_sketches(events).agg(
        F.count(F.lit(1)).cast("long").alias("n_sketches_merged"),
        F.slice(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("sk")))),
            1,
            KMV_K,
        ).alias("sk"),
    )
    onebuild = kmv_global_sketch(events).select(F.col("sk").alias("sk2"))
    return merged.crossJoin(F.broadcast(onebuild)).select(
        "n_sketches_merged",
        F.round(_kmv_est(F.col("sk"))).cast("long").alias("approx_users"),
        # hash-array equality alone is the full claim: the estimator is
        # a pure function of the array (see _hll_estimate's twin note)
        (F.col("sk") == F.col("sk2")).alias("merge_matches_onebuild"),
    )


# --------------------------------------------------------------------------
# DDSketch-style relative-error quantile sketch (r13): the quantile member
# of the mergeable-sketch family (HLL = distinct, KMV bottom-k = set ops,
# CMS = frequency, Bloom = membership). Log-domain buckets give a
# VALUE-relative error guarantee: the estimate for any quantile is within
# DD_ALPHA of the true element, at any data size, with sketch state
# bounded by the log of the value range (~800 buckets for alpha = 0.01
# over a 1-cent..10^7-cent domain) — the property rank sketches (GK /
# percentile_approx) do not give. Bucket counts are ADDITIVE, so the
# map-side partial aggregate IS the merge, and a streaming fold is a
# per-bucket count sum (streaming/sinks.py DD fold; that
# fold is NOT idempotent, so the batch-id fence there is load-bearing,
# unlike the HLL/KMV max-merge folds).
# --------------------------------------------------------------------------

DD_ALPHA = 0.01  # relative-error target
DD_GAMMA = (1 + DD_ALPHA) / (1 - DD_ALPHA)
_DD_LN_GAMMA = __import__("math").log(DD_GAMMA)
DD_PERCENTS = (1, 25, 50, 75, 99)


def dd_value_buckets(events: DataFrame) -> DataFrame:
    """The DDSketch build: log-domain bucket counts of the event value
    in integral cents. idx = ceil(ln(cents)/ln(gamma)) puts every value
    in a bucket whose bounds differ by a factor of gamma, so the bucket
    midpoint (in log space) is within alpha of every member. One hash
    aggregate — map-side partials make the build mergeable by
    construction; the sketch TABLE (idx, cnt) is what the streaming
    sink folds. Values are a strictly positive domain (event values and
    prices are > 0; the cents floor is 1 — ln is total); a real
    mixed-sign deployment would carry a mirrored negative store and a
    zero counter, which this fixture never exercises."""
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        events.select(cents.alias("c"))
        .where(F.col("c") >= 1)
        .select(
            F.ceil(F.log(F.col("c").cast("double")) / F.lit(_DD_LN_GAMMA))
            .cast("long")
            .alias("idx")
        )
        .groupBy("idx")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def quantiles_from_dd_buckets(
    buckets: DataFrame, percents: tuple[int, ...] = DD_PERCENTS
) -> DataFrame:
    """Quantile estimates from a prebuilt (idx, cnt) sketch table:
    cumulative priors over the LOG-DOMAIN-bounded bucket frame (≤ ~800
    rows at alpha = 0.01 — bounded by the value range's logarithm,
    never the data), integer ceil-ranks (p·n + 99) div 100, and the
    log-space midpoint estimator 2·gamma^idx/(gamma + 1). Rows:
    (percent, n_rows, approx_value), rows-only — the error envelope vs
    the exact element is pinned in tests/test_approx.py."""
    spark = buckets.sparkSession
    # The cumulative AND the total both consume the sketch table; without
    # a checkpoint each consumer re-derives the whole build lineage — two
    # full scans of the underlying source (r14 plan audit: 4 parquet
    # scans on the r13 shape). The frame is log-domain-bounded (≤ ~800
    # rows), so pinning it is ~free and the source scan happens ONCE.
    # NOTE this makes the reader EAGER at construction time (ADVICE r14):
    # building the DataFrame runs the sketch-build job immediately and
    # pins the ≤800-row frame's blocks for the session. Deliberate — the
    # reader's callers always materialize, and the pinned frame is tiny;
    # a plan-inspection path that must stay lazy should call
    # dd_value_buckets* directly.
    buckets = buckets.localCheckpoint()
    cum = Window.orderBy("idx").rowsBetween(Window.unboundedPreceding, -1)
    ranked = buckets.withColumn(
        "prior", F.coalesce(F.sum("cnt").over(cum), F.lit(0))
    )
    tot = buckets.agg(F.sum("cnt").alias("n_rows"))
    pcts = spark.createDataFrame([(p,) for p in percents], "percent int")
    rank = F.expr("(percent * n_rows + 99) div 100")
    est_cents = (
        F.lit(2.0)
        * F.pow(F.lit(DD_GAMMA), F.col("idx").cast("double"))
        / F.lit(DD_GAMMA + 1.0)
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(pcts))
        .where(
            (F.col("prior") < rank) & (rank <= F.col("prior") + F.col("cnt"))
        )
        .select(
            "percent",
            "n_rows",
            F.round(est_cents / F.lit(100.0), 6).alias("approx_value"),
        )
        .orderBy("percent")
    )


def ddsketch_event_quantiles(events: DataFrame) -> DataFrame:
    """APPROXIMATE event-value quantiles with a relative-error
    guarantee: build the log-domain sketch, then read the requested
    percentiles off it. |approx − exact| ≤ DD_ALPHA·exact at every
    requested rank, any data size — pinned against the exact sorted
    element in tests/test_approx.py (exact twins with driver rows over
    the same cent-cell machinery: winsorized_mean_price /
    iqr_price_fences)."""
    return quantiles_from_dd_buckets(dd_value_buckets(events))


def dd_value_buckets_by_type(events: DataFrame) -> DataFrame:
    """Per-group DDSketch build: log-domain bucket counts of the event
    value keyed by (event_type, idx) — ONE hash aggregate, exactly the
    global build with the group key added. Because bucket counts are
    ADDITIVE, rolling this frame up over event_type reproduces the
    global sketch bit-identically — the merge property
    ddsketch_merge_proof pins end-to-end (r14, VERDICT r13 #7)."""
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        events.select("event_type", cents.alias("c"))
        .where(F.col("c") >= 1)
        .select(
            "event_type",
            F.ceil(F.log(F.col("c").cast("double")) / F.lit(_DD_LN_GAMMA))
            .cast("long")
            .alias("idx"),
        )
        .groupBy("event_type", "idx")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def ddsketch_quantiles_by_type(
    events: DataFrame, percents: tuple[int, ...] = DD_PERCENTS
) -> DataFrame:
    """APPROXIMATE per-event-type value quantiles off the grouped
    sketch: cumulative priors within each group (a window over the
    per-type ≤ ~800-row log-bucket frame — bounded by the value
    range's logarithm per group, never the data), integer ceil-ranks,
    the same midpoint estimator. Rows: (event_type, percent, n_rows,
    approx_value), rows-only — the per-group error envelope vs the
    exact per-group element (event_value_quartiles_by_type's oracle
    machinery) is pinned in tests/test_approx.py."""
    return quantiles_from_dd_buckets_by_type(
        dd_value_buckets_by_type(events), percents
    )


def quantiles_from_dd_buckets_by_type(
    buckets: DataFrame, percents: tuple[int, ...] = DD_PERCENTS
) -> DataFrame:
    """Per-group quantile read off a prebuilt (event_type, idx, cnt)
    sketch table — shared by the batch build above and the persisted
    streaming state reader (streaming/sinks.py
    read_dd_quantiles_by_type, r14)."""
    spark = buckets.sparkSession
    # (type × log-bucket)-domain checkpoint — one scan of the
    # underlying source total for the cumulative + total consumers
    # (same rationale as the global reader's pin in
    # quantiles_from_dd_buckets)
    buckets = buckets.localCheckpoint()
    cum = (
        Window.partitionBy("event_type")
        .orderBy("idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = buckets.withColumn(
        "prior", F.coalesce(F.sum("cnt").over(cum), F.lit(0))
    )
    tot = buckets.groupBy("event_type").agg(F.sum("cnt").alias("n_rows"))
    pcts = spark.createDataFrame([(p,) for p in percents], "percent int")
    rank = F.expr("(percent * n_rows + 99) div 100")
    est_cents = (
        F.lit(2.0)
        * F.pow(F.lit(DD_GAMMA), F.col("idx").cast("double"))
        / F.lit(DD_GAMMA + 1.0)
    )
    return (
        ranked.join(F.broadcast(tot), "event_type")
        .crossJoin(F.broadcast(pcts))
        .where(
            (F.col("prior") < rank) & (rank <= F.col("prior") + F.col("cnt"))
        )
        .select(
            "event_type",
            "percent",
            "n_rows",
            F.round(est_cents / F.lit(100.0), 6).alias("approx_value"),
        )
        .orderBy("event_type", "percent")
    )


def ddsketch_merge_proof(events: DataFrame) -> DataFrame:
    """End-to-end MERGEABILITY proof for the quantile sketch (VERDICT
    r13 #7): per-event-type sketches are built, MERGED (a per-idx count
    sum — bucket counts are additive), and the merged sketch's
    quantiles are compared against an INDEPENDENTLY built global
    sketch's quantiles. Rows: (percent, n_rows, approx_value,
    merge_matches_onebuild) — every flag must be true, pinned
    bit-identical in tests/test_approx.py. This is the KMV-twin move
    for the quantile member: the two paths share no plan nodes (the
    global build is a second scan, deliberately — an audit query pays
    one extra scan to keep the proof independent), so equality proves
    the merge law, not plan reuse. At 100 TB this is exactly how the
    sketch deploys: per-partition/per-day builds folded by addition,
    one ≤ ~800-row frame per group crossing the wire."""
    merged = (
        dd_value_buckets_by_type(events)
        .groupBy("idx")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    q_merged = quantiles_from_dd_buckets(merged)
    q_one = quantiles_from_dd_buckets(dd_value_buckets(events)).select(
        F.col("percent").alias("p2"),
        F.col("n_rows").alias("n2"),
        F.col("approx_value").alias("v2"),
    )
    return (
        q_merged.join(F.broadcast(q_one), F.col("percent") == F.col("p2"))
        .select(
            "percent",
            "n_rows",
            "approx_value",
            (
                (F.col("n_rows") == F.col("n2"))
                & (F.col("approx_value") == F.col("v2"))
            ).alias("merge_matches_onebuild"),
        )
        .orderBy("percent")
    )


def event_value_quartiles_by_type(events: DataFrame) -> DataFrame:
    """EXACT per-event-type value quartiles — the oracle-anchored exact
    twin of ddsketch_quantiles_by_type, over the SAME population (the
    sketch's positive-cents domain, c ≥ 1). Rows: (event_type, percent,
    n_rows, exact_value) at percents 25/50/75, element-selected with
    the sketch reader's own ceil-rank convention ⌈p·n/100⌉ = (p·n+99)
    div 100 so the anchor and the sketch answer the identical rank
    question.

    Shape: ONE collapse to (event_type, cent) cells, then the
    iqr_price_fences bucketed-cumulative selection with the group key
    added — per-(type, bucket) priors broadcast, within-bucket windows
    bounded by the cent domain, never the data; no global or per-type
    full-frame sort. Exactness: ranks are pure integer arithmetic and
    the emitted value is grid cents/100.0 — nothing can tie or drift.
    """
    cells = (
        events.select(
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("c"),
        )
        .where(F.col("c") >= 1)
        .groupBy("event_type", "c")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .withColumn("bkt", F.shiftright("c", 17))
        # (type × cent)-domain checkpoint — one fact scan total
        .localCheckpoint()
    )
    per_bkt = cells.groupBy("event_type", "bkt").agg(
        F.sum("cnt").alias("bd")
    )
    cum_b = (
        Window.partitionBy("event_type")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    priors = per_bkt.select(
        "event_type",
        "bkt",
        (F.sum("bd").over(cum_b) - F.col("bd")).alias("pb"),
    )
    cum_in = (
        Window.partitionBy("event_type", "bkt")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = cells.join(F.broadcast(priors), ["event_type", "bkt"]).withColumn(
        "prior", F.col("pb") + F.sum("cnt").over(cum_in) - F.col("cnt")
    )
    tot = cells.groupBy("event_type").agg(F.sum("cnt").alias("n_rows"))
    spark = events.sparkSession
    pcts = spark.createDataFrame([(25,), (50,), (75,)], "percent int")
    rank = F.expr("(percent * n_rows + 99) div 100")
    return (
        cum.join(F.broadcast(tot), "event_type")
        .crossJoin(F.broadcast(pcts))
        .where(
            (F.col("prior") < rank) & (rank <= F.col("prior") + F.col("cnt"))
        )
        .select(
            "event_type",
            "percent",
            F.col("n_rows").cast("long").alias("n_rows"),
            (F.col("c") / 100.0).alias("exact_value"),
        )
        .orderBy("event_type", "percent")
    )


EVENT_VALUE_QUARTILES_BY_TYPE_ORACLE = """
WITH cells AS (
  SELECT event_type,
         CAST(round(value * 100) AS BIGINT) AS c,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events
  WHERE CAST(round(value * 100) AS BIGINT) >= 1
  GROUP BY 1, 2
), cum AS (
  SELECT event_type, c, cnt,
         CAST(coalesce(sum(cnt) OVER (PARTITION BY event_type ORDER BY c
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                               AND 1 PRECEDING), 0)
              AS BIGINT) AS prior,
         CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n_rows
  FROM cells
), p AS (SELECT * FROM (VALUES (25), (50), (75)) AS t(percent))
SELECT event_type, percent, n_rows,
       CAST(c AS DOUBLE) / 100.0 AS exact_value
FROM cum CROSS JOIN p
WHERE prior < (percent * n_rows + 99) // 100
  AND (percent * n_rows + 99) // 100 <= prior + cnt
ORDER BY event_type, percent
"""
