"""The benchmark's workloads: the ops each one runs and the check each
op's output must pass.

An op is one call into the package, timed from outside it: one registry
query (build + noop write), or one plugin or native MapReduce job (read
the corpus, run, write R key-sorted KV text files). Checks run after the
op's clock has stopped and never count in the timed numbers.

A workload's prepare() makes its inputs, which is part of set-up; its
expect() makes the expected outputs, which is not.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os
import random
import re
import shutil
from dataclasses import dataclass
from typing import Any, Callable

HERE = os.path.dirname(os.path.abspath(__file__))
PINS_PATH = os.path.join(HERE, "pins.json")

# Fixture scale of the registry workloads. sf0.01 rather than bench.py's
# sf0.1: JVM start-up plus a cold warm pass over the ops has to fit the
# per-run time budget.
SCALE = "sf0.01"

# TPC-H-shaped registry queries. Chosen to cover both kinds of tpch op:
# eager driver-side builds (q2: 8 jobs, q11: 7) and plain execution over
# 2-6 load_table calls (q1 one table, q5 six, q9 six, q21 two roles of
# lineitem).
TPCH_OPS = [
    "q1_pricing_summary",
    "q2_min_cost_supplier",
    "q3_shipping_priority",
    "q5_revenue_by_nation",
    "q9_product_type_profit",
    "q11_important_stock",
    "q18_large_volume_customers",
    "q21_waiting_suppliers",
]

# Driver-bound registry ops: an availableNow streaming drain that folds
# micro-batches into versioned state, and an iterative graph build that
# runs eager localCheckpoint/count jobs while the DataFrame is built. The
# warm pass runs them in this order.
ITERATIVE_OPS = [
    "stream_ivm_user_totals",
    "kcore_members",
]

FIXTURE_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# Corpus shape for mapreduce_text. File count sets the number of map tasks,
# vocabulary size the reduce group count, Zipf skew the partition skew.
# Volume: 8 files of 68.75 KB, 550 KB in all (65 536 words). The plugin
# path's cost follows the reduce group count more than the volume: on a
# 4-core host a plugin job took 22-28 s on 17.6 MB (53 000 distinct
# words), 12-15 s on 4.4 MB (27 000) and 6-9 s on 1.1 MB (13 600), and one
# run 185 s, 111 s and 65-93 s, more than 22 runs of each workload may
# take. Skew: word frequency proportional to 1/rank, Zipf's law for
# English text. Vocabulary: Heaps' law V = k * T^b with the English-text
# fit k = 44, b = 0.49 (Manning, Raghavan and Schuetze, Introduction to
# Information Retrieval, 2008, sec. 5.1) gives 10 100 distinct words for
# T = 65 536; drawing from 16 000 ranks yields about 9 900 of them.
CORPUS_FILES = 8
CORPUS_BYTES_PER_FILE = 68_750
CORPUS_ZIPF_S = 1.0
CORPUS_VOCAB = 16_000


@dataclass
class Op:
    name: str
    run: Callable[[], Any]  # timed; returns what check() needs
    check: Callable[[Any], bool]  # untimed


def fixture_dir() -> str:
    """The package's fixture directory at SCALE. SPARK_GRAFT_SF_DIR
    overrides it, as it does for bench.py and differential.py."""
    override = os.environ.get("SPARK_GRAFT_SF_DIR")
    if override:
        return override
    import __spark_entry__

    return os.path.join(os.path.dirname(__spark_entry__.SMOKE_SF_DIR), SCALE)


def fixture_fingerprint(sf_dir: str) -> str:
    h = hashlib.sha256()
    for t in FIXTURE_TABLES:
        h.update(f"{t}:{os.path.getsize(os.path.join(sf_dir, f'{t}.parquet'))};".encode())
    return h.hexdigest()[:16]


def _norm(v: Any) -> Any:
    # Ten significant digits: float results whose last ulp depends on the
    # order of partial sums still compare equal; anything coarser fails.
    return float(f"{v:.10g}") if isinstance(v, float) else v


def digest(columns: list[str], rows: list[tuple]) -> str:
    """Order-insensitive digest of a result: columns sorted by name, rows
    as tuples in that column order, sorted by repr (differential.py's
    comparison, with floats normalised by _norm)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    h = hashlib.sha256(repr([columns[i] for i in order]).encode())
    body = sorted(repr(tuple(_norm(r[i]) for i in order)) for r in rows)
    for line in body:
        h.update(line.encode())
    return f"{len(rows)}:{h.hexdigest()[:16]}"


def spark_digest(df) -> str:
    cols = list(df.columns)
    return digest(cols, [tuple(r) for r in df.collect()])


def oracle_digests(sf_dir: str, names: list[str], oracles: dict[str, str]) -> dict[str, str]:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for t in FIXTURE_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        out = {}
        for n in names:
            rel = con.sql(oracles[n])
            out[n] = digest(list(rel.columns), rel.fetchall())
        return out
    finally:
        con.close()


def load_pins(sf_dir: str) -> dict[str, str]:
    """Pinned digests for this fixture; pins.json keys them by fixture
    fingerprint, so a changed fixture fails loudly instead of comparing
    against stale pins."""
    with open(PINS_PATH) as f:
        pins = json.load(f)
    fp = fixture_fingerprint(sf_dir)
    if fp not in pins:
        raise SystemExit(
            f"pins.json has no digests for fixture {sf_dir} ({fp}); "
            "pin them with: python3 perfbench/pin.py"
        )
    return dict(pins[fp]["digests"])


class RegistryWorkload:
    """Registry queries on the fixture, each checked against its DuckDB
    oracle or, without one, against a digest pinned in pins.json."""

    def __init__(self, names: list[str], warm_passes: int) -> None:
        self.names = names
        self.warm_passes = warm_passes

    def prepare(self, rng: random.Random, work: str) -> dict:
        from tp1_distribuidos_mapreduce_spark import registry

        sf_dir = fixture_dir()
        oracles = registry.oracle_sql()
        pinned = [n for n in self.names if n not in oracles]
        expected = {n: d for n, d in load_pins(sf_dir).items() if n in pinned} if pinned else {}
        missing = [n for n in pinned if n not in expected]
        if missing:
            raise SystemExit(f"no oracle and no pinned digest for {missing}")
        return {"sf_dir": sf_dir, "expected": expected, "oracles": oracles}

    def expect(self, prepared: dict) -> None:
        """Add the oracles' digests to the expected outputs."""
        oracles = prepared["oracles"]
        with_oracle = [n for n in self.names if n in oracles]
        prepared["expected"].update(oracle_digests(prepared["sf_dir"], with_oracle, oracles))

    def ops(self, spark, tracer, prepared: dict, warm: bool = False) -> list[Op]:
        from tp1_distribuidos_mapreduce_spark import registry

        fns = registry.queries()
        sf_dir, expected = prepared["sf_dir"], prepared["expected"]

        def make(name: str) -> Op:
            fn = fns[name]

            def run():
                with tracer.span("registry.build"):
                    df = fn(spark, sf_dir)
                with tracer.span("exec.materialize"):
                    df.write.format("noop").mode("overwrite").save()
                return df

            return Op(name, run, lambda df: spark_digest(df) == expected[name])

        return [make(n) for n in self.names]


# ---------------------------------------------------------------------------
# mapreduce_text: the reference's own workload over a generated corpus.
# ---------------------------------------------------------------------------

_CONSONANTS = "bcdfghjklmnprstvzñ"
_VOWELS = "aeiouáéíóúü"
_SEPARATORS = [" "] * 12 + [", ", ". ", "!! ", " - ", "\n", "$$ ", " 1984 ", "; ", "?\n", " (", ") "]


def _word(rng: random.Random) -> str:
    return "".join(
        rng.choice(_CONSONANTS) + rng.choice(_VOWELS) for _ in range(rng.randint(1, 4))
    )


def _case(rng: random.Random, w: str) -> str:
    r = rng.random()
    if r < 0.15:
        return w.capitalize()
    if r < 0.2:
        return w.upper()
    if r < 0.23:
        return "".join(c.upper() if rng.random() < 0.5 else c for c in w)
    return w


def generate_corpus(rng: random.Random, out_dir: str) -> list[str]:
    """Write CORPUS_FILES ``pg-*.txt`` files of Zipf-distributed words with
    mixed case, punctuation and digits; return their paths."""
    vocab: list[str] = []
    seen: set[str] = set()
    while len(vocab) < CORPUS_VOCAB:
        w = _word(rng)
        if w not in seen:
            seen.add(w)
            vocab.append(w)
    cum = list(itertools.accumulate(rank ** -CORPUS_ZIPF_S for rank in range(1, CORPUS_VOCAB + 1)))
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i in range(CORPUS_FILES):
        parts: list[str] = []
        size = 0
        while size < CORPUS_BYTES_PER_FILE:
            words = rng.choices(vocab, cum_weights=cum, k=256)
            seps = rng.choices(_SEPARATORS, k=256)
            chunk = "".join(_case(rng, w) + s for w, s in zip(words, seps))
            parts.append(chunk)
            size += len(chunk.encode())
        path = os.path.join(out_dir, f"pg-{i:02d}.txt")
        with open(path, "w", encoding="utf-8") as f:
            f.write("".join(parts))
        paths.append(path)
    return paths


# The sequential reference (the reference's cmd/seq): letter runs,
# lowercased. [^\W\d_] is exactly the letters for the corpus alphabet.
_LETTER_RUN = re.compile(r"[^\W\d_]+")


def sequential_wc_ii(paths: list[str]) -> tuple[dict[str, str], dict[str, str]]:
    counts: dict[str, int] = {}
    docs: dict[str, set[str]] = {}
    for p in paths:
        name = os.path.basename(p)
        with open(p, encoding="utf-8") as f:
            for w in _LETTER_RUN.findall(f.read().lower()):
                counts[w] = counts.get(w, 0) + 1
                docs.setdefault(w, set()).add(name)
    wc = {k: str(v) for k, v in counts.items()}
    ii = {k: ",".join(sorted(v)) for k, v in docs.items()}
    return wc, ii


def read_kv_output(path: str) -> dict[str, str] | None:
    """Read R KV text files back; None if any file is not sorted by key or
    a key appears twice."""
    out: dict[str, str] = {}
    for name in sorted(os.listdir(path)):
        if not name.startswith("part-"):
            continue
        with open(os.path.join(path, name), encoding="utf-8") as f:
            keys = []
            for line in f.read().splitlines():
                if not line:
                    continue
                k, _, v = line.partition(" ")
                if k in out:
                    return None
                out[k] = v
                keys.append(k)
        if keys != sorted(keys):
            return None
    return out


class MapReduceTextWorkload:
    """The reference's wc and ii plugins and the native word_count and
    inverted_index over a generated corpus, each writing R key-sorted KV
    text files, checked against the sequential reference.

    The warm pass runs the same ops on the first file alone: what makes a
    first pass slow (Python workers starting, the JIT) does not grow with
    the corpus, and a warm pass over all of it would make a run too long.
    """

    warm_passes = 1

    def prepare(self, rng: random.Random, work: str) -> dict:
        corpus_dir = os.path.join(work, "corpus")
        paths = generate_corpus(rng, corpus_dir)
        return {
            "paths": paths,
            "glob": os.path.join(corpus_dir, "pg-*.txt"),
            "corpus_mb": sum(os.path.getsize(p) for p in paths) / 1e6,
            "out": os.path.join(work, "out"),
        }

    def expect(self, prepared: dict) -> None:
        prepared["wc"], prepared["ii"] = sequential_wc_ii(prepared["paths"])
        prepared["warm_wc"], prepared["warm_ii"] = sequential_wc_ii(prepared["paths"][:1])

    def ops(self, spark, tracer, prepared: dict, warm: bool = False) -> list[Op]:
        from pyspark.sql import functions as F

        # Called through their modules so that a traced run's wrappers apply.
        from tp1_distribuidos_mapreduce_spark.operators import mapreduce, wordcount
        from tp1_distribuidos_mapreduce_spark.sinks import textkv
        from tp1_distribuidos_mapreduce_spark.sources import text

        glob = prepared["paths"][0] if warm else prepared["glob"]
        r = mapreduce.resolve_num_partitions(spark, mapreduce.WC_JOB)
        jobs = {
            "plugin_wc": (lambda c: mapreduce.run_mapreduce(c, mapreduce.WC_JOB), "wc"),
            "plugin_ii": (lambda c: mapreduce.run_mapreduce(c, mapreduce.II_JOB), "ii"),
            "native_wc": (
                lambda c: wordcount.word_count(c).select(
                    F.col("word").alias("key"), F.col("cnt").cast("string").alias("value")
                ),
                "wc",
            ),
            "native_ii": (
                lambda c: wordcount.inverted_index(c).select(
                    F.col("word").alias("key"), F.col("docs").alias("value")
                ),
                "ii",
            ),
        }
        seq = iter(range(1 << 30))

        def make(name: str) -> Op:
            build, ref = jobs[name]

            def run():
                out = os.path.join(prepared["out"], f"{name}-{next(seq)}")
                textkv.write_sorted_kv_text(build(text.read_text_corpus(spark, glob)), out, r)
                return out

            def check(out: str) -> bool:
                try:
                    return read_kv_output(out) == prepared[f"warm_{ref}" if warm else ref]
                finally:
                    shutil.rmtree(out, ignore_errors=True)

            return Op(name, run, check)

        return [make(n) for n in jobs]


WORKLOADS = {
    "mapreduce_text": MapReduceTextWorkload(),
    "tpch": RegistryWorkload(TPCH_OPS, warm_passes=1),
    # After the cold pass, a second one: an op's CPU seconds still fall by
    # a tenth to a quarter from the second pass to the third, then stay
    # flat (the JVM compiles with C1 only, run.py).
    "iterative": RegistryWorkload(ITERATIVE_OPS, warm_passes=2),
}
