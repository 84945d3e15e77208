"""SparkSession factory tuned for this engine.

Defaults are chosen for correctness-vs-oracle (UTC timestamps, ANSI off to
match DuckDB's permissive casts) and for scale (AQE on, Arrow on, shuffle
partitions sized to cores locally — on a real cluster AQE coalesces the
post-shuffle partition count at runtime, so the static number only needs to
be a sane upper bound).

Spark's Python workers start through ``worker_daemon`` rather than
``pyspark.daemon``: it takes Spark's own pyspark/py4j zips and spark-core
jar off the worker's import path when the installed pyspark and py4j are
importable without them, so the ``importlib.invalidate_caches()`` every
Python task runs stops re-reading those archives (0.22 s → 47 µs per
call on 4 vCPUs).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(app_name: str = "tp1-mapreduce-spark") -> SparkSession:
    """Build (or reuse) a local SparkSession with engine defaults.

    On a cluster the same configs apply; only ``master`` changes. AQE is the
    load-bearing setting at scale: it coalesces small shuffle partitions,
    re-plans skewed joins, and converts sort-merge joins to broadcast when a
    runtime size estimate drops under the threshold.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        # local[N, F]: F is the LOCAL task-retry count — the
        # spark.task.maxFailures config below is ignored by local mode
        # (TaskSchedulerImpl hardcodes 1 unless the master string carries
        # it), so without this a single transient Python-worker hiccup
        # (fork pressure under a 32-thread concurrent suite) fails the
        # whole job. One retry absorbs the transient class; deterministic
        # failures still fail, one attempt later.
        .master(f"local[{cpus},2]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python workers import the installed pyspark, not Spark's zips:
        # each task's invalidate_caches() re-read every zip directory on
        # the path, 0.22 s per task → 47 µs (worker_daemon.py).
        .config(
            "spark.python.daemon.module",
            "tp1_distribuidos_mapreduce_spark.worker_daemon",
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Straggler / failure handling (SURVEY §4.2): the reference's only
        # non-trivial runtime behavior is coordinator-side straggler
        # re-issue after a heartbeat timeout of MaxTimeSeconds = 3
        # (common/config.go:5; re-issue loop
        # cmd/coordinator/coordinator.go:166-175). Spark subsumes it with
        # speculative execution (re-launch slow task attempts; first result
        # wins — safe because every operator here is deterministic, incl.
        # the hash-of-key splits that avoid rand()) plus bounded task
        # retries. Inert on local[*] (TaskSchedulerImpl.start() only starts
        # the speculation thread when !isLocal — no second executor to
        # speculate on); load-bearing on a real cluster.
        .config("spark.speculation", "true")
        .config("spark.speculation.multiplier", "3")
        .config("spark.speculation.quantile", "0.9")
        .config("spark.task.maxFailures", "4")
    )
    return tune_for_oracle(builder.getOrCreate())


def tune_for_oracle(spark: SparkSession) -> SparkSession:
    """The oracle-parity settings, for this module's sessions and any
    externally-provided one."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # ANSI off is a deliberate engine-wide parity choice with DuckDB's
    # permissive casts (Spark 4.x defaults it on, which errors instead of
    # returning NULL). Side effect to be aware of: integer overflow WRAPS
    # silently and invalid arithmetic returns NULL instead of erroring —
    # acceptable here because every query result is hash-checked against
    # the oracle, which would surface a wrapped value as a mismatch; flip
    # to true when debugging suspected data bugs.
    spark.conf.set("spark.sql.ansi.enabled", "false")
    # The rowdir connector implements pushFilters() (zone-map file
    # pruning, sources/pydatasource.py); planning REFUSES a
    # pushdown-capable Python reader while this flag is false, its
    # default.
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    return spark


def widen_to_shuffle_parallelism(df):
    """Repartition a narrow CPU-bound input up to the session's shuffle
    parallelism — the measured fix for single-split fixture parquet
    pinning a tokenize/hash pipeline to one core (20.7s → 3.6s for
    benchmark_contamination at sf0.1); a planning-time no-op at cluster
    scale where inputs already carry thousands of splits.

    Shared by every widen site (decontam, jaccard, minhash) so the
    policy can't drift between copies, and 'auto'-safe: managed
    platforms set spark.sql.shuffle.partitions to a non-integer."""
    raw = df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    try:
        target = int(raw)
    except ValueError:
        return df
    # Partition-count probe (r22, VERDICT r21 #7): df.rdd wraps the
    # whole plan in a Python-pickle conversion before asking for the
    # partition count — ~70-90 ms per fresh DataFrame (measured; the
    # count itself is then memoized, but every bench/driver invocation
    # builds fresh frames). The JVM-side InternalRow RDD reports the
    # IDENTICAL count (df.rdd is a map over it, partition-preserving)
    # in ~0.4 ms. Equivalence is pinned in tests/test_skew_and_plans.py,
    # which fails loudly if the private API ever moves.
    if df._jdf.queryExecution().toRdd().getNumPartitions() < target:
        df = df.repartition(target)
    return df
