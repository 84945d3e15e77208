"""Hash-partitioned sorted KV text sink — reference O3/O4, Spark-first.

The reference's final output is R files, each holding ``key SP value``
lines sorted by key: hash-partitioning at cmd/worker/worker.go:75-79 +
111-119, per-partition sort at worker.go:122-124/208-210, writer at
worker.go:171-182. Here that whole pipeline is one declarative write:

    repartition(R, key) . sortWithinPartitions(key)
      . select(concat_ws(' ', key, value)) . write.text()

(a raw text sink, NOT write.csv: the CSV writer would add quoting/
escaping the reference's naive ``strings.Split`` reader cannot parse)

Spark's shuffle replaces the mr-<m>-<r>.txt intermediate files and its
output committer replaces the reference's O_TRUNC-overwrite idempotence
protocol (SURVEY.md §4.2). The space-delimited encoding keeps the
reference's constraint that keys contain no spaces (worker.go:148-157
splits naively); this sink is a compatibility boundary — typed data should
use parquet (``df.write.parquet``) everywhere else.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_sorted_kv_text(df: DataFrame, path: str, num_partitions: int = 2) -> None:
    """Write (key, value) rows as R hash-partitioned, key-sorted text files.

    A row that ``read_kv_text`` would read back differently fails the write
    instead: a NULL key or value (``concat_ws`` drops it), a key holding a
    space, or a line break in either. The guard is part of the projection,
    so it costs no extra Spark job.
    """
    key, value = F.col("key"), F.col("value")

    def fail(why: str):
        shown = F.coalesce(key, F.lit("NULL"))
        return F.raise_error(F.concat(F.lit(f"KV text sink: {why}; key="), shown))

    line = (
        F.when(key.isNull(), fail("NULL key"))
        .when(value.isNull(), fail("NULL value"))
        .when(key.contains(" "), fail("space in key"))
        .when(key.rlike(r"[\r\n]") | value.rlike(r"[\r\n]"), fail("line break"))
        .otherwise(F.concat_ws(" ", key, value))
    )
    (
        df.repartition(num_partitions, "key")
        .sortWithinPartitions("key")
        .select(line.alias("line"))
        .write.mode("overwrite")
        .text(path)
    )


def read_kv_text(spark: SparkSession, path: str) -> DataFrame:
    """Read the sink format back into (key string, value string) rows —
    the reference's intermediate/output scan (worker.go:142-159), with the
    same first-space split semantics (the value may hold spaces, the key
    may not)."""
    lines = spark.read.text(path).where(F.col("value") != "")
    return lines.select(
        F.substring_index("value", " ", 1).alias("key"),
        F.expr("substring(value, length(substring_index(value, ' ', 1)) + 2)").alias("value"),
    )
