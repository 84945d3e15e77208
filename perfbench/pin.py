"""Pin the expected digests of the iterative ops that have no DuckDB oracle.

    python3 perfbench/pin.py

Run from the root of a checkout whose results are trusted. Each op gets
the digest of its own output, after checking that two runs agree. Digests
are stored under the fixture's fingerprint; SPARK_GRAFT_SF_DIR selects
another fixture.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TZ"] = "UTC"
    import time

    time.tzset()
    from run import remove_new_tmp, stop_spark, tmp_entries
    from workloads import (
        ITERATIVE_OPS,
        PINS_PATH,
        fixture_dir,
        fixture_fingerprint,
        spark_digest,
    )

    from tp1_distribuidos_mapreduce_spark import registry
    from tp1_distribuidos_mapreduce_spark.session import get_spark

    sf_dir = fixture_dir()
    qs, oracles = registry.queries(), registry.oracle_sql()
    tmp_before = tmp_entries()
    spark = get_spark("perfbench-pin")
    spark.sparkContext.setLogLevel("ERROR")
    digests = {}
    try:
        for name in ITERATIVE_OPS:
            if name in oracles:
                continue
            first = spark_digest(qs[name](spark, sf_dir))
            second = spark_digest(qs[name](spark, sf_dir))
            if first != second:
                print(f"{name}: two runs disagree: {first} != {second}", file=sys.stderr)
                return 1
            digests[name] = first
            print(f"{name}: {first}", file=sys.stderr)
    finally:
        stop_spark(spark)
        remove_new_tmp(tmp_before)
    try:
        with open(PINS_PATH) as f:
            pins = json.load(f)
    except FileNotFoundError:
        pins = {}
    pins[fixture_fingerprint(sf_dir)] = {"fixture": os.path.basename(sf_dir.rstrip("/")), "digests": digests}
    with open(PINS_PATH, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
