"""Spark's Python worker daemon, started on an import path without Spark's
own archives.

Spark starts ``python -m <spark.python.daemon.module> <worker module>``
with ``$SPARK_HOME/python/lib/pyspark.zip``, the py4j zip and the
spark-core jar first on ``PYTHONPATH``. Workers that import pyspark from
those archives pay for it on every task:
``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``, and on Python 3.11 every
``zipimporter`` in ``sys.path_importer_cache`` re-reads its archive's
directory then. Inside ``mapInPandas`` tasks on 4 vCPUs one call took
0.22 s (median of 100) with the archives and 47 µs without them.
``session.get_spark`` names this module as the daemon, so a worker
imports the same installed pyspark and py4j the driver imports.

Run as ``__main__`` only: the import path is pruned before anything
imports pyspark, ``sys.argv`` is left as Spark passed it (``pyspark.daemon``
reads the worker module from ``sys.argv[1]`` when it is imported), and
the package ``__init__`` imports nothing.
"""

from __future__ import annotations

import importlib.machinery
import os
import sys
from collections.abc import Mapping, Sequence


def _is_under(path: str, root: str) -> bool:
    return path == root or path.startswith(root + os.sep)


def prune_spark_archives(
    path: Sequence[str], importer_cache: Mapping[str, object], spark_home: str | None
) -> tuple[list[str], dict[str, object]]:
    """``(path, importer_cache)`` without the ``.zip``/``.jar`` entries whose
    realpath lies under ``realpath(spark_home)``, and without the importer
    cache keys at or under those entries. Returned unchanged when
    ``spark_home`` is unset or when ``pyspark`` or ``py4j`` cannot be found
    on the remaining path: a deployment whose only pyspark is Spark's zip
    keeps it."""
    if not spark_home:
        return list(path), dict(importer_cache)
    home = os.path.realpath(spark_home)
    dropped = [
        p
        for p in path
        if p.endswith((".zip", ".jar")) and _is_under(os.path.realpath(p), home)
    ]
    kept = [p for p in path if p not in dropped]
    if not dropped or any(
        importlib.machinery.PathFinder.find_spec(name, kept) is None
        for name in ("pyspark", "py4j")
    ):
        return list(path), dict(importer_cache)
    archives = {os.path.realpath(p) for p in dropped}
    cache = {
        key: finder
        for key, finder in importer_cache.items()
        if not any(_is_under(os.path.realpath(key), a) for a in archives)
    }
    return kept, cache


if __name__ == "__main__":
    sys.path[:], cache = prune_spark_archives(
        sys.path, sys.path_importer_cache, os.environ.get("SPARK_HOME")
    )
    sys.path_importer_cache.clear()
    sys.path_importer_cache.update(cache)

    from pyspark import daemon

    daemon.manager()
