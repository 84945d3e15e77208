"""Python workers start through worker_daemon (session.get_spark): Spark's
own pyspark/py4j archives leave the worker's import path when the
installed pyspark and py4j can be imported without them."""

from __future__ import annotations

import os
import zipfile

import pandas as pd

from tp1_distribuidos_mapreduce_spark.worker_daemon import prune_spark_archives


def _spark_home(tmp_path):
    """A fake Spark install reached through a symlink, as ``/opt/spark`` is:
    ``(home, pyspark_zip, py4j_zip, jar)`` where the zips are spelled
    through the symlink and the jar by its resolved path."""
    real = tmp_path / "spark-4.1.2-bin"
    (real / "python" / "lib").mkdir(parents=True)
    (real / "jars").mkdir()
    for name, pkg in (("pyspark.zip", "pyspark"), ("py4j-src.zip", "py4j")):
        with zipfile.ZipFile(real / "python" / "lib" / name, "w") as z:
            z.writestr(f"{pkg}/__init__.py", "")
    (real / "jars" / "spark-core-4.1.2.jar").write_bytes(b"")
    (real / "jars" / "spark-core.jar").symlink_to(real / "jars" / "spark-core-4.1.2.jar")
    home = tmp_path / "spark"
    home.symlink_to(real)
    lib = home / "python" / "lib"
    return (
        str(home),
        str(lib / "pyspark.zip"),
        str(lib / "py4j-src.zip"),
        str(real / "jars" / "spark-core.jar"),
    )


def _site(site, *packages):
    site.mkdir()
    for pkg in packages:
        (site / pkg).mkdir()
        (site / pkg / "__init__.py").write_text("")
    return str(site)


def test_prune_drops_spark_archives_when_pyspark_is_installed(tmp_path):
    home, pyspark_zip, py4j_zip, jar = _spark_home(tmp_path)
    site = _site(tmp_path / "site", "pyspark", "py4j")
    spark_dir = os.path.join(home, "python")  # not an archive: stays
    path = [str(tmp_path), pyspark_zip, py4j_zip, jar, spark_dir, site]
    cache = {
        str(tmp_path): "cwd",
        pyspark_zip: "zip",
        os.path.join(pyspark_zip, "pyspark"): "zip subpackage",
        os.path.realpath(py4j_zip): "zip by its resolved path",
        jar: "jar",
        site: "site",
    }
    before = (list(path), dict(cache))
    assert prune_spark_archives(path, cache, home) == (
        [str(tmp_path), spark_dir, site],
        {str(tmp_path): "cwd", site: "site"},
    )
    assert (path, cache) == before


def test_prune_keeps_spark_archives_when_they_hold_the_only_pyspark(tmp_path):
    home, pyspark_zip, py4j_zip, jar = _spark_home(tmp_path)
    cache = {pyspark_zip: "zip", jar: "jar"}
    for site in (_site(tmp_path / "none"), _site(tmp_path / "no-py4j", "pyspark")):
        path = [pyspark_zip, py4j_zip, jar, site]
        assert prune_spark_archives(path, cache, home) == (path, cache)
    assert prune_spark_archives(path, cache, None) == (path, cache)


def test_prune_keeps_archives_outside_spark_home(tmp_path):
    """A zip shipped with addPyFile lives in the task's files dir, not
    under SPARK_HOME, and stays."""
    home, pyspark_zip, py4j_zip, jar = _spark_home(tmp_path)
    site = _site(tmp_path / "site", "pyspark", "py4j")
    user_zip = tmp_path / "userFiles" / "deps.zip"
    user_zip.parent.mkdir()
    zipfile.ZipFile(user_zip, "w").close()
    path = [str(user_zip), pyspark_zip, py4j_zip, jar, site]
    cache = {str(user_zip): "user zip", pyspark_zip: "zip"}
    assert prune_spark_archives(path, cache, home) == (
        [str(user_zip), site],
        {str(user_zip): "user zip"},
    )


def test_python_workers_import_the_drivers_pyspark(spark):
    """One mapInPandas task imports the pyspark the driver imports, and no
    archive under SPARK_HOME is on its path or in its importer cache."""
    import pyspark
    from pyspark.find_spark_home import _find_spark_home

    home = os.path.realpath(_find_spark_home())

    def report(batches):
        import sys

        import pyspark

        for _ in batches:
            pass

        def spark_archives(entries):
            return sorted(
                e
                for e in entries
                if (".zip" in e or ".jar" in e)
                and os.path.realpath(e).startswith(home + os.sep)
            )

        yield pd.DataFrame(
            {
                "file": [pyspark.__file__],
                "paths": [spark_archives(sys.path)],
                "cache_keys": [spark_archives(sys.path_importer_cache)],
            }
        )

    [row] = (
        spark.range(0, 1, 1, 1)
        .mapInPandas(report, "file string, paths array<string>, cache_keys array<string>")
        .collect()
    )
    assert row.file == pyspark.__file__
    assert row.paths == [] and row.cache_keys == []


def test_get_spark_applies_the_oracle_parity_settings(spark):
    conf = spark.conf
    assert conf.get("spark.sql.session.timeZone") == "UTC"
    assert conf.get("spark.sql.ansi.enabled") == "false"
    assert conf.get("spark.sql.python.filterPushdown.enabled") == "true"
