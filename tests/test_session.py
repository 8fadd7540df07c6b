"""Session settings that the engine's Python workers depend on."""

from __future__ import annotations

import os
import pathlib

import pytest

import mysql_syncer_clickhouse_spark


def test_workers_get_the_package_root_on_their_path(spark):
    """Python UDFs pickle some package functions by reference, so each
    worker must import the package whatever the working directory and
    environment of the process that built the session: the session
    hands the workers the directory that holds the package."""
    root = os.path.dirname(os.path.dirname(
        os.path.abspath(mysql_syncer_clickhouse_spark.__file__)))
    path = spark.sparkContext.environment["PYTHONPATH"]
    assert root in path.split(os.pathsep)


def test_workers_run_under_the_zip_guard(spark):
    """Python workers fork from the package's worker daemon: their zip
    importers carry its guard, so the invalidation PySpark makes at
    the start of every task re-reads no unchanged archive (the stock
    method re-parses pyspark.zip's directory once per importer, 16
    times a task)."""

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        zips = sum(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
        reads = []
        stock_read = zipimport._read_directory

        def counting_read(path):
            reads.append(path)
            return stock_read(path)

        zipimport._read_directory = counting_read
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock_read
        yield pd.DataFrame({
            "module": [zipimport.zipimporter.invalidate_caches.__module__],
            "zips": [zips], "reads": [len(reads)]})

    row = (spark.range(1, numPartitions=1)
           .mapInPandas(probe, "module string, zips long, reads long")
           .collect()[0])
    assert row.module == "mysql_syncer_clickhouse_spark.worker_daemon"
    if not row.zips:
        pytest.skip("the worker imported nothing from a zip (no SPARK_HOME)")
    assert row.reads == 0


def test_sessions_come_from_one_factory():
    """Every session is built by session.get_spark: a session built
    elsewhere would miss its settings, the worker daemon among them.
    The session builder is named once in the package, tools, the
    benchmark, the entry points and the tests, in session.py."""
    root = pathlib.Path(mysql_syncer_clickhouse_spark.__file__).parent.parent
    sources = [p for d in ("mysql_syncer_clickhouse_spark", "tools",
                           "perfbench", "tests")
               for p in sorted((root / d).rglob("*.py"))]
    sources += [root / f for f in ("bench.py", "scale_probe.py",
                                   "__spark_entry__.py")]
    needle = "SparkSession" + ".builder"
    hits = [(str(p.relative_to(root)), n) for p in sources
            for n in [p.read_text().count(needle)] if n]
    assert hits == [(os.path.join("mysql_syncer_clickhouse_spark",
                                  "session.py"), 1)]
