"""Session settings that the engine's Python workers depend on."""

from __future__ import annotations

import os

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
