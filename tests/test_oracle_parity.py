"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() twin on DuckDB, compare row count,
column names, and exact (order-insensitive) values.

Runs at BOTH sf0.001 and sf0.01 -- the driver checks sf0.01, and round
1's two hash mismatches lived exactly in the sf0.001->sf0.01 gap.
Set SPARK_GRAFT_PARITY_SFS to a comma-separated dir list to override
(e.g. just sf0.001 for a quick inner loop).
"""

from __future__ import annotations

import datetime
import math
import os
from decimal import Decimal

import duckdb
import pytest

import __spark_entry__ as entry_mod
from tests.conftest import SF_SMALL

PARITY_SFS = [
    p for p in os.environ.get(
        "SPARK_GRAFT_PARITY_SFS",
        f"{SF_SMALL},/root/testdata/sf0.01").split(",") if p
]

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _norm(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _rows(cols, data):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(_norm(r[i]) for i in order) for r in data),
        key=lambda t: tuple((x is None, str(type(x)), str(x)) for x in t),
    )


_QUERIES = entry_mod.queries()
_ORACLE = entry_mod.oracle_sql()


def test_registry_fits_driver_window_and_fully_oracled():
    """The driver checks only the first 50 registry entries and records
    an err for any entry without oracle SQL (it has NO rows-only mode)
    -- so the whole registry must fit the window and every entry must
    have an oracle twin."""
    assert len(_QUERIES) <= 50, sorted(_QUERIES)
    missing = set(_QUERIES) - set(_ORACLE)
    assert not missing, f"queries without oracle SQL: {sorted(missing)}"


@pytest.mark.parametrize("sf_dir", PARITY_SFS)
@pytest.mark.parametrize("name", sorted(_QUERIES))
def test_parity(spark, name, sf_dir):
    fn = _QUERIES[name]
    sdf = fn(spark, sf_dir)
    spark_cols = sdf.columns
    spark_data = [tuple(r) for r in sdf.collect()]

    if name not in _ORACLE:
        assert len(spark_data) >= 0  # rows-only check
        return

    con = _duck(sf_dir)
    res = con.execute(_ORACLE[name])
    duck_cols = [d[0] for d in res.description]
    duck_data = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch spark={spark_cols} duck={duck_cols}")
    assert len(spark_data) == len(duck_data), (
        f"{name}: rowcount spark={len(spark_data)} duck={len(duck_data)}")
    sr = _rows(spark_cols, spark_data)
    dr = _rows(duck_cols, duck_data)
    mismatches = [(a, b) for a, b in zip(sr, dr) if a != b]
    assert not mismatches, f"{name}: first mismatches {mismatches[:3]}"


@pytest.mark.parametrize("sf_dir", PARITY_SFS)
def test_q21_rewrite_equals_original_exists_text(spark, sf_dir):
    """The q21 single-pass window rewrite (the variant tpch_suite_b
    dispatches to once lineitem is past broadcast size) must produce
    exactly the original decorrelated-EXISTS text's rows -- checked in
    BOTH engines: Spark(rewrite suite) vs Spark(original suite) and vs
    the DuckDB oracle (which always runs the original text). Without
    this, the rewrite would go driver-unchecked at fixture sizes."""
    from mysql_syncer_clickhouse_spark.queries import tpch
    from mysql_syncer_clickhouse_spark.sources.tables import (
        register_views)

    register_views(spark, sf_dir)
    cols = None
    results = {}
    for tag, sql in (("rewrite", tpch._SUITE_B_SPARK_SQL),
                     ("original", tpch._SUITE_B_SQL)):
        df = spark.sql(sql)
        cols = df.columns
        results[tag] = _rows(cols, [tuple(r) for r in df.collect()])
    assert results["rewrite"] == results["original"]

    con = _duck(sf_dir)
    res = con.execute(tpch._SUITE_B_SQL)
    duck = _rows([d[0] for d in res.description], res.fetchall())
    assert results["rewrite"] == duck


def test_q21_dispatch_picks_rewrite_for_directory_lineitem(
        spark, sf_dir, tmp_path, monkeypatch):
    """tpch_suite_b runs the q21 rewrite for a directory-backed
    lineitem however few bytes it holds (the cluster-scale layout),
    and the original text for a small single-file lineitem."""
    import shutil

    from mysql_syncer_clickhouse_spark.queries import tpch

    chosen = []
    monkeypatch.setattr(tpch, "_run_suite",
                        lambda spark, sf_dir, sql: chosen.append(sql))
    as_dir = tmp_path / "dir"
    (spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
     .limit(5).coalesce(1).write.parquet(
         str(as_dir / "lineitem.parquet")))
    as_file = tmp_path / "file"
    as_file.mkdir()
    shutil.copy(os.path.join(sf_dir, "lineitem.parquet"), as_file)
    tpch.tpch_suite_b(spark, str(as_dir))
    tpch.tpch_suite_b(spark, str(as_file))
    assert chosen[0] is tpch._SUITE_B_SPARK_SQL
    assert chosen[1] is tpch._SUITE_B_SQL
