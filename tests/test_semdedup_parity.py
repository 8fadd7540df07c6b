"""Forced bit-equality harness for the semdedup Arrow pair stage (r16).

The Arrow pass (ann._semdedup_dups_arrow) must be BIT-equal to the
DataFrame fold (ann._semdedup_dups_frame) -- r15 VERDICT scoped the
three divergence axes to prove: Spark's NaN-largest ordering, NULL
csim propagation for zero vectors, and Round's
BigDecimal-over-Double.toString HALF_UP vs numpy's binary half-even.
"""
from __future__ import annotations

import math
import struct

import pytest
from pyspark.sql import functions as F

from mysql_syncer_clickhouse_spark.operators import ann


def _bits(x):
    """Bit-exact comparison key for a possibly-None float."""
    if x is None:
        return None
    return struct.unpack("<q", struct.pack("<d", float(x)))[0]


def _rows_key(rows):
    return sorted(
        (r["id"], r["cid"], _bits(r["csim"]), r["dup_of"], r["kept"])
        for r in rows)


def _semdedup_both(vecs, monkeypatch, **kw):
    """Run semdedup twice on identical input: once with the Arrow pair
    stage (the default for integral ids), once forced through the
    DataFrame fold."""
    arrow = ann.semdedup(vecs, **kw).collect()
    with monkeypatch.context() as m:
        m.setattr(ann, "_semdedup_dups_arrow",
                  lambda scored, eps, keep, id_type:
                  ann._semdedup_dups_frame(scored, eps, keep))
        frame = ann.semdedup(vecs, **kw).collect()
    return arrow, frame


def test_round_threshold_matches_spark_round(spark):
    """c >= _round_ge_threshold(eps) must agree with Spark's
    ROUND(c, 6) >= eps for every double, including the HALF_UP
    boundary ladder around eps - 5e-7."""
    eps = 0.98
    t = ann._round_ge_threshold(spark, eps)
    probes = []
    for center in (0.9799995, 0.98, 0.9799990, 0.9800005, t):
        c = center
        for _ in range(40):
            c = math.nextafter(c, 0.0)
        for _ in range(80):
            probes.append(c)
            c = math.nextafter(c, 1.0)
    df = spark.createDataFrame([(c,) for c in probes], "c double")
    got = df.select("c", (F.round("c", 6) >= F.lit(eps)).alias("ge")) \
            .collect()
    for r in got:
        assert r["ge"] == (r["c"] >= t), \
            f"threshold disagrees with Spark round at {r['c']!r}"


def test_arrow_pair_stage_bit_equal_on_fixture(spark, sf_dir,
                                               monkeypatch):
    """Full semdedup output (id, cid, csim, dup_of, kept) bit-equal
    between the Arrow and frame pair stages on the real vector corpus,
    for both keep policies."""
    from mysql_syncer_clickhouse_spark.queries.llm import _vec_corpus
    vecs = _vec_corpus(spark, sf_dir)
    for keep in ("far", "near"):
        arrow, frame = _semdedup_both(
            vecs, monkeypatch, eps=0.98, keep=keep, cluster_col="label",
            id_col="id", vec_col="v")
        assert _rows_key(arrow) == _rows_key(frame)
        assert any(not r["kept"] for r in arrow)   # non-trivial


def test_arrow_pair_stage_adversarial_edges(spark, monkeypatch):
    """Ties (identical vectors -> equal csim -> id tie-break), scaled
    copies (cosine exactly 1), near-threshold cosines, singleton
    clusters, NaN vectors (Spark NaN-largest ordering), and -- under a
    non-ANSI session -- zero vectors (NULL csim, always kept, never a
    dup_of)."""
    nan = float("nan")
    rows = [
        # cluster a: v1 == 2*v0 (cosine 1.0), v2 a tie of v0 (equal
        # csim, id tie-break), v3 near-orthogonal
        (0, "a", [1.0, 0.0, 1.0, 0.5]),
        (1, "a", [2.0, 0.0, 2.0, 1.0]),
        (2, "a", [1.0, 0.0, 1.0, 0.5]),
        (3, "a", [-1.0, 1.0, 0.0, 0.0]),
        # cluster b: near-threshold pair (cosine close to 0.98)
        (10, "b", [1.0, 0.0, 0.0, 0.0]),
        (11, "b", [1.0, 0.205, 0.0, 0.0]),
        (12, "b", [1.0, 0.19, 0.0, 0.0]),
        # cluster c: singleton
        (20, "c", [0.5, 0.5, 0.5, 0.5]),
        # cluster d: NaN vector among finite ones
        (30, "d", [1.0, 1.0, 0.0, 0.0]),
        (31, "d", [nan, 1.0, 0.0, 0.0]),
        (32, "d", [1.0, 1.0, 0.0, 1e-9]),
    ]
    vecs = spark.createDataFrame(
        rows, "vid long, grp string, emb array<double>")
    for keep in ("far", "near"):
        arrow, frame = _semdedup_both(
            vecs, monkeypatch, eps=0.98, keep=keep, cluster_col="grp",
            id_col="vid", vec_col="emb")
        assert _rows_key(arrow) == _rows_key(frame)
    # zero vectors produce NULL csim only under a non-ANSI session
    # (ANSI double division by zero throws in BOTH implementations
    # at the csim projection, before the pair stage)
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        rows_z = rows + [(40, "a", [0.0, 0.0, 0.0, 0.0]),
                         (41, "e", [0.0, 0.0, 0.0, 0.0]),
                         (42, "e", [0.0, 0.0, 0.0, 0.0])]
        vecs_z = spark.createDataFrame(
            rows_z, "vid long, grp string, emb array<double>")
        arrow, frame = _semdedup_both(
            vecs_z, monkeypatch, eps=0.98, keep="far",
            cluster_col="grp", id_col="vid", vec_col="emb")
        assert _rows_key(arrow) == _rows_key(frame)
        zero_rows = [r for r in arrow if r["id"] in (40, 41, 42)]
        assert all(r["kept"] and r["csim"] is None for r in zero_rows)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)


def test_arrow_pair_stage_used_in_plan(spark, sf_dir):
    """The registered entry's sem part must carry exactly one
    FlatMapGroupsInPandas (the Arrow pass) and no per-pair fold:
    the pair stage's aggregate-lambda chain is gone from the plan."""
    from mysql_syncer_clickhouse_spark.queries.llm import (
        dedup_embedding_cosine)
    df = dedup_embedding_cosine(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan


def test_session_without_jvm_takes_the_frame_pair_stage(spark,
                                                        monkeypatch):
    """A session with no JVM handle (Spark Connect) cannot ask the
    JVM's Double.toString for the Arrow pass's round threshold, so
    integral ids fall back to the DataFrame fold -- same rows as the
    forced frame path."""
    rows = [(0, "a", [1.0, 0.0, 1.0, 0.5]),
            (1, "a", [2.0, 0.0, 2.0, 1.0]),
            (2, "a", [-1.0, 1.0, 0.0, 0.0]),
            (10, "b", [1.0, 0.0, 0.0, 0.0]),
            (11, "b", [1.0, 0.19, 0.0, 0.0])]
    vecs = spark.createDataFrame(
        rows, "vid long, grp string, emb array<double>")
    kw = dict(eps=0.98, keep="far", cluster_col="grp", id_col="vid",
              vec_col="emb")
    _, frame = _semdedup_both(vecs, monkeypatch, **kw)

    class _NoJvmSession:
        """The test session with its `_jvm` handle hidden, as a Spark
        Connect session raises on that attribute."""

        def __getattr__(self, name):
            if name == "_jvm":
                raise AttributeError(name)
            return getattr(spark, name)

    no_jvm_session = _NoJvmSession()
    with monkeypatch.context() as m:
        # frames report the handle-less session; pyspark's own column
        # functions still find the active JVM session as they must
        m.setattr(type(vecs), "sparkSession",
                  property(lambda df: no_jvm_session))
        m.setattr(ann, "_semdedup_dups_arrow", None)   # must not run
        no_jvm = ann.semdedup(vecs, **kw).collect()
    assert _rows_key(no_jvm) == _rows_key(frame)
    assert any(not r["kept"] for r in no_jvm)          # non-trivial


def _oversized_cluster_rows(n, dim, seed):
    """One cluster of n members: noisy copies of n // 8 bases plus
    exact repeats, so pair cosines land on both sides of eps and
    priorities tie."""
    import random
    rng = random.Random(seed)
    bases = [[rng.uniform(-1.0, 1.0) for _ in range(dim)]
             for _ in range(max(1, n // 8))]
    rows = []
    for i in range(n):
        b = bases[i % len(bases)]
        if i % 5 == 0:
            v = list(b)
        else:
            v = [x + rng.gauss(0.0, 0.05) for x in b]
        rows.append((i, "big", v))
    return rows


def test_arrow_pair_stage_tiles_an_oversized_cluster(spark, monkeypatch):
    """A cluster spread over many row tiles (a ragged last one
    included) gives the frame fold's rows bit for bit."""
    vecs = spark.createDataFrame(
        _oversized_cluster_rows(301, 6, seed=11),
        "vid long, grp string, emb array<double>")
    with monkeypatch.context() as m:
        # 1,000 elements per tile: 3 rows of 301 per tile, 101 tiles
        m.setattr(ann, "_SEMDEDUP_TILE_ELEMS", 1000)
        for keep in ("far", "near"):
            tiled, frame = _semdedup_both(
                vecs, monkeypatch, eps=0.98, keep=keep, cluster_col="grp",
                id_col="vid", vec_col="emb")
            assert _rows_key(tiled) == _rows_key(frame)
            assert any(not r["kept"] for r in tiled)   # non-trivial


def test_arrow_pair_pass_memory_is_bounded_by_the_tile():
    """Peak memory of the per-cluster pass on a 4,000-member cluster
    stays near the tile budget; one n x n float64 array alone would be
    128 MB."""
    import tracemalloc

    import numpy as np
    import pandas as pd

    n, dim = 4000, 8
    rows = _oversized_cluster_rows(n, dim, seed=5)
    q = [np.floor(np.array(v) * 1_000_000) for _, _, v in rows]
    qn = np.array([np.sqrt(float(np.dot(x, x))) for x in q])
    cent = np.sum(q, axis=0)
    csim = np.round(np.array([np.dot(x, cent) for x in q])
                    / (qn * np.sqrt(np.dot(cent, cent))), 6)
    pdf = pd.DataFrame({"cid": 0, "id": np.arange(n, dtype=np.int64),
                        "q": q, "csim": csim, "__qn": qn,
                        "__cnull": False})
    scan = ann._semdedup_scan(0.98, True)
    tracemalloc.start()
    try:
        out = scan(pdf)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert len(out) > 0
    assert peak < 64 * 2**20, f"peak {peak / 2**20:.1f} MB"
