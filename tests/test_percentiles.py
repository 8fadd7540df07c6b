"""operators/percentiles: both physical shapes of exact grouped
percentiles agree with each other AND with Spark's built-in
`percentile` (the semantics oracle), and the range shape's plan
scales tasks with buckets, not groups (VERDICT r10 ask #6)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mysql_syncer_clickhouse_spark.operators.percentiles import (
    exact_group_percentiles)


def _fixture(spark, n=5000, groups=3):
    # deterministic skewed values: different spread per group, ties,
    # negative values, group sizes that make p*(n-1) non-integral
    return spark.range(n).select(
        (F.col("id") % groups).cast("string").alias("g"),
        (F.pmod(F.col("id") * 2654435761, F.lit(10007)).cast("double")
         * F.when(F.col("id") % groups == 0, -0.25).otherwise(1.5)
         + (F.col("id") % 7)).alias("v"))


def test_window_and_range_shapes_identical(spark):
    df = _fixture(spark)
    ps = [0.5, 0.95, 0.99]
    w = {r["g"]: (r["p50"], r["p95"], r["p99"]) for r in
         exact_group_percentiles(df, "g", "v", ps,
                                 mode="window").collect()}
    r = {r["g"]: (r["p50"], r["p95"], r["p99"]) for r in
         exact_group_percentiles(df, "g", "v", ps, mode="range",
                                 buckets=8).collect()}
    assert w.keys() == r.keys()
    for g in w:
        for a, b in zip(w[g], r[g]):
            assert a == pytest.approx(b, abs=1e-9), g


def test_matches_spark_builtin_percentile(spark):
    df = _fixture(spark, n=2003)          # odd, non-round group sizes
    want = {r["g"]: (r["q50"], r["q95"]) for r in
            df.groupBy("g").agg(
                F.expr("percentile(v, 0.5)").alias("q50"),
                F.expr("percentile(v, 0.95)").alias("q95")).collect()}
    for mode in ("window", "range"):
        got = {r["g"]: (r["p50"], r["p95"]) for r in
               exact_group_percentiles(df, "g", "v", [0.5, 0.95],
                                       mode=mode).collect()}
        for g in want:
            assert got[g][0] == pytest.approx(want[g][0], rel=1e-12)
            assert got[g][1] == pytest.approx(want[g][1], rel=1e-12)


def test_range_shape_parallelism_scales_with_buckets(spark):
    """The point of the range form: the heavy sort runs over
    (group, bucket), so its window partitioning carries the bucket
    column -- tasks scale with G x buckets, not G. The window form's
    sort partitions by the group alone."""
    df = _fixture(spark)
    rplan = exact_group_percentiles(
        df, "g", "v", [0.5], mode="range", buckets=8) \
        ._jdf.queryExecution().executedPlan().toString()
    assert any("__b" in seg[:40]
               for seg in rplan.split("hashpartitioning(g")[1:])
    wplan = exact_group_percentiles(
        df, "g", "v", [0.5], mode="window") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "__b" not in wplan


def test_null_values_ignored_like_builtin(spark):
    """NULLs must be ignored (Spark percentile() semantics) in BOTH
    shapes -- unfiltered they would occupy ranks and shift every
    interpolation position."""
    df = spark.createDataFrame(
        [("a", 1.0), ("a", None), ("a", 3.0), ("a", None),
         ("a", 5.0), ("b", None), ("b", 10.0)],
        "g string, v double")
    want = {r["g"]: r["q"] for r in df.groupBy("g").agg(
        F.expr("percentile(v, 0.5)").alias("q")).collect()}
    for mode in ("window", "range"):
        got = {r["g"]: r["p50"] for r in
               exact_group_percentiles(df, "g", "v", [0.5],
                                       mode=mode, buckets=4).collect()}
        assert got["a"] == pytest.approx(want["a"])   # 3.0, not 1.0
        assert got["b"] == pytest.approx(want["b"])


def test_auto_with_rows_hint_runs_zero_jobs(spark, monkeypatch):
    """mode='auto' with rows_hint must pick the shape from the hint
    alone -- no count() job (VERDICT r11 ask #6; pipelines must not
    pay an extra scan for shape selection)."""
    from pyspark.sql import DataFrame
    from mysql_syncer_clickhouse_spark.operators import percentiles as P
    df = _fixture(spark, n=400)
    monkeypatch.setattr(
        DataFrame, "count",
        lambda self: (_ for _ in ()).throw(
            AssertionError("auto with rows_hint must not count()")))
    small = exact_group_percentiles(df, "g", "v", [0.5], mode="auto",
                                    rows_hint=400)
    assert "__b" not in small._jdf.queryExecution() \
        .executedPlan().toString()          # window shape picked
    big = exact_group_percentiles(
        df, "g", "v", [0.5], mode="auto",
        rows_hint=P.AUTO_RANGE_THRESHOLD + 1)
    assert "__b" in big._jdf.queryExecution() \
        .executedPlan().toString()          # range shape picked


def test_colliding_percentile_tags_refused(spark):
    """0.5 and 0.504 both tag 'p50' -- silent duplicate aliases; the
    operator must raise instead (ADVICE r11)."""
    df = _fixture(spark, n=100)
    with pytest.raises(ValueError, match="colliding"):
        exact_group_percentiles(df, "g", "v", [0.5, 0.504])


def test_range_buckets_one_clamped(spark):
    """buckets=1 used to build an EMPTY percentage list for
    percentile_approx (analysis-time failure); it now clamps to 2 and
    still matches the window shape (ADVICE r11)."""
    df = _fixture(spark, n=503)
    w = {r["g"]: r["p50"] for r in exact_group_percentiles(
        df, "g", "v", [0.5], mode="window").collect()}
    r = {r["g"]: r["p50"] for r in exact_group_percentiles(
        df, "g", "v", [0.5], mode="range", buckets=1).collect()}
    for g in w:
        assert r[g] == pytest.approx(w[g], abs=1e-9)


def test_grouping_stats_fused_sort_matches_unfused_operators(spark):
    """agg_grouping_stats' r15 fused (l_returnflag, l_extendedprice)
    sort must reproduce the unfused operators exactly: 'pctl' m1/m2 =
    exact_group_percentiles (window shape), 'wpctl' m1/m2 =
    quantile_exact_weighted -- same rows, same doubles, no approx."""
    from mysql_syncer_clickhouse_spark.queries.relational import (
        agg_grouping_stats, quantile_exact_weighted, _t)
    from pyspark.sql import functions as FF

    sf_dir = "/root/testdata/sf0.001"
    out = {(r["part"], r["g1"]): (r["m1"], r["m2"])
           for r in agg_grouping_stats(spark, sf_dir)
           .filter(FF.col("part").isin("pctl", "wpctl")).collect()}
    li = _t(spark, sf_dir, "lineitem")
    ref_p = {r["l_returnflag"]: (r["p50"], r["p95"]) for r in
             exact_group_percentiles(li, "l_returnflag",
                                     "l_extendedprice", [0.5, 0.95],
                                     mode="window")
             .select("l_returnflag", F.round("p50", 6).alias("p50"),
                     F.round("p95", 6).alias("p95")).collect()}
    ref_w = {r["l_returnflag"]: (r["wp50"], r["wp90"]) for r in
             quantile_exact_weighted(li, ["l_returnflag"],
                                     "l_extendedprice", "l_quantity",
                                     [0.5, 0.9]).collect()}
    assert {g for p, g in out if p == "pctl"} == set(ref_p)
    assert {g for p, g in out if p == "wpctl"} == set(ref_w)
    for g, want in ref_p.items():
        assert out[("pctl", g)] == want, g
    for g, want in ref_w.items():
        assert out[("wpctl", g)] == want, g
