"""Physical-plan quality gates: filters reach the parquet scan, scans
are column-pruned, small dimensions broadcast, the upsert window
shuffles exactly once. These are the properties that decide 100 TB
behavior; asserting them keeps regressions out."""

from __future__ import annotations

from mysql_syncer_clickhouse_spark.operators.upsert import latest_state
from mysql_syncer_clickhouse_spark.plans.explain import (
    formatted_plan, has_broadcast_join, n_shuffles, pushed_filters)
from mysql_syncer_clickhouse_spark.queries import relational
from mysql_syncer_clickhouse_spark.sources.changelog import (
    derive_changelog_from_events)


def test_q1_filter_pushed_and_pruned(spark, sf_dir):
    df = relational.q1_pricing_summary(spark, sf_dir)
    plan = formatted_plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" \
        in plan
    # scan must not read columns the query never touches
    assert "l_partkey" not in plan and "l_suppkey" not in plan


def test_q3_broadcasts_dimension(spark, sf_dir):
    # no hint on customer (sf-proportional) -- the optimizer must still
    # pick broadcast on its own at this sf (fits under the threshold)
    df = relational.q3_shipping_priority(spark, sf_dir)
    assert has_broadcast_join(df)


def test_q5_broadcasts_all_dims(spark, sf_dir):
    df = relational.q5_local_supplier(spark, sf_dir)
    plan = formatted_plan(df)
    # one fact-fact join may shuffle; the four dims must broadcast
    # (nation/region by hint, supplier/customer by size estimate)
    assert plan.count("BroadcastHashJoin") >= 4


def test_no_unconditional_broadcast_of_sf_proportional_tables(spark, sf_dir):
    """The 100x rule: with the size thresholds disabled, a relation
    only broadcasts if it carries an explicit hint. nation/region
    (spec-bounded) may hint; customer/supplier/part/orders/lineitem
    grow with sf and must NOT -- a forced broadcast of those is an
    executor OOM at the 100 TB target."""
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        expected_hinted = {
            "q3_shipping_priority": 0,          # customer unhinted
            "q14_promo_revenue": 0,             # part unhinted
            "window_topk_per_group": 0,         # customer unhinted
            "q10_returned_items": 1,            # nation only
            "q5_local_supplier": 2,             # nation + region only
        }
        import re
        for name, n_hinted in expected_hinted.items():
            df = getattr(relational, name)(spark, sf_dir)
            plan = formatted_plan(df)
            # formatted mode prints each node twice (tree + detail
            # section) -- count the "(N) BroadcastHashJoin" headers
            got = len(re.findall(r"^\(\d+\) BroadcastHashJoin",
                                 plan, re.MULTILINE))
            assert got == n_hinted, \
                f"{name}: expected {n_hinted} hinted broadcasts, got {got}\n{plan}"
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_semi_join_filter_pushdown(spark, sf_dir):
    df = relational.join_semi(spark, sf_dir)
    assert "EqualTo(o_orderpriority,1-URGENT)" in pushed_filters(df)


def test_upsert_single_shuffle(spark, sf_dir):
    cl = derive_changelog_from_events(spark, sf_dir)
    df = latest_state(cl, ["pk"])
    # the window dedup must cost exactly one shuffle (on pk) -- the
    # same price as any keyed aggregation, nothing extra
    assert n_shuffles(df) == 1


def test_salted_join_row_identical_to_plain(spark, sf_dir):
    """Salting must not change join results, only key distribution."""
    from mysql_syncer_clickhouse_spark.operators.skew import salted_join
    li = relational._t(spark, sf_dir, "lineitem") \
        .select("l_orderkey", "l_quantity")
    orders = relational._t(spark, sf_dir, "orders") \
        .select(relational.F.col("o_orderkey").alias("l_orderkey"),
                "o_orderpriority")
    plain = li.join(orders, ["l_orderkey"])
    salted = salted_join(li, orders, ["l_orderkey"])
    assert sorted(map(tuple, salted.collect())) \
        == sorted(map(tuple, plain.collect()))


def test_bucketed_join_no_shuffle(spark, sf_dir, tmp_path):
    """Pre-bucketing both fact tables on the join key makes the
    sort-merge join shuffle-free -- the co-located-join strategy
    SCALE.md prescribes for repeated 100 TB fact-fact joins. Asserted:
    zero Exchange nodes in the joined plan."""
    from mysql_syncer_clickhouse_spark.sources.tables import load_table
    li = load_table(spark, sf_dir, "lineitem") \
        .select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders") \
        .select("o_orderkey", "o_orderpriority")
    try:
        (li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
           .option("path", str(tmp_path / "li_b"))
           .mode("overwrite").saveAsTable("li_b"))
        (orders.withColumnRenamed("o_orderkey", "l_orderkey")
               .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
               .option("path", str(tmp_path / "orders_b"))
               .mode("overwrite").saveAsTable("orders_b"))
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("li_b").join(spark.table("orders_b"),
                                          ["l_orderkey"])
        plan = formatted_plan(joined)
        assert "Exchange" not in plan, plan
        assert joined.count() == li.count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS orders_b")


def test_continuous_agg_merge_two_shuffles(spark, sf_dir):
    """partial agg + final merge = 2 exchanges; the replay-dedup in
    between must REUSE the partial agg's partitioning (its keys are a
    subset of the dedup keys), not add a third."""
    from mysql_syncer_clickhouse_spark.queries import streaming_q
    df = streaming_q.continuous_agg_merge(spark, sf_dir)
    assert n_shuffles(df) == 2


def test_debezium_parse_map_only(spark, sf_dir):
    """Envelope parse is pure projection: one scan, zero shuffles."""
    from mysql_syncer_clickhouse_spark.queries import cdc
    df = cdc.cdc_debezium_parse(spark, sf_dir)
    assert n_shuffles(df) == 0


def test_approx_distinct_error_bound(spark, sf_dir):
    approx = {r["l_returnflag"]: r["approx_orders"]
              for r in relational.approx_distinct(spark, sf_dir).collect()}
    exact = {r["l_returnflag"]: r["n"]
             for r in relational._t(spark, sf_dir, "lineitem")
             .groupBy("l_returnflag")
             .agg(relational.F.countDistinct("l_orderkey").alias("n"))
             .collect()}
    for k, v in exact.items():
        assert abs(approx[k] - v) / v < 0.1


def test_asof_join_composite_key(spark):
    """As-of with a two-column key: matches must respect BOTH key
    columns, not just the first."""
    from pyspark.sql import functions as F
    from mysql_syncer_clickhouse_spark.operators.temporal import asof_join
    left = spark.createDataFrame(
        [("a", 1, 100), ("a", 2, 100), ("b", 1, 100)],
        "grp string, sub long, t long") \
        .withColumn("ts", F.timestamp_seconds("t")).drop("t")
    right = spark.createDataFrame(
        [("a", 1, 50, 1.0), ("a", 2, 60, 2.0), ("b", 1, 150, 9.9)],
        "grp string, sub long, t long, px double") \
        .withColumn("rts", F.timestamp_seconds("t")).drop("t")
    out = asof_join(left, right, ["grp", "sub"], "ts", "rts", ["px"])
    got = {(r["grp"], r["sub"]): r["px_asof"] for r in out.collect()}
    assert got == {("a", 1): 1.0, ("a", 2): 2.0, ("b", 1): None}


def test_results_identical_across_partitioning(spark, sf_dir):
    """SCALE.md's determinism contract: changing shuffle parallelism
    must not change any query result bit (decimal aggregation, rounded
    scores, unique tie-breaks). Run representative queries at 32 and 5
    shuffle partitions and compare rows exactly."""
    names = ["q1_pricing_summary", "window_topk_per_group",
             "tpch_suite_a", "tpch_suite_b", "join_skew_salted",
             "dedup_minhash_lsh", "ann_cosine_topk", "cdc_final_state",
             "continuous_agg_merge", "cdc_debezium_parse",
             "ann_kmeans_ivf_recall"]
    from mysql_syncer_clickhouse_spark import queries as registry
    qs = registry.all_queries()
    base = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        results = {}
        for nparts in ("32", "5"):
            spark.conf.set("spark.sql.shuffle.partitions", nparts)
            results[nparts] = {
                n: sorted(map(tuple, qs[n](spark, sf_dir).collect()))
                for n in names}
        for n in names:
            assert results["32"][n] == results["5"][n], n
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", base)


def test_tpch_suites_decorrelate_and_hash_join(spark, sf_dir):
    """Every TPC-H suite part must plan as hash joins: the correlated
    subqueries (q2 MIN, q17 AVG, q22 anti) and EXISTS/NOT EXISTS
    (q4/q21) decorrelate to aggregate+join / semi / anti joins. A
    CartesianProduct or BroadcastNestedLoopJoin anywhere is a 100x
    scale-killer and fails the suite."""
    from mysql_syncer_clickhouse_spark.queries import tpch
    for fn in (tpch.tpch_suite_a, tpch.tpch_suite_b):
        plan = formatted_plan(fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, fn.__name__
        assert "BroadcastNestedLoopJoin" not in plan, fn.__name__


def test_tpch_suites_all_parts_present():
    """All 18 part labels must produce rows at the driver's check sf
    (some highly selective parts are legitimately empty at sf0.001)."""
    from tests.conftest import SF_SMALL  # noqa: F401  (doc anchor)
    from mysql_syncer_clickhouse_spark.queries import tpch
    from mysql_syncer_clickhouse_spark.session import get_spark
    spark = get_spark("tests", cpus=8)
    sf = "/root/testdata/sf0.01"
    a = {r[0] for r in tpch.tpch_suite_a(spark, sf).select("part").distinct().collect()}
    b = {r[0] for r in tpch.tpch_suite_b(spark, sf).select("part").distinct().collect()}
    assert a == {"q2", "q4", "q6", "q7", "q8", "q9", "q10", "q14"}, a
    assert b == {"q11", "q12", "q13", "q15", "q16", "q17", "q19",
                 "q20", "q21", "q22"}, b


def test_hot_key_salted_join_row_identical_and_selective(spark, sf_dir):
    """Two-phase salting must (a) reproduce the plain join exactly on
    a corpus with a planted hot key, and (b) route only hot-key rows
    through the salted (replicated) branch."""
    from pyspark.sql import functions as F

    from mysql_syncer_clickhouse_spark.operators.skew import (
        SALT, hot_key_salted_join)
    fact = spark.range(0, 20000).select(
        # key 7 holds half the rows -- the planted hot key
        F.when(F.col("id") % 2 == 0, 7).otherwise(F.col("id") % 500)
         .alias("k"),
        F.col("id").alias("payload"))
    dim = spark.range(0, 500).select(F.col("id").alias("k"),
                                     (F.col("id") * 10).alias("attr"))
    plain = fact.join(dim, ["k"]).groupBy("k").agg(
        F.count(F.lit(1)).alias("n"), F.sum("attr").alias("s"))
    salted = hot_key_salted_join(
        fact, dim, ["k"], salt_n=4, hot_threshold=5000).groupBy("k").agg(
        F.count(F.lit(1)).alias("n"), F.sum("attr").alias("s"))
    assert sorted(map(tuple, plain.collect())) == \
        sorted(map(tuple, salted.collect()))
    # the salted branch must see ONLY the hot key: the explode
    # replication factor shows up as dim rows x salt_n
    hot = (fact.groupBy("k").count().filter(F.col("count") >= 5000)
               .select("k"))
    assert [r["k"] for r in hot.collect()] == [7]


def test_hot_key_salted_join_rejects_outer(spark):
    import pytest as _pytest
    from pyspark.sql import functions as F

    from mysql_syncer_clickhouse_spark.operators.skew import (
        hot_key_salted_join)
    df = spark.range(1).select(F.col("id").alias("k"))
    with _pytest.raises(ValueError):
        hot_key_salted_join(df, df, ["k"], how="left")


def test_fill_time_gaps_ffill_and_interp(spark):
    """Gap filling (the ClickHouse WITH FILL / INTERPOLATE analog):
    a 10s-step series with holes regularizes to the dense grid;
    forward-fill carries the last observation, interpolation is exact
    linear arithmetic between anchors; leading ticks stay NULL."""
    import datetime as dt

    from pyspark.sql import functions as F

    from mysql_syncer_clickhouse_spark.operators.temporal import (
        fill_time_gaps)
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [("a", t0, None), ("a", t0 + dt.timedelta(seconds=10), 10.0),
            ("a", t0 + dt.timedelta(seconds=40), 40.0),
            ("b", t0, 5.0)]
    df = spark.createDataFrame(rows, "key string, ts timestamp, v double")

    ff = {(r["key"], r["tick"].second): r["value"]
          for r in fill_time_gaps(df, "key", "ts", "v", 10,
                                  how="ffill").collect()}
    assert ff[("a", 0)] is None            # nothing before first obs
    assert ff[("a", 10)] == 10.0
    assert ff[("a", 20)] == 10.0 and ff[("a", 30)] == 10.0  # carried
    assert ff[("a", 40)] == 40.0
    assert ff[("b", 0)] == 5.0             # single-point key: 1 tick

    ip = {(r["key"], r["tick"].second): r["value"]
          for r in fill_time_gaps(df, "key", "ts", "v", 10,
                                  how="interp").collect()}
    assert ip[("a", 20)] == 20.0 and ip[("a", 30)] == 30.0  # linear
    assert ip[("a", 0)] is None

    out = fill_time_gaps(df, "key", "ts", "v", 10, how="ffill")
    # the NULL-valued source row counts as a gap, not an observation
    assert out.filter(F.col("is_observed")).count() == 3
    assert out.count() == 6                # dense grid: 5 ticks a + 1 b

    import pytest as _pytest
    with _pytest.raises(ValueError):
        fill_time_gaps(df, "key", "ts", "v", 10, how="nearest")


def test_hierarchy_closure_recursive_cte(spark):
    """Spark 4 recursive CTE walks an acyclic forest to (id, root,
    depth); agrees with the closed-form expectation, and max_depth
    truncates a too-deep chain instead of running away."""
    from mysql_syncer_clickhouse_spark.queries.relational import (
        hierarchy_closure)
    # forest: tree under 1 (1<-2<-4<-5, 1<-3) and isolated root 10
    nodes = spark.createDataFrame(
        [(1, None), (2, 1), (3, 1), (4, 2), (5, 4), (10, None)],
        "id long, parent long")
    got = {r["id"]: (r["root"], r["depth"])
           for r in hierarchy_closure(nodes).collect()}
    assert got == {1: (1, 0), 2: (1, 1), 3: (1, 1), 4: (1, 2),
                   5: (1, 3), 10: (10, 0)}
    # depth cap: a 6-deep chain capped at 2 yields only depths 0..2
    chain = spark.createDataFrame(
        [(i, None if i == 0 else i - 1) for i in range(6)],
        "id long, parent long")
    capped = hierarchy_closure(chain, max_depth=2)
    assert {r["depth"] for r in capped.collect()} == {0, 1, 2}
    assert capped.count() == 3


def test_cms_sketch_join_broadcasts_and_no_cartesian(spark, sf_dir):
    """text_ngram_topk's count-min path: the d*w-row sketch must reach
    the estimate join as a broadcast (it is bounded by construction,
    like nation/region), and nothing in the two-part plan may fall
    back to a cartesian product."""
    from mysql_syncer_clickhouse_spark.queries import llm
    df = llm.text_ngram_topk(spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_exponential_moving_average_exact_and_deterministic(spark):
    """EMA matches the hand recurrence exactly (pandas ewm adjust=False
    IS the recurrence), seeds at the first sample, and is bit-identical
    under repartitioning with a tiebreak."""
    from mysql_syncer_clickhouse_spark.operators.temporal import (
        exponential_moving_average)
    rows = [(1, t, float(v)) for t, v in
            enumerate([10, 20, 10, 40, 0, 30])] + [(2, 0, 7.0)]
    df = spark.createDataFrame(rows, "key long, ts long, x double")
    out = exponential_moving_average(df, "key", "ts", "x", alpha=0.5,
                                     tiebreak_col="ts")
    got = {(r["key"], r["ts"]): r["ema"] for r in out.collect()}
    ema, expect = None, {}
    for t, v in enumerate([10, 20, 10, 40, 0, 30]):
        ema = v if ema is None else 0.5 * v + 0.5 * ema
        expect[(1, t)] = ema
    expect[(2, 0)] = 7.0
    assert got == expect
    re = {(r["key"], r["ts"]): r["ema"]
          for r in exponential_moving_average(
              df.repartition(5), "key", "ts", "x", alpha=0.5,
              tiebreak_col="ts").collect()}
    assert re == got
    import pytest as _p
    with _p.raises(ValueError):
        exponential_moving_average(df, "key", "ts", "x", alpha=0.0)


def test_dynamic_partition_pruning_on_partitioned_sink(spark, tmp_path):
    """At 100 TB the fact side is hive-partitioned (the CDC sink's
    layout); a selective dim filter must prune fact PARTITIONS at
    runtime via dynamic partition pruning, not scan-then-filter --
    the physical plan carries a dynamicpruning subquery inside the
    scan's PartitionFilters."""
    from pyspark.sql import functions as F

    fact = spark.range(0, 10000).select(
        "id", (F.col("id") % 20).alias("pcol"),
        (F.col("id") * 2).alias("v"))
    path = str(tmp_path / "dpp_fact")
    fact.write.mode("overwrite").partitionBy("pcol").parquet(path)
    dim = spark.createDataFrame(
        [(i, "hot" if i == 3 else "cold") for i in range(20)],
        "pcol long, attr string")
    j = (spark.read.parquet(path)
         .join(dim.filter(F.col("attr") == "hot"), "pcol"))
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan
    # and the pruning actually executes: only partition 3 rows remain
    assert j.count() == 500


def test_asof_join_directions_match_pandas_merge_asof(spark):
    """The direction/strictness/tolerance variants agree with pandas
    merge_asof on randomized per-key event streams (unique timestamps
    per side/key keep both references deterministic)."""
    import random

    import pandas as pd

    from mysql_syncer_clickhouse_spark.operators.temporal import asof_join

    rng = random.Random(9)
    lrows, rrows = [], []
    for g in range(4):
        lts = rng.sample(range(0, 200), 25)
        rts = rng.sample(range(0, 200), 15)
        lrows += [(g, float(t)) for t in lts]
        rrows += [(g, float(t), float(g * 1000 + t)) for t in rts]
    left = spark.createDataFrame(lrows, "grp int, ts double")
    right = spark.createDataFrame(rrows, "grp int, rts double, px double")
    lpd = pd.DataFrame(lrows, columns=["grp", "ts"])
    rpd = pd.DataFrame(rrows, columns=["grp", "rts", "px"])

    for direction in ("backward", "forward"):
        for exact in (True, False):
            for tol in (None, 30.0):
                got = {(r["grp"], r["ts"]): r["px_asof"]
                       for r in asof_join(
                           left, right, "grp", "ts", "rts", ["px"],
                           direction=direction,
                           allow_exact_matches=exact,
                           tolerance=tol).collect()}
                ref = pd.merge_asof(
                    lpd.sort_values("ts"), rpd.sort_values("rts"),
                    left_on="ts", right_on="rts", by="grp",
                    direction=direction, allow_exact_matches=exact,
                    tolerance=tol)
                want = {(r.grp, r.ts):
                        (None if pd.isna(r.px) else r.px)
                        for r in ref.itertuples()}
                assert got == want, (direction, exact, tol)


def test_asof_join_null_right_value_stays_null(spark):
    """ADVICE r5: when the NEAREST right row carries a NULL value
    column, merge_asof returns that row's NaN -- it does NOT fall back
    to an older row's value. The struct-based fill must match."""
    import pandas as pd

    from mysql_syncer_clickhouse_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, 5.0), (1, 15.0), (1, 25.0)], "grp int, ts double")
    right = spark.createDataFrame(
        [(1, 2.0, 100.0), (1, 12.0, None), (1, 22.0, 300.0)],
        "grp int, rts double, px double")
    got = {r["ts"]: r["px_asof"]
           for r in asof_join(left, right, "grp", "ts", "rts",
                              ["px"]).collect()}
    # ts=15 matches rts=12 whose px is NULL -> NULL, not 100.0
    assert got == {5.0: 100.0, 15.0: None, 25.0: 300.0}
    ref = pd.merge_asof(
        pd.DataFrame({"grp": [1, 1, 1], "ts": [5.0, 15.0, 25.0]}),
        pd.DataFrame({"grp": [1, 1, 1], "rts": [2.0, 12.0, 22.0],
                      "px": [100.0, None, 300.0]}),
        left_on="ts", right_on="rts", by="grp")
    want = {r.ts: (None if pd.isna(r.px) else r.px)
            for r in ref.itertuples()}
    assert got == want


def test_delta_sum_skips_counter_resets(spark):
    from pyspark.sql import functions as F

    from mysql_syncer_clickhouse_spark.operators.temporal import delta_sum

    rows = [("c", 0, 1.0), ("c", 1, 3.0), ("c", 2, 2.0), ("c", 3, 5.0),
            ("d", 0, 10.0), ("d", 1, 10.0)]
    df = spark.createDataFrame(rows, "k string, ts long, v double")
    got = {r["key"]: r["delta_sum"]
           for r in delta_sum(df, "k", "ts", "v").collect()}
    # c: deltas +2, -1 (reset, skipped), +3 -> 5; d: flat -> 0
    assert got == {"c": 5.0, "d": 0.0}
    # deterministic under repartitioning
    again = {r["key"]: r["delta_sum"]
             for r in delta_sum(df.repartition(7), "k", "ts", "v")
             .collect()}
    assert again == got


def test_lsh_band_join_equi_and_capped(spark, sf_dir):
    """VERDICT r5 #7: the minhash candidate join must be a shuffled
    EQUI-join on (band, band_sig) -- eligible for AQE skew splitting,
    never a cartesian/nested-loop -- and the bucket-cap window must
    bound per-key row counts before the join."""
    from mysql_syncer_clickhouse_spark.queries.llm import _corpus
    from mysql_syncer_clickhouse_spark.operators import dedup as dd
    pairs = dd.minhash_dedup(_corpus(spark, sf_dir), "id", "text",
                             threshold=0.5)
    plan = formatted_plan(pairs)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # round 10: the candidate chain executes behind minhash_dedup's
    # eager pair pin, so its operators no longer appear in the FINAL
    # plan -- assert the cap window on the candidate-producing plan
    # itself (the same relation the pin materializes)
    reps0, _ = dd.collapse_exact_texts(_corpus(spark, sf_dir),
                                       "id", "text")
    cand_plan = formatted_plan(dd.lsh_candidate_pairs(
        dd.fused_band_rows(dd.fused_doc_profile(reps0)), bucket_cap=64))
    assert "CartesianProduct" not in cand_plan
    assert "BroadcastNestedLoopJoin" not in cand_plan
    # the cap's row_number window runs partitioned on the join key
    assert "row_number" in cand_plan and "band_sig" in cand_plan
    # and capping really bounds the join input: no bucket wider than
    # the default cap survives into the join
    reps, _ = dd.collapse_exact_texts(_corpus(spark, sf_dir), "id", "text")
    bands = dd.lsh_band_signatures(dd.minhash_signatures(
        dd.hashed_shingle_set(reps, "id", "text")))
    capped = dd.cap_band_buckets(bands, 64)
    widest = (capped.groupBy("band", "band_sig").count()
              .agg(relational.F.max("count")).first()[0])
    assert widest <= 64


def test_quantile_exact_weighted_matches_repetition(spark):
    """quantileExactWeighted semantics: equal to the exact unweighted
    quantile over the weight-EXPANDED multiset (each x repeated w
    times, 'smallest x whose cumulative weight reaches level*total'),
    on a hand-computed fixture and under repartitioning."""
    from pyspark.sql import functions as F

    from mysql_syncer_clickhouse_spark.queries.relational import (
        quantile_exact_weighted)

    rows = [("a", 10.0, 1), ("a", 20.0, 8), ("a", 30.0, 1),
            ("b", 1.0, 5), ("b", 2.0, 1), ("b", 100.0, 4)]
    df = spark.createDataFrame(rows, "g string, x double, w int")
    got = {r["g"]: (r["wp50"], r["wp90"])
           for r in quantile_exact_weighted(
               df, ["g"], "x", "w", [0.5, 0.9]).collect()}
    # a: expanded = [10, 20*8, 30]; 50% of 10 = 5th -> 20; 90% -> 20
    # b: expanded = [1*5, 2, 100*4]; 50% of 10 = 5th -> 1; 90% -> 100
    assert got == {"a": (20.0, 20.0), "b": (1.0, 100.0)}

    # brute force over the expanded multiset, any level
    import math
    for g, lv in (("a", 0.3), ("b", 0.75)):
        expanded = sorted(x for gg, x, w in rows if gg == g
                          for _ in range(w))
        want = expanded[math.ceil(lv * len(expanded)) - 1]
        r = quantile_exact_weighted(
            df.filter(F.col("g") == g).repartition(5),
            ["g"], "x", "w", [lv]).collect()[0]
        assert r[f"wp{round(lv * 100)}"] == want, (g, lv)


def test_categorical_association_known_values(spark):
    """cramersV / theilsU / contingency on constructed tables:
    perfect dependence -> 1/1, independence -> 0/0, and an
    intermediate case equal to the hand-computed chi2/entropy
    arithmetic."""
    import math

    from mysql_syncer_clickhouse_spark.queries.relational import (
        categorical_association)

    perfect = spark.createDataFrame(
        [("a", "x")] * 5 + [("b", "y")] * 5, "u string, v string")
    r = categorical_association(perfect, "u", "v").collect()[0]
    assert r["cramers_v"] == 1.0 and r["theils_u"] == 1.0

    indep = spark.createDataFrame(
        [(u, v) for u in "ab" for v in "xy" for _ in range(4)],
        "u string, v string")
    r = categorical_association(indep, "u", "v").collect()[0]
    assert r["cramers_v"] == 0.0 and r["theils_u"] == 0.0

    # hand-computed 2x2: ct = [[3, 1], [1, 3]], n=8
    mixed = spark.createDataFrame(
        [("a", "x")] * 3 + [("a", "y")] + [("b", "x")]
        + [("b", "y")] * 3, "u string, v string")
    r = categorical_association(mixed, "u", "v").collect()[0]
    chi2 = sum((o - 2.0) ** 2 / 2.0 for o in (3, 1, 1, 3))
    assert r["cramers_v"] == round(math.sqrt(chi2 / 8 / 1), 6)
    assert r["entropy_x"] == round(math.log(2), 6)   # 50/50 marginal
    assert r["contingency_coef"] == round(
        math.sqrt(chi2 / (chi2 + 8)), 6)
    h_x = -2 * 0.5 * math.log(0.5)
    h_xy = -4 * (1 / 8) * math.log((1 / 8) / (4 / 8)) \
        - 0 if False else (
        -(3 / 8) * math.log((3 / 8) / (4 / 8)) * 2
        - (1 / 8) * math.log((1 / 8) / (4 / 8)) * 2)
    assert abs(r["theils_u"] - round((h_x - h_xy) / h_x, 6)) <= 1e-6


def test_two_sample_t_tests_match_reference(spark):
    """welch/student t statistics equal a from-scratch statistics-
    module reference on a small two-sample fixture."""
    import statistics

    from mysql_syncer_clickhouse_spark.queries.relational import (
        two_sample_t_tests)

    a = [10.0, 12.0, 9.5, 11.0, 13.0]
    b = [8.0, 9.0, 7.5, 10.0]
    rows = [("g1", v) for v in a] + [("g2", v) for v in b]
    df = spark.createDataFrame(rows, "g string, x double")
    r = two_sample_t_tests(df, "x", "g", "g1", "g2").collect()[0]

    m1, m2 = statistics.fmean(a), statistics.fmean(b)
    v1, v2 = statistics.variance(a), statistics.variance(b)
    n1, n2 = len(a), len(b)
    se = v1 / n1 + v2 / n2
    welch_t = (m1 - m2) / se ** 0.5
    welch_df = se * se / ((v1 / n1) ** 2 / (n1 - 1)
                          + (v2 / n2) ** 2 / (n2 - 1))
    sp2 = ((n1 - 1) * v1 + (n2 - 1) * v2) / (n1 + n2 - 2)
    student_t = (m1 - m2) / (sp2 * (1 / n1 + 1 / n2)) ** 0.5
    assert abs(r["welch_t"] - welch_t) < 1e-6
    assert abs(r["welch_df"] - welch_df) < 1e-6
    assert abs(r["student_t"] - student_t) < 1e-6
    assert r["student_df"] == n1 + n2 - 2


def test_mann_whitney_u_matches_reference(spark):
    """U and tie-corrected z equal a from-scratch rank reference
    (average ranks for ties) on a small two-sample fixture."""
    from mysql_syncer_clickhouse_spark.queries.relational import (
        mann_whitney_u)

    a = [1.0, 2.0, 2.0, 5.0, 7.0]
    b = [2.0, 3.0, 6.0, 6.0]
    rows = [("g1", v) for v in a] + [("g2", v) for v in b]
    df = spark.createDataFrame(rows, "g string, x double")
    r = mann_whitney_u(df, "x", "g", "g1", "g2").collect()[0]

    allv = sorted(a + b)
    def avg_rank(v):
        idxs = [i + 1 for i, x in enumerate(allv) if x == v]
        return sum(idxs) / len(idxs)
    r1 = sum(avg_rank(v) for v in a)
    n1, n2, n = len(a), len(b), len(a) + len(b)
    u1 = r1 - n1 * (n1 + 1) / 2
    u2 = n1 * n2 - u1
    from collections import Counter
    tie3 = sum(c ** 3 - c for c in Counter(allv).values())
    sigma = (n1 * n2 / 12 * ((n + 1) - tie3 / (n * (n - 1)))) ** 0.5
    z = (u1 - n1 * n2 / 2) / sigma
    assert abs(r["u1"] - u1) < 1e-6
    assert abs(r["u2"] - u2) < 1e-6
    assert abs(r["z"] - z) < 1e-6


def test_lttb_downsample_matches_reference(spark):
    """LTTB: endpoints always kept, short series pass through, spikes
    survive (the point with the largest triangle area wins its
    bucket), and the selection equals a from-scratch reference
    implementation -- identically under repartitioning."""
    import math

    from pyspark.sql import functions as F

    from mysql_syncer_clickhouse_spark.operators.temporal import (
        lttb_downsample)

    n = 100
    ys = [math.sin(i / 7.0) for i in range(n)]
    ys[40] = 25.0                      # spike must survive
    rows = [("s", float(i), ys[i]) for i in range(n)]
    df = spark.createDataFrame(rows, "k string, t double, v double")

    def ref_lttb(x, y, n_out):
        ln = len(x)
        edges = [1 + (ln - 2) * i // (n_out - 2) for i in range(n_out - 1)]
        sel, prev = [0], 0
        for b in range(n_out - 2):
            lo, hi = edges[b], edges[b + 1]
            nlo = edges[b + 1]
            nhi = edges[b + 2] if b + 2 < len(edges) else ln
            if nhi <= nlo:
                nlo, nhi = ln - 1, ln
            cx = sum(x[nlo:nhi]) / (nhi - nlo)
            cy = sum(y[nlo:nhi]) / (nhi - nlo)
            best, barea = lo, -1.0
            for i in range(lo, hi):
                area = abs((x[prev] - cx) * (y[i] - y[prev])
                           - (x[prev] - x[i]) * (cy - y[prev]))
                if area > barea:
                    best, barea = i, area
            sel.append(best)
            prev = best
        sel.append(ln - 1)
        return sel

    for n_out in (10, 23):
        got = [(r["t"], r["v"]) for r in
               lttb_downsample(df.repartition(7), "k", "t", "v",
                               n_out).orderBy("idx").collect()]
        want = [(float(i), ys[i])
                for i in ref_lttb([float(i) for i in range(n)], ys,
                                  n_out)]
        assert got == want, n_out
        assert got[0][0] == 0.0 and got[-1][0] == float(n - 1)
        assert any(v == 25.0 for _, v in got)   # spike kept

    short = lttb_downsample(df.limit(5), "k", "t", "v", 10).collect()
    assert len(short) == 5             # <= n_out passes through


def test_kolmogorov_smirnov_matches_reference(spark):
    """D equals the from-scratch ECDF max-difference on a fixture with
    ties, and identical samples give D = 0."""
    from mysql_syncer_clickhouse_spark.queries.relational import (
        kolmogorov_smirnov)

    a = [1.0, 2.0, 2.0, 3.0, 5.0]
    b = [2.0, 4.0, 4.0, 6.0]
    rows = [("g1", v) for v in a] + [("g2", v) for v in b]
    df = spark.createDataFrame(rows, "g string, x double")
    r = kolmogorov_smirnov(df, "x", "g", "g1", "g2").collect()[0]

    allv = sorted(set(a + b))
    d = max(abs(sum(v <= t for v in a) / len(a)
                - sum(v <= t for v in b) / len(b)) for t in allv)
    assert abs(r["d_stat"] - d) < 1e-6
    n1, n2 = len(a), len(b)
    assert abs(r["d_scaled"]
               - (n1 * n2 / (n1 + n2)) ** 0.5 * d) < 1e-6

    same = spark.createDataFrame(
        [("g1", v) for v in a] + [("g2", v) for v in a],
        "g string, x double")
    r0 = kolmogorov_smirnov(same, "x", "g", "g1", "g2").collect()[0]
    assert r0["d_stat"] == 0.0


def test_simple_linear_regression_known_fit(spark):
    """slope/intercept equal the least-squares closed form on a known
    noisy-line fixture (and exactly on a perfect line), boundingRatio
    equals the endpoint slope with deterministic tie resolution."""
    from mysql_syncer_clickhouse_spark.queries.relational import (
        simple_linear_regression)

    rows = [("g", float(x), 3.0 * x + 7.0, x) for x in range(1, 11)]
    df = spark.createDataFrame(rows, "g string, x double, y double, tb long")
    r = simple_linear_regression(df, ["g"], "x", "y", "tb").collect()[0]
    assert r["slope"] == 3.0 and r["intercept"] == 7.0
    assert r["bounding_ratio"] == 3.0

    # noisy: compare against the closed-form least squares
    ys = [3.0 * x + 7.0 + ((x * 37) % 5 - 2) for x in range(1, 11)]
    rows = [("g", float(x), ys[x - 1], x) for x in range(1, 11)]
    df = spark.createDataFrame(rows, "g string, x double, y double, tb long")
    r = simple_linear_regression(df, ["g"], "x", "y", "tb").collect()[0]
    n = 10
    sx = sum(range(1, 11)); sy = sum(ys)
    sxy = sum(x * y for x, y in zip(range(1, 11), ys))
    sxx = sum(x * x for x in range(1, 11))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    inter = (sy - slope * sx) / n
    assert abs(r["slope"] - slope) < 1e-6
    assert abs(r["intercept"] - inter) < 1e-6

    # tie at max x: the higher tiebreak wins on both engines
    rows = [("g", 1.0, 10.0, 1), ("g", 5.0, 50.0, 2),
            ("g", 5.0, 99.0, 3)]
    df = spark.createDataFrame(rows, "g string, x double, y double, tb long")
    r = simple_linear_regression(df, ["g"], "x", "y", "tb").collect()[0]
    assert r["bounding_ratio"] == round((99.0 - 10.0) / 4.0, 6)


def test_lttb_n_out_two_and_timestamp_units(spark):
    """Review fixes: n_out=2 returns exactly the endpoints (no
    ZeroDivisionError), and datetime ts columns come back as SECONDS
    since epoch (the repo-wide ts_s convention, precision-safe)."""
    from pyspark.sql import functions as F

    from mysql_syncer_clickhouse_spark.operators.temporal import (
        lttb_downsample)

    rows = [("s", f"2026-01-01 00:00:{i:02d}", float(i))
            for i in range(30)]
    df = (spark.createDataFrame(rows, "k string, t string, v double")
          .withColumn("ts", F.to_timestamp("t")).drop("t"))
    out = lttb_downsample(df, "k", "ts", "v", 2).orderBy("idx").collect()
    assert len(out) == 2 and out[0]["v"] == 0.0 and out[1]["v"] == 29.0
    # seconds since epoch: gap between endpoints is 29 s exactly
    assert out[1]["ts"] - out[0]["ts"] == 29.0


def test_moments_match_reference(spark):
    """skewPop/kurtPop equal the from-scratch population-moment
    reference on a small fixture (exact power-sum arithmetic)."""
    from mysql_syncer_clickhouse_spark.queries.relational import (
        agg_moments)

    # use the sf fixture path via a direct small frame instead:
    import statistics

    from pyspark.sql import functions as F
    xs = [10.25, 11.5, 9.75, 14.0, 8.5, 12.25]
    df = spark.createDataFrame([("A", v) for v in xs],
                               "l_returnflag string, l_extendedprice double")
    # reuse the internal arithmetic by calling the same expressions
    # through a temp view shaped like lineitem
    df.createOrReplaceTempView("__mom_fixture")
    from mysql_syncer_clickhouse_spark.queries import relational as R
    # direct computation with the operator's formula
    n = len(xs)
    mu = sum(xs) / n
    m2 = sum((v - mu) ** 2 for v in xs) / n
    m3 = sum((v - mu) ** 3 for v in xs) / n
    m4 = sum((v - mu) ** 4 for v in xs) / n
    import math
    want_skew = round(m3 / math.sqrt(m2 ** 3), 6)
    want_kurt = round(m4 / m2 ** 2, 6)

    import os
    import tempfile
    with tempfile.TemporaryDirectory() as td:
        df.write.mode("overwrite").parquet(os.path.join(td, "lineitem.parquet"))
        r = agg_moments(spark, td).collect()[0]
    assert abs(r["skew_pop"] - want_skew) <= 1e-6
    assert abs(r["kurt_pop"] - want_kurt) <= 1e-6


def test_exponential_time_decayed_avg(spark):
    """Time-gap decay (exponentialTimeDecayedAvg): weights halve per
    halflife SECOND of gap, matching a brute-force reference on an
    IRREGULARLY spaced series -- where the per-row EMA, blind to
    spacing, disagrees."""
    from pyspark.sql import functions as F

    from mysql_syncer_clickhouse_spark.operators.temporal import (
        exponential_time_decayed_avg)

    # irregular gaps: 0, 1, 10 seconds
    rows = [("k", 0.0, 10.0), ("k", 1.0, 20.0), ("k", 11.0, 50.0)]
    df = spark.createDataFrame(rows, "g string, t double, v double")
    out = {r["t"]: r["decayed_avg"]
           for r in exponential_time_decayed_avg(
               df, "g", "t", "v", halflife_s=2.0).collect()}

    def brute(i):
        ws = [2.0 ** (-(rows[i][1] - rows[j][1]) / 2.0)
              for j in range(i + 1)]
        xs = [rows[j][2] for j in range(i + 1)]
        return sum(w * x for w, x in zip(ws, xs)) / sum(ws)

    for i, (_, t, _) in enumerate(rows):
        assert abs(out[t] - brute(i)) < 1e-9, t

    import pytest
    with pytest.raises(ValueError):
        exponential_time_decayed_avg(df, "g", "t", "v", halflife_s=0)


def test_agg_grouping_stats_shared_relations_stay_lazy(spark, sf_dir,
                                                        monkeypatch):
    """agg_grouping_stats' shared relations (cells, fl, cells_o) stay
    lazy whatever the source layout: no eager localCheckpoint, so the
    analyzed plan holds no pinned RDD. Every scan is repartitioned to
    the session's core count here -- the split-rich layout a cluster
    table presents."""
    from mysql_syncer_clickhouse_spark.sources.tables import load_table

    def split_rich(spark, sf_dir, name, spread=False):
        return load_table(spark, sf_dir, name).repartition(
            spark.sparkContext.defaultParallelism)

    monkeypatch.setattr(relational, "_t", split_rich)
    df = relational.agg_grouping_stats(spark, sf_dir)
    plan = df._jdf.queryExecution().analyzed().toString()
    assert "LogicalRDD" not in plan and "ExistingRDD" not in plan
