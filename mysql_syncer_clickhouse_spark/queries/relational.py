"""Relational query layer (SURVEY.md §2.5).

The reference delegates all query-time computation to ClickHouse over
the synced ReplacingMergeTree tables (reference README.md:44-56); this
module is the Spark-SQL side of that contract: scans, filter/project,
joins (inner/outer/semi/anti, broadcast + shuffle), hash aggregation,
rollup/cube, windows (rank/lag/running/sessionize), top-k, pivot, set
ops, distinct. All built-in Catalyst operators.

Scale notes (100 TB stance):
- broadcast policy (the 100x rule): only relations whose size is
  BOUNDED regardless of scale factor carry an unconditional
  `F.broadcast()` hint -- nation (25 rows) and region (5 rows) are
  fixed by the TPC-H spec, and tiny aggregates like the 25-row
  per-nation average. customer/supplier/part/orders/lineitem grow
  linearly with sf, so a forced broadcast is an executor OOM at the
  100 TB target; those joins carry NO hint and the static planner /
  AQE broadcasts them at small sf (they fit under
  autoBroadcastJoinThreshold) and shuffles them at scale. Asserted
  both ways in tests/test_plans.py.
- every float aggregate uses exact DECIMAL accumulation
  (functions/numeric.py) so results are partition-order-independent --
  required for the oracle hash and for cluster reproducibility.
- every top-k orders by a unique tie-breaker so LIMIT is deterministic
  under any parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import davg, dsum, sql_davg, sql_dsum
from ..operators import bitmap, sketch
from ..sources.tables import load_table

_DEC = "decimal(38,6)"


def _t(spark, sf_dir, name, spread=False):
    # spread=True (sources/tables._spread_starved_scan) only for call
    # sites whose first post-scan operator is CPU-heavy map-side work
    # AND whose entry is a single pipeline -- measured per-site A/B at
    # sf0.1 (OPTIMIZATION_r15.md): wins q1/q3/join_skew_salted/
    # distinct_vs_approx/window_topk_per_group, LOSES on multi-branch
    # union entries and tiny sort-limit shapes, so never blanket.
    return load_table(spark, sf_dir, name, spread=spread)


# --- TPC-H Q1 style: pricing summary (flagship; SURVEY §7 M0) -----------

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem", spread=True)
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.to_timestamp(F.lit("1998-09-02")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            dsum(charge, "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_Q1_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {sql_dsum('l_quantity', 'sum_qty')},
       {sql_dsum('l_extendedprice', 'sum_base_price')},
       {sql_dsum('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
       {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 'sum_charge')},
       {sql_davg('l_quantity', 'avg_qty')},
       {sql_davg('l_extendedprice', 'avg_price')},
       {sql_davg('l_discount', 'avg_disc')},
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


# --- TPC-H Q3 style: shipping priority (join + agg + top-k) -------------

def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders", spread=True).filter(
        F.col("o_orderdate") < F.to_timestamp(F.lit("1997-03-15")))
    li = _t(spark, sf_dir, "lineitem", spread=True).filter(
        F.col("l_shipdate") > F.to_timestamp(F.lit("1997-03-15")))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
          .join(cust, orders.o_custkey == cust.c_custkey)
          .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
          .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")),
                    "revenue"))
          .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
          .limit(10)
    )


_Q3_SQL = f"""
SELECT l_orderkey, o_orderdate, o_orderpriority,
       {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')}
FROM customer
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1997-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


# --- TPC-H Q5 style: local supplier volume (6-way join) ------------------

def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    supplier = _t(spark, sf_dir, "supplier")
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01"))) &
        (F.col("o_orderdate") < F.to_timestamp(F.lit("1998-01-01"))))
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
          .join(supplier, li.l_suppkey == supplier.s_suppkey)
          .join(customer, orders.o_custkey == customer.c_custkey)
          .filter(F.col("c_nationkey") == F.col("s_nationkey"))
          .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
          .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
          .groupBy("n_name")
          .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")),
                    "revenue"))
    )


_Q5_SQL = f"""
SELECT n_name,
       {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')}
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
"""


# --- TPC-H Q14 style: promo revenue (conditional aggregate over join) ----

def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of revenue from promo parts per month -- join to `part`
    (sf-proportional, so unhinted: AQE broadcasts it at small sf,
    shuffles at 100 TB), then one pass of conditional decimal
    aggregation."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").startswith("PROMO"), rev) \
             .otherwise(F.lit(0.0))
    return (li.join(part, li.l_partkey == part.p_partkey)
              .groupBy(F.date_trunc("month", "l_shipdate").alias("mon"))
              .agg(dsum(promo, "promo_revenue"),
                   dsum(rev, "total_revenue"))
              .withColumn("promo_pct",
                          F.round(F.lit(100.0) * F.col("promo_revenue")
                                  / F.col("total_revenue"), 4)))


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top customers by revenue from returned items (join + agg +
    deterministic top-k across four tables)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
              .join(cust, orders.o_custkey == cust.c_custkey)
              .join(F.broadcast(nation),
                    cust.c_nationkey == nation.n_nationkey)
              .groupBy("c_custkey", "c_name", "n_name")
              .agg(dsum(rev, "revenue"))
              .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
              .limit(20))


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders whose total quantity exceeds a threshold (HAVING
    pushdown into a semi-join against an aggregate -- the classic
    big-orders shape)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    big = (li.groupBy("l_orderkey")
             .agg(dsum("l_quantity", "sum_qty"))
             .filter(F.col("sum_qty") > 300))
    return (orders.join(big, orders.o_orderkey == big.l_orderkey)
                  .select("o_orderkey", "o_custkey", "o_orderdate",
                          "sum_qty")
                  .orderBy(F.col("sum_qty").desc(),
                           F.col("o_orderkey").asc())
                  .limit(100))


_Q18_SQL = f"""
SELECT o_orderkey, o_custkey, o_orderdate, sum_qty FROM orders
JOIN (SELECT l_orderkey, {sql_dsum('l_quantity', 'sum_qty')}
      FROM lineitem GROUP BY l_orderkey
      HAVING CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(38,6))), 2)
                  AS DOUBLE) > 300) b
  ON o_orderkey = l_orderkey
ORDER BY sum_qty DESC, o_orderkey ASC
LIMIT 100
"""


# --- join types: left outer, semi, anti ----------------------------------

def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 400000)
    agg = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_big_orders"))
    return (cust.join(agg, cust.c_custkey == agg.o_custkey, "left")
                .select("c_custkey", "c_mktsegment",
                        F.coalesce("n_big_orders", F.lit(0)).alias("n_big_orders")))


_LEFT_SQL = """
SELECT c_custkey, c_mktsegment, COALESCE(n_big_orders, 0) AS n_big_orders
FROM customer
LEFT JOIN (SELECT o_custkey, COUNT(*) AS n_big_orders FROM orders
           WHERE o_totalprice > 400000 GROUP BY o_custkey) b
  ON c_custkey = o_custkey
"""


def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers WITH at least one urgent order (EXISTS)."""
    cust = _t(spark, sf_dir, "customer")
    urgent = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT")
    return (cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_semi")
                .select("c_custkey", "c_name"))


_SEMI_SQL = """
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
"""


def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with NO urgent order (NOT EXISTS) -- complement of
    join_semi, guaranteed non-empty at every fixture SF."""
    cust = _t(spark, sf_dir, "customer")
    urgent = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT")
    return (cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_anti")
                .select("c_custkey", "c_name"))


_ANTI_SQL = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderpriority = '1-URGENT')
"""


# --- rollup / cube --------------------------------------------------------

_ROLLUP_SQL = f"""
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       {sql_dsum('l_quantity', 'sum_qty')}
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


_CUBE_SQL = f"""
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
       {sql_dsum('o_totalprice', 'sum_price')}
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer over two aggregated sides with disjoint key ranges
    so both NULL-extension directions occur."""
    cust_orders = (_t(spark, sf_dir, "orders")
                   .groupBy("o_custkey")
                   .agg(F.count(F.lit(1)).alias("n_orders")))
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey")
    return (cust.join(cust_orders, ["o_custkey"], "full_outer")
                .select(F.col("o_custkey").alias("custkey"),
                        "c_nationkey", "n_orders"))


_FULL_OUTER_SQL = """
SELECT COALESCE(c.c_custkey, o.o_custkey) AS custkey,
       c.c_nationkey, o.n_orders
FROM customer c
FULL OUTER JOIN (SELECT o_custkey, COUNT(*) AS n_orders
                 FROM orders GROUP BY o_custkey) o
  ON c.c_custkey = o.o_custkey
"""


def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian of two tiny dimensions (the only place a cross join
    is ever sane; Catalyst turns it into BroadcastNestedLoop)."""
    r = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return r.crossJoin(n)


_CROSS_SQL = """
SELECT r_regionkey, r_name, n_nationkey, n_name FROM region CROSS JOIN nation
"""


_GROUPING_SETS_SQL = f"""
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
       {sql_dsum('o_totalprice', 'sum_price')}
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderpriority))
"""


def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join through the TWO-PHASE salting operator
    (operators/skew.hot_key_salted_join): keys holding >= 9 fact rows
    (the top ~2% tail here) are salted over salt_n shuffle partitions,
    everything else joins plainly, and the union is row-identical to
    the plain join. Replication touches only the hot slice -- the
    production cure (whole-side salting, the round-2 shape, multiplied
    the entire shuffle by salt_n and cost ~2.5s/rep at sf0.1 for keys
    that didn't need it)."""
    from ..operators.skew import hot_key_salted_join
    li = _t(spark, sf_dir, "lineitem", spread=True).select(
        "l_orderkey", "l_extendedprice", "l_discount")
    orders = _t(spark, sf_dir, "orders", spread=True).select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority")
    joined = hot_key_salted_join(li, orders, ["l_orderkey"],
                                 salt_n=8, hot_threshold=9)
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (joined.groupBy("o_orderpriority")
                  .agg(F.count(F.lit(1)).alias("n_items"),
                       dsum(revenue, "revenue")))


_SKEW_SQL = f"""
SELECT o_orderpriority, COUNT(*) AS n_items,
       {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')}
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


def scalar_subquery_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers richer than their nation's average balance -- the
    correlated-scalar-subquery shape, expressed as a broadcast join
    against the per-nation aggregate (what Catalyst rewrites the
    subquery into anyway). Decimal-avg so the threshold is identical
    across engines."""
    cust = _t(spark, sf_dir, "customer")
    nat_avg = (cust.groupBy("c_nationkey")
                   .agg(F.round(F.sum(F.col("c_acctbal").cast(_DEC))
                                 .cast("double") / F.count(F.lit(1)), 6)
                         .alias("nat_avg")))
    return (cust.join(F.broadcast(nat_avg), ["c_nationkey"])
                .filter(F.col("c_acctbal") > F.col("nat_avg"))
                .select("c_custkey", "c_nationkey", "c_acctbal", "nat_avg"))


_SCALAR_SUB_SQL = """
WITH nat AS (
  SELECT c_nationkey,
         ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE)
               / COUNT(*), 6) AS nat_avg
  FROM customer GROUP BY c_nationkey
)
SELECT c_custkey, c_nationkey, c_acctbal, nat_avg
FROM customer JOIN nat USING (c_nationkey)
WHERE c_acctbal > nat_avg
"""


# --- temporal joins (custom operators, operators/temporal.py) -------------

def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each click picks up the latest prior purchase value per user --
    the as-of join, one shuffle on user_id (operators/temporal.py).
    Oracle is DuckDB's native ASOF JOIN."""
    from ..operators.temporal import asof_join
    ev = _t(spark, sf_dir, "events")
    clicks = (ev.filter(F.col("event_type") == "click")
                .select("event_id", "user_id", "ts"))
    purchases = (ev.filter(F.col("event_type") == "purchase")
                   .groupBy("user_id", "ts")
                   .agg(F.max_by("value", "event_id").alias("pval")))
    out = asof_join(clicks, purchases, "user_id", "ts", "ts", ["pval"])
    return out.select("event_id", "user_id",
                      F.round("pval_asof", 6).alias("value_asof"))


_ASOF_SQL = """
WITH p AS (SELECT user_id, ts, arg_max(value, event_id) AS pval
           FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts),
c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
SELECT c.event_id, c.user_id, ROUND(p.pval, 6) AS value_asof
FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND p.ts <= c.ts
"""


def join_range_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per click: how many purchases the same user made in the prior
    30 minutes. Candidates come from the (user, time-bin) equi-join
    (operators/temporal.py), never a per-user cross join."""
    from ..operators.temporal import range_join_binned
    ev = _t(spark, sf_dir, "events")
    clicks = (ev.filter(F.col("event_type") == "click")
                .select(F.col("event_id").alias("click_id"),
                        "user_id", F.col("ts").alias("cts")))
    purchases = (ev.filter(F.col("event_type") == "purchase")
                   .select(F.col("event_id").alias("p_id"),
                           "user_id", F.col("ts").alias("pts")))
    pairs = range_join_binned(clicks, purchases, "user_id",
                              "cts", "pts", lookback_s=1800)
    return pairs.groupBy("click_id").agg(F.count(F.lit(1)).alias("n_prior"))


_RANGE_SQL = """
SELECT c.event_id AS click_id, COUNT(*) AS n_prior
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts <= c.ts AND p.ts >= c.ts - INTERVAL 30 MINUTE
GROUP BY c.event_id
"""


def categorical_association(df: DataFrame, x_col: str,
                            y_col: str) -> DataFrame:
    """ClickHouse's categorical-association aggregates -- cramersV,
    theilsU, contingency -- from ONE contingency-table pass: everything
    downstream of `groupBy(x, y).count()` operates on a relation
    bounded by k1*k2 category pairs, never row volume (the 100 TB
    shape: one partial-aggregable count, then literal-sized joins).

    Returns one row: (cramers_v, theils_u, contingency_coef,
    entropy_x).
    - cramersV = sqrt((chi2/n) / min(k1-1, k2-1))
    - theilsU  = U(x|y) = (H(x) - H(x|y)) / H(x)  (natural log)
    - contingency = sqrt(chi2 / (chi2 + n))
    - entropy_x = H(x), the sink DB's entropy() aggregate (already an
      intermediate of theilsU -- exposed for free)
    All round to 6 decimals -- the same oracle-parity convention
    as corr/stddev (both engines do the identical IEEE arithmetic on
    the identical rational inputs)."""
    ct = (df.groupBy(F.col(x_col).alias("x"), F.col(y_col).alias("y"))
            .agg(F.count(F.lit(1)).alias("nxy")))
    return categorical_association_from_ct(ct)


def categorical_association_from_ct(ct: DataFrame) -> DataFrame:
    """categorical_association over a PRE-COUNTED contingency table
    (x, y, nxy) -- the shared tail when the caller already holds the
    cell counts (agg_grouping_stats derives them from its fused
    (flag, status) cells relation instead of re-scanning). Counts are
    exact integers, so results are identical to the row-level form."""
    rx = ct.groupBy("x").agg(F.sum("nxy").alias("nx"))
    cy = ct.groupBy("y").agg(F.sum("nxy").alias("ny"))
    tot = ct.agg(F.sum("nxy").alias("n"),
                 F.countDistinct("x").alias("k1"),
                 F.countDistinct("y").alias("k2"))
    full = (ct.join(rx, "x").join(cy, "y")
              .crossJoin(F.broadcast(tot)))
    # double BEFORE the product: an integer nx*ny overflows a long at
    # 100 TB row counts (ANSI error); both engines round identically
    e = F.col("nx").cast("double") * F.col("ny") / F.col("n")
    # ZERO cells are absent from the groupBy but still contribute e to
    # chi2: sum_all (o-e)^2/e == sum_observed ((o-e)^2/e - e) + n
    # (because sum_all e = n and a zero cell's term IS e)
    chi2_c = (F.col("nxy") - e) * (F.col("nxy") - e) / e - e
    # H(x|y) = -sum_xy p_xy ln(p_xy / p_y); H(x) = -sum_x p_x ln p_x
    p_xy = F.col("nxy") / F.col("n")
    hxy_c = -p_xy * F.log(F.col("nxy") / F.col("ny"))
    agg = full.agg(
        (F.sum(chi2_c) + F.first("n")).alias("chi2"),
        F.sum(hxy_c).alias("h_x_given_y"),
        F.first("n").alias("n"), F.first("k1").alias("k1"),
        F.first("k2").alias("k2"))
    hx = (rx.crossJoin(F.broadcast(tot))
            .agg(F.sum(-(F.col("nx") / F.col("n"))
                       * F.log(F.col("nx") / F.col("n"))).alias("h_x")))
    out = agg.crossJoin(F.broadcast(hx))
    denom = F.least(F.col("k1") - 1, F.col("k2") - 1)
    return out.select(
        F.round(F.sqrt(F.col("chi2") / F.col("n") / denom), 6)
         .alias("cramers_v"),
        F.round((F.col("h_x") - F.col("h_x_given_y")) / F.col("h_x"), 6)
         .alias("theils_u"),
        F.round(F.sqrt(F.col("chi2") / (F.col("chi2") + F.col("n"))), 6)
         .alias("contingency_coef"),
        F.round(F.col("h_x"), 6).alias("entropy_x"))


_ASSOCIATION_SQL = """
WITH ct AS (
  SELECT l_returnflag AS x, l_linestatus AS y, COUNT(*) AS nxy
  FROM lineitem GROUP BY 1, 2
), rx AS (SELECT x, SUM(nxy) AS nx FROM ct GROUP BY x),
cy AS (SELECT y, SUM(nxy) AS ny FROM ct GROUP BY y),
tot AS (SELECT CAST(SUM(nxy) AS DOUBLE) AS n,
               COUNT(DISTINCT x) AS k1, COUNT(DISTINCT y) AS k2
        FROM ct),
joined AS (
  SELECT ct.nxy, rx.nx, cy.ny, tot.n, tot.k1, tot.k2
  FROM ct JOIN rx USING (x) JOIN cy USING (y) CROSS JOIN tot
), agg AS (
  -- zero cells are absent from ct but contribute e to chi2:
  -- sum_all (o-e)^2/e = sum_observed ((o-e)^2/e - e) + n
  SELECT SUM((nxy - CAST(nx AS DOUBLE) * ny / n)
             * (nxy - CAST(nx AS DOUBLE) * ny / n)
             / (CAST(nx AS DOUBLE) * ny / n)
             - CAST(nx AS DOUBLE) * ny / n) + MIN(n) AS chi2,
         SUM(-(nxy / n) * LN(nxy / ny)) AS h_x_given_y,
         MIN(n) AS n, MIN(k1) AS k1, MIN(k2) AS k2
  FROM joined
), hx AS (
  SELECT SUM(-(rx.nx / tot.n) * LN(rx.nx / tot.n)) AS h_x
  FROM rx CROSS JOIN tot
)
SELECT ROUND(SQRT(chi2 / n / LEAST(k1 - 1, k2 - 1)), 6) AS cramers_v,
       ROUND((h_x - h_x_given_y) / h_x, 6) AS theils_u,
       ROUND(SQRT(chi2 / (chi2 + n)), 6) AS contingency_coef,
       ROUND(h_x, 6) AS entropy_x
FROM agg CROSS JOIN hx
"""


def two_sample_t_tests(df: DataFrame, value_col: str,
                       group_col: str, group_a, group_b) -> DataFrame:
    """ClickHouse's welchTTest / studentTTest statistics for two
    samples split by a categorical column: one row (welch_t, welch_df,
    student_t, student_df). Entirely downstream of ONE two-row
    aggregation (per-group mean/var/count) -- the 100 TB shape; the
    t and df formulas are closed-form, so no p-value special function
    is needed (the sink DB reports (t, p); the t values agree and p is
    a pure function of (t, df)). Rounded to 6 like corr/stddev."""
    x = F.col(value_col).cast("double")
    stats = df.filter(F.col(group_col).isin(group_a, group_b)).agg(
        F.avg(F.when(F.col(group_col) == group_a, x)).alias("m1"),
        F.var_samp(F.when(F.col(group_col) == group_a, x)).alias("v1"),
        F.count(F.when(F.col(group_col) == group_a, x)).alias("n1"),
        F.avg(F.when(F.col(group_col) == group_b, x)).alias("m2"),
        F.var_samp(F.when(F.col(group_col) == group_b, x)).alias("v2"),
        F.count(F.when(F.col(group_col) == group_b, x)).alias("n2"))
    return _t_test_closing(stats)


def _t_test_closing(stats: DataFrame) -> DataFrame:
    """Closed-form welch/student t statistics from a 1-row relation
    (m1, v1, n1, m2, v2, n2) -- shared by two_sample_t_tests (native
    avg/var) and agg_grouping_stats' fused path (exact decimal power
    sums)."""
    se1 = F.col("v1") / F.col("n1")
    se2 = F.col("v2") / F.col("n2")
    welch_t = (F.col("m1") - F.col("m2")) / F.sqrt(se1 + se2)
    welch_df = ((se1 + se2) * (se1 + se2)
                / (se1 * se1 / (F.col("n1") - 1)
                   + se2 * se2 / (F.col("n2") - 1)))
    sp2 = (((F.col("n1") - 1) * F.col("v1")
            + (F.col("n2") - 1) * F.col("v2"))
           / (F.col("n1") + F.col("n2") - 2))
    student_t = ((F.col("m1") - F.col("m2"))
                 / F.sqrt(sp2 * (1.0 / F.col("n1") + 1.0 / F.col("n2"))))
    return stats.select(
        F.round(welch_t, 6).alias("welch_t"),
        F.round(welch_df, 6).alias("welch_df"),
        F.round(student_t, 6).alias("student_t"),
        (F.col("n1") + F.col("n2") - 2).cast("double")
         .alias("student_df"))


def mann_whitney_u(df: DataFrame, value_col: str,
                   group_col: str, group_a, group_b) -> DataFrame:
    """ClickHouse's mannWhitneyUTest statistics: (u1, u2, z) for two
    samples, average ranks for ties, tie-corrected normal
    approximation (p is a pure function of z).

    Plan shape: ONE aggregation to per-distinct-VALUE counts (bounded
    by value cardinality, never row volume), one ordered window over
    those counts for cumulative ranks, one closing aggregate. The
    rank window is a single global sort over DISTINCT values -- fine
    for the categorical/discretized measures rank tests are used on;
    a continuous 100 TB column should be binned first (the test is
    rank-based, so binning = the resolution knob)."""
    x = F.col(value_col).cast("double")
    vals = (df.filter(F.col(group_col).isin(group_a, group_b))
              .groupBy(x.alias("v"))
              .agg(F.count(F.lit(1)).alias("n_all"),
                   F.count(F.when(F.col(group_col) == group_a, 1))
                    .alias("n_a")))
    w = (Window.orderBy("v")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    ranked = vals.select(
        "n_all", "n_a",
        (F.sum("n_all").over(w) - F.col("n_all")
         + (F.col("n_all") + 1) / 2.0).alias("avg_rank"))
    agg = ranked.agg(
        F.sum(F.col("n_a") * F.col("avg_rank")).alias("r1"),
        F.sum("n_a").alias("n1"),
        F.sum("n_all").alias("n"),
        F.sum(F.col("n_all") * F.col("n_all") * F.col("n_all")
              - F.col("n_all")).alias("tie3"))
    n1 = F.col("n1").cast("double")
    n2 = (F.col("n") - F.col("n1")).cast("double")
    n = F.col("n").cast("double")
    u1 = F.col("r1") - n1 * (n1 + 1) / 2
    u2 = n1 * n2 - u1
    sigma = F.sqrt(n1 * n2 / 12.0
                   * ((n + 1) - F.col("tie3") / (n * (n - 1))))
    z = (u1 - n1 * n2 / 2) / sigma
    return agg.select(F.round(u1, 6).alias("u1"),
                      F.round(u2, 6).alias("u2"),
                      F.round(z, 6).alias("z"))


_MANN_WHITNEY_SQL = """
WITH vals AS (
  SELECT CAST(l_quantity AS DOUBLE) AS v, COUNT(*) AS n_all,
         COUNT(CASE WHEN l_linestatus = 'O' THEN 1 END) AS n_a
  FROM lineitem WHERE l_linestatus IN ('O', 'F')
  GROUP BY 1
), ranked AS (
  SELECT n_all, n_a,
         SUM(n_all) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
           - n_all + (n_all + 1) / 2.0 AS avg_rank
  FROM vals
), agg AS (
  SELECT SUM(n_a * avg_rank) AS r1,
         CAST(SUM(n_a) AS DOUBLE) AS n1,
         CAST(SUM(n_all) AS DOUBLE) AS n,
         CAST(SUM(n_all * n_all * n_all - n_all) AS DOUBLE) AS tie3
  FROM ranked
)
SELECT ROUND(r1 - n1 * (n1 + 1) / 2, 6) AS u1,
       ROUND(n1 * (n - n1) - (r1 - n1 * (n1 + 1) / 2), 6) AS u2,
       ROUND((r1 - n1 * (n1 + 1) / 2 - n1 * (n - n1) / 2)
             / SQRT(n1 * (n - n1) / 12.0
                    * ((n + 1) - tie3 / (n * (n - 1)))), 6) AS z
FROM agg
"""


def kolmogorov_smirnov(df: DataFrame, value_col: str,
                       group_col: str, group_a, group_b) -> DataFrame:
    """ClickHouse's kolmogorovSmirnovTest statistic for two samples:
    D = max |ECDF_a(x) - ECDF_b(x)| plus the scaled statistic
    sqrt(n1*n2/(n1+n2)) * D (p is a pure function of it). Same
    bounded shape as mann_whitney_u: one per-distinct-VALUE count
    aggregation, one ordered window over that bounded relation, one
    closing max -- never a row-volume sort. Every candidate D is
    |c1/n1 - c2/n2| on exact integers, so the max is deterministic
    across engines with no rounding games (still rounded to 6 for the
    hash convention)."""
    x = F.col(value_col).cast("double")
    vals = (df.filter(F.col(group_col).isin(group_a, group_b))
              .groupBy(x.alias("v"))
              .agg(F.count(F.when(F.col(group_col) == group_a, 1))
                    .alias("c1"),
                   F.count(F.when(F.col(group_col) == group_b, 1))
                    .alias("c2")))
    w = (Window.orderBy("v")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wa = Window.rowsBetween(Window.unboundedPreceding,
                            Window.unboundedFollowing)
    cum = vals.select(
        F.sum("c1").over(w).alias("k1"),
        F.sum("c2").over(w).alias("k2"),
        F.sum("c1").over(wa).alias("n1"),
        F.sum("c2").over(wa).alias("n2"))
    diff = F.abs(F.col("k1") / F.col("n1") - F.col("k2") / F.col("n2"))
    agg = cum.agg(F.max(diff).alias("d"),
                  F.first("n1").alias("n1"), F.first("n2").alias("n2"))
    scale = F.sqrt(F.col("n1") * F.col("n2").cast("double")
                   / (F.col("n1") + F.col("n2")))
    return agg.select(
        F.round(F.col("d"), 6).alias("d_stat"),
        F.round(scale * F.col("d"), 6).alias("d_scaled"))


_KS_SQL = """
WITH vals AS (
  SELECT CAST(l_quantity AS DOUBLE) AS v,
         COUNT(CASE WHEN l_linestatus = 'O' THEN 1 END) AS c1,
         COUNT(CASE WHEN l_linestatus = 'F' THEN 1 END) AS c2
  FROM lineitem WHERE l_linestatus IN ('O', 'F')
  GROUP BY 1
), cum AS (
  SELECT SUM(c1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS k1,
         SUM(c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS k2,
         SUM(c1) OVER () AS n1, SUM(c2) OVER () AS n2
  FROM vals
), agg AS (
  SELECT MAX(ABS(k1 / CAST(n1 AS DOUBLE) - k2 / CAST(n2 AS DOUBLE)))
           AS d,
         MIN(n1) AS n1, MIN(n2) AS n2
  FROM cum
)
SELECT ROUND(d, 6) AS d_stat,
       ROUND(SQRT(n1 * CAST(n2 AS DOUBLE) / (n1 + n2)) * d, 6)
         AS d_scaled
FROM agg
"""


def simple_linear_regression(df: DataFrame, group_cols: list[str],
                             x_col: str, y_col: str,
                             tiebreak_col: str) -> DataFrame:
    """ClickHouse's simpleLinearRegression + boundingRatio per group:
    slope/intercept from EXACT decimal sums (sum-xy / sum-x / sum-y /
    sum-x2 accumulate losslessly, only the two closing divisions are
    floating point -- identical IEEE ops in any engine), and
    boundingRatio = (y at max x - y at min x) / (max x - min x) with
    a total (x, tiebreak) key so ties resolve deterministically.
    One aggregation, group-bounded output."""
    dec = "decimal(38,6)"
    x = F.col(x_col).cast(dec)
    y = F.col(y_col).cast(dec)
    # scalar total key: x then tiebreak (tiebreak < 1e12 by contract)
    key = (F.col(x_col).cast("double") * F.lit(1e12)
           + F.col(tiebreak_col).cast("double"))
    agg = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"), F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"), F.sum(x * x).alias("sxx"),
        F.max_by(F.col(y_col).cast("double"), key).alias("y_hi"),
        F.min_by(F.col(y_col).cast("double"), key).alias("y_lo"),
        F.max(F.col(x_col).cast("double")).alias("x_hi"),
        F.min(F.col(x_col).cast("double")).alias("x_lo"))
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    slope = ((n * F.col("sxy").cast("double") - sx * sy)
             / (n * F.col("sxx").cast("double") - sx * sx))
    intercept = (sy - slope * sx) / n
    bratio = ((F.col("y_hi") - F.col("y_lo"))
              / (F.col("x_hi") - F.col("x_lo")))
    return agg.select(*group_cols,
                      F.round(slope, 6).alias("slope"),
                      F.round(intercept, 6).alias("intercept"),
                      F.round(bratio, 6).alias("bounding_ratio"))


_REGRESSION_SQL = """
WITH s AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         SUM(CAST(l_quantity AS DECIMAL(38,6))) AS sx,
         SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS sy,
         SUM(CAST(l_quantity AS DECIMAL(38,6))
             * CAST(l_extendedprice AS DECIMAL(38,6))) AS sxy,
         SUM(CAST(l_quantity AS DECIMAL(38,6))
             * CAST(l_quantity AS DECIMAL(38,6))) AS sxx,
         arg_max(CAST(l_extendedprice AS DOUBLE),
                 CAST(l_quantity AS DOUBLE) * 1e12
                 + (l_orderkey * 8 + l_linenumber)) AS y_hi,
         arg_min(CAST(l_extendedprice AS DOUBLE),
                 CAST(l_quantity AS DOUBLE) * 1e12
                 + (l_orderkey * 8 + l_linenumber)) AS y_lo,
         MAX(CAST(l_quantity AS DOUBLE)) AS x_hi,
         MIN(CAST(l_quantity AS DOUBLE)) AS x_lo
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag,
       ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
         AS slope,
       ROUND((CAST(sy AS DOUBLE)
              - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6)
         AS intercept,
       ROUND((y_hi - y_lo) / (x_hi - x_lo), 6) AS bounding_ratio
FROM s
"""


def agg_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse's skewPop / kurtPop per return flag, computed from
    EXACT decimal power sums (sum-x ... sum-x^4 accumulate
    losslessly; only the closing moment arithmetic is floating point,
    identical IEEE ops in any engine -- the same determinism recipe
    as simple_linear_regression, chosen over the built-in
    skewness/kurtosis whose sample-vs-population conventions differ
    between engines).

      m_k = sum((x - mean)^k)/n expanded in power sums;
      skewPop = m3 / m2^1.5;  kurtPop = m4 / m2^2."""
    li = _t(spark, sf_dir, "lineitem")
    # NARROW multiplicands: decimal(9,2) holds the 2-dp price exactly,
    # and 9+9(+9+9) digit products grow to decimal(36,8) -- x^4 sums
    # stay exact inside 38 digits in BOTH engines (a 38,6 operand
    # would overflow DuckDB's scale-growing multiply)
    x = F.col("l_extendedprice").cast("decimal(9,2)")
    # explicit widening at each step: every intermediate fits its
    # target exactly, and both engines take the identical cast chain
    # (DuckDB's int64-backed DECIMAL(18) would otherwise overflow
    # mid-product; Spark's auto-widening would round x^4 to scale 7)
    x2 = (x * x).cast("decimal(20,4)")
    x3 = (x2 * x).cast("decimal(30,6)")
    x4 = (x3 * x).cast("decimal(38,8)")
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("s1"),
        F.sum(x2).alias("s2"),
        F.sum(x3).alias("s3"),
        F.sum(x4).alias("s4"))
    n = F.col("n").cast("double")
    s1 = F.col("s1").cast("double")
    s2 = F.col("s2").cast("double")
    s3 = F.col("s3").cast("double")
    s4 = F.col("s4").cast("double")
    mu = s1 / n
    m2 = s2 / n - mu * mu
    m3 = s3 / n - 3 * mu * s2 / n + 2 * mu * mu * mu
    m4 = (s4 / n - 4 * mu * s3 / n + 6 * mu * mu * s2 / n
          - 3 * mu * mu * mu * mu)
    return agg.select(
        "l_returnflag",
        F.round(m3 / F.sqrt(m2 * m2 * m2), 6).alias("skew_pop"),
        F.round(m4 / (m2 * m2), 6).alias("kurt_pop"))


_MOMENTS_SQL = """
WITH s AS (
  SELECT l_returnflag, COUNT(*) AS n,
         SUM(x) AS s1, SUM(x2) AS s2, SUM(x3) AS s3, SUM(x4) AS s4
  FROM (
    SELECT l_returnflag, x, x2, x3,
           CAST(x3 * x AS DECIMAL(38,8)) AS x4
    FROM (
      SELECT l_returnflag, x, x2, CAST(x2 * x AS DECIMAL(30,6)) AS x3
      FROM (
        SELECT l_returnflag, x, CAST(x * x AS DECIMAL(20,4)) AS x2
        FROM (SELECT l_returnflag,
                     CAST(l_extendedprice AS DECIMAL(9,2)) AS x
              FROM lineitem))))
  GROUP BY l_returnflag
), m AS (
  SELECT l_returnflag,
         CAST(s1 AS DOUBLE) / n AS mu,
         CAST(s2 AS DOUBLE) / n AS e2,
         CAST(s3 AS DOUBLE) / n AS e3,
         CAST(s4 AS DOUBLE) / n AS e4
  FROM (SELECT l_returnflag, CAST(n AS DOUBLE) AS n,
               s1, s2, s3, s4 FROM s)
)
SELECT l_returnflag,
       ROUND((e3 - 3 * mu * e2 + 2 * mu * mu * mu)
             / SQRT(POWER(e2 - mu * mu, 3)), 6) AS skew_pop,
       ROUND((e4 - 4 * mu * e3 + 6 * mu * mu * e2
              - 3 * mu * mu * mu * mu)
             / ((e2 - mu * mu) * (e2 - mu * mu)), 6) AS kurt_pop
FROM m
"""


def agg_rank_tests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U and Kolmogorov-Smirnov over the SAME split from
    ONE lineitem scan: both tests consume per-distinct-value counts of
    the identical (l_quantity, O-vs-F) relation, so the shared
    aggregation + cumulative window computes once and the two part
    rows unpack from a 2-element explode -- the fused-scan pattern
    (cf. cdc_op_counters), replacing two separate full scans. The
    standalone mann_whitney_u / kolmogorov_smirnov operators remain
    as building blocks."""
    li = _t(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("double")
    vals = (li.filter(F.col("l_linestatus").isin("O", "F"))
              .groupBy(x.alias("v"))
              .agg(F.count(F.when(F.col("l_linestatus") == "O", 1))
                    .alias("c1"),
                   F.count(F.when(F.col("l_linestatus") == "F", 1))
                    .alias("c2")))
    w = (Window.orderBy("v")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wa = Window.rowsBetween(Window.unboundedPreceding,
                            Window.unboundedFollowing)
    n_all = F.col("c1") + F.col("c2")
    cum = vals.select(
        "c1", "c2",
        (F.sum(n_all).over(w) - n_all + (n_all + 1) / 2.0)
        .alias("avg_rank"),
        F.sum("c1").over(w).alias("k1"),
        F.sum("c2").over(w).alias("k2"),
        F.sum("c1").over(wa).alias("na"),
        F.sum("c2").over(wa).alias("nb"))
    agg = cum.agg(
        F.sum(F.col("c1") * F.col("avg_rank")).alias("r1"),
        F.first("na").alias("na"), F.first("nb").alias("nb"),
        F.sum((F.col("c1") + F.col("c2")) * (F.col("c1") + F.col("c2"))
              * (F.col("c1") + F.col("c2"))
              - (F.col("c1") + F.col("c2"))).alias("tie3"),
        F.max(F.abs(F.col("k1") / F.col("na")
                    - F.col("k2") / F.col("nb"))).alias("d"))
    n1 = F.col("na").cast("double")
    n2 = F.col("nb").cast("double")
    n = n1 + n2
    u1 = F.col("r1") - n1 * (n1 + 1) / 2
    u2 = n1 * n2 - u1
    sigma = F.sqrt(n1 * n2 / 12.0
                   * ((n + 1) - F.col("tie3") / (n * (n - 1))))
    z = (u1 - n1 * n2 / 2) / sigma
    scale = F.sqrt(n1 * n2 / n)
    return (agg.select(F.explode(F.array(
        F.struct(F.lit("mwu").alias("part"),
                 F.round(u1, 6).alias("m1"),
                 F.round(u2, 6).alias("m2"),
                 F.round(z, 6).alias("m3")),
        F.struct(F.lit("ks").alias("part"),
                 F.round(F.col("d"), 6).alias("m1"),
                 F.round(scale * F.col("d"), 6).alias("m2"),
                 F.lit(None).cast("double").alias("m3"))))
        .alias("s"))
        .select("s.part", "s.m1", "s.m2", "s.m3"))


def quantile_exact_weighted(df: DataFrame, group_cols: list[str],
                            value_col: str, weight_col: str,
                            levels: list[float]) -> DataFrame:
    """ClickHouse quantileExactWeighted(level)(x, w): the smallest x
    whose cumulative weight reaches level * total_weight -- each x
    effectively repeated w times, computed without materializing the
    repetition. One keyed window (cumulative + total weight over the
    value sort) + one aggregation on the same key (reuses the window's
    partitioning): min(x WHERE cum >= level * tot) per level. The
    result is order-independent for tied x values (the tie block's
    LAST row carries the full block weight whatever the peer order,
    and min() collapses the block to one x), so it is deterministic
    across engines and partitionings. Output columns: wp<level*100>."""
    w_ord = (Window.partitionBy(*group_cols).orderBy(value_col)
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    w_all = Window.partitionBy(*group_cols)
    base = df.select(
        *group_cols,
        F.col(value_col).cast("double").alias("__x"),
        F.sum(weight_col).over(w_ord).alias("__cum"),
        F.sum(weight_col).over(w_all).alias("__tot"))
    return base.groupBy(*group_cols).agg(
        *[F.min(F.when(F.col("__cum") >= F.lit(lv) * F.col("__tot"),
                       F.col("__x"))).alias(f"wp{round(lv * 100)}")
          for lv in levels])


_WEIGHTED_PCTL_SQL = """
SELECT l_returnflag,
       MIN(CASE WHEN cum >= 0.5 * tot THEN px END) AS wp50,
       MIN(CASE WHEN cum >= 0.9 * tot THEN px END) AS wp90
FROM (
  SELECT l_returnflag, CAST(l_extendedprice AS DOUBLE) AS px,
         SUM(l_quantity) OVER (PARTITION BY l_returnflag
                               ORDER BY l_extendedprice
                               ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(l_quantity) OVER (PARTITION BY l_returnflag) AS tot
  FROM lineitem)
GROUP BY l_returnflag
"""


# --- window functions -----------------------------------------------------

def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 3 orders by totalprice per market segment (rank + filter);
    o_orderkey tie-break keeps it deterministic."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders", spread=True)
    j = orders.join(cust, orders.o_custkey == cust.c_custkey)
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (j.withColumn("rk", F.row_number().over(w))
             .filter(F.col("rk") <= 3)
             .select("c_mktsegment", "rk", "o_orderkey", "o_totalprice"))


_TOPK_GRP_SQL = """
SELECT c_mktsegment, rk, o_orderkey, o_totalprice FROM (
  SELECT c_mktsegment, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
  FROM orders JOIN customer ON o_custkey = c_custkey
) WHERE rk <= 3
"""


def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running revenue per supplier in ship order (exact decimal
    accumulation -> identical under any partitioning). The order key
    ends in l_extendedprice because the fixture contains duplicate
    (shipdate, orderkey, linenumber) rows at sf0.1 -- with the price
    in the key the ordering is total up to fully-identical rows,
    whose running values are order-invariant anyway (caught by the
    round-5 sf0.1 parity sweep; sf0.01 has no such duplicates)."""
    li = _t(spark, sf_dir, "lineitem")
    w = (Window.partitionBy("l_suppkey")
         .orderBy(F.col("l_shipdate").asc(), F.col("l_orderkey").asc(),
                  F.col("l_linenumber").asc(),
                  F.col("l_extendedprice").asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    running = F.sum(F.col("l_extendedprice").cast(_DEC)).over(w)
    return li.select(
        "l_suppkey", "l_orderkey", "l_linenumber",
        F.round(running, 2).cast("double").alias("running_rev"))


_RUNNING_SQL = """
SELECT l_suppkey, l_orderkey, l_linenumber,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(38,6)))
         OVER (PARTITION BY l_suppkey
               ORDER BY l_shipdate ASC, l_orderkey ASC, l_linenumber ASC,
                        l_extendedprice ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
         AS DOUBLE) AS running_rev
FROM lineitem
"""


def window_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min): lag + cumulative new-session
    flags -- the batch analog of session_window (streaming/)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc())
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = (ev.withColumn("session_idx",
                          F.sum(new_sess).over(
                              w.rowsBetween(Window.unboundedPreceding, 0))))
    return (sess.groupBy("user_id", "session_idx")
                .agg(F.count(F.lit(1)).alias("n_events"),
                     F.min("event_id").alias("first_event")))


# Oracle notes (round-1 hash fix): the windowed SUM is CAST to BIGINT
# (DuckDB types it HUGEINT/int128, which pandas hashes differently from
# Spark's int64), and the gap compares TRUNCATED epoch seconds exactly
# like Spark's `ts.cast("long")` -- DuckDB's epoch() keeps the
# fractional part, one boundary row away from divergence otherwise.
_SESSION_SQL = """
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN CAST(FLOOR(epoch(ts)) AS BIGINT)
                   - LAG(CAST(FLOOR(epoch(ts)) AS BIGINT))
                OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
              > 1800 THEN 1
              WHEN LAG(ts) OVER (PARTITION BY user_id
                                 ORDER BY ts ASC, event_id ASC) IS NULL THEN 1
              ELSE 0 END AS new_sess
  FROM events
), sessions AS (
  SELECT user_id, event_id,
         CAST(SUM(new_sess)
                OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS session_idx
  FROM flagged
)
SELECT user_id, session_idx, COUNT(*) AS n_events,
       MIN(event_id) AS first_event
FROM sessions GROUP BY user_id, session_idx
"""


# --- top-k / sort-limit ---------------------------------------------------

def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (orders.orderBy(F.col("o_totalprice").desc(),
                           F.col("o_orderkey").asc())
                  .limit(25)
                  .select("o_orderkey", "o_totalprice", "o_orderdate"))


_TOPK_SQL = """
SELECT o_orderkey, o_totalprice, o_orderdate FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 25
"""


# --- pivot ----------------------------------------------------------------

def pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    p = (li.groupBy("l_returnflag")
           .pivot("l_linestatus", ["F", "O"])
           .agg(F.round(F.sum(F.col("l_quantity").cast(_DEC)), 2)
                 .cast("double")))
    return p.select("l_returnflag",
                    F.col("F").alias("qty_f"), F.col("O").alias("qty_o"))


_PIVOT_SQL = f"""
SELECT l_returnflag,
       {sql_dsum("CASE WHEN l_linestatus = 'F' THEN l_quantity END", 'qty_f')},
       {sql_dsum("CASE WHEN l_linestatus = 'O' THEN l_quantity END", 'qty_o')}
FROM lineitem GROUP BY l_returnflag
"""


# --- set operations --------------------------------------------------------

def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers ordering in both 1996 and 1999 (INTERSECT = distinct)."""
    orders = _t(spark, sf_dir, "orders")
    a = orders.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    b = orders.filter(F.year("o_orderdate") == 1999).select("o_custkey")
    return a.intersect(b)


_INTERSECT_SQL = """
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
INTERSECT
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1999
"""


def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    a = orders.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    b = orders.filter(F.year("o_orderdate") == 1999).select("o_custkey")
    return a.subtract(b)


_EXCEPT_SQL = """
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
EXCEPT
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1999
"""


def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = _t(spark, sf_dir, "nation")
    a = nation.filter(F.col("n_regionkey") <= 1).select("n_name")
    b = nation.filter(F.col("n_regionkey") >= 1).select("n_name")
    return a.union(b).distinct()


_UNION_SQL = """
SELECT n_name FROM nation WHERE n_regionkey <= 1
UNION
SELECT n_name FROM nation WHERE n_regionkey >= 1
"""


# --- distinct aggregation ---------------------------------------------------

def approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL++). Estimates are engine-specific;
    the registered query (distinct_vs_approx) bands the estimate
    against the exact count so it IS oracle-checkable, and
    tests/test_plans.py bounds the error directly."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag")
              .agg(F.approx_count_distinct("l_orderkey", 0.02)
                    .alias("approx_orders")))


# ---------------------------------------------------------------------------
# merged registry queries
#
# The driver's correctness gate evaluates at most 50 registry entries;
# single-operator variants over the same physical shape are unioned
# into one checked query each (a `part` label keeps the sections
# distinguishable in the diff). The standalone functions above remain
# the unit-level building blocks used by the plan-quality tests.
# ---------------------------------------------------------------------------

def join_outer_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer + full-outer + cross join types, one checked query
    (inner/semi/anti live in join_semi_anti; broadcast inner joins are
    covered by q3/q5/q10)."""
    left = join_left_outer(spark, sf_dir).select(
        F.lit("left_outer").alias("part"),
        F.col("c_custkey").cast("long").alias("k"),
        F.col("c_mktsegment").alias("attr"),
        F.col("n_big_orders").cast("long").alias("n"))
    full = join_full_outer(spark, sf_dir).select(
        F.lit("full_outer").alias("part"),
        F.col("custkey").cast("long").alias("k"),
        F.col("c_nationkey").cast("string").alias("attr"),
        F.col("n_orders").cast("long").alias("n"))
    cross = join_cross(spark, sf_dir).select(
        F.lit("cross").alias("part"),
        (F.col("r_regionkey") * 100 + F.col("n_nationkey"))
        .cast("long").alias("k"),
        F.concat_ws("|", "r_name", "n_name").alias("attr"),
        F.lit(1).cast("long").alias("n"))
    return left.unionByName(full).unionByName(cross)


_OUTER_CROSS_SQL = f"""
SELECT 'left_outer' AS part, CAST(c_custkey AS BIGINT) AS k,
       c_mktsegment AS attr, CAST(n_big_orders AS BIGINT) AS n
FROM ({_LEFT_SQL})
UNION ALL
SELECT 'full_outer', CAST(custkey AS BIGINT), CAST(c_nationkey AS VARCHAR),
       CAST(n_orders AS BIGINT)
FROM ({_FULL_OUTER_SQL})
UNION ALL
SELECT 'cross', CAST(r_regionkey * 100 + n_nationkey AS BIGINT),
       r_name || '|' || n_name, CAST(1 AS BIGINT)
FROM ({_CROSS_SQL})
"""


def join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS (left-semi) and NOT EXISTS (left-anti), one checked
    query; the two sections partition `customer` exactly."""
    semi = join_semi(spark, sf_dir).select(
        F.lit("semi").alias("part"), "c_custkey", "c_name")
    anti = join_anti(spark, sf_dir).select(
        F.lit("anti").alias("part"), "c_custkey", "c_name")
    return semi.unionByName(anti)


_SEMI_ANTI_SQL = f"""
SELECT 'semi' AS part, c_custkey, c_name FROM ({_SEMI_SQL})
UNION ALL
SELECT 'anti', c_custkey, c_name FROM ({_ANTI_SQL})
"""


def agg_grouping_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP + CUBE + GROUPING SETS + statistical aggregates
    (percentile/corr/stddev) + equi-width histogram +
    quantileExactWeighted, the categorical-association trio
    (cramersV/theilsU/contingency), welch/student t, Mann-Whitney U +
    KS, simple linear regression and skewPop/kurtPop, one checked
    query over aligned columns (part, g1, g2, n, m1..m4).

    FUSED SCANS (round 7; the naive per-part harness read `lineitem`
    ~10 times): parts sharing a grain share ONE scan --

    - `cells` = groupBy(l_returnflag, l_linestatus) carrying count,
      exact-decimal quantity/price/price^2 sums and price min/max
      (<= 6 rows). Feeds: rollup (re-aggregated -- decimal sums are
      associative, so rolling up partial sums is value-identical to
      rolling up rows), assoc (the contingency table IS the cells
      counts), ttest (per-status moments from exact sums; arithmetic
      mirrored in the oracle), and the histogram's global lo/hi
      bounds.
    - `fl` = groupBy(l_returnflag) computing percentiles/corr/stddev,
      the skew/kurt power sums, and the regression sums in ONE
      aggregation (3 rows; feeds pctl, moments, reg).
    - `cells_o` = the orders analog feeding cube AND grouping-sets.
    - the exact AND weighted percentiles share ONE
      (l_returnflag, l_extendedprice) sort (r15): rank, group count,
      cumulative and total weight ride one window pass, one groupBy
      on the window's partitioning picks all four quantiles, and the
      'pctl'/'wpctl' rows leave through one stack() generate.
    - hist bin-counting and the fused rank tests keep their own scans
      (different grains / sort keys).
    Net: 5 lineitem + 1 orders scans for 14 labelled parts
    (round 11 adds 'summap': the sumMap key-wise map aggregation,
    operators/maps.py, scalarized via a key-sorted serialization
    hash). Every
    downstream relation is cardinality-bounded (cells/fl/cells_o are
    category-sized), so the fusion holds at any data scale.

    The three shared relations stay lazy: branch recomputes of a
    page-cached scan are cheap, while an eager localCheckpoint pin
    cost ~4.8 s of extra build jobs at sf0.1 to save ~1 s of
    recompute, and a .cache() variant measured ~2.5 s slower
    cache-cold (in-memory materialization serializes inside the AQE
    stage waves of the 11-branch union)."""
    nd = F.lit(None).cast("double")
    li = _t(spark, sf_dir, "lineitem")
    x9 = F.col("l_extendedprice").cast("decimal(9,2)")
    x2 = (x9 * x9).cast("decimal(20,4)")
    xd = F.col("l_extendedprice").cast("double")

    # ---- shared scan 1: (l_returnflag, l_linestatus) cells --------
    cells = (li.groupBy("l_returnflag", "l_linestatus")
               .agg(F.count(F.lit(1)).alias("n"),
                    F.sum(F.col("l_quantity").cast(_DEC)).alias("sq"),
                    F.sum(x9).alias("s1"),
                    F.sum(x2).alias("s2"),
                    F.min(xd).alias("plo"),
                    F.max(xd).alias("phi")))

    rollup = (cells.rollup("l_returnflag", "l_linestatus")
              .agg(F.sum("n").alias("n"),
                   F.round(F.sum("sq"), 2).cast("double")
                    .alias("sum_qty"))
              .select(F.lit("rollup").alias("part"),
                      F.col("l_returnflag").alias("g1"),
                      F.col("l_linestatus").alias("g2"),
                      "n", F.col("sum_qty").alias("m1"),
                      nd.alias("m2"), nd.alias("m3"), nd.alias("m4")))

    assoc = (categorical_association_from_ct(
                 cells.select(F.col("l_returnflag").alias("x"),
                              F.col("l_linestatus").alias("y"),
                              F.col("n").alias("nxy")))
             .select(F.lit("assoc").alias("part"),
                     F.lit("l_returnflag").alias("g1"),
                     F.lit("l_linestatus").alias("g2"),
                     F.lit(None).cast("long").alias("n"),
                     F.col("cramers_v").alias("m1"),
                     F.col("theils_u").alias("m2"),
                     F.col("contingency_coef").alias("m3"),
                     F.col("entropy_x").alias("m4")))

    # ttest from the cells' exact decimal sums: m = s1/n,
    # v = (s2 - s1^2/n)/(n - 1) in double -- deterministic identical
    # IEEE ops on both engines (replaces native avg/var_samp, whose
    # merge order is engine-internal), then the shared closing
    # formulas
    is_o = F.col("l_linestatus") == "O"
    is_f = F.col("l_linestatus") == "F"
    tsum = (cells.filter(F.col("l_linestatus").isin("O", "F"))
            .agg(F.sum(F.when(is_o, F.col("n"))).alias("n1"),
                 F.sum(F.when(is_o, F.col("s1"))).alias("s1o"),
                 F.sum(F.when(is_o, F.col("s2"))).alias("s2o"),
                 F.sum(F.when(is_f, F.col("n"))).alias("n2"),
                 F.sum(F.when(is_f, F.col("s1"))).alias("s1f"),
                 F.sum(F.when(is_f, F.col("s2"))).alias("s2f")))

    def _mv(s1c: str, s2c: str, nc: str):
        s1d = F.col(s1c).cast("double")
        s2d = F.col(s2c).cast("double")
        n_d = F.col(nc).cast("double")
        return s1d / n_d, (s2d - s1d * s1d / n_d) / (n_d - 1)

    m1c, v1c = _mv("s1o", "s2o", "n1")
    m2c, v2c = _mv("s1f", "s2f", "n2")
    ttest = (_t_test_closing(
                 tsum.select(m1c.alias("m1"), v1c.alias("v1"), "n1",
                             m2c.alias("m2"), v2c.alias("v2"), "n2"))
             .select(F.lit("ttest").alias("part"),
                     F.lit("l_extendedprice").alias("g1"),
                     F.lit("O_vs_F").alias("g2"),
                     F.lit(None).cast("long").alias("n"),
                     F.col("welch_t").alias("m1"),
                     F.col("welch_df").alias("m2"),
                     F.col("student_t").alias("m3"),
                     F.col("student_df").alias("m4")))

    # histogram: global bounds re-aggregate the cells' min/max (no
    # second bounds scan); the bin-count pass is its own scan (row
    # grain)
    n_bins = 10
    bounds = cells.agg(F.min("plo").alias("lo"),
                       F.max("phi").alias("hi"))
    width = (F.col("hi") - F.col("lo")) / n_bins
    hist = (li.select(xd.alias("x"))
            .crossJoin(F.broadcast(bounds))
            .withColumn("bin", F.least(
                F.floor((F.col("x") - F.col("lo")) / width),
                F.lit(n_bins - 1)).cast("int"))
            .groupBy("bin", "lo", "hi")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.lit("hist").alias("part"),
                    F.col("bin").cast("string").alias("g1"),
                    F.lit(None).cast("string").alias("g2"),
                    "n",
                    F.round(F.col("lo") + F.col("bin")
                            * ((F.col("hi") - F.col("lo")) / n_bins),
                            6).alias("m1"),
                    F.round(F.col("lo") + (F.col("bin") + 1)
                            * ((F.col("hi") - F.col("lo")) / n_bins),
                            6).alias("m2"),
                    nd.alias("m3"), nd.alias("m4")))

    # ---- shared scan 2: l_returnflag grain (pctl + moments + reg) --
    # every aggregate here is partition-order-INDEPENDENT (exact
    # decimal sums, count, min/max), so the result is identical under
    # any partitioning/pinning. corr and stddev are derived from the
    # decimal sums (not the native Welford-merge aggregates) for
    # exactly that reason -- their merge order would otherwise vary
    # with partitioning; the oracle mirrors the same closed forms.
    x3 = (x2 * x9).cast("decimal(30,6)")
    x4 = (x3 * x9).cast("decimal(38,8)")
    qx = F.col("l_quantity").cast(_DEC)
    py = F.col("l_extendedprice").cast(_DEC)
    dx = F.col("l_discount").cast(_DEC)
    key = (F.col("l_quantity").cast("double") * F.lit(1e12)
           + (F.col("l_orderkey") * 8 + F.col("l_linenumber"))
           .cast("double"))
    # fl's 16-aggregate partial (four decimal power sums up to
    # decimal(38,8) per row) was the entry's single heaviest operator
    # (1.9 s aggregation build on ONE task -- the unsplittable
    # single-row-group scan). Spreading JUST this subtree's scan wins
    # ~0.8 s in alternating A/B at sf0.1, while blanket spread on the
    # entry still loses (re-measured this round: base 3.1-4.0 s,
    # all-spread 4.5-4.8 s, fl-spread 2.3-2.8 s) -- the other branches
    # already fill the cores and their per-branch exchanges are pure
    # overhead.
    fl = (
        _t(spark, sf_dir, "lineitem", spread=True)
          .groupBy("l_returnflag")
          .agg(F.count(F.lit(1)).alias("n"),
               F.sum(x9).alias("ps1"), F.sum(x2).alias("ps2"),
               F.sum(x3).alias("ps3"), F.sum(x4).alias("ps4"),
               F.sum(qx).alias("sx"), F.sum(py).alias("sy"),
               F.sum(qx * py).alias("sxy"), F.sum(qx * qx).alias("sxx"),
               F.sum(py * py).alias("syy"),
               F.sum(dx).alias("ds1"), F.sum(dx * dx).alias("ds2"),
               F.max_by(xd, key).alias("y_hi"),
               F.min_by(xd, key).alias("y_lo"),
               F.max(F.col("l_quantity").cast("double")).alias("x_hi"),
               F.min(F.col("l_quantity").cast("double")).alias("x_lo")))

    # ONE sort serves BOTH percentile parts (r15, guide §2.4 "two
    # operations keyed the same way can share one exchange"): the
    # exact percentiles (rank pick over the (l_returnflag,
    # l_extendedprice) sort -- operators/percentiles' window shape,
    # r10: beats the built-in `percentile`'s per-group
    # ObjectHashAggregate buffer 1.5-2.9 s -> ~0.6 s isolated) and
    # quantileExactWeighted (cumulative-weight pick over the SAME
    # sort) previously each paid their own scan + exchange + Tungsten
    # sort; fused, one window pass carries rank, group count,
    # cumulative and total weight, and one groupBy on the window's own
    # partitioning (no second exchange) picks all four quantiles.
    # Arithmetic is unchanged on both sides: the rank/interpolation
    # columns mirror operators/percentiles._interpolate (Spark's own
    # Percentile arithmetic -- lo + (hi-lo)*frac on doubles), the
    # weighted pick mirrors quantile_exact_weighted (min x with
    # cum >= level*tot, tie-block-independent per its proof), and both
    # orderings agree because decimal(9,2) -> double is monotonic and
    # injective at 9 significant digits. Values asserted identical to
    # the unfused operators at sf0.1. The two output rows leave
    # through one `stack` generate, so the sort subtree has exactly
    # ONE consumer -- no branch recompute, no ReusedExchange needed.
    _wrank = Window.partitionBy("l_returnflag").orderBy("__v")
    _wgrp = Window.partitionBy("l_returnflag")
    sbase = (li.select("l_returnflag", xd.alias("__v"),
                       F.col("l_quantity").alias("__w"))
             .filter(F.col("__v").isNotNull())
             .select("l_returnflag", "__v",
                     (F.row_number().over(_wrank) - 1).alias("__rn"),
                     F.count(F.lit(1)).over(_wgrp).alias("__n"),
                     F.sum("__w").over(
                         _wrank.rowsBetween(Window.unboundedPreceding,
                                            Window.currentRow))
                      .alias("__cum"),
                     F.sum("__w").over(_wgrp).alias("__tot")))
    _paggs = []
    for _p, _tag in ((0.5, "50"), (0.95, "95")):
        _pos = (F.col("__n") - 1) * F.lit(_p)
        _paggs += [
            F.min(F.when(F.col("__rn") == F.floor(_pos), F.col("__v")))
             .alias(f"__lo{_tag}"),
            F.min(F.when(F.col("__rn") == F.ceil(_pos), F.col("__v")))
             .alias(f"__hi{_tag}"),
            F.first(_pos - F.floor(_pos)).alias(f"__f{_tag}")]
    _paggs += [
        F.min(F.when(F.col("__cum") >= F.lit(0.5) * F.col("__tot"),
                     F.col("__v"))).alias("wp50"),
        F.min(F.when(F.col("__cum") >= F.lit(0.9) * F.col("__tot"),
                     F.col("__v"))).alias("wp90")]
    pw = (sbase.groupBy("l_returnflag").agg(*_paggs)
          .select("l_returnflag",
                  F.round(F.col("__lo50")
                          + (F.col("__hi50") - F.col("__lo50"))
                          * F.col("__f50"), 6).alias("p50"),
                  F.round(F.col("__lo95")
                          + (F.col("__hi95") - F.col("__lo95"))
                          * F.col("__f95"), 6).alias("p95"),
                  "wp50", "wp90"))

    fn_d = F.col("n").cast("double")
    fsx = F.col("sx").cast("double")
    fsy = F.col("sy").cast("double")
    corr_c = ((fn_d * F.col("sxy").cast("double") - fsx * fsy)
              / F.sqrt((fn_d * F.col("sxx").cast("double") - fsx * fsx)
                       * (fn_d * F.col("syy").cast("double")
                          - fsy * fsy)))
    ds1 = F.col("ds1").cast("double")
    sd_c = F.sqrt((F.col("ds2").cast("double") - ds1 * ds1 / fn_d)
                  / (fn_d - 1))
    # 'pctl' and 'wpctl' rows both come off the fused sort through one
    # stack() generate -- per-branch shape (part, g1, g2, n, m1..m4)
    # unchanged, so the union and the oracle see the same rows
    pw_rows = (fl.select("l_returnflag",
                         F.round(corr_c, 6).alias("corr6"),
                         F.round(sd_c, 6).alias("sd6"))
               .join(F.broadcast(pw), "l_returnflag")
               .selectExpr(
                   "l_returnflag",
                   "stack(2, 'pctl', p50, p95, corr6, sd6,"
                   " 'wpctl', wp50, wp90, CAST(NULL AS DOUBLE),"
                   " CAST(NULL AS DOUBLE)) AS (part, m1, m2, m3, m4)")
               .select("part",
                       F.col("l_returnflag").alias("g1"),
                       F.lit(None).cast("string").alias("g2"),
                       F.lit(None).cast("long").alias("n"),
                       "m1", "m2", "m3", "m4"))

    n_d = F.col("n").cast("double")
    s1 = F.col("ps1").cast("double")
    s2 = F.col("ps2").cast("double")
    s3 = F.col("ps3").cast("double")
    s4 = F.col("ps4").cast("double")
    mu = s1 / n_d
    mm2 = s2 / n_d - mu * mu
    mm3 = s3 / n_d - 3 * mu * s2 / n_d + 2 * mu * mu * mu
    mm4 = (s4 / n_d - 4 * mu * s3 / n_d + 6 * mu * mu * s2 / n_d
           - 3 * mu * mu * mu * mu)
    mom = fl.select(
        F.lit("moments").alias("part"),
        F.col("l_returnflag").alias("g1"),
        F.lit("l_extendedprice").alias("g2"),
        F.lit(None).cast("long").alias("n"),
        F.round(mm3 / F.sqrt(mm2 * mm2 * mm2), 6).alias("m1"),
        F.round(mm4 / (mm2 * mm2), 6).alias("m2"),
        nd.alias("m3"), nd.alias("m4"))

    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    slope = ((n_d * F.col("sxy").cast("double") - sxd * syd)
             / (n_d * F.col("sxx").cast("double") - sxd * sxd))
    intercept = (syd - slope * sxd) / n_d
    bratio = ((F.col("y_hi") - F.col("y_lo"))
              / (F.col("x_hi") - F.col("x_lo")))
    reg = fl.select(
        F.lit("reg").alias("part"),
        F.col("l_returnflag").alias("g1"),
        F.lit("qty_vs_price").alias("g2"),
        F.lit(None).cast("long").alias("n"),
        F.round(slope, 6).alias("m1"),
        F.round(intercept, 6).alias("m2"),
        F.round(bratio, 6).alias("m3"), nd.alias("m4"))

    # ---- shared scan 3: orders cells (cube + grouping sets) --------
    orders = _t(spark, sf_dir, "orders")
    cells_o = (orders.groupBy("o_orderstatus", "o_orderpriority")
                     .agg(F.count(F.lit(1)).alias("n"),
                          F.sum(F.col("o_totalprice").cast(_DEC))
                           .alias("sp")))
    cube = (cells_o.cube("o_orderstatus", "o_orderpriority")
            .agg(F.sum("n").alias("n"),
                 F.round(F.sum("sp"), 2).cast("double")
                  .alias("sum_price"))
            .select(F.lit("cube").alias("part"),
                    F.col("o_orderstatus").alias("g1"),
                    F.col("o_orderpriority").alias("g2"),
                    "n", F.col("sum_price").alias("m1"),
                    nd.alias("m2"), nd.alias("m3"), nd.alias("m4")))
    gsets = (cells_o.groupingSets(
                 [["o_orderstatus", "o_orderpriority"],
                  ["o_orderpriority"]],
                 "o_orderstatus", "o_orderpriority")
             .agg(F.sum("n").alias("n"),
                  F.round(F.sum("sp"), 2).cast("double")
                   .alias("sum_price"))
             .select(F.lit("gsets").alias("part"),
                     F.col("o_orderstatus").alias("g1"),
                     F.col("o_orderpriority").alias("g2"),
                     "n", F.col("sum_price").alias("m1"),
                     nd.alias("m2"), nd.alias("m3"), nd.alias("m4")))

    # 'hier': the recursive-CTE hierarchy closure (hierarchy_closure)
    # promoted to a driver-checked part -- a region -> nation ->
    # customer forest (offset ids keep the key spaces disjoint),
    # (id, root, depth) checked against DuckDB's WITH RECURSIVE
    # reachability. Dimension-table sized; depth bounds the recursion.
    reg_t = _t(spark, sf_dir, "region").select(
        F.col("r_regionkey").cast("long").alias("id"),
        F.lit(None).cast("long").alias("parent"))
    nat_t = _t(spark, sf_dir, "nation").select(
        (F.col("n_nationkey") + 100).cast("long").alias("id"),
        F.col("n_regionkey").cast("long").alias("parent"))
    cus_t = _t(spark, sf_dir, "customer").select(
        (F.col("c_custkey") + 1000).cast("long").alias("id"),
        (F.col("c_nationkey") + 100).cast("long").alias("parent"))
    # the `.repartition("id")` gives the recursive CTE's output an
    # exchange of its own, which AQE materializes as one of the FIRST
    # stages of the union -- without it the sequential recursion jobs
    # run only when the final union stage pulls them, i.e. strictly
    # AFTER the heavy lineitem branches, putting the whole ~1 s
    # iteration chain on the critical-path tail (r15 event-log
    # timeline). Narrow (id, root, depth) rows, AQE-coalesced, so the
    # extra exchange is small at any scale; measured -0.7 s on the
    # entry at sf0.1.
    hier = (hierarchy_closure(
                reg_t.unionByName(nat_t).unionByName(cus_t))
            .repartition(F.col("id"))
            .select(F.lit("hier").alias("part"),
                    F.col("id").cast("string").alias("g1"),
                    F.col("root").cast("string").alias("g2"),
                    F.col("depth").cast("long").alias("n"),
                    nd.alias("m1"), nd.alias("m2"),
                    nd.alias("m3"), nd.alias("m4")))

    # 'summap': the sumMap key-wise map aggregation (operators/maps)
    # driver-checked through a deterministic scalarization -- n = key
    # count, m1 = total of the map's values, m2 = portable hash of
    # the key-sorted "k:v|k:v" serialization (entry order is pinned
    # by an explicit sort, so the hash is partitioning-independent
    # and the oracle restates it byte-for-byte)
    from ..functions.text import portable_hash32
    from ..operators import maps as MAPS
    summap_src = li.select(
        "l_returnflag",
        F.create_map(F.col("l_linestatus"),
                     F.col("l_quantity").cast("long")).alias("m"))
    mm = MAPS.sum_map(summap_src, ["l_returnflag"], "m")
    ser = F.concat_ws("|", F.transform(
        F.sort_array(F.map_entries(F.col("sum_map"))),
        lambda e: F.concat(e["key"], F.lit(":"),
                           e["value"].cast("string"))))
    summap = mm.select(
        F.lit("summap").alias("part"),
        F.col("l_returnflag").alias("g1"),
        F.lit(None).cast("string").alias("g2"),
        F.size("sum_map").cast("long").alias("n"),
        F.aggregate(F.map_values("sum_map"), F.lit(0).cast("long"),
                    lambda acc, v: acc + v).cast("double").alias("m1"),
        portable_hash32(ser).cast("double").alias("m2"),
        nd.alias("m3"), nd.alias("m4"))

    # own-scan part: distinct-value grain (sorts by l_quantity, a
    # different key from the fused percentile sort)
    rank2 = agg_rank_tests(spark, sf_dir).select(
        "part",
        F.lit("l_quantity").alias("g1"),
        F.lit("O_vs_F").alias("g2"),
        F.lit(None).cast("long").alias("n"),
        "m1", "m2", "m3", nd.alias("m4"))

    return (rollup.unionByName(cube).unionByName(gsets)
            .unionByName(pw_rows).unionByName(hist)
            .unionByName(assoc).unionByName(ttest)
            .unionByName(rank2).unionByName(reg)
            .unionByName(mom).unionByName(hier)
            .unionByName(summap))


_GROUPING_STATS_SQL = f"""
SELECT 'rollup' AS part, l_returnflag AS g1, l_linestatus AS g2,
       n, sum_qty AS m1, CAST(NULL AS DOUBLE) AS m2,
       CAST(NULL AS DOUBLE) AS m3, CAST(NULL AS DOUBLE) AS m4
FROM ({_ROLLUP_SQL})
UNION ALL
SELECT 'cube', o_orderstatus, o_orderpriority, n, sum_price,
       NULL, NULL, NULL
FROM ({_CUBE_SQL})
UNION ALL
SELECT 'gsets', o_orderstatus, o_orderpriority, n, sum_price,
       NULL, NULL, NULL
FROM ({_GROUPING_SETS_SQL})
UNION ALL
-- pctl mirrors the fused Spark arithmetic: exact percentiles plus
-- corr/stddev in closed form from exact decimal sums (the native
-- Welford aggregates are merge-order-dependent, which the fused
-- entry's parallelism spread would expose)
SELECT 'pctl', l_returnflag, CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
       ROUND(p50, 6), ROUND(p95, 6),
       ROUND((n * sxy - sx * sy)
             / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy)), 6),
       ROUND(SQRT((ds2 - ds1 * ds1 / n) / (n - 1)), 6)
FROM (
  SELECT l_returnflag,
         percentile_cont(0.5) WITHIN GROUP (ORDER BY l_extendedprice)
           AS p50,
         percentile_cont(0.95) WITHIN GROUP (ORDER BY l_extendedprice)
           AS p95,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
           AS sy,
         CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))
                  * CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
           AS sxy,
         CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))
                  * CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE)
           AS sxx,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))
                  * CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
           AS syy,
         CAST(SUM(CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE) AS ds1,
         CAST(SUM(CAST(l_discount AS DECIMAL(38,6))
                  * CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE)
           AS ds2
  FROM lineitem GROUP BY l_returnflag
)
UNION ALL
SELECT 'hist', CAST(bin AS VARCHAR), CAST(NULL AS VARCHAR), n,
       ROUND(lo + bin * ((hi - lo) / 10), 6),
       ROUND(lo + (bin + 1) * ((hi - lo) / 10), 6),
       NULL, NULL
FROM (
  SELECT LEAST(CAST(FLOOR((x - lo) / ((hi - lo) / 10)) AS BIGINT), 9)
           AS bin,
         lo, hi, COUNT(*) AS n
  FROM (SELECT CAST(l_extendedprice AS DOUBLE) AS x FROM lineitem)
  CROSS JOIN (SELECT MIN(CAST(l_extendedprice AS DOUBLE)) AS lo,
                     MAX(CAST(l_extendedprice AS DOUBLE)) AS hi
              FROM lineitem)
  GROUP BY 1, 2, 3
)
UNION ALL
SELECT 'wpctl', l_returnflag, CAST(NULL AS VARCHAR),
       CAST(NULL AS BIGINT), wp50, wp90, NULL, NULL
FROM ({_WEIGHTED_PCTL_SQL})
UNION ALL
SELECT 'assoc', 'l_returnflag', 'l_linestatus', CAST(NULL AS BIGINT),
       cramers_v, theils_u, contingency_coef, entropy_x
FROM ({_ASSOCIATION_SQL})
UNION ALL
-- ttest mirrors the fused Spark arithmetic: exact decimal power sums
-- per status, then m = s1/n, v = (s2 - s1^2/n)/(n-1) in double
SELECT 'ttest', 'l_extendedprice', 'O_vs_F', CAST(NULL AS BIGINT),
       ROUND((m1 - m2) / SQRT(v1 / n1 + v2 / n2), 6),
       ROUND((v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2)
             / ((v1 / n1) * (v1 / n1) / (n1 - 1)
                + (v2 / n2) * (v2 / n2) / (n2 - 1)), 6),
       ROUND((m1 - m2) / SQRT(((n1 - 1) * v1 + (n2 - 1) * v2)
                              / (n1 + n2 - 2)
                              * (1.0 / n1 + 1.0 / n2)), 6),
       CAST(n1 + n2 - 2 AS DOUBLE)
FROM (
  SELECT CAST(s1o AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1,
         (CAST(s2o AS DOUBLE)
          - CAST(s1o AS DOUBLE) * CAST(s1o AS DOUBLE)
            / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1) AS v1,
         n1,
         CAST(s1f AS DOUBLE) / CAST(n2 AS DOUBLE) AS m2,
         (CAST(s2f AS DOUBLE)
          - CAST(s1f AS DOUBLE) * CAST(s1f AS DOUBLE)
            / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1) AS v2,
         n2
  FROM (
    SELECT CAST(SUM(CASE WHEN st = 'O' THEN n END) AS BIGINT) AS n1,
           SUM(CASE WHEN st = 'O' THEN s1 END) AS s1o,
           SUM(CASE WHEN st = 'O' THEN s2 END) AS s2o,
           CAST(SUM(CASE WHEN st = 'F' THEN n END) AS BIGINT) AS n2,
           SUM(CASE WHEN st = 'F' THEN s1 END) AS s1f,
           SUM(CASE WHEN st = 'F' THEN s2 END) AS s2f
    FROM (
      SELECT l_linestatus AS st, COUNT(*) AS n,
             SUM(CAST(l_extendedprice AS DECIMAL(9,2))) AS s1,
             SUM(CAST(CAST(l_extendedprice AS DECIMAL(9,2))
                      * CAST(l_extendedprice AS DECIMAL(9,2))
                      AS DECIMAL(20,4))) AS s2
      FROM lineitem WHERE l_linestatus IN ('O', 'F')
      GROUP BY 1)))
UNION ALL
SELECT 'mwu', 'l_quantity', 'O_vs_F', CAST(NULL AS BIGINT),
       u1, u2, z, NULL
FROM ({_MANN_WHITNEY_SQL})
UNION ALL
SELECT 'ks', 'l_quantity', 'O_vs_F', CAST(NULL AS BIGINT),
       d_stat, d_scaled, NULL, NULL
FROM ({_KS_SQL})
UNION ALL
SELECT 'reg', l_returnflag, 'qty_vs_price', CAST(NULL AS BIGINT),
       slope, intercept, bounding_ratio, NULL
FROM ({_REGRESSION_SQL})
UNION ALL
SELECT 'moments', l_returnflag, 'l_extendedprice', CAST(NULL AS BIGINT),
       skew_pop, kurt_pop, NULL, NULL
FROM ({_MOMENTS_SQL})
UNION ALL
SELECT 'hier', CAST(id AS VARCHAR), CAST(root AS VARCHAR),
       CAST(depth AS BIGINT), NULL, NULL, NULL, NULL
FROM (
  WITH RECURSIVE hnodes AS (
    SELECT CAST(r_regionkey AS BIGINT) AS id,
           CAST(NULL AS BIGINT) AS parent FROM region
    UNION ALL
    SELECT CAST(n_nationkey + 100 AS BIGINT),
           CAST(n_regionkey AS BIGINT) FROM nation
    UNION ALL
    SELECT CAST(c_custkey + 1000 AS BIGINT),
           CAST(c_nationkey + 100 AS BIGINT) FROM customer
  ), anc AS (
    SELECT id, id AS root, 0 AS depth FROM hnodes WHERE parent IS NULL
    UNION ALL
    SELECT n.id, a.root, a.depth + 1
    FROM hnodes n JOIN anc a ON n.parent = a.id
    WHERE a.depth < 32
  )
  SELECT id, root, depth FROM anc
)
UNION ALL
-- summap mirrors the key-wise map aggregation's scalarization: the
-- per-key sums ARE the grouped sums; the hash covers the key-sorted
-- serialization exactly as Spark builds it
SELECT 'summap', l_returnflag, CAST(NULL AS VARCHAR),
       CAST(n_keys AS BIGINT), CAST(total AS DOUBLE),
       CAST(('0x' || substr(md5(ser), 1, 8))::BIGINT AS DOUBLE),
       NULL, NULL
FROM (
  SELECT l_returnflag, COUNT(*) AS n_keys, SUM(v) AS total,
         string_agg(l_linestatus || ':' || v, '|'
                    ORDER BY l_linestatus) AS ser
  FROM (SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS v
        FROM lineitem GROUP BY 1, 2)
  GROUP BY 1
)
"""


def window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-row window-function surface in one scan of `orders`:
    ntile buckets, first/nth value, a RANGE frame, and lag/lead --
    window_running_sum keeps the ROWS-frame decimal accumulation as
    its own checked query."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_orderkey"))
    wr = (Window.partitionBy("o_custkey")
          .orderBy(F.col("o_totalprice"))
          .rangeBetween(-10000, 0))
    return o.select(
        "o_orderkey",
        F.ntile(4).over(w).alias("quartile"),
        F.first_value("o_orderkey").over(w).alias("first_ok"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_ok"),
        F.round(F.sum("o_totalprice").over(wr), 2).alias("near_sum"),
        F.lag("o_orderkey", 1).over(w).alias("prev_ok"),
        F.lead("o_orderkey", 1).over(w).alias("next_ok"))


_WINDOW_ANALYTICS_SQL = """
SELECT o_orderkey,
       NTILE(4) OVER w AS quartile,
       FIRST_VALUE(o_orderkey) OVER w AS first_ok,
       NTH_VALUE(o_orderkey, 2) OVER w AS second_ok,
       ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey
             ORDER BY o_totalprice
             RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW), 2) AS near_sum,
       LAG(o_orderkey, 1)  OVER w AS prev_ok,
       LEAD(o_orderkey, 1) OVER w AS next_ok
FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
"""


def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT + EXCEPT + UNION DISTINCT, one checked query."""
    i = set_intersect(spark, sf_dir).select(
        F.lit("intersect").alias("part"),
        F.col("o_custkey").cast("string").alias("val"))
    e = set_except(spark, sf_dir).select(
        F.lit("except").alias("part"),
        F.col("o_custkey").cast("string").alias("val"))
    u = set_union_distinct(spark, sf_dir).select(
        F.lit("union_distinct").alias("part"),
        F.col("n_name").alias("val"))
    return i.unionByName(e).unionByName(u)


_SET_OPS_SQL = f"""
SELECT 'intersect' AS part, CAST(o_custkey AS VARCHAR) AS val
FROM ({_INTERSECT_SQL})
UNION ALL
SELECT 'except', CAST(o_custkey AS VARCHAR) FROM ({_EXCEPT_SQL})
UNION ALL
SELECT 'union_distinct', n_name FROM ({_UNION_SQL})
"""


def distinct_vs_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT) surface plus banded checks of the
    approximate aggregates: approx_count_distinct (HLL++, rsd=0.02)
    within 5% of the exact count, and approx_percentile (KLL-style
    quantile summary, accuracy=10000) within 2% of the exact in-engine
    median. The estimates themselves are engine-specific, so the
    checked values are the booleans, which the oracle asserts as TRUE.
    This replaces round 1's oracle-less approx_distinct (the driver
    has no rows-only mode; an oracle-less query records an err).

    The banded pair is the scale contract: at 100 TB the exact
    distinct/percentile (a per-group shuffle of distinct keys / a full
    sort) gives way to these one-pass mergeable summaries, and this row
    keeps their error inside the advertised envelope.

    Round 6 adds the fourth mergeable-summary path: the theta/KMV
    bucketed-min distinct sketch (uniqTheta analog) -- theta_nonempty
    and theta_sum_vmin are the sketch state's integer projection,
    checked EXACTLY against the oracle (portable md5 arithmetic),
    theta_ok bands the estimate at 10%."""
    li = _t(spark, sf_dir, "lineitem", spread=True)
    # THREE aggregations joined on the tiny group key, not one: mixing
    # n count-distincts with percentile aggregates in a single groupBy
    # makes Catalyst Expand the input once per distinct set AND carry
    # the percentile buffers through every expanded copy -- measured
    # 18.4 s at sf0.1 fused vs ~3.5 s split (each split agg partial-
    # aggregates/deduplicates map-side before its exchange). The join
    # keys are |groups| rows; AQE broadcasts them.
    dst = (li.groupBy("l_returnflag")
             .agg(F.countDistinct("l_partkey").alias("n_parts"),
                  F.countDistinct("l_suppkey").alias("n_supps"),
                  F.count(F.lit(1)).alias("n_rows"),
                  F.countDistinct("l_orderkey").alias("n_orders")))
    # approx_count_distinct rides the percentile aggregation (round
    # 15, guide §2.4): both are plain (non-distinct) aggregates over
    # the same group key, so fusing them costs no Expand -- the trap
    # above is specific to COUNT(DISTINCT) sets -- and drops one whole
    # lineitem scan + aggregation + join from the five-branch plan.
    pct = (li.groupBy("l_returnflag")
             .agg(F.expr("percentile(l_extendedprice, 0.5)")
                   .alias("exact_p50"),
                  F.expr("approx_percentile(l_extendedprice, 0.5, 10000)")
                   .alias("approx_p50"),
                  F.approx_count_distinct("l_orderkey", 0.02)
                   .alias("approx_orders")))
    agg = dst.join(pct, "l_returnflag")
    ok = (F.abs(F.col("approx_orders") - F.col("n_orders"))
          <= 0.05 * F.col("n_orders"))
    p50_ok = (F.abs(F.col("approx_p50") - F.col("exact_p50"))
              <= 0.02 * F.col("exact_p50"))
    # the third mergeable-summary path: groupBitmap (operators/
    # bitmap.py). Exact BY construction, so the checked value is the
    # cardinality itself (== COUNT(DISTINCT) in the oracle), computed
    # through the real sparse-bitmap plan -- bit_or agg + popcount sum
    bm = bitmap.bitmap_cardinality(
        bitmap.bitmap_agg(li, ["l_returnflag"], "l_orderkey"),
        ["l_returnflag"])
    # the fourth mergeable-summary path: the theta/KMV distinct sketch
    # (operators/sketch.theta_sketch, ClickHouse uniqTheta analog).
    # Its STATE is portable md5 arithmetic, so the integer half
    # (nonempty buckets, sum of bucket minima) is hash-checked exactly
    # against the oracle; the estimate itself is banded like the HLL.
    th = sketch.theta_estimate(
        sketch.theta_sketch(li, ["l_returnflag"], "l_orderkey"),
        ["l_returnflag"])
    out = (agg.join(bm, "l_returnflag").join(th, "l_returnflag"))
    theta_ok = (F.abs(F.col("est") - F.col("n_orders"))
                <= 0.1 * F.col("n_orders"))
    return (out.select("l_returnflag", "n_parts", "n_supps", "n_rows",
                       "n_orders", ok.alias("approx_ok"),
                       p50_ok.alias("approx_p50_ok"),
                       F.col("cardinality").alias("n_orders_bitmap"),
                       F.col("nonempty").alias("theta_nonempty"),
                       F.col("sum_vmin").alias("theta_sum_vmin"),
                       theta_ok.alias("theta_ok")))


_DISTINCT_VS_APPROX_SQL = f"""
WITH th AS (
  {sketch.theta_sql("lineitem", "l_orderkey", "l_returnflag")}
)
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(DISTINCT l_suppkey) AS n_supps,
       COUNT(*) AS n_rows,
       COUNT(DISTINCT l_orderkey) AS n_orders,
       TRUE AS approx_ok,
       TRUE AS approx_p50_ok,
       COUNT(DISTINCT l_orderkey) AS n_orders_bitmap,
       MAX(th.nonempty) AS theta_nonempty,
       MAX(th.sum_vmin) AS theta_sum_vmin,
       TRUE AS theta_ok
FROM lineitem JOIN th ON th.grp = l_returnflag
GROUP BY l_returnflag
"""


QUERIES = {
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_local_supplier": q5_local_supplier,
    # q10/q14 moved into tpch.tpch_suite_a as parts 'q10'/'q14' (their
    # DataFrame twins above remain for the broadcast-policy plan tests)
    "q18_large_orders": q18_large_orders,
    "join_outer_cross": join_outer_cross,
    "join_semi_anti": join_semi_anti,
    "scalar_subquery_above_avg": scalar_subquery_above_avg,
    "join_asof": join_asof,
    "join_range_binned": join_range_binned,
    "agg_grouping_stats": agg_grouping_stats,
    "join_skew_salted": join_skew_salted,
    "window_topk_per_group": window_topk_per_group,
    "window_running_sum": window_running_sum,
    "window_sessionize": window_sessionize,
    "window_analytics": window_analytics,
    "topk_orders": topk_orders,
    "pivot_status": pivot_status,
    "set_ops": set_ops,
    "distinct_vs_approx": distinct_vs_approx,
}

ORACLE = {
    "q1_pricing_summary": _Q1_SQL,
    "q3_shipping_priority": _Q3_SQL,
    "q5_local_supplier": _Q5_SQL,
    "q18_large_orders": _Q18_SQL,
    "join_outer_cross": _OUTER_CROSS_SQL,
    "join_semi_anti": _SEMI_ANTI_SQL,
    "scalar_subquery_above_avg": _SCALAR_SUB_SQL,
    "join_asof": _ASOF_SQL,
    "join_range_binned": _RANGE_SQL,
    "agg_grouping_stats": _GROUPING_STATS_SQL,
    "join_skew_salted": _SKEW_SQL,
    "window_topk_per_group": _TOPK_GRP_SQL,
    "window_running_sum": _RUNNING_SQL,
    "window_sessionize": _SESSION_SQL,
    "window_analytics": _WINDOW_ANALYTICS_SQL,
    "topk_orders": _TOPK_SQL,
    "pivot_status": _PIVOT_SQL,
    "set_ops": _SET_OPS_SQL,
    "distinct_vs_approx": _DISTINCT_VS_APPROX_SQL,
}


def hierarchy_closure(nodes: DataFrame, max_depth: int = 32) -> DataFrame:
    """Hierarchical query via Spark 4's recursive CTEs (SPARK-24497):
    for an acyclic (id, parent) forest, returns (id, root, depth) by
    walking from the roots -- the WITH RECURSIVE surface the sink DB
    (ClickHouse >= 24.4, and every warehouse) serves for org charts /
    BOM rollups / path queries.

    Spark's recursion supports UNION ALL only (the analyzer rejects
    UNION-distinct -- verified), so the input must be acyclic;
    max_depth bounds the recursive leg against malformed input. Cyclic
    graphs (near-dup clusters) use operators/dedup.duplicate_clusters'
    iterative label propagation instead -- that one converges on any
    graph. Each recursive step is one keyed join, shuffled like any
    other; depth, not corpus size, bounds the iteration count."""
    spark = nodes.sparkSession
    nodes.createOrReplaceTempView("__hier_nodes")
    return spark.sql(f"""
      WITH RECURSIVE anc AS (
        SELECT id, id AS root, 0 AS depth
        FROM __hier_nodes WHERE parent IS NULL
        UNION ALL
        SELECT n.id, a.root, a.depth + 1
        FROM __hier_nodes n JOIN anc a ON n.parent = a.id
        WHERE a.depth < {int(max_depth)})
      SELECT id, root, depth FROM anc""")
