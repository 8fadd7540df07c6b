"""Full TPC-H-shape suite: the remaining 16 query shapes (Q2..Q22),
plus Q10/Q14 folded in from their former standalone registry slots.

The reference delegates all query-time computation to ClickHouse over
the synced tables (reference README.md:44-56), so capability parity
means a user can run the WHOLE classic warehouse workload here. The
repo's standalone entries already cover Q1/Q3/Q5/Q18; this module adds
every remaining TPC-H query as a labelled part of two merged registry
entries (`tpch_suite_a`, `tpch_suite_b`), keeping the registry inside
the driver's 50-entry check window.

Fixture adaptation (the testdata is trimmed TPC-H: no partsupp table;
lineitem lacks commit/receipt dates, shipmode, shipinstruct; no phone /
comment / container / mfgr columns): each part preserves the ORIGINAL
query's plan shape — the joins, the subquery structure, the aggregate
pattern — and substitutes an available column where a missing one was
only a filter operand. Substitutions are noted per part.

Engine-portable by construction: every part is ONE ANSI-SQL text that
both Spark (via `spark.sql` over the registered temp views — the same
Catalyst plan the DataFrame API would declare) and the DuckDB oracle
execute. The correctness gate therefore compares two independent
engines running one declarative query — exactly the parity the suite
is meant to prove. All parts are normalized to a single union schema
`(part, k1, k2, n1, n2, v1, v2)` so 18 heterogeneous result shapes fit
two registry entries.

Scale notes (100 TB stance):
- no join hints anywhere: every dimension here (part/supplier/
  customer) is sf-proportional, so AQE picks broadcast at small sf and
  shuffle at scale (the broadcast policy asserted in test_plans.py).
- every aggregate over floats uses the repo's exact-decimal convention
  (functions/numeric.py) so results are partition-order-independent.
- correlated subqueries (q2/q17/q22) decorrelate to aggregate+join in
  Catalyst — no per-row re-execution; EXISTS/NOT EXISTS (q4/q21/q22)
  become semi/anti joins.
- deterministic double thresholds: correlated AVG comparisons compute
  `CAST(exact-decimal-SUM AS DOUBLE) / COUNT(*)` so both engines (and
  any partitioning) produce bit-identical cutoffs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..functions.numeric import sql_dsum
from ..sources.tables import register_views


def _dsum_expr(expr: str) -> str:
    """sql_dsum's expression without the trailing alias (for _head)."""
    return sql_dsum(expr, "x").rsplit(" AS ", 1)[0]

_NB = "CAST(NULL AS BIGINT)"
_ND = "CAST(NULL AS DOUBLE)"


def _head(part: str, k1: str = "''", k2: str = _NB, n1: str = _NB,
          n2: str = _NB, v1: str = _ND, v2: str = _ND) -> str:
    return (f"SELECT '{part}' AS part, {k1} AS k1, {k2} AS k2, "
            f"{n1} AS n1, {n2} AS n2, {v1} AS v1, {v2} AS v2")


# --- Q2 style: min-cost supplier (correlated MIN subquery + 5-way join).
# partsupp.ps_supplycost is absent; the correlated minimum is taken over
# the observed unit price l_extendedprice/l_quantity instead (same
# per-row IEEE division on both engines, so the equality is exact).
_Q2 = _head("q2", k1="n_name",
            n1="CAST(COUNT(*) AS BIGINT)",
            v1=_dsum_expr("s_acctbal")) + """
FROM part
JOIN lineitem ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE p_size <= 25 AND p_type = 'LARGE' AND r_name = 'EUROPE'
  AND l_extendedprice / l_quantity = (
      SELECT MIN(l2.l_extendedprice / l2.l_quantity)
      FROM lineitem l2
      JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
      JOIN nation n2x  ON s2.s_nationkey = n2x.n_nationkey
      JOIN region r2   ON n2x.n_regionkey = r2.r_regionkey
      WHERE l2.l_partkey = p_partkey AND r2.r_name = 'EUROPE')
GROUP BY n_name
"""

# --- Q4: order priority checking (EXISTS semi-join + priority counts).
# l_commitdate < l_receiptdate is absent; the late-line predicate is
# `l_shipdate > o_orderdate AND l_returnflag = 'R'` (same EXISTS
# decorrelation into a left-semi join).
_Q4 = _head("q4", k1="o_orderpriority",
            n1="CAST(COUNT(*) AS BIGINT)") + """
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate AND l_returnflag = 'R')
GROUP BY o_orderpriority
"""

# --- Q6: forecasting revenue change (full fidelity — selective
# single-table scan + agg; the predicate-pushdown showcase).
_Q6 = _head("q6",
            n1="CAST(COUNT(*) AS BIGINT)",
            v1=_dsum_expr("l_extendedprice * l_discount")) + """
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""

# --- Q7: volume shipping between two nations by year (full shape:
# 6-way join incl. nation x2, disjunctive nation-pair predicate).
_Q7 = _head("q7", k1="supp_nation || '|' || cust_nation", k2="l_year",
            n1="CAST(COUNT(*) AS BIGINT)",
            v1=_dsum_expr("volume")) + """
FROM (
  SELECT n1x.n_name AS supp_nation, n2x.n_name AS cust_nation,
         CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM supplier
  JOIN lineitem ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1x ON s_nationkey = n1x.n_nationkey
  JOIN nation n2x ON c_nationkey = n2x.n_nationkey
  WHERE ((n1x.n_name = 'NATION_1' AND n2x.n_name = 'NATION_2')
      OR (n1x.n_name = 'NATION_2' AND n2x.n_name = 'NATION_1'))
    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
) shipping
GROUP BY supp_nation, cust_nation, l_year
"""

# --- Q8: national market share (full shape: 8-way join, share =
# conditional sum / total sum per year). NATION_3's share of ECONOMY
# parts sold into AMERICA.
_Q8 = _head(
    "q8", k2="o_year",
    n1="CAST(COUNT(*) AS BIGINT)",
    v1=("ROUND(CAST(ROUND(SUM(CAST((CASE WHEN supp_nation = 'NATION_3' "
        "THEN volume ELSE 0.0 END) AS DECIMAL(38,6))), 2) AS DOUBLE) / "
        "CAST(ROUND(SUM(CAST(volume AS DECIMAL(38,6))), 2) "
        "AS DOUBLE), 6)")) + """
FROM (
  SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         n2x.n_name AS supp_nation
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1x ON c_nationkey = n1x.n_nationkey
  JOIN region   ON n1x.n_regionkey = r_regionkey
  JOIN nation n2x ON s_nationkey = n2x.n_nationkey
  WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
) all_nations
GROUP BY o_year
"""

# --- Q9 style: product-type profit by nation and year. ps_supplycost
# is absent, so profit is revenue l_extendedprice*(1-l_discount) (the
# plan shape — part-name LIKE filter, 5-way join, nation x year
# rollup — is unchanged). '%red%' replaces '%green%' (fixture colors).
_Q9 = _head("q9", k1="n_name", k2="o_year",
            n1="CAST(COUNT(*) AS BIGINT)",
            v1=_dsum_expr("amount")) + """
FROM (
  SELECT n_name, CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
         l_extendedprice * (1 - l_discount) AS amount
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE p_name LIKE '%red%'
) profit
GROUP BY n_name, o_year
"""

# --- Q10: returned-items customers (folded from the former standalone
# registry entry; same query — join+agg+deterministic top-20).
_Q10 = _head("q10", k1="c_name", k2="CAST(c_custkey AS BIGINT)",
             v1="revenue") + """
FROM (
  SELECT c_custkey, c_name,
         """ + sql_dsum("l_extendedprice * (1 - l_discount)",
                        "revenue") + """
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  WHERE l_returnflag = 'R'
  GROUP BY c_custkey, c_name, n_name
  ORDER BY revenue DESC, c_custkey ASC
  LIMIT 20
) topcust
"""

# --- Q14: promo revenue share per month (folded from the former
# standalone registry entry; same query).
_Q14 = _head(
    "q14", k1="CAST(EXTRACT(YEAR FROM mon) AS BIGINT) || '-' || "
              "CAST(EXTRACT(MONTH FROM mon) AS BIGINT)",
    v1="promo_revenue", v2="total_revenue") + """
FROM (
  SELECT CAST(DATE_TRUNC('month', l_shipdate) AS TIMESTAMP) AS mon,
         """ + sql_dsum(
        "CASE WHEN p_type LIKE 'PROMO%' THEN "
        "l_extendedprice * (1 - l_discount) ELSE 0.0 END",
        "promo_revenue") + """,
         """ + sql_dsum("l_extendedprice * (1 - l_discount)",
                        "total_revenue") + """
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1
) promo
"""

_PARTS_A = [_Q2, _Q4, _Q6, _Q7, _Q8, _Q9, _Q10, _Q14]


# --- Q11 style: important stock (group + HAVING against an
# uncorrelated global scalar subquery). partsupp value is absent; the
# per-brand inventory value is sum(l_extendedprice * l_quantity) from
# NATION_5's suppliers, HAVING > 1% of that nation's global value.
_Q11 = _head("q11", k1="p_brand",
             n1="CAST(COUNT(*) AS BIGINT)",
             v1=_dsum_expr("l_extendedprice * l_quantity")) + """
FROM part
JOIN lineitem ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_5'
GROUP BY p_brand
HAVING SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(38,6))) >
       (SELECT 0.01 * SUM(CAST(l_extendedprice * l_quantity
                               AS DECIMAL(38,6)))
        FROM lineitem
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_5')
"""

# --- Q12 style: shipping-mode priority counts. l_shipmode/l_commitdate
# are absent: lines group by l_returnflag and the lateness predicate is
# l_shipdate >= o_orderdate (same join + two conditional counts).
_Q12 = _head(
    "q12", k1="l_returnflag",
    n1=("CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') "
        "THEN 1 ELSE 0 END) AS BIGINT)"),
    n2=("CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', "
        "'2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)")) + """
FROM orders
JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= o_orderdate
  AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_returnflag
"""

# --- Q13: customer order-count distribution (left outer join with an
# ON-clause filter, then a histogram of counts). o_comment NOT LIKE is
# absent; the ON filter excludes urgent orders instead.
_Q13 = _head("q13", k2="c_count", n1="CAST(COUNT(*) AS BIGINT)") + """
FROM (
  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
  FROM customer
  LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
"""

# --- Q15: top supplier by quarterly revenue (CTE used twice: once for
# the per-supplier revenue, once for the MAX — full fidelity). The
# equality compares the exact DECIMAL sums, so ties are engine-stable.
_Q15 = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         SUM(CAST(l_extendedprice * (1 - l_discount)
                  AS DECIMAL(38,6))) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
  GROUP BY l_suppkey
)
""" + _head("q15", k1="s_name", k2="CAST(s_suppkey AS BIGINT)",
            v1="CAST(ROUND(total_revenue, 2) AS DOUBLE)") + """
FROM supplier
JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
"""

# --- Q16 style: supplier relation count per part attribute (join +
# NOT IN anti-subquery + COUNT(DISTINCT)). partsupp is absent (links
# come from lineitem); the complaints filter is negative-balance
# suppliers.
_Q16 = _head("q16", k1="p_brand", k2="CAST(p_size AS BIGINT)",
             n1="CAST(COUNT(DISTINCT l_suppkey) AS BIGINT)") + """
FROM part
JOIN lineitem ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
  AND l_suppkey NOT IN
      (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_size
"""

# --- Q17: small-quantity-order revenue (correlated AVG subquery;
# full shape — p_container filter dropped, fixture has none). The
# threshold is computed as CAST(exact-decimal-SUM AS DOUBLE)/COUNT so
# both engines derive a bit-identical double before the comparison.
_Q17 = _head(
    "q17",
    n1="CAST(COUNT(*) AS BIGINT)",
    v1=("ROUND(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(38,6))), "
        "2) AS DOUBLE) / 7.0, 2)")) + """
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#3' AND p_type = 'SMALL'
  AND l_quantity < (
      SELECT CAST(SUM(CAST(l2.l_quantity AS DECIMAL(38,6)))
                  AS DOUBLE) / COUNT(*) * 0.2
      FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
"""

# --- Q19: discounted revenue, disjunctive predicates (the OR-of-ANDs
# join filter; shipmode/shipinstruct legs dropped — fixture has none).
_Q19 = _head("q19",
             n1="CAST(COUNT(*) AS BIGINT)",
             v1=_dsum_expr("l_extendedprice * (1 - l_discount)")) + """
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       AND l_quantity >= 1 AND l_quantity <= 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       AND l_quantity >= 10 AND l_quantity <= 20)
   OR (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 15
       AND l_quantity >= 20 AND l_quantity <= 30)
"""

# --- Q20 style: potential part promotion (IN-subquery over a grouped
# HAVING — the availqty>half-shipped condition becomes a shipped-
# quantity threshold since partsupp is absent; 'small%' replaces
# 'forest%').
_Q20 = _head("q20", k1="s_name", k2="CAST(s_suppkey AS BIGINT)",
             v1="s_acctbal") + """
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_7'
  AND s_suppkey IN (
      SELECT l_suppkey
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_name LIKE 'small%'
        AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY l_suppkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(38,6))) > 50)
"""

# --- Q21 style: suppliers who kept orders waiting (EXISTS + NOT EXISTS
# self-joins on lineitem). receiptdate/commitdate are absent: "waiting"
# means this supplier's line shipped strictly last on a multi-supplier
# 'F' order (same two decorrelated semi/anti self-joins).
_Q21 = _head("q21", k1="s_name", n1="CAST(COUNT(*) AS BIGINT)") + """
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
JOIN nation ON s_nationkey = n_nationkey
WHERE o_orderstatus = 'F' AND n_name = 'NATION_4'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > l1.l_shipdate)
GROUP BY s_name
"""

# --- Q22 style: global sales opportunity (anti-join customers with no
# recent orders + uncorrelated AVG threshold). c_phone is absent: the
# country code is c_custkey % 10 over the odd codes; "never ordered"
# becomes "no order since 2000" (the fixture's order fan-out touches
# every customer, which would make the pure anti-join empty). Same plan
# shape — the grouped anti-join under a deterministic double threshold.
_Q22 = _head("q22", k2="cntrycode", n1="CAST(COUNT(*) AS BIGINT)",
             v1=_dsum_expr("c_acctbal")) + """
FROM (
  SELECT c_custkey % 10 AS cntrycode, c_acctbal
  FROM customer
  WHERE c_custkey % 10 IN (1, 3, 5, 7, 9)
    AND c_acctbal > (
        SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(38,6)))
                    AS DOUBLE) / COUNT(*)
        FROM customer c2
        WHERE c2.c_acctbal > 0.0 AND c2.c_custkey % 10 IN (1, 3, 5, 7, 9))
    AND NOT EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey
                      AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
) custsale
GROUP BY cntrycode
"""

# --- Q21 Spark-side rewrite (r16, guide §2.4/§3): the EXISTS +
# NOT EXISTS pair decorrelates into a left-semi and a left-anti join
# that each shuffle the FULL lineitem relation by orderkey -- three
# lineitem scans and two fat self-joins for information that is a
# per-(orderkey, suppkey) aggregate. Equivalent single-pass form:
#   m_other(o, s) = max shipdate among o's lines from OTHER suppliers
#   l1 qualifies  <=>  order has >= 2 suppliers  (the EXISTS)
#                  AND l1.shipdate >= m_other     (the NOT EXISTS)
# m_other comes from the per-(o, s) max table: it is the order max m1
# unless s is the UNIQUE supplier attaining m1, in which case it is
# the best non-max supplier max m2. Both window layers share one
# orderkey partitioning (no extra exchange). Two lineitem scans
# instead of three; the (o, s)-grain relation replaces both
# full-lineitem self-joins. NULL shipdates would diverge (the
# original's NULL comparison keeps such l1 rows, a >= test drops
# them); the schema contract has l_shipdate NOT NULL.
#
# WHEN it wins (measured, r16): only once lineitem is too big to
# broadcast. On the fixtures the decorrelated EXISTS pair runs as
# BroadcastHashJoin LeftSemi/LeftAnti -- no shuffle at all -- and the
# rewrite's agg + two windows measured WORSE (suite isolated 3.5 vs
# 4.0 s; plans/r16/tpch_suite_b_q21_{before,after}.txt). At scale the
# anti/semi sides are the full fact table: Spark falls back to
# sort-merge, shuffling lineitem twice, while the rewrite shuffles
# the map-combined (orderkey, suppkey) grain once. tpch_suite_b
# therefore dispatches on lineitem's on-disk size (the
# _spread_starved_scan pattern: scale-adaptive, not a local tune);
# both texts' equivalence is pytest-pinned against each other and the
# oracle text (tests/test_oracle_parity.py::test_q21_rewrite_*).
_Q21_SPARK = """
WITH ls AS (
  SELECT l_orderkey, l_suppkey, MAX(l_shipdate) AS s_max
  FROM lineitem GROUP BY l_orderkey, l_suppkey
), lw AS (
  SELECT l_orderkey, l_suppkey, s_max,
         MAX(s_max) OVER (PARTITION BY l_orderkey) AS m1,
         COUNT(*)  OVER (PARTITION BY l_orderkey) AS n_supp
  FROM ls
), mo AS (
  SELECT l_orderkey, l_suppkey, n_supp,
         CASE WHEN s_max < m1
                   OR SUM(CASE WHEN s_max = m1 THEN 1 ELSE 0 END)
                      OVER (PARTITION BY l_orderkey) >= 2
              THEN m1
              ELSE MAX(CASE WHEN s_max < m1 THEN s_max END)
                   OVER (PARTITION BY l_orderkey) END AS m_other
  FROM lw
)
""" + _head("q21", k1="s_name", n1="CAST(COUNT(*) AS BIGINT)") + """
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
JOIN nation ON s_nationkey = n_nationkey
JOIN mo ON mo.l_orderkey = l1.l_orderkey
       AND mo.l_suppkey = l1.l_suppkey
WHERE o_orderstatus = 'F' AND n_name = 'NATION_4'
  AND mo.n_supp >= 2 AND l1.l_shipdate >= mo.m_other
GROUP BY s_name
"""

_PARTS_B = [_Q11, _Q12, _Q13, _Q15, _Q16, _Q17, _Q19, _Q20, _Q21, _Q22]
# Spark runs the q21 rewrite; the ORACLE keeps the original EXISTS
# text, so the two texts' equivalence is itself driver-checked
_PARTS_B_SPARK = [_Q21_SPARK if p is _Q21 else p for p in _PARTS_B]


def _suite_sql(parts: list[str]) -> str:
    return "\nUNION ALL\n".join(f"SELECT * FROM (\n{p.strip()}\n) u{i}"
                                for i, p in enumerate(parts))


_SUITE_A_SQL = _suite_sql(_PARTS_A)
_SUITE_B_SQL = _suite_sql(_PARTS_B)
_SUITE_B_SPARK_SQL = _suite_sql(_PARTS_B_SPARK)


# the suites touch only the 7 TPC-H tables; registering the other
# three fixture tables (events/documents/embeddings) per construction
# paid three parquet-footer reads + view registrations for nothing
# (r16 -- construction is inside the bench's timed cold number now)
_SUITE_TABLES = ("region", "nation", "customer", "supplier", "part",
                 "orders", "lineitem")


def _run_suite(spark: SparkSession, sf_dir: str, sql: str) -> DataFrame:
    register_views(spark, sf_dir, tables=_SUITE_TABLES)
    return spark.sql(sql)


def tpch_suite_a(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H shapes Q2, Q4, Q6, Q7, Q8, Q9 + folded Q10, Q14."""
    return _run_suite(spark, sf_dir, _SUITE_A_SQL)


# beyond this, lineitem no longer broadcasts (even heavily projected)
# and the EXISTS pair becomes two sort-merge self-shuffles of the fact
# table -- the regime the q21 window rewrite is for
_Q21_REWRITE_BYTES = 256 << 20


def tpch_suite_b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H shapes Q11, Q12, Q13, Q15, Q16, Q17, Q19, Q20, Q21, Q22.
    Runs the q21 single-pass window rewrite once lineitem is past
    broadcast size (see _Q21_SPARK's header); the oracle always keeps
    the original decorrelated-EXISTS text, so whichever variant runs
    is checked against the original semantics."""
    path = os.path.join(sf_dir, "lineitem.parquet")
    # a directory-backed (cluster-scale) lineitem is the rewrite
    # regime; getsize on a directory is the inode size, so check first
    big = (os.path.isdir(path)
           or os.path.getsize(path) >= _Q21_REWRITE_BYTES)
    return _run_suite(spark, sf_dir,
                      _SUITE_B_SPARK_SQL if big else _SUITE_B_SQL)


QUERIES = {
    "tpch_suite_a": tpch_suite_a,
    "tpch_suite_b": tpch_suite_b,
}

ORACLE = {
    "tpch_suite_a": _SUITE_A_SQL,
    "tpch_suite_b": _SUITE_B_SQL,
}
