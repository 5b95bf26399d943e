"""TPC-H completion wave (SURVEY.md §2.24, round 5f): the remaining
classic shapes — Q2, Q6, Q7, Q9, Q11, Q12, Q13, Q14, Q20, Q21 —
adapted to the driver schema (no partsupp table: supplier cost /
availability stand-ins are s_acctbal, p_retailprice, and shipped
quantity; no commit/receipt dates: lateness is ship-after-order+N).
With these, every one of the 22 TPC-H query SHAPES has a qid:
Q1 q_agg_hash, Q3 q_olap_shipping_priority, Q4 q_olap_exists /
q_olap_order_priority, Q5 q_olap_local_supplier, Q8
q_olap_market_share, Q10 q_olap_returned_items, Q15
q_olap_top_supplier, Q16 q_olap_parts_suppliers, Q17
q_olap_scalar_subquery, Q18 q_olap_having_in, Q19 q_olap_disjunctive,
Q22 q_olap_avg_balance, plus this module's ten.

Dialect discipline: identical-text ANSI SQL run verbatim by both
engines (the q_sql_ansi / subqueries.py pattern) — integer-cents
money, BIGINT-cast quantities, no integer division, CAST every
output aggregate (DuckDB widens sums to HUGEINT), deterministic
ORDER BY tie-breaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from metoffice_spark.io import sql_frame
from metoffice_spark.operators.relational import _DISC_PRICE
from metoffice_spark.parity import bigint_sql, cents_sql

QUERIES: dict = {}

def _sql_query(qid: str, sql: str, tables: tuple, doc: str):
    def fn(spark: SparkSession, sf_dir: str, _sql=sql, _tables=tables) -> DataFrame:
        return sql_frame(spark, sf_dir, _tables, _sql)

    fn.__name__ = qid
    fn.__doc__ = doc
    QUERIES[qid] = (fn, sql)


# --- Q2 shape: min-cost supplier per part ------------------------------------
#
# For each size-10 part shipped within EUROPE, the supplier(s) whose
# account balance equals the per-part minimum over the same region
# (s_acctbal stands in for ps_supplycost). The correlated min
# subquery decorrelates to a per-partkey aggregate joined back; the
# DISTINCT (part, supp) shipping relation replaces partsupp and
# shuffles once, reused by both sides. Dims broadcast at any SF.

SQL_OLAP_MIN_COST_SUPP = """
WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
SELECT p.p_partkey, p.p_name, s.s_name, n.n_name, s.s_acctbal
FROM part p, supplier s, nation n, region r, ps
WHERE p.p_partkey = ps.l_partkey AND s.s_suppkey = ps.l_suppkey
  AND s.s_nationkey = n.n_nationkey AND n.n_regionkey = r.r_regionkey
  AND r.r_name = 'EUROPE' AND p.p_size = 10
  AND s.s_acctbal = (
    SELECT min(s2.s_acctbal)
    FROM supplier s2, nation n2, region r2, ps ps2
    WHERE ps2.l_partkey = p.p_partkey AND s2.s_suppkey = ps2.l_suppkey
      AND s2.s_nationkey = n2.n_nationkey AND n2.n_regionkey = r2.r_regionkey
      AND r2.r_name = 'EUROPE')
ORDER BY s.s_acctbal, p.p_partkey, s.s_name
LIMIT 100
"""

_sql_query(
    "q_olap_min_cost_supp",
    SQL_OLAP_MIN_COST_SUPP,
    ("lineitem", "part", "supplier", "nation", "region"),
    "Q2 shape: correlated per-part min over a region-filtered "
    "supplier set; decorrelates to a partkey aggregate.",
)


# --- Q6 shape: forecast revenue change ---------------------------------------
#
# The pure scan-filter-aggregate: one year, a discount band, small
# quantities; revenue = sum(extendedprice*discount) in exact cents.
# Both date bounds and all three predicates push to the parquet scan;
# the aggregate is a single partial-combinable global sum.

SQL_OLAP_REVENUE_DELTA = f"""
SELECT CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum({cents_sql("l_extendedprice * l_discount")}) AS BIGINT) AS revenue_cents
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24.0
"""

_sql_query(
    "q_olap_revenue_delta",
    SQL_OLAP_REVENUE_DELTA,
    ("lineitem",),
    "Q6 shape: scan-filter-aggregate with full predicate pushdown.",
)


# --- Q7 shape: volume shipping between two nations ---------------------------
#
# Bidirectional trade volume between two nations by ship year. The
# nation pair predicate applies AFTER the two broadcast dim joins;
# the fact shuffles once through the orders join; revenue in exact
# cents per (supp_nation, cust_nation, year) cell.

SQL_OLAP_VOLUME_SHIPPING = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS INT) AS l_year,
       CAST(sum({cents_sql(_DISC_PRICE)}) AS BIGINT) AS revenue_cents
FROM lineitem l, orders o, customer c, supplier s, nation n1, nation n2
WHERE s.s_suppkey = l.l_suppkey AND o.o_orderkey = l.l_orderkey
  AND c.c_custkey = o.o_custkey
  AND s.s_nationkey = n1.n_nationkey AND c.c_nationkey = n2.n_nationkey
  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
  AND l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate)
ORDER BY supp_nation, cust_nation, l_year
"""

_sql_query(
    "q_olap_volume_shipping",
    SQL_OLAP_VOLUME_SHIPPING,
    ("lineitem", "orders", "customer", "supplier", "nation"),
    "Q7 shape: bidirectional nation-pair trade volume by year.",
)


# --- Q9 shape: product-type profit -------------------------------------------
#
# Profit per supplier nation per order year over a part-name family;
# cost proxy = 0.5 * p_retailprice per unit (no partsupp). The
# per-line amount can be NEGATIVE — summed as exact signed BIGINT
# cents (order-free), with no division anywhere.

SQL_OLAP_PRODUCT_PROFIT = f"""
SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INT) AS o_year,
       CAST(sum({cents_sql("l.l_extendedprice * (1.0 - l.l_discount) - 0.5 * p.p_retailprice * l.l_quantity")}) AS BIGINT) AS profit_cents
FROM lineitem l, orders o, part p, supplier s, nation n
WHERE o.o_orderkey = l.l_orderkey AND p.p_partkey = l.l_partkey
  AND s.s_suppkey = l.l_suppkey AND n.n_nationkey = s.s_nationkey
  AND p.p_name LIKE '%widget%'
GROUP BY n.n_name, year(o.o_orderdate)
ORDER BY nation, o_year DESC
"""

_sql_query(
    "q_olap_product_profit",
    SQL_OLAP_PRODUCT_PROFIT,
    ("lineitem", "orders", "part", "supplier", "nation"),
    "Q9 shape: signed-cents profit per nation-year over a part family.",
)


# --- Q11 shape: important stock ----------------------------------------------
#
# Per-part shipped inventory value for one nation's suppliers,
# keeping parts above 0.1% of the nation total — the HAVING-vs-
# scalar-subquery shape, with the threshold as an exact integer
# cross-multiplication (1000 * part_value > total) instead of a
# fractional divide.

SQL_OLAP_IMPORTANT_STOCK = f"""
SELECT l.l_partkey,
       CAST(sum({cents_sql("l.l_quantity * p.p_retailprice")}) AS BIGINT) AS value_cents
FROM lineitem l, part p, supplier s, nation n
WHERE p.p_partkey = l.l_partkey AND s.s_suppkey = l.l_suppkey
  AND n.n_nationkey = s.s_nationkey AND n.n_name = 'NATION_3'
GROUP BY l.l_partkey
HAVING 1000 * sum({cents_sql("l.l_quantity * p.p_retailprice")})
       > (SELECT sum({cents_sql("l2.l_quantity * p2.p_retailprice")})
          FROM lineitem l2, part p2, supplier s2, nation n2
          WHERE p2.p_partkey = l2.l_partkey AND s2.s_suppkey = l2.l_suppkey
            AND n2.n_nationkey = s2.s_nationkey AND n2.n_name = 'NATION_3')
ORDER BY value_cents DESC, l_partkey
"""

_sql_query(
    "q_olap_important_stock",
    SQL_OLAP_IMPORTANT_STOCK,
    ("lineitem", "part", "supplier", "nation"),
    "Q11 shape: group-HAVING against an uncorrelated scalar total, "
    "threshold as integer cross-multiplication.",
)


# --- Q12 shape: ship-latency service levels ----------------------------------
#
# Orders bucketed by ship latency (line shipped more than 60 days
# after order date = slow), counting high- vs low-priority lines per
# bucket — Q12's CASE-pivot aggregate with the latency predicate as
# the shared non-equi date term.

SQL_OLAP_SHIP_LATENCY = """
SELECT CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL '60' DAY
            THEN 'slow' ELSE 'fast' END AS latency,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem l, orders o
WHERE o.o_orderkey = l.l_orderkey
GROUP BY CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL '60' DAY
              THEN 'slow' ELSE 'fast' END
ORDER BY latency
"""

_sql_query(
    "q_olap_ship_latency",
    SQL_OLAP_SHIP_LATENCY,
    ("lineitem", "orders"),
    "Q12 shape: latency-bucketed priority CASE-pivot aggregate.",
)


# --- Q13 shape: customer order-count distribution ----------------------------
#
# The two-level aggregate with an outer join: per-customer order
# counts (excluding one priority class as the comment-filter
# stand-in), then the histogram of those counts. Customers with no
# orders land in the c_count = 0 bucket via the LEFT JOIN.

SQL_OLAP_CUST_DISTRIBUTION = """
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
  SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
  FROM customer c
  LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                    AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
) pc
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""

_sql_query(
    "q_olap_cust_distribution",
    SQL_OLAP_CUST_DISTRIBUTION,
    ("customer", "orders"),
    "Q13 shape: outer-join two-level aggregate (order-count histogram).",
)


# --- Q14 shape: promo revenue share ------------------------------------------
#
# Share of one month's revenue from PROMO-type parts: both legs are
# exact cent sums over the SAME rows; the share is the single final
# IEEE division (house rule).

SQL_OLAP_PROMO_SHARE = f"""
SELECT CAST(sum(CASE WHEN p.p_type = 'PROMO' THEN {cents_sql(_DISC_PRICE)}
                     ELSE 0 END) AS BIGINT) AS promo_cents,
       CAST(sum({cents_sql(_DISC_PRICE)}) AS BIGINT) AS total_cents,
       100.0 * CAST(sum(CASE WHEN p.p_type = 'PROMO' THEN {cents_sql(_DISC_PRICE)}
                             ELSE 0 END) AS DOUBLE)
         / CAST(sum({cents_sql(_DISC_PRICE)}) AS DOUBLE) AS promo_share
FROM lineitem l, part p
WHERE l.l_partkey = p.p_partkey
  AND l.l_shipdate >= TIMESTAMP '1997-03-01'
  AND l.l_shipdate < TIMESTAMP '1997-04-01'
"""

_sql_query(
    "q_olap_promo_share",
    SQL_OLAP_PROMO_SHARE,
    ("lineitem", "part"),
    "Q14 shape: conditional revenue share, one IEEE division last.",
)


# --- Q20 shape: part-promotion candidates ------------------------------------
#
# Suppliers in one nation who shipped a meaningful volume of a part
# family in one year — the nested IN-over-grouped-HAVING chain
# (supplier IN (grouped lineitem x part)). The grouped subquery keys
# on (suppkey, partkey); the IN collapses to a semi-join on suppkey.

SQL_OLAP_PART_PROMOTION = f"""
SELECT s.s_name, s.s_acctbal
FROM supplier s, nation n
WHERE s.s_nationkey = n.n_nationkey AND n.n_name = 'NATION_5'
  AND s.s_suppkey IN (
    SELECT l.l_suppkey
    FROM lineitem l, part p
    WHERE l.l_partkey = p.p_partkey AND p.p_name LIKE 'large%'
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l.l_suppkey, l.l_partkey
    HAVING sum({bigint_sql("l.l_quantity")}) > 50)
ORDER BY s.s_name
"""

_sql_query(
    "q_olap_part_promotion",
    SQL_OLAP_PART_PROMOTION,
    ("lineitem", "part", "supplier", "nation"),
    "Q20 shape: IN over grouped-HAVING volume threshold -> semi-join.",
)


# --- Q21 shape: suppliers who kept orders waiting ----------------------------
#
# For finished orders in one nation: lines shipped 90+ days late
# where ANOTHER supplier also participated (EXISTS) but NO other
# supplier was late on the same order (NOT EXISTS) — the classic
# double-correlated existential pair. Both subqueries correlate on
# l_orderkey equality ONLY (the late predicate re-joins orders
# inside, keeping the correlation decorrelatable to orderkey
# semi/anti joins). The dim filter is a half-of-nations range rather
# than Q21's single nation: with 4 suppliers/nation at driver SFs a
# one-nation filter empties the result and the sole-late logic would
# go untested.

SQL_OLAP_WAITING_SUPPLIER = """
SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
FROM supplier s, lineitem l1, orders o, nation n
WHERE s.s_suppkey = l1.l_suppkey AND o.o_orderkey = l1.l_orderkey
  AND o.o_orderstatus = 'F' AND n.n_nationkey = s.s_nationkey
  AND n.n_nationkey < 13
  AND l1.l_shipdate > o.o_orderdate + INTERVAL '90' DAY
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3, orders o3
    WHERE o3.o_orderkey = l3.l_orderkey AND l3.l_orderkey = l1.l_orderkey
      AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > o3.o_orderdate + INTERVAL '90' DAY)
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name
LIMIT 20
"""

_sql_query(
    "q_olap_waiting_supplier",
    SQL_OLAP_WAITING_SUPPLIER,
    ("lineitem", "orders", "supplier", "nation"),
    "Q21 shape: EXISTS + NOT EXISTS pair correlated on orderkey.",
)
