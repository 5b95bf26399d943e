"""Correlated-subquery / decorrelation OLAP shapes (SURVEY.md §2.20,
round 5d).

The classic TPC-H subquery patterns a warehouse user expects the SQL
face of this engine to run — correlated scalar subqueries (Q17),
EXISTS / NOT EXISTS (Q4 / Q22), IN over a grouped HAVING (Q18), a
view-max selection (Q15), and a share-of-total rollup (Q8). Pure EXT
(the reference is a single-row ETL script, MWC:115-138); these shapes
exercise Catalyst's subquery DECORRELATION: every correlated predicate
below must plan as an aggregate + equi-join (or semi/anti join), never
a per-row re-execution and never a BNLJ over the fact table
(tests/test_plans.py locks the shapes).

Dialect discipline: each query is ONE ANSI string run verbatim by
both engines — ``io.sql_frame`` (``spark.sql`` over the table
views) on the Spark side, the identical
text as the DuckDB oracle (the q_sql_ansi pattern,
relational.py:1145). That forces the shared-subset rules:

- money through the integer-cents pattern (``floor(x*100+0.5)`` per
  row, order-free BIGINT sums, at most ONE final IEEE division);
- quantities cast to BIGINT before any sum (DuckDB widens to
  HUGEINT, so every aggregate that reaches the output re-casts);
- no integer division anywhere (Spark ``div`` truncates, DuckDB
  ``//`` floors — divergent on signed values, so banned from shared
  text entirely);
- total ORDER BY tie-breaks on a key column.

Scale notes per query sit on the docstrings; the common one: every
decorrelated aggregate here groups on the SAME key the outer join
needs (partkey / orderkey / suppkey), so at 100 TB the subquery's
shuffle co-locates with the join that consumes it and AQE can pick
sort-merge vs broadcast from the aggregate's actual size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from metoffice_spark.io import load, sql_frame
from metoffice_spark.operators.relational import _DISC_PRICE
from metoffice_spark.parity import bigint_sql, cents_sql

QUERIES: dict = {}

# --- q_olap_scalar_subquery: Q17 shape (correlated scalar x2) ---------------
#
# Small-quantity orders for one brand: lines whose quantity is under
# 20% of that part's average. The 0.2*avg(...) comparison is
# rewritten exactly: qty < sum/(5*cnt) <=> 5*qty*cnt < sum — two
# correlated scalar subqueries over exact BIGINTs instead of one IEEE
# average, so the predicate cannot flip on a ulp between engines.
#
# Catalyst decorrelates both subqueries into ONE aggregate on
# l_partkey joined back to the filtered fact (they share the
# correlation key, so the planner builds a single grouped subtree).
# At 100 TB the per-part aggregate is tiny next to lineitem and
# broadcasts into the brand-filtered scan.

SQL_OLAP_SCALAR_SUBQUERY = f"""
SELECT CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum({cents_sql(_DISC_PRICE)}) AS DOUBLE) / 700e0 AS avg_yearly
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#1'
  AND 5 * {bigint_sql("l.l_quantity")}
      * (SELECT count(*) FROM lineitem l2
         WHERE l2.l_partkey = l.l_partkey)
      < (SELECT CAST(sum({bigint_sql("l2.l_quantity")}) AS BIGINT)
         FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
"""


def q_olap_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17: correlated scalar subqueries, exact-integer rewrite of
    the 0.2*avg threshold; one final IEEE division for the yearly
    average."""
    return sql_frame(spark, sf_dir, ("lineitem", "part"), SQL_OLAP_SCALAR_SUBQUERY)


QUERIES["q_olap_scalar_subquery"] = (q_olap_scalar_subquery, SQL_OLAP_SCALAR_SUBQUERY)


# --- q_olap_exists: Q4 shape (correlated EXISTS) ----------------------------
#
# Orders placed in 1996-Q1 with at least one line shipped more than
# 60 days after the order date, counted per priority. EXISTS with a
# correlated non-equi term (l_shipdate > o_orderdate + 60d) plans as
# a LEFT SEMI join on the EQUI key l_orderkey with the date term as
# the join residual — the decorrelation TPC-H Q4 exists to test.
# Both date windows sit directly on the scans (pushdown).

SQL_OLAP_EXISTS = """
SELECT o.o_orderpriority AS priority,
       CAST(count(*) AS BIGINT) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL '60' DAY)
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
"""


def q_olap_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4: correlated EXISTS -> left-semi join with a date residual."""
    return sql_frame(spark, sf_dir, ("orders", "lineitem"), SQL_OLAP_EXISTS)


QUERIES["q_olap_exists"] = (q_olap_exists, SQL_OLAP_EXISTS)


# --- q_olap_having_in: Q18 shape (IN over grouped HAVING) -------------------
#
# Large-volume orders: customers whose order totals more than 250
# units across its lines. The IN subquery is itself an aggregate
# with HAVING; Catalyst plans it as a semi-join against the grouped
# lineitem — on the same l_orderkey key the outer fact join uses, so
# the two share a co-located shuffle at scale.

SQL_OLAP_HAVING_IN = f"""
SELECT c.c_name AS c_name,
       c.c_custkey AS c_custkey,
       o.o_orderkey AS o_orderkey,
       o.o_orderdate AS o_orderdate,
       {cents_sql("o.o_totalprice")} AS total_cents,
       CAST(sum({bigint_sql("l.l_quantity")}) AS BIGINT) AS sum_qty
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey
  HAVING sum({bigint_sql("l_quantity")}) > 250)
GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
ORDER BY total_cents DESC, o.o_orderkey
LIMIT 20
"""


def q_olap_having_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18: IN over a grouped-HAVING subquery -> semi-join on the
    grouped orderkeys; top-20 by exact cents with a key tie-break."""
    return sql_frame(spark, sf_dir, ("customer", "orders", "lineitem"), SQL_OLAP_HAVING_IN)


QUERIES["q_olap_having_in"] = (q_olap_having_in, SQL_OLAP_HAVING_IN)


# --- q_olap_top_supplier: Q15 shape (view + max selection) ------------------
#
# Supplier(s) with the maximum 3-month revenue. TPC-H phrases this
# as a scalar subquery re-reading the revenue view; that plans as
# TWO scans of lineitem under CTE inlining. The Spark side instead
# persists the per-supplier aggregate (scoped_persist barrier: ONE
# lineitem scan), computes the max as a tree-reduced 1-row aggregate,
# and broadcasts it back — no max(...) OVER () funneling the
# |suppliers|-row aggregate (linear in SF) through a single task.
# The oracle keeps the window phrasing (DuckDB, bounded input).

# ONE revenue-CTE body shared by the oracle text and the Spark
# builder below — an edit to either the date window or the cents
# expression cannot desynchronize the two engines
_Q15_REVENUE_SQL = f"""
  SELECT l_suppkey AS supplier_no,
         CAST(sum({cents_sql(_DISC_PRICE)}) AS BIGINT) AS rev_cents
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
"""

SQL_OLAP_TOP_SUPPLIER = f"""
WITH revenue AS ({_Q15_REVENUE_SQL}), ranked AS (
  SELECT supplier_no, rev_cents,
         max(rev_cents) OVER () AS max_cents
  FROM revenue
)
SELECT s.s_suppkey AS s_suppkey,
       s.s_name AS s_name,
       CAST(r.rev_cents AS DOUBLE) / 100e0 AS total_revenue
FROM supplier s
JOIN ranked r ON s.s_suppkey = r.supplier_no
WHERE r.rev_cents = r.max_cents
ORDER BY s.s_suppkey
"""


def q_olap_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15: top revenue supplier — persisted single-scan revenue
    aggregate, distributed 1-row max, broadcast filter join."""
    from metoffice_spark.session import scoped_persist

    # kept: exchanges 5 -> 6 without it (A/B: 5 pairs, sf0.1)
    revenue = scoped_persist(sql_frame(spark, sf_dir, ("lineitem",), _Q15_REVENUE_SQL))
    mx = revenue.agg(F.max("rev_cents").alias("max_cents"))
    supplier = load(spark, sf_dir, "supplier")
    return (
        revenue.crossJoin(F.broadcast(mx))
        .filter(F.col("rev_cents") == F.col("max_cents"))
        .join(supplier, F.col("s_suppkey") == F.col("supplier_no"))
        .select(
            "s_suppkey",
            "s_name",
            (F.col("rev_cents").cast("double") / F.lit(100.0)).alias(
                "total_revenue"
            ),
        )
        .orderBy("s_suppkey")
    )


QUERIES["q_olap_top_supplier"] = (q_olap_top_supplier, SQL_OLAP_TOP_SUPPLIER)


# --- q_olap_market_share: Q8 shape (share of total per group) ---------------
#
# Within EUROPE-customer orders for MEDIUM parts: the revenue share
# supplied by NATION_7, per order year. Eight-table star: all five
# dims broadcast, facts shuffle on orderkey only. The share is the
# one IEEE division, over two exact BIGINT sums of the same rows
# (numerator a CASE'd subset), so no 0-denominator group can exist.

SQL_OLAP_MARKET_SHARE = f"""
WITH volumes AS (
  SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
         {cents_sql(_DISC_PRICE)} AS cents,
         n2.n_name AS supp_nation
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
  JOIN region r ON n1.n_regionkey = r.r_regionkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
  JOIN part p ON l.l_partkey = p.p_partkey
  WHERE r.r_name = 'EUROPE' AND p.p_type = 'MEDIUM'
)
SELECT o_year,
       CAST(sum(CASE WHEN supp_nation = 'NATION_7' THEN cents ELSE 0 END) AS BIGINT)
         AS nation_cents,
       CAST(sum(cents) AS BIGINT) AS total_cents,
       CAST(sum(CASE WHEN supp_nation = 'NATION_7' THEN cents ELSE 0 END) AS DOUBLE)
         / CAST(sum(cents) AS DOUBLE) AS mkt_share
FROM volumes
GROUP BY o_year
ORDER BY o_year
"""


def q_olap_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8: nation market share per year — five broadcast dims, one
    fact-fact shuffle, share as a single IEEE division of exact
    cents."""
    return sql_frame(
        spark,
        sf_dir,
        ("lineitem", "orders", "customer", "nation", "region", "supplier", "part"),
        SQL_OLAP_MARKET_SHARE,
    )


QUERIES["q_olap_market_share"] = (q_olap_market_share, SQL_OLAP_MARKET_SHARE)


# --- q_olap_avg_balance: Q22 shape (scalar avg + NOT EXISTS) ----------------
#
# Dormant high-balance customers: balance above the positive-balance
# average, with no order since 2000-01-01, grouped by nation. The
# average threshold is the exact rewrite cents*cnt > sum_cents (one
# global 1-row aggregate CROSS JOINed in — a 1-row broadcast, the
# only sound use of a cartesian join at scale); NOT EXISTS plans as
# a left-anti join on c_custkey against the date-filtered orders.

SQL_OLAP_AVG_BALANCE = f"""
WITH avg_bal AS (
  SELECT CAST(sum({cents_sql("c_acctbal")}) AS BIGINT)
           AS sum_cents,
         CAST(count(*) AS BIGINT) AS cnt
  FROM customer
  WHERE c_acctbal > 0.0
)
SELECT n.n_name AS nation,
       CAST(count(*) AS BIGINT) AS numcust,
       CAST(sum({cents_sql("c.c_acctbal")}) AS DOUBLE) / 100e0
         AS totacctbal
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
CROSS JOIN avg_bal a
WHERE {cents_sql("c.c_acctbal")} * a.cnt > a.sum_cents
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
GROUP BY n.n_name
ORDER BY n.n_name
"""


def q_olap_avg_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22: above-average balances with NOT EXISTS recent orders —
    1-row scalar broadcast + left-anti join."""
    return sql_frame(spark, sf_dir, ("customer", "nation", "orders"), SQL_OLAP_AVG_BALANCE)


QUERIES["q_olap_avg_balance"] = (q_olap_avg_balance, SQL_OLAP_AVG_BALANCE)
