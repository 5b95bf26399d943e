"""Composite analytical queries (TPC-H-shaped) over the driver star
schema — multi-join, multi-stage plans proving the engine composes:
join ordering + broadcast selection (Catalyst/AQE), partial
aggregation, semi/anti-join decorrelation, and top-k, all in single
declarative plans.

Pure EXT (the reference is a single-row ETL job); the shapes are the
classic warehouse workloads a user of this engine runs against the
same tables (shipping priority, local-supplier volume, returned
items, late orders, supplier-diversity).

Money parity: every revenue aggregate goes through the integer-cents
pattern (exact per-row ``floor(x*100+0.5)`` into BIGINT, order-free
integer sums, one final /100.0) so Spark's partial-agg tree and
DuckDB agree bitwise.

Scale notes: dimension sides (region/nation/customer/supplier/part)
broadcast; the fact-fact joins (orders x lineitem) shuffle on
orderkey — at 100 TB both sides would be bucketed on orderkey to
make that a zero-shuffle sort-merge. Filters sit directly on scans
(pushdown verified by tests/test_plans.py patterns).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from metoffice_spark.io import load, sql_frame
from metoffice_spark.operators.relational import _DISC_PRICE
from metoffice_spark.parity import cents_sql, fits_sql
from metoffice_spark.session import scoped_persist


# --- Q3 shape: shipping priority ---------------------------------------------

def q_olap_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUILDING-segment orders not yet shipped at the cutoff: customer
    (broadcast) x orders x lineitem, revenue per order, top 10.

    Plan: customer dim broadcasts into orders; the orders x lineitem
    equi-join shuffles on orderkey (bucketable at scale); top-k is
    TakeOrderedAndProject — no global sort."""
    cutoff = "TIMESTAMP '1998-06-01 00:00:00'"
    cust = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load(spark, sf_dir, "orders").filter(F.expr(f"o_orderdate < {cutoff}"))
    li = load(spark, sf_dir, "lineitem").filter(F.expr(f"l_shipdate > {cutoff}"))
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    )
    agg = joined.groupBy("l_orderkey", "o_orderdate").agg(
        F.sum(F.expr(cents_sql(_DISC_PRICE))).alias("rev_cents")
    )
    return (
        agg.select(
            "l_orderkey",
            "o_orderdate",
            (F.col("rev_cents") / F.lit(100.0)).alias("revenue"),
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


ORACLE_OLAP_SHIPPING_PRIORITY = f"""
SELECT l_orderkey, o_orderdate,
       sum({cents_sql(_DISC_PRICE)}) / 100.0 AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


# --- Q5 shape: local supplier volume -----------------------------------------

def q_olap_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue from orders where the customer and supplier share a
    nation, per EUROPE nation, one year. Six-table join: all four
    dims broadcast, the two facts shuffle on orderkey only."""
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    nation = load(spark, sf_dir, "nation")
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    orders = load(spark, sf_dir, "orders").filter(
        F.expr(
            "o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'"
            " AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'"
        )
    )
    li = load(spark, sf_dir, "lineitem")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        joined.groupBy("n_name")
        .agg(F.sum(F.expr(cents_sql(_DISC_PRICE))).alias("rev_cents"))
        .select("n_name", (F.col("rev_cents") / F.lit(100.0)).alias("revenue"))
    )


ORACLE_OLAP_LOCAL_SUPPLIER = f"""
SELECT n_name, sum({cents_sql(_DISC_PRICE)}) / 100.0 AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'EUROPE'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
"""


# --- Q10 shape: returned-item reporting --------------------------------------

def q_olap_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers who returned goods in a quarter, ranked by lost
    revenue, top 20 — the classic churn report."""
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    orders = load(spark, sf_dir, "orders").filter(
        F.expr(
            "o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'"
            " AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'"
        )
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    )
    agg = joined.groupBy("c_custkey", "c_name", "c_acctbal", "n_name").agg(
        F.sum(F.expr(cents_sql(_DISC_PRICE))).alias("rev_cents")
    )
    return (
        agg.select(
            "c_custkey",
            "c_name",
            "c_acctbal",
            "n_name",
            (F.col("rev_cents") / F.lit(100.0)).alias("revenue"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


ORACLE_OLAP_RETURNED_ITEMS = f"""
SELECT c_custkey, c_name, c_acctbal, n_name,
       sum({cents_sql(_DISC_PRICE)}) / 100.0 AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


# --- Q4 shape: order-priority checking (EXISTS semi join) --------------------

def q_olap_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders with at least one line shipped after the order date
    (late shipment), counted by priority — EXISTS decorrelated to a
    left-semi join on orderkey."""
    orders = load(spark, sf_dir, "orders").filter(
        F.expr(
            "o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'"
            " AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00'"
        )
    )
    li = load(spark, sf_dir, "lineitem")
    late = li.join(orders, li.l_orderkey == orders.o_orderkey).filter(
        F.col("l_shipdate") > F.col("o_orderdate")
    ).select("l_orderkey").distinct()
    sem = orders.join(late, orders.o_orderkey == late.l_orderkey, "left_semi")
    return (
        sem.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .select("o_orderpriority", "order_count")
    )


ORACLE_OLAP_ORDER_PRIORITY = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
GROUP BY o_orderpriority
"""


# --- Q16 shape: supplier diversity per part brand (distinct + anti join) -----

def q_olap_parts_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct suppliers shipping each small-part brand, excluding
    suppliers in arrears (anti join) — distinct-agg + anti-join in one
    plan."""
    return sql_frame(spark, sf_dir, ("supplier", "part", "lineitem"), ORACLE_OLAP_PARTS_SUPPLIERS)


ORACLE_OLAP_PARTS_SUPPLIERS = """
SELECT p_brand, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_size <= 10
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand
"""


QUERIES = {
    "q_olap_shipping_priority": (q_olap_shipping_priority, ORACLE_OLAP_SHIPPING_PRIORITY),
    "q_olap_local_supplier": (q_olap_local_supplier, ORACLE_OLAP_LOCAL_SUPPLIER),
    "q_olap_returned_items": (q_olap_returned_items, ORACLE_OLAP_RETURNED_ITEMS),
    "q_olap_order_priority": (q_olap_order_priority, ORACLE_OLAP_ORDER_PRIORITY),
    "q_olap_parts_suppliers": (q_olap_parts_suppliers, ORACLE_OLAP_PARTS_SUPPLIERS),
}


# --- Behavioral-analytics suite: percentiles / funnel / cohorts --------------
#
# The product-analytics workloads (exact distributed percentiles,
# ordered event funnels, cohort retention) a warehouse user runs over
# the events stream. All-new EXT; same integer-exact determinism
# discipline as above.

from pyspark.sql import Window  # noqa: E402  (module-local extension)

_EPOCH_DAY = "2024-01-01"  # events span 2024-01; week index anchors here


def q_percentile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90/p99 of event value per event type, computed as
    rank-index selection (percentile_disc semantics): the smallest
    value whose cumulative count reaches ceil(p*n).

    Scale: one shuffle on event_type; the rank window sorts within a
    type only (at 100 TB: the two-phase top-k / salted pattern of
    q_topk_twophase applies verbatim if one type dominates). Index
    arithmetic is all-integer — ceil(p*n) = (p*n + 99) div 100 —
    so both engines select the identical row."""
    # rank-validity boundary (r08 ts+value probe, mirrored in the
    # oracle): a failed reading is not a data point of the value
    # distribution — its NULL v_fp ranks first in Spark and last in
    # DuckDB, shifting every percentile index.
    ev = load(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
        & F.expr(fits_sql("value"))
    ).select(
        "event_type",
        "event_id",
        F.floor(F.col("value") * 1000 + F.lit(0.5)).cast("bigint").alias("v_fp"),
    )
    w = Window.partitionBy("event_type").orderBy("v_fp", "event_id")
    ranked = ev.select(
        "event_type",
        "v_fp",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n"),
    )
    def pick(p: int):
        # all-integer index arithmetic (the q_percentile_cont div
        # pattern): double-divide + floor can misround vs the
        # oracle's integer // at extreme counts
        return F.max(
            F.when(F.expr(f"rn = ({p} * n + 99) div 100"), F.col("v_fp"))
        )
    return ranked.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n"),
        (pick(50) / F.lit(1000.0)).alias("p50"),
        (pick(90) / F.lit(1000.0)).alias("p90"),
        (pick(99) / F.lit(1000.0)).alias("p99"),
    )


ORACLE_PERCENTILE_EXACT = f"""
WITH ranked AS (
  SELECT event_type,
         CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v_fp,
         row_number() OVER (PARTITION BY event_type ORDER BY
           CAST(floor(value * 1000 + 0.5) AS BIGINT), event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events
  WHERE value IS NOT NULL AND {fits_sql("value")}
)
SELECT event_type,
       CAST(max(n) AS BIGINT) AS n,
       max(CASE WHEN rn = (50 * n + 99) // 100 THEN v_fp END) / 1000.0 AS p50,
       max(CASE WHEN rn = (90 * n + 99) // 100 THEN v_fp END) / 1000.0 AS p90,
       max(CASE WHEN rn = (99 * n + 99) // 100 THEN v_fp END) / 1000.0 AS p99
FROM ranked
GROUP BY event_type
"""


def q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view -> click -> purchase funnel: users who viewed, users who
    clicked strictly after a view, users who purchased strictly after
    a qualifying click — "after" in the total per-user event order
    (ts, event_id), so ties are deterministic.

    Scale: one shuffle on user_id; both window passes share the same
    (user, ts, event_id) sort, so Spark plans one exchange + one sort;
    per-user frames are bounded by that user's event count."""
    return sql_frame(spark, sf_dir, ("events",), ORACLE_FUNNEL_STEPS)


# "Strictly after" is defined on the time axis, so a NULL-ts event is
# left out: a NULL-ts click would sit at the frame's start in Spark
# (seeing no prior view) but at its end in DuckDB (seeing every view).
# nullif on the denominators: on an empty slice every count is 0, where
# ANSI `/` raises and DuckDB's double divide gives NaN; NULL is the one
# value both engines agree on. At any non-empty input the funnel head is
# non-zero and the rates are unchanged.
ORACLE_FUNNEL_STEPS = """
WITH s1 AS (
  SELECT user_id, event_id, ts, event_type,
         min(CASE WHEN event_type = 'view' THEN ts END) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_view
  FROM events WHERE ts IS NOT NULL
),
s2 AS (
  SELECT *,
         (event_type = 'click' AND prior_view IS NOT NULL) AS click_ok
  FROM s1
),
s3 AS (
  SELECT *,
         min(CASE WHEN click_ok THEN ts END) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_click
  FROM s2
),
agg AS (
  SELECT
    count(DISTINCT CASE WHEN event_type = 'view' THEN user_id END) AS n_view_users,
    count(DISTINCT CASE WHEN click_ok THEN user_id END) AS n_click_users,
    count(DISTINCT CASE WHEN event_type = 'purchase' AND prior_click IS NOT NULL
                   THEN user_id END) AS n_purchase_users
  FROM s3
)
SELECT n_view_users, n_click_users, n_purchase_users,
       n_click_users / CAST(nullif(n_view_users, 0) AS DOUBLE) AS click_rate,
       n_purchase_users / CAST(nullif(n_click_users, 0) AS DOUBLE) AS purchase_rate
FROM agg
"""


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-activity week,
    counted as retained in each later week they were active; week
    index = days-since-anchor div 7 (pure integer arithmetic).

    Scale: two aggregates shuffling user_id / (user, week) pairs with
    map-side combine, then a broadcast of the cohort-size table
    (#weeks rows). No windows, no skew hotspot."""
    ev = load(spark, sf_dir, "events")
    week = lambda c: F.expr(f"div(datediff({c}, date'{_EPOCH_DAY}'), 7)")  # noqa: E731
    firsts = (
        ev.groupBy("user_id")
        .agg(F.min(F.to_date("ts")).alias("first_day"))
        .select("user_id", week("first_day").cast("int").alias("cohort_week"))
    )
    active = (
        ev.select("user_id", week("to_date(ts)").cast("int").alias("week_idx"))
        .distinct()
    )
    cohort_size = firsts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    ret = (
        active.join(firsts, "user_id")
        .groupBy("cohort_week", (F.col("week_idx") - F.col("cohort_week")).alias("offset_weeks"))
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    return (
        ret.join(F.broadcast(cohort_size), "cohort_week")
        .select(
            "cohort_week",
            "offset_weeks",
            "n_active",
            "cohort_size",
            (F.col("n_active") / F.col("cohort_size").cast("double")).alias("retention"),
        )
    )


ORACLE_COHORT_RETENTION = f"""
WITH firsts AS (
  SELECT user_id,
         CAST(date_diff('day', DATE '{_EPOCH_DAY}', min(CAST(ts AS DATE))) // 7
              AS INT) AS cohort_week
  FROM events GROUP BY user_id
),
active AS (
  SELECT DISTINCT user_id,
         CAST(date_diff('day', DATE '{_EPOCH_DAY}', CAST(ts AS DATE)) // 7
              AS INT) AS week_idx
  FROM events
),
cohort_size AS (
  SELECT cohort_week, count(*) AS cohort_size FROM firsts GROUP BY cohort_week
)
SELECT f.cohort_week,
       a.week_idx - f.cohort_week AS offset_weeks,
       count(*) AS n_active,
       max(cs.cohort_size) AS cohort_size,
       count(*) / CAST(max(cs.cohort_size) AS DOUBLE) AS retention
FROM active a
JOIN firsts f USING (user_id)
JOIN cohort_size cs ON cs.cohort_week = f.cohort_week
GROUP BY f.cohort_week, a.week_idx - f.cohort_week
"""

QUERIES.update(
    {
        "q_percentile_exact": (q_percentile_exact, ORACLE_PERCENTILE_EXACT),
        "q_funnel_steps": (q_funnel_steps, ORACLE_FUNNEL_STEPS),
        "q_cohort_retention": (q_cohort_retention, ORACLE_COHORT_RETENTION),
    }
)


# --- q_sessionize_batch: gap-based sessionization of the event stream --------

_SESS_GAP_MIN = 30


def q_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions (30-min inactivity) over events, batch form:
    one row per (user, session) with start/end, duration, event count,
    and purchases. Session ids are a running sum of new-session marks
    over the total per-user order (ts, event_id) — the same technique
    (and tie discipline) as the streaming session-window oracle.

    Scale: one shuffle on user_id; both windows (mark + running sum)
    share the same sort; the final per-session aggregate is keyed
    (user, sid) with map-side combine."""
    # sequencing-validity boundary (r08 null-ts probe, mirrored in the
    # oracle): an untimestamped event has no inactivity gap to measure
    # — and its NULL epoch would split sessions differently under the
    # two engines' opposite NULL sort placement.
    ev = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    order_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.lag("ts").over(order_w)
    marked = ev.withColumn(
        "new_s",
        F.when(
            gap.isNull()
            | (F.col("ts").cast("long") - gap.cast("long") > _SESS_GAP_MIN * 60),
            1,
        ).otherwise(0),
    )
    sess = marked.withColumn(
        "sid",
        F.sum("new_s").over(order_w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        sess.groupBy("user_id", "sid")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("t_start"),
            F.max("ts").alias("t_end"),
            (F.max(F.col("ts").cast("long")) - F.min(F.col("ts").cast("long")))
            .cast("bigint")
            .alias("dur_sec"),
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias("n_purchases"),
        )
        .select(
            "user_id",
            F.col("sid").cast("bigint").alias("sid"),
            "n_events",
            "t_start",
            "t_end",
            "dur_sec",
            "n_purchases",
        )
    )


ORACLE_SESSIONIZE_BATCH = f"""
WITH marked AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > {_SESS_GAP_MIN * 60}
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT *,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM marked
)
SELECT user_id, CAST(sid AS BIGINT) AS sid,
       count(*) AS n_events,
       min(ts) AS t_start,
       max(ts) AS t_end,
       CAST(max(CAST(floor(epoch(ts)) AS BIGINT))
            - min(CAST(floor(epoch(ts)) AS BIGINT)) AS BIGINT) AS dur_sec,
       count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchases
FROM sess
GROUP BY user_id, sid
"""

QUERIES["q_sessionize_batch"] = (q_sessionize_batch, ORACLE_SESSIONIZE_BATCH)


# --- q_percentile_cont: interpolated percentiles ------------------------------
#
# The PERCENTILE_CONT companion to q_percentile_exact's
# PERCENTILE_DISC: linear interpolation at rank h = (n-1)p + 1.
# Everything stays an exact integer: with p = num/den,
#   lo  = 1 + (n-1)·num div den          (1-based lower rank)
#   rem = ((n-1)·num) mod den            (exact rational remainder)
#   cont_fp = v_lo + rem·(v_hi - v_lo) div den
# where v are 1e-3 fixed-point values sorted ascending — v_hi ≥ v_lo,
# so every numerator is non-negative and both engines truncate
# identically. No IEEE anywhere: the interpolation itself is exact.
#
# Scale: same shape as percentile_disc — one shuffle on event_type,
# rank window bounded per type; the lo/hi picks are two filter probes
# of the ranked set per percentile.

_PCTC = (("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100))


def q_percentile_cont(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (event_type, percentile): n, the lo/hi bracket values, and
    the exact interpolated value (1e-3 fixed point)."""
    # rank-validity boundary (a ts+value probe): as
    # q_percentile_exact — NULL/non-finite readings are not
    # distribution points.
    ev = load(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
        & F.expr(fits_sql("value"))
    ).select(
        "event_type",
        "event_id",
        F.floor(F.col("value") * 1000 + F.lit(0.5)).cast("bigint").alias("v_fp"),
    )
    w = Window.partitionBy("event_type").orderBy("v_fp", "event_id")
    # kept: the plain plan ran 1.91x slower (A/B: 5 pairs, sf0.1)
    ranked = scoped_persist(
        ev.select(
            "event_type",
            "v_fp",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n"),
        )
    )
    out = None
    for label, num, den in _PCTC:
        lo = ranked.filter(
            F.expr(f"rn = 1 + (n - 1) * {num} div {den}")
        ).select(
            "event_type",
            F.lit(label).alias("pct"),
            F.col("n").cast("bigint").alias("n"),
            F.col("v_fp").alias("v_lo"),
            F.expr(f"((n - 1) * {num}) % {den}").cast("bigint").alias("rem"),
        )
        hi = ranked.filter(
            F.expr(
                f"rn = least(2 + (n - 1) * {num} div {den}, n)"
            )
        ).select(
            F.col("event_type").alias("et2"), F.col("v_fp").alias("v_hi")
        )
        row = lo.join(hi, lo["event_type"] == hi["et2"]).select(
            "event_type",
            "pct",
            "n",
            "v_lo",
            "v_hi",
            F.expr(f"cast(v_lo + rem * (v_hi - v_lo) div {den} as bigint)").alias(
                "cont_fp"
            ),
        )
        out = row if out is None else out.unionByName(row)
    return out


def _pctc_oracle() -> str:
    parts = []
    for label, num, den in _PCTC:
        parts.append(
            f"""SELECT r.event_type, '{label}' AS pct,
       CAST(r.n AS BIGINT) AS n, r.v_fp AS v_lo, h.v_fp AS v_hi,
       CAST(r.v_fp + ((r.n - 1) * {num}) % {den} * (h.v_fp - r.v_fp) // {den}
         AS BIGINT) AS cont_fp
FROM ranked r JOIN ranked h
  ON h.event_type = r.event_type
 AND h.rn = least(2 + (r.n - 1) * {num} // {den}, r.n)
WHERE r.rn = 1 + (r.n - 1) * {num} // {den}"""
        )
    return f"""
WITH ranked AS (
  SELECT event_type,
         CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v_fp,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY CAST(floor(value * 1000 + 0.5) AS BIGINT),
                                     event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events
  WHERE value IS NOT NULL AND {fits_sql("value")}
)
{" UNION ALL ".join(parts)}
"""


QUERIES["q_percentile_cont"] = (q_percentile_cont, _pctc_oracle())


# --- q_collab_filter: co-purchase affinity (market-basket lift) ---------------
#
# The recommendation primitive over the same co-occurrence graph as
# q_graph_triangles: for every part pair appearing in >= 2 orders,
# support counts and LIFT in 1e-6 fixed point,
#
#   lift = P(a,b) / (P(a) P(b)) = co_cnt * n_orders / (cnt_a * cnt_b)
#
# — all-integer numerators (counts), one fixed-point division. Top-5
# recommendations per anchor part by (lift, co_cnt, partner) total
# order. This is the "customers who bought X also bought Y" query.
#
# Scale: pair explosion bounded per order (<= C(7,2)); per-part and
# per-pair counts aggregate with map-side combine; the per-anchor
# top-5 is a window bounded by the anchor's partner count (the
# q_topk_twophase salting applies if one part dominates).


def q_collab_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per anchor part: its top-5 co-purchase partners by lift
    (1e-6 fixed point), with support counts."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # kept: the plain plan ran 1.19x slower (A/B: 5 pairs, sf0.1)
    baskets = scoped_persist(li.distinct())
    part_cnt = baskets.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    # basket total as a LAZY 1-row broadcast (the q_forecast_snaive /
    # q_jackknife_var house pattern; VERDICT r09 item 6 — no collect()
    # in the builder, so the whole query stays one lazy plan).
    # countDistinct EXCLUDES the NULL key like the oracle's
    # count(DISTINCT l_orderkey) — .distinct().count() would count a
    # NULL-orderkey group as a basket (r09 null-id probe), shifting
    # every lift by one order.
    n_orders = baskets.agg(
        F.countDistinct("l_orderkey").cast("bigint").alias("n_orders")
    )
    a = baskets.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pa"))
    b = baskets.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pb"))
    pairs = (
        a.join(b, "o")
        .filter(F.col("pa") != F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).cast("bigint").alias("co_cnt"))
        .filter(F.col("co_cnt") >= 2)
    )
    scored = (
        pairs.join(
            F.broadcast(part_cnt.withColumnRenamed("l_partkey", "pa")
                        .withColumnRenamed("cnt", "cnt_a")), "pa")
        .join(
            F.broadcast(part_cnt.withColumnRenamed("l_partkey", "pb")
                        .withColumnRenamed("cnt", "cnt_b")), "pb")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "pa",
            "pb",
            "co_cnt",
            "cnt_a",
            "cnt_b",
            F.expr(
                "cast(1000000 * co_cnt * n_orders div (cnt_a * cnt_b) as bigint)"
            ).alias("lift_fp"),
        )
    )
    w = Window.partitionBy("pa").orderBy(
        F.col("lift_fp").desc(), F.col("co_cnt").desc(), F.col("pb").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select(
            "pa", F.col("rnk").cast("int").alias("rnk"), "pb", "co_cnt", "lift_fp"
        )
    )


ORACLE_COLLAB_FILTER = """
WITH baskets AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
part_cnt AS (
  SELECT l_partkey, CAST(count(*) AS BIGINT) AS cnt FROM baskets
  GROUP BY l_partkey
),
pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb,
         CAST(count(*) AS BIGINT) AS co_cnt
  FROM baskets a JOIN baskets b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING count(*) >= 2
),
scored AS (
  SELECT p.pa, p.pb, p.co_cnt, ca.cnt AS cnt_a, cb.cnt AS cnt_b,
         CAST(1000000 * p.co_cnt
              * (SELECT count(DISTINCT l_orderkey) FROM baskets)
              // (ca.cnt * cb.cnt) AS BIGINT) AS lift_fp
  FROM pairs p
  JOIN part_cnt ca ON ca.l_partkey = p.pa
  JOIN part_cnt cb ON cb.l_partkey = p.pb
)
SELECT pa, CAST(rnk AS INT) AS rnk, pb, co_cnt, lift_fp FROM (
  SELECT *, row_number() OVER (PARTITION BY pa
                               ORDER BY lift_fp DESC, co_cnt DESC, pb ASC) AS rnk
  FROM scored)
WHERE rnk <= 5
"""

QUERIES["q_collab_filter"] = (q_collab_filter, ORACLE_COLLAB_FILTER)


# --- q_winsorize: robust (winsorized) aggregates ------------------------------
#
# The ML-preprocessing robustification pass: per event type, clip
# values to the exact [p05, p95] rank-index cutoffs
# (percentile_disc picks, the q_percentile_exact idiom) and report
# the clipped-count and winsorized mean alongside the raw mean —
# the outlier-robust statistics a feature pipeline feeds a model
# instead of raw means. All counts/sums exact BIGINTs over 1e-3
# fixed-point values; the two means are IEEE-last divides.
#
# Scale: one shuffle on event_type for the rank window; cutoffs are
# 2 rows per type broadcast back onto the scan for a map-only clip.


def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event_type: n, p05/p95 cutoffs (1e-3 fp), clipped-low/high
    counts, raw mean, winsorized mean."""
    # rank-validity boundary (a ts+value probe): NULL readings are
    # not distribution points — they'd shift the p05/p95 rank indices
    # differently per engine (NULLS FIRST vs LAST).
    ev = (
        load(spark, sf_dir, "events")
        .filter(
            F.col("value").isNotNull()
            & F.expr(fits_sql("value"))
        )
        .select(
            "event_type",
            "event_id",
            F.floor(F.col("value") * 1000 + F.lit(0.5)).cast("bigint").alias("v_fp"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("v_fp", "event_id")
    # lo and hi both filter ranked; not persisted, as the plain plan
    # ran no slower (A/B: 5 pairs, sf0.1)
    ranked = (
        ev.select(
            "event_type",
            "v_fp",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n"),
        )
    )
    lo = ranked.filter(F.expr("rn = (5 * n + 99) div 100")).select(
        F.col("event_type").alias("et_lo"), F.col("v_fp").alias("p05_fp")
    )
    hi = ranked.filter(F.expr("rn = (95 * n + 99) div 100")).select(
        F.col("event_type").alias("et_hi"), F.col("v_fp").alias("p95_fp")
    )
    cut = F.broadcast(lo.join(hi, lo["et_lo"] == hi["et_hi"]).select(
        F.col("et_lo").alias("et"), "p05_fp", "p95_fp"
    ))
    clipped = ev.join(cut, ev["event_type"] == cut["et"]).select(
        "event_type",
        "v_fp",
        "p05_fp",
        "p95_fp",
        F.expr("greatest(least(v_fp, p95_fp), p05_fp)").alias("w_fp"),
    )
    return clipped.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("p05_fp").cast("bigint").alias("p05_fp"),
        F.min("p95_fp").cast("bigint").alias("p95_fp"),
        F.sum(F.when(F.col("v_fp") < F.col("p05_fp"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_clipped_lo"),
        F.sum(F.when(F.col("v_fp") > F.col("p95_fp"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_clipped_hi"),
        F.expr("cast(sum(v_fp) as double) / cast(count(1) as double)").alias(
            "mean_raw_fp"
        ),
        F.expr("cast(sum(w_fp) as double) / cast(count(1) as double)").alias(
            "mean_winsor_fp"
        ),
    )


ORACLE_WINSORIZE = f"""
WITH ev AS (
  SELECT event_type, event_id,
         CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v_fp
  FROM events
  WHERE value IS NOT NULL AND {fits_sql("value")}
),
ranked AS (
  SELECT event_type, v_fp,
         row_number() OVER (PARTITION BY event_type ORDER BY v_fp, event_id)
           AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM ev
),
cut AS (
  SELECT l.event_type, l.v_fp AS p05_fp, h.v_fp AS p95_fp
  FROM (SELECT event_type, v_fp FROM ranked
        WHERE rn = (5 * n + 99) // 100) l
  JOIN (SELECT event_type, v_fp FROM ranked
        WHERE rn = (95 * n + 99) // 100) h USING (event_type)
)
SELECT e.event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(min(c.p05_fp) AS BIGINT) AS p05_fp,
       CAST(min(c.p95_fp) AS BIGINT) AS p95_fp,
       CAST(sum(CASE WHEN e.v_fp < c.p05_fp THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clipped_lo,
       CAST(sum(CASE WHEN e.v_fp > c.p95_fp THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clipped_hi,
       cast(sum(e.v_fp) as double) / cast(count(*) as double) AS mean_raw_fp,
       cast(sum(greatest(least(e.v_fp, c.p95_fp), c.p05_fp)) as double)
         / cast(count(*) as double) AS mean_winsor_fp
FROM ev e JOIN cut c USING (event_type)
GROUP BY e.event_type
"""

QUERIES["q_winsorize"] = (q_winsorize, ORACLE_WINSORIZE)


# --- q_metric_decompose: period-over-period metric decomposition --------------
#
# The "why did the topline move" query: revenue delta between the
# first and second half of the month (calendar split at day 16),
# decomposed per event type into a VOLUME effect (count change at
# the old average value) and the residual RATE/MIX effect. Exactness
# discipline: everything is 1e-6-scaled integer cents; the volume
# effect (n2-n1)·c1 div n1 carries a SIGNED numerator, so it uses the
# sign-split truncating division (the q_semdedup_centroid idiom);
# the rate effect is defined as the residual delta_fp - volume_fp,
# which makes the decomposition sum EXACTLY to the total by
# construction — no float drift can break the reconciliation.
#
# Scale: two filtered aggregates of one scan (map-side combined),
# joined per type — a dashboard query shape that stays cheap at any
# corpus size.


def q_metric_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event_type: period counts/cents, total delta (1e-6 fp),
    volume effect, residual rate/mix effect; volume + rate == delta
    exactly."""
    ev = (
        load(spark, sf_dir, "events").select(
            "event_type",
            F.to_date("ts").alias("d"),
            F.expr(cents_sql("value")).alias("cents"),
        )
    )

    def period(pred, suffix):
        return ev.filter(pred).groupBy(
            F.col("event_type").alias(f"et{suffix}")
        ).agg(
            F.count(F.lit(1)).cast("bigint").alias(f"n{suffix}"),
            F.sum("cents").cast("bigint").alias(f"c{suffix}"),
        )

    p1 = period(F.col("d") < F.lit("2024-01-16").cast("date"), "1")
    p2 = period(F.col("d") >= F.lit("2024-01-16").cast("date"), "2")
    # FULL OUTER + zero-fill: a type present in only one half would
    # vanish from an inner join and the per-type deltas would no
    # longer reconcile to the topline delta
    joined = p1.join(p2, p1["et1"] == p2["et2"], "full").select(
        F.coalesce(p1["et1"], p2["et2"]).alias("event_type"),
        F.coalesce("n1", F.lit(0)).cast("bigint").alias("n1"),
        F.coalesce("c1", F.lit(0)).cast("bigint").alias("c1"),
        F.coalesce("n2", F.lit(0)).cast("bigint").alias("n2"),
        F.coalesce("c2", F.lit(0)).cast("bigint").alias("c2"),
    )
    return joined.select(
        "event_type",
        "n1",
        "c1",
        "n2",
        "c2",
        F.expr("cast(1000000 * (c2 - c1) as bigint)").alias("delta_fp"),
        # n1 > 0 guard: a type new in period 2 has no period-1 rate,
        # so its whole delta is a rate/new-type effect (volume 0) —
        # and div 0 would error under Spark ANSI
        F.expr(
            "cast(if(n1 = 0, 0, if((n2 - n1) * c1 < 0,"
            " -((-((n2 - n1) * c1)) * 1000000 div n1),"
            " (n2 - n1) * c1 * 1000000 div n1)) as bigint)"
        ).alias("volume_fp"),
    ).withColumn(
        "rate_fp", F.expr("cast(delta_fp - volume_fp as bigint)")
    )


ORACLE_METRIC_DECOMPOSE = f"""
WITH ev AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         {cents_sql("value")} AS cents
  FROM events
),
p1 AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n1,
         CAST(sum(cents) AS BIGINT) AS c1
  FROM ev WHERE d < DATE '2024-01-16' GROUP BY event_type
),
p2 AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n2,
         CAST(sum(cents) AS BIGINT) AS c2
  FROM ev WHERE d >= DATE '2024-01-16' GROUP BY event_type
),
joined AS (
  -- FULL OUTER + zero-fill: types present in only one half stay in
  -- the reconciliation (matches the Spark side)
  SELECT coalesce(p1.event_type, p2.event_type) AS event_type,
         CAST(coalesce(n1, 0) AS BIGINT) AS n1,
         CAST(coalesce(c1, 0) AS BIGINT) AS c1,
         CAST(coalesce(n2, 0) AS BIGINT) AS n2,
         CAST(coalesce(c2, 0) AS BIGINT) AS c2
  FROM p1 FULL JOIN p2 USING (event_type)
)
SELECT event_type, n1, c1, n2, c2,
       CAST(1000000 * (c2 - c1) AS BIGINT) AS delta_fp,
       CAST(CASE WHEN n1 = 0 THEN 0
                 WHEN (n2 - n1) * c1 < 0
                 THEN -((-((n2 - n1) * c1)) * 1000000 // n1)
                 ELSE (n2 - n1) * c1 * 1000000 // n1 END AS BIGINT)
         AS volume_fp,
       CAST(1000000 * (c2 - c1)
            - CASE WHEN n1 = 0 THEN 0
                   WHEN (n2 - n1) * c1 < 0
                   THEN -((-((n2 - n1) * c1)) * 1000000 // n1)
                   ELSE (n2 - n1) * c1 * 1000000 // n1 END AS BIGINT) AS rate_fp
FROM joined
"""

QUERIES["q_metric_decompose"] = (q_metric_decompose, ORACLE_METRIC_DECOMPOSE)


# --- q_olap_disjunctive: Q19-shaped OR-of-ANDs predicate query ----------------
#
# TPC-H Q19's defining feature re-expressed on the driver schema: a
# revenue sum under a DISJUNCTION of conjunctive brand/size/quantity
# bands — the predicate shape that exercises Catalyst's predicate
# normalization: the common join key condition must still push into
# the scans/join even though the bands only apply post-join, and
# CNF extraction should surface the shared p_size/l_quantity range
# bounds. Revenue in exact integer cents
# (price·(100 - disc%) // 100 per row, all-integer).


def q_olap_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: matching lineitem count and discounted revenue cents
    under three OR'd brand/size/quantity bands."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_quantity",
        F.expr(
            f"{cents_sql('l_extendedprice')}"
            f" * case when {fits_sql('l_discount')}"
            " then cast(100 - floor(l_discount * 100 + 0.5) as bigint) end"
            " div 100"
        ).alias("rev_cents"),
    )
    part = load(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    joined = li.join(part, li["l_partkey"] == part["p_partkey"])
    bands = (
        "(p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15"
        " AND l_quantity BETWEEN 1 AND 15)"
        " OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30"
        " AND l_quantity BETWEEN 10 AND 30)"
        " OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50"
        " AND l_quantity BETWEEN 20 AND 45)"
    )
    return joined.filter(F.expr(bands)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum("rev_cents").cast("bigint").alias("revenue_cents"),
    )


ORACLE_OLAP_DISJUNCTIVE = f"""
SELECT CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum({cents_sql("l_extendedprice")}
                * CASE WHEN {fits_sql("l_discount")}
                       THEN CAST(100 - floor(l_discount * 100 + 0.5) AS BIGINT)
                  END // 100)
         AS BIGINT) AS revenue_cents
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 15)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
       AND l.l_quantity BETWEEN 10 AND 30)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50
       AND l.l_quantity BETWEEN 20 AND 45)
"""

QUERIES["q_olap_disjunctive"] = (q_olap_disjunctive, ORACLE_OLAP_DISJUNCTIVE)
