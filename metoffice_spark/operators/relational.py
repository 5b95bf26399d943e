"""Relational EXT surface (SURVEY.md §2.2-2.8, §2.10 partial).

General-purpose operators over the TPC-H-ish driver tables. Catalyst
picks the physical plan: broadcast joins for dims, shuffle joins for
fact-fact, partial aggregation, pushdown. A builder whose oracle text
Spark runs as written runs that text (``io.sql_frame``); the others
are DataFrame builders.

Cross-engine float parity: SUM/AVG over doubles is order-dependent,
and Spark's partial-agg tree never adds in DuckDB's order. Every
money aggregate therefore goes through the *integer cents* pattern —
``floor(x*100 + 0.5)`` per row into BIGINT (bit-identical in both
engines), exact integer sums, divide once at the end. Genuinely
order-sensitive statistics (stddev/corr/percentile) are rounded via
the shared ``parity.rhu_sql`` text instead.

Scale notes per query are in the docstrings — these run on 60k rows
here but are written for the 100 TB layout (bucketed fact tables,
broadcast dims, AQE skew handling).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from metoffice_spark.io import load, sql_frame
from metoffice_spark.parity import cents_sql, fits_sql, rhu_sql


# --- scans / projections / filters ----------------------------------------

def q_scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + filter that must reach the parquet scan
    (PushedFilters + pruned ReadSchema; verified in tests/test_plans)."""
    return sql_frame(spark, sf_dir, ("lineitem",), ORACLE_SCAN_PARQUET)


ORACLE_SCAN_PARQUET = """
SELECT l_orderkey, l_linenumber, l_quantity, l_discount
FROM lineitem WHERE l_quantity < 25 AND l_discount > 0.02
"""


def q_filter_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunction/disjunction/range guards (the MWC:125/244/289 shapes)."""
    return sql_frame(spark, sf_dir, ("lineitem",), ORACLE_FILTER_PREDICATE)


ORACLE_FILTER_PREDICATE = """
SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus, l_quantity
FROM lineitem
WHERE l_discount <> 0.0 AND l_quantity >= 10
  AND (l_returnflag = 'R' OR l_tax < 0.05)
  AND l_linestatus IN ('O', 'F')
"""


def q_project_compute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Computed projection pipeline — per-row IEEE arithmetic, exact."""
    return sql_frame(spark, sf_dir, ("lineitem",), ORACLE_PROJECT_COMPUTE)


ORACLE_PROJECT_COMPUTE = """
SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1.0 - l_discount) AS disc_price,
       (l_extendedprice * (1.0 - l_discount)) * (1.0 + l_tax) AS charge,
       l_extendedprice / l_quantity AS unit_price
FROM lineitem
"""


def q_project_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nested-record read (the devices[i].measurement shape,
    MWC:142-157) on relational data: fields taken from a just-built
    struct, array and map are the plain projection of the text, which
    is what Catalyst folds such extraction to."""
    return sql_frame(spark, sf_dir, ("customer",), ORACLE_PROJECT_NESTED)


ORACLE_PROJECT_NESTED = """
SELECT c_custkey, c_name AS name, c_acctbal AS bal,
       c_acctbal * 2.0 AS bal_x2, c_mktsegment AS segment
FROM customer
"""


# --- aggregations ----------------------------------------------------------

_DISC_PRICE = "l_extendedprice * (1.0 - l_discount)"
_CHARGE = f"({_DISC_PRICE}) * (1.0 + l_tax)"

def q_agg_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan → filter → hash aggregate. Partial (map-side)
    aggregation is automatic; money sums use the integer-cents pattern."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            (F.sum(F.expr(cents_sql("l_extendedprice"))) / F.lit(100.0)).alias("sum_base_price"),
            (F.sum(F.expr(cents_sql(_DISC_PRICE, 10000))) / F.lit(10000.0)).alias("sum_disc_price"),
            (F.sum(F.expr(cents_sql(_CHARGE, 10000))) / F.lit(10000.0)).alias("sum_charge"),
            (F.sum("l_quantity") / F.count(F.lit(1))).alias("avg_qty"),
            (F.sum(F.expr(cents_sql("l_extendedprice"))) / F.lit(100.0) / F.count(F.lit(1))).alias(
                "avg_price"
            ),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


ORACLE_AGG_HASH = f"""
SELECT l_returnflag, l_linestatus,
       sum(l_quantity) AS sum_qty,
       sum({cents_sql("l_extendedprice")}) / 100.0 AS sum_base_price,
       sum({cents_sql(_DISC_PRICE, 10000)}) / 10000.0 AS sum_disc_price,
       sum({cents_sql(_CHARGE, 10000)}) / 10000.0 AS sum_charge,
       sum(l_quantity) / count(*) AS avg_qty,
       sum({cents_sql("l_extendedprice")}) / 100.0 / count(*) AS avg_price,
       count(*) AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""


def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregates (expand + two-phase agg under the hood)."""
    return sql_frame(spark, sf_dir, ("lineitem",), ORACLE_AGG_DISTINCT)


ORACLE_AGG_DISTINCT = """
SELECT l_returnflag,
       count(DISTINCT l_partkey) AS n_parts,
       count(DISTINCT l_suppkey) AS n_supps,
       sum(DISTINCT l_quantity) AS sum_distinct_qty,
       count(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
"""


def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over region → nation with explicit grouping flags
    (dialect-portable CASE instead of grouping_id; data has no real
    NULL keys so the flags are unambiguous)."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    rolled = joined.rollup("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        (F.sum(F.expr(cents_sql("c_acctbal"))) / F.lit(100.0)).alias("total_bal"),
    )
    return rolled.select(
        F.coalesce(F.col("r_name"), F.lit("ALL")).alias("region"),
        F.coalesce(F.col("n_name"), F.lit("ALL")).alias("nation"),
        ((F.col("r_name").isNull().cast("int") * 2) + F.col("n_name").isNull().cast("int")).alias(
            "grouping_level"
        ),
        "n_customers",
        "total_bal",
    )


ORACLE_AGG_GROUPING_SETS = f"""
SELECT COALESCE(r_name, 'ALL') AS region,
       COALESCE(n_name, 'ALL') AS nation,
       (CASE WHEN r_name IS NULL THEN 1 ELSE 0 END) * 2
         + (CASE WHEN n_name IS NULL THEN 1 ELSE 0 END) AS grouping_level,
       count(*) AS n_customers,
       sum({cents_sql("c_acctbal")}) / 100.0 AS total_bal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


def q_agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set → sorted → joined string (deterministic form of the
    list aggregate; binary sort order matches DuckDB's default collation)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    joined = o.join(c, o.o_custkey == c.c_custkey)
    return joined.groupBy("c_mktsegment").agg(
        F.array_join(F.sort_array(F.collect_set("o_orderpriority")), "|").alias("priorities"),
        F.count(F.lit(1)).alias("n_orders"),
    )


ORACLE_AGG_COLLECT = """
SELECT c_mktsegment,
       string_agg(DISTINCT o_orderpriority, '|' ORDER BY o_orderpriority) AS priorities,
       count(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates; rounded via rhu_sql since the merge order
    of the underlying moments differs across engines.

    Moment-validity (r10 extreme-value probe): each aggregate's INPUT
    is masked to finite — a NaN/±Inf measurement is not a point of the
    distribution (DuckDB's STDDEV raises outright on one; Spark
    returns NaN), and NULL-skipping aggregates drop the masked rows
    identically in both engines. Group membership is untouched."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr(_SD_QTY).alias("sd_qty"),
        F.expr(_VAR_QTY).alias("var_qty"),
        F.expr(_CORR_QTY_PRICE).alias("corr_qty_price"),
        F.expr(rhu_sql(f"percentile({_FIN_PRICE}, 0.5)", 4)).alias("median_price"),
        F.expr(f"min({_FIN_PRICE})").alias("min_price"),
        F.expr(f"max({_FIN_PRICE})").alias("max_price"),
    )


_FIN_QTY = f"CASE WHEN {fits_sql('l_quantity')} THEN l_quantity END"
_FIN_PRICE = f"CASE WHEN {fits_sql('l_extendedprice')} THEN l_extendedprice END"
_SD_QTY = rhu_sql(f"stddev_samp({_FIN_QTY})", 6)
_VAR_QTY = rhu_sql(f"var_samp({_FIN_QTY})", 6)
_CORR_QTY_PRICE = rhu_sql(f"corr({_FIN_QTY}, {_FIN_PRICE})", 6)

ORACLE_AGG_STATS = f"""
SELECT l_returnflag,
       {_SD_QTY} AS sd_qty,
       {_VAR_QTY} AS var_qty,
       {_CORR_QTY_PRICE} AS corr_qty_price,
       {rhu_sql(f"quantile_cont({_FIN_PRICE}, 0.5)", 4)} AS median_price,
       min({_FIN_PRICE}) AS min_price,
       max({_FIN_PRICE}) AS max_price
FROM lineitem
GROUP BY l_returnflag
"""


# --- joins -----------------------------------------------------------------

def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small dim × big fact: explicit broadcast → BroadcastHashJoin,
    zero shuffle of the fact side. At 100 TB the dim still broadcasts;
    the fact scan stays pipelined."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            (F.sum(F.expr(cents_sql("l_extendedprice"))) / F.lit(100.0)).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


ORACLE_JOIN_BROADCAST = f"""
SELECT p_brand,
       sum(l_quantity) AS sum_qty,
       sum({cents_sql("l_extendedprice")}) / 100.0 AS revenue,
       count(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""


def q_join_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact × fact equi-join: both sides shuffle on the key (SMJ/SHJ per
    AQE). At scale: bucket both tables on orderkey to eliminate the
    shuffle entirely."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            (F.sum(F.expr(cents_sql(_DISC_PRICE, 10000)))
             / F.lit(10000.0)).alias("revenue"),
        )
    )


ORACLE_JOIN_SHUFFLE = f"""
SELECT o_orderpriority,
       count(*) AS n_lines,
       sum({cents_sql(_DISC_PRICE, 10000)}) / 10000.0 AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


def q_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer preserving customers with no orders."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(F.sum(F.expr(cents_sql("o_totalprice"))) / F.lit(100.0), F.lit(0.0)).alias(
                "total_spent"
            ),
        )
    )


ORACLE_JOIN_OUTER = f"""
SELECT c_custkey, c_mktsegment,
       count(o_orderkey) AS n_orders,
       COALESCE(sum({cents_sql("o_totalprice")}) / 100.0, 0.0) AS total_spent
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey, c_mktsegment
"""


def q_join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Existence (left_semi) and non-existence (left_anti) in one result."""
    return sql_frame(spark, sf_dir, ("customer", "orders"), ORACLE_JOIN_SEMI_ANTI)


ORACLE_JOIN_SEMI_ANTI = """
SELECT c_custkey, 'has_open_order' AS status FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
UNION ALL
SELECT c_custkey, 'no_open_order' AS status FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
"""


def q_join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band (non-equi) join: order value into price bands derived from
    region keys. Small band side broadcast → BroadcastNestedLoopJoin;
    at scale, replace with a computed band key (equi) when possible."""
    o = load(spark, sf_dir, "orders")
    bands = (
        load(spark, sf_dir, "region")
        .select(
            F.col("r_regionkey").alias("band_id"),
            (F.col("r_regionkey").cast("double") * 100000.0).alias("lo"),
            ((F.col("r_regionkey") + 1).cast("double") * 100000.0).alias("hi"),
        )
    )
    return (
        o.join(F.broadcast(bands), (o.o_totalprice >= bands.lo) & (o.o_totalprice < bands.hi))
        .groupBy("band_id")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum(F.expr(cents_sql("o_totalprice"))) / F.lit(100.0)).alias("band_value"),
        )
    )


ORACLE_JOIN_THETA_RANGE = f"""
SELECT band_id, count(*) AS n_orders,
       sum({cents_sql("o_totalprice")}) / 100.0 AS band_value
FROM orders
JOIN (SELECT r_regionkey AS band_id,
             CAST(r_regionkey AS DOUBLE) * 100000.0 AS lo,
             CAST(r_regionkey + 1 AS DOUBLE) * 100000.0 AS hi
      FROM region) bands
  ON o_totalprice >= lo AND o_totalprice < hi
GROUP BY band_id
"""


def q_join_range_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range self-join via BINNING — the scale path for non-equi range
    predicates. Naively, "parts within ±1.0 of each other's price" is
    an O(n^2) BroadcastNestedLoopJoin; binning prices into unit-width
    buckets and probing the 3 neighbor bins turns it into an EQUI join
    (hash-partitionable, skew-manageable) whose post-filter applies the
    exact predicate. |Δprice| <= w implies |Δbin| <= 1, so exactly one
    (probe-bin, build-bin) match per qualifying pair — no dedup needed.
    The ORACLE deliberately uses the naive O(n^2) formulation: same
    answer, different physical strategy."""
    p = load(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    binned = p.withColumn("bin", F.expr(f"CASE WHEN {fits_sql('p_retailprice / 1.0')} THEN CAST(floor(p_retailprice / 1.0) AS BIGINT) END"))
    probe = binned.select(
        F.col("p_partkey").alias("part_a"),
        F.col("p_retailprice").alias("price_a"),
        F.explode(
            F.array(F.col("bin") - 1, F.col("bin"), F.col("bin") + 1)
        ).alias("nb"),
    )
    build = binned.select(
        F.col("p_partkey").alias("part_b"),
        F.col("p_retailprice").alias("price_b"),
        F.col("bin").alias("bin_b"),
    )
    return (
        probe.join(build, probe.nb == build.bin_b)
        .filter(
            (F.col("part_a") < F.col("part_b"))
            & (F.abs(F.col("price_b") - F.col("price_a")) <= 1.0)
        )
        .select(
            "part_a",
            "part_b",
            (F.col("price_b") - F.col("price_a")).alias("price_diff"),
        )
    )


ORACLE_JOIN_RANGE_BINNED = """
SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
       b.p_retailprice - a.p_retailprice AS price_diff
FROM part a JOIN part b
  ON a.p_partkey < b.p_partkey
 AND abs(b.p_retailprice - a.p_retailprice) <= 1.0
"""


def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase event, the most recent prior 'view'
    by the same user — the scalable single-pass window form of the
    reference's previous-observation lookup (MWC:216, 256). No join
    materialization: one shuffle by user, one ordered scan."""
    # sequencing-validity boundary (r08 null-ts probe, mirrored in the
    # oracle): an untimestamped event has no "as of" position — the
    # engines place NULL ts at opposite ends of the ordered scan.
    ev = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    enriched = ev.withColumn(
        "last_view_ts", F.max(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    )
    return enriched.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "ts",
        "last_view_ts",
        (F.unix_timestamp("ts") - F.unix_timestamp("last_view_ts")).alias("secs_since_view"),
    )


ORACLE_JOIN_ASOF = """
WITH enriched AS (
  SELECT *,
         MAX(CASE WHEN event_type = 'view' THEN ts END) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_view_ts
  FROM events
  WHERE ts IS NOT NULL
)
SELECT event_id, user_id, ts, last_view_ts,
       CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(last_view_ts)) AS BIGINT)
         AS secs_since_view
FROM enriched WHERE event_type = 'purchase'
"""


# --- windows ---------------------------------------------------------------

def q_win_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number / rank / dense_rank / ntile with a unique tiebreak."""
    return sql_frame(spark, sf_dir, ("orders",), ORACLE_WIN_RANK)


ORACLE_WIN_RANK = """
SELECT o_orderkey, o_orderpriority, o_totalprice,
       CAST(row_number() OVER w AS INT) AS rn,
       CAST(rank() OVER w AS INT) AS rnk,
       CAST(dense_rank() OVER w AS INT) AS drnk,
       CAST(ntile(4) OVER w AS INT) AS quartile
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey)
"""


def q_win_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running + sliding frames (cents-exact running money sums)."""
    # sequencing-validity boundary (r08 null-orderdate probe, mirrored
    # in the oracle): an undated order has no position in the
    # customer's running history — Spark sorts NULL dates first,
    # DuckDB last, shifting every prefix sum otherwise.
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    running = w.rowsBetween(Window.unboundedPreceding, 0)
    sliding = w.rowsBetween(-2, 0)
    cents = F.expr(cents_sql("o_totalprice"))
    return o.select(
        "o_orderkey",
        "o_custkey",
        (F.sum(cents).over(running) / F.lit(100.0)).alias("running_total"),
        (F.sum(cents).over(sliding) / F.lit(100.0) / F.count(F.lit(1)).over(sliding)).alias(
            "sliding_avg3"
        ),
    )


ORACLE_WIN_FRAME = f"""
SELECT o_orderkey, o_custkey,
       sum({cents_sql("o_totalprice")}) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 100.0 AS running_total,
       sum({cents_sql("o_totalprice")}) OVER w3 / 100.0
         / count(*) OVER w3 AS sliding_avg3
FROM orders
WHERE o_orderdate IS NOT NULL
WINDOW w3 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
"""


def q_win_analytic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lead / lag / first_value / last_value / nth_value."""
    return sql_frame(spark, sf_dir, ("orders",), ORACLE_WIN_ANALYTIC)


# An undated order has no position in its customer's order sequence,
# so it is left out (as in q_win_frame): positional analytics need a
# positioned row.
ORACLE_WIN_ANALYTIC = """
SELECT o_orderkey, o_custkey, o_totalprice,
       lag(o_totalprice) OVER w AS prev_price,
       lead(o_totalprice) OVER w AS next_price,
       first_value(o_totalprice) OVER w AS first_price,
       last_value(o_totalprice) OVER wf AS last_price,
       nth_value(o_totalprice, 2) OVER wf AS second_price
FROM orders
WHERE o_orderdate IS NOT NULL
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
       wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


# --- sort / top-k / set ops ------------------------------------------------

def q_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key sort (value compare is order-insensitive; the sort
    itself is exercised by the plan test)."""
    return sql_frame(spark, sf_dir, ("orders",), ORACLE_SORT)


ORACLE_SORT = """
SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
ORDER BY o_orderpriority, o_totalprice DESC, o_orderkey
"""


def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k: ORDER BY + LIMIT → TakeOrderedAndProject (no full sort; each
    partition keeps k, driver merges). Unique tiebreak for determinism."""
    return sql_frame(spark, sf_dir, ("orders",), ORACLE_TOPK)


ORACLE_TOPK = """
SELECT o_orderkey, o_custkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
"""


def q_set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_frame(spark, sf_dir, ("customer", "supplier"), ORACLE_SET_UNION)


ORACLE_SET_UNION = """
SELECT c_nationkey AS nationkey FROM customer
UNION
SELECT s_nationkey FROM supplier
"""


def q_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_frame(spark, sf_dir, ("customer", "supplier"), ORACLE_SET_INTERSECT)


ORACLE_SET_INTERSECT = """
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey FROM supplier
"""


def q_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_frame(spark, sf_dir, ("customer", "supplier"), ORACLE_SET_EXCEPT)


ORACLE_SET_EXCEPT = """
SELECT c_nationkey AS nationkey FROM customer
EXCEPT
SELECT s_nationkey FROM supplier
"""


# --- scalar function suites ------------------------------------------------

def q_fn_math_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General math surface (extends the reference's ln/log10/cos/exp/π,
    MWC:190/301/319/328). Transcendentals rounded via rhu_sql, the
    same text the oracle embeds."""
    return sql_frame(spark, sf_dir, ("lineitem",), ORACLE_FN_MATH_SUITE)


# Domain guards: DuckDB raises on sqrt/ln of a negative where Spark
# returns NaN/NULL, so the root or log of an out-of-domain value is NULL
# on both engines. NOT isnan is spelled out because the >= guard itself
# splits on NaN (true in Spark's total order, false in DuckDB's
# vectorized compare). sign(NaN) is NaN in Spark but 0.0 in DuckDB, so
# the sign of an unmeasurable value is NULL.
_QTY_SQ = rhu_sql("pow(l_quantity, 2.0)", 6)
_EXP_DISC = rhu_sql("exp(l_discount)", 8)
_LN_PRICE = rhu_sql("CASE WHEN l_extendedprice > 0 AND NOT isnan(l_extendedprice)"
                    " THEN ln(l_extendedprice) END", 8)
_LOG10_PRICE = rhu_sql("CASE WHEN l_extendedprice > 0 AND NOT isnan(l_extendedprice)"
                       " THEN log10(l_extendedprice) END", 8)
_COS_DISC = rhu_sql("cos(l_discount)", 8)
_FLOOR_PRICE = f"CASE WHEN {fits_sql('l_extendedprice')} THEN CAST(floor(l_extendedprice) AS BIGINT) END"
_CEIL_PRICE = f"CASE WHEN {fits_sql('l_extendedprice')} THEN CAST(ceil(l_extendedprice) AS BIGINT) END"

ORACLE_FN_MATH_SUITE = f"""
SELECT l_orderkey, l_linenumber,
       abs(l_discount - 0.05) AS abs_v,
       CASE WHEN l_quantity >= 0 AND NOT isnan(l_quantity)
            THEN sqrt(l_quantity) END AS sqrt_qty,
       {_QTY_SQ} AS qty_sq,
       {_FLOOR_PRICE} AS floor_price,
       {_CEIL_PRICE} AS ceil_price,
       {_EXP_DISC} AS exp_disc,
       {_LN_PRICE} AS ln_price,
       {_LOG10_PRICE} AS log10_price,
       {_COS_DISC} AS cos_disc,
       CASE WHEN NOT isnan(l_discount)
            THEN CAST(sign(l_discount - 0.05) AS DOUBLE) END AS sign_v,
       greatest(l_tax, l_discount) AS max_rate,
       least(l_tax, l_discount) AS min_rate
FROM lineitem
"""


def q_fn_string_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General string surface beyond locate/substring/concat (MWC:179-183)."""
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("upper_name"),
        F.lower("p_brand").alias("lower_brand"),
        F.length("p_name").alias("name_len"),
        F.substring("p_name", 1, 4).alias("prefix4"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("snake_name"),
        F.trim(F.concat(F.lit("  "), F.col("p_name"), F.lit("  "))).alias("trimmed"),
        F.col("p_type").like("%bolt%").alias("is_bolt"),
        F.size(F.split(F.col("p_name"), " ")).alias("n_words"),
        F.lpad(F.col("p_partkey").cast("string"), 8, "0").alias("padded_key"),
    )


ORACLE_FN_STRING_SUITE = """
SELECT p_partkey,
       upper(p_name) AS upper_name,
       lower(p_brand) AS lower_brand,
       CAST(length(p_name) AS INT) AS name_len,
       substring(p_name, 1, 4) AS prefix4,
       replace(p_name, ' ', '_') AS snake_name,
       trim('  ' || p_name || '  ') AS trimmed,
       p_type LIKE '%bolt%' AS is_bolt,
       CAST(len(string_split(p_name, ' ')) AS INT) AS n_words,
       lpad(CAST(p_partkey AS STRING), 8, '0') AS padded_key
FROM part
"""


def q_fn_array_map_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array / JSON scalar ops: events.props JSON extraction + embedding
    array ops (size, element_at, slice).

    try_element_at, not element_at (r13 dimvec probe): this is a
    FUNCTION suite over raw arrays, not a vector-space consumer, so
    the contract for an out-of-range index is the indexing function's
    own defined semantics — and DuckDB's v[i] is defined as NULL
    out-of-range, while ANSI element_at raises. try_element_at is the
    faithful Spark spelling of that defined NULL (the probe's empty /
    truncated shapes raised asymmetrically under plain element_at)."""
    ev = load(spark, sf_dir, "events")
    emb = load(spark, sf_dir, "embeddings")
    j = ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("prop_k"),
    )
    head3 = F.slice("embedding", 1, 3)
    arr = emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.try_element_at("embedding", F.lit(1)).alias("e_first"),
        F.try_element_at("embedding", F.lit(-1)).alias("e_last"),
        # slice demonstrated, emitted as scalars (array-typed output
        # columns hash differently across engines)
        F.try_element_at(head3, F.lit(2)).alias("e_h2"),
        F.try_element_at(head3, F.lit(3)).alias("e_h3"),
    )
    return j.join(arr, j.event_id == arr.vec_id, "inner").select(
        "event_id", "prop_k", "vec_id", "dim", "e_first", "e_last", "e_h2", "e_h3"
    )


ORACLE_FN_ARRAY_MAP_JSON = """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k,
       vec_id,
       CAST(len(embedding) AS INT) AS dim,
       embedding[1] AS e_first,
       embedding[-1] AS e_last,
       embedding[1:3][2] AS e_h2,
       embedding[1:3][3] AS e_h3
FROM events
JOIN embeddings ON event_id = vec_id
"""


def q_fn_date_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-part extraction + truncation (generalizes MWC:206-222)."""
    return sql_frame(spark, sf_dir, ("orders",), ORACLE_FN_DATE_EXTRACT)


ORACLE_FN_DATE_EXTRACT = """
SELECT o_orderkey,
       CAST(year(o_orderdate) AS INT) AS yr,
       CAST(month(o_orderdate) AS INT) AS mo,
       CAST(day(o_orderdate) AS INT) AS dom,
       CAST(quarter(o_orderdate) AS INT) AS qtr,
       CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
       CAST(o_orderdate AS DATE) AS order_day,
       CAST(DATE '2025-01-01' - CAST(o_orderdate AS DATE) AS INT) AS days_to_2025
FROM orders
"""


QUERIES = {
    "q_scan_parquet": (q_scan_parquet, ORACLE_SCAN_PARQUET),
    "q_filter_predicate": (q_filter_predicate, ORACLE_FILTER_PREDICATE),
    "q_project_compute": (q_project_compute, ORACLE_PROJECT_COMPUTE),
    "q_project_nested": (q_project_nested, ORACLE_PROJECT_NESTED),
    "q_agg_hash": (q_agg_hash, ORACLE_AGG_HASH),
    "q_agg_distinct": (q_agg_distinct, ORACLE_AGG_DISTINCT),
    "q_agg_grouping_sets": (q_agg_grouping_sets, ORACLE_AGG_GROUPING_SETS),
    "q_agg_collect": (q_agg_collect, ORACLE_AGG_COLLECT),
    "q_agg_stats": (q_agg_stats, ORACLE_AGG_STATS),
    "q_join_broadcast": (q_join_broadcast, ORACLE_JOIN_BROADCAST),
    "q_join_shuffle": (q_join_shuffle, ORACLE_JOIN_SHUFFLE),
    "q_join_outer": (q_join_outer, ORACLE_JOIN_OUTER),
    "q_join_semi_anti": (q_join_semi_anti, ORACLE_JOIN_SEMI_ANTI),
    "q_join_theta_range": (q_join_theta_range, ORACLE_JOIN_THETA_RANGE),
    "q_join_range_binned": (q_join_range_binned, ORACLE_JOIN_RANGE_BINNED),
    "q_join_asof": (q_join_asof, ORACLE_JOIN_ASOF),
    "q_win_rank": (q_win_rank, ORACLE_WIN_RANK),
    "q_win_frame": (q_win_frame, ORACLE_WIN_FRAME),
    "q_win_analytic": (q_win_analytic, ORACLE_WIN_ANALYTIC),
    "q_sort": (q_sort, ORACLE_SORT),
    "q_topk": (q_topk, ORACLE_TOPK),
    "q_set_union": (q_set_union, ORACLE_SET_UNION),
    "q_set_intersect": (q_set_intersect, ORACLE_SET_INTERSECT),
    "q_set_except": (q_set_except, ORACLE_SET_EXCEPT),
    "q_fn_math_suite": (q_fn_math_suite, ORACLE_FN_MATH_SUITE),
    "q_fn_string_suite": (q_fn_string_suite, ORACLE_FN_STRING_SUITE),
    "q_fn_array_map_json": (q_fn_array_map_json, ORACLE_FN_ARRAY_MAP_JSON),
    "q_fn_date_extract": (q_fn_date_extract, ORACLE_FN_DATE_EXTRACT),
}


# --- q_pivot_unpivot: pivot -> unpivot round trip -----------------------------

_LANGS = ("en", "de", "fr", "es", "zh")


def q_pivot_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (lang -> columns) then unpivot (stack) back to long form
    with zero-fill — proves both reshape operators. Pivot with an
    explicit value list stays a single-pass aggregation (no extra
    distinct-scan); unpivot is a zero-shuffle generator expression."""
    docs = load(spark, sf_dir, "documents")
    wide = (
        docs.groupBy("source")
        .pivot("lang", list(_LANGS))
        .agg(F.count(F.lit(1)))
    )
    stack_expr = "stack({n}, {args}) as (lang, cnt)".format(
        n=len(_LANGS),
        args=", ".join(f"'{lg}', {lg}" for lg in _LANGS),
    )
    return wide.select(
        "source", F.expr(stack_expr)
    ).select("source", "lang", F.coalesce(F.col("cnt"), F.lit(0)).alias("n_docs"))


ORACLE_PIVOT_UNPIVOT = """
SELECT s.source, l.lang, COALESCE(c.cnt, 0) AS n_docs
FROM (SELECT DISTINCT source FROM documents) s
CROSS JOIN (SELECT unnest(['en', 'de', 'fr', 'es', 'zh']) AS lang) l
-- IS NOT DISTINCT FROM (r08 null-source fuzz finding): Spark's
-- groupBy/pivot keeps a NULL source as a group like any other; a
-- plain equi-join here silently zeroes that group's counts.
LEFT JOIN (SELECT source, lang, count(*) AS cnt FROM documents GROUP BY 1, 2) c
  ON c.source IS NOT DISTINCT FROM s.source AND c.lang = l.lang
"""


# --- q_merge_upsert: MERGE INTO semantics as a full-outer join ----------------

def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse MERGE (upsert): apply a change set onto a base table —
    matched rows update (balance += delta), unmatched changes insert,
    untouched rows pass through. Expressed as a full-outer join +
    row-local CASE, the engine-agnostic MERGE INTO plan (both sides
    shuffle once on the key; at 100 TB the base would be bucketed so
    only the small change set moves). Change set: 1996 order revenue
    per customer, plus planted new customers (custkey % 100 == 0 →
    custkey + 1000000) to exercise the insert branch."""
    base = load(spark, sf_dir, "customer").select(
        "c_custkey", F.expr(cents_sql("c_acctbal")).alias("bal_cents")
    )
    orders = load(spark, sf_dir, "orders").filter(
        F.expr(
            "o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'"
            " AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'"
        )
    )
    deltas = orders.groupBy("o_custkey").agg(
        F.sum(F.expr(cents_sql("o_totalprice"))).alias("delta_cents")
    )
    changes = deltas.select(
        F.when(
            F.col("o_custkey") % 100 == 0, F.col("o_custkey") + 1000000
        ).otherwise(F.col("o_custkey")).alias("k"),
        "delta_cents",
    ).groupBy("k").agg(F.sum("delta_cents").alias("delta_cents"))
    merged = base.join(changes, base.c_custkey == changes.k, "full_outer")
    return merged.select(
        F.coalesce(base.c_custkey, changes.k).alias("c_custkey"),
        (
            (F.coalesce(F.col("bal_cents"), F.lit(0)) + F.coalesce(F.col("delta_cents"), F.lit(0)))
            / F.lit(100.0)
        ).alias("balance"),
        F.when(base.c_custkey.isNull(), F.lit("insert"))
        .when(changes.k.isNull(), F.lit("unchanged"))
        .otherwise(F.lit("update"))
        .alias("action"),
    )


ORACLE_MERGE_UPSERT = f"""
WITH base AS (
  SELECT c_custkey, {cents_sql("c_acctbal")} AS bal_cents FROM customer
),
changes AS (
  SELECT k, sum(delta_cents) AS delta_cents FROM (
    SELECT CASE WHEN o_custkey % 100 = 0 THEN o_custkey + 1000000
                ELSE o_custkey END AS k,
           sum({cents_sql("o_totalprice")}) AS delta_cents
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY o_custkey)
  GROUP BY k
)
SELECT COALESCE(b.c_custkey, c.k) AS c_custkey,
       (COALESCE(b.bal_cents, 0) + COALESCE(c.delta_cents, 0)) / 100.0 AS balance,
       CASE WHEN b.c_custkey IS NULL THEN 'insert'
            WHEN c.k IS NULL THEN 'unchanged'
            ELSE 'update' END AS action
FROM base b FULL OUTER JOIN changes c ON b.c_custkey = c.k
"""

QUERIES["q_pivot_unpivot"] = (q_pivot_unpivot, ORACLE_PIVOT_UNPIVOT)
QUERIES["q_merge_upsert"] = (q_merge_upsert, ORACLE_MERGE_UPSERT)


# --- q_join_salted: skew-mitigated join ---------------------------------------

_N_SALTS = 8


def q_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewed-key join with explicit SALTING — the manual 100 TB lever
    when AQE skew handling isn't enough. The observation stream has 4
    station keys (pathological skew: any hash shuffle lands everything
    on 4 reducers). Salting splits each fact key into N_SALTS
    deterministic sub-keys (obs_id % 8 — reproducible, not rand()) and
    replicates the dim side once per salt, so the join fans out over
    4x8 reducers; the post-aggregation removes the salt again. The
    ORACLE is the plain unsalted join — same answer, different
    physical distribution."""
    from metoffice_spark.obs import observations

    obs = observations(spark, sf_dir)
    dim = (
        load(spark, sf_dir, "region")
        .select(
            F.col("r_regionkey").cast("string").alias("station_id"),
            F.col("r_name").alias("region_name"),
        )
    )
    # coalesce: a NULL obs_id must land in a deterministic salt bucket
    # (r09 null-id probe) — NULL % N is NULL, and a NULL salt key
    # silently drops the row from the inner equi-join the salt is
    # supposed to be TRANSPARENT to (the oracle is the unsalted join).
    # pmod, not % (r13 idneg probe): a NEGATIVE obs_id under
    # truncated % lands in salts -7..-1, which the replicated dim
    # (salts 0..N-1) never carries — the same silent-drop violation
    # of salt transparency, on the sign axis.
    salted_fact = obs.withColumn(
        "salt",
        F.coalesce(
            F.pmod(F.col("obs_id"), F.lit(_N_SALTS)).cast("int"), F.lit(0)
        ),
    )
    salted_dim = dim.crossJoin(
        spark.range(_N_SALTS).select(F.col("id").cast("int").alias("salt"))
    )
    # force a shuffle join: at this test scale the replicated dim would
    # broadcast (hiding the salt); the hint shows the real skew shape —
    # the exchange hash-partitions on (station_id, salt), 4 x 8 keys
    joined = salted_fact.join(salted_dim.hint("shuffle_hash"), ["station_id", "salt"])
    return (
        joined.groupBy("station_id", "region_name")
        .agg(
            F.count("*").alias("n_obs"),
            F.sum(F.expr(cents_sql("windspeed_ms", 1000000))).alias("ws_sum_fp"),
        )
        .select("station_id", "region_name", "n_obs", "ws_sum_fp")
    )


from metoffice_spark.obs import oracle_cte as _obs_cte  # noqa: E402

ORACLE_JOIN_SALTED = f"""{_obs_cte()}
SELECT o.station_id, r.r_name AS region_name,
       count(*) AS n_obs,
       CAST(sum({cents_sql("windspeed_ms", 1000000)}) AS BIGINT) AS ws_sum_fp
FROM observations o
JOIN region r ON CAST(r.r_regionkey AS STRING) = o.station_id
GROUP BY o.station_id, r.r_name
"""

QUERIES["q_join_salted"] = (q_join_salted, ORACLE_JOIN_SALTED)


# --- q_sketch_distinct: KMV (bottom-k) distinct-count sketch ------------------
#
# A real streaming-mergeable cardinality sketch with DETERMINISTIC
# cross-engine construction: hash each key to a uniform fraction in
# (0,1) via md5 nibbles, keep the k smallest per group (bottom-k /
# K-Minimum-Values), estimate distinct = (k-1) / kth_min. Unlike HLL
# (engine-specific register layouts), every intermediate here is a
# deterministic expression, so the oracle matches bitwise.

_KMV_K = 64

# uniform (0,1) fraction from the first 8 md5 nibbles; instr() is
# dialect-common and gives the nibble value without hex->int casts.
# Divisors use scientific notation: Spark parses `4096.0` as DECIMAL
# (decimal arithmetic != IEEE), but `4096e0` is DOUBLE in both engines.
_FRAC = " + ".join(
    "(instr('0123456789abcdef', substring(h, {i}, 1)) - 1) / {p}e0".format(
        i=i + 1, p=16 ** (i + 1)
    )
    for i in range(8)
)


def q_sketch_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch per return flag: true distinct count
    vs the (k-1)/kth_min estimate.

    Scale shape: the per-group bottom-k is a partial-aggregatable
    sketch (each partition keeps its k smallest, merge keeps the k
    smallest of the union) — here expressed as a window rank over the
    distinct hashed keys; a production run would carry the k-array in
    an aggregate buffer. Estimate quality is the standard KMV bound
    (~1/sqrt(k-1) relative error)."""
    li = load(spark, sf_dir, "lineitem")
    hashed = (
        li.select("l_returnflag", "l_partkey")
        .distinct()
        .withColumn("h", F.md5(F.col("l_partkey").cast("string")))
        .withColumn("frac", F.expr(_FRAC))
    )
    w = Window.partitionBy("l_returnflag").orderBy("frac", "l_partkey")
    kth = (
        hashed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == _KMV_K)
        .select("l_returnflag", F.col("frac").alias("kth_min"))
    )
    truth = (
        li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("true_distinct"))
    )
    return truth.join(kth, "l_returnflag").select(
        "l_returnflag",
        "true_distinct",
        (F.lit(float(_KMV_K - 1)) / F.col("kth_min")).alias("kmv_estimate"),
    )


ORACLE_SKETCH_DISTINCT = f"""
WITH hashed AS (
  SELECT l_returnflag, l_partkey, md5(CAST(l_partkey AS STRING)) AS h
  FROM (SELECT DISTINCT l_returnflag, l_partkey FROM lineitem)
),
frac AS (
  SELECT l_returnflag, l_partkey, {_FRAC} AS frac FROM hashed
),
kth AS (
  SELECT l_returnflag, frac AS kth_min FROM (
    SELECT *, row_number() OVER (PARTITION BY l_returnflag
                                 ORDER BY frac, l_partkey) AS rn
    FROM frac) WHERE rn = {_KMV_K}
),
truth AS (
  SELECT l_returnflag, count(DISTINCT l_partkey) AS true_distinct FROM lineitem
  GROUP BY l_returnflag
)
SELECT t.l_returnflag, t.true_distinct,
       {float(_KMV_K - 1)} / k.kth_min AS kmv_estimate
FROM truth t JOIN kth k ON t.l_returnflag = k.l_returnflag
"""

QUERIES["q_sketch_distinct"] = (q_sketch_distinct, ORACLE_SKETCH_DISTINCT)


# --- q_set_bag: multiset (ALL) semantics --------------------------------------

def q_set_bag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL / EXCEPT ALL — bag semantics with duplicate
    multiplicity preserved (min(m1,m2) / m1-m2 per value), the variant
    q_set_intersect/q_set_except's DISTINCT forms don't cover. Spark
    plans these as aggregate+join on value with count arithmetic —
    shuffle on the value key, no row explosion."""
    return sql_frame(spark, sf_dir, ("lineitem",), ORACLE_SET_BAG)


ORACLE_SET_BAG = """
WITH a AS (SELECT l_quantity FROM lineitem WHERE l_returnflag = 'A'),
b AS (SELECT l_quantity FROM lineitem WHERE l_returnflag = 'R'),
i AS (
  SELECT l_quantity, count(*) AS n_inter
  FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
  GROUP BY l_quantity
),
d AS (
  SELECT l_quantity, count(*) AS n_diff
  FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
  GROUP BY l_quantity
)
SELECT COALESCE(i.l_quantity, d.l_quantity) AS l_quantity,
       COALESCE(i.n_inter, 0) AS n_inter,
       COALESCE(d.n_diff, 0) AS n_diff
FROM i FULL OUTER JOIN d ON i.l_quantity = d.l_quantity
"""

QUERIES["q_set_bag"] = (q_set_bag, ORACLE_SET_BAG)


# --- q_sql_ansi: the raw SQL interface ----------------------------------------
#
# One ANSI-compatible SQL text executed VERBATIM by both engines:
# Spark runs it through spark.sql() over registered views, DuckDB runs
# the identical string as the oracle. Demonstrates the engine's SQL
# face (parser -> Catalyst) with zero dialect translation.

_ANSI_SQL = f"""
WITH order_totals AS (
  SELECT o.o_custkey AS custkey,
         count(*) AS n_orders,
         sum({cents_sql("o.o_totalprice")}) AS cents
  FROM orders o
  WHERE o.o_orderstatus <> 'F'
  GROUP BY o.o_custkey
)
SELECT c.c_mktsegment AS segment,
       n.n_name AS nation,
       count(*) AS n_customers,
       CAST(sum(t.n_orders) AS BIGINT) AS n_orders,
       CAST(sum(t.cents) AS DOUBLE) / 100e0 AS open_value
FROM customer c
JOIN nation n ON n.n_nationkey = c.c_nationkey
JOIN order_totals t ON t.custkey = c.c_custkey
GROUP BY c.c_mktsegment, n.n_name
"""


def q_sql_ansi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL interface: the oracle text itself, run via spark.sql()
    over registered views — parser, analyzer, and Catalyst pick the
    same physical strategies the DataFrame builders get (broadcast
    dims, partial aggregation)."""
    from metoffice_spark.io import sql_frame

    return sql_frame(spark, sf_dir, ("customer", "nation", "orders"), _ANSI_SQL)


QUERIES["q_sql_ansi"] = (q_sql_ansi, _ANSI_SQL)


# --- q_join_bucketed: co-located join via bucketed tables --------------------

# Completed bucket roots (keep latest: the returned DataFrame lazily
# re-reads the bucketed files), same discipline as streaming replays.
_BUCKET_ROOTS: list = []
_N_BUCKETS = 8


def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free big-big join via bucketing: orders and lineitem are
    written as external tables bucketed (and sorted) by orderkey into
    the same bucket count, so the join needs NO exchange on either side
    — the bucket files ARE the co-located partitioning.

    This is the 100 TB fact-fact join answer the brief calls out
    ("co-locate joins via bucketing"): pay one bucketed write per
    table, then every subsequent orderkey join is exchange-free. The
    merge hint pins the sort-merge path so the co-location (not a
    broadcast) is what the plan proves; tests/test_plans.py locks
    exactly one exchange (the final group-by), zero on the join keys."""
    import os
    import shutil
    import tempfile
    import uuid

    base = os.path.join(tempfile.gettempdir(), "metoffice_bucketed")
    for stale in _BUCKET_ROOTS[:-1]:
        shutil.rmtree(stale, ignore_errors=True)
    del _BUCKET_ROOTS[: max(0, len(_BUCKET_ROOTS) - 1)]
    root = os.path.join(base, uuid.uuid4().hex[:12])
    _BUCKET_ROOTS.append(root)

    for tbl, key, cols in (
        ("orders", "o_orderkey", ["o_orderkey", "o_orderpriority"]),
        ("lineitem", "l_orderkey", ["l_orderkey", "l_extendedprice", "l_discount"]),
    ):
        name = f"bkt_{tbl}"
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            load(spark, sf_dir, tbl)
            .select(*cols)
            .write.bucketBy(_N_BUCKETS, key)
            .sortBy(key)
            .option("path", os.path.join(root, tbl))
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(name)
        )

    o = spark.table("bkt_orders")
    li = spark.table("bkt_lineitem").hint("merge")
    j = o.join(li, o.o_orderkey == li.l_orderkey)
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.expr(cents_sql(_DISC_PRICE, 10000)))
            .cast("bigint")
            .alias("revenue_fp"),
        )
    )


ORACLE_JOIN_BUCKETED = f"""
SELECT o.o_orderpriority, count(*) AS n_lines,
       CAST(sum({cents_sql(_DISC_PRICE, 10000)}) AS BIGINT)
         AS revenue_fp
FROM orders o JOIN lineitem li ON o.o_orderkey = li.l_orderkey
GROUP BY o.o_orderpriority
"""

QUERIES["q_join_bucketed"] = (q_join_bucketed, ORACLE_JOIN_BUCKETED)


# --- q_agg_histogram: deterministic equi-width histogram + CDF ---------------
#
# The oracle-checkable stand-in for approx-quantile sketches: fixed
# 1 m/s bins over windspeed (bin = floor(x), exact on IEEE doubles in
# both engines), per-station counts, and a fixed-point cumulative
# distribution. Partial-aggregatable (bin counts merge by +), and the
# CDF window runs over <= 20 bins per station — nothing scales with
# row count past the first aggregate.


def q_agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metoffice_spark.obs import observations

    obs = observations(spark, sf_dir)
    binned = obs.select(
        "station_id", F.floor("windspeed_ms").cast("int").alias("bin")
    )
    counts = binned.groupBy("station_id", "bin").agg(F.count("*").alias("n"))
    # asc_nulls_first, pinned on BOTH dialects: a NULL windspeed (a
    # dead sensor interval) yields a NULL bin, and the engines'
    # DEFAULT null orders differ (Spark ASC = NULLS FIRST, DuckDB
    # NULLS LAST) — unpinned, the cumulative counts diverge on any
    # slice with missing values (r07 null-value fuzz finding).
    w = (
        Window.partitionBy("station_id")
        .orderBy(F.col("bin").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tot = Window.partitionBy("station_id")
    return (
        counts.withColumn("cum_n", F.sum("n").over(w).cast("bigint"))
        .withColumn("total", F.sum("n").over(tot).cast("bigint"))
        .select(
            "station_id",
            "bin",
            "n",
            "cum_n",
            F.expr("(cast(1000000 as bigint) * cum_n) div total").alias("cdf_ppm"),
        )
    )


from metoffice_spark.obs import oracle_cte as _hist_cte  # noqa: E402

ORACLE_AGG_HISTOGRAM = f"""{_hist_cte()},
counts AS (
  SELECT station_id, CAST(floor(windspeed_ms) AS INT) AS bin, count(*) AS n
  FROM observations GROUP BY 1, 2
)
SELECT station_id, bin, n,
       CAST(sum(n) OVER (PARTITION BY station_id ORDER BY bin NULLS FIRST
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_n,
       (1000000 * CAST(sum(n) OVER (PARTITION BY station_id ORDER BY bin NULLS FIRST
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT))
         // CAST(sum(n) OVER (PARTITION BY station_id) AS BIGINT) AS cdf_ppm
FROM counts
"""

QUERIES["q_agg_histogram"] = (q_agg_histogram, ORACLE_AGG_HISTOGRAM)


# --- q_fn_null_suite: null-semantics function surface -------------------------
#
# The null-handling family (EXT beyond the reference's NaN guard,
# MWC:181-183): nullif / coalesce planting and repair, null-safe
# equality (Spark `<=>` vs DuckDB `IS NOT DISTINCT FROM` — different
# SYNTAX, same three-valued-logic escape hatch), and the null-skipping
# aggregate rules (count(col) vs count(*), sum over nulls) that every
# engine pair must agree on before any other query can be trusted.
# Scale: map-only projection + one grouped aggregate.


def q_fn_null_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per nation: row count, non-null counts/sums of a planted
    nullable column, and null-safe equality tallies."""
    return sql_frame(spark, sf_dir, ("customer",), ORACLE_FN_NULL_SUITE)


ORACLE_FN_NULL_SUITE = """
WITH c AS (
  SELECT c_custkey, c_nationkey,
         nullif(c_custkey % 7, 0) AS nv,
         nullif(c_custkey % 14, 0) AS nv2
  FROM customer
)
SELECT c_nationkey,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(nv) AS BIGINT) AS n_nonnull,
       CAST(sum(nv) AS BIGINT) AS sum_nv,
       CAST(sum(coalesce(nv, -1)) AS BIGINT) AS sum_filled,
       CAST(sum(CASE WHEN nv IS NOT DISTINCT FROM nv2 THEN 1 ELSE 0 END)
         AS BIGINT) AS n_nullsafe_eq,
       CAST(sum(CASE WHEN nv IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing
FROM c GROUP BY c_nationkey
"""

QUERIES["q_fn_null_suite"] = (q_fn_null_suite, ORACLE_FN_NULL_SUITE)


# --- q_fn_datetime_suite: calendar/date function surface ----------------------
#
# The datetime family beyond q_fn_date_fmt/q_fn_epoch2ts:
# year/quarter/month/day parts, month truncation, last-day, +30-day
# deadline arithmetic, day-difference vs a fixed epoch, and an
# ENGINE-PROOF day-of-week ((epoch_days + 4) % 7, 0 = Sunday) —
# Spark's dayofweek() and DuckDB's dow() disagree on numbering, so
# the portable form is explicit integer arithmetic on epoch days
# (the same reasoning as the reference's day-of-month comparison
# quirk, MWC:206-208). Map-only; sampled by key to keep the result
# row-bounded.


def q_fn_datetime_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per sampled order: calendar parts, truncations, date
    arithmetic, and the portable day-of-week."""
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 97 == 0)
        .select("o_orderkey", F.to_date("o_orderdate").alias("d"))
    )
    return o.select(
        "o_orderkey",
        "d",
        F.year("d").cast("int").alias("yr"),
        F.quarter("d").cast("int").alias("qtr"),
        F.month("d").cast("int").alias("mon"),
        F.dayofmonth("d").cast("int").alias("dom"),
        F.to_date(F.date_trunc("month", F.col("d"))).alias("month_start"),
        F.last_day("d").alias("month_end"),
        F.date_add(F.col("d"), 30).alias("deadline"),
        F.datediff(F.col("d"), F.lit("1970-01-01").cast("date"))
        .cast("int")
        .alias("epoch_days"),
        F.expr(
            "cast((datediff(d, date'1970-01-01') + 4) % 7 as int)"
        ).alias("dow_portable"),
    )


ORACLE_FN_DATETIME_SUITE = """
WITH o AS (
  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d
  FROM orders WHERE o_orderkey % 97 = 0
)
SELECT o_orderkey, d,
       CAST(year(d) AS INT) AS yr,
       CAST(quarter(d) AS INT) AS qtr,
       CAST(month(d) AS INT) AS mon,
       CAST(day(d) AS INT) AS dom,
       CAST(date_trunc('month', d) AS DATE) AS month_start,
       last_day(d) AS month_end,
       d + 30 AS deadline,
       CAST(date_diff('day', DATE '1970-01-01', d) AS INT) AS epoch_days,
       CAST((date_diff('day', DATE '1970-01-01', d) + 4) % 7 AS INT)
         AS dow_portable
FROM o
"""

QUERIES["q_fn_datetime_suite"] = (q_fn_datetime_suite, ORACLE_FN_DATETIME_SUITE)


# --- q_agg_cube: CUBE over two dimensions ------------------------------------
#
# Completes the multi-dimensional aggregate family next to
# q_agg_grouping_sets' ROLLUP: the full 2^2 lattice over
# (orderstatus, orderpriority) with explicit grouping flags (the
# ROLLUP precedent: data has no real NULL keys, so CASE-on-NULL flags
# are unambiguous and dialect-portable). NOT `df.cube()`: Spark plans
# CUBE as Expand(4x) + hash aggregate, which (a) shuffles four copies
# of every input row and (b) emits ZERO rows on empty input, whereas
# the SQL standard (and DuckDB) gives the () grouping set global-
# aggregate semantics — exactly 1 row with count 0 on an empty table
# (an empty-slice fuzz finding). Instead: one finest-grain
# (status, priority) aggregate — the only full-data shuffle — then
# the three coarser levels re-aggregate the tiny base, with
# the () level an UNGROUPED agg, restoring the standard 1-row-on-
# empty semantics for free.


def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE (o_orderstatus, o_orderpriority): counts + cents totals
    for all four grouping levels with explicit flags."""
    o = load(spark, sf_dir, "orders")
    base = (
        o.groupBy("o_orderstatus", "o_orderpriority").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(F.expr(cents_sql("o_totalprice"))).cast("bigint").alias("total_cents"),
        )
    )
    n, c = F.sum("n_orders").cast("bigint"), F.sum("total_cents").cast("bigint")
    lvl_sp = base
    lvl_s = base.groupBy("o_orderstatus").agg(n.alias("n_orders"), c.alias("total_cents")).withColumn("o_orderpriority", F.lit(None).cast("string"))
    lvl_p = base.groupBy("o_orderpriority").agg(n.alias("n_orders"), c.alias("total_cents")).withColumn("o_orderstatus", F.lit(None).cast("string"))
    lvl_g = base.agg(
        F.coalesce(n, F.lit(0)).cast("bigint").alias("n_orders"),
        c.alias("total_cents"),
    ).select(
        F.lit(None).cast("string").alias("o_orderstatus"),
        F.lit(None).cast("string").alias("o_orderpriority"),
        "n_orders",
        "total_cents",
    )
    cubed = (
        lvl_sp.select("o_orderstatus", "o_orderpriority", "n_orders", "total_cents")
        .unionByName(lvl_s.select("o_orderstatus", "o_orderpriority", "n_orders", "total_cents"))
        .unionByName(lvl_p.select("o_orderstatus", "o_orderpriority", "n_orders", "total_cents"))
        .unionByName(lvl_g)
    )
    return cubed.select(
        "o_orderstatus",
        "o_orderpriority",
        F.expr("cast(o_orderstatus IS NULL as int)").alias("g_status"),
        F.expr("cast(o_orderpriority IS NULL as int)").alias("g_priority"),
        "n_orders",
        "total_cents",
    )


ORACLE_AGG_CUBE = f"""
SELECT o_orderstatus, o_orderpriority,
       CAST(o_orderstatus IS NULL AS INT) AS g_status,
       CAST(o_orderpriority IS NULL AS INT) AS g_priority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum({cents_sql('o_totalprice')}) AS BIGINT) AS total_cents
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""

QUERIES["q_agg_cube"] = (q_agg_cube, ORACLE_AGG_CUBE)


# --- q_fn_bitwise_suite: bitwise scalar function family (round 5j) -----------
#
# The last uncovered scalar-function family: AND/OR/XOR, shifts,
# popcount, and masked complement over the order key. Map-only,
# sampled by key. Dialect note: Spark's ``^`` is bitwise XOR but
# DuckDB's ``^`` is POWER — the oracle must use ``xor()``; Spark
# spells shifts shiftleft/shiftright, DuckDB ``<<``/``>>`` — which is
# exactly why this family gets per-dialect texts instead of the
# identical-text discipline.


def q_fn_bitwise_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per sampled order key: AND/OR/XOR masks, shifts, popcount,
    masked complement."""
    o = load(spark, sf_dir, "orders").filter("o_orderkey % 31 = 0")
    return o.select(
        "o_orderkey",
        F.expr("cast(o_orderkey & 255 as bigint)").alias("b_and"),
        F.expr("cast(o_orderkey | 4096 as bigint)").alias("b_or"),
        F.expr("cast(o_orderkey ^ 61680 as bigint)").alias("b_xor"),
        F.expr("cast(shiftleft(o_orderkey & 1023, 3) as bigint)").alias("b_shl"),
        F.expr("cast(shiftright(o_orderkey, 2) as bigint)").alias("b_shr"),
        F.expr("cast(bit_count(o_orderkey) as bigint)").alias("b_pop"),
        F.expr("cast(~o_orderkey & 255 as bigint)").alias("b_notmask"),
    )


ORACLE_FN_BITWISE = """
SELECT o_orderkey,
       CAST(o_orderkey & 255 AS BIGINT) AS b_and,
       CAST(o_orderkey | 4096 AS BIGINT) AS b_or,
       CAST(xor(o_orderkey, 61680) AS BIGINT) AS b_xor,
       CAST((o_orderkey & 1023) << 3 AS BIGINT) AS b_shl,
       CAST(o_orderkey >> 2 AS BIGINT) AS b_shr,
       CAST(bit_count(o_orderkey) AS BIGINT) AS b_pop,
       CAST(~o_orderkey & 255 AS BIGINT) AS b_notmask
FROM orders WHERE o_orderkey % 31 = 0
"""

QUERIES["q_fn_bitwise_suite"] = (q_fn_bitwise_suite, ORACLE_FN_BITWISE)
