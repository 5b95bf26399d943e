"""Warehouse / pipeline-governance operators (SURVEY.md §2.26,
round 5h): RFM customer segmentation, top event paths, and
order-free dataset fingerprints for reproducibility manifests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from metoffice_spark.functions.distributed import (
    global_ntile,
    global_running_sum,
    global_strict_prefix_min,
)
from metoffice_spark.io import load, sql_frame
from metoffice_spark.parity import cents_sql, fits_sql
from metoffice_spark.session import scoped_persist

QUERIES: dict = {}


# shared-dialect hex→int: instr() and substring() behave identically
# in Spark SQL and DuckDB (the _SK_FRAC / _bf_positions idiom), so one
# expression string serves both engines.
def _hexn(h: str, n: int) -> str:
    # per-term CAST to BIGINT: Spark runs ANSI mode and INT * 16^7+
    # literals overflow int32 before widening; DuckDB accepts the
    # cast unchanged.
    terms = " + ".join(
        f"CAST(instr('0123456789abcdef', substring({h}, {i + 1}, 1)) - 1"
        f" AS BIGINT) * {16 ** (n - 1 - i)}"
        for i in range(n)
    )
    return f"({terms})"


# --- q_rfm_segmentation: recency / frequency / monetary scoring ---------------
#
# The classic CRM segmentation: per customer, days since last order
# (recency), order count (frequency), lifetime spend in cents
# (monetary); each scored into quintiles by ntile(5) over a TOTAL
# order (metric + custkey tie-break — both engines distribute ntile
# remainders to the leading buckets, so the assignment is identical),
# then a named segment from the score triple. Output is the segment
# census plus each segment's exact metric means (fixed point).
#
# Scale: one orders shuffle on custkey; each quintile assignment is a
# distributed global_ntile (functions/distributed.py: range-partition
# + per-partition row_number + broadcast offsets) — no single-task
# global sort even though the customer table grows linearly with SF.
# The observation-date scalar broadcasts via 1-row crossJoin.


def q_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per RFM segment: customer count and exact mean
    recency/frequency/monetary (1e-6 fixed point)."""
    # rank-validity boundary (ADVICE r08, mirrored in the oracle): an
    # order with NULL price or NULL date can't contribute to any RFM
    # metric; without the filter a customer whose EVERY order is
    # NULL-priced/dated gets NULL money/rec, which ntile places first
    # in Spark (NULLS FIRST) and last in DuckDB (NULLS LAST), shifting
    # quintile assignments. Same boundary as q_gini_spend.
    orders = (
        load(spark, sf_dir, "orders")
        .filter(
            F.col("o_totalprice").isNotNull()
            & F.col("o_orderdate").isNotNull()
            # finite extension (a composed-battery probe, q_gini_spend
            # class): all-non-finite customers must not reach ntile
            & F.expr(fits_sql("o_totalprice"))
        )
        .select(
            "o_custkey",
            F.to_date("o_orderdate").alias("d"),
            F.expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)").alias(
                "cents"
            ),
        )
    )
    # kept: exchanges 16 -> 17 without it (A/B: 5 pairs, sf0.1)
    per_cust = scoped_persist(
        orders.groupBy("o_custkey").agg(
            F.max("d").alias("last_d"),
            F.count(F.lit(1)).cast("bigint").alias("freq"),
            F.sum("cents").cast("bigint").alias("money"),
        )
    )
    obs = per_cust.agg(F.max("last_d").alias("obs_d"))
    rfm = per_cust.crossJoin(F.broadcast(obs)).select(
        "o_custkey",
        F.expr("cast(datediff(obs_d, last_d) as bigint)").alias("rec"),
        "freq",
        "money",
    )
    scored = global_ntile(
        global_ntile(
            global_ntile(
                rfm,
                [F.col("rec").desc(), F.col("o_custkey").asc()],
                5,
                out="r_score",
            ),
            [F.col("freq").asc(), F.col("o_custkey").asc()],
            5,
            out="f_score",
        ),
        [F.col("money").asc(), F.col("o_custkey").asc()],
        5,
        out="m_score",
    )
    seg = (
        "CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4"
        " THEN 'champion'"
        " WHEN r_score >= 4 AND f_score <= 2 THEN 'new'"
        " WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk'"
        " WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'"
        " ELSE 'core' END"
    )
    return (
        scored.select(F.expr(seg).alias("segment"), "rec", "freq", "money")
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.expr("cast(1000000 * sum(rec) div count(1) as bigint)").alias(
                "avg_recency_fp"
            ),
            F.expr("cast(1000000 * sum(freq) div count(1) as bigint)").alias(
                "avg_freq_fp"
            ),
            F.expr("cast(1000000 * sum(money) div count(1) as bigint)").alias(
                "avg_money_fp"
            ),
        )
    )


ORACLE_RFM = f"""
WITH per_cust AS (
  SELECT o_custkey, max(CAST(o_orderdate AS DATE)) AS last_d,
         CAST(count(*) AS BIGINT) AS freq,
         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS money
  FROM orders
  WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
    AND {fits_sql("o_totalprice")}
  GROUP BY o_custkey
),
obs AS (SELECT max(last_d) AS obs_d FROM per_cust),
rfm AS (
  SELECT o_custkey,
         CAST(datediff('day', last_d, obs_d) AS BIGINT) AS rec, freq, money
  FROM per_cust CROSS JOIN obs
),
scored AS (
  SELECT o_custkey, rec, freq, money,
         CAST(ntile(5) OVER (ORDER BY rec DESC, o_custkey ASC) AS INT)
           AS r_score,
         CAST(ntile(5) OVER (ORDER BY freq ASC, o_custkey ASC) AS INT)
           AS f_score,
         CAST(ntile(5) OVER (ORDER BY money ASC, o_custkey ASC) AS INT)
           AS m_score
  FROM rfm
),
seg AS (
  SELECT CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4
              THEN 'champion'
              WHEN r_score >= 4 AND f_score <= 2 THEN 'new'
              WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk'
              WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
              ELSE 'core' END AS segment,
         rec, freq, money
  FROM scored
)
SELECT segment, CAST(count(*) AS BIGINT) AS n_customers,
       CAST(1000000 * CAST(sum(rec) AS BIGINT) // count(*) AS BIGINT)
         AS avg_recency_fp,
       CAST(1000000 * CAST(sum(freq) AS BIGINT) // count(*) AS BIGINT)
         AS avg_freq_fp,
       CAST(1000000 * CAST(sum(money) AS BIGINT) // count(*) AS BIGINT)
         AS avg_money_fp
FROM seg GROUP BY segment
"""

QUERIES["q_rfm_segmentation"] = (q_rfm_segmentation, ORACLE_RFM)


# --- q_event_paths: top length-3 behavior paths -------------------------------
#
# Path analysis (the Sankey feed): per user, every window of three
# consecutive events by (ts, event_id) becomes a 'a>b>c' path
# string; the top 20 paths by count. Complements q_markov_transitions
# (1-step) and q_pattern_match (fixed regex): this enumerates the
# actual frequent trigram paths.
#
# Scale: the lead window is bounded by user_id partitions; the path
# aggregate shuffles short strings; top-k is TakeOrdered.

_PATH_TOPK = 20


def q_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 20 'a>b>c' consecutive event-type paths with counts."""
    return sql_frame(spark, sf_dir, ("events",), ORACLE_EVENT_PATHS)


# event_type IS NOT NULL: Spark's concat_ws skips NULL arguments while
# || propagates NULL, so a NULL type would give a 2-element path on one
# engine and a NULL group on the other. ts IS NOT NULL: an untimestamped
# event has no position in the path, and the engines sort a NULL ts at
# opposite ends, which would re-splice the user's trigrams.
ORACLE_EVENT_PATHS = f"""
WITH seq AS (
  SELECT event_type,
         lead(event_type, 1) OVER w AS t1,
         lead(event_type, 2) OVER w AS t2
  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
)
SELECT event_type || '>' || t1 || '>' || t2 AS path,
       CAST(count(*) AS BIGINT) AS n
FROM seq WHERE t1 IS NOT NULL AND t2 IS NOT NULL
GROUP BY event_type || '>' || t1 || '>' || t2
ORDER BY n DESC, path ASC
LIMIT {_PATH_TOPK}
"""

QUERIES["q_event_paths"] = (q_event_paths, ORACLE_EVENT_PATHS)


# --- q_dataset_fingerprint: order-free shard checksums ------------------------
#
# The reproducibility manifest a pipeline stamps on every materialized
# dataset: per shard (doc_id mod 16), the row count, an order-free
# additive checksum (sum of 32-bit md5 slices of the canonical row
# string — commutative, so partition order and merge order cannot
# change it), and an order-free bit_xor checksum over 48-bit slices,
# plus the whole-dataset ROLLUP row. Two independent families (add
# and xor) so a swapped-row-pair regression cannot cancel in both.
#
# Overflow: 32-bit terms sum within int64 up to ~4e9 rows per shard.
# Scale: one map-side hash + a shard-keyed aggregate; no sorts, no
# joins. NOT `df.rollup()`: Spark plans ROLLUP as Expand(2x) + hash
# aggregate, which shuffles two copies of every row and emits ZERO
# rows on an empty table, where the SQL standard (and the DuckDB
# oracle) gives the () grouping set exactly one global row with
# count 0 (r07 empty-slice fuzz finding). The per-shard aggregate is
# the only full-data shuffle; the total row re-aggregates the <=16-row
# base UNGROUPED, which has the standard 1-row-on-empty semantics
# (add and xor are both associative+commutative, so re-aggregation of
# per-shard checksums is exact).

_FP_SHARDS = 16


def q_dataset_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per shard (and the ROLLUP total): row count, additive 32-bit
    checksum, xor 48-bit checksum."""
    docs = load(spark, sf_dir, "documents")
    row_h = (
        "md5(concat(cast(doc_id as string), '|', lang, '|', source, '|', "
        "cast(n_chars as string)))"
    )
    hashed = docs.select(
        (F.col("doc_id") % _FP_SHARDS).cast("int").alias("shard"),
        F.expr(_hexn(row_h, 8)).cast("bigint").alias("h32"),
        F.expr(_hexn(row_h, 12)).cast("bigint").alias("h48"),
    )
    base = (
        hashed.groupBy("shard").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("h32").cast("bigint").alias("checksum_add"),
            F.expr("bit_xor(h48)").cast("bigint").alias("checksum_xor"),
        )
    )
    total = base.agg(
        F.coalesce(F.sum("n_rows"), F.lit(0)).cast("bigint").alias("n_rows"),
        F.sum("checksum_add").cast("bigint").alias("checksum_add"),
        F.expr("bit_xor(checksum_xor)").cast("bigint").alias("checksum_xor"),
    ).select(F.lit(-1).cast("int").alias("shard"), "n_rows", "checksum_add", "checksum_xor")
    return base.select(
        F.col("shard").cast("int").alias("shard"),
        "n_rows",
        "checksum_add",
        "checksum_xor",
    ).unionByName(total)


def _fp_oracle() -> str:
    row_h = (
        "md5(CAST(doc_id AS VARCHAR) || '|' || lang || '|' || source || '|' "
        "|| CAST(n_chars AS VARCHAR))"
    )
    return f"""
WITH hashed AS (
  SELECT CAST(doc_id % {_FP_SHARDS} AS INT) AS shard,
         CAST({_hexn(row_h, 8)} AS BIGINT) AS h32,
         CAST({_hexn(row_h, 12)} AS BIGINT) AS h48
  FROM documents
)
SELECT CAST(coalesce(shard, -1) AS INT) AS shard,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(h32) AS BIGINT) AS checksum_add,
       CAST(bit_xor(h48) AS BIGINT) AS checksum_xor
FROM hashed GROUP BY ROLLUP (shard)
"""


QUERIES["q_dataset_fingerprint"] = (q_dataset_fingerprint, _fp_oracle())


# --- q_lorenz_curve: decile concentration curve (round 5p) -------------------
#
# The curve behind q_gini_spend's scalar: customers ranked ascending
# by lifetime spend into ntile(10) deciles (metric + custkey
# tie-break — both engines distribute ntile remainders identically,
# the q_rfm_segmentation precedent), then each decile's exact revenue
# and the cumulative share of total revenue (1e-6 fixed point, exact
# integer cross-multiplication — spend is non-negative cents so the
# truncating divide is dialect-safe).
#
# Scale: one custkey aggregate, one distributed global_ntile over the
# per-customer spend (range-partition + broadcast offsets — no
# single-task sort), one 10-row cumsum over the bounded decile table.
# The decile table IS the Lorenz curve sampled at 10 points.


def q_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per spend decile (ascending): customers, revenue cents, and
    cumulative revenue share (1e-6 fixed point)."""
    # rank-validity boundary (r08 null-price probe, mirrored in the
    # oracle): as q_gini_spend — an all-unpriced customer's NULL
    # total sorts at opposite ends of the decile order per engine.
    orders = load(spark, sf_dir, "orders").filter(
        # finite extension (r10 composed battery): the q_gini_spend
        # all-non-finite-customer shape — NULL totals rank per-engine
        F.col("o_totalprice").isNotNull()
        & F.expr(fits_sql("o_totalprice"))
    ).select(
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )
    spend = orders.groupBy("o_custkey").agg(
        F.sum("cents").cast("bigint").alias("s")
    )
    deciled = global_ntile(
        spend,
        [F.col("s").asc(), F.col("o_custkey").asc()],
        10,
        out="decile",
    ).select("o_custkey", "s", "decile")
    per_d = deciled.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_custs"),
        F.sum("s").cast("bigint").alias("rev_cents"),
    )
    w_cum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    # each window defined ONCE; the share uses the two-stage
    # _fp_div_1e6 refine (stats.py:31) — a one-shot cum*1e6 wraps
    # int64 once total revenue passes ~9.2e12 cents (~TPC-H sf0.5)
    from metoffice_spark.operators.stats import _fp_div_1e6

    cum = per_d.select(
        "decile",
        "n_custs",
        "rev_cents",
        F.sum("rev_cents").over(w_cum).cast("bigint").alias("cum_cents"),
        F.sum("rev_cents").over(w_all).cast("bigint").alias("tot_cents"),
    )
    return cum.select(
        "decile",
        "n_custs",
        "rev_cents",
        "cum_cents",
        F.expr(
            f"CAST({_fp_div_1e6('cum_cents', 'tot_cents', 'div')} AS BIGINT)"
        ).alias("cum_share_fp"),
    ).orderBy("decile")


ORACLE_LORENZ = f"""
WITH spend AS (
  SELECT o_custkey,
         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS s
  FROM orders WHERE o_totalprice IS NOT NULL
    AND {fits_sql("o_totalprice")}
  GROUP BY o_custkey
),
deciled AS (
  SELECT o_custkey, s,
         CAST(ntile(10) OVER (ORDER BY s ASC, o_custkey ASC) AS INT) AS decile
  FROM spend
),
per_d AS (
  SELECT decile, CAST(count(*) AS BIGINT) AS n_custs,
         CAST(sum(s) AS BIGINT) AS rev_cents
  FROM deciled GROUP BY decile
)
SELECT decile, n_custs, rev_cents, cum_cents,
       CAST((1000 * (((cum_cents) * 1000) // (tot_cents)) + ((((cum_cents) * 1000) - (((cum_cents) * 1000) // (tot_cents)) * (tot_cents)) * 1000) // (tot_cents)) AS BIGINT)
         AS cum_share_fp
FROM (
  SELECT decile, n_custs, rev_cents,
         CAST(sum(rev_cents) OVER (ORDER BY decile
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_cents,
         CAST(sum(rev_cents) OVER () AS BIGINT) AS tot_cents
  FROM per_d
) ORDER BY decile
"""

QUERIES["q_lorenz_curve"] = (q_lorenz_curve, ORACLE_LORENZ)


# --- q_abc_classification: Pareto ABC inventory classes (round 5p) -----------
#
# Parts classed by cumulative revenue share in descending-revenue
# order: A up to 70 %, B up to 90 %, C the tail — the inventory
# staple. The class boundary test is an exact integer
# cross-multiplication (cum*100 <= total*70), no percentage floats
# anywhere; ties break by partkey for a total order.
#
# Scale: one partkey aggregate + one DISTRIBUTED cumsum over the part
# dimension (global_running_sum: range-partition + broadcast offsets,
# which also yields the grand total for free — no single-task sort
# even though |parts| grows linearly with SF) + a 3-row census.


def q_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per ABC class: parts, revenue cents, revenue share (1e-6),
    min/max cumulative-share position."""
    # rank-validity boundary (ADVICE r08, mirrored in the oracle): an
    # unpriced line contributes no revenue; without the filter a part
    # whose EVERY line is unpriced gets NULL r, which the revenue
    # ordering places first in Spark and last in DuckDB, shifting the
    # running sum. Same boundary as q_gini_spend / q_lorenz_curve.
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(
            F.col("l_extendedprice").isNotNull()
            # finite extension (r10 composed battery, q_gini_spend
            # class): an all-non-finite part must not reach the
            # revenue-rank cumsum
            & F.expr(fits_sql("l_extendedprice"))
        )
        .select(
            "l_partkey",
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("bigint")
            .alias("cents"),
        )
    )
    rev = li.groupBy("l_partkey").agg(F.sum("cents").cast("bigint").alias("r"))
    cum = global_running_sum(
        rev,
        [F.col("r").desc(), F.col("l_partkey").asc()],
        F.col("r"),
        out="cum",
        with_total="tot",
    ).select("l_partkey", "r", "cum", "tot")
    classed = cum.select(
        "l_partkey",
        "r",
        F.when(F.col("cum") * 100 <= F.col("tot") * 70, "A")
        .when(F.col("cum") * 100 <= F.col("tot") * 90, "B")
        .otherwise("C")
        .alias("abc"),
        "tot",
    )
    return (
        classed.groupBy("abc")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.sum("r").cast("bigint").alias("rev_cents"),
            F.max("tot").cast("bigint").alias("tot_cents"),
        )
        .select(
            "abc",
            "n_parts",
            "rev_cents",
            # two-stage refine: rev_cents*1e6 wraps int64 past
            # ~9.2e12 total cents (~TPC-H sf0.5)
            F.expr(
                "CAST((1000 * (((rev_cents) * 1000) div (tot_cents)) + ((((rev_cents) * 1000) - (((rev_cents) * 1000) div (tot_cents)) * (tot_cents)) * 1000) div (tot_cents)) AS BIGINT)"
            ).alias("share_fp"),
        )
        .orderBy("abc")
    )


ORACLE_ABC = f"""
WITH rev AS (
  SELECT l_partkey,
         CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS r
  FROM lineitem WHERE l_extendedprice IS NOT NULL
    AND {fits_sql("l_extendedprice")}
  GROUP BY l_partkey
),
cum AS (
  SELECT l_partkey, r,
         CAST(sum(r) OVER (ORDER BY r DESC, l_partkey ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         CAST(sum(r) OVER () AS BIGINT) AS tot
  FROM rev
),
classed AS (
  SELECT l_partkey, r,
         CASE WHEN cum * 100 <= tot * 70 THEN 'A'
              WHEN cum * 100 <= tot * 90 THEN 'B'
              ELSE 'C' END AS abc,
         tot
  FROM cum
)
SELECT abc, CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(r) AS BIGINT) AS rev_cents,
       CAST((1000 * (((sum(r)) * 1000) // (max(tot))) + ((((sum(r)) * 1000) - (((sum(r)) * 1000) // (max(tot))) * (max(tot))) * 1000) // (max(tot))) AS BIGINT) AS share_fp
FROM classed GROUP BY abc ORDER BY abc
"""

QUERIES["q_abc_classification"] = (q_abc_classification, ORACLE_ABC)


# --- q_hhi_concentration: Herfindahl market concentration (round 5p) ---------
#
# Per nation: the Herfindahl-Hirschman index of customer spend
# shares, kept EXACT by quantizing shares to parts-per-million first
# (the two-stage _fp_div_1e6 refine — a one-shot s*1e6 multiply
# wraps int64 past ~9.2e12 cents of nation spend) and summing their
# squares — a raw Σs_i² would overflow int64 at cents scale, and a
# double Σ would be addition-order nondeterministic across
# partitions. hhi_fp = Σ share_ppm² div 1e6 ranges 0 (atomistic)
# .. 1e6 (monopoly). Resolution bound (review r05): a customer below
# 1 ppm of nation spend quantizes to zero, so the index degrades
# only past ~1e6 comparable customers per nation; the squared sums
# stay exact to ~9.2e6 customers per nation (1e12 per term).
#
# Scale: two keyed aggregates (customer spend, then nation roll-up)
# + a broadcast join of the |nations|-row totals.


def q_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per nation: customers, total spend cents, and the ppm-
    resolution Herfindahl index (1e-6 fixed point, 0..1e6)."""
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.expr(cents_sql("o_totalprice")).alias("cents"),
    )
    spend = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_nationkey", "o_custkey")
        .agg(F.sum("cents").cast("bigint").alias("s"))
    )
    totals = spend.groupBy("c_nationkey").agg(
        F.sum("s").cast("bigint").alias("s_tot"),
        F.count(F.lit(1)).cast("bigint").alias("n_custs"),
    )
    shares = spend.join(F.broadcast(totals), "c_nationkey").select(
        "c_nationkey",
        "n_custs",
        "s_tot",
        F.expr("CAST((1000 * (((s) * 1000) div (s_tot)) + ((((s) * 1000) - (((s) * 1000) div (s_tot)) * (s_tot)) * 1000) div (s_tot)) AS BIGINT)").alias("share_ppm"),
    )
    return (
        shares.groupBy("c_nationkey", "n_custs", "s_tot")
        .agg(
            F.expr(
                "CAST(sum(share_ppm * share_ppm) div 1000000 AS BIGINT)"
            ).alias("hhi_fp")
        )
        .select(
            F.col("c_nationkey").cast("bigint").alias("nat"),
            "n_custs",
            F.col("s_tot").alias("spend_cents"),
            "hhi_fp",
        )
    )


ORACLE_HHI = f"""
WITH spend AS (
  SELECT c.c_nationkey, o.o_custkey,
         CAST(sum({cents_sql("o.o_totalprice")}) AS BIGINT) AS s
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY c.c_nationkey, o.o_custkey
),
totals AS (
  SELECT c_nationkey, CAST(sum(s) AS BIGINT) AS s_tot,
         CAST(count(*) AS BIGINT) AS n_custs
  FROM spend GROUP BY c_nationkey
),
shares AS (
  SELECT sp.c_nationkey, t.n_custs, t.s_tot,
         CAST((1000 * (((sp.s) * 1000) // (t.s_tot)) + ((((sp.s) * 1000) - (((sp.s) * 1000) // (t.s_tot)) * (t.s_tot)) * 1000) // (t.s_tot)) AS BIGINT) AS share_ppm
  FROM spend sp JOIN totals t ON sp.c_nationkey = t.c_nationkey
)
SELECT CAST(c_nationkey AS BIGINT) AS nat, n_custs,
       s_tot AS spend_cents,
       CAST(sum(share_ppm * share_ppm) // 1000000 AS BIGINT) AS hhi_fp
FROM shares GROUP BY c_nationkey, n_custs, s_tot
"""

QUERIES["q_hhi_concentration"] = (q_hhi_concentration, ORACLE_HHI)


# --- q_skyline_pareto: 2-D dominance skyline (round 5t) ----------------------
#
# The Pareto frontier of parts minimizing (retail price, size): p is
# dominated iff some q has q.price <= p.price AND q.size <= p.size
# with strict inequality in at least one dimension. NO pairwise
# self-join: in 2-D the dominance test collapses to two window
# minima — min(size) over STRICTLY cheaper rows (a RANGE frame on
# exact price cents, offset 1) and min(size) over same-price rows —
# the sort-based skyline algorithm as a declarative plan.
#
# Scale: the strictly-cheaper minimum is a DISTRIBUTED strict-range
# prefix min (global_strict_prefix_min: range-partition by price —
# equal prices never split across range partitions — local strict
# frame + broadcast prefix of per-partition minima); the same-price
# minimum is an ordinary partitioned window. No single-task sort on
# the part dimension. Exact integer cents; ties on both dimensions
# are mutually non-dominating and all kept.


def q_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The price/size Pareto frontier of parts: (p_partkey,
    price_cents, p_size), dominated rows removed."""
    # rank-validity boundary (r10 extreme-value + dim-null probes):
    # the price is a RANK KEY of the dominance order — a part whose
    # price is NULL or non-finite has no position on the price axis
    # and is not a skyline candidate (a NULL cents group would sort
    # NULLS FIRST in Spark's range partitioner and NULLS LAST in the
    # oracle's RANGE window, flipping every dominance verdict).
    part = (
        load(spark, sf_dir, "part")
        .filter(
            F.col("p_retailprice").isNotNull()
            & F.expr(fits_sql("p_retailprice"))
        )
        .select(
            "p_partkey",
            F.floor(F.col("p_retailprice") * 100 + F.lit(0.5))
            .cast("bigint")
            .alias("price_cents"),
            F.col("p_size").cast("bigint").alias("size"),
        )
    )
    w_same = Window.partitionBy("price_cents")
    flagged = global_strict_prefix_min(
        part, F.col("price_cents"), F.col("size"), out="min_cheaper"
    ).select(
        "p_partkey",
        "price_cents",
        "size",
        "min_cheaper",
        F.min("size").over(w_same).alias("min_same"),
    )
    return (
        flagged.filter(
            (F.col("min_cheaper").isNull() | (F.col("min_cheaper") > F.col("size")))
            & (F.col("min_same") == F.col("size"))
        )
        .select("p_partkey", "price_cents", F.col("size").alias("p_size"))
    )


ORACLE_SKYLINE = f"""
WITH part_p AS (
  SELECT p_partkey,
         CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS price_cents,
         CAST(p_size AS BIGINT) AS size
  FROM part
  WHERE p_retailprice IS NOT NULL
    AND {fits_sql("p_retailprice")}
),
flagged AS (
  SELECT p_partkey, price_cents, size,
         min(size) OVER (ORDER BY price_cents
              RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS min_cheaper,
         min(size) OVER (PARTITION BY price_cents) AS min_same
  FROM part_p
)
SELECT p_partkey, price_cents, size AS p_size
FROM flagged
WHERE (min_cheaper IS NULL OR min_cheaper > size)
  AND min_same = size
"""

QUERIES["q_skyline_pareto"] = (q_skyline_pareto, ORACLE_SKYLINE)
