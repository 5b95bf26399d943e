"""Data-preparation + storage-encoding operators (SURVEY.md §2.29,
round 5k).

Six operators rounding out the feature-engineering / layout tail:
skip-gram collocation mining (the phrase detector that feeds
tokenizer vocab decisions), time-weighted averages over irregular
event timestamps (the IoT/finance resampling primitive the
reference's fixed 15-minute cadence never needs but any real sensor
fleet does — MWC:34-39 assumes uniform ticks), rank-based quantile
normalization, long-tail categorical collapse (rare-label encoding),
a delta-encoding storage estimate (sibling of q_compress_dict's
dictionary estimate), and exact weighted medians.

House determinism rules (curation.py:834, stats.py:10-16): exact
BIGINT partials; fixed-point divides only with non-negative
numerators; md5 never needed here — everything is counts, ranks and
epoch arithmetic. Epoch idiom: Spark ``ts.cast("long")`` pairs with
DuckDB ``CAST(floor(epoch(ts)) AS BIGINT)`` (behavior.py:666-672 —
events.ts carries sub-second precision, so both engines must floor).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from metoffice_spark.functions.distributed import global_running_sum
from metoffice_spark.io import load, sql_frame
from metoffice_spark.operators.llm import TOKS_DUCK, TOKS_SPARK, _spread
from metoffice_spark.parity import bigint_sql, cents_sql, fits_sql
from metoffice_spark.session import scoped_persist

QUERIES: dict = {}


# --- q_pmi_collocations: skip-gram collocation mining ------------------------
#
# Phrase detection for tokenizer/vocab curation: token pairs
# co-occurring within a ±2 window, scored by pointwise lift
# observed/expected = P(a,b) / (P(a) P(b)) with the window count
# approximated by the token count (documented; constant factor
# cancels in the ranking). Directions are canonicalized
# (least, greatest) and self-pairs dropped, so "new york"/"york new"
# accumulate one statistic. All-integer: lift_fp =
# pair_cnt * n_toks * 1e6 div (cnt_a * cnt_b), non-negative.
#
# Distinct from q_bpe_pair_count (adjacent CHARACTER pairs over a
# capped vocab, no statistic) and q_collab_filter (order-basket
# lift): this is corpus-wide token-window association.
#
# Scale: pair explosion is 2 rows per token (gaps 1-2), aggregated
# with map-side combine; unigram counts broadcast (vocabulary-sized);
# the min-count cutoffs are the same skew/noise lever as
# q_dedup_ngram_jaccard's DF cutoff. Overflow: pair_cnt * n_toks *
# 1e6 < 9.2e18 bounds n_toks * pair_cnt at ~9.2e12 — beyond that,
# drop the 1e6 into a second-stage refine (_fp_div_1e6 pattern,
# stats.py:31).

_PMI_TOP = 30
_PMI_MIN_PAIR = 3
_PMI_MIN_TOK = 10

_PAIRS_SPARK = (
    "CASE WHEN size(toks) < 2 THEN array() ELSE"
    " concat("
    "  transform(sequence(1, size(toks) - 1),"
    "   i -> named_struct('a', least(element_at(toks, cast(i as int)),"
    "               element_at(toks, cast(i + 1 as int))),"
    "          'b', greatest(element_at(toks, cast(i as int)),"
    "               element_at(toks, cast(i + 1 as int))))),"
    "  CASE WHEN size(toks) < 3 THEN array() ELSE"
    "   transform(sequence(1, size(toks) - 2),"
    "    i -> named_struct('a', least(element_at(toks, cast(i as int)),"
    "                element_at(toks, cast(i + 2 as int))),"
    "           'b', greatest(element_at(toks, cast(i as int)),"
    "                element_at(toks, cast(i + 2 as int))))) END"
    " ) END"
)

_PAIRS_DUCK = (
    "list_concat("
    " list_transform(range(1, greatest(len(toks), 1)),"
    "  i -> {'a': least(toks[i], toks[i + 1]),"
    "        'b': greatest(toks[i], toks[i + 1])}),"
    " list_transform(range(1, greatest(len(toks) - 1, 1)),"
    "  i -> {'a': least(toks[i], toks[i + 2]),"
    "        'b': greatest(toks[i], toks[i + 2])}))"
)


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 token collocations within a ±2 window by pointwise
    lift: (rnk, pair, pair_cnt, cnt_a, cnt_b, lift_fp)."""
    docs = _spread(
        load(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    ).select("doc_id", F.expr(TOKS_SPARK).alias("toks"))
    # kept: the plain plan ran 1.10x slower (A/B: 5 pairs, sf0.1)
    docs = scoped_persist(docs)
    uni = docs.select(F.explode("toks").alias("t")).groupBy("t").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    n_toks = uni.agg(F.sum("cnt").cast("bigint").alias("n_toks"))
    # min-count cutoff BEFORE the broadcast joins: what broadcasts is
    # the >= _PMI_MIN_TOK vocabulary, not the full heavy-tail one
    uni = uni.filter(F.col("cnt") >= _PMI_MIN_TOK)
    pairs = (
        docs.select(F.explode(F.expr(_PAIRS_SPARK)).alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("pair_cnt"))
        .filter(F.col("pair_cnt") >= _PMI_MIN_PAIR)
    )
    scored = (
        pairs.join(F.broadcast(uni.withColumnRenamed("t", "a")), "a")
        .withColumnRenamed("cnt", "cnt_a")
        .join(
            F.broadcast(
                uni.withColumnRenamed("t", "b").withColumnRenamed("cnt", "cnt_b")
            ),
            "b",
        )
        .filter((F.col("cnt_a") >= _PMI_MIN_TOK) & (F.col("cnt_b") >= _PMI_MIN_TOK))
        .crossJoin(F.broadcast(n_toks))
        .select(
            F.concat_ws(" ", "a", "b").alias("pair"),
            "pair_cnt",
            "cnt_a",
            "cnt_b",
            F.expr(
                "CAST((pair_cnt * n_toks * 1000000) div (cnt_a * cnt_b) AS BIGINT)"
            ).alias("lift_fp"),
        )
    )
    # distributed top-k; rank over the bounded _PMI_TOP-row result
    top = scored.orderBy(F.desc("lift_fp"), F.asc("pair")).limit(_PMI_TOP)
    w = Window.orderBy(F.desc("lift_fp"), F.asc("pair"))
    return top.withColumn("rnk", F.row_number().over(w).cast("int")).select(
        "rnk", "pair", "pair_cnt", "cnt_a", "cnt_b", "lift_fp"
    )


ORACLE_PMI = f"""
WITH tk AS (
  SELECT doc_id, {TOKS_DUCK} AS toks FROM documents
),
uni AS (
  SELECT t, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(toks) AS t FROM tk) GROUP BY t
),
nt AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_toks FROM uni),
pairs AS (
  SELECT p.a AS a, p.b AS b, CAST(count(*) AS BIGINT) AS pair_cnt
  FROM (SELECT unnest({_PAIRS_DUCK}) AS p FROM tk)
  WHERE p.a <> p.b
  GROUP BY p.a, p.b
  HAVING count(*) >= {_PMI_MIN_PAIR}
),
scored AS (
  SELECT p.a || ' ' || p.b AS pair, p.pair_cnt,
         ua.cnt AS cnt_a, ub.cnt AS cnt_b,
         CAST((p.pair_cnt * nt.n_toks * 1000000)
              // (ua.cnt * ub.cnt) AS BIGINT) AS lift_fp
  FROM pairs p
  JOIN uni ua ON p.a = ua.t
  JOIN uni ub ON p.b = ub.t
  CROSS JOIN nt
  WHERE ua.cnt >= {_PMI_MIN_TOK} AND ub.cnt >= {_PMI_MIN_TOK}
)
SELECT CAST(row_number() OVER (ORDER BY lift_fp DESC, pair ASC) AS INT) AS rnk,
       pair, pair_cnt, cnt_a, cnt_b, lift_fp
FROM scored
ORDER BY lift_fp DESC, pair ASC
LIMIT {_PMI_TOP}
"""

QUERIES["q_pmi_collocations"] = (q_pmi_collocations, ORACLE_PMI)


# --- q_time_weighted_avg: TWAP over irregular event timestamps ---------------
#
# The resampling primitive for irregular time series: per user, the
# time-weighted average of `value` by trapezoidal integration over
# consecutive observations —
#   twap = sum((v_i + v_{i+1})/2 * dt_i) / sum(dt_i)
# carried as twap_fp = sum((vfp_i + vfp_{i+1}) * dt_i) div (2 * span)
# with vfp = round(value * 100) exact cents and dt in floored epoch
# seconds (both engines floor — behavior.py:666). events.value >= 0
# in the fixture (asserted by the parity gate itself: a negative
# would flip div/​// semantics), so the numerator is non-negative.
#
# Scale: one lead window bounded by user_id, one user-keyed
# aggregate — the same cost class as q_sessionize_batch. Overflow:
# vfp ~ 5e4, dt ~ 1e6 s -> 1e11 per segment, 9.2e18 bound allows
# ~1e8 segments per user.


def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per user with >= 2 events: observation count, time span in
    seconds, and the trapezoidal time-weighted mean of value
    (1e-2 fixed point, i.e. cents)."""
    # sequencing-validity boundary (r08 null-ts probe, mirrored in the
    # oracle): an untimestamped observation has no trapezoid — its
    # NULL epoch sorts first in Spark and last in DuckDB, shifting
    # every adjacent segment.
    ev = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull()).select(
        "user_id",
        F.col("ts").cast("long").alias("es"),
        "event_id",
        F.expr(cents_sql("value")).alias("vfp"),
    )
    w = Window.partitionBy("user_id").orderBy("es", "event_id")
    seg = ev.select(
        "user_id",
        "es",
        "vfp",
        F.lead("es").over(w).alias("es2"),
        F.lead("vfp").over(w).alias("vfp2"),
    ).filter(F.col("es2").isNotNull())
    g = seg.groupBy("user_id").agg(
        (F.count(F.lit(1)) + 1).cast("bigint").alias("n_obs"),
        F.sum(F.col("es2") - F.col("es")).cast("bigint").alias("span_s"),
        F.sum((F.col("vfp") + F.col("vfp2")) * (F.col("es2") - F.col("es")))
        .cast("bigint")
        .alias("num"),
    )
    return g.filter("span_s > 0").select(
        "user_id",
        "n_obs",
        "span_s",
        F.expr("CAST(num div (2 * span_s) AS BIGINT)").alias("twap_fp"),
    )


ORACLE_TWAP = f"""
WITH ev AS (
  SELECT user_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS es,
         event_id,
         {cents_sql("value")} AS vfp
  FROM events
  WHERE ts IS NOT NULL
),
seg AS (
  SELECT user_id, es, vfp,
         lead(es) OVER w AS es2,
         lead(vfp) OVER w AS vfp2
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id)
),
g AS (
  SELECT user_id,
         CAST(count(*) + 1 AS BIGINT) AS n_obs,
         CAST(sum(es2 - es) AS BIGINT) AS span_s,
         CAST(sum((vfp + vfp2) * (es2 - es)) AS BIGINT) AS num
  FROM seg WHERE es2 IS NOT NULL
  GROUP BY user_id
)
SELECT user_id, n_obs, span_s,
       CAST(num // (2 * span_s) AS BIGINT) AS twap_fp
FROM g WHERE span_s > 0
"""

QUERIES["q_time_weighted_avg"] = (q_time_weighted_avg, ORACLE_TWAP)


# --- q_quantile_normalize: rank-based feature normalization ------------------
#
# Map each document's n_chars to its within-source quantile in
# [0, 1e6] using tie-averaged ranks (the q_eval_auc 2×avg-rank trick:
# avg2 = 2*rank + tie_count - 1 stays integral), linearly rescaled
# over the avg2 range [2, 2n]. An UNTIED group minimum maps to 0 and
# an untied maximum to 1e6; rows TIED at either extreme land at the
# tie group's average rank, strictly inside the interval (that is
# the point of average ranks — review r05 doc fix).
#
# Scale: one per-source rank window (per-group distributed sort);
# the per-source count rides the SAME partition as one more window
# aggregate — no second scan of the base table and no join.


def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per doc: source, n_chars, and its tie-averaged within-source
    quantile (0..1e6 fixed point)."""
    # rank-validity boundary (r08 null-nchars probe, mirrored in the
    # oracle): a feature with no value has no quantile — its NULL
    # rank position differs between the engines (NULLS FIRST/LAST),
    # and every other row's quantile shifts with n.
    docs = load(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull()
    ).select(
        "doc_id", "source", F.col("n_chars").cast("bigint").alias("x")
    )
    w_rank = Window.partitionBy("source").orderBy("x")
    w_tie = Window.partitionBy("source", "x")
    w_src = Window.partitionBy("source")
    ranked = docs.select(
        "doc_id",
        "source",
        "x",
        (
            2 * F.rank().over(w_rank) + F.count(F.lit(1)).over(w_tie) - 1
        )
        .cast("bigint")
        .alias("avg2"),
        F.count(F.lit(1)).over(w_src).cast("bigint").alias("n"),
    )
    return ranked.filter("n > 1").select(
        "doc_id",
        "source",
        F.col("x").alias("n_chars"),
        F.expr("CAST(((avg2 - 2) * 1000000) div (2 * n - 2) AS BIGINT)").alias(
            "pct_fp"
        ),
    )


ORACLE_QNORM = """
WITH ranked AS (
  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS x,
         CAST(2 * rank() OVER (PARTITION BY source ORDER BY n_chars)
              + count(*) OVER (PARTITION BY source, n_chars) - 1
           AS BIGINT) AS avg2,
         CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
  FROM documents
  WHERE n_chars IS NOT NULL
)
SELECT doc_id, source, x AS n_chars,
       CAST(((avg2 - 2) * 1000000) // (2 * n - 2) AS BIGINT) AS pct_fp
FROM ranked WHERE n > 1
"""

QUERIES["q_quantile_normalize"] = (q_quantile_normalize, ORACLE_QNORM)


# --- q_rare_label_encode: long-tail categorical collapse ---------------------
#
# Feature-engineering guard against high-cardinality categoricals:
# collapse every p_name whose share is below 1.5 % of rows into
# '__other__' and emit the resulting encoding table. The threshold is
# RELATIVE (cnt * 1000 < 15 * n_total, exact integer cross-multiply)
# — the q_text_boilerplate scale lever: absolute-count thresholds
# silently stop firing when the data grows 10×.
#
# Scale: two map-side-combinable aggregates + one broadcast 1-row
# total; output is bounded by the surviving category count.

_RARE_PERMILLE = 15


def q_rare_label_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding table after collapsing p_name values with < 1.5 %
    share: (label, n_rows, n_labels_merged, is_other)."""
    return sql_frame(spark, sf_dir, ("part",), ORACLE_RARE_LABEL)


ORACLE_RARE_LABEL = f"""
WITH counts AS (
  SELECT p_name, CAST(count(*) AS BIGINT) AS cnt FROM part GROUP BY p_name
),
total AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM counts),
flagged AS (
  SELECT CASE WHEN c.cnt * 1000 < {_RARE_PERMILLE} * t.n_total
              THEN '__other__' ELSE c.p_name END AS label,
         c.cnt
  FROM counts c CROSS JOIN total t
)
SELECT label,
       CAST(sum(cnt) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_labels_merged,
       CAST(CASE WHEN label = '__other__' THEN 1 ELSE 0 END AS INT) AS is_other
FROM flagged GROUP BY label
"""

QUERIES["q_rare_label_encode"] = (q_rare_label_encode, ORACLE_RARE_LABEL)


# --- q_delta_encode: delta-encoding storage estimate -------------------------
#
# Sibling of q_compress_dict (dictionary estimate): how much would
# each orders column shrink under per-block delta encoding in the
# arrival (o_orderkey) layout? Blocks are KEY-RANGE slices
# (o_orderkey div 4096) so the estimate is deterministic and
# distributed — no global row_number. Within each block the first
# value costs 8 bytes; every delta costs its zigzag byte-width class
# (1/2/4/8 via exact CASE thresholds — no log2, identical in both
# dialects).
#
# Scale: one scan unpivoted to (colname, block, key, value); one
# window per (colname, block) — thousands of independent 4096-row
# sorts; one aggregate. This is exactly the layout question
# q_layout_zorder asks for scans, asked for storage.

_DELTA_BLOCK = 4096

_WIDTH_CASE = (
    "CASE WHEN d IS NULL THEN 8"
    " WHEN abs(d) <= 127 THEN 1"
    " WHEN abs(d) <= 32767 THEN 2"
    " WHEN abs(d) <= 2147483647 THEN 4"
    " ELSE 8 END"
)


def q_delta_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per column: rows, blocks, raw bytes (8/value), delta-encoded
    bytes, and the compression ratio (1e-6 fixed point)."""
    orders = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("bigint").alias("k"),
        F.col("o_custkey").cast("bigint").alias("ck"),
        # o_orderdate loads as TIMESTAMP_NTZ — hop through TIMESTAMP
        # (the registry pins the session to UTC, so wall-clock == epoch)
        F.col("o_orderdate").cast("timestamp").cast("long").alias("ep"),
    )
    long = orders.select(
        "k",
        F.expr(f"CAST(k div {_DELTA_BLOCK} AS BIGINT)").alias("block"),
        F.expr(
            "stack(3, 'o_orderkey', k, 'o_custkey', ck, 'o_orderdate_epoch', ep)"
        ).alias("colname", "v"),
    )
    w = Window.partitionBy("colname", "block").orderBy("k")
    deltas = long.select(
        "colname",
        "block",
        (F.col("v") - F.lag("v").over(w)).alias("d"),
    )
    widths = deltas.select(
        "colname", "block", F.expr(_WIDTH_CASE).cast("bigint").alias("bytes")
    )
    return (
        widths.groupBy("colname")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct("block").cast("bigint").alias("n_blocks"),
            (F.count(F.lit(1)) * 8).cast("bigint").alias("raw_bytes"),
            F.sum("bytes").cast("bigint").alias("delta_bytes"),
        )
        .select(
            "colname",
            "n_rows",
            "n_blocks",
            "raw_bytes",
            "delta_bytes",
            F.expr("CAST((delta_bytes * 1000000) div raw_bytes AS BIGINT)").alias(
                "ratio_fp"
            ),
        )
    )


ORACLE_DELTA_ENCODE = f"""
WITH base AS (
  SELECT CAST(o_orderkey AS BIGINT) AS k,
         CAST(o_custkey AS BIGINT) AS ck,
         CAST(floor(epoch(o_orderdate)) AS BIGINT) AS ep
  FROM orders
),
long AS (
  SELECT k, CAST(k // {_DELTA_BLOCK} AS BIGINT) AS block, colname, v
  FROM (
    SELECT k, 'o_orderkey' AS colname, k AS v FROM base
    UNION ALL
    SELECT k, 'o_custkey' AS colname, ck AS v FROM base
    UNION ALL
    SELECT k, 'o_orderdate_epoch' AS colname, ep AS v FROM base
  )
),
deltas AS (
  SELECT colname, block,
         v - lag(v) OVER (PARTITION BY colname, block ORDER BY k) AS d
  FROM long
),
widths AS (
  SELECT colname, block, CAST({_WIDTH_CASE} AS BIGINT) AS bytes FROM deltas
)
SELECT colname,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT block) AS BIGINT) AS n_blocks,
       CAST(count(*) * 8 AS BIGINT) AS raw_bytes,
       CAST(sum(bytes) AS BIGINT) AS delta_bytes,
       CAST((sum(bytes) * 1000000) // (count(*) * 8) AS BIGINT) AS ratio_fp
FROM widths GROUP BY colname
"""

QUERIES["q_delta_encode"] = (q_delta_encode, ORACLE_DELTA_ENCODE)


# --- q_weighted_median: exact weighted median --------------------------------
#
# Per return flag: the quantity-weighted median of extended price —
# the smallest price whose cumulative weight reaches half the total
# (lower weighted median; 2*cum >= W in exact integers, no halving).
# Weights are l_quantity (integral in the fixture — locked by the
# quantity-integrality tripwire, tests/test_properties.py), values
# exact cents.
#
# Scale: the (flag, cents) pre-aggregate shrinks the window input to
# distinct values per group; the cumsum window partitions by flag;
# totals broadcast. Same decomposition as q_percentile_exact but
# weight-aware.


def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per l_returnflag: total weight, row count, and the
    quantity-weighted median of l_extendedprice in cents."""
    # rank-validity boundary (r10 nullgroup probe, mirrored in the
    # oracle): an unpriced line has no position on the value axis the
    # median ranks over — a NULL cents group would enter the
    # cumulative-weight prefix FIRST in Spark (NULLS FIRST) and LAST
    # in DuckDB (NULLS LAST), shifting the half-weight cut. Same
    # boundary as q_gini_spend / q_rfm_segmentation.
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(
            F.col("l_extendedprice").isNotNull()
            & F.expr(fits_sql("l_extendedprice"))
        )
        .select(
            "l_returnflag",
            F.expr(cents_sql("l_extendedprice")).alias("cents"),
            F.expr(bigint_sql("l_quantity")).alias("wt"),
        )
    )
    per_v = li.groupBy("l_returnflag", "cents").agg(
        F.sum("wt").cast("bigint").alias("w_v"),
        F.count(F.lit(1)).cast("bigint").alias("cnt_v"),
    )
    w_cum = (
        Window.partitionBy("l_returnflag")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = per_v.select(
        "l_returnflag", "cents", F.sum("w_v").over(w_cum).cast("bigint").alias("cw")
    )
    # totals re-aggregate the (flag, cents) partials — no second
    # scan of lineitem (the q_benford_test totals discipline)
    totals = per_v.groupBy("l_returnflag").agg(
        F.sum("w_v").cast("bigint").alias("w_tot"),
        F.sum("cnt_v").cast("bigint").alias("n"),
    )
    return (
        cum.join(F.broadcast(totals), "l_returnflag")
        .filter(F.col("cw") * 2 >= F.col("w_tot"))
        .groupBy("l_returnflag", "w_tot", "n")
        .agg(F.min("cents").cast("bigint").alias("wmedian_cents"))
        .select("l_returnflag", "n", "w_tot", "wmedian_cents")
    )


ORACLE_WEIGHTED_MEDIAN = f"""
WITH li AS (
  SELECT l_returnflag,
         {cents_sql("l_extendedprice")} AS cents,
         {bigint_sql("l_quantity")} AS wt
  FROM lineitem WHERE l_extendedprice IS NOT NULL
    AND {fits_sql("l_extendedprice")}
),
per_v AS (
  SELECT l_returnflag, cents, CAST(sum(wt) AS BIGINT) AS w_v,
         CAST(count(*) AS BIGINT) AS cnt_v
  FROM li GROUP BY l_returnflag, cents
),
cum AS (
  SELECT l_returnflag, cents,
         CAST(sum(w_v) OVER (PARTITION BY l_returnflag ORDER BY cents
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cw
  FROM per_v
),
totals AS (
  SELECT l_returnflag, CAST(sum(w_v) AS BIGINT) AS w_tot,
         CAST(sum(cnt_v) AS BIGINT) AS n
  FROM per_v GROUP BY l_returnflag
)
SELECT c.l_returnflag, t.n, t.w_tot,
       CAST(min(c.cents) AS BIGINT) AS wmedian_cents
FROM cum c JOIN totals t ON c.l_returnflag = t.l_returnflag
WHERE c.cw * 2 >= t.w_tot
GROUP BY c.l_returnflag, t.n, t.w_tot
"""

QUERIES["q_weighted_median"] = (q_weighted_median, ORACLE_WEIGHTED_MEDIAN)


# --- q_split_temporal: leakage-safe temporal train/test split ----------------
#
# The time-series counterpart of q_split_train_val's hash split:
# events before the cutoff train, events after cutoff + embargo
# test, and the embargo gap (here 1 day) is DROPPED — the standard
# guard against look-ahead leakage when features aggregate trailing
# windows (an event just after the cutoff carries information about
# the trailing window that crosses it). The cutoff is the exact
# 80th-percentile epoch second, picked by rank from a (ts, count)
# pre-aggregate — deterministic, no sampling.
#
# Scale: the cutoff comes from a DISTRIBUTED cumulative count
# (global_running_sum) over the distinct second-level timestamps —
# smaller than events but still growing with the time span, so no
# single-task window; the split itself is one broadcast-scalar
# comparison per row, no shuffle beyond the final per-split
# aggregate.

_EMBARGO_S = 86_400


def q_split_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per split (train/embargo/test): rows, users, and the epoch
    range; embargo = (cutoff, cutoff + 1 day]."""
    # sequencing-validity boundary (r08 null-ts probe, mirrored in the
    # oracle): an untimestamped row is assignable to NO temporal split
    # (its NULL epoch fails every cutoff comparison into 'test' in
    # Spark's CASE but also forms a NULL group in the running-sum
    # cutoff derivation — the engines disagree on both).
    ev = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull()).select(
        "user_id", F.col("ts").cast("long").alias("es")
    )
    per_s = ev.groupBy("es").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    # cum AND the grand total come out of the SAME range-shuffle pass
    # (with_total reads the bounded offsets table) — a separate
    # n_total aggregate would re-run the unpersisted events groupBy
    cutoff = (
        global_running_sum(
            per_s, [F.col("es").asc()], F.col("c"), out="cum", with_total="n"
        )
        .filter(F.col("cum") * 5 >= F.col("n") * 4)  # first ts covering 80 %
        .agg(F.min("es").cast("bigint").alias("cut"))
    )
    tagged = ev.crossJoin(F.broadcast(cutoff)).select(
        "user_id",
        "es",
        F.when(F.col("es") <= F.col("cut"), "train")
        .when(F.col("es") <= F.col("cut") + _EMBARGO_S, "embargo")
        .otherwise("test")
        .alias("split"),
    )
    return tagged.groupBy("split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.min("es").cast("bigint").alias("es_min"),
        F.max("es").cast("bigint").alias("es_max"),
    )


ORACLE_SPLIT_TEMPORAL = f"""
WITH ev AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events
  WHERE ts IS NOT NULL
),
per_s AS (
  SELECT es, CAST(count(*) AS BIGINT) AS c FROM ev GROUP BY es
),
n_total AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM per_s),
cutoff AS (
  SELECT CAST(min(es) AS BIGINT) AS cut
  FROM (
    SELECT es, CAST(sum(c) OVER (ORDER BY es
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
    FROM per_s
  ) CROSS JOIN n_total
  WHERE cum * 5 >= n * 4
),
tagged AS (
  SELECT user_id, es,
         CASE WHEN es <= cut THEN 'train'
              WHEN es <= cut + {_EMBARGO_S} THEN 'embargo'
              ELSE 'test' END AS split
  FROM ev CROSS JOIN cutoff
)
SELECT split,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(min(es) AS BIGINT) AS es_min,
       CAST(max(es) AS BIGINT) AS es_max
FROM tagged GROUP BY split
"""

QUERIES["q_split_temporal"] = (q_split_temporal, ORACLE_SPLIT_TEMPORAL)


# --- q_null_imputation: group-mean imputation with audit -------------------
#
# The imputation primitive: take customer balances, null out a
# deterministic 1-in-8 subset (md5 nibble — the fixture has no real
# NULLs, so the mask IS the test harness, same trick as
# q_fn_null_suite), impute each NULL with its nation's mean of the
# OBSERVED values in exact cents (truncating fixed point), and audit
# per nation: observed/imputed counts and both means. Nations whose
# values are ALL masked stay unimputed (imputed_mean_fp NULL) — the
# honest edge case.
#
# Scale: one (nation)-keyed aggregate over observed rows + one
# broadcast join of the |nations|-row mean table back onto the
# masked rows; no window, no second scan of the wide table.


def q_null_imputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per nation: observed/imputed counts, observed mean, and the
    post-imputation mean (both 1e-2 fixed point = cents)."""
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("bigint").alias("nat"),
        F.expr(cents_sql("c_acctbal")).alias("cents"),
        F.expr(
            "substring(md5(concat('IMP1|', CAST(c_custkey AS STRING))), 1, 1)"
            " IN ('0', '1')"
        ).alias("masked"),
    )
    obs = cust.filter(~F.col("masked")).groupBy("nat").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs"),
        F.sum("cents").cast("bigint").alias("s_obs"),
    )
    # group mean in exact cents; negative balances exist, so use the
    # sign-split truncating divide (corpus.py:434 discipline) to keep
    # Spark div == DuckDB // independent of engine floor/trunc choices
    mean_expr = (
        "CAST(CASE WHEN s_obs >= 0 THEN s_obs div n_obs"
        " ELSE -((-s_obs) div n_obs) END AS BIGINT)"
    )
    means = obs.select("nat", "n_obs", "s_obs", F.expr(mean_expr).alias("mean_obs"))
    joined = cust.join(F.broadcast(means), "nat", "left")
    return (
        joined.select(
            "nat",
            F.col("masked").cast("int").alias("was_null"),
            F.when(F.col("masked"), F.col("mean_obs")).otherwise(F.col("cents")).alias(
                "filled"
            ),
        )
        .groupBy("nat")
        .agg(
            F.sum(1 - F.col("was_null")).cast("bigint").alias("n_obs"),
            F.sum("was_null").cast("bigint").alias("n_imputed"),
            F.count("filled").cast("bigint").alias("n_filled"),
            F.sum("filled").cast("bigint").alias("s_filled"),
        )
    )


ORACLE_NULL_IMPUTATION = f"""
WITH cust AS (
  SELECT CAST(c_nationkey AS BIGINT) AS nat,
         {cents_sql("c_acctbal")} AS cents,
         substring(md5('IMP1|' || CAST(c_custkey AS VARCHAR)), 1, 1)
           IN ('0', '1') AS masked
  FROM customer
),
obs AS (
  SELECT nat, CAST(count(*) AS BIGINT) AS n_obs,
         CAST(sum(cents) AS BIGINT) AS s_obs
  FROM cust WHERE NOT masked GROUP BY nat
),
means AS (
  SELECT nat, n_obs, s_obs,
         CAST(CASE WHEN s_obs >= 0 THEN s_obs // n_obs
              ELSE -((-s_obs) // n_obs) END AS BIGINT) AS mean_obs
  FROM obs
),
joined AS (
  SELECT c.nat,
         CAST(c.masked AS INT) AS was_null,
         CASE WHEN c.masked THEN m.mean_obs ELSE c.cents END AS filled
  FROM cust c LEFT JOIN means m ON c.nat = m.nat
)
SELECT nat,
       CAST(sum(1 - was_null) AS BIGINT) AS n_obs,
       CAST(sum(was_null) AS BIGINT) AS n_imputed,
       CAST(count(filled) AS BIGINT) AS n_filled,
       CAST(sum(filled) AS BIGINT) AS s_filled
FROM joined GROUP BY nat
"""

QUERIES["q_null_imputation"] = (q_null_imputation, ORACLE_NULL_IMPUTATION)


# --- q_lag_features: ML feature-frame materialization (round 5t) -------------
#
# The feature-store staple: per event, the entity's lag-1/lag-2
# values, the trailing-3 mean, and the portable day-of-week — the
# exact frame a training pipeline joins onto labels. All integer
# exact: values in cents, the trailing mean as a truncating
# fixed-point divide over the window sum/count (values are
# non-negative in the fixture, so div/​// agree), dow via the
# (epoch_days + 4) % 7 portable form (behavior.py:547 — Spark
# dayofweek() and DuckDB dow() number days differently).
#
# Scale: ONE user-bounded ordered window evaluates every feature in
# a single WindowExec pass; output is map-sized (one row per event,
# no shuffle beyond the user_id key).


def q_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event: cents value, lag-1/lag-2 cents, trailing-3 mean
    (1e-2 fixed point), and portable dow (0=Sunday)."""
    # sequencing-validity boundary (r08 null-ts probe, mirrored in the
    # oracle): lag/trailing features are positional — an untimestamped
    # event has no position (and lands at opposite ends of the two
    # engines' NULL sort orders).
    ev = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull()).select(
        "user_id",
        "event_id",
        "ts",
        F.expr(cents_sql("value")).alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w3 = w.rowsBetween(-2, Window.currentRow)
    return ev.select(
        "user_id",
        "event_id",
        "cents",
        F.lag("cents", 1).over(w).cast("bigint").alias("lag1_cents"),
        F.lag("cents", 2).over(w).cast("bigint").alias("lag2_cents"),
        F.expr(
            "CAST(sum(cents) OVER ("
            "PARTITION BY user_id ORDER BY ts, event_id"
            " ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) div"
            " count(cents) OVER ("
            "PARTITION BY user_id ORDER BY ts, event_id"
            " ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)"
        ).alias("trail3_mean_cents"),
        F.expr(
            "CAST((datediff(to_date(ts), date'1970-01-01') + 4) % 7 AS INT)"
        ).alias("dow"),
    )


ORACLE_LAG_FEATURES = f"""
WITH ev AS (
  SELECT user_id, event_id, ts,
         {cents_sql("value")} AS cents
  FROM events
  WHERE ts IS NOT NULL
)
SELECT user_id, event_id, cents,
       CAST(lag(cents, 1) OVER w AS BIGINT) AS lag1_cents,
       CAST(lag(cents, 2) OVER w AS BIGINT) AS lag2_cents,
       CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
            // count(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)
         AS trail3_mean_cents,
       CAST((datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) + 4) % 7
         AS INT) AS dow
FROM ev
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""

QUERIES["q_lag_features"] = (q_lag_features, ORACLE_LAG_FEATURES)
