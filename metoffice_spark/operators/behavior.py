"""Behavioral + time-series analytics operators (SURVEY.md §2.18).

Pure EXT — the round-5 wave over ``events`` (plus a changelog-apply
over ``customer``): the sequence-analytics family that sits beside
the round-3 funnel/cohort/sessionize trio:

- last-touch marketing attribution (assign each conversion's revenue
  to the user's most recent prior touch event);
- first-order Markov transition matrix between event types;
- lag-k autocorrelation of the daily event-count series per type
  (the seasonality probe a capacity planner runs);
- CUSUM mean-shift change-point detection on the same series;
- changelog apply: materialize an ordered insert/update/delete log
  into the final snapshot — the write half of CDC, complementing
  q_cdc_diff's read half.

Determinism follows the repo discipline (llm.py header): money and
rates are exact integer cents / 1e-6 fixed point, ordered windows
carry total (ts, event_id) tie-breaks, signed quantities are never
integer-divided (the div-truncate vs //-floor split), and the one
IEEE divide in the autocorrelation happens last on exact BIGINT
sufficient statistics.

Reference tie-in: the rain state machine (MWC:196-280) is exactly a
"previous relevant event" carry — q_attribution generalizes that
lookup (the q_join_temporal union-window trick) from rain counters to
conversion credit; the daily series ops generalize its day-boundary
windowing (MWC:231-240).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from metoffice_spark.functions.distributed import global_order_stats
from metoffice_spark.io import load, sql_frame
from metoffice_spark.parity import cents_sql, fits_sql
from metoffice_spark.session import scoped_persist

QUERIES: dict = {}

# --- q_attribution: last-touch conversion attribution ------------------------
#
# For every 'purchase', credit its value to the user's most recent
# PRIOR 'view' or 'click' (the touch channel); purchases with no
# prior touch credit the 'none' channel. One window over the per-user
# event stream with the total (ts, event_id) tie-break carries the
# last touch type via last(ignorenulls) — the rain machine's
# "previous relevant observation" lookup (MWC:216, 256) with
# conversion credit instead of counter deltas.
#
# Scale: a single shuffle on user_id; state per row is one carried
# string. The BETWEEN-join formulation would be a per-user range self
# join (BroadcastNestedLoopJoin at scale) — the union-window shape is
# the one that survives 100 TB (q_join_temporal precedent).


def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per channel ('view' / 'click' / 'none'): attributed conversion
    count and revenue in exact integer cents."""
    # sequencing-validity boundary (r08 null-ts probe, mirrored in the
    # oracle): a touch or purchase with no timestamp has no position
    # in the user's journey (Spark NULLS FIRST vs DuckDB NULLS LAST
    # would re-attribute every affected user otherwise).
    ev = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touched = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.expr(cents_sql("value")).alias("cents"),
        F.last(
            F.when(F.col("event_type").isin("view", "click"), F.col("event_type")),
            ignorenulls=True,
        )
        .over(w)
        .alias("last_touch"),
    )
    return (
        touched.filter(F.col("event_type") == "purchase")
        .select(F.coalesce("last_touch", F.lit("none")).alias("channel"), "cents")
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_conversions"),
            F.sum("cents").cast("bigint").alias("revenue_cents"),
        )
    )


ORACLE_ATTRIBUTION = f"""
WITH touched AS (
  SELECT user_id, ts, event_id, event_type, {cents_sql("value")} AS cents,
         last_value(CASE WHEN event_type IN ('view', 'click')
                         THEN event_type END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS last_touch
  FROM events
  WHERE ts IS NOT NULL
)
SELECT coalesce(last_touch, 'none') AS channel,
       CAST(count(*) AS BIGINT) AS n_conversions,
       CAST(sum(cents) AS BIGINT) AS revenue_cents
FROM touched WHERE event_type = 'purchase'
GROUP BY coalesce(last_touch, 'none')
"""

QUERIES["q_attribution"] = (q_attribution, ORACLE_ATTRIBUTION)


# --- q_markov_transitions: event-type transition matrix ----------------------
#
# First-order Markov chain over each user's event stream: count
# (current_type -> next_type) transitions, and express the row-
# conditional probability in 1e-6 fixed point (non-negative integer
# division — numerator and denominator are counts, so no div/floor
# split). The sequence-model view of user behavior that powers
# next-event prediction and anomaly scoring.
#
# Scale: one shuffle on user_id for the lead() window, then a
# (cur, next) aggregate with map-side combine — 25 output rows for 5
# event types no matter the corpus size.


def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (cur_type, next_type): transition count and conditional
    probability (1e-6 fixed point, exact integer division)."""
    # sequencing-validity boundary (r08 null-ts probe, mirrored in the
    # oracle): an event with no timestamp has no position in the
    # user's sequence — and Spark orders NULL ts FIRST where DuckDB
    # orders it LAST, so keeping it diverges every transition pair.
    ev = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "user_id",
            "ts",
            "event_id",
            F.col("event_type").alias("cur_type"),
            F.lead("event_type").over(w).alias("next_type"),
        )
        .filter(F.col("next_type").isNotNull())
    )
    counts = pairs.groupBy("cur_type", "next_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_trans")
    )
    return counts.select(
        "cur_type",
        "next_type",
        "n_trans",
        F.expr(
            "cast(1000000 * n_trans div sum(n_trans)"
            " over (partition by cur_type) as bigint)"
        ).alias("p_fp"),
    )


ORACLE_MARKOV = """
WITH pairs AS (
  SELECT event_type AS cur_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events
  WHERE ts IS NOT NULL
),
counts AS (
  SELECT cur_type, next_type, CAST(count(*) AS BIGINT) AS n_trans
  FROM pairs WHERE next_type IS NOT NULL
  GROUP BY cur_type, next_type
)
SELECT cur_type, next_type, n_trans,
       CAST(1000000 * n_trans // sum(n_trans)
              OVER (PARTITION BY cur_type) AS BIGINT) AS p_fp
FROM counts
"""

QUERIES["q_markov_transitions"] = (q_markov_transitions, ORACLE_MARKOV)


# --- daily event-count series (shared by autocorr + changepoint) -------------
#
# Day buckets come from the observed data only (no grid fill): both
# operators are defined over the ordered sequence of OBSERVED days,
# which is deterministic regardless of sparsity; q_ts_gapfill is the
# operator that repairs gaps when a fixed cadence is required.

def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sequencing-validity boundary (r08 null-ts probe, mirrored in
    # _DAILY_DUCK): an untimestamped event belongs to no day — keeping
    # the NULL day group would put it FIRST in Spark's day-ordered
    # series windows and LAST in DuckDB's, shifting every lag pair and
    # rolling frame downstream (autocorr / changepoint / rolling
    # median all consume this series).
    return (
        load(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


_DAILY_DUCK = """
daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS cnt
  FROM events WHERE ts IS NOT NULL GROUP BY event_type, CAST(ts AS DATE)
)
"""


# --- q_ts_autocorr: lag-k autocorrelation of the daily series ----------------
#
# Pearson correlation between the daily-count series and its lag-1 /
# lag-2 shifts, per event type: exact BIGINT sufficient statistics
# (n, Sx, Sy, Sxy, Sxx, Syy) over the lag pairs, one IEEE expression
# last (the q_cov_stats discipline). The capacity-planning probe for
# weekly seasonality and burstiness.
#
# Scale: the daily aggregate is the only data-sized shuffle; lag
# pairs and moments are per-type windows over ~days rows.


def q_ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (event_type, lag in {1, 2}): pair count, exact moment sums,
    and the autocorrelation coefficient (IEEE, computed last)."""
    return sql_frame(spark, sf_dir, ("events",), ORACLE_TS_AUTOCORR)


# Zero-variance guard (the q_ts_trend CASE pattern): a constant series
# or a single lag pair makes a variance leg 0, and the CASE makes the
# result NULL on both engines instead of relying on each engine's
# double division by zero (NULL or NaN across DuckDB versions).
ORACLE_TS_AUTOCORR = f"""
WITH {_DAILY_DUCK},
pairs AS (
  SELECT event_type, lag, x, y FROM (
    SELECT event_type, 1 AS lag, cnt AS x,
           lead(cnt, 1) OVER (PARTITION BY event_type ORDER BY day) AS y
    FROM daily
    UNION ALL
    SELECT event_type, 2 AS lag, cnt AS x,
           lead(cnt, 2) OVER (PARTITION BY event_type ORDER BY day) AS y
    FROM daily)
  WHERE y IS NOT NULL
),
mom AS (
  SELECT event_type, CAST(lag AS INT) AS lag,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM pairs GROUP BY event_type, lag
)
SELECT event_type, lag, n, sx, sy, sxy, sxx, syy,
       CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
            THEN cast(n * sxy - sx * sy as double)
              / (sqrt(cast(n * sxx - sx * sx as double))
                 * sqrt(cast(n * syy - sy * sy as double))) END AS acf
FROM mom
"""

QUERIES["q_ts_autocorr"] = (q_ts_autocorr, ORACLE_TS_AUTOCORR)


# --- q_ts_changepoint: CUSUM mean-shift detection ----------------------------
#
# Classic CUSUM on the daily series per event type: deviations from
# the series mean accumulate; the day where |cusum| peaks is the
# change-point candidate, and the peak magnitude is the shift
# evidence. Everything is exact integer fixed point: mean_fp =
# 1e6 * total // n_days (non-negative //), dev_fp = 1e6*cnt - mean_fp
# (signed but only ever summed, never divided), peak day tie-broken
# earliest.
#
# Scale: per-type running sum over ~days rows after the one daily
# aggregate; state is one BIGINT per row. The monitoring primitive
# for "did ingest volume shift this week".


def q_ts_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event_type: series length, the CUSUM-peak day (earliest on
    ties), peak |cusum| (1e-6 fixed point), and shift direction."""
    # consumed twice (per-type stats + the cusum scan) through one
    # daily-aggregate exchange and its reuse; a persist measured no
    # faster (A/B: 5 pairs, sf0.1)
    daily = _daily(spark, sf_dir)
    stats = daily.groupBy(F.col("event_type").alias("et")).agg(
        F.sum("cnt").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
    )
    joined = daily.join(
        F.broadcast(stats), daily["event_type"] == stats["et"]
    ).select(
        "event_type",
        "day",
        "cnt",
        "n_days",
        F.expr("cast(1000000 * total div n_days as bigint)").alias("mean_fp"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cusum = joined.select(
        "event_type",
        "day",
        "n_days",
        F.sum(F.expr("1000000 * cnt - mean_fp")).over(w).alias("cusum_fp"),
    )
    w_pick = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("cusum_fp")).desc(), F.col("day").asc()
    )
    return (
        cusum.withColumn("rn", F.row_number().over(w_pick))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            "n_days",
            F.col("day").alias("cp_day"),
            F.abs(F.col("cusum_fp")).cast("bigint").alias("peak_abs_cusum_fp"),
            F.when(F.col("cusum_fp") >= 0, F.lit("up"))
            .otherwise(F.lit("down"))
            .alias("direction"),
        )
    )


ORACLE_TS_CHANGEPOINT = f"""
WITH {_DAILY_DUCK},
stats AS (
  SELECT event_type, CAST(sum(cnt) AS BIGINT) AS total,
         CAST(count(*) AS BIGINT) AS n_days
  FROM daily GROUP BY event_type
),
cusum AS (
  SELECT d.event_type, d.day, s.n_days,
         sum(1000000 * d.cnt - CAST(1000000 * s.total // s.n_days AS BIGINT))
           OVER (PARTITION BY d.event_type ORDER BY d.day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum_fp
  FROM daily d JOIN stats s USING (event_type)
),
picked AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY abs(cusum_fp) DESC, day ASC) AS rn
  FROM cusum
)
SELECT event_type, n_days, day AS cp_day,
       CAST(abs(cusum_fp) AS BIGINT) AS peak_abs_cusum_fp,
       CASE WHEN cusum_fp >= 0 THEN 'up' ELSE 'down' END AS direction
FROM picked WHERE rn = 1
"""

QUERIES["q_ts_changepoint"] = (q_ts_changepoint, ORACLE_TS_CHANGEPOINT)


# --- q_cdc_apply: materialize a changelog into a snapshot --------------------
#
# The write half of change-data-capture (q_cdc_diff computes a
# changelog; this applies one): a three-version ordered log of
# insert / update / delete operations over the customer dimension is
# reduced to the final snapshot by last-writer-wins per key, then
# summarized per nation. The changelog is synthesized
# deterministically from the customer table in-query (the planted-
# data pattern), so the oracle replays the identical log.
#
#   v1: INSERT every customer at their base balance;
#   v2: UPDATE +100.00 for custkey % 7 = 0; DELETE custkey % 13 = 0;
#   v3: re-INSERT at 0 for custkey % 26 = 0 (delete-then-reinsert),
#       UPDATE +50.00 for custkey % 5 = 0 (excluding % 26 keys — one
#       op per key per version, the changelog well-formedness rule).
#
# Scale: apply = one row_number() per key over the version order (one
# shuffle on the key), filter op <> 'D' — the standard merge-on-read
# compaction a lake table runs; balances are exact integer cents.


def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per nation after applying the 3-version changelog: surviving
    customer count and total balance in exact integer cents."""
    return sql_frame(spark, sf_dir, ("customer",), ORACLE_CDC_APPLY)


# Keys divisible by 26 are left out of the v3 update: such a key would
# carry TWO version-3 records (I and U) whose order no tie-break
# defines. One op per key per version is the changelog's well-formedness
# contract. Within a version only v2 can hold two ops for one key (7 and
# 13 can both divide it), and the delete wins that tie, as in a log
# where the delete is the later physical record.
ORACLE_CDC_APPLY = f"""
WITH cust AS (
  SELECT c_custkey, c_nationkey,
         {cents_sql("c_acctbal")} AS cents
  FROM customer
),
log AS (
  SELECT c_custkey, c_nationkey, 1 AS version, 'I' AS op,
         cents AS bal_cents FROM cust
  UNION ALL
  SELECT c_custkey, c_nationkey, 2, 'U', cents + 10000 FROM cust
  WHERE c_custkey % 7 = 0
  UNION ALL
  SELECT c_custkey, c_nationkey, 2, 'D', NULL FROM cust
  WHERE c_custkey % 13 = 0
  UNION ALL
  SELECT c_custkey, c_nationkey, 3, 'I', CAST(0 AS BIGINT) FROM cust
  WHERE c_custkey % 26 = 0
  UNION ALL
  SELECT c_custkey, c_nationkey, 3, 'U', cents + 5000 FROM cust
  WHERE c_custkey % 5 = 0 AND c_custkey % 26 <> 0
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY c_custkey
    ORDER BY version DESC, CASE WHEN op = 'D' THEN 1 ELSE 0 END DESC) AS rn
  FROM log
)
SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(bal_cents) AS BIGINT) AS balance_cents
FROM ranked WHERE rn = 1 AND op <> 'D'
GROUP BY c_nationkey
"""

QUERIES["q_cdc_apply"] = (q_cdc_apply, ORACLE_CDC_APPLY)


# --- q_win_rolling_median: exact rolling median -------------------------------
#
# 7-observation trailing EXACT median (lower median on even windows)
# of the daily count series per event type — the robust-smoothing
# window the EWMA (q_win_ewma) family cannot express, and the one
# rolling quantile that is bitwise-deterministic: the frame is
# collected as an array, sorted, and indexed at (n+1) div 2, all
# exact integers on both engines.
#
# Scale: the frame is a bounded 7 elements per row — collect + sort
# is O(7 log 7) per row after the one per-type sort; the series
# itself is post-aggregate (~days rows per type), not event-sized.


def q_win_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (event_type, day): the daily count and the trailing
    7-observation exact median."""
    daily = _daily(spark, sf_dir)
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-6, 0)
    )
    with_arr = daily.withColumn("arr", F.collect_list("cnt").over(w))
    return with_arr.select(
        "event_type",
        "day",
        "cnt",
        F.expr(
            "element_at(array_sort(arr),"
            " cast((size(arr) + 1) div 2 as int))"
        ).cast("bigint").alias("med7"),
    )


ORACLE_WIN_ROLLING_MEDIAN = f"""
WITH {_DAILY_DUCK},
framed AS (
  SELECT event_type, day, cnt,
         list(cnt) OVER (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS arr
  FROM daily
)
SELECT event_type, day, cnt,
       CAST(list_sort(arr)[CAST((len(arr) + 1) // 2 AS INT)] AS BIGINT)
         AS med7
FROM framed
"""

QUERIES["q_win_rolling_median"] = (q_win_rolling_median, ORACLE_WIN_ROLLING_MEDIAN)


# --- q_ts_seasonal_profile: hour-of-week seasonality matrix -------------------
#
# The seasonality profile a capacity planner or anomaly detector
# conditions on: activity by (day-of-week, hour-of-day) cell, with
# each cell's share of total traffic in 1e-6 fixed point. Day-of-week
# uses the PORTABLE (epoch_days + 4) % 7 form (0 = Sunday) — Spark
# dayofweek() and DuckDB dow() number days differently
# (q_fn_datetime_suite documents the split).
#
# Scale: map-only projection to (dow, hour) + one aggregate with
# map-side combine — at most 168 rows out regardless of input size;
# the total is a broadcast scalar.


def q_ts_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (dow 0=Sunday, hour): event count, value cents, and the
    cell's 1e-6 fixed-point share of all events."""
    ev = load(spark, sf_dir, "events")
    cells = ev.select(
        F.expr(
            "cast((datediff(to_date(ts), date'1970-01-01') + 4) % 7 as int)"
        ).alias("dow"),
        F.hour("ts").cast("int").alias("hr"),
        F.expr(cents_sql("value")).alias("cents"),
    ).groupBy("dow", "hr").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum("cents").cast("bigint").alias("cents_total"),
    )
    total = ev.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    return cells.crossJoin(F.broadcast(total)).select(
        "dow",
        "hr",
        "n_events",
        "cents_total",
        F.expr("cast(1000000 * n_events div n_total as bigint)").alias("share_fp"),
    )


ORACLE_TS_SEASONAL_PROFILE = f"""
WITH cells AS (
  SELECT CAST((date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) + 4) % 7
              AS INT) AS dow,
         CAST(hour(ts) AS INT) AS hr,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum({cents_sql("value")})
              AS BIGINT) AS cents_total
  FROM events GROUP BY 1, 2
)
SELECT dow, hr, n_events, cents_total,
       CAST(1000000 * n_events // (SELECT count(*) FROM events) AS BIGINT)
         AS share_fp
FROM cells
"""

QUERIES["q_ts_seasonal_profile"] = (q_ts_seasonal_profile, ORACLE_TS_SEASONAL_PROFILE)


# --- q_behavior_e2e: sessionize -> funnel -> attribute (composite) -----------
#
# The behavioral counterpart of q_pipeline_e2e's composability proof:
# gap-sessionization (30-min inactivity, the q_sessionize_batch
# technique and tie discipline), a purchase filter per session, and
# within-session last-touch attribution (the q_attribution carry) all
# declared as ONE logical plan — Catalyst sees the whole chain and
# every window shares the single (user, ts, event_id) shuffle+sort.
# Output: per channel, converting-session count and attributed
# revenue in exact integer cents.
#
# Scale: exactly one event-sized exchange (user_id); session ids,
# touch carries, and per-session aggregates all reuse its sort; the
# channel rollup aggregates (user, sid)-sized rows with map-side
# combine.

_BE_GAP_MIN = 30


def q_behavior_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per touch channel: converting sessions and attributed revenue
    (cents), from one sessionize->attribute plan."""
    # sequencing-validity boundary (r10 composed stress probe,
    # mirrored in the oracle): an untimestamped event cannot be
    # sessionized — Spark's NULLS FIRST puts it in a leading solo
    # session while DuckDB's NULLS LAST merges the first such row into
    # the user's LAST real session, flipping its purchase's channel.
    # The rest of this module got the boundary in r08; this builder
    # survived the i.i.d. probes on seed luck until the independent-
    # mask composition exposed it.
    ev = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    order_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.lag("ts").over(order_w)
    marked = ev.withColumn(
        "new_s",
        F.when(
            gap.isNull()
            | (F.col("ts").cast("long") - gap.cast("long") > _BE_GAP_MIN * 60),
            1,
        ).otherwise(0),
    )
    sess = marked.withColumn(
        "sid",
        F.sum("new_s").over(order_w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    sess_w = (
        Window.partitionBy("user_id", "sid")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touched = sess.withColumn(
        "last_touch",
        F.last(
            F.when(F.col("event_type").isin("view", "click"), F.col("event_type")),
            ignorenulls=True,
        ).over(sess_w),
    )
    purchases = touched.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "sid",
        F.coalesce("last_touch", F.lit("none")).alias("channel"),
        F.expr(cents_sql("value")).alias("cents"),
    )
    per_session = purchases.groupBy("user_id", "sid", "channel").agg(
        F.sum("cents").alias("cents")
    )
    return per_session.groupBy("channel").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.sum("cents").cast("bigint").alias("revenue_cents"),
    )


ORACLE_BEHAVIOR_E2E = f"""
WITH marked AS (
  -- floor(epoch()): Spark compares floored cast-to-long SECONDS, and
  -- every events.ts carries sub-second precision — a raw epoch()
  -- diff can cross the 1800 s threshold when the floored diff does
  -- not (the ORACLE_WIN_RANGE_INTERVAL precedent).
  SELECT *, CASE WHEN lag(ts) OVER w IS NULL
                   OR CAST(floor(epoch(ts)) AS BIGINT)
                      - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT)
                      > {_BE_GAP_MIN * 60}
                 THEN 1 ELSE 0 END AS new_s
  FROM events WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS sid
  FROM marked
),
touched AS (
  SELECT *, last_value(CASE WHEN event_type IN ('view', 'click')
                            THEN event_type END IGNORE NULLS)
              OVER (PARTITION BY user_id, sid ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              AS last_touch
  FROM sess
),
per_session AS (
  SELECT user_id, sid, coalesce(last_touch, 'none') AS channel,
         sum({cents_sql("value")}) AS cents
  FROM touched WHERE event_type = 'purchase'
  GROUP BY user_id, sid, coalesce(last_touch, 'none')
)
SELECT channel, CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(sum(cents) AS BIGINT) AS revenue_cents
FROM per_session GROUP BY channel
"""

QUERIES["q_behavior_e2e"] = (q_behavior_e2e, ORACLE_BEHAVIOR_E2E)


# --- q_pattern_match: row-pattern recognition (MATCH_RECOGNIZE family) --------
#
# Sequence-pattern matching over each user's ordered event stream —
# the MATCH_RECOGNIZE operator class, re-expressed portably: the
# per-user stream collapses to a STRING of event initials (total
# (ts, event_id) order carried inside the sorted struct array), and
# the row pattern becomes a regex over that string ('vc*p' = a view,
# any clicks, then a purchase), counted non-overlapping left-to-right
# greedy — identical semantics in the Java∩RE2 subset both engines
# share (q_fn_regex_suite discipline).
#
# Scale: the sequence string is bounded by a user's OWN event count
# (one groupBy user_id with map-side combine); the regex is row-local.
# A production variant shards ultra-long users by session first
# (q_sessionize_batch) — documented lever, same plan shape.

_PM_PATTERN = "vc*p"


def q_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per user: event-sequence length, non-overlapping 'vc*p' match
    count, and the converted flag."""
    # sequencing-validity boundary (r08 rule, caught here by the r10
    # composed battery): an untimestamped event has no position in
    # the user's sequence — its char would sit at the FRONT of
    # Spark's struct sort (NULL fields first) and the BACK of the
    # oracle's ORDER BY (NULLS LAST), changing the match count.
    ev = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    seqs = (
        ev.select(
            "user_id",
            F.struct(
                F.col("ts"), F.col("event_id"),
                F.expr("substring(event_type, 1, 1)").alias("ch"),
            ).alias("s"),
        )
        .groupBy("user_id")
        .agg(
            F.expr(
                "array_join(transform(array_sort(collect_list(s)), x -> x.ch), '')"
            ).alias("seq")
        )
    )
    return seqs.select(
        "user_id",
        F.length("seq").cast("bigint").alias("seq_len"),
        F.expr(f"cast(regexp_count(seq, '{_PM_PATTERN}') as bigint)").alias(
            "n_matches"
        ),
    ).withColumn("converted", F.col("n_matches") > 0)


ORACLE_PATTERN_MATCH = f"""
WITH seqs AS (
  SELECT user_id,
         string_agg(substring(event_type, 1, 1), '' ORDER BY ts, event_id)
           AS seq
  FROM events WHERE ts IS NOT NULL GROUP BY user_id
)
SELECT user_id, CAST(length(seq) AS BIGINT) AS seq_len,
       CAST(len(regexp_extract_all(seq, '{_PM_PATTERN}')) AS BIGINT)
         AS n_matches,
       len(regexp_extract_all(seq, '{_PM_PATTERN}')) > 0 AS converted
FROM seqs
"""

QUERIES["q_pattern_match"] = (q_pattern_match, ORACLE_PATTERN_MATCH)


# --- q_win_range_interval: time-based RANGE frame -----------------------------
#
# The time-based sliding aggregate per row — RANGE frames over EVENT
# TIME (trailing 1 hour), as opposed to q_win_frame's ROWS frames
# over positions: for every event, how many events and how much value
# its user generated in the preceding hour INCLUDING itself. The
# frame is declared over integer epoch seconds (RANGE BETWEEN 3599
# PRECEDING AND CURRENT ROW), which both engines implement with
# identical closed-interval semantics; rows at equal timestamps are
# frame PEERS in both (RANGE, not ROWS — ties enter together, which
# is why no event_id tie-break belongs in this ORDER BY).
#
# Scale: one shuffle on user_id; the running frame is maintained by
# a sliding two-pointer over each user's sorted stream — state is
# O(window contents), never the whole partition. Epoch seconds are
# FLOORED explicitly on both sides: Spark's timestamp->long cast
# truncates while DuckDB's double->bigint cast rounds half-away —
# an off-by-one frame shift on ~half the rows if left implicit.


def q_win_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event: the user's trailing-1-hour event count and value
    cents (event-time RANGE frame, self inclusive)."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.col("ts").cast("long").alias("epoch_s"),
        F.expr(cents_sql("value")).alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("epoch_s")
        .rangeBetween(-3599, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.col("epoch_s").cast("bigint").alias("epoch_s"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_trailing_1h"),
        F.sum("cents").over(w).cast("bigint").alias("cents_trailing_1h"),
    )


ORACLE_WIN_RANGE_INTERVAL = f"""
SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
       CAST(count(*) OVER w AS BIGINT) AS n_trailing_1h,
       CAST(sum({cents_sql("value")}) OVER w AS BIGINT) AS cents_trailing_1h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
             RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
"""

QUERIES["q_win_range_interval"] = (q_win_range_interval, ORACLE_WIN_RANGE_INTERVAL)


# --- q_ohlc_bars: open-high-low-close bar aggregation -------------------------
#
# The finance/telemetry bar query: per (event_type, day), the FIRST
# value (open), max (high), min (low), LAST value (close), and volume
# — open/close are argmin/argmax-by-time picks expressed as min/max
# over (ts, event_id, value) STRUCTS, whose lexicographic order makes
# the pick deterministic under ties and keeps the aggregate a plain
# partial-combinable min/max (no window, no sort — the struct trick
# is what makes first/last-by-time scale like any other aggregate).
# Values as exact 1e-3 fixed point.


def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (event_type, day): open/high/low/close (1e-3 fp) and
    event volume."""
    # sequencing-validity boundary (r10 composed stress probe,
    # mirrored in the oracle): an untimestamped event has no position
    # on the time axis a bar is defined over — NULL ts otherwise forms
    # a NULL day group AND enters the open/close struct picks, where
    # Spark compares NULL struct fields FIRST and DuckDB LAST.
    ev = load(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    ).select(
        "event_type",
        F.to_date("ts").alias("day"),
        "ts",
        "event_id",
        F.expr(cents_sql("value", 1000)).alias("v_fp"),
    )
    # open/close pick only rows with a FINITE reading (ADVICE r10
    # item 3): a masked v_fp inside the struct would be compared when
    # duplicate (ts, event_id) rows tie — Spark orders NULL struct
    # fields FIRST, DuckDB LAST — so the corrupt row is excluded from
    # the pick instead (a bar opens/closes at the first/last VALID
    # price; min/max skip the NULL-conditioned structs identically).
    return ev.groupBy("event_type", "day").agg(
        F.expr(
            "min(case when v_fp is not null then struct(ts, event_id, v_fp) end).v_fp"
        ).alias("open_fp"),
        F.max("v_fp").alias("high_fp"),
        F.min("v_fp").alias("low_fp"),
        F.expr(
            "max(case when v_fp is not null then struct(ts, event_id, v_fp) end).v_fp"
        ).alias("close_fp"),
        F.count(F.lit(1)).cast("bigint").alias("volume"),
    )


ORACLE_OHLC_BARS = f"""
WITH ev AS (
  SELECT event_type, CAST(ts AS DATE) AS day, ts, event_id,
         {cents_sql("value", 1000)} AS v_fp
  FROM events WHERE ts IS NOT NULL
)
SELECT event_type, day,
       CAST((min(CASE WHEN v_fp IS NOT NULL
                 THEN struct_pack(ts := ts, e := event_id, v := v_fp) END)).v
         AS BIGINT) AS open_fp,
       CAST(max(v_fp) AS BIGINT) AS high_fp,
       CAST(min(v_fp) AS BIGINT) AS low_fp,
       CAST((max(CASE WHEN v_fp IS NOT NULL
                 THEN struct_pack(ts := ts, e := event_id, v := v_fp) END)).v
         AS BIGINT) AS close_fp,
       CAST(count(*) AS BIGINT) AS volume
FROM ev GROUP BY event_type, day
"""

QUERIES["q_ohlc_bars"] = (q_ohlc_bars, ORACLE_OHLC_BARS)


# --- q_time_travel: versioned snapshot reads over the changelog ---------------
#
# Snapshot-AS-OF-version reads (Delta/Iceberg time travel) over the
# same synthesized 3-version changelog as q_cdc_apply: the snapshot
# at version V is last-writer-wins over log records with
# version <= V. One plan materializes the per-nation summary of the
# snapshot AS OF every version 1..3 — reading history from an
# append-only log with no stored snapshots, which is exactly how
# merge-on-read time travel works.
#
# Scale: one row_number per (key, as-of version) over the
# version-filtered log; the as-of fan-out is bounded by the number
# of versions requested, not table size.


def q_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (as_of_version, nation): surviving customers and balance
    cents of the snapshot at that version."""
    return sql_frame(spark, sf_dir, ("customer",), ORACLE_TIME_TRAVEL)


ORACLE_TIME_TRAVEL = f"""
WITH cust AS (
  SELECT c_custkey, c_nationkey,
         {cents_sql("c_acctbal")} AS cents
  FROM customer
),
log AS (
  SELECT c_custkey, c_nationkey, 1 AS version, 'I' AS op,
         cents AS bal_cents FROM cust
  UNION ALL
  SELECT c_custkey, c_nationkey, 2, 'U', cents + 10000 FROM cust
  WHERE c_custkey % 7 = 0
  UNION ALL
  SELECT c_custkey, c_nationkey, 2, 'D', NULL FROM cust
  WHERE c_custkey % 13 = 0
  UNION ALL
  SELECT c_custkey, c_nationkey, 3, 'I', CAST(0 AS BIGINT) FROM cust
  WHERE c_custkey % 26 = 0
  UNION ALL
  SELECT c_custkey, c_nationkey, 3, 'U', cents + 5000 FROM cust
  WHERE c_custkey % 5 = 0 AND c_custkey % 26 <> 0
),
fan AS (
  SELECT l.*, v.as_of_version
  FROM log l CROSS JOIN (VALUES (1), (2), (3)) v(as_of_version)
  WHERE l.version <= v.as_of_version
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY as_of_version, c_custkey
    ORDER BY version DESC, CASE WHEN op = 'D' THEN 1 ELSE 0 END DESC) AS rn
  FROM fan
)
SELECT CAST(as_of_version AS INT) AS as_of_version, c_nationkey,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(bal_cents) AS BIGINT) AS balance_cents
FROM ranked WHERE rn = 1 AND op <> 'D'
GROUP BY as_of_version, c_nationkey
"""

QUERIES["q_time_travel"] = (q_time_travel, ORACLE_TIME_TRAVEL)


# --- q_mad_outlier: median-absolute-deviation robust outliers ---------------
#
# The robust counterpart to q_anomaly_zscore: a handful of extreme
# values can drag a mean/stddev gate far enough to miss themselves,
# while the median/MAD pair is immune to anything short of 50%
# contamination. Per event type: lower median of the value, MAD
# (lower median of |x - median|), and the count/share of points
# beyond 3 MADs.
#
# Determinism: values in 1e-2 fixed point (cents); both medians are
# rank-index selections on a TOTAL order (v, event_id) — the
# q_percentile_exact idiom — with the non-negative index (n+1) div 2,
# so both engines pick the identical row; deviations are non-negative
# BIGINTs; the share is the one IEEE division.
#
# Scale: two shuffles, both keyed on event_type (sort by value, then
# by deviation); the per-type medians are tiny aggregates that
# BROADCAST back. At 100 TB the exact rank selection becomes the
# equi-width-histogram cumulative-count median (q_agg_histogram's
# bins) — same output contract, no global per-type sort; the exact
# form is what the oracle checks bitwise.


def q_mad_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event type: n, median, MAD, and points beyond 3 MADs
    (count + share)."""
    # rank-validity boundary (a ts+value probe; non-finite added by
    # an extreme-value probe, mirrored in the oracle): a NULL or
    # NaN/±Inf reading is not a point of the distribution — NULL rank
    # position differs per engine, and a NaN would crash both ANSI
    # engines' cents cast.
    ev = (
        load(spark, sf_dir, "events")
        .filter(
            F.col("value").isNotNull()
            & F.expr(fits_sql("value"))
        )
        .select(
            "event_type",
            "event_id",
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("v_fp"),
        )
    )
    w_type = Window.partitionBy("event_type")
    w_v = w_type.orderBy("v_fp", "event_id")
    med = (
        ev.select(
            "event_type",
            "v_fp",
            F.row_number().over(w_v).alias("rn"),
            F.count(F.lit(1)).over(w_type).alias("n"),
        )
        .filter(F.expr("rn = (n + 1) div 2"))
        .select("event_type", F.col("v_fp").alias("med_fp"), "n")
    )
    dev = (
        ev.join(F.broadcast(med), "event_type").select(
            "event_type",
            "event_id",
            "n",
            "med_fp",
            F.abs(F.col("v_fp") - F.col("med_fp")).alias("dev"),
        )
    )
    w_d = w_type.orderBy("dev", "event_id")
    mad = (
        dev.select(
            "event_type",
            "dev",
            F.row_number().over(w_d).alias("rn"),
            "n",
        )
        .filter(F.expr("rn = (n + 1) div 2"))
        .select("event_type", F.col("dev").alias("mad_fp"))
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n").cast("bigint").alias("n"),
            (F.max("med_fp") / F.lit(100.0)).alias("median"),
            (F.max("mad_fp") / F.lit(100.0)).alias("mad"),
            F.sum(
                F.when(F.col("dev") > 3 * F.col("mad_fp"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
        .withColumn(
            "outlier_share",
            F.col("n_outliers").cast("double") / F.col("n").cast("double"),
        )
        .select("event_type", "n", "median", "mad", "n_outliers", "outlier_share")
    )


ORACLE_MAD_OUTLIER = f"""
WITH ev AS (
  SELECT event_type, event_id,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_fp
  FROM events
  WHERE value IS NOT NULL AND {fits_sql("value")}
),
ranked AS (
  SELECT event_type, v_fp,
         row_number() OVER (PARTITION BY event_type ORDER BY v_fp, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM ev
),
med AS (
  SELECT event_type, v_fp AS med_fp, n FROM ranked WHERE rn = (n + 1) // 2
),
dev AS (
  SELECT e.event_type, e.event_id, m.n, m.med_fp,
         abs(e.v_fp - m.med_fp) AS dev
  FROM ev e JOIN med m ON e.event_type = m.event_type
),
ranked2 AS (
  SELECT event_type, dev,
         row_number() OVER (PARTITION BY event_type ORDER BY dev, event_id) AS rn,
         n
  FROM dev
),
mad AS (
  SELECT event_type, dev AS mad_fp FROM ranked2 WHERE rn = (n + 1) // 2
)
SELECT d.event_type,
       CAST(max(d.n) AS BIGINT) AS n,
       max(d.med_fp) / 100.0 AS median,
       max(m.mad_fp) / 100.0 AS mad,
       CAST(sum(CASE WHEN d.dev > 3 * m.mad_fp THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers,
       CAST(sum(CASE WHEN d.dev > 3 * m.mad_fp THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(max(d.n) AS DOUBLE) AS outlier_share
FROM dev d JOIN mad m ON d.event_type = m.event_type
GROUP BY d.event_type
"""

QUERIES["q_mad_outlier"] = (q_mad_outlier, ORACLE_MAD_OUTLIER)


# --- q_ts_trend: per-type OLS trend of the daily series ---------------------
#
# Least-squares slope / intercept / R^2 of each event type's daily
# value total against the day index — the trend readout behind every
# "is this metric growing" dashboard, and the regression complement
# of q_cov_stats (covariance) and q_ts_autocorr (serial
# correlation).
#
# Determinism (the q_cov_stats discipline, hardened): ALL sufficient
# statistics (n, Σx, Σy, Σxy, Σx², Σy²) are exact BIGINTs — x is
# the day index CENTERED on the type's first day (bounds x by the
# series length) and y is the daily total in whole DOLLARS
# (cents div 100, non-negative), which keeps every product and
# difference below 2^53 so the final CAST(... AS DOUBLE)s are EXACT
# and the slope/intercept/R² are each ONE shared IEEE expression
# over identical integers in both engines.
#
# Scale: daily rollup with map-side combine (the q_ts_changepoint
# substrate), then a per-type aggregate over <= |days| rows; the
# centering min() is a window over the same tiny daily table.

_TREND_NUM = "cast(n * sxy - sx * sy as double)"
_TREND_DEN_X = "cast(n * sxx - sx * sx as double)"
_TREND_DEN_Y = "cast(n * syy - sy * sy as double)"
_TREND_SLOPE = f"{_TREND_NUM} / {_TREND_DEN_X}"
_TREND_R2 = f"({_TREND_NUM} * {_TREND_NUM}) / ({_TREND_DEN_X} * {_TREND_DEN_Y})"


def q_ts_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event type: day count, OLS slope (dollars/day), intercept
    (dollars at the first day), and R^2 of the daily-total trend."""
    daily = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(
            F.sum(F.expr(cents_sql("value"))).alias("cents")
        )
        .select(
            "event_type",
            F.expr("datediff(day, date'1970-01-01')").cast("bigint").alias("d"),
            F.expr("cents div 100").alias("y"),
        )
    )
    centered = daily.select(
        "event_type",
        (F.col("d") - F.min("d").over(Window.partitionBy("event_type"))).alias("x"),
        "y",
    )
    stats = centered.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.expr("x * x")).cast("bigint").alias("sxx"),
        F.sum(F.expr("x * y")).cast("bigint").alias("sxy"),
        F.sum(F.expr("y * y")).cast("bigint").alias("syy"),
    )
    return stats.select(
        "event_type",
        "n",
        F.expr(f"case when {_TREND_DEN_X} > 0e0 then {_TREND_SLOPE} end").alias(
            "slope"
        ),
        F.expr(
            f"case when {_TREND_DEN_X} > 0e0 then"
            f" (cast(sy as double) - ({_TREND_SLOPE}) * cast(sx as double))"
            f" / cast(n as double) end"
        ).alias("intercept"),
        F.expr(
            f"case when {_TREND_DEN_X} > 0e0 and {_TREND_DEN_Y} > 0e0"
            f" then {_TREND_R2} end"
        ).alias("r2"),
    )


ORACLE_TS_TREND = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(sum({cents_sql("value")})
              AS BIGINT) AS cents
  FROM events GROUP BY 1, 2
),
idx AS (
  SELECT event_type,
         CAST(date_diff('day', DATE '1970-01-01', day) AS BIGINT) AS d,
         cents // 100 AS y
  FROM daily
),
centered AS (
  SELECT event_type,
         d - min(d) OVER (PARTITION BY event_type) AS x,
         y
  FROM idx
),
stats AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM centered GROUP BY event_type
)
SELECT event_type, n,
       CASE WHEN {_TREND_DEN_X} > 0e0 THEN {_TREND_SLOPE} END AS slope,
       CASE WHEN {_TREND_DEN_X} > 0e0 THEN
         (CAST(sy AS DOUBLE) - ({_TREND_SLOPE}) * CAST(sx AS DOUBLE))
         / CAST(n AS DOUBLE) END AS intercept,
       CASE WHEN {_TREND_DEN_X} > 0e0 AND {_TREND_DEN_Y} > 0e0
         THEN {_TREND_R2} END AS r2
FROM stats
"""

QUERIES["q_ts_trend"] = (q_ts_trend, ORACLE_TS_TREND)


# --- q_funnel_latency: conversion-latency distribution ------------------------
#
# The time-to-convert readout behind q_funnel_steps' counts: per
# user, the seconds from the FIRST click to the first purchase at or
# after it; then the exact latency distribution — count, min, lower
# median, ceil-rank p90, max — selected at exact integer rank cutoffs
# (the q_percentile_exact discipline; no interpolation, so every
# statistic is a value that actually occurred).
#
# Scale: two user_id-keyed aggregates (click min, conditional
# purchase min) — one shuffle each; the rank AND the converting-user
# count come from ONE distributed global_order_stats pass
# (functions/distributed.py) over the converting-users table, which
# grows with |users| — no single-task sort, no second pass for n.


def q_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: n converted users, min / lower-median / p90 / max
    click→purchase latency in whole seconds."""
    # kept: exchanges 7 -> 8 without it (A/B: 5 pairs, sf0.1)
    ev = scoped_persist(
        load(spark, sf_dir, "events").select(
            "user_id",
            "event_type",
            F.col("ts").cast("long").alias("epoch_s"),
        )
    )
    c0 = ev.filter("event_type = 'click'").groupBy("user_id").agg(
        F.min("epoch_s").cast("bigint").alias("c0")
    )
    lat = (
        ev.filter("event_type = 'purchase'")
        .join(c0, "user_id")
        .filter("epoch_s >= c0")
        .groupBy("user_id", "c0")
        .agg(F.min("epoch_s").cast("bigint").alias("p0"))
        .select("user_id", (F.col("p0") - F.col("c0")).alias("lat_s"))
    )
    # rank AND the converting-user count come out of the SAME range
    # shuffle (total= reads the bounded offsets table) — a separate
    # count aggregate would re-run the unpersisted click⋈purchase join
    ranked = global_order_stats(
        lat,
        [F.col("lat_s").asc(), F.col("user_id").asc()],
        rn="rn",
        total="n",
    ).select("lat_s", "rn", "n")
    return ranked.groupBy("n").agg(
        F.min("lat_s").cast("bigint").alias("min_s"),
        F.max(F.expr("case when rn = (n + 1) div 2 then lat_s end"))
        .cast("bigint")
        .alias("p50_s"),
        F.max(F.expr("case when rn = (9 * n + 9) div 10 then lat_s end"))
        .cast("bigint")
        .alias("p90_s"),
        F.max("lat_s").cast("bigint").alias("max_s"),
    )


ORACLE_FUNNEL_LATENCY = """
WITH ev AS (
  SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s
  FROM events
),
c0 AS (
  SELECT user_id, CAST(min(epoch_s) AS BIGINT) AS c0
  FROM ev WHERE event_type = 'click' GROUP BY user_id
),
lat AS (
  SELECT e.user_id, CAST(min(e.epoch_s) AS BIGINT) - c.c0 AS lat_s
  FROM ev e JOIN c0 c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.epoch_s >= c.c0
  GROUP BY e.user_id, c.c0
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lat),
ranked AS (
  SELECT lat_s,
         CAST(row_number() OVER (ORDER BY lat_s ASC, user_id ASC) AS BIGINT)
           AS rn
  FROM lat
)
SELECT n.n, CAST(min(lat_s) AS BIGINT) AS min_s,
       CAST(max(CASE WHEN rn = (n.n + 1) // 2 THEN lat_s END) AS BIGINT)
         AS p50_s,
       CAST(max(CASE WHEN rn = (9 * n.n + 9) // 10 THEN lat_s END) AS BIGINT)
         AS p90_s,
       CAST(max(lat_s) AS BIGINT) AS max_s
FROM ranked CROSS JOIN n
GROUP BY n.n
"""

QUERIES["q_funnel_latency"] = (q_funnel_latency, ORACLE_FUNNEL_LATENCY)


# --- q_attribution_linear: linear multi-touch attribution --------------------
#
# The multi-touch counterpart of q_attribution's last-touch: every
# purchase's revenue is split EQUALLY across all view/click touches
# in its segment (events since the previous purchase by that user);
# a purchase with no preceding touches credits 'none' in full.
# Credits stay exact: credit_fp = cents * 1e6 * touches_in_channel
# div touches_total per (purchase, channel) — the only rounding is
# the final truncating fixed-point divide, identical in both
# engines (non-negative numerator).
#
# Scale: the segment id is a running purchase count inside the
# user_id-bounded window (no self-join, no per-purchase scan); touch
# counts and purchase revenue meet in ONE (user_id, seg)-keyed
# aggregate + join, the same shuffle class as q_sessionize_batch.


def q_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per channel: number of fractional credits and linearly
    attributed revenue (1e-6-cent fixed point)."""
    # sequencing-validity boundary (r08 null-ts probe): see
    # q_attribution — an untimestamped event has no journey position.
    ev = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull()).select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.expr(cents_sql("value")).alias("cents"),
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seg = ev.select(
        "user_id",
        "event_type",
        "cents",
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).over(
                w_prev
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("seg"),
    )
    touches = (
        seg.filter(F.col("event_type").isin("view", "click"))
        .groupBy("user_id", "seg", F.col("event_type").alias("channel"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    touch_tot = touches.groupBy("user_id", "seg").agg(
        F.sum("c").cast("bigint").alias("t_total")
    )
    purchases = seg.filter(F.col("event_type") == "purchase").select(
        "user_id", "seg", "cents"
    )
    credited = (
        purchases.join(touch_tot, ["user_id", "seg"], "left")
        .join(touches, ["user_id", "seg"], "left")
        .select(
            F.coalesce(F.col("channel"), F.lit("none")).alias("channel"),
            F.when(F.col("t_total").isNull(), F.lit(1000000).cast("bigint"))
            .otherwise(
                F.expr("CAST((c * 1000000) div t_total AS BIGINT)")
            )
            .alias("share_fp"),
            "cents",
        )
    )
    return credited.groupBy("channel").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_credits"),
        F.sum(F.expr("cents * share_fp")).cast("bigint").alias("credit_fp"),
    )


ORACLE_ATTRIBUTION_LINEAR = f"""
WITH seg AS (
  SELECT user_id, event_type, {cents_sql("value")} AS cents,
         CAST(coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS seg
  FROM events
  WHERE ts IS NOT NULL
),
touches AS (
  SELECT user_id, seg, event_type AS channel,
         CAST(count(*) AS BIGINT) AS c
  FROM seg WHERE event_type IN ('view', 'click')
  GROUP BY user_id, seg, event_type
),
touch_tot AS (
  SELECT user_id, seg, CAST(sum(c) AS BIGINT) AS t_total
  FROM touches GROUP BY user_id, seg
),
purchases AS (
  SELECT user_id, seg, cents FROM seg WHERE event_type = 'purchase'
),
credited AS (
  SELECT coalesce(t.channel, 'none') AS channel,
         CASE WHEN tt.t_total IS NULL THEN CAST(1000000 AS BIGINT)
              ELSE CAST((t.c * 1000000) // tt.t_total AS BIGINT) END AS share_fp,
         p.cents
  FROM purchases p
  LEFT JOIN touch_tot tt ON p.user_id = tt.user_id AND p.seg = tt.seg
  LEFT JOIN touches t ON p.user_id = t.user_id AND p.seg = t.seg
)
SELECT channel,
       CAST(count(*) AS BIGINT) AS n_credits,
       CAST(sum(cents * share_fp) AS BIGINT) AS credit_fp
FROM credited GROUP BY channel
"""

QUERIES["q_attribution_linear"] = (q_attribution_linear, ORACLE_ATTRIBUTION_LINEAR)
