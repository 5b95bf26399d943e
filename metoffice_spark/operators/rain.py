"""The reference's stateful rain logic (MWC:196-280), batch form.

The reference keeps three state cells in a spreadsheet between ticks:
B2 = counter at first observation of the current day, C2 = counter at
the last observation that advanced it today (0 = "no rain yet
today"), D2 = that observation's time. Re-expressed over the full
observation history these become window functions:

- B2  → ``first(r)`` over (station, day) ordered by time
- C2  → ``max(r where fresh and r != day_start)`` over the preceding
        rows of the same (station, day) — max == last because the
        counter is monotone (MWC:199-205)
- day-boundary reset (MWC:231-240) falls out of the per-day partition
- staleness guard (MWC:244): sensor date must equal observation date

Semantics preserved exactly, including: rain across midnight is
attributed to neither day (reset writes C2=0, MWC:236-239), and the
first rain of the day uses the daily accumulation as the rate base
(MWC:257-263).

The windows are written once, as the ``_RAIN_BASE_SQL`` CTE chain; the
builders run their oracle text through ``io.sql_frame``, and the WOW
payload (ingest.py) embeds the same chain.

Scale note: the windows partition by (station_id, day) — at 100 TB
that is the natural parquet partition layout, so the sort is local
per partition and no global shuffle hotspot exists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from metoffice_spark.io import sql_frame
from metoffice_spark.obs import OBS_PER_HOUR, observations, oracle_cte

_CTE = oracle_cte()

# Shared CTE chain used by all rain SQL: the oracles, the builders
# below and the WOW payload (ingest.py). Dialect-common.
# The counter is the FINAL ordering tie-break in both state windows:
# byte-identical duplicate deliveries tie on (ts, obs_id) with
# DISTINCT counter values, so FIRST_VALUE at a duplicated day-first
# click and the 1-PRECEDING frame boundary between twins are
# engine-arbitrary without it. No-op on unique-(ts, obs_id) input.
_RAIN_BASE_SQL = """
rain_base AS (
  SELECT *,
         rain_counter_mm AS r,
         CAST(rain_sensor_ts AS DATE) = day AS fresh,
         FIRST_VALUE(rain_counter_mm) OVER (
           PARTITION BY station_id, day
           ORDER BY ts, obs_id, rain_counter_mm) AS day_start
  FROM observations
),
rain_state AS (
  SELECT *,
         MAX(CASE WHEN fresh AND r <> day_start THEN r END) OVER (
           PARTITION BY station_id, day ORDER BY ts, obs_id, rain_counter_mm
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_saved
  FROM rain_base
)
"""

# The two metrics as SQL over rain_state's columns, shared by the texts
# below and the WOW payload (ingest.py).
_RAIN_DAILY_SQL = "CASE WHEN fresh AND r <> day_start THEN r - day_start ELSE 0.0 END"
_RAIN_RATE_SQL = (
    "CASE WHEN fresh AND r <> day_start THEN "
    f"CASE WHEN COALESCE(prev_saved, 0.0) <> 0.0 THEN {OBS_PER_HOUR}.0 * (r - prev_saved) "
    f"ELSE {OBS_PER_HOUR}.0 * (r - day_start) END ELSE 0.0 END"
)

_RAIN_METRICS_SELECT = f"""
SELECT station_id, obs_id, ts, r,
       {_RAIN_DAILY_SQL} AS dailyrainmm,
       {_RAIN_RATE_SQL} AS rainmm
FROM rain_state
"""

ORACLE_RAIN_METRICS = f"{_CTE}, {_RAIN_BASE_SQL.strip()} {_RAIN_METRICS_SELECT}"


def rain_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dailyrainmm + rainmm per observation, exactly per MWC:229-280:
    the batch answer the streaming rain machine is checked against."""
    return sql_frame(spark, sf_dir, ("events",), ORACLE_RAIN_METRICS)


def q_win_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Previous-observation lookup (Totalrainlatest analog, MWC:216/256)."""
    return sql_frame(spark, sf_dir, ("events",), ORACLE_WIN_LAG)


# Bounded to (station_id, day), the partition the rain machine uses
# (the reference's own state resets daily, MWC:231-240), so at 100 TB
# the window sort is local to one day of one station. The day's first
# observation has no previous row (prev_r NULL, delta 0): the
# day-reset semantics.
# The counter is the FINAL ordering tie-break: byte-identical
# duplicate deliveries tie on (ts, obs_id), but the substrate's
# within-day running sum gives them DISTINCT counter values (prior+x,
# prior+2x), and this window re-sorts the tie on its own; without the
# tie-break, which twin lags which is an engine accident. The counter
# is monotone within a day, so the order stays natural, and on
# unique-(ts, obs_id) data the tie-break is a no-op.
ORACLE_WIN_LAG = f"""{_CTE}
SELECT station_id, obs_id, rain_counter_mm AS r,
       LAG(rain_counter_mm) OVER (PARTITION BY station_id, day
                                  ORDER BY ts, obs_id, rain_counter_mm) AS prev_r,
       rain_counter_mm - COALESCE(
         LAG(rain_counter_mm) OVER (PARTITION BY station_id, day
                                    ORDER BY ts, obs_id, rain_counter_mm),
         rain_counter_mm) AS delta_r
FROM observations
"""


def q_win_first_of_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-start anchor (Totalrainstart analog, MWC:215/249)."""
    return sql_frame(spark, sf_dir, ("events",), ORACLE_WIN_FIRST_OF_DAY)


ORACLE_WIN_FIRST_OF_DAY = f"""{_CTE}, {_RAIN_BASE_SQL.strip()}
SELECT station_id, obs_id, day, r, day_start FROM rain_state
"""


def q_rain_daily_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dailyrainmm with day-boundary reset + staleness guard (MWC:229-255)."""
    return sql_frame(spark, sf_dir, ("events",), ORACLE_RAIN_DAILY)


ORACLE_RAIN_DAILY = f"""{_CTE}, {_RAIN_BASE_SQL.strip()}
SELECT station_id, obs_id, ts, r,
       {_RAIN_DAILY_SQL} AS dailyrainmm
FROM rain_state
"""


def q_rain_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rainmm rate incl. first-rain-of-day branch (MWC:256-279)."""
    return sql_frame(spark, sf_dir, ("events",), ORACLE_RAIN_RATE)


ORACLE_RAIN_RATE = f"""{_CTE}, {_RAIN_BASE_SQL.strip()}
SELECT station_id, obs_id, ts, r,
       {_RAIN_RATE_SQL} AS rainmm
FROM rain_state
"""

# --- state table: what the spreadsheet rows would contain ------------------

# End-of-day rainhistory rows (A2-D2 analog, MWC:211-216/236-239/271-272).
# ``MIN(r)`` and ``MAX(...)`` are the day's day_start and last saved
# counter because the counter is monotone within a day, so the state
# row is one plain aggregate with no window over the day's rows.
_STATE_TABLE_SQL = f"""{_CTE}, {_RAIN_BASE_SQL.strip()}
SELECT station_id, day,
       MIN(r) AS day_start_r,
       COALESCE(MAX(CASE WHEN fresh AND r <> day_start THEN r END), 0.0) AS last_saved_r,
       MAX(ts) AS last_obs_ts
FROM rain_state
GROUP BY station_id, day
"""


def q_sink_state_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The state rows a day's run would write back (MWC:236-239, 271-272)."""
    return sql_frame(spark, sf_dir, ("events",), _STATE_TABLE_SQL)


# previous state-snapshot roots of THIS process, deleted on the next
# invocation (the lazily-read newest root must stay on disk)
_STATE_ROOTS: list = []


def q_src_state_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-table scan (MWC:210-216): persist the rainhistory rows to
    parquet and read them back — a real small-dim state source that
    Catalyst will auto-broadcast in joins."""
    import os
    import shutil
    import tempfile
    import uuid

    # unique per-run dir: concurrent sessions (pytest + bench + driver)
    # must not clobber each other's state snapshot.
    # Keep-latest-delete-stale (the q_join_bucketed _BUCKET_ROOTS
    # discipline): the returned DataFrame re-reads its root lazily, so
    # only PREVIOUS roots of this process are removed — without this,
    # every invocation leaked one snapshot dir for the container's
    # lifetime.
    root = os.path.join(tempfile.gettempdir(), "metoffice_spark_state")
    path = os.path.join(root, uuid.uuid4().hex[:12], os.path.basename(sf_dir))
    state = sql_frame(spark, sf_dir, ("events",), _STATE_TABLE_SQL)
    state.write.mode("overwrite").parquet(path)
    while _STATE_ROOTS:
        shutil.rmtree(_STATE_ROOTS.pop(), ignore_errors=True)
    _STATE_ROOTS.append(os.path.dirname(path))
    import atexit

    atexit.register(shutil.rmtree, os.path.dirname(path), ignore_errors=True)
    return spark.read.parquet(path)


def q_join_state_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-lookup join: each observation x yesterday's state row
    (the MWC:211-216 read, generalized per station-day)."""
    return sql_frame(spark, sf_dir, ("events",), ORACLE_JOIN_STATE_LOOKUP)


# The state side is one row per station-day, so the join broadcasts it
# and never shuffles the observation side: AQE turns the join into a
# broadcast hash join once the state aggregate has run, while that
# side is under spark.sql.autoBroadcastJoinThreshold (10 MB by
# default, about 200k station-days at ~48 bytes a row; 4 stations
# give ~140 years). Past that bound it runs as a sort-merge join on
# (station_id, day): correct, with one more shuffle of the observations.
ORACLE_JOIN_STATE_LOOKUP = f"""{_CTE}, {_RAIN_BASE_SQL.strip()},
state AS (
  SELECT station_id, day,
         MIN(r) AS day_start_r,
         COALESCE(MAX(CASE WHEN fresh AND r <> day_start THEN r END), 0.0) AS last_saved_r
  FROM rain_state GROUP BY station_id, day
)
SELECT o.station_id, o.obs_id, o.r,
       s.day_start_r AS y_day_start_r,
       o.r - COALESCE(s.day_start_r, o.r) AS rain_since_yesterday_start
FROM rain_state o
LEFT JOIN state s ON o.station_id = s.station_id AND o.day = s.day + 1
"""

QUERIES = {
    "q_win_lag": (q_win_lag, ORACLE_WIN_LAG),
    "q_win_first_of_day": (q_win_first_of_day, ORACLE_WIN_FIRST_OF_DAY),
    "q_rain_daily_delta": (q_rain_daily_delta, ORACLE_RAIN_DAILY),
    "q_rain_rate": (q_rain_rate, ORACLE_RAIN_RATE),
    "q_sink_state_upsert": (q_sink_state_upsert, _STATE_TABLE_SQL),
    "q_src_state_table": (q_src_state_table, _STATE_TABLE_SQL),
    "q_join_state_lookup": (q_join_state_lookup, ORACLE_JOIN_STATE_LOOKUP),
}


# --- q_rollup_hypertable: multi-resolution time-bucket rollups ---------------
#
# One aggregate with three grouping sets. Each observation projects its
# 15-minute bucket b15 and truncates it to the hour and day; GROUPING
# SETS plans as one Expand (3 copies of each row, one per level)
# feeding one hash aggregate, so the substrate is derived once and no
# level reads another level's output. ``day`` is in every set: it is
# functionally determined by each bucket (UTC day boundaries are
# multiples of 15 minutes), so it never splits a group.
#
# 100 TB cost: every level is aggregated from the raw rows through the
# 3x Expand, but the partial aggregate runs before the single shuffle,
# so that shuffle carries at most one row per (station, day, bucket,
# level) per task — 96 + 24 + 1 rows per station-day per task, not the
# raw stream.


def q_rollup_hypertable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style rollup: per station, counts, windspeed sums
    (integer fixed point) and rain-counter min/max at 15-minute,
    hourly and daily resolution, tagged by ``level``."""
    b15 = F.window("ts", "15 minutes")["start"]
    obs = observations(spark, sf_dir).select(
        "station_id",
        "day",
        b15.alias("b15"),
        F.date_trunc("hour", b15).alias("b1h"),
        F.date_trunc("day", b15).alias("b1d"),
        F.floor(F.col("windspeed_ms") * F.lit(1000000.0) + F.lit(0.5))
        .cast("bigint")
        .alias("ws_fp"),
        "rain_counter_mm",
    )
    keys = ["station_id", "day"]
    return obs.groupingSets(
        [keys + ["b15"], keys + ["b1h"], keys + ["b1d"]], *keys, "b15", "b1h", "b1d"
    ).agg(
        F.when(F.grouping("b15") == 0, "15m")
        .when(F.grouping("b1h") == 0, "1h")
        .otherwise("1d")
        .alias("level"),
        F.coalesce("b15", "b1h", "b1d").alias("bucket"),
        F.count("*").alias("n_obs"),
        F.sum("ws_fp").alias("ws_sum_fp"),
        F.min("rain_counter_mm").alias("r_min"),
        F.max("rain_counter_mm").alias("r_max"),
    ).select("level", "station_id", "bucket", "n_obs", "ws_sum_fp", "r_min", "r_max")


ORACLE_ROLLUP_HYPERTABLE = f"""{_CTE},
b15 AS (
  SELECT station_id,
         time_bucket(INTERVAL '15 minutes', ts, TIMESTAMP '1970-01-01 00:00:00') AS bucket,
         count(*) AS n_obs,
         CAST(sum(CAST(floor(windspeed_ms * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS ws_sum_fp,
         min(rain_counter_mm) AS r_min,
         max(rain_counter_mm) AS r_max
  FROM observations GROUP BY 1, 2
),
b1h AS (
  SELECT station_id, date_trunc('hour', bucket) AS bucket,
         CAST(sum(n_obs) AS BIGINT) AS n_obs, CAST(sum(ws_sum_fp) AS BIGINT) AS ws_sum_fp,
         min(r_min) AS r_min, max(r_max) AS r_max
  FROM b15 GROUP BY 1, 2
),
b1d AS (
  SELECT station_id, date_trunc('day', bucket) AS bucket,
         CAST(sum(n_obs) AS BIGINT) AS n_obs, CAST(sum(ws_sum_fp) AS BIGINT) AS ws_sum_fp,
         min(r_min) AS r_min, max(r_max) AS r_max
  FROM b1h GROUP BY 1, 2
)
SELECT '15m' AS level, * FROM b15
UNION ALL
SELECT '1h' AS level, * FROM b1h
UNION ALL
SELECT '1d' AS level, * FROM b1d
"""

QUERIES["q_rollup_hypertable"] = (q_rollup_hypertable, ORACLE_ROLLUP_HYPERTABLE)


# --- q_ts_gapfill: 15-minute grid gap-filling + LOCF -------------------------
#
# The hypertable gap-fill / locf pair: materialize the complete
# 15-minute grid between each station's first and last bucket,
# left-join the observed bucket aggregates, and carry the last
# observed counter forward across gaps. The reference's spreadsheet
# implicitly assumes a complete 15-min cadence (MWC:34-39); this is
# the operator that makes that assumption explicit and repairable.


def q_ts_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-complete per-station 15-min series: is_gap flag, zero-fill
    for counts, last-observation-carried-forward for the rain counter.

    Scale: the grid is stations x slots (generated, never scanned —
    explode of one sequence per station); the join is keyed on
    (station, bucket) exactly like the rollup levels; the LOCF window
    sorts grid rows only (96/day/station). Nothing here scales with
    raw row count past the first bucket aggregate."""
    obs = observations(spark, sf_dir)
    b15 = (
        obs.groupBy(F.col("station_id"), F.window("ts", "15 minutes").alias("w"))
        .agg(F.count("*").alias("n_obs"), F.max("rain_counter_mm").alias("r_max"))
        .select("station_id", F.col("w.start").alias("bucket"), "n_obs", "r_max")
    )
    bounds = b15.groupBy("station_id").agg(
        F.min("bucket").alias("lo"), F.max("bucket").alias("hi")
    )
    grid = bounds.select(
        "station_id",
        F.explode(F.expr("sequence(lo, hi, interval 15 minutes)")).alias("bucket"),
    )
    w = (
        Window.partitionBy("station_id")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        grid.join(b15, ["station_id", "bucket"], "left")
        .select(
            "station_id",
            "bucket",
            F.col("n_obs").isNull().alias("is_gap"),
            F.coalesce("n_obs", F.lit(0)).cast("bigint").alias("n_obs"),
            F.last("r_max", ignorenulls=True).over(w).alias("r_locf"),
        )
    )


ORACLE_TS_GAPFILL = f"""{_CTE},
b15 AS (
  SELECT station_id,
         time_bucket(INTERVAL '15 minutes', ts, TIMESTAMP '1970-01-01 00:00:00') AS bucket,
         count(*) AS n_obs, max(rain_counter_mm) AS r_max
  FROM observations GROUP BY 1, 2
),
bounds AS (
  SELECT station_id, min(bucket) AS lo, max(bucket) AS hi FROM b15 GROUP BY 1
),
grid AS (
  SELECT station_id, unnest(generate_series(lo, hi, INTERVAL 15 MINUTE)) AS bucket
  FROM bounds
)
SELECT g.station_id, g.bucket,
       b.n_obs IS NULL AS is_gap,
       CAST(COALESCE(b.n_obs, 0) AS BIGINT) AS n_obs,
       last_value(b.r_max IGNORE NULLS) OVER (
         PARTITION BY g.station_id ORDER BY g.bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r_locf
FROM grid g LEFT JOIN b15 b
  ON g.station_id = b.station_id AND g.bucket = b.bucket
"""

QUERIES["q_ts_gapfill"] = (q_ts_gapfill, ORACLE_TS_GAPFILL)


# --- q_ts_interpolate: linear gap interpolation ------------------------------
#
# The hypertable `interpolate()` companion to q_ts_gapfill's locf():
# missing grid buckets get a LINEAR blend of the surrounding observed
# temperatures instead of a carried-forward constant. Fixed-point
# endpoints (BIGINT) + epoch-second distances (BIGINT) keep every
# input to the one IEEE blend exact, so the double result is bitwise
# identical across engines (repo discipline: IEEE math last, on exact
# integer inputs, same expression both sides).


def q_ts_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-complete per-station 15-min temperature series with
    linear interpolation across gaps: observed buckets keep their own
    value; gap buckets blend the previous/next observed endpoints by
    elapsed-time fraction.

    Scale: identical shape to q_ts_gapfill — grid generated, join
    keyed (station, bucket), and the endpoint carry is two O(n)
    window passes over grid rows: the backward carry on the ASC
    (station, bucket) sort and the FORWARD carry as last(ignorenulls)
    over the DESC sort of the same partitioning (one extra in-
    partition sort, zero extra exchanges). The naive spelling —
    first(ignorenulls) OVER (CURRENT ROW, UNBOUNDED FOLLOWING) — is
    the one Spark frame with NO running accumulator
    (UnboundedFollowingWindowFunctionFrame re-evaluates the aggregate
    from each row to the partition end): O(n^2) per partition, found
    by the r12 tshorizon probe when an in-horizon year-2000 edge
    stamp stretched the grid to ~3.5M slots/station and the single
    window task ran for an hour. The oracle keeps the standard
    first_value-over-following spelling — DuckDB computes it
    linearly. Nothing scales with raw row count past the bucket
    aggregate."""
    obs = observations(spark, sf_dir)
    b15 = (
        obs.groupBy(F.col("station_id"), F.window("ts", "15 minutes").alias("w"))
        .agg(
            F.max(F.floor(F.col("tempc") * 100 + F.lit(0.5)).cast("bigint")).alias(
                "t_fp"
            )
        )
        .select("station_id", F.col("w.start").alias("bucket"), "t_fp")
    )
    bounds = b15.groupBy("station_id").agg(
        F.min("bucket").alias("lo"), F.max("bucket").alias("hi")
    )
    grid = bounds.select(
        "station_id",
        F.explode(F.expr("sequence(lo, hi, interval 15 minutes)")).alias("bucket"),
    )
    joined = grid.join(b15, ["station_id", "bucket"], "left").withColumn(
        "t_sec", F.unix_timestamp("bucket")
    )
    back = (
        Window.partitionBy("station_id")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # forward carry via the DESC sort (see docstring): last(ignorenulls)
    # over an UNBOUNDED PRECEDING frame is the O(n) running-accumulator
    # frame; "first non-null at-or-after current in ASC order" ==
    # "last non-null at-or-before current in DESC order".
    fwd_rev = (
        Window.partitionBy("station_id")
        .orderBy(F.desc("bucket"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    obs_sec = F.when(F.col("t_fp").isNotNull(), F.col("t_sec"))
    filled = joined.select(
        "station_id",
        "bucket",
        "t_fp",
        "t_sec",
        F.last("t_fp", ignorenulls=True).over(back).alias("prev_fp"),
        F.last(obs_sec, ignorenulls=True).over(back).alias("prev_sec"),
        F.last("t_fp", ignorenulls=True).over(fwd_rev).alias("next_fp"),
        F.last(obs_sec, ignorenulls=True).over(fwd_rev).alias("next_sec"),
    )
    frac = (F.col("t_sec") - F.col("prev_sec")).cast("double") / (
        F.col("next_sec") - F.col("prev_sec")
    ).cast("double")
    blended = (
        F.col("prev_fp").cast("double")
        + (F.col("next_fp") - F.col("prev_fp")).cast("double") * frac
    ) / F.lit(100.0)
    return filled.select(
        "station_id",
        "bucket",
        F.col("t_fp").isNull().alias("is_gap"),
        F.when(F.col("t_fp").isNotNull(), F.col("t_fp") / F.lit(100.0))
        .otherwise(blended)
        .alias("temp_c"),
    )


ORACLE_TS_INTERPOLATE = f"""{_CTE},
b15 AS (
  SELECT station_id,
         time_bucket(INTERVAL '15 minutes', ts, TIMESTAMP '1970-01-01 00:00:00') AS bucket,
         max(CAST(floor(tempc * 100 + 0.5) AS BIGINT)) AS t_fp
  FROM observations GROUP BY 1, 2
),
bounds AS (
  SELECT station_id, min(bucket) AS lo, max(bucket) AS hi FROM b15 GROUP BY 1
),
grid AS (
  SELECT station_id, unnest(generate_series(lo, hi, INTERVAL 15 MINUTE)) AS bucket
  FROM bounds
),
joined AS (
  SELECT g.station_id, g.bucket, b.t_fp,
         CAST(epoch(g.bucket) AS BIGINT) AS t_sec
  FROM grid g LEFT JOIN b15 b
    ON g.station_id = b.station_id AND g.bucket = b.bucket
),
filled AS (
  SELECT station_id, bucket, t_fp, t_sec,
         last_value(t_fp IGNORE NULLS) OVER (
           PARTITION BY station_id ORDER BY bucket
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_fp,
         last_value(CASE WHEN t_fp IS NOT NULL THEN t_sec END IGNORE NULLS) OVER (
           PARTITION BY station_id ORDER BY bucket
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_sec,
         first_value(t_fp IGNORE NULLS) OVER (
           PARTITION BY station_id ORDER BY bucket
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_fp,
         first_value(CASE WHEN t_fp IS NOT NULL THEN t_sec END IGNORE NULLS) OVER (
           PARTITION BY station_id ORDER BY bucket
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_sec
  FROM joined
)
SELECT station_id, bucket,
       t_fp IS NULL AS is_gap,
       CASE WHEN t_fp IS NOT NULL THEN t_fp / 100.0
            ELSE (CAST(prev_fp AS DOUBLE)
                  + CAST(next_fp - prev_fp AS DOUBLE)
                    * (CAST(t_sec - prev_sec AS DOUBLE)
                       / CAST(next_sec - prev_sec AS DOUBLE))) / 100.0
       END AS temp_c
FROM filled
"""

QUERIES["q_ts_interpolate"] = (q_ts_interpolate, ORACLE_TS_INTERPOLATE)


# --- q_anomaly_zscore: per-station statistical outlier detection -------------
#
# The monitoring workload over the observation series: flag readings
# whose temperature deviates more than 3 sigma from the station mean.
# Moments accumulate as exact BIGINT sums (order-free, partial-agg
# safe); mean/variance/sqrt happen once, on those exact ints, with the
# identical expression on both engines — so the flagged set and the
# z-scores are bitwise reproducible.


def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observations with |z| > 3 against their station's temperature
    distribution: (station_id, obs_id, temp_c, z).

    Scale: one pass for per-station (n, sum, sumsq) — 3 BIGINTs per
    station however many rows — broadcast back onto the scan for a
    map-only flag; no window, no second shuffle."""
    obs = observations(spark, sf_dir)
    fp = F.floor(F.col("tempc") * 100 + F.lit(0.5)).cast("bigint")
    base = obs.select("station_id", "obs_id", fp.alias("t_fp"))
    stats = base.groupBy("station_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("t_fp").alias("s1"),
        F.sum(F.col("t_fp") * F.col("t_fp")).alias("s2"),
    )
    joined = base.join(F.broadcast(stats), "station_id")
    mean = F.col("s1").cast("double") / F.col("n").cast("double")
    var = F.col("s2").cast("double") / F.col("n").cast("double") - mean * mean
    # zero-variance guard (constant-temperature station): NULL on
    # both engines instead of Spark NaN vs DuckDB NULL drift; the
    # |z| > 3 filter then drops the station identically.
    z = F.when(var > F.lit(0.0), (F.col("t_fp").cast("double") - mean) / F.sqrt(var))
    return (
        joined.select(
            "station_id",
            "obs_id",
            (F.col("t_fp") / F.lit(100.0)).alias("temp_c"),
            z.alias("z"),
        )
        .filter(F.abs(F.col("z")) > 3.0)
    )


ORACLE_ANOMALY_ZSCORE = f"""{_CTE},
base AS (
  SELECT station_id, obs_id,
         CAST(floor(tempc * 100 + 0.5) AS BIGINT) AS t_fp
  FROM observations
),
stats AS (
  SELECT station_id, count(*) AS n,
         CAST(sum(t_fp) AS BIGINT) AS s1,
         CAST(sum(t_fp * t_fp) AS BIGINT) AS s2
  FROM base GROUP BY station_id
),
vstats AS (
  SELECT station_id, n, s1,
         CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
           - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
             * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) AS vr
  FROM stats
),
scored AS (
  -- zero-variance guard: NULL z (matches the Spark CASE), filtered out
  SELECT b.station_id, b.obs_id, b.t_fp / 100.0 AS temp_c,
         CASE WHEN s.vr > 0e0 THEN
           (CAST(b.t_fp AS DOUBLE) - CAST(s.s1 AS DOUBLE) / CAST(s.n AS DOUBLE))
             / sqrt(s.vr) END AS z
  FROM base b JOIN vstats s ON b.station_id = s.station_id
)
SELECT station_id, obs_id, temp_c, z FROM scored WHERE abs(z) > 3.0
"""

QUERIES["q_anomaly_zscore"] = (q_anomaly_zscore, ORACLE_ANOMALY_ZSCORE)
