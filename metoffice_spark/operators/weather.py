"""Weather-domain queries: the reference's REF surface re-expressed.

Every builder takes ``(spark, sf_dir)`` and returns a DataFrame over
the deterministic observations view (``metoffice_spark.obs``), and
each has a DuckDB oracle SQL string. The formula builders (dew point,
wind, sea-level pressure, units, fixed-point strings) run their oracle
text itself through ``spark.sql``; the formulas come from
``functions.weather`` and the half-up rounding from ``parity``, so the
oracle check's value-hash comparison passes bit-for-bit.

Reference citations are ``MWC:N``, line N of the reference script.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from metoffice_spark.functions.weather import (
    DEWPOINT_SQL,
    SLP_SQL,
    TEMPCORR_SQL,
    WG_CORR_SQL,
    WINDDIR_SQL,
    WS_CORR_SQL,
    c_to_f_sql,
    hpa_to_inhg_sql,
    mm_to_in_sql,
    ms_to_mph_sql,
)
from metoffice_spark.io import sql_frame
from metoffice_spark.obs import observations, oracle_cte
from metoffice_spark.parity import fixed_str_sql, rhu_sql

_CTE = oracle_cte()


def q_fn_dewpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Magnus dew point with the reference's as-written denominator
    constant (MWC:189-191)."""
    return sql_frame(spark, sf_dir, ("events",), ORACLE_DEWPOINT)


ORACLE_DEWPOINT = f"""{_CTE}
SELECT obs_id, station_id, tempc, hum,
       {rhu_sql(DEWPOINT_SQL, 4)} AS dewpoint_c
FROM observations
"""


def q_fn_winddir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wind-direction decode: '000' calm / '360' north / sector degrees
    (MWC:282-307)."""
    return sql_frame(spark, sf_dir, ("events",), ORACLE_WINDDIR)


ORACLE_WINDDIR = f"""{_CTE}
SELECT obs_id, winddir_sector, windspeed_ms,
       {WINDDIR_SQL} AS winddir
FROM observations
"""


def q_fn_mast_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WMO mast-height wind correction; gust only corrected when speed!=0
    (quirk, MWC:292-306)."""
    return sql_frame(spark, sf_dir, ("events",), ORACLE_MAST_CORR)


ORACLE_MAST_CORR = f"""{_CTE}
SELECT obs_id, windspeed_ms, windgust_ms,
       {rhu_sql(WS_CORR_SQL, 4)} AS windspeed_corr_ms,
       {rhu_sql(WG_CORR_SQL, 4)} AS windgust_corr_ms
FROM observations
"""


def q_fn_baro_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SMHI sea-level pressure reduction (MWC:309-331)."""
    return sql_frame(spark, sf_dir, ("events",), ORACLE_BARO_REDUCE)


ORACLE_BARO_REDUCE = f"""{_CTE}
SELECT obs_id, pressure_site_hpa, tempc,
       {rhu_sql(SLP_SQL, 4)} AS pressure_slp_hpa
FROM observations
"""


def q_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way piecewise temperature correction bands (MWC:320-327)."""
    return sql_frame(spark, sf_dir, ("events",), ORACLE_CASE_WHEN)


ORACLE_CASE_WHEN = f"""{_CTE}
SELECT obs_id, tempc,
       CASE WHEN tempc < -7.0 THEN 'cold'
            WHEN tempc >= -7.0 AND tempc < 2.0 THEN 'mid'
            ELSE 'warm' END AS band,
       {rhu_sql(TEMPCORR_SQL, 6)} AS tempcorr
FROM observations
"""


def q_fn_units(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Imperial unit conversions (MWC:338-365). Linear IEEE ops — exact,
    no rounding needed for parity."""
    return sql_frame(spark, sf_dir, ("events",), ORACLE_UNITS)


ORACLE_UNITS = f"""{_CTE}
SELECT obs_id,
       {c_to_f_sql("tempc")} AS tempf,
       {ms_to_mph_sql("windspeed_ms")} AS windspeedmph,
       {mm_to_in_sql("rain_counter_mm")} AS rain_in,
       {hpa_to_inhg_sql("pressure_site_hpa")} AS baro_inhg
FROM observations
"""


def q_fn_round_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JS toFixed analog: fixed-precision decimal strings (MWC:290, 349-365)."""
    return sql_frame(spark, sf_dir, ("events",), ORACLE_ROUND_FIXED)


ORACLE_ROUND_FIXED = f"""{_CTE}
SELECT obs_id,
       {fixed_str_sql(c_to_f_sql("tempc"), 1)} AS tempf_s,
       {fixed_str_sql(ms_to_mph_sql("windspeed_ms"), 2)} AS windmph_s,
       {fixed_str_sql(mm_to_in_sql("rain_counter_mm"), 3)} AS rain_in_s,
       {fixed_str_sql("hum", 0)} AS hum_s
FROM observations
"""


def q_fn_date_fmt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp formatting: UTC 'yyyy-MM-dd HH:mm:ss' (MWC:194) and
    ISO-'T' form (MWC:219-222)."""
    df = observations(spark, sf_dir)
    return df.select(
        "obs_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("dateutc"),
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss").alias("date_iso"),
    )


ORACLE_DATE_FMT = f"""{_CTE}
SELECT obs_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS dateutc,
       strftime(ts, '%Y-%m-%dT%H:%M:%S') AS date_iso
FROM observations
"""


def q_fn_epoch2ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch seconds ↔ timestamp + day-of-month (MWC:206-208)."""
    df = observations(spark, sf_dir)
    epoch = F.unix_timestamp("ts")
    return df.select(
        "obs_id",
        epoch.alias("epoch_s"),
        F.timestamp_seconds(epoch).alias("ts_roundtrip"),
        F.dayofmonth("ts").alias("day_of_month"),
    )


ORACLE_EPOCH2TS = f"""{_CTE}
SELECT obs_id,
       CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
       make_timestamp(CAST(floor(epoch(ts)) AS BIGINT) * 1000000) AS ts_roundtrip,
       CAST(day(ts) AS INT) AS day_of_month
FROM observations
"""


def q_fn_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String building à la 'deviceids=a,b,c' (MWC:115, 129)."""
    df = observations(spark, sf_dir)
    return df.select(
        "obs_id",
        F.concat(
            F.lit("deviceids="),
            F.col("station_id"),
            F.lit(","),
            F.col("station_id"),
            F.lit("-wind,"),
            F.col("station_id"),
            F.lit("-rain"),
        ).alias("deviceids"),
        F.concat_ws("|", "station_id", F.date_format("ts", "yyyy-MM-dd")).alias("log_key"),
    )


ORACLE_CONCAT = f"""{_CTE}
SELECT obs_id,
       'deviceids=' || station_id || ',' || station_id || '-wind,' || station_id || '-rain' AS deviceids,
       station_id || '|' || strftime(ts, '%Y-%m-%d') AS log_key
FROM observations
"""


def q_fn_num_coerce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parseFloat / isNaN-guard analog: try_cast with fallback (MWC:181-183, 296-297)."""
    return sql_frame(spark, sf_dir, ("events",), ORACLE_NUM_COERCE)


ORACLE_NUM_COERCE = f"""{_CTE}
SELECT obs_id,
       TRY_CAST(CASE WHEN obs_id % 7 = 0 THEN 'N/A' ELSE CAST(tempc AS STRING) END AS DOUBLE) AS parsed,
       COALESCE(TRY_CAST(CASE WHEN obs_id % 7 = 0 THEN 'N/A' ELSE CAST(tempc AS STRING) END AS DOUBLE), -999.0) AS parsed_or_default,
       TRY_CAST(CASE WHEN obs_id % 7 = 0 THEN 'N/A' ELSE CAST(tempc AS STRING) END AS DOUBLE) IS NULL AS is_nan
FROM observations
"""

QUERIES = {
    "q_fn_dewpoint": (q_fn_dewpoint, ORACLE_DEWPOINT),
    "q_fn_winddir": (q_fn_winddir, ORACLE_WINDDIR),
    "q_fn_mast_corr": (q_fn_mast_corr, ORACLE_MAST_CORR),
    "q_fn_baro_reduce": (q_fn_baro_reduce, ORACLE_BARO_REDUCE),
    "q_case_when": (q_case_when, ORACLE_CASE_WHEN),
    "q_fn_units": (q_fn_units, ORACLE_UNITS),
    "q_fn_round_fixed": (q_fn_round_fixed, ORACLE_ROUND_FIXED),
    "q_fn_date_fmt": (q_fn_date_fmt, ORACLE_DATE_FMT),
    "q_fn_epoch2ts": (q_fn_epoch2ts, ORACLE_EPOCH2TS),
    "q_fn_concat": (q_fn_concat, ORACLE_CONCAT),
    "q_fn_num_coerce": (q_fn_num_coerce, ORACLE_NUM_COERCE),
}
