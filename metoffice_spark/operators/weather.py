"""Weather-domain queries: the reference's REF surface re-expressed.

Every builder takes ``(spark, sf_dir)`` and returns a DataFrame over
the deterministic observations view (``metoffice_spark.obs``); each
has a DuckDB oracle SQL string sharing the same arithmetic so the
driver's value-hash comparison passes bit-for-bit (transcendental
outputs are rounded via the shared half-up helpers in ``parity``).

Reference citations are ``MWC:N`` = /root/reference/MetOffice_WOW_Connect.txt:N.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from metoffice_spark import obs as obsmod
from metoffice_spark.functions import weather as W
from metoffice_spark.obs import (
    MAST_HEIGHT_M,
    OBS_PER_HOUR,
    SITE_ALTITUDE_M,
    SITE_LATITUDE_DEG,
    observations,
    oracle_cte,
)
from metoffice_spark.parity import fixed_str, fixed_str_sql, rhu, rhu_sql

_CTE = oracle_cte()

# SQL fragments mirroring functions/weather.py (for oracle parity).
_G_SQL = "((17.27 * tempc) / (237.7 + tempc) + ln(hum / 100.0))"
_DEWPOINT_SQL = f"(237.7 * {_G_SQL} / (17.7 - {_G_SQL}))"
_MAST_CORR_SQL = f"(1.0 / (0.233 + 0.656 * log10({MAST_HEIGHT_M} + 4.75)))"
_TEMPCORR_SQL = (
    "(CASE WHEN tempc < -7.0 THEN 0.5 * tempc + 275.0 "
    "WHEN tempc >= -7.0 AND tempc < 2.0 THEN 0.535 * tempc + 275.6 "
    "ELSE 1.07 * tempc + 274.5 END)"
)
_LAT_CORR_SQL = (
    f"(0.034163 * (1.0 - 0.0026373 * cos(radians(2.0 * {SITE_LATITUDE_DEG}))))"
)
_SLP_SQL = (
    f"(pressure_site_hpa * exp({SITE_ALTITUDE_M} * {_LAT_CORR_SQL} / {_TEMPCORR_SQL}))"
)


def q_fn_dewpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Magnus dew point with the as-written 17.7 constant (MWC:189-191)."""
    df = observations(spark, sf_dir)
    return df.select(
        "obs_id",
        "station_id",
        "tempc",
        "hum",
        rhu(W.dewpoint_c(F.col("tempc"), F.col("hum")), 4).alias("dewpoint_c"),
    )


ORACLE_DEWPOINT = f"""{_CTE}
SELECT obs_id, station_id, tempc, hum,
       {rhu_sql(_DEWPOINT_SQL, 4)} AS dewpoint_c
FROM observations
"""


def q_fn_winddir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wind-direction decode: '000' calm / '360' north / sector*22.5 (MWC:282-307)."""
    df = observations(spark, sf_dir)
    return df.select(
        "obs_id",
        "winddir_sector",
        "windspeed_ms",
        W.wind_dir_str(F.col("winddir_sector"), F.col("windspeed_ms")).alias("winddir"),
    )


ORACLE_WINDDIR = f"""{_CTE}
SELECT obs_id, winddir_sector, windspeed_ms,
       CASE WHEN windspeed_ms = 0 THEN '000'
            WHEN winddir_sector <> 0 THEN
              CAST(CAST(floor(CAST(winddir_sector AS DOUBLE) * 22.5 + 0.5) AS INT) AS STRING)
            ELSE '360' END AS winddir
FROM observations
"""


def q_fn_mast_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WMO mast-height wind correction; gust only corrected when speed!=0
    (quirk, MWC:292-306)."""
    df = observations(spark, sf_dir)
    return df.select(
        "obs_id",
        "windspeed_ms",
        "windgust_ms",
        rhu(W.corrected_windspeed(F.col("windspeed_ms"), MAST_HEIGHT_M), 4).alias(
            "windspeed_corr_ms"
        ),
        rhu(W.corrected_windgust(F.col("windgust_ms"), F.col("windspeed_ms"), MAST_HEIGHT_M), 4).alias(
            "windgust_corr_ms"
        ),
    )


ORACLE_MAST_CORR = f"""{_CTE}
SELECT obs_id, windspeed_ms, windgust_ms,
       {rhu_sql(f"CASE WHEN windspeed_ms <> 0 THEN windspeed_ms * {_MAST_CORR_SQL} ELSE windspeed_ms END", 4)} AS windspeed_corr_ms,
       {rhu_sql(f"CASE WHEN windspeed_ms <> 0 THEN windgust_ms * {_MAST_CORR_SQL} ELSE windgust_ms END", 4)} AS windgust_corr_ms
FROM observations
"""


def q_fn_baro_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SMHI sea-level pressure reduction (MWC:309-331)."""
    df = observations(spark, sf_dir)
    return df.select(
        "obs_id",
        "pressure_site_hpa",
        "tempc",
        rhu(
            W.sea_level_pressure_hpa(
                F.col("pressure_site_hpa"), F.col("tempc"), SITE_LATITUDE_DEG, SITE_ALTITUDE_M
            ),
            4,
        ).alias("pressure_slp_hpa"),
    )


ORACLE_BARO_REDUCE = f"""{_CTE}
SELECT obs_id, pressure_site_hpa, tempc,
       {rhu_sql(_SLP_SQL, 4)} AS pressure_slp_hpa
FROM observations
"""


def q_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way piecewise temperature correction bands (MWC:320-327)."""
    df = observations(spark, sf_dir)
    band = (
        F.when(F.col("tempc") < -7.0, F.lit("cold"))
        .when((F.col("tempc") >= -7.0) & (F.col("tempc") < 2.0), F.lit("mid"))
        .otherwise(F.lit("warm"))
    )
    return df.select(
        "obs_id",
        "tempc",
        band.alias("band"),
        rhu(W.baro_temp_correction(F.col("tempc")), 6).alias("tempcorr"),
    )


ORACLE_CASE_WHEN = f"""{_CTE}
SELECT obs_id, tempc,
       CASE WHEN tempc < -7.0 THEN 'cold'
            WHEN tempc >= -7.0 AND tempc < 2.0 THEN 'mid'
            ELSE 'warm' END AS band,
       {rhu_sql(_TEMPCORR_SQL, 6)} AS tempcorr
FROM observations
"""


def q_fn_units(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Imperial unit conversions (MWC:338-365). Linear IEEE ops — exact,
    no rounding needed for parity."""
    df = observations(spark, sf_dir)
    return df.select(
        "obs_id",
        W.c_to_f(F.col("tempc")).alias("tempf"),
        W.ms_to_mph(F.col("windspeed_ms")).alias("windspeedmph"),
        W.mm_to_in(F.col("rain_counter_mm")).alias("rain_in"),
        W.hpa_to_inhg(F.col("pressure_site_hpa")).alias("baro_inhg"),
    )


ORACLE_UNITS = f"""{_CTE}
SELECT obs_id,
       tempc * 1.8 + 32.0 AS tempf,
       windspeed_ms * 2.236936 AS windspeedmph,
       rain_counter_mm * 0.0393701 AS rain_in,
       pressure_site_hpa * 0.029529983071445 AS baro_inhg
FROM observations
"""


def q_fn_round_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JS toFixed analog: fixed-precision decimal strings (MWC:290, 349-365)."""
    df = observations(spark, sf_dir)
    return df.select(
        "obs_id",
        fixed_str(W.c_to_f(F.col("tempc")), 1).alias("tempf_s"),
        fixed_str(W.ms_to_mph(F.col("windspeed_ms")), 2).alias("windmph_s"),
        fixed_str(W.mm_to_in(F.col("rain_counter_mm")), 3).alias("rain_in_s"),
        fixed_str(F.col("hum"), 0).alias("hum_s"),
    )


ORACLE_ROUND_FIXED = f"""{_CTE}
SELECT obs_id,
       {fixed_str_sql("tempc * 1.8 + 32.0", 1)} AS tempf_s,
       {fixed_str_sql("windspeed_ms * 2.236936", 2)} AS windmph_s,
       {fixed_str_sql("rain_counter_mm * 0.0393701", 3)} AS rain_in_s,
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
    df = observations(spark, sf_dir)
    dirty = F.when(F.col("obs_id") % 7 == 0, F.lit("N/A")).otherwise(
        F.col("tempc").cast("string")
    )
    parsed = F.expr("try_cast(dirty AS DOUBLE)")
    return (
        df.withColumn("dirty", dirty)
        .select(
            "obs_id",
            parsed.alias("parsed"),
            F.coalesce(parsed, F.lit(-999.0)).alias("parsed_or_default"),
            parsed.isNull().alias("is_nan"),
        )
    )


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
