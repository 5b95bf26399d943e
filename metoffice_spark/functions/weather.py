"""Meteorological and unit-conversion formulas as dialect-common SQL text.

Each formula is written once, here, as SQL that Spark SQL and DuckDB
both parse. The Spark builders run it through ``spark.sql`` or
``F.expr`` and the DuckDB oracles embed it verbatim, so the two
engines evaluate the same text (Catalyst compiles SQL text and
DataFrame calls to the same plan). Fragments read the observation
columns by name (``tempc``, ``hum``, ``windspeed_ms``,
``windgust_ms``, ``winddir_sector``, ``pressure_site_hpa``) and bake
in the site constants from ``obs``. Formulas replicate the reference
script **as written**, including its quirks; each cites its line as
``MWC:N``.

Quirks preserved on purpose (SURVEY.md §7):
- dew point denominator constant is ``17.7`` (not the textbook
  17.27) — MWC:191;
- wind gust is only mast-corrected when *speed* != 0 — MWC:299-305;
- calm (speed==0) forces wind direction '000' regardless of sector;
  sector 0 with wind reads '360' — MWC:288-307.
"""

from __future__ import annotations

from metoffice_spark.obs import MAST_HEIGHT_M, SITE_ALTITUDE_M, SITE_LATITUDE_DEG

# --- dew point (MWC:189-191) ----------------------------------------------
# Magnus form: g = (17.27*t)/(237.7+t) + ln(h/100); dewpt = 237.7*g/(17.7-g).
# The reference inlines g twice; Catalyst's CSE evaluates it once.
G_SQL = "((17.27 * tempc) / (237.7 + tempc) + ln(hum / 100.0))"
DEWPOINT_SQL = f"(237.7 * {G_SQL} / (17.7 - {G_SQL}))"

# --- wind (MWC:282-307) ---------------------------------------------------
# WMO 10 m exposure correction for a mast under 10 m. The reference
# computes Math.LOG10E * Math.log(x), which is exactly log10(x).
MAST_CORR_SQL = f"(1.0 / (0.233 + 0.656 * log10({MAST_HEIGHT_M} + 4.75)))"
WS_CORR_SQL = f"(CASE WHEN windspeed_ms <> 0 THEN windspeed_ms * {MAST_CORR_SQL} ELSE windspeed_ms END)"
# Gated on *speed*, not gust: a gust with calm mean wind stays uncorrected.
WG_CORR_SQL = f"(CASE WHEN windspeed_ms <> 0 THEN windgust_ms * {MAST_CORR_SQL} ELSE windgust_ms END)"
# Sector 0-15 → degrees string: calm '000', round(sector*22.5) half-up,
# sector 0 with wind '360'. The line breaks keep the oracle texts that
# embed it unchanged.
WINDDIR_SQL = (
    "CASE WHEN windspeed_ms = 0 THEN '000'\n"
    "            WHEN winddir_sector <> 0 THEN\n"
    "              CAST(CAST(floor(CAST(winddir_sector AS DOUBLE) * 22.5 + 0.5) AS INT) AS STRING)\n"
    "            ELSE '360' END"
)

# --- barometric reduction (SMHI method, MWC:309-331) ----------------------
# Piecewise temperature term (MWC:320-327): band edges -7 and 2, with
# the reference's >= / < closure.
TEMPCORR_SQL = (
    "(CASE WHEN tempc < -7.0 THEN 0.5 * tempc + 275.0 "
    "WHEN tempc >= -7.0 AND tempc < 2.0 THEN 0.535 * tempc + 275.6 "
    "ELSE 1.07 * tempc + 274.5 END)"
)
LAT_CORR_SQL = (
    f"(0.034163 * (1.0 - 0.0026373 * cos(radians(2.0 * {SITE_LATITUDE_DEG}))))"
)
# slp = p_site * exp(altitude * lat_corr / tempcorr)
SLP_SQL = (
    f"(pressure_site_hpa * exp({SITE_ALTITUDE_M} * {LAT_CORR_SQL} / {TEMPCORR_SQL}))"
)


# --- unit conversions (MWC:338-365) ---------------------------------------

def c_to_f_sql(c: str) -> str:
    """°C → °F, MWC:349-350."""
    return f"{c} * 1.8 + 32.0"


def ms_to_mph_sql(ms: str) -> str:
    """m/s → mph, MWC:352-356."""
    return f"{ms} * 2.236936"


def mm_to_in_sql(mm: str) -> str:
    """mm → inches, MWC:357-361."""
    return f"{mm} * 0.0393701"


def hpa_to_inhg_sql(hpa: str) -> str:
    """hPa → inHg, MWC:362-365."""
    return f"{hpa} * 0.029529983071445"
