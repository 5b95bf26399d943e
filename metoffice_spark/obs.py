"""Deterministic synthetic observation stream derived from ``events``.

The reference's data model is a weather-observation time series
(FIXTURES.md §A2; reference MWC:34-39 one observation / 15 min), but
the driver testdata has no such table. This module derives one —
deterministically — from the ``events`` table with a single SQL text
(``OBS_SQL``) that is valid in BOTH Spark SQL and DuckDB, so every
weather query built on it can be oracle-checked value-for-value.

Column semantics mirror FIXTURES.md §A2:
- ``station_id``        partition key for state (4 stations)
- ``tempc``             spans the SMHI temp-correction bands
                        (<-7 / [-7,2) / >=2, MWC:321-327)
- ``windspeed_ms``      0 for 'error' events → exercises the calm
                        branch (MWC:299-307)
- ``winddir_sector``    0-15 (MWC:282-285)
- ``rain_counter_mm``   monotone per-station accumulator (MWC:153-157)
- ``rain_sensor_ts``    stale (previous-day) for 'signup' events →
                        exercises the staleness guard (MWC:244)
- ``pressure_site_hpa`` spans 3-digit and 4-digit values — the two
                        slice widths of the scrape fallback
                        (MWC:179-183)

Scale design of the rain counter (the round-1 scale-killer, fixed):
a naive running SUM over the whole history partitions by station only
(4 keys) — at 100 TB that serializes the entire surface into 4 tasks
each sorting 1/4 of all rows. Instead the counter is composed from

  1. integer per-event increments (``CAST(floor(value) AS BIGINT)``) —
     BIGINT sums are exact and order-free, so partial aggregation
     cannot desync the two engines;
  2. a per-(station, day) aggregate of day totals (map-side combine,
     one tiny shuffle: stations x days rows);
  3. a running sum of prior-day totals over that tiny table (window
     over ~stations x days rows — negligible);
  4. a within-day running sum windowed by (station_id, day) — the sort
     is local to one day of one station, the natural date-partitioned
     parquet layout at 100 TB. It is computed over ``ev`` before the
     join (``ev_run``), so its (station_id, day) shuffle reads the scan
     directly and runs beside the day-total chain instead of waiting
     for the broadcast of its result.

The day-offset join broadcasts (day_off is tiny) and is 1:1 on
(station, day), so it keeps the rows and the (station_id, day)
partitioning of ``ev_run``: downstream (station, day) windows add no
exchange. The final value
``(prior_days + within_day) / 100.0`` is bit-identical to the old
whole-history form because the integer totals are < 2^53.

Only dialect-common constructs are used: CAST, CASE WHEN, floor,
window SUM with ROWS frame, JOIN ON, INTERVAL 1 DAY, nested CTEs.

Reading-validity boundary: a NULL ``value`` is a FAILED sensor
reading, a NULL ``ts`` is an UNPLACEABLE one, a NaN/±Inf OR
huge-finite ``value`` (one that fails ``parity.fits_sql``, a
magnitude no physical sensor word reaches, at which Spark's
floor->LONG saturates SILENTLY where DuckDB's cast raises) is a
CORRUPT one, and a ``ts`` outside OBS_TIME_MIN/MAX (below) is a
POISONED one — none produces an observation (the WHERE of the ev
CTE; the ``fits_sql`` abs-compare doubles as the dialect-common
isfinite — both engines order NaN above +Inf above every finite, so
one predicate excludes NaN, ±Inf, and huge-finite words alike),
mirroring the reference's own non-numeric-reading guard
(MWC:181-183) and its dated-row cadence assumption (MWC:34-39: every
observation IS a 15-minute slot; a row that cannot be placed on the
time axis has no slot). Without the finite bound, the integer-cents
discipline (``CAST(floor(value) AS BIGINT)``) CRASHES both ANSI
engines on NaN — a single corrupt sensor word killing a 100 TB job
instead of being quarantined at the substrate. Without the
boundary, every downstream weather derivation (the WOW payload chain,
the stream machines, the wind histogram) must agree with its oracle
on three-valued logic through ~15 paired CASE expressions, where
mirrored spellings (`x <> 0 THEN a ELSE calm` vs `x = 0 THEN calm
ELSE a`) land NULL on OPPOSITE branches — and every ts-ordered window
must agree on NULL placement, where Spark sorts NULLS FIRST and
DuckDB NULLS LAST. Filtering at the shared single-text substrate
makes every obs consumer NULL-symmetric by construction; the driver
testdata is NULL-free, so stock results are unchanged.

Signed-zero canonicalization (r13 negzero probe): a ``-0.0`` reading
is the SAME physical measurement as ``0.0`` — the sign bit is an
encoding accident of the upstream serializer — but it is the one
in-band double the engines' scalar pipelines disagree on: Spark's
``floor(double)`` returns BIGINT (the -0 sign is lost and the
subsequent IEEE ``-0.0 - 0`` yields ``-0.0``) while DuckDB's floor
returns DOUBLE (``-0.0 - (-0.0)`` yields ``+0.0``), so the
``x - floor(x/k)*k`` bucketing family forks on the sign bit and the
divergence SURVIVES to emitted raw doubles (seven weather/stream
consumers in the finding run); DuckDB's DOUBLE min/max over mixed
signed zeros is additionally first-seen — order-dependent, i.e.
nondeterministic at scale. Unlike the corrupt classes above this is
VALID data, so it is CANONICALIZED on ingest rather than
quarantined: ``CASE WHEN value = 0.0 THEN 0.0 ELSE value END``
(IEEE equality is sign-blind on both engines, so exactly the two
signed zeros take the THEN branch; the explicit CASE — not
``value + 0.0`` — is immune to an optimizer folding the identity
away).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from metoffice_spark.io import load
from metoffice_spark.parity import fits_sql

# TIME-BOUNDS validity horizon (r11, the watermark-poisoning fix):
# an observation stamped outside [TIME_MIN, TIME_MAX) is a corrupt
# word — a 1970 epoch-zero sentinel or a far-future (e.g. 2199/9999)
# sentinel — and is quarantined exactly like a NULL ts. Without this,
# ONE far-future event advances every streaming watermark past the
# entire stream and silently evicts/drops every subsequent row (the
# real 100 TB ingest poisoning mode: watermark = max(event time) -
# delay is not robust to a single corrupt timestamp), and an epoch-0
# event re-bases every elapsed-time derivation. The horizon is a
# CONFIGURED plausibility contract (the site-config discipline of the
# reference's config block, MWC:29-104: a station has a commissioning
# era; production ingest validators bound allowed event-time skew the
# same way) — one century wide, so no in-contract datum is near it.
OBS_TIME_MIN = "2000-01-01 00:00:00"
OBS_TIME_MAX = "2100-01-01 00:00:00"

OBS_SQL = f"""
WITH ev AS (
  SELECT ts, event_id AS obs_id, event_type,
         CASE WHEN value = 0.0 THEN 0.0
              ELSE value END                         AS value,
         CAST(user_id % 4 AS STRING)                 AS station_id,
         CAST(ts AS DATE)                            AS day,
         CASE WHEN event_type = 'click'
              THEN CAST(floor(value) AS BIGINT)
              ELSE CAST(0 AS BIGINT) END             AS rain_incr
  FROM events
  WHERE value IS NOT NULL AND ts IS NOT NULL
    AND {fits_sql("value")}
    AND ts >= TIMESTAMP '{OBS_TIME_MIN}'
    AND ts < TIMESTAMP '{OBS_TIME_MAX}'
),
day_tot AS (
  SELECT station_id, day, SUM(rain_incr) AS day_sum
  FROM ev
  GROUP BY station_id, day
),
day_off AS (
  SELECT station_id, day,
         SUM(day_sum) OVER (PARTITION BY station_id ORDER BY day
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - day_sum                                 AS prior_days_sum
  FROM day_tot
),
ev_run AS (
  SELECT *,
         SUM(rain_incr) OVER (PARTITION BY station_id, day
                              ORDER BY ts, obs_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                                                     AS day_run
  FROM ev
)
SELECT
  e.station_id                                       AS station_id,
  e.ts                                               AS ts,
  e.obs_id                                           AS obs_id,
  e.value / CAST(10 AS DOUBLE) - 15.0                AS tempc,
  20.0 + (e.value - floor(e.value / 5) * 5) * 16.0   AS hum,
  CASE WHEN e.event_type = 'error' THEN CAST(0 AS DOUBLE)
       ELSE e.value - floor(e.value / 20) * 20 END   AS windspeed_ms,
  (CASE WHEN e.event_type = 'error' THEN CAST(0 AS DOUBLE)
        ELSE e.value - floor(e.value / 20) * 20 END)
      * 1.3 + 1.0                                    AS windgust_ms,
  CAST(e.obs_id % 16 AS INT)                         AS winddir_sector,
  CAST(d.prior_days_sum + e.day_run AS DOUBLE) / 100.0 AS rain_counter_mm,
  CASE WHEN e.event_type = 'signup' THEN e.ts - INTERVAL 1 DAY
       ELSE e.ts END                                 AS rain_sensor_ts,
  975.0 + (e.value - floor(e.value / 50) * 50)       AS pressure_site_hpa,
  e.day                                              AS day
FROM ev_run e
JOIN day_off d ON e.station_id = d.station_id AND e.day = d.day
"""

# Site constants, mirroring the reference's config block (MWC:29-104).
SITE_LATITUDE_DEG = 59.0   # φ for the SMHI latitude correction (MWC:319)
SITE_ALTITUDE_M = 45.0     # barometer altitude (MWC:328)
MAST_HEIGHT_M = 5.0        # wind mast height < 10 m → correction (MWC:292-306)
OBS_PER_HOUR = 4           # observ_exec_freq (MWC:34-39)


def observations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events parquet → deterministic observations DataFrame."""
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(OBS_SQL)


def oracle_cte() -> str:
    """``WITH observations AS (...)`` prefix for DuckDB oracle SQL."""
    return f"WITH observations AS ({OBS_SQL})"
