"""Scripted-scenario tests for the rain state machine (MWC:196-280).

Replays FIXTURES.md §A4's golden scenarios through the batch rain SQL
(``_RAIN_BASE_SQL`` + ``_RAIN_METRICS_SELECT``) and checks
dailyrainmm/rainmm against values hand-traced through the reference's
branch logic.
"""

from __future__ import annotations

from datetime import datetime

import pytest

from metoffice_spark.operators.rain import _RAIN_BASE_SQL, _RAIN_METRICS_SELECT

FREQ = 4.0  # observ_exec_freq (MWC:34-39)


def _obs(spark, rows):
    """rows: (obs_id, ts, counter, sensor_ts) for one station; ``day``
    is the observation's UTC date, as the obs substrate gives it."""
    data = [
        (
            "st1",
            datetime.fromisoformat(ts),
            oid,
            float(r),
            datetime.fromisoformat(sts),
            datetime.fromisoformat(ts).date(),
        )
        for oid, ts, r, sts in rows
    ]
    return spark.createDataFrame(
        data,
        "station_id string, ts timestamp, obs_id long, rain_counter_mm double,"
        " rain_sensor_ts timestamp, day date",
    )


def _run(spark, rows):
    """The rain SQL the builders and the WOW payload run, over the rows."""
    _obs(spark, rows).createOrReplaceTempView("observations")
    df = spark.sql(f"WITH {_RAIN_BASE_SQL.strip()} {_RAIN_METRICS_SELECT}")
    return {r.obs_id: (r.dailyrainmm, r.rainmm) for r in df.collect()}


def test_dry_day(spark):
    rows = [
        (1, "2024-03-01T00:10:00", 100.0, "2024-03-01T00:10:00"),
        (2, "2024-03-01T00:25:00", 100.0, "2024-03-01T00:25:00"),
        (3, "2024-03-01T00:40:00", 100.0, "2024-03-01T00:40:00"),
    ]
    out = _run(spark, rows)
    assert out == {1: (0.0, 0.0), 2: (0.0, 0.0), 3: (0.0, 0.0)}


def test_first_rain_then_continuing_then_stop(spark):
    rows = [
        (1, "2024-03-01T00:10:00", 100.0, "2024-03-01T00:10:00"),  # day start
        (2, "2024-03-01T00:25:00", 102.0, "2024-03-01T00:25:00"),  # first rain
        (3, "2024-03-01T00:40:00", 103.0, "2024-03-01T00:40:00"),  # continuing
        (4, "2024-03-01T00:55:00", 103.0, "2024-03-01T00:55:00"),  # stopped
    ]
    out = _run(spark, rows)
    assert out[1] == (0.0, 0.0)
    # first rain of day: rate = freq * daily (MWC:257-263)
    assert out[2] == (2.0, FREQ * 2.0)
    # continuing: rate = freq * (r - prev_saved) (MWC:256)
    assert out[3] == (3.0, FREQ * 1.0)
    # counter flat: still raining per dailyrain, but rate uses delta=0?
    # Reference: branch requires r != day_start → daily=3.0; rate=freq*(103-103)=0
    assert out[4] == (3.0, 0.0)


def test_midnight_rollover_resets(spark):
    # rain across midnight is attributed to neither day (MWC:231-240)
    rows = [
        (1, "2024-03-01T23:40:00", 100.0, "2024-03-01T23:40:00"),
        (2, "2024-03-01T23:55:00", 105.0, "2024-03-01T23:55:00"),
        (3, "2024-03-02T00:10:00", 110.0, "2024-03-02T00:10:00"),  # new day → reset
        (4, "2024-03-02T00:25:00", 112.0, "2024-03-02T00:25:00"),
    ]
    out = _run(spark, rows)
    assert out[2] == (5.0, FREQ * 5.0)
    assert out[3] == (0.0, 0.0)          # reset row
    assert out[4] == (2.0, FREQ * 2.0)   # accumulates only from the reset base


def test_stale_sensor_guard(spark):
    # sensor timestamp from the previous day → both values 0 (MWC:244)
    rows = [
        (1, "2024-03-02T00:10:00", 100.0, "2024-03-02T00:10:00"),
        (2, "2024-03-02T00:25:00", 104.0, "2024-03-01T23:50:00"),  # stale
        (3, "2024-03-02T00:40:00", 104.0, "2024-03-02T00:40:00"),  # fresh again
    ]
    out = _run(spark, rows)
    assert out[2] == (0.0, 0.0)
    # fresh row then sees counter advanced since day start: first-rain branch
    assert out[3] == (4.0, FREQ * 4.0)


def test_daily_rain_nonnegative_and_monotone_consistency(spark):
    rows = [
        (i, f"2024-03-01T{h:02d}:{m:02d}:00", 100.0 + i // 3, f"2024-03-01T{h:02d}:{m:02d}:00")
        for i, (h, m) in enumerate((divmod(15 * i, 60) for i in range(24)), start=0)
    ]
    out = _run(spark, rows)
    assert all(d >= 0 and r >= 0 for d, r in out.values())
