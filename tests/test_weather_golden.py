"""Golden-value tests for the REF scalar formulas (SURVEY.md §5.2.2).

Each formula is the SQL text in ``functions.weather`` (and the
fixed-point text in ``parity``), evaluated over one-row inputs on both
engines: Spark SQL and DuckDB run the same text, as the builders and
their oracles do. Hand-computed expectations replicate the reference
AS WRITTEN, including the 17.7 dew-point constant (MWC:191) and the
calm-gust quirk (MWC:299-305).
"""

from __future__ import annotations

import math

import duckdb
import pytest

from metoffice_spark.functions import weather as W
from metoffice_spark.parity import fixed_str_sql

_SQL_TYPE = {float: "DOUBLE", int: "INT"}


def _select(exprs: dict, rows: tuple) -> str:
    """``SELECT expr AS name, ...`` over input rows given as
    ``{column: value}`` dicts (no rows: a FROM-less select)."""
    sel = ", ".join(f"{e} AS {k}" for k, e in exprs.items())
    if not rows:
        return f"SELECT {sel}"
    src = " UNION ALL ".join(
        "SELECT " + ", ".join(
            f"CAST({v!r} AS {_SQL_TYPE[type(v)]}) AS {c}" for c, v in r.items()
        )
        for r in rows
    )
    return f"SELECT {sel} FROM ({src}) t"


@pytest.fixture
def engines(spark):
    """``[(name, evaluate)]`` for Spark and DuckDB, where
    ``evaluate(exprs, *rows)`` returns one dict per input row. Each
    test loops over both, so its id stays one per formula."""
    con = duckdb.connect()

    def on_duckdb(exprs, *rows):
        cur = con.execute(_select(exprs, rows))
        names = [d[0] for d in cur.description]
        return [dict(zip(names, r)) for r in cur.fetchall()]

    def on_spark(exprs, *rows):
        return [r.asDict() for r in spark.sql(_select(exprs, rows)).collect()]

    return [("spark", on_spark), ("duckdb", on_duckdb)]


def test_dewpoint_as_written(engines):
    # t=20, h=65: g = (17.27*20)/(237.7+20) + ln(0.65); dewpt = 237.7*g/(17.7-g)
    g = (17.27 * 20) / (237.7 + 20) + math.log(0.65)
    expected = 237.7 * g / (17.7 - g)
    textbook = 237.7 * g / (17.27 - g)
    for engine, evaluate in engines:
        got = evaluate({"d": W.DEWPOINT_SQL}, {"tempc": 20.0, "hum": 65.0})[0]["d"]
        assert got == pytest.approx(expected, rel=1e-12), engine
        # the quirk constant 17.7 (not 17.27) must be preserved
        assert abs(got - textbook) > 1e-3, engine


def test_dewpoint_leq_temp_property(engines):
    rows = [{"tempc": i / 4.0 - 10.0, "hum": (i % 100) + 1.0} for i in range(200)]
    for engine, evaluate in engines:
        out = evaluate({"t": "tempc", "h": "hum", "d": W.DEWPOINT_SQL}, *rows)
        assert len(out) == 200, engine
        for r in out:
            if r["h"] <= 100.0:
                assert r["d"] <= r["t"] + 1e-9, (
                    f"{engine}: dewpoint {r['d']} > temp {r['t']} at h={r['h']}"
                )


def test_mast_correction_at_5m(engines):
    expected = 1.0 / (0.233 + 0.656 * math.log10(5.0 + 4.75))
    for engine, evaluate in engines:
        got = evaluate({"c": W.MAST_CORR_SQL})[0]["c"]
        assert got == pytest.approx(expected, rel=1e-12), engine


def test_gust_uncorrected_when_calm(engines):
    # MWC:299-305: gust is only corrected when *speed* != 0
    for engine, evaluate in engines:
        calm = evaluate(
            {"g": W.WG_CORR_SQL, "s": W.WS_CORR_SQL},
            {"windspeed_ms": 0.0, "windgust_ms": 7.0},
        )[0]
        windy = evaluate({"g": W.WG_CORR_SQL}, {"windspeed_ms": 3.0, "windgust_ms": 7.0})[0]
        assert calm["g"] == 7.0, engine
        assert windy["g"] == pytest.approx(7.0 / (0.233 + 0.656 * math.log10(9.75))), engine
        assert calm["s"] == 0.0, engine


def test_winddir_decode(engines):
    cases = [
        # (sector, speed, expected) — MWC:282-307
        (0, 5.0, "360"),
        (0, 0.0, "000"),
        (4, 3.0, "90"),
        (1, 3.0, "23"),   # 22.5 rounds half-up to 23
        (5, 0.0, "000"),  # calm wins regardless of sector
        (15, 2.0, "338"), # 337.5 → 338
    ]
    for engine, evaluate in engines:
        for sector, speed, expected in cases:
            got = evaluate(
                {"w": W.WINDDIR_SQL}, {"winddir_sector": sector, "windspeed_ms": speed}
            )[0]["w"]
            assert got == expected, (
                f"{engine}: sector={sector} speed={speed}: {got} != {expected}"
            )


def test_baro_tempcorr_band_edges(engines):
    # MWC:321-327: t<-7 → 0.5t+275; -7<=t<2 → 0.535t+275.6; t>=2 → 1.07t+274.5
    cases = {
        -7.001: 0.5 * -7.001 + 275.0,
        -7.0: 0.535 * -7.0 + 275.6,   # -7.0 falls in the middle band (>=)
        1.999: 0.535 * 1.999 + 275.6,
        2.0: 1.07 * 2.0 + 274.5,      # 2.0 falls in the upper band
    }
    for engine, evaluate in engines:
        for t, expected in cases.items():
            got = evaluate({"c": W.TEMPCORR_SQL}, {"tempc": t})[0]["c"]
            assert got == pytest.approx(expected, rel=1e-12), f"{engine}: t={t}"


def test_sea_level_pressure(engines):
    # the fragment bakes in the site constants: latitude 59°, altitude 45 m
    lat_corr = 0.034163 * (1 - 0.0026373 * math.cos(math.radians(2 * 59.0)))
    tempcorr = 1.07 * 10.0 + 274.5
    expected = 1000.0 * math.exp(45.0 * lat_corr / tempcorr)
    for engine, evaluate in engines:
        got = evaluate({"p": W.SLP_SQL}, {"pressure_site_hpa": 1000.0, "tempc": 10.0})[0]["p"]
        assert got == pytest.approx(expected, rel=1e-12), engine


def test_unit_conversions(engines):
    for engine, evaluate in engines:
        row = evaluate(
            {
                "f": W.c_to_f_sql("tempc"),
                "mph": W.ms_to_mph_sql("windspeed_ms"),
                "inch": W.mm_to_in_sql("rain_counter_mm"),
                "inhg": W.hpa_to_inhg_sql("pressure_site_hpa"),
            },
            {
                "tempc": 100.0,
                "windspeed_ms": 10.0,
                "rain_counter_mm": 25.4,
                "pressure_site_hpa": 1013.25,
            },
        )[0]
        assert row["f"] == 212.0, engine
        assert row["mph"] == pytest.approx(22.36936), engine
        assert row["inch"] == pytest.approx(1.0000005), engine
        assert row["inhg"] == pytest.approx(29.92125534, rel=1e-8), engine


def test_fixed_str_parity_forms(engines):
    cases = {"a": (3.14159, 2), "b": (-2.5, 0), "c": (0.0005, 3), "d": (99.995, 2), "e": (-0.04, 1)}
    for engine, evaluate in engines:
        row = {
            k: evaluate({"s": fixed_str_sql("tempc", d)}, {"tempc": x})[0]["s"]
            for k, (x, d) in cases.items()
        }
        assert row["a"] == "3.14", engine
        assert row["b"] == "-3", engine  # half-up on abs, sign reapplied
        assert row["c"] == "0.001", engine
        assert row["d"] == "100.00", engine
        # sign is dropped when the rounded magnitude is zero (documented
        # deviation from JS toFixed's "-0.0"; both engines share it)
        assert row["e"] == "0.0", engine
