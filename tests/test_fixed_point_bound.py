"""Pin the repo-wide fixed-point magnitude bound.

Three contracts:

1. **One home** — ``parity.py`` is the only module under
   ``metoffice_spark/`` that writes the bound literal ``9.0e12``.
   Builders and oracles spell every guard through ``fits_sql`` /
   ``cents_sql`` / ``bigint_sql`` (or ``FIXED_POINT_MAX`` in numpy
   kernels), so retuning the bound is a one-line change. Under
   ``tools/``, ``__spark_entry__.py`` and ``bench.py`` a copy of the
   literal must still equal ``FIXED_POINT_MAX_SQL``.

2. **Scale-aware guard** — ``rhu_sql``/``fixed_str_sql`` at scale
   10**d must bound the INPUT so the scaled value
   ``floor(x * 10**d + 0.5)`` stays inside int64: a flat 9.0e12 guard
   at d=8 admits inputs in [2**63/1e8 ~ 9.22e10, 9.0e12) whose scaled
   floor saturates Spark's LONG while DuckDB keeps an exact double.
   The dual-engine slice below sits exactly in that band.

3. **Golden fragments** — ``cents_sql``/``fits_sql``/``bigint_sql``
   give the same value on Spark and DuckDB at the rounding ties, at
   the bound, and on NaN/±Inf/NULL.
"""

from __future__ import annotations

import glob
import os
import re

import duckdb
import pytest
from pyspark.sql import functions as F

from metoffice_spark.parity import (
    FIXED_POINT_MAX,
    FIXED_POINT_MAX_SQL,
    _bound_sql,
    bigint_sql,
    cents_sql,
    fits_sql,
    fixed_str_sql,
    rhu_sql,
)

_ROOT = os.path.join(os.path.dirname(__file__), "..")

# Bound-class literal: mantissa-9-point-something times 10^(10..18) —
# wide enough to catch a stale copy after any plausible retune of the
# validity bound, narrow enough to skip unrelated constants (1e6
# scale factors, 9.2e18 int64-limit citations, fuzz magnitudes 1e17).
_BOUND_CLASS = re.compile(r"\b9\.0e1[0-8]\b")


def _source_files():
    pats = [
        os.path.join(_ROOT, "metoffice_spark", "**", "*.py"),
        os.path.join(_ROOT, "tools", "*.py"),
        os.path.join(_ROOT, "__spark_entry__.py"),
        os.path.join(_ROOT, "bench.py"),
    ]
    for pat in pats:
        yield from glob.glob(pat, recursive=True)


def test_bound_literal_in_sync_everywhere():
    """Under metoffice_spark/ the bound is written only in parity.py;
    elsewhere every bound-class literal equals the canonical one."""
    assert float(FIXED_POINT_MAX_SQL) == FIXED_POINT_MAX
    stray, stale = [], []
    for path in _source_files():
        rel = os.path.relpath(path, _ROOT)
        if rel == os.path.join("metoffice_spark", "parity.py"):
            continue  # canonical definition site
        with open(path) as f:
            for lineno, line in enumerate(f, 1):
                for lit in _BOUND_CLASS.findall(line):
                    if rel.startswith("metoffice_spark" + os.sep):
                        stray.append(f"{rel}:{lineno}: {lit}")
                    elif lit != FIXED_POINT_MAX_SQL:
                        stale.append(f"{rel}:{lineno}: {lit}")
    assert stray == [], (
        "bound literal written outside parity.py; use fits_sql/cents_sql/"
        "bigint_sql or FIXED_POINT_MAX:\n" + "\n".join(stray)
    )
    assert stale == [], (
        "bound-class literals out of sync with parity.FIXED_POINT_MAX_SQL "
        f"({FIXED_POINT_MAX_SQL}) — retune left these behind:\n" + "\n".join(stale)
    )


def test_vector_bound_literal_in_sync_everywhere():
    """Same contract as the 9.0e12 sync above, for the r13 dot-safe
    vector-component bound (llm.VEC_COMPONENT_MAX_SQL = '9.0e1'): it
    is spelled verbatim in q_dq_checks' embeddings detector and the
    multimodal checksum sites, so a retune must flag every stale
    copy. Single-digit-exponent 9.0eN literals are used for nothing
    else in the tree."""
    from metoffice_spark.operators.llm import VEC_COMPONENT_MAX_SQL

    vec_class = re.compile(r"\b9\.0e[0-9]\b")
    stale = []
    for path in _source_files():
        if os.path.basename(path) == "llm.py":
            continue  # canonical definition site
        with open(path) as f:
            for lineno, line in enumerate(f, 1):
                for lit in vec_class.findall(line):
                    if lit != VEC_COMPONENT_MAX_SQL:
                        stale.append(f"{os.path.relpath(path, _ROOT)}:{lineno}: {lit}")
    assert stale == [], (
        "vector-bound literals out of sync with llm.VEC_COMPONENT_MAX_SQL "
        f"({VEC_COMPONENT_MAX_SQL}):\n" + "\n".join(stale)
    )


# The reference's formula constants: dew point, mast correction, SMHI
# reduction, wind sector and the imperial unit factors.
_FORMULA_CONSTANTS = (
    "17.27", "237.7", "17.7", "0.233", "0.656", "4.75", "0.034163",
    "0.0026373", "0.535", "275.6", "274.5", "22.5",
    "2.236936", "0.0393701", "0.029529983071445",
)


def test_formula_constants_written_in_one_module():
    """Each weather formula has one spelling: its SQL text in
    functions/weather.py, which the Spark builders and the DuckDB
    oracles both run. A constant written anywhere else under
    metoffice_spark/ is a second spelling that can drift."""
    lit = re.compile(
        r"(?<![\d.])(" + "|".join(map(re.escape, _FORMULA_CONSTANTS)) + r")(?!\d)"
    )
    home = os.path.join("metoffice_spark", "functions", "weather.py")
    stray = []
    for path in glob.glob(os.path.join(_ROOT, "metoffice_spark", "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, _ROOT)
        if rel == home:
            continue
        with open(path) as f:
            for lineno, line in enumerate(f, 1):
                stray += [f"{rel}:{lineno}: {c}" for c in lit.findall(line)]
    assert stray == [], (
        f"formula constants written outside {home}:\n" + "\n".join(stray)
    )


def test_wow_payload_expands_each_formula_once():
    """The payload rounds named columns of its ``derived`` CTE, so each
    formula is written once in the text Spark parses and analyses.
    ``fixed_str_sql`` repeats its argument six times: rounding the
    formula itself would put six copies of it into the text."""
    from metoffice_spark.functions.weather import (
        DEWPOINT_SQL,
        SLP_SQL,
        WG_CORR_SQL,
        WS_CORR_SQL,
    )
    from metoffice_spark.operators.ingest import (
        _WOW_PAYLOAD_SPARK_SQL,
        ORACLE_SINK_HTTP_FORM,
    )
    from metoffice_spark.operators.rain import _RAIN_DAILY_SQL, _RAIN_RATE_SQL

    formulas = {
        "DEWPOINT_SQL": DEWPOINT_SQL,
        "SLP_SQL": SLP_SQL,
        "WS_CORR_SQL": WS_CORR_SQL,
        "WG_CORR_SQL": WG_CORR_SQL,
        "_RAIN_DAILY_SQL": _RAIN_DAILY_SQL,
        "_RAIN_RATE_SQL": _RAIN_RATE_SQL,
    }
    for text in (_WOW_PAYLOAD_SPARK_SQL, ORACLE_SINK_HTTP_FORM):
        counts = {name: text.count(f) for name, f in formulas.items()}
        assert counts == dict.fromkeys(formulas, 1), counts


def test_bound_is_scale_aware():
    # d <= 6: the flat bound, textually unchanged ('9.0e12' everywhere)
    for d in (0, 1, 2, 3, 4, 6):
        assert _bound_sql(d) == FIXED_POINT_MAX_SQL
    # beyond 6: one decade per digit, scaled value strictly inside int64
    assert _bound_sql(7) == "9.0e11"
    assert _bound_sql(8) == "9.0e10"
    for d in range(0, 9):
        assert float(_bound_sql(d)) * 10**d + 0.5 < 2**63


@pytest.mark.parametrize("x", [5.0e11, -5.0e11, 9.3e10])
def test_d8_band_nulls_on_both_engines(spark, x):
    """The exact ADVICE r12 band: passes the flat 9.0e12 guard, would
    saturate floor(x*1e8+0.5) on Spark. Both engines must now NULL."""
    con = duckdb.connect()
    for d, expect_null in ((8, True), (6, False)):
        xe = f"CAST({x!r} AS DOUBLE)"  # operator inputs are DOUBLE columns
        o_r = con.sql(f"SELECT {rhu_sql(xe, d)} AS v").fetchone()[0]
        o_s = con.sql(f"SELECT {fixed_str_sql(xe, d)} AS v").fetchone()[0]
        row = (
            spark.range(1)
            .select(
                F.expr(rhu_sql(xe, d)).alias("r"),
                F.expr(fixed_str_sql(xe, d)).alias("s"),
            )
            .first()
        )
        assert (o_r is None) == expect_null, (d, o_r)
        assert (o_s is None) == expect_null, (d, o_s)
        assert row["r"] == pytest.approx(o_r) if o_r is not None else row["r"] is None
        assert row["s"] == o_s
    # in-range value rounds identically at d=8 on both engines
    v = 1.234567891
    ve = f"CAST({v!r} AS DOUBLE)"
    o = con.sql(f"SELECT {rhu_sql(ve, 8)} AS v").fetchone()[0]
    got = spark.range(1).select(F.expr(rhu_sql(ve, 8)).alias("r")).first()["r"]
    assert got == o == 1.23456789


def _dbl(v: str) -> str:
    return f"CAST({v} AS DOUBLE)"


@pytest.mark.parametrize(
    "sql, want",
    [
        (cents_sql(_dbl("0.125")), 13),
        (cents_sql(_dbl("-0.125")), -12),
        (cents_sql(_dbl("8.99e12"), 10**6), 8_990_000_000_000_000_000),
        (cents_sql(_dbl("9.0e12"), 10**6), None),
        (cents_sql(_dbl("'NaN'")), None),
        (cents_sql(_dbl("'inf'")), None),
        (cents_sql(_dbl("'-inf'")), None),
        (cents_sql(_dbl("NULL")), None),
        (fits_sql(_dbl("8.99e12")), True),
        (fits_sql(_dbl("-8.99e12")), True),
        (fits_sql(_dbl("9.0e12")), False),
        (fits_sql(_dbl("'NaN'")), False),
        (fits_sql(_dbl("'inf'")), False),
        (fits_sql(_dbl("'-inf'")), False),
        (fits_sql(_dbl("NULL")), None),
        (bigint_sql(_dbl("-7.0")), -7),
        (bigint_sql(_dbl("9.0e12")), None),
        (bigint_sql(_dbl("'NaN'")), None),
    ],
)
def test_fragments_agree_on_both_engines(spark, sql, want):
    """The fixed-point fragments give one answer on both engines."""
    con = duckdb.connect()
    got_duck = con.sql(f"SELECT {sql} AS v").fetchone()[0]
    got_spark = spark.range(1).select(F.expr(sql).alias("v")).first()["v"]
    assert got_duck == got_spark == want
    if want is not None:
        assert type(got_duck) is type(got_spark) is type(want)
