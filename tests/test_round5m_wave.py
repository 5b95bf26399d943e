"""Semantic property tests for the round-5m pair: linear multi-touch
attribution and the Simpson's-reversal detector."""

from __future__ import annotations


def test_attribution_linear_conserves_revenue(spark, sf_smoke):
    """Sum of linear credits equals total purchase revenue up to the
    per-purchase truncation (each purchase loses < n_touches
    micro-units), and the channel set is within view/click/none."""
    from metoffice_spark.io import load
    from metoffice_spark.operators.behavior import q_attribution_linear
    from pyspark.sql import functions as F

    rows = q_attribution_linear(spark, sf_smoke).collect()
    assert rows
    assert {r["channel"] for r in rows} <= {"view", "click", "none"}
    total_rev_cents = (
        load(spark, sf_smoke, "events")
        .filter("event_type = 'purchase'")
        .select(
            F.expr("CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)").alias("s")
        )
        .collect()[0]["s"]
    )
    credited = sum(r["credit_fp"] for r in rows)
    # exact upper bound; truncation loses < 1e6 per (purchase, channel)
    assert credited <= total_rev_cents * 1_000_000
    n_credit_rows = sum(r["n_credits"] for r in rows)
    assert credited > total_rev_cents * 1_000_000 - n_credit_rows * 1_000_000


def test_attribution_linear_agrees_with_last_touch_totals(spark, sf_smoke):
    """Both attribution schemes see the same purchase count: last
    touch credits each purchase once; linear splits it across
    channels, so linear's per-purchase shares must cover every
    purchase exactly once in share space."""
    from metoffice_spark.io import load
    from metoffice_spark.operators.behavior import q_attribution

    lt = q_attribution(spark, sf_smoke).collect()
    n_purchases = (
        load(spark, sf_smoke, "events").filter("event_type = 'purchase'").count()
    )
    assert sum(r["n_conversions"] for r in lt) == n_purchases


def test_simpson_check_signs_and_recount(spark, sf_smoke):
    """Per-group slopes recompute from raw data; reversed flag
    matches the sign product."""
    import math
    from collections import defaultdict

    from metoffice_spark.io import load
    from metoffice_spark.operators.mining import q_simpson_check

    rows = q_simpson_check(spark, sf_smoke).collect()
    assert rows
    li = load(spark, sf_smoke, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    ).collect()
    stats = defaultdict(lambda: [0, 0, 0, 0, 0])  # n, sx, sy, sxx, sxy
    for r in li:
        x = int(r["l_quantity"])
        y = math.floor(r["l_extendedprice"] * 100 + 0.5)
        s = stats[r["l_returnflag"]]
        s[0] += 1
        s[1] += x
        s[2] += y
        s[3] += x * x
        s[4] += x * y
    pn = sum(s[0] for s in stats.values())
    psx = sum(s[1] for s in stats.values())
    psy = sum(s[2] for s in stats.values())
    psxx = sum(s[3] for s in stats.values())
    psxy = sum(s[4] for s in stats.values())
    pooled = (pn * psxy - psx * psy) / (pn * psxx - psx * psx)
    for r in rows:
        n, sx, sy, sxx, sxy = stats[r["l_returnflag"]]
        grp = (n * sxy - sx * sy) / (n * sxx - sx * sx)
        assert math.isclose(r["slope_group"], grp, rel_tol=1e-12)
        assert math.isclose(r["slope_pooled"], pooled, rel_tol=1e-12)
        sg = (n * sxy - sx * sy > 0) - (n * sxy - sx * sy < 0)
        sp = (pn * psxy - psx * psy > 0) - (pn * psxy - psx * psy < 0)
        assert r["reversed"] == (1 if sg * sp < 0 else 0)


def test_5m_plan_shapes(spark, sf_smoke):
    """Attribution is one user-bounded window + (user, seg) joins;
    Simpson is a two-level aggregate with a broadcast pooled row."""
    from metoffice_spark.operators.behavior import q_attribution_linear
    from metoffice_spark.operators.mining import q_simpson_check

    def plan(df):
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    p = plan(q_attribution_linear(spark, sf_smoke))
    assert "CartesianProduct" not in p

    df = q_simpson_check(spark, sf_smoke)
    assert "CartesianProduct" not in plan(df)
    # pooled derives from the group partials — one scan: executed, the
    # final AQE plan reads the partials' shuffle a second time as a
    # ReusedExchange
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    assert final.count("FileScan parquet") == 1, final
    assert "ReusedExchange" in final, final
