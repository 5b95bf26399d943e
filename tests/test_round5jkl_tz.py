"""TZ-safety probes for the round-5j/k/l/m time-touching operators
(the q_rain_daily_delta discipline, test_testdata_schema.py): a
driver may hand over a non-UTC session; the registry's tune() must
repin UTC so epoch casts (TWAP, delta-encode) and calendar math
(cohort months) are session-independent."""

from __future__ import annotations


def test_new_time_ops_tz_safety(spark, sf_smoke):
    from metoffice_spark.registry import all_queries

    reg = all_queries()
    q_cohort_ltv = reg["q_cohort_ltv"]
    q_delta_encode = reg["q_delta_encode"]
    q_time_weighted_avg = reg["q_time_weighted_avg"]

    def snap():
        a = {
            r["user_id"]: (r["span_s"], r["twap_fp"])
            for r in q_time_weighted_avg(spark, sf_smoke).collect()
        }
        b = {
            r["colname"]: (r["delta_bytes"], r["ratio_fp"])
            for r in q_delta_encode(spark, sf_smoke).collect()
        }
        c = {
            (r["cohort_ym"], r["age"]): (r["n_custs"], r["cum_cents"])
            for r in q_cohort_ltv(spark, sf_smoke).collect()
        }
        return a, b, c

    baseline = snap()
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        probed = snap()
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    assert probed == baseline
