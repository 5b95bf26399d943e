"""Lock the driver's 50-qid correctness window (registration order).

The driver grades the FIRST 50 registered qids each round; an
accidental reordering — a module added to _MODULES ahead of others, a
_PRIORITY edit, an import-order change — would silently burn the
round's verification window on the wrong queries. The window is
rotated deliberately ONCE per round; when rotating, update this list
in the same commit."""

from __future__ import annotations

from metoffice_spark.registry import all_queries

_R13_WINDOW = [
    "q_compress_dict",
    "q_dataset_fingerprint",
    "q_dedup_containment",
    "q_delta_encode",
    "q_drift_chi2",
    "q_er_blocking",
    "q_eval_calibration",
    "q_eval_multiclass",
    "q_eval_ndcg",
    "q_eval_rouge",
    "q_event_paths",
    "q_feature_hashing",
    "q_forecast_snaive",
    "q_funnel_latency",
    "q_graph_bfs",
    "q_hard_negatives",
    "q_heavy_hitters_mg",
    "q_hhi_concentration",
    "q_jackknife_var",
    "q_knn_classify",
    "q_ks_test",
    "q_l_diversity",
    "q_lag_features",
    "q_lorenz_curve",
    "q_mix_temperature",
    "q_null_imputation",
    "q_pmi_collocations",
    "q_pref_pairs",
    "q_quality_ensemble",
    "q_quantile_normalize",
    "q_random_projection",
    "q_rare_label_encode",
    "q_sample_coordinated",
    "q_sft_template",
    "q_sink_jsonl",
    "q_sketch_quantile",
    "q_skyline_pareto",
    "q_span_corruption",
    "q_spearman_corr",
    "q_split_temporal",
    "q_target_encoding",
    "q_text_readability",
    "q_time_weighted_avg",
    "q_agg_cube",
    "q_agg_hash",
    "q_als_step",
    "q_attribution_linear",
    "q_bloom_file_index",
    "q_case_when",
    "q_cohort_ltv",
]


def test_driver_window_is_exactly_the_planned_rotation():
    assert list(all_queries())[:50] == _R13_WINDOW


def test_registry_is_complete_and_fully_oracled():
    from metoffice_spark.registry import all_oracles

    qids = all_queries()
    assert len(qids) == 292
    assert set(all_oracles()) == set(qids)


def test_every_driver_unchecked_qid_is_queued_for_verification():
    """Any registered qid with NO row in any committed driver
    correctness record must sit in the pinned _PRIORITY front —
    either inside the current 50-qid window or in the staged rotation
    queue behind it. This catches the two ways the verification
    backlog silently leaks: registering an operator without queueing
    it, and dropping a still-unverified qid from the queue during a
    rotation."""
    import glob
    import json
    import os

    from metoffice_spark.registry import _PRIORITY

    root = os.path.join(os.path.dirname(__file__), "..")
    checked: set[str] = set()
    records = sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json")))
    assert records, "driver correctness records missing from the repo"
    for path in records:
        with open(path) as f:
            checked.update(json.load(f))
    unqueued = [
        q for q in all_queries() if q not in checked and q not in set(_PRIORITY)
    ]
    assert unqueued == []


def test_registry_builders_repin_session_confs(spark, sf_smoke):
    """Builders never call tune() themselves; the registry wrapper must
    apply it, so a driver-supplied non-UTC session is repinned to UTC
    by any builder taken from all_queries()."""
    key = "spark.sql.session.timeZone"
    before = spark.conf.get(key)
    spark.conf.set(key, "America/New_York")
    try:
        all_queries()["q_rain_daily_delta"](spark, sf_smoke)
        assert spark.conf.get(key) == "UTC"
    finally:
        spark.conf.set(key, before)
