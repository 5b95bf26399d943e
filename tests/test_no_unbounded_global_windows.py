"""Repo-wide physical-plan scale tripwires, one plan build per query.

1. No registered query may plan an UNBOUNDED single-partition window
   (``WindowExec`` with empty partitionSpec over data-sized input).
   The boundedness rule lives in ``plan_walkers`` (shared with
   test_distributed_windows): only a Limit or a ``__gpid``-keyed
   offsets aggregate below the window sanctions it — aggregates on
   arbitrary keys and 1-row scalars do NOT, because the
   pre-migration scale-killers (global ranks over per-key aggregate
   tables, usually crossJoined with a broadcast scalar) had exactly
   those shapes (r06 review hardening). Two queries window over
   genuinely bounded non-pid aggregates and are allowlisted by exact
   count.

2. Nested-loop-join RATCHET: every CartesianProduct /
   BroadcastNestedLoopJoin in the registry, persisted frames included,
   is pinned per-qid at its
   audited count (all are bounded broadcasts: 1-row ``crossJoin(
   broadcast(agg))`` scalars, |langs|/|centroids|-bounded grids, and
   q_sim_search's sanctioned exact-baseline BNLJ). A NEW nested loop
   anywhere — or one more in an audited query — fails; when a
   refactor removes one, ratchet the number DOWN here.

3. Exchange RATCHET for the bench headliners: each ``bench.HEADLINE``
   qid's shuffle + broadcast Exchange count in its ``executedPlan()``
   (the AQE initial plan and its subqueries; a cached frame counts as
   its InMemoryTableScan leaf) is pinned exactly. At sf0.1 every
   exchange costs a stage materialization (~0.5 s) whatever its
   bytes, so a new one is a cost to justify, and a removed one is
   ratcheted DOWN here.

Builder errors fail loudly — a query these tests cannot plan is not
covered (r06 review)."""

from __future__ import annotations

import pytest
from plan_walkers import (
    cartesian_product_count,
    exchange_count,
    nested_loop_join_count,
    unbounded_global_windows_in,
)

from bench import HEADLINE
from metoffice_spark.registry import all_queries

# qid -> required substring per justified global window, matched
# against the walker's '<node> over <first agg head below>'
# descriptor: the allowlist pins WHICH bounded table the window runs
# over, so swapping it for a data-sized input trips the test even at
# an unchanged count (r06 review hardening)
_WINDOW_ALLOWLIST = {
    # cumulative offsets over the systematic-sampling bucket table:
    # bucket count is the fixed sampling constant, not data-sized
    "q_sample_weighted": ["keys=[bucket"],
    # cumulative hazard over the per-day risk table: bounded by the
    # calendar span of the dataset, which grows with time, not volume
    "q_survival_hazard": ["keys=[d#"],
}

# qid -> audited nested-loop-join count (see module docstring)
_NLJ_RATCHET = {
    "q_benford_test": 1,
    "q_bpe_train": 4,
    "q_chi2_terms": 1,
    # r10: n_orders folded from a collect() scalar into the 1-row
    # broadcast crossJoin house pattern — BNLJ side is a single
    # aggregate row, bounded by construction
    "q_collab_filter": 1,
    "q_drift_chi2": 3,
    "q_er_blocking": 4,
    "q_eval_calibration": 1,
    # 2 in the metric frame, plus the 4 of q_nb_langid's plan (its pin
    # below: one 1-row broadcast scalar and three |langs|-bounded
    # grids) inside the persisted confusion frame, counted once
    "q_eval_multiclass": 6,
    "q_eval_pr": 1,
    "q_forecast_snaive": 1,
    "q_graph_assortativity": 1,
    "q_graph_modularity": 1,
    # r14 optimization round: the edge-iterator rewrite computes
    # n_nodes/n_edges/n_wedges in ONE ungrouped aggregate over the
    # adjacency table — the only 1-row crossJoin left pairs it with
    # the triangle aggregate (ratchet tightened again, 2 → 1)
    "q_graph_triangles": 1,
    "q_hard_negatives": 1,
    "q_heavy_hitters_mg": 1,
    "q_jackknife_var": 1,
    "q_join_salted": 1,
    "q_join_theta_range": 1,
    "q_kmeans_step": 1,
    "q_kmeans_train": 3,
    "q_knn_classify": 2,
    "q_link_editdist": 1,
    "q_mix_rebalance": 1,
    # inside the persisted candidate frames: the 1-row max_tf scalar
    # and the <= _MMR_CANDS^2 candidate grid (broadcast right side)
    "q_mmr_diversify": 2,
    "q_mix_temperature": 2,
    "q_nb_langid": 4,
    "q_negative_sample": 1,
    "q_olap_avg_balance": 1,
    "q_pca_power": 10,
    "q_pipeline_e2e": 1,
    "q_pmi_collocations": 1,
    "q_pseudonymize": 1,
    "q_rare_label_encode": 1,
    # inside the persisted global_ntile frame: the 1-row obs_d scalar
    "q_rfm_segmentation": 1,
    "q_sample_weighted": 1,
    "q_sim_search": 1,
    "q_simpson_check": 1,
    "q_sketch_hll": 1,
    "q_sketch_hll_merge": 4,
    # r13 optimization round: the single-pass rewrite replaced the
    # three per-pair 1-row crossJoins with a pair-spine left join —
    # zero NLJs left (ratchet tightened, not widened)
    "q_sketch_setops": 0,
    "q_skew_diag": 2,
    "q_split_temporal": 1,
    "q_target_encoding": 1,
    "q_tfidf": 1,
    "q_time_travel": 1,
    "q_ts_seasonal_profile": 1,
}

# bench.HEADLINE qid -> Exchange count of its executedPlan() at sf_smoke
# (see module docstring)
_EXCHANGE_RATCHET = {
    "q_sink_http_form": 4,
    "q_rain_daily_delta": 4,
    "q_agg_hash": 2,
    "q_join_shuffle": 2,
    "q_join_broadcast": 2,
    "q_olap_local_supplier": 6,
    "q_merge_upsert": 3,
    "q_rollup_hypertable": 5,
    "q_win_rank": 1,
    "q_dedup_exact": 1,
    # 6 -> 10: the shingle and hash persists are gone, so the subtree
    # the cache leaf hid is planned under each of its readers; AQE
    # reuses it (tools/measure.py plan.exchanges 7 -> 6 at sf0.1)
    "q_dedup_fuzzy": 10,
    "q_sim_search_lsh": 2,
    "q_sim_search_ivf": 10,
    "q_ann_pq": 10,
    "q_text_analysis": 2,
    "q_topk_twophase": 2,
    "q_graph_pagerank": 6,
    "q_funnel_steps": 3,
    "q_scd2_build": 1,
    "q_interval_sweep": 1,
    # 18 -> 21: the tf persist is gone (see q_dedup_fuzzy; measured
    # plan.exchanges 20 -> 19)
    "q_nb_langid": 21,
    "q_dedup_lines": 4,
    "q_attribution": 2,
    # 5 -> 7: the flags persist is gone (see q_dedup_fuzzy; measured
    # plan.exchanges 6 -> 6)
    "q_sketch_setops": 7,
    "q_behavior_e2e": 2,
    "q_olap_volume_shipping": 7,
    "q_olap_waiting_supplier": 8,
    "q_graph_jaccard": 11,
    "q_text_keyphrase": 5,
    "q_graph_bfs": 2,
    "q_time_weighted_avg": 1,
    "q_olap_scalar_subquery": 6,
    "q_olap_min_cost_supp": 12,
}


@pytest.fixture(scope="module")
def registry_builds(spark, sf_smoke):
    """One QueryExecution per registered query (streaming excluded:
    building one RUNS the replay, and its sink-read plan is a bare
    parquet scan), its physical plan forced at build time, while the
    query's scoped persists are still cached; for the bench headliners
    the executedPlan too. Builder failures fail here, visibly."""
    builds, errors = {}, {}
    for qid, fn in all_queries().items():
        if qid.startswith("q_stream_"):
            continue
        try:
            qe = fn(spark, sf_smoke)._jdf.queryExecution()
            qe.sparkPlan()
            if qid in HEADLINE:
                qe.executedPlan()
            builds[qid] = qe
        except Exception as e:  # noqa: BLE001 - report, don't skip
            errors[qid] = f"{type(e).__name__}: {e}"
    assert errors == {}, f"builders failed to plan: {errors}"
    return builds


@pytest.fixture(scope="module")
def registry_plans(registry_builds):
    """One physical plan per registered query (see registry_builds)."""
    return {qid: qe.sparkPlan() for qid, qe in registry_builds.items()}


def test_no_registered_query_plans_an_unbounded_global_window(registry_plans):
    offenders = {}
    for qid, plan in registry_plans.items():
        bad = unbounded_global_windows_in(plan)
        allowed = _WINDOW_ALLOWLIST.get(qid, [])
        ok = len(bad) == len(allowed) and all(
            any(marker in d for d in bad) for marker in allowed
        )
        if not ok:
            offenders[qid] = bad
    assert offenders == {}


def test_no_cartesian_product_at_smoke_sf(registry_plans):
    offenders = {
        qid: n
        for qid, plan in registry_plans.items()
        if (n := cartesian_product_count(plan))
    }
    assert offenders == {}


def test_no_cartesian_product_at_bench_sf(spark):
    """Join strategies are SIZE-ESTIMATE-dependent: a crossJoin whose
    tiny side Catalyst cannot size (a filter on a derived column, a
    groupBy that tracks the scan) broadcasts at sf0.001 but FLIPS to
    a partition-multiplying CartesianProduct at sf0.1 — q_skew_diag
    scheduled 32^4 = ~1M tasks exactly this way (r06). Re-plan every
    registered query against the bench-scale data and require zero."""
    offenders, errors = {}, {}
    for qid, fn in all_queries().items():
        if qid.startswith("q_stream_"):
            continue
        try:
            plan = fn(spark, "/root/testdata/sf0.1")._jdf.queryExecution().sparkPlan()
        except Exception as e:  # noqa: BLE001 - report, don't skip
            errors[qid] = f"{type(e).__name__}: {e}"
            continue
        n = cartesian_product_count(plan)
        if n:
            offenders[qid] = n
    assert errors == {}, f"builders failed to plan at sf0.1: {errors}"
    assert offenders == {}


def test_entry_flagship_passes_the_same_tripwires(spark):
    """The driver-smoked flagship (``__spark_entry__.entry``) through
    the identical three tripwires (VERDICT r06 stretch item 7): it is
    the wow_payload chain — same code path as q_sink_http_form, whose
    sf0.1 flip coverage lives in test_no_cartesian_product_at_bench_sf
    — but entry() itself was never plan-walked."""
    import __spark_entry__ as e

    plan = e.entry(spark)._jdf.queryExecution().sparkPlan()
    assert unbounded_global_windows_in(plan) == []
    assert cartesian_product_count(plan) == 0
    assert nested_loop_join_count(plan) == 0


def test_nested_loop_join_ratchet(registry_plans):
    offenders = {}
    for qid, plan in registry_plans.items():
        n = nested_loop_join_count(plan)
        if n != _NLJ_RATCHET.get(qid, 0):  # EXACT pin: a silent drop
            # would leave headroom that later masks a real regression
            offenders[qid] = n
    assert offenders == {}, (
        "nested-loop count changed (audit, then fix the plan or "
        f"re-pin the ratchet consciously): {offenders}"
    )


def test_headline_exchange_ratchet(registry_builds):
    counts = {qid: exchange_count(registry_builds[qid].executedPlan()) for qid in HEADLINE}
    assert counts == _EXCHANGE_RATCHET, (
        "exchange count changed (fix the plan, or re-pin consciously: "
        "down freely, up only with a comment that justifies it)"
    )


def test_no_quadratic_unbounded_following_frame(registry_plans):
    """(X, UNBOUNDED FOLLOWING) frames with X != UNBOUNDED PRECEDING
    are the ONE Spark window shape with no running accumulator:
    UnboundedFollowingWindowFunctionFrame re-evaluates its aggregate
    from each row to the partition end — O(n^2) per partition. Found
    by the r12 tshorizon probe (q_ts_interpolate's forward endpoint
    carry ran an hour on a 3.5M-slot century grid); the O(n) spelling
    is last(...) over the DESC sort's UNBOUNDED PRECEDING frame. The
    FULL frame (unboundedpreceding -> unboundedfollowing) is computed
    once per partition and stays allowed (q_win_analytic)."""
    import re

    pat = re.compile(
        r"specifiedwindowframe\((?:Row|Range)Frame,"
        r" (?!unboundedpreceding)[^,]*, unboundedfollowing",
        re.IGNORECASE,
    )
    offenders = {
        qid: m
        for qid, plan in registry_plans.items()
        if (m := pat.findall(plan.toString()))
    }
    assert offenders == {}
