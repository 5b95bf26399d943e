"""Physical-plan regression tests for the 100 TB design points: these
lock in the *shape* of the plan (partitioning, broadcast, pushdown),
not its output — the scale properties VERDICT r01 flagged."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_obs_rain_window_partitions_by_station_and_day(spark, sf_smoke):
    """The rain-counter running window must partition by (station, day),
    never by station alone over the whole history (the round-1
    scale-killer: 4 tasks each sorting 1/4 of all rows)."""
    from metoffice_spark.obs import observations

    plan = _plan(observations(spark, sf_smoke))
    # the per-event window: both keys in its windowspecdefinition
    win_lines = [
        ln for ln in plan.splitlines() if "windowspecdefinition" in ln and "rain_incr" in ln
    ]
    assert win_lines, "per-event rain window missing from plan"
    for ln in win_lines:
        assert "station_id" in ln and "day" in ln, f"window not day-bounded: {ln}"
    # the day-offset side must broadcast (it is tiny: stations x days)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_win_lag_partitions_by_day(spark, sf_smoke):
    from metoffice_spark.operators.rain import q_win_lag

    plan = _plan(q_win_lag(spark, sf_smoke))
    lag_lines = [ln for ln in plan.splitlines() if "lag(" in ln]
    assert lag_lines
    for ln in lag_lines:
        # partition spec is the first bracket group after the window
        # function list: [station_id#N, <day expr>#M] — require 2 keys
        part = ln.split("], [")[1].split("]")[0]
        assert "station_id" in part and part.count("#") >= 2, f"1-key window: {part}"


def test_scan_pushdown_and_pruning(spark, sf_smoke):
    """Filters must reach the parquet scan and the ReadSchema must be
    pruned to referenced columns (VERDICT's pushdown requirement)."""
    from metoffice_spark.operators.relational import q_scan_parquet

    plan = _plan(q_scan_parquet(spark, sf_smoke))
    assert "PushedFilters: [" in plan
    assert "LessThan(l_quantity" in plan or "l_quantity" in plan.split("PushedFilters")[1][:200]
    # pruned read schema: none of the untouched money columns
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" not in read_schema


def test_join_broadcast_is_broadcast(spark, sf_smoke):
    from metoffice_spark.operators.relational import q_join_broadcast

    assert "BroadcastHashJoin" in _plan(q_join_broadcast(spark, sf_smoke))


def test_sim_search_broadcasts_query_side(spark, sf_smoke):
    """Brute-force top-k must broadcast the (small) query set, never
    shuffle the corpus embeddings."""
    from metoffice_spark.operators.llm import q_sim_search

    plan = _plan(q_sim_search(spark, sf_smoke))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # the only exchanges allowed are the broadcast + the final top-k window
    n_shuffles = plan.count("Exchange hashpartitioning")
    assert n_shuffles <= 1, f"corpus side is being shuffled: {n_shuffles} shuffles"


def test_dedup_exact_shuffles_digest_not_text(spark, sf_smoke):
    """The dedup shuffle key must be the sha2 digest projection — the
    document body must not survive past the scan."""
    from metoffice_spark.operators.llm import q_dedup_exact

    plan = _plan(q_dedup_exact(spark, sf_smoke))
    ex = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert ex and all("text" not in ln for ln in ex)


def test_rollup_is_one_grouping_sets_aggregate(spark, sf_smoke):
    """q_rollup_hypertable derives the observation substrate once and
    aggregates all three levels in one Expand-fed aggregate: no cached
    level, no events scan beyond the substrate's own, and no shuffle on
    a bucket or window expression except that aggregate's one."""
    from metoffice_spark.obs import observations
    from metoffice_spark.operators.rain import q_rollup_hypertable

    plan = _plan(q_rollup_hypertable(spark, sf_smoke))
    assert "InMemoryTableScan" not in plan
    assert plan.count("Expand [") == 1, plan

    def events_scans(p: str) -> int:
        return sum(
            1 for ln in p.splitlines() if "Scan parquet" in ln and "events" in ln
        )

    n_obs_scans = events_scans(_plan(observations(spark, sf_smoke)))
    assert 0 < events_scans(plan) <= n_obs_scans
    agg_shuffles = [
        ln
        for ln in plan.splitlines()
        if "hashpartitioning" in ln
        and any(
            k in ln
            for k in ("window#", "_groupingexpression", "bucket#", "b15#", "b1h#", "b1d#")
        )
    ]
    assert len(agg_shuffles) == 1, f"rollup re-shuffled per level: {agg_shuffles}"
    assert "spark_grouping_id" in agg_shuffles[0], agg_shuffles


def test_rollup_build_runs_no_jobs(spark, sf_smoke):
    """Plan-only consumers (the plan-walker tests) build every
    query's frame, so building the rollup must not execute its
    aggregation; the first collect then runs it in one pass."""
    from metoffice_spark.operators.rain import q_rollup_hypertable

    # Job accounting through the public SparkStatusTracker job-group
    # API (no _jsc internals, which do not exist under Spark Connect).
    if not hasattr(spark, "sparkContext"):
        pytest.skip("statusTracker unavailable (connect mode?)")
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    sc.setJobGroup("rollup-build-probe", "plan-only build")
    df = q_rollup_hypertable(spark, sf_smoke)
    build_jobs = tracker.getJobIdsForGroup("rollup-build-probe")
    # The first load of a table runs read.parquet's schema job (io.load
    # keeps the schema after it); running the aggregation at build time
    # would add several more.
    assert len(build_jobs) <= 2, (
        f"building the rollup frame ran {len(build_jobs)} jobs"
    )
    sc.setJobGroup("rollup-action-probe", "first action")
    assert df.collect()
    action_jobs = tracker.getJobIdsForGroup("rollup-action-probe")
    # One pass: the substrate's broadcast and shuffle stages plus the
    # single grouping-sets aggregate (6 jobs measured; the persisted
    # level tree it replaced ran 11).
    assert len(action_jobs) <= 8, (
        f"first collect ran {len(action_jobs)} jobs"
    )


def test_olap_local_supplier_broadcasts_dims(spark, sf_smoke):
    """The six-table star join must resolve to broadcast joins for the
    dimension sides — no sort-merge of a dim at this scale."""
    from metoffice_spark.operators.analytics import q_olap_local_supplier

    plan = _plan(q_olap_local_supplier(spark, sf_smoke))
    assert plan.count("BroadcastHashJoin") >= 4
    # fact-side shuffles only for the aggregation (or orderkey at scale)
    assert plan.count("Exchange hashpartitioning") <= 2


def test_olap_order_priority_uses_semi_join(spark, sf_smoke):
    from metoffice_spark.operators.analytics import q_olap_order_priority

    plan = _plan(q_olap_order_priority(spark, sf_smoke))
    assert "LeftSemi" in plan


def test_olap_parts_suppliers_uses_anti_join(spark, sf_smoke):
    from metoffice_spark.operators.analytics import q_olap_parts_suppliers

    plan = _plan(q_olap_parts_suppliers(spark, sf_smoke))
    assert "LeftAnti" in plan


def test_sink_partitioned_read_back_prunes_partitions(spark, sf_smoke):
    """The lang filter on the partitioned read-back must become a
    PartitionFilter (directory pruning), never a data filter — at
    100 TB this is the difference between opening one partition's
    files and scanning the lake."""
    from metoffice_spark.operators.ingest import q_sink_partitioned

    plan = _plan(q_sink_partitioned(spark, sf_smoke))
    scan = next(ln for ln in plan.splitlines() if "FileScan parquet" in ln)
    assert "PartitionFilters: [isnotnull(lang" in scan
    assert "DataFilters: []" in scan


def test_obs_substrate_single_full_data_exchange(spark, sf_smoke):
    """The substrate + rain-state window stack (``q_win_first_of_day``
    reads the whole ``_RAIN_BASE_SQL`` chain) must share ONE full-data
    exchange and sort: day is exposed by the substrate so downstream
    (station, day) windows reuse its partitioning (a recomputed
    to_date(ts) used to force a second whole-surface shuffle)."""
    from metoffice_spark.operators.rain import q_win_first_of_day

    plan = _plan(q_win_first_of_day(spark, sf_smoke))
    full = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln and "station_id" in ln and "day" in ln
    ]
    # one (station, day) exchange over events + one over the tiny
    # day_tot aggregate — never a third for the rain-state windows
    assert len(full) <= 2, full


def _subtree_lines(lines: list[str], i: int) -> list[str]:
    """The tree-string lines of the node on line ``i`` and of every
    node below it."""

    def depth(ln: str) -> int:
        return len(ln) - len(ln.lstrip(" :+-"))

    out = [lines[i]]
    for ln in lines[i + 1:]:
        if depth(ln) <= depth(lines[i]):
            break
        out.append(ln)
    return out


def test_obs_events_shuffle_reads_the_scan(spark, sf_smoke):
    """The substrate's within-day running sum is computed before the
    day-offset join, so its (station_id, day) shuffle of ``events``
    reads the scan and runs beside the day-total chain. Above the
    broadcast join it could start only after the day-offset table had
    been aggregated, windowed and broadcast."""
    import re

    from metoffice_spark import registry

    df = registry.all_queries()["q_sink_http_form"](spark, sf_smoke)
    plan = _plan(df)
    lines = plan.splitlines()
    shuffles = [
        i
        for i, ln in enumerate(lines)
        if re.search(r"Exchange hashpartitioning\(station_id#\d+, day#\d+,", ln)
    ]
    assert shuffles, "no (station_id, day) shuffle in the plan"
    for i in shuffles:
        below = _subtree_lines(lines, i)
        assert not any("BroadcastHashJoin" in ln for ln in below), "\n".join(below)
    assert "BroadcastHashJoin" in plan


def test_join_bucketed_has_no_join_key_exchange(spark, sf_smoke):
    """Both sides are bucketed by orderkey into the same bucket count,
    so the sort-merge join must read co-located bucket files with NO
    exchange — the only shuffle in the plan is the final group-by."""
    import re

    from metoffice_spark.operators.relational import q_join_bucketed

    plan = _plan(q_join_bucketed(spark, sf_smoke))
    assert "SortMergeJoin" in plan
    keys = re.findall(r"Exchange hashpartitioning\(([^,)]*)", plan)
    assert all("orderkey" not in k for k in keys), keys
    assert len(keys) == 1, keys  # the o_orderpriority aggregation only


def test_incr_agg_pushes_cutoff_filters_to_scan(spark, sf_smoke):
    """Both incremental sides must push their shipdate cutoff into the
    parquet scan — the delta refresh only ever reads the delta."""
    from metoffice_spark.operators.scale import q_incr_agg

    plan = _plan(q_incr_agg(spark, sf_smoke))
    pushed = [
        seg.splitlines()[0]
        for seg in plan.split("PushedFilters: [")[1:]
    ]
    dated = [p for p in pushed if "l_shipdate" in p]
    assert len(dated) >= 2, pushed


def test_pagerank_edge_cache_reused_across_rounds(spark, sf_smoke):
    """The partitioned edge table must be built once and re-read from
    cache by every round: one InMemoryRelation, >= 3 InMemoryTableScan
    references, and no SortMergeJoin re-shuffling the cached side on
    src (rank side only)."""
    from metoffice_spark.operators.scale import _PR_ROUNDS, q_graph_pagerank

    plan = _plan(q_graph_pagerank(spark, sf_smoke))
    assert plan.count("InMemoryTableScan") >= _PR_ROUNDS


def test_cms_shuffles_cells_not_events(spark, sf_smoke):
    """The sketch aggregate must partial-aggregate map-side: the (j, c)
    exchange carries combined cell counts, so a HashAggregate appears
    BELOW the exchange (map-side combine), never a raw event fan-out."""
    from metoffice_spark.operators.scale import q_sketch_cms

    plan = _plan(q_sketch_cms(spark, sf_smoke))
    assert "Exchange hashpartitioning(j#" in plan
    assert "partial_count" in plan  # map-side combine before the shuffle


def test_dq_checks_one_scan_per_table(spark, sf_smoke):
    """The check suite must share scans: exactly one FileScan per
    checked table (lineitem, orders, customer, documents since the
    r09 corpus-contract checks, events since the r12 money-domain
    checks, and embeddings since the r13 vector-consumability check),
    never one per check."""
    from metoffice_spark.operators.quality import q_dq_checks

    plan = _plan(q_dq_checks(spark, sf_smoke))
    assert plan.count("FileScan") == 6, plan.count("FileScan")


def test_pit_join_is_union_window_not_bnlj(spark, sf_smoke):
    """The point-in-time join must stay the union-window form: zero
    BroadcastNestedLoopJoin (the plan Spark picks for an interval
    BETWEEN join) and zero cartesian products."""
    from metoffice_spark.operators.temporal import q_join_temporal

    plan = _plan(q_join_temporal(spark, sf_smoke))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_scd2_windows_share_one_exchange(spark, sf_smoke):
    """All three SCD2 windows (lag marks, version sum, lead validity)
    plus the version aggregate must reuse ONE user_id shuffle."""
    import re

    from metoffice_spark.operators.temporal import q_scd2_build

    plan = _plan(q_scd2_build(spark, sf_smoke))
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan


def test_pq_adc_scan_uses_broadcast_lut(spark, sf_smoke):
    """The PQ ADC join (codes x per-query LUT) and the codebook joins
    must broadcast the bounded side — a shuffle of codes on (s, code)
    would move the whole corpus for a 128-cell table."""
    from metoffice_spark.operators.curation import q_ann_pq

    plan = _plan(q_ann_pq(spark, sf_smoke))
    assert plan.count("BroadcastHashJoin") >= 4
    assert "BroadcastNestedLoopJoin" not in plan


def test_dedup_fuzzy_hot_bucket_guard_in_plan(spark, sf_smoke):
    """The LSH band self-join must be preceded by the hot-bucket
    count-window filter (bsz <= cap): without it one degenerate bucket
    becomes a single n-squared task at 100 TB. The window form must
    also not add an extra exchange of the bucket table beyond the one
    the pairing join already needs."""
    from metoffice_spark.operators.llm import _MAX_BUCKET, q_dedup_fuzzy

    plan = _plan(q_dedup_fuzzy(spark, sf_smoke))
    # the guard's count window over (band_id, bucket)
    win_lines = [
        ln for ln in plan.splitlines()
        if "windowspecdefinition" in ln and "band_id" in ln and "bucket" in ln
    ]
    assert win_lines, "hot-bucket count window missing from plan"
    # and its cap filter survives into the physical plan
    assert f"<= {_MAX_BUCKET}" in plan or f"{_MAX_BUCKET})" in plan, (
        "bucket-size cap filter not found in plan"
    )


def test_lm_bigram_model_join_is_equi_not_nlj(spark, sf_smoke):
    """The bigram scoring join must stay an equi-join on the bigram
    key (hash or broadcast); a nested-loop plan would cross the corpus
    with the model table."""
    from metoffice_spark.operators.corpus import q_lm_bigram_score

    plan = _plan(q_lm_bigram_score(spark, sf_smoke))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_dataset_card_is_single_scan(spark, sf_smoke):
    """All dataset-card metrics must fuse into one scan of documents —
    N metric queries as N scans is the anti-pattern under test."""
    from metoffice_spark.operators.corpus import q_dataset_card

    plan = _plan(q_dataset_card(spark, sf_smoke))
    assert plan.count("Scan parquet") == 1, plan


def test_attribution_single_user_shuffle(spark, sf_smoke):
    """Last-touch attribution must be ONE user_id window + the final
    channel aggregate — exactly two exchanges. A BETWEEN-style
    purchase x touch self-join (BNLJ) is the scale anti-pattern."""
    from metoffice_spark.operators.behavior import q_attribution

    plan = _plan(q_attribution(spark, sf_smoke))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") == 2, plan


def test_nb_langid_model_join_is_hash_equi(spark, sf_smoke):
    """The (doc, token) x model join must be a hash equi-join on the
    token key; the only NLJ crosses allowed are the tiny setup
    scalars (langs / vsize / priors, each <= a few rows)."""
    from metoffice_spark.operators.classify import q_nb_langid

    plan = _plan(q_nb_langid(spark, sf_smoke))
    tok_join = [
        ln
        for ln in plan.splitlines()
        if "Join" in ln and "tok#" in ln
    ]
    assert tok_join, plan
    for ln in tok_join:
        assert "HashJoin" in ln, f"model join not hash-based: {ln}"


def test_dedup_lines_shuffles_digests_not_text(spark, sf_smoke):
    """Only (doc_id, span-digest) pairs may cross the wire — the
    document text column must never appear in an Exchange."""
    from metoffice_spark.operators.classify import q_dedup_lines

    plan = _plan(q_dedup_lines(spark, sf_smoke))
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "text#" not in ln, f"text shuffled: {ln}"


def test_changepoint_daily_agg_computed_once(spark, sf_smoke):
    """The daily series must feed both consumers (stats + cusum) from
    one events scan: after execution the final AQE plan holds a single
    FileScan, and the second reader of the daily aggregate's shuffle
    is a ReusedExchange of the first."""
    from metoffice_spark.operators.behavior import q_ts_changepoint

    df = q_ts_changepoint(spark, sf_smoke)
    df.collect()
    final = _plan(df).split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final, final
    assert final.count("FileScan parquet") == 1, final
    assert "ReusedExchange" in final, final


def test_triangles_joins_are_hash_equi(spark, sf_smoke):
    """Wedge and closing joins must be hash equi-joins on node keys —
    a nested-loop plan would cross the edge set with itself."""
    from metoffice_spark.operators.scale import q_graph_triangles

    plan = _plan(q_graph_triangles(spark, sf_smoke))
    assert "CartesianProduct" not in plan
    # the edge table is cached once and re-read by every consumer
    assert plan.count("InMemoryTableScan") >= 3, plan


def test_eval_pr_single_ranked_pass(spark, sf_smoke):
    """The PR curve must rank once and probe decile cutoffs against
    it — no per-decile re-sorts. With the distributed
    global_order_stats pass, "rank once" means ONE range shuffle on
    the score order carries both the row number and the TP prefix
    sum (the offsets branch reuses it), and no unpartitioned window
    runs over the document-scale input (every full-table window is
    keyed on the range-partition id)."""
    from metoffice_spark.operators.evaluation import q_eval_pr

    plan = _plan(q_eval_pr(spark, sf_smoke))
    # pre-AQE both branches print their own range exchange; AQE
    # collapses them to one + ReusedExchange at runtime (locked for
    # the helper itself in test_distributed_windows). Bound: never
    # more than the two declared branches, and only the ONE order.
    assert 1 <= plan.count("rangepartitioning(score_fp") <= 2, plan
    # document-scale windows are all __gpid-partitioned; the only
    # empty-partition windows run over the bounded offsets aggregate
    for frag in plan.split("windowspecdefinition(")[1:]:
        assert frag.startswith("__gpid") or frag.startswith(
            "specifiedwindowframe"
        ) or frag.startswith("_w0"), frag[:80]


def test_framesample_is_map_only(spark, sf_smoke):
    """Frame sampling must be a shuffle-free fan-out: scan ->
    mapInPandas, no exchanges."""
    from metoffice_spark.operators.llm import q_multimodal_framesample

    plan = _plan(q_multimodal_framesample(spark, sf_smoke))
    assert "Exchange" not in plan, plan
    assert "MapInPandas" in plan


def test_spatial_join_is_hash_equi_on_cells(spark, sf_smoke):
    """The candidate join must be a hash equi-join on the grid cell —
    the naive containment theta join plans as BNLJ and crosses
    points x rects."""
    from metoffice_spark.operators.linkage import q_join_spatial

    plan = _plan(q_join_spatial(spark, sf_smoke))
    cell_joins = [
        ln for ln in plan.splitlines() if "HashJoin" in ln and "cx" in ln
    ]
    assert cell_joins, plan
    assert "CartesianProduct" not in plan


def test_behavior_e2e_single_event_shuffle(spark, sf_smoke):
    """Sessionize -> touch-carry -> per-session agg must all reuse ONE
    user_id exchange; only the final channel rollup adds a second."""
    from metoffice_spark.operators.behavior import q_behavior_e2e

    plan = _plan(q_behavior_e2e(spark, sf_smoke))
    assert plan.count("Exchange hashpartitioning") == 2, plan


def test_collab_filter_broadcasts_counts_no_cartesian(spark, sf_smoke):
    """Per-part counts must broadcast onto the pair aggregate; no
    cartesian product anywhere in the basket self-join."""
    from metoffice_spark.operators.analytics import q_collab_filter

    plan = _plan(q_collab_filter(spark, sf_smoke))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_knn_broadcasts_query_side(spark, sf_smoke):
    """The query sample must broadcast against the corpus (the
    q_sim_search discipline): at most one hash exchange (the top-k /
    vote windows), never a corpus-wide shuffle join."""
    from metoffice_spark.operators.mlalgebra import q_knn_classify

    plan = _plan(q_knn_classify(spark, sf_smoke))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    sj = [
        ln
        for ln in plan.splitlines()
        if "SortMergeJoin" in ln or "ShuffledHashJoin" in ln
    ]
    assert not sj, sj


def test_subquery_decorrelation_shapes(spark, sf_smoke):
    """The round-5d subquery wave must DECORRELATE: EXISTS -> left-semi,
    NOT EXISTS -> left-anti, correlated scalar aggregates -> equi-joins.
    A per-row re-execution (nested-loop over the fact) is the failure
    mode these shapes exist to rule out."""
    from metoffice_spark.operators.subqueries import (
        q_olap_avg_balance,
        q_olap_exists,
        q_olap_having_in,
        q_olap_scalar_subquery,
    )

    plan = _plan(q_olap_exists(spark, sf_smoke))
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan

    plan = _plan(q_olap_having_in(spark, sf_smoke))
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan

    plan = _plan(q_olap_scalar_subquery(spark, sf_smoke))
    # both correlated scalar subqueries become partkey equi-joins
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan

    plan = _plan(q_olap_avg_balance(spark, sf_smoke))
    assert "LeftAnti" in plan, plan
    # the single sanctioned BNLJ: the 1-row global-average broadcast
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_top_supplier_single_lineitem_scan(spark, sf_smoke):
    """Q15 must scan lineitem ONCE (the two-scan scalar-subquery form
    is the plan this test forbids): the per-supplier revenue aggregate
    is persisted, so BOTH the 1-row max branch and the filter branch
    read InMemoryTableScan — the FileScan text appears only inside the
    shared InMemoryRelation's cached lineage. The old max-over-window
    form is also forbidden (no unpartitioned window anywhere)."""
    from metoffice_spark.operators.subqueries import q_olap_top_supplier

    plan = _plan(q_olap_top_supplier(spark, sf_smoke))
    # both references to the revenue aggregate hit the cache
    assert plan.count("InMemoryTableScan") >= 2, plan
    assert "windowspecdefinition" not in plan


def test_olap2_decorrelation_shapes(spark, sf_smoke):
    """The TPC-H completion wave must decorrelate cleanly: Q2's
    per-part min and Q11's scalar total become aggregates + joins
    (the scalar total is the one sanctioned 1-row broadcast), Q20's
    IN collapses to a semi-join, and Q21's EXISTS / NOT EXISTS pair
    becomes semi + anti joins on orderkey — never a per-row nested
    loop over the fact."""
    from metoffice_spark.operators.olap2 import QUERIES

    plan = _plan(QUERIES["q_olap_min_cost_supp"][0](spark, sf_smoke))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    plan = _plan(QUERIES["q_olap_important_stock"][0](spark, sf_smoke))
    # the uncorrelated scalar total: exactly one 1-row nested-loop
    # broadcast is sanctioned (the avg_balance precedent)
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "CartesianProduct" not in plan

    plan = _plan(QUERIES["q_olap_part_promotion"][0](spark, sf_smoke))
    assert "LeftSemi" in plan, plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan

    plan = _plan(QUERIES["q_olap_waiting_supplier"][0](spark, sf_smoke))
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan


def test_olap2_pushdown_and_single_scans(spark, sf_smoke):
    """Q6 pushes every predicate to the scan; Q14 computes both share
    legs from ONE lineitem scan (conditional aggregation, not a
    second pass)."""
    from metoffice_spark.operators.olap2 import QUERIES

    plan = _plan(QUERIES["q_olap_revenue_delta"][0](spark, sf_smoke))
    assert "PushedFilters: [" in plan
    assert "IsNotNull(l_shipdate)" in plan or "GreaterThanOrEqual(l_shipdate" in plan

    plan = _plan(QUERIES["q_olap_promo_share"][0](spark, sf_smoke))
    assert plan.count("Scan parquet") == 2, plan.count("Scan parquet")


def test_stats_wave_plan_shapes(spark, sf_smoke):
    """Round-5e/5f scale points: the ridge Gram matrix and the
    dataset fingerprint are each ONE aggregate exchange (no joins, no
    sorts); target encoding's only nested loop is the sanctioned
    1-row prior broadcast; chi2 top-k is TakeOrdered, not a global
    sort."""
    from metoffice_spark.operators.stats import q_chi2_terms, q_ridge_normal, q_target_encoding
    from metoffice_spark.operators.warehouse import q_dataset_fingerprint

    plan = _plan(q_ridge_normal(spark, sf_smoke))
    assert plan.count("Exchange") == 1, plan.count("Exchange")
    assert "Join" not in plan and "Sort" not in plan

    # r07 two-phase rewrite (empty-slice grouping-set semantics): ONE
    # full-data exchange — hashpartitioning(shard), printed once per
    # union branch that scans the persisted base — plus a
    # SinglePartition exchange that moves only the <=16-row base into
    # the grand-total re-aggregate.
    plan = _plan(q_dataset_fingerprint(spark, sf_smoke))
    assert plan.count("Exchange hashpartitioning(shard") >= 1
    assert plan.count("Exchange SinglePartition") == 1
    assert "Join" not in plan

    plan = _plan(q_target_encoding(spark, sf_smoke))
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "CartesianProduct" not in plan

    plan = _plan(q_chi2_terms(spark, sf_smoke))
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_hard_negatives_broadcasts_anchors(spark, sf_smoke):
    """The anchor side must broadcast (one map-only corpus scan); the
    corpus must never shuffle for the cross join."""
    from metoffice_spark.operators.curation2 import q_hard_negatives

    plan = _plan(q_hard_negatives(spark, sf_smoke))
    assert "BroadcastNestedLoopJoin" in plan  # sanctioned: broadcast anchors
    # exactly one exchange: the per-anchor top-k window partitioning
    assert plan.count("Exchange") <= 2, plan.count("Exchange")


def test_pagerank_degree_join_no_window_sort(spark, sf_smoke):
    """The round-5 perf fix: out-degrees come from an aggregate joined
    on the src partitioning — WindowExec (which sorted all 2|E| rows)
    must be gone from the edge build."""
    from metoffice_spark.operators.scale import q_graph_pagerank

    plan = _plan(q_graph_pagerank(spark, sf_smoke))
    assert "Window" not in plan, "outdeg window is back"


def test_scope_retention_survives_interleaved_builds(spark):
    """A builder's scoped persists must stay cached while the next
    builder starts (each tune() call is a scope boundary), so an
    interleaved build/execute driver keeps the cached plan; they are
    unpersisted when the builder after that starts, and a full flush
    releases everything."""
    from metoffice_spark.session import release_scoped_persists, scoped_persist, tune

    release_scoped_persists()
    dfs = []
    try:
        for i in range(4):
            tune(spark)  # scope boundary, as the registry runs before each builder
            dfs.append(scoped_persist(spark.range(100 + i)))
        for d in dfs[:2]:
            assert not d.storageLevel.useMemory, "scope older than the previous one not released"
        for d in dfs[2:]:  # the previous scope and the current one
            assert d.storageLevel.useMemory, (
                "retained scope lost its cache — interleaved "
                "build/execute would degrade to recompute"
            )
    finally:
        release_scoped_persists()
    for d in dfs:
        assert not d.storageLevel.useMemory, "full flush left a cache"


# HotSpot does not JIT-compile a method over 8,000 bytes of bytecode
# (-XX:+DontCompileHugeMethods), so such a method runs interpreted.
_JIT_METHOD_LIMIT = 8000


@pytest.mark.parametrize("qid", ["q_sink_http_form", "q_negative_sample"])
def test_fused_stage_methods_fit_the_jit(qid, spark, sf_smoke):
    """No whole-stage method over the JIT limit may run fused. Spark
    runs a codegen subtree unfused when its largest compiled method
    exceeds ``spark.sql.codegen.hugeMethodLimit`` (the check in
    ``WholeStageCodegenExec.doExecute``). The generated code itself
    does not depend on that conf, so a subtree over the JIT limit is
    acceptable only if it is also over the session's limit.
    These two qids fuse methods of 11,317 and 8,218 bytes."""
    from metoffice_spark import registry

    df = registry.all_queries()[qid](spark, sf_smoke)
    df.collect()
    # walks the final AQE plan once the frame has run
    seq = spark._jvm.org.apache.spark.sql.execution.debug.package.codegenStringSeq(
        df._jdf.queryExecution().executedPlan()
    )
    sizes = [seq.apply(i)._3().maxMethodCodeSize() for i in range(seq.size())]
    assert sizes, "no whole-stage codegen subtree in the final plan"
    limit = int(spark.conf.get("spark.sql.codegen.hugeMethodLimit"))
    largest_fused = max((s for s in sizes if s <= limit), default=0)
    assert largest_fused <= _JIT_METHOD_LIMIT, (
        f"{qid}: fused method of {largest_fused} bytes runs interpreted "
        f"(all subtrees: {sizes}, hugeMethodLimit={limit})"
    )
