"""qid → (query builder, oracle SQL | None) registry.

Backs ``__spark_entry__.py``: ``queries()`` / ``oracle_sql()`` are
projections of this dict. Modules register themselves by exposing a
``QUERIES`` mapping ``{qid: (builder, oracle_sql_or_None)}``.

Registration ORDER matters: the driver's per-round correctness gate
checks the first 50 registered qids. ``_PRIORITY`` pins the front of
the ordering to the operators that most need a hard driver signal this
round; the window rotates exactly once per round (see the _PRIORITY
comment), and new operators register AFTER the window so they never
silently displace a planned check.

Builder contract: ``_collect`` wraps every builder so that
``session.tune(spark)`` runs once before it. That applies the runtime
confs (UTC session zone, AQE, Arrow, scan split cost) to whatever
session the caller passes and starts the builder's persist scope, so
builders themselves never call ``tune``. Builders may run bounded
setup actions (q_graph_pagerank's ``nodes.count()``, the streaming
replays' max-ts lookups) but no cache refresh: q_rollup_hypertable is
one grouping-sets aggregate. A builder's ``scoped_persist`` caches
survive the next persist-bearing builder and are released when the one
after it starts, so a driver may build the next query before executing
the previous frame; a frame run after its scope was released merely
recomputes.

A builder whose oracle text Spark runs as written builds through
``io.sql_frame`` over that text, with no Column-DSL copy of it. A DSL
builder stays where its plan is the point (a 100 TB formulation the
text lacks, a UDF or a sink's file IO) or where the text lost a
measured A/B against it (the tables are under artifacts/);
tests/test_sql_frame.py lists the builders that run their oracle text.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from metoffice_spark.session import tune

QueryFn = Callable[[SparkSession, str], DataFrame]

# Operator modules, imported by name. A typo'd or broken module must
# fail LOUDLY: a silently skipped module shrinks the registry and the
# correctness gate reports green over a subset (ADVICE r02).
_MODULES = (
    "weather",
    "rain",
    "ingest",
    "relational",
    "analytics",
    "llm",
    "text",
    "udf",
    "streaming_batch",
    "pipeline",
    "scale",
    "quality",
    "temporal",
    "curation",
    "corpus",
    "classify",
    "behavior",
    "sketches",
    "linkage",
    "evaluation",
    "mlalgebra",
    "subqueries",
    "stats",
    "olap2",
    "warehouse",
    "curation2",
    "nonparam",
    "prep",
    "mining",
)

# Round-13 rotation (ONE rotation per round; registry stays FROZEN at
# 292 qids). The window is ALL 43 qids whose latest driver row is
# r7-era (alphabetical from q_compress_dict — exactly the queue pinned
# in the r12 registry comment and VERDICT r12 item 1) plus SEVEN
# fills: the alphabetically-first r8-era qids (q_agg_cube, q_agg_hash,
# q_als_step, q_attribution_linear, q_bloom_file_index, q_case_when,
# q_cohort_ltv). After this lands no latest row predates r8. Window
# membership was recomputed programmatically from
# CORRECTNESS_r01..r12 latest-row ages (age dist at r12 head: r7x43
# r8x50 r9x49 r10x50 r11x50 r12x50); no builder or oracle changed
# between the r12 gate and this rotation, so there is no
# changed-query fill this round.
_PRIORITY = (
    # --- R13: all 43 r7-era greens, alphabetical ---
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
    # --- R13 fills: the 7 alphabetically-first r8-era qids ---
    "q_agg_cube",
    "q_agg_hash",
    "q_als_step",
    "q_attribution_linear",
    "q_bloom_file_index",
    "q_case_when",
    "q_cohort_ltv",
    # --- driver window ends here (50) ---
    # R14+ QUEUE: after this window lands, the oldest latest-rows
    # are the 43 remaining r8-era qids (alphabetical from
    # q_filter_predicate), then r9.
    # The r12 window (all green in CORRECTNESS_r12) slides behind:
    "q_agg_distinct_twophase",
    "q_ann_pq",
    "q_anomaly_zscore",
    "q_chi2_terms",
    "q_cohort_retention",
    "q_cov_stats",
    "q_eval_auc",
    "q_fn_json_suite",
    "q_funnel_steps",
    "q_gini_spend",
    "q_graph_jaccard",
    "q_join_temporal",
    "q_kmeans_step",
    "q_metric_decompose",
    "q_mix_rebalance",
    "q_olap_avg_balance",
    "q_olap_cust_distribution",
    "q_olap_disjunctive",
    "q_olap_exists",
    "q_olap_having_in",
    "q_olap_important_stock",
    "q_olap_market_share",
    "q_olap_min_cost_supp",
    "q_olap_part_promotion",
    "q_olap_product_profit",
    "q_olap_promo_share",
    "q_olap_revenue_delta",
    "q_olap_scalar_subquery",
    "q_olap_ship_latency",
    "q_olap_top_supplier",
    "q_olap_volume_shipping",
    "q_olap_waiting_supplier",
    "q_percentile_exact",
    "q_pipeline_e2e",
    "q_ridge_normal",
    "q_rollup_hypertable",
    "q_sessionize_batch",
    "q_shard_assign",
    "q_sink_compact",
    "q_stream_anomaly",
    "q_stream_gap_detector",
    "q_stream_twap",
    "q_tfidf",
    "q_ts_interpolate",
    "q_udf_grouped_map",
    "q_win_ewma",
    "q_winsorize",
    "q_batch_length_buckets",
    "q_benford_test",
    "q_bpe_train",
)


def _tuned(fn: QueryFn) -> QueryFn:
    @functools.wraps(fn)
    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        return fn(tune(spark), sf_dir)

    return build


def _collect() -> dict[str, tuple[QueryFn, str | None]]:
    modules = []
    for name in _MODULES:
        try:
            mod = __import__(f"metoffice_spark.operators.{name}", fromlist=["QUERIES"])
        except ModuleNotFoundError as e:
            # Only tolerate a genuinely missing OPTIONAL third-party
            # dependency; a missing/broken operator module is a bug.
            if e.name and e.name.startswith("metoffice_spark"):
                raise
            continue
        modules.append(mod)
    merged: dict[str, tuple[QueryFn, str | None]] = {}
    for mod in modules:
        for qid, spec in mod.QUERIES.items():
            if qid in merged:
                raise ValueError(f"duplicate qid {qid!r}")
            fn, oracle = spec
            merged[qid] = (_tuned(fn), oracle)
    ordered: dict[str, tuple[QueryFn, str | None]] = {}
    for qid in _PRIORITY:
        if qid in merged:
            ordered[qid] = merged.pop(qid)
    ordered.update(merged)
    return ordered


def all_queries() -> dict[str, QueryFn]:
    return {qid: fn for qid, (fn, _) in _collect().items()}

def all_oracles() -> dict[str, str]:
    return {qid: sql for qid, (_, sql) in _collect().items() if sql is not None}
