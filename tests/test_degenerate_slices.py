"""Degenerate-slice parity: every query fixed by the r07 empty/near-
empty fuzz findings must keep matching its DuckDB oracle when the fact
tables are EMPTY (keep 0‰) — the slice shape the stock gate and the
ordinary fuzz seeds never produce.

Why this matters at scale: an empty relation is not an exotic input at
100 TB — it is what any date/tenant/lang predicate yields on a
partition that doesn't contain the key. The r07 probe
(artifacts/FUZZPARITY_r07_empty_sf0.001_k0.log) found five failure
families on a fully-empty slice:

- grouping-set global rows: Spark plans CUBE/ROLLUP via Expand, which
  emits ZERO rows from zero input, where the SQL standard (and DuckDB)
  gives the () grouping set one global-aggregate row (q_agg_cube,
  q_dataset_fingerprint — both rewritten two-phase);
- ANSI DIVIDE_BY_ZERO where DuckDB's IEEE divide yields inf/NaN: every
  ratio denominator that a slice can zero now goes through nullif
  (q_funnel_steps, q_ab_ztest, q_cov_stats, q_jackknife_var);
- driver-side seed constants dividing by an empty count
  (q_graph_pagerank);
- schema inference over a fileless partitioned write
  (q_sink_partitioned);
- NULL replay-watermark constants typed as INTERVAL arithmetic
  (the five stream replays), and a sum-vs-count audit asymmetry
  (q_sketch_setops).

The near-empty slice (keep 1‰) exercises the one-surviving-group
variants of the same divisions. Both slices run the full registry per
round via tools/fuzz_parity.py; this test keeps the property alive in
every pytest run for the queries that actually regressed.
"""

from __future__ import annotations

import pytest

from metoffice_spark.oracle_check import compare, connect_oracle
from metoffice_spark.registry import _collect

from tools.fuzz_parity import materialize_slice

REG = _collect()

# the r07 probe's failure set; streaming replays are the expensive
# ones but run in seconds on an empty input
FIXED_QIDS = (
    "q_agg_cube",
    "q_dataset_fingerprint",
    "q_funnel_steps",
    "q_graph_pagerank",
    "q_sink_partitioned",
    "q_sketch_setops",
    "q_stream_anomaly",
    "q_stream_gap_detector",
    "q_stream_stateful",
    "q_stream_twap",
    "q_stream_watermark",
    # r10: documents_pk_not_null over an EMPTY documents table — the
    # Spark SUM was NULL where the oracle coalesced to 0 (ADVICE r09)
    "q_dq_checks",
)

# divisions (and one audit-algebra asymmetry) that only degenerate
# when a single group/cohort/event-type survives the slice
NEAR_EMPTY_QIDS = (
    "q_ab_ztest",
    "q_cov_stats",
    "q_jackknife_var",
    "q_sketch_setops",
)


@pytest.fixture(scope="module")
def empty_dir(sf_smoke):
    return materialize_slice(sf_smoke, seed=1, keep_permille=0)


@pytest.fixture(scope="module")
def empty_oracle(empty_dir):
    con = connect_oracle(empty_dir)
    yield con
    con.close()


@pytest.fixture(scope="module")
def nearempty_dir(sf_smoke):
    return materialize_slice(sf_smoke, seed=3, keep_permille=1)


@pytest.fixture(scope="module")
def nearempty_oracle(nearempty_dir):
    con = connect_oracle(nearempty_dir)
    yield con
    con.close()


@pytest.mark.parametrize("qid", FIXED_QIDS)
def test_empty_slice_parity(qid, spark, empty_oracle, empty_dir):
    fn, sql = REG[qid]
    assert sql is not None
    assert compare(spark, empty_oracle, fn, sql, empty_dir) == []


@pytest.mark.parametrize("qid", NEAR_EMPTY_QIDS + FIXED_QIDS[:3])
def test_nearempty_slice_parity(qid, spark, nearempty_oracle, nearempty_dir):
    fn, sql = REG[qid]
    assert sql is not None
    assert compare(spark, nearempty_oracle, fn, sql, nearempty_dir) == []


# --- all-NULL column slices (r07 null-column fuzz findings) ------------------
#
# documents.text all NULL: missing assets (multimodal decode /
# framesample None payloads), zero-token ROUGE denominators, and the
# CSV/JSON NULL round-trip fidelity count.
NULL_TEXT_QIDS = (
    "q_eval_rouge",
    "q_multimodal_decode",
    "q_multimodal_framesample",
    "q_src_multiformat",
)

# events.value all NULL: the observation substrate's reading-validity
# boundary (obs.py WHERE value IS NOT NULL — without it the WOW chain
# and stream machines disagree on three-valued logic through mirrored
# CASE spellings), the histogram's NULL bin ordering, and the
# grouped-map UDF's NaN -> int64-min sentinel leak.
NULL_VALUE_QIDS = (
    "q_agg_histogram",
    "q_sink_http_form",
    "q_udf_grouped_map",
    "q_stream_stateful",
)

# embeddings.embedding all NULL: posexplode drops NULL-array rows
# where the oracles' range-spine unnest kept NULL cells — unembedded
# vectors are now boundary-filtered on both sides.
NULL_EMBED_QIDS = (
    "q_kmeans_step",
    "q_pca_power",
)


@pytest.fixture(scope="module")
def nulltext_dir(sf_smoke):
    return materialize_slice(
        sf_smoke, seed=5, keep_permille=1000, nullify={("documents", "text"): 1000}
    )


@pytest.fixture(scope="module")
def nullvalue_dir(sf_smoke):
    return materialize_slice(
        sf_smoke, seed=5, keep_permille=1000, nullify={("events", "value"): 1000}
    )


@pytest.fixture(scope="module")
def nullembed_dir(sf_smoke):
    return materialize_slice(
        sf_smoke,
        seed=5,
        keep_permille=1000,
        nullify={("embeddings", "embedding"): 1000},
    )


@pytest.mark.parametrize("qid", NULL_TEXT_QIDS)
def test_nulltext_slice_parity(qid, spark, nulltext_dir):
    fn, sql = REG[qid]
    con = connect_oracle(nulltext_dir)
    try:
        assert compare(spark, con, fn, sql, nulltext_dir) == []
    finally:
        con.close()


@pytest.mark.parametrize("qid", NULL_VALUE_QIDS)
def test_nullvalue_slice_parity(qid, spark, nullvalue_dir):
    fn, sql = REG[qid]
    con = connect_oracle(nullvalue_dir)
    try:
        assert compare(spark, con, fn, sql, nullvalue_dir) == []
    finally:
        con.close()


@pytest.mark.parametrize("qid", NULL_EMBED_QIDS)
def test_nullembed_slice_parity(qid, spark, nullembed_dir):
    fn, sql = REG[qid]
    con = connect_oracle(nullembed_dir)
    try:
        assert compare(spark, con, fn, sql, nullembed_dir) == []
    finally:
        con.close()


# --- all-NULL-PER-KEY slices (r10 nullgroup probe, VERDICT r09 item 1) -------
#
# A customer whose EVERY order is unpriced / a part whose EVERY line
# is unpriced: the per-key aggregate itself goes NULL, which enters
# ntile / running-sum / cumulative-weight rankings NULLS FIRST in
# Spark and NULLS LAST in DuckDB — the rank-validity class. The r10
# registry-wide probe (artifacts/FUZZPARITY_r10_nullgroup_prices*)
# caught q_weighted_median's cumulative-weight prefix; the qids here
# are that catch plus the boundary-bearing family it belongs to.
NULLGROUP_QIDS = (
    "q_weighted_median",
    "q_rfm_segmentation",
    "q_abc_classification",
    "q_gini_spend",
    "q_lorenz_curve",
    "q_percentile_exact",
)


@pytest.fixture(scope="module")
def nullgroup_dir(sf_smoke):
    return materialize_slice(
        sf_smoke,
        seed=1,
        keep_permille=1000,
        nullgroup={
            ("orders", "o_custkey", "o_totalprice"): 300,
            ("orders", "o_custkey", "o_orderdate"): 300,
            ("lineitem", "l_partkey", "l_extendedprice"): 300,
        },
    )


@pytest.mark.parametrize("qid", NULLGROUP_QIDS)
def test_nullgroup_slice_parity(qid, spark, nullgroup_dir):
    fn, sql = REG[qid]
    con = connect_oracle(nullgroup_dir)
    try:
        assert compare(spark, con, fn, sql, nullgroup_dir) == []
    finally:
        con.close()


# events axes: a user whose EVERY event is untimestamped/valueless.
# q_survival_hazard was the r10 catch (d=NULL lifetime day ordered
# NULLS FIRST vs LAST in the reverse-cumsum at-risk window); the
# others are the lifetime/sessionization family sharing the axis.
NULLGROUP_EVENTS_QIDS = (
    "q_survival_hazard",
    "q_sessionize_batch",
    "q_cohort_retention",
    "q_funnel_steps",
)


@pytest.fixture(scope="module")
def nullgroup_events_dir(sf_smoke):
    return materialize_slice(
        sf_smoke,
        seed=2,
        keep_permille=1000,
        nullgroup={
            ("events", "user_id", "value"): 300,
            ("events", "user_id", "ts"): 250,
        },
    )


@pytest.mark.parametrize("qid", NULLGROUP_EVENTS_QIDS)
def test_nullgroup_events_slice_parity(qid, spark, nullgroup_events_dir):
    fn, sql = REG[qid]
    con = connect_oracle(nullgroup_events_dir)
    try:
        assert compare(spark, con, fn, sql, nullgroup_events_dir) == []
    finally:
        con.close()


# --- partial-NULL GROUP KEYS (r07 second probe wave) --------------------------
#
# events.event_type at 300‰ NULL: NULL groups silently dropped by
# plain equi-joins on the group key, Spark concat() vs DuckDB
# concat() NULL handling in the DP noise hash, and the SCD2 change
# detector treating X -> NULL as a non-change (one version spanning
# two types, splitting in GROUP BY, tying in the version window).
NULL_ETYPE_QIDS = (
    "q_agg_bitmap_distinct",
    "q_agg_distinct_twophase",
    "q_dp_release",
    "q_join_temporal",
    "q_scd2_build",
    "q_udf_grouped_map",
)

# events.user_id at 300‰ NULL: count(*)-vs-count(col) in the
# two-phase distinct, the NULL-elem KMV sketch order trap, the
# cogroup NULL key turning into an int64-min sentinel, and the PIT
# join dropping the NULL-key timeline.
NULL_USER_QIDS = (
    "q_agg_distinct_twophase",
    "q_join_temporal",
    "q_sketch_setops",
    "q_udf_cogrouped",
)

# documents.lang at 300‰ NULL: to_json drops NULL fields; the
# concatenation oracle must drop them too, not NULL the line.
NULL_LANG_QIDS = ("q_sink_jsonl",)


@pytest.fixture(scope="module")
def nulletype_dir(sf_smoke):
    return materialize_slice(
        sf_smoke, seed=13, keep_permille=1000,
        nullify={("events", "event_type"): 300},
    )


@pytest.fixture(scope="module")
def nulluser_dir(sf_smoke):
    return materialize_slice(
        sf_smoke, seed=13, keep_permille=1000,
        nullify={("events", "user_id"): 300},
    )


@pytest.fixture(scope="module")
def nulllang_dir(sf_smoke):
    return materialize_slice(
        sf_smoke, seed=13, keep_permille=1000,
        nullify={("documents", "lang"): 300},
    )


@pytest.mark.parametrize("qid", NULL_ETYPE_QIDS)
def test_nulletype_slice_parity(qid, spark, nulletype_dir):
    fn, sql = REG[qid]
    con = connect_oracle(nulletype_dir)
    try:
        assert compare(spark, con, fn, sql, nulletype_dir) == []
    finally:
        con.close()


@pytest.mark.parametrize("qid", NULL_USER_QIDS)
def test_nulluser_slice_parity(qid, spark, nulluser_dir):
    fn, sql = REG[qid]
    con = connect_oracle(nulluser_dir)
    try:
        assert compare(spark, con, fn, sql, nulluser_dir) == []
    finally:
        con.close()


@pytest.mark.parametrize("qid", NULL_LANG_QIDS)
def test_nulllang_slice_parity(qid, spark, nulllang_dir):
    fn, sql = REG[qid]
    con = connect_oracle(nulllang_dir)
    try:
        assert compare(spark, con, fn, sql, nulllang_dir) == []
    finally:
        con.close()


# --- NULL event timestamps (r08 null-ts probe) --------------------------------
#
# events.ts at 300‰ NULL: every ts-ordered window places NULL at
# OPPOSITE ends on the two engines (Spark NULLS FIRST, DuckDB NULLS
# LAST), every to_date/epoch derivation forms a NULL day/epoch group,
# and Spark's cast(NULL<k as int) drops out of sums where DuckDB's
# CASE lands in ELSE. Boundary decision (VERDICT r07 item 3): the
# sequencing-validity rule — an event that cannot be placed on the
# time axis participates in NO ordered/bucketed/interval computation,
# enforced symmetrically (builder filter + oracle WHERE). The obs
# substrate applies it once for all weather/rain/stream consumers
# (obs.py OBS_SQL); direct events consumers carry their own boundary.
# This list pins one representative per failure family of the r08
# probe's 34 divergences (artifacts/FUZZPARITY_r08_*_prefix.log).
NULL_TS_QIDS = (
    "q_attribution",          # journey windows (last-touch carry)
    "q_drift_chi2",           # cast(NULL flag) vs CASE ELSE asymmetry
    "q_event_paths",          # trigram splice order
    "q_join_asof",            # as-of carry position
    "q_join_temporal",        # SCD2 + PIT probe day
    "q_lag_features",         # positional lag/trailing frames
    "q_rain_rate",            # obs substrate consumer (rain machine)
    "q_rollup_hypertable",    # obs substrate consumer (bucket tree)
    "q_scd2_build",           # validity timeline renumbering
    "q_sessionize_batch",     # gap measurement
    "q_split_temporal",       # cutoff derivation + split CASE
    "q_time_weighted_avg",    # trapezoid segments
    "q_udf_cogrouped",        # searchsorted NULL-epoch break
    "q_win_rolling_median",   # _daily NULL-day series shift
)


@pytest.fixture(scope="module")
def nullts_dir(sf_smoke):
    return materialize_slice(
        sf_smoke, seed=42, keep_permille=1000,
        nullify={("events", "ts"): 300},
    )


@pytest.mark.parametrize("qid", NULL_TS_QIDS)
def test_nullts_slice_parity(qid, spark, nullts_dir):
    fn, sql = REG[qid]
    con = connect_oracle(nullts_dir)
    try:
        assert compare(spark, con, fn, sql, nullts_dir) == []
    finally:
        con.close()


# --- NULL TPC-H date axes (r08 second probe wave) -----------------------------
#
# orders.o_orderdate at 300‰ NULL: the customer-history windows order
# by (o_orderdate, o_orderkey) — same NULLS FIRST/LAST divergence as
# events.ts — and the cohort month derivation forms a NULL age group.
# Boundary: an undated order has no history/cohort position (dropped
# symmetrically). lineitem.l_shipdate at 300‰ NULL: q_incr_agg's
# base/delta split must be EXHAUSTIVE — a NULL shipdate fails both
# `< cutoff` and `>= cutoff` and silently vanished from the
# incremental view while the batch oracle kept the row; NULL-axis
# rows now route to the delta partial (merge == batch again).
NULL_ODATE_QIDS = (
    "q_cohort_ltv",
    "q_win_analytic",
    "q_win_frame",
)
NULL_SHIPDATE_QIDS = ("q_incr_agg",)


@pytest.fixture(scope="module")
def nullodate_dir(sf_smoke):
    return materialize_slice(
        sf_smoke, seed=42, keep_permille=1000,
        nullify={("orders", "o_orderdate"): 300},
    )


@pytest.fixture(scope="module")
def nullshipdate_dir(sf_smoke):
    return materialize_slice(
        sf_smoke, seed=42, keep_permille=1000,
        nullify={("lineitem", "l_shipdate"): 300},
    )


@pytest.mark.parametrize("qid", NULL_ODATE_QIDS)
def test_nullodate_slice_parity(qid, spark, nullodate_dir):
    fn, sql = REG[qid]
    con = connect_oracle(nullodate_dir)
    try:
        assert compare(spark, con, fn, sql, nullodate_dir) == []
    finally:
        con.close()


@pytest.mark.parametrize("qid", NULL_SHIPDATE_QIDS)
def test_nullshipdate_slice_parity(qid, spark, nullshipdate_dir):
    fn, sql = REG[qid]
    con = connect_oracle(nullshipdate_dir)
    try:
        assert compare(spark, con, fn, sql, nullshipdate_dir) == []
    finally:
        con.close()


# --- NULL rank/score axes (r08 third probe wave) ------------------------------
#
# documents.n_chars at 300‰ NULL: every rank window ordered by the
# score (AUC rank sums, KS CDFs, Spearman rank pairs, quantile
# normalization) places the NULL score at opposite ends per engine;
# the JSONL oracle's || propagated a NULL n_chars into the whole line
# where to_json drops the field; and the multimodal decode kernel
# crashed on missing width/height metadata instead of passing NULL
# through (now masked Int32). events.ts+value at 300‰ each
# (correlated): the value-rank family (exact percentiles, winsorize
# cutoffs, MAD medians, histogram-sketch quantiles) needed the same
# rank-validity boundary — a NULL reading is not a distribution point.
NULL_NCHARS_QIDS = (
    "q_eval_auc",
    "q_ks_test",
    "q_multimodal_decode",
    "q_quantile_normalize",
    "q_sink_jsonl",
    "q_spearman_corr",
)
NULL_TSVALUE_QIDS = (
    "q_mad_outlier",
    "q_percentile_cont",
    "q_percentile_exact",
    "q_sketch_quantile",
    "q_winsorize",
)


@pytest.fixture(scope="module")
def nullnchars_dir(sf_smoke):
    return materialize_slice(
        sf_smoke, seed=42, keep_permille=1000,
        nullify={("documents", "n_chars"): 300},
    )


@pytest.fixture(scope="module")
def nulltsvalue_dir(sf_smoke):
    return materialize_slice(
        sf_smoke, seed=42, keep_permille=1000,
        nullify={("events", "ts"): 300, ("events", "value"): 300},
    )


@pytest.mark.parametrize("qid", NULL_NCHARS_QIDS)
def test_nullnchars_slice_parity(qid, spark, nullnchars_dir):
    fn, sql = REG[qid]
    con = connect_oracle(nullnchars_dir)
    try:
        assert compare(spark, con, fn, sql, nullnchars_dir) == []
    finally:
        con.close()


@pytest.mark.parametrize("qid", NULL_TSVALUE_QIDS)
def test_nulltsvalue_slice_parity(qid, spark, nulltsvalue_dir):
    fn, sql = REG[qid]
    con = connect_oracle(nulltsvalue_dir)
    try:
        assert compare(spark, con, fn, sql, nulltsvalue_dir) == []
    finally:
        con.close()


# --- NULL money / group-label axes (r08 fourth probe wave) --------------------
#
# orders.o_totalprice at 300‰ NULL: the spend-concentration family
# (Gini rank sums, Lorenz deciles) ranks per-customer totals — a
# customer whose EVERY order is unpriced gets a NULL total that sorts
# at opposite ends per engine; unpriced orders now contribute no
# spend on both sides. documents.source at 300‰ NULL (with partial
# embeddings): Spark's groupBy/pivot keeps the NULL source as a group
# while the oracle's plain equi-join zeroed it — IS NOT DISTINCT FROM
# (the q_join_temporal precedent). Partial embeddings.embedding NULLs
# confirmed clean everywhere else (the r07 boundary held).
NULL_PRICE_QIDS = (
    "q_gini_spend",
    "q_lorenz_curve",
)
NULL_SRCEMBED_QIDS = ("q_pivot_unpivot",)


@pytest.fixture(scope="module")
def nullprice_dir(sf_smoke):
    return materialize_slice(
        sf_smoke, seed=42, keep_permille=1000,
        nullify={("orders", "o_totalprice"): 300},
    )


@pytest.fixture(scope="module")
def nullsrcembed_dir(sf_smoke):
    return materialize_slice(
        sf_smoke, seed=42, keep_permille=1000,
        nullify={("documents", "source"): 300,
                 ("embeddings", "embedding"): 300},
    )


@pytest.mark.parametrize("qid", NULL_PRICE_QIDS)
def test_nullprice_slice_parity(qid, spark, nullprice_dir):
    fn, sql = REG[qid]
    con = connect_oracle(nullprice_dir)
    try:
        assert compare(spark, con, fn, sql, nullprice_dir) == []
    finally:
        con.close()


@pytest.mark.parametrize("qid", NULL_SRCEMBED_QIDS)
def test_nullsrcembed_slice_parity(qid, spark, nullsrcembed_dir):
    fn, sql = REG[qid]
    con = connect_oracle(nullsrcembed_dir)
    try:
        assert compare(spark, con, fn, sql, nullsrcembed_dir) == []
    finally:
        con.close()


# --- duplicate-id / duplicate-row slices (r09 dup probes) --------------------
#
# The fixture's event_id uniqueness is an input CONTRACT the (ts,
# event_id) total-order tie-breaks lean on. The r09 probes violate it
# both ways and the contract decision is DEFINED SEMANTICS (VERDICT
# r08 item 2):
#
# --dupkey events.event_id=300 (duplicate ids, DISTINCT payloads —
# ts stays unique per holder, so every tie-break order stays total):
#   - q_stream_dedup: an id-only dedup key kept whichever duplicate
#     arrived first (an arrival-order accident) — now content-keyed
#     over the full output tuple, the streaming face of
#     q_dedup_exact's digest;
#   - q_udf_cogrouped: the oracle's rank partition (user, event_id)
#     merged duplicate-id purchases into one pick — now ranks per
#     DISTINCT (user, id, ep) and fans back out to row granularity,
#     with cents as the click tie-break for (ep, id) collisions.
#
# --duprows events=300 (byte-identical row copies — exact ordering
# ties): the obs substrate's running counter assigns the twins a
# deterministic value SET but pairs it to them arbitrarily, so any
# consumer running a SECOND pass over the tied ordering re-pairs rows
# engine-arbitrarily:
#   - q_win_lag: counter added as the final window tie-break (total
#     order; no-op on unique input);
#   - q_stream_session: oracle boundaries now computed over DISTINCT
#     (station, ts) — tie-free, exactly session_window's time-axis
#     semantics — with counts fanned back out;
#   - q_stream_twap: oracle cumulative now runs at tie-GROUP
#     granularity (grp/gcum CTEs) so twins share their group's num,
#     like the single-pass machine.
DUP_QIDS = (
    "q_stream_dedup",
    "q_udf_cogrouped",
    "q_stream_session",
    "q_stream_twap",
    "q_win_lag",
    # rain-state family: fixed PRE-emptively (the probe pass was
    # distributional luck — FIRST_VALUE/frame-boundary divergence
    # needs a day's FIRST obs to be a duplicated click): counter
    # tie-break in _RAIN_BASE_SQL + _rain_machine.
    "q_rain_daily_delta",
    "q_rain_rate",
    "q_win_first_of_day",
    "q_stream_stateful",
)


@pytest.fixture(scope="module")
def dupkey_dir(sf_smoke):
    return materialize_slice(
        sf_smoke, seed=42, keep_permille=1000,
        dupkey={("events", "event_id"): 300},
    )


@pytest.fixture(scope="module")
def duprows_dir(sf_smoke):
    return materialize_slice(
        sf_smoke, seed=42, keep_permille=1000, duprows={"events": 300}
    )


@pytest.mark.parametrize("qid", DUP_QIDS)
def test_dupkey_slice_parity(qid, spark, dupkey_dir):
    fn, sql = REG[qid]
    con = connect_oracle(dupkey_dir)
    try:
        assert compare(spark, con, fn, sql, dupkey_dir) == []
    finally:
        con.close()


@pytest.mark.parametrize("qid", DUP_QIDS)
def test_duprows_slice_parity(qid, spark, duprows_dir):
    fn, sql = REG[qid]
    con = connect_oracle(duprows_dir)
    try:
        assert compare(spark, con, fn, sql, duprows_dir) == []
    finally:
        con.close()


# --- duplicate doc_id slices (r09 doc-axis dup probes) -----------------------
#
# The corpus contract (decision recorded in SURVEY §5): doc_id
# identifies ONE content. Byte-identical duplicate-id deliveries
# (at-least-once re-ingest) are IN contract — the content-keyed
# operators collapse them deterministically on both engines:
#   - q_dedup_ngram_jaccard / q_dedup_components: posting lists are
#     SETS at (doc_id, bg) level across rows (the .distinct(); without
#     it DF counts drift and intersection multiplicities can push c
#     past na+nb-c, a DIVIDE_BY_ZERO crash);
#   - q_dedup_lines: (doc_id, span) distinct across rows;
#   - q_minhash_est_audit: one (doc_id, shingle-set) row per content;
#   - q_multimodal_decode: oracle is single-pass row-granular (a
#     doc_id join-back fanned out 2x2);
#   - q_src_multiformat: fidelity via distinct content tuples matched
#     null-safely on (doc_id, text), keeping row granularity.
# A doc_id carrying >1 DISTINCT text is the OUT-of-contract class:
# "the document with id X" is ill-defined, and the per-doc operator
# families (q_nb_langid + the eval family built on it,
# q_pack_sequences, q_sample_stratified/weighted, q_span_corruption,
# q_text_keyphrase, q_tokenize_ids) are excused from parity there.
# The shipped gate DETECTS it: q_dq_checks'
# documents_id_content_conflict row — asserted below on both slices.
DOC_DUP_QIDS = (
    "q_dedup_ngram_jaccard",
    "q_dedup_components",
    "q_dedup_lines",
    "q_minhash_est_audit",
    "q_multimodal_decode",
    "q_src_multiformat",
    "q_dq_checks",
)


@pytest.fixture(scope="module")
def dkdocs_dir(sf_smoke):
    return materialize_slice(
        sf_smoke, seed=42, keep_permille=1000,
        dupkey={("documents", "doc_id"): 300},
    )


@pytest.fixture(scope="module")
def drdocs_dir(sf_smoke):
    return materialize_slice(
        sf_smoke, seed=42, keep_permille=1000, duprows={"documents": 300}
    )


@pytest.mark.parametrize("qid", DOC_DUP_QIDS)
def test_drdocs_slice_parity(qid, spark, drdocs_dir):
    fn, sql = REG[qid]
    con = connect_oracle(drdocs_dir)
    try:
        assert compare(spark, con, fn, sql, drdocs_dir) == []
    finally:
        con.close()


@pytest.mark.parametrize("qid", DOC_DUP_QIDS)
def test_dkdocs_slice_parity(qid, spark, dkdocs_dir):
    fn, sql = REG[qid]
    con = connect_oracle(dkdocs_dir)
    try:
        assert compare(spark, con, fn, sql, dkdocs_dir) == []
    finally:
        con.close()


def test_dq_gate_detects_id_content_conflict(spark, dkdocs_dir, drdocs_dir):
    """The detect-and-fail half of the corpus contract: the conflict
    check FIRES on conflicting-payload duplicate ids and stays quiet
    on byte-identical redeliveries (which only trip the softer strict
    PK row)."""
    from metoffice_spark.operators.quality import q_dq_checks

    def rows(d):
        return {
            r["check_name"]: r
            for r in q_dq_checks(spark, d).collect()
        }

    conflicted = rows(dkdocs_dir)["documents_id_content_conflict"]
    assert conflicted["n_violations"] > 0 and not conflicted["pass"]

    redelivered = rows(drdocs_dir)
    assert redelivered["documents_id_content_conflict"]["pass"]
    strict = redelivered["documents_pk_unique"]
    assert strict["n_violations"] > 0 and not strict["pass"]


# --- NULL-id slices (r09 null-id probe wave) ---------------------------------
#
# The id columns themselves were the one unprobed nullable axis. Five
# axes at 300 permille: embeddings.vec_id and orders.o_orderkey were
# clean registry-wide; events.event_id found five real divergences
# (fixed — defined semantics: event_id is a payload/tie-break
# attribute, NOT the weather model's identity): q_join_salted's salt
# now coalesces NULL ids into bucket 0 (a NULL salt key silently
# dropped the row from the join the salt must be transparent to),
# q_stream_cagg / q_stream_static_join replay splits are exhaustive
# under NULL ids (the r08 q_incr_agg non-exhaustive-split class),
# and the two pandas kernels pass NULL ids through as masked Int64
# instead of crashing (q_udf_grouped_map, q_udf_cogrouped — whose
# click tie-break now sorts NULLs first, matching the oracle's DESC
# NULLS LAST pick). lineitem.l_orderkey found q_collab_filter's
# basket scalar counting the NULL-key group where the oracle's
# count(DISTINCT) excludes it.
#
# documents.doc_id is the PK axis: NULL ids join the OUT-of-contract
# class (a PK is NOT NULL + UNIQUE — SQL refuses NULL PKs), the 16
# affected per-doc qids are excused from parity there, and the gate
# detects it: q_dq_checks's documents_pk_not_null row.
NULL_EID_QIDS = (
    "q_join_salted",
    "q_stream_cagg",
    "q_stream_static_join",
    "q_udf_cogrouped",
    "q_udf_grouped_map",
)


@pytest.fixture(scope="module")
def nulleid_dir(sf_smoke):
    return materialize_slice(
        sf_smoke, seed=42, keep_permille=1000,
        nullify={("events", "event_id"): 300},
    )


@pytest.fixture(scope="module")
def nulldocid_dir(sf_smoke):
    return materialize_slice(
        sf_smoke, seed=42, keep_permille=1000,
        nullify={("documents", "doc_id"): 300},
    )


@pytest.mark.parametrize("qid", NULL_EID_QIDS)
def test_nulleid_slice_parity(qid, spark, nulleid_dir):
    fn, sql = REG[qid]
    con = connect_oracle(nulleid_dir)
    try:
        assert compare(spark, con, fn, sql, nulleid_dir) == []
    finally:
        con.close()


def test_nulllokey_collab_filter_parity(spark, sf_smoke):
    d = materialize_slice(
        sf_smoke, seed=42, keep_permille=1000,
        nullify={("lineitem", "l_orderkey"): 300},
    )
    fn, sql = REG["q_collab_filter"]
    con = connect_oracle(d)
    try:
        assert compare(spark, con, fn, sql, d) == []
    finally:
        con.close()


def test_dq_gate_detects_null_pk(spark, nulldocid_dir):
    """The detect half of the NULL-PK contract: documents_pk_not_null
    fires on the NULL-id slice (and q_dq_checks itself stays
    oracle-parity there — asserted by the probe log)."""
    from metoffice_spark.operators.quality import q_dq_checks

    rows = {
        r["check_name"]: r for r in q_dq_checks(spark, nulldocid_dir).collect()
    }
    nn = rows["documents_pk_not_null"]
    assert nn["n_violations"] > 0 and not nn["pass"]


# --- composed dup x NULL stress axes (r10, VERDICT r09 item 4) ----------------
#
# Single axes were green; the COMPOSITION (made real by the r10
# avalanche-mask fix — the r09 battery's "composed" axes silently
# selected zero rows) caught four sequencing/rank boundaries:
# q_behavior_e2e and q_funnel_steps sessionize/order NULL-ts rows
# (Spark leading solo vs DuckDB trailing merge), q_ohlc_bars' NULL ts
# entered the day group and the struct picks, q_spearman_corr's token
# count from partial-NULL text made NULL y ranks. All four got the
# established validity boundary; this fixture is their triggering
# slice (the composed battery's events/documents axes).
STRESS_QIDS = (
    "q_behavior_e2e",
    "q_funnel_steps",
    "q_ohlc_bars",
    "q_spearman_corr",
)


@pytest.fixture(scope="module")
def stress_dir(sf_smoke):
    return materialize_slice(
        sf_smoke,
        seed=23,
        keep_permille=500,
        scramble=True,
        dupkey={("events", "event_id"): 150},
        duprows={"events": 150, "documents": 150},
        nullify={
            ("events", "event_id"): 100,
            ("events", "ts"): 150,
            ("events", "value"): 150,
            ("events", "user_id"): 150,
            ("events", "event_type"): 150,
            ("documents", "text"): 150,
        },
        nullgroup={("events", "user_id", "value"): 150},
    )


@pytest.mark.parametrize("qid", STRESS_QIDS)
def test_composed_stress_slice_parity(qid, spark, stress_dir):
    fn, sql = REG[qid]
    con = connect_oracle(stress_dir)
    try:
        assert compare(spark, con, fn, sql, stress_dir) == []
    finally:
        con.close()


# --- extreme-value axes (--extval) ---------------------------------------------
#
# The corrupt-upstream shapes no NULL probe reaches: NaN readings in
# events.value. Unguarded, the integer-cents BIGINT cast raises on
# NaN in DuckDB while Spark's floor() silently coins 0. A non-finite
# reading is an INVALID measurement: the reading-validity boundary
# (obs.py ev CTE) excludes it with the dialect-common isfinite
# (`parity.fits_sql`: both engines order NaN above +Inf), which covers
# every weather/rain/stream consumer at once; the parity fragments
# (cents_sql, bigint_sql, rhu_sql) mask non-finite to NULL — missing
# data, handled by the same NULL semantics every null-axis probe
# already pins; and the pandas kernels mask ~(abs < FIXED_POINT_MAX)
# instead of isnan. Money columns carry the same masked-cents
# semantics PLUS a detect row (lineitem_money_finite /
# orders_totalprice_finite in q_dq_checks).
EXTVAL_NAN_QIDS = (
    "q_rain_rate",          # obs substrate boundary
    "q_percentile_exact",   # rank-validity boundary extension
    "q_mad_outlier",        # rank-validity boundary extension
    "q_attribution",        # cents_sql mask on events.value
    "q_ts_trend",           # inline sum-cents mask
    "q_ohlc_bars",          # masked v_fp through struct min/max picks
    "q_udf_grouped_map",    # pandas kernel ~isfinite
    "q_udf_cogrouped",      # pandas kernel + oracle CASE cents
    "q_join_spatial",       # masked grid-cell key (±inf INT overflow)
    "q_win_ewma",           # cents_sql mask behind the finite filter
    "q_forecast_snaive",    # inline cents in stats.py
)


@pytest.fixture(scope="module")
def extnan_dir(sf_smoke):
    return materialize_slice(
        sf_smoke,
        seed=1,
        keep_permille=700,
        extval={("events", "value", "nan"): 300},
    )


@pytest.mark.parametrize("qid", EXTVAL_NAN_QIDS)
def test_extnan_slice_parity(qid, spark, extnan_dir):
    fn, sql = REG[qid]
    con = connect_oracle(extnan_dir)
    try:
        assert compare(spark, con, fn, sql, extnan_dir) == []
    finally:
        con.close()


def test_dq_gate_detects_nonfinite_money(spark, sf_smoke):
    """The detect half of the finite-money contract: the two finite
    checks fire on NaN/±Inf money and stay quiet on clean data (the
    stock-fixture half is test_dq_checks_all_pass_on_clean_data)."""
    from metoffice_spark.operators.quality import q_dq_checks

    d = materialize_slice(
        sf_smoke,
        seed=7,
        keep_permille=1000,
        extval={
            ("lineitem", "l_extendedprice", "nan"): 200,
            ("orders", "o_totalprice", "inf"): 200,
        },
    )
    rows = {r["check_name"]: r for r in q_dq_checks(spark, d).collect()}
    li = rows["lineitem_money_finite"]
    od = rows["orders_totalprice_finite"]
    assert li["n_violations"] > 0 and not li["pass"]
    assert od["n_violations"] > 0 and not od["pass"]


# The money half of the extreme-value wave: non-finite words in every
# orders/lineitem money column at once. 27 failures on the first run —
# the inline (non-macro) cents spellings across the TPC-H families
# (masked one by one), direct CAST(l_quantity AS BIGINT) weights, two
# genuine engine-semantics splits (DuckDB's VECTORIZED comparison is
# IEEE — NaN > 1 false — while its constant-folded path and Spark's
# total order say true, so q_dq_checks' range check spells isnan
# explicitly; DuckDB sign(NaN)=0 vs Spark NaN → masked to NULL), the
# profiler's 'Infinity'/'inf' rendering split (oracle canonicalized),
# q_agg_stats' moment-validity input masks (DuckDB STDDEV raises on
# non-finite), and q_weighted_median's rank boundary extended to
# finite (a NULL cents GROUP would shift the half-weight cut).
EXTVAL_MONEY_QIDS = (
    "q_dq_checks",          # isnan-explicit range check + finite rows fire
    "q_agg_stats",          # moment-validity input masks
    "q_fn_math_suite",      # masked floor/ceil/sign on money args
    "q_profile_columns",    # canonical non-finite rendering
    "q_weighted_median",    # finite rank boundary
    "q_olap_disjunctive",   # masked discount factor
    "q_olap_important_stock",  # masked shared-text scalar subquery
    "q_olap_product_profit",   # masked multi-line profit expression
    "q_als_step",           # masked quantity weight
    "q_rfm_segmentation",   # masked o_totalprice cents
    "q_gini_spend",         # masked cents under the r08 spend boundary
)


@pytest.fixture(scope="module")
def extmoney_dir(sf_smoke):
    return materialize_slice(
        sf_smoke,
        seed=5,
        keep_permille=700,
        extval={
            ("lineitem", "l_extendedprice", "nan"): 150,
            ("lineitem", "l_quantity", "inf"): 100,
            ("lineitem", "l_discount", "nan"): 100,
            ("lineitem", "l_tax", "neginf"): 100,
            ("orders", "o_totalprice", "nan"): 150,
        },
    )


@pytest.mark.parametrize("qid", EXTVAL_MONEY_QIDS)
def test_extmoney_slice_parity(qid, spark, extmoney_dir):
    fn, sql = REG[qid]
    con = connect_oracle(extmoney_dir)
    try:
        assert compare(spark, con, fn, sql, extmoney_dir) == []
    finally:
        con.close()


# Degenerate strings: empty "" and whitespace-only text — NOT NULL,
# so they pass every NULL boundary into the tokenizers/shinglers/
# langid/chunkers. Registry-wide the probe was green except ONE real
# fidelity bug: Spark's CSV WRITER trims leading/trailing whitespace
# by default (write-side ignoreLeading/TrailingWhiteSpace default
# true, unlike read-side), so a whitespace-only document lost its
# bytes through q_src_multiformat's CSV round-trip. The sink now
# pins both options false on write and read.
EXTVAL_TEXT_QIDS = ("q_src_multiformat",)


@pytest.fixture(scope="module")
def exttext_dir(sf_smoke):
    return materialize_slice(
        sf_smoke,
        seed=9,
        keep_permille=700,
        extval={
            ("documents", "text", "empty"): 200,
            ("documents", "text", "blank"): 150,
        },
    )


@pytest.mark.parametrize("qid", EXTVAL_TEXT_QIDS)
def test_exttext_slice_parity(qid, spark, exttext_dir):
    fn, sql = REG[qid]
    con = connect_oracle(exttext_dir)
    try:
        assert compare(spark, con, fn, sql, exttext_dir) == []
    finally:
        con.close()


# Dim-table extreme/NULL money axes: the star schema's attribute
# columns (c_acctbal, p_retailprice, s_acctbal and the categorical
# dims). Non-finite found five (the behavior.py acctbal cents pair
# and the NESTED bucket exprs in q_k_anonymity/q_l_diversity, where
# the masker's guard sat outside the crashing inner cast — the CASE
# condition must test the RAW column); the composed 12-axis dim-NULL
# probe (prepared by the dim-nullify harness work, first run here)
# found q_mode_agg's ASC tie-break placing a NULL segment FIRST in
# Spark and LAST in DuckDB (now ASC NULLS LAST, spelled on both
# sides) and q_skyline_pareto's NULL/non-finite price entering the
# dominance rank (rank-validity boundary: an unpriceable part is not
# a skyline candidate).
EXTVAL_DIM_QIDS = (
    "q_cdc_apply",
    "q_k_anonymity",
    "q_l_diversity",
    "q_skyline_pareto",
    "q_time_travel",
)
NULL_DIM_QIDS = ("q_mode_agg", "q_skyline_pareto")


@pytest.fixture(scope="module")
def extdim_dir(sf_smoke):
    return materialize_slice(
        sf_smoke,
        seed=11,
        keep_permille=700,
        extval={
            ("customer", "c_acctbal", "nan"): 150,
            ("part", "p_retailprice", "inf"): 100,
            ("supplier", "s_acctbal", "neginf"): 150,
        },
    )


@pytest.fixture(scope="module")
def nulldim_dir(sf_smoke):
    return materialize_slice(
        sf_smoke,
        seed=13,
        keep_permille=700,
        nullify={
            ("customer", "c_acctbal"): 150,
            ("customer", "c_mktsegment"): 150,
            ("part", "p_retailprice"): 150,
            ("part", "p_size"): 100,
            ("supplier", "s_acctbal"): 150,
        },
    )


@pytest.mark.parametrize("qid", EXTVAL_DIM_QIDS)
def test_extdim_slice_parity(qid, spark, extdim_dir):
    fn, sql = REG[qid]
    con = connect_oracle(extdim_dir)
    try:
        assert compare(spark, con, fn, sql, extdim_dir) == []
    finally:
        con.close()


@pytest.mark.parametrize("qid", NULL_DIM_QIDS)
def test_nulldim_slice_parity(qid, spark, nulldim_dir):
    fn, sql = REG[qid]
    con = connect_oracle(nulldim_dir)
    try:
        assert compare(spark, con, fn, sql, nulldim_dir) == []
    finally:
        con.close()


# NaN components inside embedding vectors (--extval nanvec: a
# hash-chosen ~1/4 of components in selected rows) — the failed-
# encoder shape no scalar axis reaches. 14 failures in one class:
# the fixed-point vector cast crashes both ANSI engines. Contract:
# VECTOR-validity — a vector carrying any non-finite component is a
# failed encoding with no position in the vector space, so the
# shared _ivec substrate nulls the WHOLE vector, reducing the new
# axis to the NULL-embedding shape the r07 probes already proved
# symmetric in every consumer. The four non-_ivec sites (dimstats'
# oracle unnest, the kmeans pair's validity filters, multimodal's
# dimension-1 checksum) carry their own one-line boundary.
EXTVAL_NANVEC_QIDS = (
    "q_sim_search",         # _ivec central mask
    "q_dedup_embed_cosine", # _ivec + planted-pair perturb
    "q_embed_dimstats",     # oracle unnests the masked vector
    "q_kmeans_train",       # v IS NOT NULL validity filter
    "q_multimodal_cols",    # dimension-1 checksum component mask
    "q_ann_pq",             # _ivec central mask
)


@pytest.fixture(scope="module")
def nanvec_dir(sf_smoke):
    return materialize_slice(
        sf_smoke,
        seed=19,
        keep_permille=700,
        extval={("embeddings", "embedding", "nanvec"): 200},
    )


@pytest.mark.parametrize("qid", EXTVAL_NANVEC_QIDS)
def test_nanvec_slice_parity(qid, spark, nanvec_dir):
    fn, sql = REG[qid]
    con = connect_oracle(nanvec_dir)
    try:
        assert compare(spark, con, fn, sql, nanvec_dir) == []
    finally:
        con.close()


# HUGE-FINITE components inside embedding vectors (--extval hugevec:
# the nanvec mutation pattern at 1e17 — r13, VERDICT r12 item 2). A
# huge component passes every is-finite test, but its fixed-point
# scaling would saturate Spark's floor->LONG silently where DuckDB
# keeps the exact double (the scalar `huge` kind's FALSIFIED-contract
# finding, FUZZPARITY_r12_exthuge). Contract: same VECTOR-validity
# class as nanvec — the _ivec substrate's abs(x) < 9.0e12 bound
# rejects the component, so the WHOLE vector nulls on both engines,
# reducing the axis to the proven NULL-embedding shape. The qid set
# mirrors EXTVAL_NANVEC_QIDS (the same substrate + boundary sites)
# plus the non-_ivec integer-free consumers (pca/knn/random_projection
# read raw doubles; their validity filters must bound magnitude too).
EXTVAL_HUGEVEC_QIDS = EXTVAL_NANVEC_QIDS + (
    "q_pca_power",
    "q_knn_classify",
    "q_random_projection",
    "q_semdedup_centroid",
)


@pytest.fixture(scope="module")
def hugevec_dir(sf_smoke):
    return materialize_slice(
        sf_smoke,
        seed=13,
        keep_permille=700,
        extval={("embeddings", "embedding", "hugevec"): 200},
    )


@pytest.mark.parametrize("qid", EXTVAL_HUGEVEC_QIDS)
def test_hugevec_slice_parity(qid, spark, hugevec_dir):
    fn, sql = REG[qid]
    con = connect_oracle(hugevec_dir)
    try:
        assert compare(spark, con, fn, sql, hugevec_dir) == []
    finally:
        con.close()


# Components BELOW the cast bound but far above any dot-safe
# magnitude (--extval bigvec: 1e9 — passes abs(x) < 9.0e12, scales to
# 1e15, squares to 1e30). The r13 FINDING run
# (artifacts/FUZZPARITY_r13_extbigvec_FINDING.md) showed 13 of 19
# consumers RAISE-BOTH through NORM2/DOT/PQ arithmetic — a symmetric
# crash, i.e. one corrupt word DoSes the whole job at scale. Fixed by
# retuning the _ivec substrate to the dot-safe bound
# VEC_COMPONENT_MAX_SQL = 9.0e1 (derivation at operators/llm.py):
# the vector quarantines to NULL instead. This slice pins the
# quarantine on the same qid set as hugevec.
@pytest.fixture(scope="module")
def bigvec_dir(sf_smoke):
    return materialize_slice(
        sf_smoke,
        seed=13,
        keep_permille=700,
        extval={("embeddings", "embedding", "bigvec"): 200},
    )


@pytest.mark.parametrize("qid", EXTVAL_HUGEVEC_QIDS)
def test_bigvec_slice_parity(qid, spark, bigvec_dir):
    fn, sql = REG[qid]
    con = connect_oracle(bigvec_dir)
    try:
        assert compare(spark, con, fn, sql, bigvec_dir) == []
    finally:
        con.close()


# Wrong-DIMENSION vectors (--extval dimvec: key-hash-chosen truncate
# to 63 / pad to 65 / truncate to 16 / EMPTY) whose components are
# all individually in-band. The r13 FINDING run
# (artifacts/FUZZPARITY_r13_extdimvec_FINDING.md) showed 12 of 18
# consumers diverge — mostly in silently DIFFERENT VALUES (Spark's
# zip_with NULL-pads a mismatched dot to NULL; DuckDB's range-indexed
# NULLs are sum-IGNORED, a partial dot), plus two asymmetric ANSI
# element_at raises on the empty shape. Fixed by adding the dimension
# check to the _ivec substrate (EMB_DIM_SQL, operators/llm.py: wrong
# length quarantines the vector to NULL), nesting the dim guard
# outside q_multimodal_cols' element access, try_element_at in
# q_fn_array_map_json, and the embeddings_vector_consumable detector
# row in q_dq_checks. This slice pins all four.
EXTVAL_DIMVEC_QIDS = EXTVAL_HUGEVEC_QIDS + (
    "q_fn_array_map_json",  # try_element_at on raw truncated arrays
    "q_dq_checks",          # embeddings_vector_consumable detector
)


@pytest.fixture(scope="module")
def dimvec_dir(sf_smoke):
    return materialize_slice(
        sf_smoke,
        seed=13,
        keep_permille=700,
        extval={("embeddings", "embedding", "dimvec"): 200},
    )


@pytest.mark.parametrize("qid", EXTVAL_DIMVEC_QIDS)
def test_dimvec_slice_parity(qid, spark, dimvec_dir):
    fn, sql = REG[qid]
    con = connect_oracle(dimvec_dir)
    try:
        assert compare(spark, con, fn, sql, dimvec_dir) == []
    finally:
        con.close()


# NULL COMPONENTS inside otherwise-valid vectors (--extval nulvec:
# the nanvec mutation pattern with NULL instead of NaN). The r13
# FINDING run (artifacts/FUZZPARITY_r13_extnulvec_FINDING.md) showed
# 11 of 18 consumers diverge silently: the _ivec 3VL fall-through let
# NULL words into the fixed-point array, where Spark's aggregate()
# lambda sum NULL-poisons (NULL norm, row drops) while DuckDB's
# list_aggregate('sum') skips NULL words (partial norm, wrong score).
# Fixed by the explicit `x is null or` quarantine disjunct in _ivec
# and the q_dq_checks consumability detector. Same qid set as dimvec.
@pytest.fixture(scope="module")
def nulvec_dir(sf_smoke):
    return materialize_slice(
        sf_smoke,
        seed=13,
        keep_permille=700,
        extval={("embeddings", "embedding", "nulvec"): 200},
    )


@pytest.mark.parametrize("qid", EXTVAL_DIMVEC_QIDS)
def test_nulvec_slice_parity(qid, spark, nulvec_dir):
    fn, sql = REG[qid]
    con = connect_oracle(nulvec_dir)
    try:
        assert compare(spark, con, fn, sql, nulvec_dir) == []
    finally:
        con.close()


# The composed VECTOR battery (r13): every vector-corruption axis at
# once — scrambled row order, byte-identical duplicate rows,
# whole-vector NULLs, and all four component kinds
# (dimvec/nulvec/bigvec/nanvec, independent masks) stacked on the
# same embedding column. First run was green: the consumability
# contract (present ∧ finite ∧ dot-safe ∧ 64-dim, quarantine to
# NULL at _ivec) holds under composition, not just per-axis — this
# pins that. Log: artifacts/FUZZPARITY_r13_vecbattery_sf0.001.log.
@pytest.fixture(scope="module")
def vecbattery_dir(sf_smoke):
    return materialize_slice(
        sf_smoke,
        seed=37,
        keep_permille=500,
        scramble=True,
        duprows={"embeddings": 150},
        nullify={("embeddings", "embedding"): 120},
        extval={
            ("embeddings", "embedding", "dimvec"): 80,
            ("embeddings", "embedding", "nulvec"): 80,
            ("embeddings", "embedding", "bigvec"): 80,
            ("embeddings", "embedding", "nanvec"): 60,
        },
    )


@pytest.mark.parametrize("qid", EXTVAL_DIMVEC_QIDS)
def test_vecbattery_slice_parity(qid, spark, vecbattery_dir):
    fn, sql = REG[qid]
    con = connect_oracle(vecbattery_dir)
    try:
        assert compare(spark, con, fn, sql, vecbattery_dir) == []
    finally:
        con.close()


# IEEE -0.0 (--extval negzero): the one IN-BAND double the engines'
# scalar pipelines disagree on. The r13 FINDING run
# (artifacts/FUZZPARITY_r13_extnegzero_FINDING.md) showed the
# dialect-common bucketing expression x - floor(x/k)*k forks on the
# sign bit (Spark's floor->BIGINT loses -0, the final IEEE -0.0 - 0
# keeps it; DuckDB's floor->DOUBLE makes -0.0 - (-0.0) = +0.0), and
# the divergence survives to the seven obs consumers that emit raw
# doubles; DuckDB's DOUBLE min/max over mixed signed zeros is
# additionally first-seen (order-dependent). Valid data -> the obs
# substrate CANONICALIZES (-0.0 -> 0.0 via the sign-blind equality
# CASE) rather than quarantines. This slice pins the canonicalization
# on the failing consumers + the fixed-point control families.
NEGZERO_QIDS = (
    "q_fn_mast_corr",       # raw windspeed_ms emission (found)
    "q_fn_units",           # WOW payload chain (found)
    "q_fn_winddir",         # calm-branch + raw speed (found)
    "q_src_json_rest",      # full observation record (found)
    "q_stream_join",        # stream machines replay the obs snapshot
    "q_stream_sliding",     # (found x3)
    "q_stream_static_join",
    "q_rain_daily_delta",   # rain counter: floor-cast control
    "q_agg_stats",          # fixed-point money family control
    "q_dq_checks",          # -0.0 is VALID: zero violations counted
)


@pytest.fixture(scope="module")
def negzero_dir(sf_smoke):
    return materialize_slice(
        sf_smoke,
        seed=13,
        keep_permille=700,
        extval={
            ("events", "value", "negzero"): 200,
            ("lineitem", "l_discount", "negzero"): 150,
            ("lineitem", "l_extendedprice", "negzero"): 150,
            ("orders", "o_totalprice", "negzero"): 150,
        },
    )


@pytest.mark.parametrize("qid", NEGZERO_QIDS)
def test_negzero_slice_parity(qid, spark, negzero_dir):
    fn, sql = REG[qid]
    con = connect_oracle(negzero_dir)
    try:
        assert compare(spark, con, fn, sql, negzero_dir) == []
    finally:
        con.close()


# NEGATIVE ids (--extval idneg): ids are opaque signed int64 words.
# The r13 FINDING run (artifacts/FUZZPARITY_r13_extidneg_FINDING.md)
# found FIVE distinct mechanisms in 6 qids: a negative-shift bitmap
# (DuckDB raises, Java masks — fixed with the pmod/floor-div pair), a
# salt domain the replicated dim never carries (silent row drop —
# F.pmod), an oracle pairing negative orig ids with real documents by
# unguarded arithmetic (plant-side floor added), a Python floor-mod
# vs SQL truncated-mod frame-count fork (fmt-conditioned pmod in the
# oracle), and a non-exhaustive 3-way replay split dropping negative
# residues (F.pmod — the r09 NULL-id exactly-once lesson on the sign
# axis). This slice pins all five + the symmetric-by-text
# q_stream_join split and the dq substrate.
IDNEG_QIDS = (
    "q_agg_bitmap_distinct",
    "q_join_salted",
    "q_minhash_est_audit",
    "q_multimodal_decode",
    "q_stream_cagg",
    "q_stream_static_join",
    "q_stream_join",
    "q_dq_checks",
)


@pytest.fixture(scope="module")
def idneg_dir(sf_smoke):
    return materialize_slice(
        sf_smoke,
        seed=13,
        keep_permille=700,
        extval={
            ("events", "event_id", "idneg"): 150,
            ("events", "user_id", "idneg"): 150,
            ("documents", "doc_id", "idneg"): 150,
            ("embeddings", "vec_id", "idneg"): 150,
            ("lineitem", "l_suppkey", "idneg"): 150,
        },
    )


@pytest.mark.parametrize("qid", IDNEG_QIDS)
def test_idneg_slice_parity(qid, spark, idneg_dir):
    fn, sql = REG[qid]
    con = connect_oracle(idneg_dir)
    try:
        assert compare(spark, con, fn, sql, idneg_dir) == []
    finally:
        con.close()


# The composed extreme battery: extval axes on FOUR tables at once,
# stacked on the r10 dup/NULL/scramble stress axes. Three finds the
# single-axis extval runs missed: q_gini_spend and q_lorenz_curve's
# all-non-finite-per-customer NULL totals entering the rank (the
# q_weighted_median shape — boundary extended to finite, and
# proactively to q_rfm_segmentation/q_abc_classification which share
# it), and q_pattern_match missing the r08 sequencing-validity
# boundary outright (a NULL-ts char sat at the FRONT of Spark's
# struct sort and the BACK of the oracle's ORDER BY).
STRESS_EXT_QIDS = (
    "q_gini_spend",
    "q_lorenz_curve",
    "q_pattern_match",
    "q_rfm_segmentation",
    "q_abc_classification",
    # r11 (ADVICE r10 item 3): dupkey + NaN together make a masked
    # v_fp reachable inside the open/close struct comparators when
    # duplicate (ts, event_id) rows tie — the picks now exclude
    # NULL-v_fp rows (first/last VALID reading), proven here.
    "q_ohlc_bars",
)


@pytest.fixture(scope="module")
def stress_ext_dir(sf_smoke):
    return materialize_slice(
        sf_smoke,
        seed=29,
        keep_permille=500,
        scramble=True,
        dupkey={("events", "event_id"): 150},
        duprows={"events": 150, "documents": 150},
        nullify={
            ("events", "ts"): 150,
            ("events", "value"): 100,
            ("documents", "text"): 100,
        },
        nullgroup={("events", "user_id", "value"): 100},
        extval={
            ("events", "value", "nan"): 100,
            ("lineitem", "l_extendedprice", "nan"): 100,
            ("orders", "o_totalprice", "inf"): 100,
            ("documents", "text", "blank"): 100,
            ("embeddings", "embedding", "nanvec"): 100,
        },
    )


@pytest.mark.parametrize("qid", STRESS_EXT_QIDS)
def test_stress_ext_slice_parity(qid, spark, stress_ext_dir):
    fn, sql = REG[qid]
    con = connect_oracle(stress_ext_dir)
    try:
        assert compare(spark, con, fn, sql, stress_ext_dir) == []
    finally:
        con.close()


# --- timestamp-extreme axes (r11: --extval epoch0/tsfar) ----------------------
#
# Sentinel DATES — the corruption class every 100 TB lake contains
# (1970-01-01 epoch zeros, 2199/9999 far-future placeholders). Two
# real classes found by the r10 probe and fixed r11:
# 1. q_rolling_regression: x is elapsed SECONDS, so an epoch0 + tsfar
#    pair in one user makes x ~ 7.2e9 and the x*x / x*y cross-terms
#    overflow int64 under ANSI — the sums are now 128-bit
#    (DECIMAL(38,0) / HUGEINT) with a VARCHAR-mediated double cast
#    (DuckDB's direct HUGEINT->DOUBLE is not correctly rounded).
# 2. Watermark poisoning: ONE far-future event advances the replay
#    watermark past the whole stream and silently drops every later
#    row. Fixed at the substrate: the obs ev CTE quarantines
#    timestamps outside [OBS_TIME_MIN, OBS_TIME_MAX) like NULL ts
#    (obs.py), so every stream machine and weather consumer inherits
#    the TIME-BOUNDS validity contract symmetrically.
TS_EXTREME_QIDS = (
    "q_rolling_regression",   # 128-bit cross-term sums
    "q_stream_join",          # the observed dropper (262 vs 493)
    "q_stream_tumbling",      # watermark-evicted daily windows
    "q_stream_watermark",     # the explicit late-data machine
    "q_stream_session",       # session gap eviction
    "q_stream_stateful",      # applyInPandasWithState staleness guard
    "q_stream_cep",           # calendar-split replay order
    "q_rollup_hypertable",    # obs substrate consumer (bucket tree)
    "q_ts_trend",             # day-index centering (control: was green)
)


@pytest.fixture(scope="module")
def tsext_dir(sf_smoke):
    return materialize_slice(
        sf_smoke,
        seed=31,
        keep_permille=700,
        extval={
            ("events", "ts", "epoch0"): 100,
            ("events", "ts", "tsfar"): 80,
            ("orders", "o_orderdate", "epoch0"): 100,
            ("lineitem", "l_shipdate", "tsfar"): 100,
        },
    )


@pytest.mark.parametrize("qid", TS_EXTREME_QIDS)
def test_tsextreme_slice_parity(qid, spark, tsext_dir):
    fn, sql = REG[qid]
    con = connect_oracle(tsext_dir)
    try:
        assert compare(spark, con, fn, sql, tsext_dir) == []
    finally:
        con.close()


# --- unicode-extreme text axis (r11: --extval unicode) -------------------------
#
# Astral-plane code points (one code point, two UTF-16 units on the
# JVM vs one UTF-8 sequence in DuckDB), combining sequences, RTL
# runs, ZWJ emoji and fullwidth forms appended to documents.text.
# Registry-wide run: the ENTIRE text stack (tokenizers, langid,
# fingerprints, shinglers, regex suites, BM25, chunkers) was clean on
# the first pass — the only failures were the three byte-domain
# multimodal oracles, whose CAST(text AS BLOB) raises on any
# non-ASCII character. Fixed by _utf8_bytes (llm.py): the oracle now
# expands code points to real UTF-8 bytes arithmetically, so the
# byte-domain simulation is exact for arbitrary text.
UNICODE_TEXT_QIDS = (
    "q_multimodal_cols",        # strlen byte totals
    "q_multimodal_decode",      # full byte-list decode oracle
    "q_multimodal_framesample", # byte-offset frame slicing
    "q_text_tokens",            # control: JVM vs UTF-8 tokenizer walk
    "q_text_fingerprint",       # control: rolling hash over code points
    "q_dedup_simhash",          # control: shingle hashing
)


@pytest.fixture(scope="module")
def unicode_dir(sf_smoke):
    return materialize_slice(
        sf_smoke,
        seed=41,
        keep_permille=700,
        extval={("documents", "text", "unicode"): 250},
    )


@pytest.mark.parametrize("qid", UNICODE_TEXT_QIDS)
def test_unicode_slice_parity(qid, spark, unicode_dir):
    fn, sql = REG[qid]
    con = connect_oracle(unicode_dir)
    try:
        assert compare(spark, con, fn, sql, unicode_dir) == []
    finally:
        con.close()


# dim/attribute-string unicode (r11 second unicode probe): unicode in
# part.p_type/p_name (LIKE patterns), c_mktsegment (group keys),
# s_name, and documents.source. ONE catch: q_sink_jsonl's oracle
# counted line bytes via CAST(line AS BLOB), which RAISES in DuckDB
# on any non-ASCII character — but Jackson writes non-ASCII JSON
# values RAW, so a unicode source is a legal manifest line the byte
# count must cover. Fixed with strlen (q_compress_dict's plain_bytes
# proactively too); the LIKE/grouping surfaces were clean.
DIM_UNICODE_QIDS = (
    "q_sink_jsonl",      # the catch: strlen byte count
    "q_compress_dict",   # proactive strlen fix
    "q_olap_parts_suppliers",  # control: p_type LIKE surface
    "q_text_vocab",      # control: source grouping unaffected
)


@pytest.fixture(scope="module")
def dim_unicode_dir(sf_smoke):
    return materialize_slice(
        sf_smoke,
        seed=47,
        keep_permille=700,
        extval={
            ("part", "p_type", "unicode"): 150,
            ("part", "p_name", "unicode"): 150,
            ("customer", "c_mktsegment", "unicode"): 100,
            ("supplier", "s_name", "unicode"): 150,
            ("documents", "source", "unicode"): 150,
        },
    )


@pytest.mark.parametrize("qid", DIM_UNICODE_QIDS)
def test_dim_unicode_slice_parity(qid, spark, dim_unicode_dir):
    fn, sql = REG[qid]
    con = connect_oracle(dim_unicode_dir)
    try:
        assert compare(spark, con, fn, sql, dim_unicode_dir) == []
    finally:
        con.close()

# --- huge-finite money axis (r12: --extval huge) ------------------------------
#
# A FINITE money word at 1e17 passes every abs(x) < inf guard but
# overflows the int64 fixed-point cast at every cents scale in use
# (1e17 * 100 = 1e19 > 2^63). The r11 contract said "loud symmetric
# crash"; the r12 registry-wide probe (--raise-symmetric) FALSIFIED
# its premise — Spark's floor(double)->LONG SATURATES silently at
# Long.MAX (Java conversion) where DuckDB's explicit CAST raises, so
# un-summed floor paths silently answered (q_benford_test's leading
# digit became '9'; q_case_when's rhu read 9223372036854.775 vs the
# true 1.07e16) — 13 asymmetric divergences. Decided r12: huge-finite
# is the FOURTH quarantined validity class (after NULL, non-finite,
# out-of-horizon) — every fixed-point guard bounds the magnitude at
# FIXED_POINT_MAX = 9.0e12 (parity.py), the value becomes NULL, and
# q_dq_checks DETECTS the violation. Pinned here: detection +
# quarantine-parity per mutated domain; the registry-wide sweep is
# tools/fuzz_parity.py --extval ... huge
# (FUZZPARITY_r12_exthuge_sf0.001.log is the green run;
# FUZZPARITY_r12_exthuge_raise_symmetric_FALSIFIED.log the
# falsifying first one).

HUGE_EXTVAL = {
    ("lineitem", "l_extendedprice", "huge"): 60,
    ("orders", "o_totalprice", "huge"): 60,
    ("events", "value", "huge"): 60,
}

# one representative cents consumer per mutated money domain
# (q_win_frame, not q_win_analytic: the analytic lag/lead family
# carries o_totalprice as a raw double — huge values flow through
# bitwise-symmetric untouched; the cents paths are the quarantining
# surface), plus the two pandas kernels whose numpy int64 casts WRAP
# silently without the kernel-side mask
HUGE_QUARANTINE_QIDS = (
    "q_agg_hash",         # lineitem.l_extendedprice cents sum
    "q_win_frame",        # orders.o_totalprice cents running windows
    "q_attribution",      # events.value cents credit (cents_sql)
    "q_benford_test",     # the saturated-digit finder (digit '9')
    "q_case_when",        # the rhu() saturation finder
    "q_udf_grouped_map",  # numpy astype(int64) wrap -> kernel mask
    "q_udf_cogrouped",    # cents gathered through the as-of kernel
)


@pytest.fixture(scope="module")
def huge_dir(sf_smoke):
    return materialize_slice(
        sf_smoke, seed=53, keep_permille=700, extval=HUGE_EXTVAL
    )


def test_huge_slice_dq_detects(spark, huge_dir):
    """q_dq_checks itself must SURVIVE the huge slice (its predicates
    are pure double comparisons), match its oracle bitwise, and flag
    violations in all three *_fits_fixed_point rows."""
    fn, sql = REG["q_dq_checks"]
    con = connect_oracle(huge_dir)
    try:
        assert compare(spark, con, fn, sql, huge_dir) == []
    finally:
        con.close()
    rows = {
        r.check_name: r for r in fn(spark, huge_dir).collect()
    }
    for check in (
        "lineitem_money_fits_fixed_point",
        "orders_totalprice_fits_fixed_point",
        "events_value_fits_fixed_point",
    ):
        assert rows[check].n_violations > 0, check
        assert rows[check]["pass"] is False, check
    # the huge words are finite: the *_finite checks must stay clean
    for check in (
        "lineitem_money_finite",
        "orders_totalprice_finite",
        "events_value_finite",
    ):
        assert rows[check].n_violations == 0, check


@pytest.mark.parametrize("qid", HUGE_QUARANTINE_QIDS)
def test_huge_slice_quarantine_parity(qid, spark, huge_dir):
    """The quarantine half, probed: the representative cents consumers
    must treat the huge word as a NULL measurement and keep matching
    their oracles bitwise — neither engine may crash (the pre-r12
    DuckDB surface) nor silently saturate (the pre-r12 Spark one)."""
    fn, sql = REG[qid]
    con = connect_oracle(huge_dir)
    try:
        assert compare(spark, con, fn, sql, huge_dir) == []
    finally:
        con.close()


# --- time-bounds horizon edges (r12: --extval tshorizon) ----------------------
#
# The obs substrate quarantines timestamps outside the half-open
# validity horizon [2000-01-01, 2100-01-01) (obs.py OBS_TIME_MIN/MAX,
# the r11 watermark-poisoning fix). The r11 axis proved the far
# sentinels (1970, 2199); this axis locks the BOUNDARY itself bitwise:
# each selected events.ts becomes one of {AT min (IN), max-1s (IN),
# min-1s (OUT), AT max (OUT — half-open)}, key-hash-chosen. The IN
# stamps stretch every per-station grid/window span to a century —
# the gapfill/interpolate grids go to ~3.5M slots/station on BOTH
# engines (defined min->max semantics, still bounded) — while the OUT
# stamps must quarantine exactly like NULL ts on every consumer.
HORIZON_QIDS = (
    "q_rollup_hypertable",   # (station, day) ca levels at the edges
    "q_rain_daily_delta",    # day-boundary deltas at the horizon ends
    "q_stream_tumbling",     # watermark span 2000->2099 (IN stamps)
    "q_stream_watermark",    # explicit late-data machine at the edges
    "q_stream_stateful",     # per-key state across the century span
    "q_time_weighted_avg",   # trapezoid integral across the span
)

# The two grid exploders pin the OUT-only variant: an IN edge stamp
# stretches their per-station grid to a century (~3.5M slots/station,
# a 14M-row bitwise compare — 1462 s + 815 s of suite time when they
# rode the full-edge fixture). The quarantine boundary is identical
# either side; the century-grid IN path runs registry-wide per round
# (artifacts/FUZZPARITY_r12_tshorizon_sf0.001.log) where the one-off
# cost is paid once, not per pytest run.
HORIZON_OUT_QIDS = (
    "q_ts_gapfill",          # grid + LOCF; OUT stamps quarantine
    "q_ts_interpolate",      # grid + the O(n) fwd-carry fix
)


@pytest.fixture(scope="module")
def horizon_dir(sf_smoke):
    return materialize_slice(
        sf_smoke,
        seed=59,
        keep_permille=700,
        extval={("events", "ts", "tshorizon"): 120},
    )


@pytest.fixture(scope="module")
def horizon_out_dir(sf_smoke):
    return materialize_slice(
        sf_smoke,
        seed=59,
        keep_permille=700,
        extval={("events", "ts", "tshorizon_out"): 120},
    )


@pytest.mark.parametrize("qid", HORIZON_QIDS)
def test_horizon_edge_slice_parity(qid, spark, horizon_dir):
    fn, sql = REG[qid]
    con = connect_oracle(horizon_dir)
    try:
        assert compare(spark, con, fn, sql, horizon_dir) == []
    finally:
        con.close()


@pytest.mark.parametrize("qid", HORIZON_OUT_QIDS)
def test_horizon_out_slice_parity(qid, spark, horizon_out_dir):
    fn, sql = REG[qid]
    con = connect_oracle(horizon_out_dir)
    try:
        assert compare(spark, con, fn, sql, horizon_out_dir) == []
    finally:
        con.close()
