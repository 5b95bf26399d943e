"""Semantic property tests for the round-5 wave: §2.17 classification
/ retrieval (operators/classify.py), §2.18 behavioral analytics + CDC
apply (operators/behavior.py), §2.19 sketch set operations
(operators/sketches.py), and the stream-static join. Bitwise oracle
parity is covered by tests/test_oracle_parity.py; these check the
properties the oracles cannot express (internal consistency, bounds,
merge == rebuild, attribution conservation)."""

from __future__ import annotations

import pytest


# --- §2.17 classify ----------------------------------------------------------


def test_nb_langid_confusion_covers_all_docs(spark, sf_smoke):
    """Every document lands in exactly one confusion cell, and the
    diagonal dominates (self-training on separable langs must beat
    chance by a wide margin)."""
    from metoffice_spark.io import load
    from metoffice_spark.operators.classify import q_nb_langid

    rows = q_nb_langid(spark, sf_smoke).collect()
    n_docs = load(spark, sf_smoke, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    diag = sum(r["n_docs"] for r in rows if r["actual_lang"] == r["pred_lang"])
    langs = {r["actual_lang"] for r in rows}
    # strictly better than the uniform-guess baseline
    assert diag * len(langs) > n_docs


def test_quality_classifier_mean_consistency(spark, sf_smoke):
    """mean_w is exactly score/n (IEEE), keep == (score >= 0), and all
    documents are scored."""
    from metoffice_spark.io import load
    from metoffice_spark.operators.classify import q_quality_classifier

    rows = q_quality_classifier(spark, sf_smoke).collect()
    assert len(rows) == load(spark, sf_smoke, "documents").count()
    for r in rows:
        assert r["keep"] == (r["score_fp"] >= 0)
        assert r["mean_w"] == r["score_fp"] / max(r["n_tokens"], 1)
        # bucket weights are in [-128, 127], so the mean must be too
        assert -128.0 <= r["mean_w"] <= 127.0


def test_dedup_lines_fraction_bounds(spark, sf_smoke):
    """dup spans never exceed distinct spans, the fixed-point fraction
    is the exact integer quotient, and keep matches the threshold."""
    from metoffice_spark.operators.classify import q_dedup_lines

    rows = q_dedup_lines(spark, sf_smoke).collect()
    assert rows
    assert any(r["n_spans"] > 0 for r in rows)
    for r in rows:
        assert 0 <= r["n_dup_spans"] <= r["n_spans"]
        assert r["dup_frac_fp"] == (
            1_000_000 * r["n_dup_spans"] // max(r["n_spans"], 1)
        )
        assert r["keep"] == (r["dup_frac_fp"] < 500_000)


def test_bool_retrieval_set_algebra(spark, sf_smoke):
    """AND <= each operand, OR >= each operand, AND-NOT <= positive
    operand — recomputed exactly from raw membership."""
    from metoffice_spark.io import load
    from metoffice_spark.operators.classify import q_bool_retrieval

    rows = {r["query_id"]: r for r in q_bool_retrieval(spark, sf_smoke).collect()}
    docs = load(spark, sf_smoke, "documents").select("doc_id", "text").collect()

    def has(text, term):
        import re

        return term in [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]

    a_and = sum(1 for d in docs if has(d["text"], "join") and has(d["text"], "filter"))
    a_or = sum(1 for d in docs if has(d["text"], "stream") or has(d["text"], "window"))
    a_not = sum(1 for d in docs if has(d["text"], "data") and not has(d["text"], "slow"))
    assert rows["join AND filter"]["n_hits"] == a_and
    assert rows["stream OR window"]["n_hits"] == a_or
    assert rows["data AND NOT slow"]["n_hits"] == a_not
    for r in rows.values():
        hits = [h for h in r["first_hits"].split("|") if h]
        assert len(hits) == min(r["n_hits"], 5)


# --- §2.18 behavior ----------------------------------------------------------


def test_attribution_conserves_purchases(spark, sf_smoke):
    """Every purchase is attributed exactly once: channel counts and
    cents sum to the raw purchase totals."""
    from metoffice_spark.io import load
    from metoffice_spark.operators.behavior import q_attribution
    from pyspark.sql import functions as F

    rows = q_attribution(spark, sf_smoke).collect()
    ev = load(spark, sf_smoke, "events").filter(F.col("event_type") == "purchase")
    totals = ev.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr("cast(floor(value * 100 + 0.5) as bigint)")).alias("cents"),
    ).collect()[0]
    assert sum(r["n_conversions"] for r in rows) == totals["n"]
    assert sum(r["revenue_cents"] for r in rows) == totals["cents"]
    assert {r["channel"] for r in rows} <= {"view", "click", "none"}


def test_markov_rows_sum_to_one(spark, sf_smoke):
    """Transition counts per cur_type sum to the out-degree, and the
    fixed-point probabilities of a row sum to ~1 (floor loss < n)."""
    from collections import defaultdict

    from metoffice_spark.operators.behavior import q_markov_transitions

    rows = q_markov_transitions(spark, sf_smoke).collect()
    assert rows
    by_cur = defaultdict(list)
    for r in rows:
        by_cur[r["cur_type"]].append(r)
    for cur, rs in by_cur.items():
        total = sum(r["n_trans"] for r in rs)
        for r in rs:
            assert r["p_fp"] == 1_000_000 * r["n_trans"] // total
        s = sum(r["p_fp"] for r in rs)
        assert 1_000_000 - len(rs) < s <= 1_000_000


def test_autocorr_is_valid_correlation(spark, sf_smoke):
    """|acf| <= 1 and the moment sums are internally consistent
    (Cauchy-Schwarz on the exact integers)."""
    from metoffice_spark.operators.behavior import q_ts_autocorr

    rows = q_ts_autocorr(spark, sf_smoke).collect()
    assert rows
    assert {r["lag"] for r in rows} == {1, 2}
    for r in rows:
        assert r["n"] >= 2
        cov = r["n"] * r["sxy"] - r["sx"] * r["sy"]
        vx = r["n"] * r["sxx"] - r["sx"] * r["sx"]
        vy = r["n"] * r["syy"] - r["sy"] * r["sy"]
        assert vx >= 0 and vy >= 0
        assert cov * cov <= vx * vy  # Cauchy-Schwarz, exact ints
        assert abs(r["acf"]) <= 1.0 + 1e-12


def test_changepoint_peak_is_max(spark, sf_smoke):
    """The reported peak equals the max |cusum| recomputed from the
    daily series, with the earliest-day tie-break."""
    from collections import defaultdict

    from metoffice_spark.io import load
    from metoffice_spark.operators.behavior import q_ts_changepoint
    from pyspark.sql import functions as F

    rows = {r["event_type"]: r for r in q_ts_changepoint(spark, sf_smoke).collect()}
    daily = (
        load(spark, sf_smoke, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    series = defaultdict(list)
    for r in daily:
        series[r["event_type"]].append((r["day"], r["cnt"]))
    for et, pts in series.items():
        pts.sort()
        total = sum(c for _, c in pts)
        mean_fp = 1_000_000 * total // len(pts)
        cusum, best = 0, None
        for day, c in pts:
            cusum += 1_000_000 * c - mean_fp
            if best is None or abs(cusum) > best[0]:
                best = (abs(cusum), day, "up" if cusum >= 0 else "down")
        got = rows[et]
        assert got["n_days"] == len(pts)
        assert got["peak_abs_cusum_fp"] == best[0]
        assert got["cp_day"] == best[1]
        assert got["direction"] == best[2]


def test_cdc_apply_matches_direct_simulation(spark, sf_smoke):
    """Replaying the synthesized changelog in plain Python produces
    the same per-nation survivors and balances."""
    from collections import defaultdict

    from metoffice_spark.io import load
    from metoffice_spark.operators.behavior import q_cdc_apply

    rows = {r["c_nationkey"]: r for r in q_cdc_apply(spark, sf_smoke).collect()}
    cust = load(spark, sf_smoke, "customer").collect()
    final = {}
    for c in cust:
        k = c["c_custkey"]
        cents = int((c["c_acctbal"] * 100 + 0.5) // 1)
        state = ("I", cents)  # v1
        if k % 13 == 0:  # v2 delete wins over v2 update
            state = None
        elif k % 7 == 0:
            state = ("U", cents + 10000)
        if k % 26 == 0:
            state = ("I", 0)  # v3 re-insert
        elif k % 5 == 0 and state is not None:
            state = ("U", cents + 5000)
        elif k % 5 == 0 and state is None:
            # deleted at v2 and NOT re-inserted: the v3 update still
            # wins last-writer-wins (it is the latest record)
            state = ("U", cents + 5000)
        if state is not None:
            final[k] = (c["c_nationkey"], state[1])
    agg = defaultdict(lambda: [0, 0])
    for nk, cents in final.values():
        agg[nk][0] += 1
        agg[nk][1] += cents
    assert set(agg) == set(rows)
    for nk, (n, cents) in agg.items():
        assert rows[nk]["n_customers"] == n
        assert rows[nk]["balance_cents"] == cents


# --- §2.19 sketches ----------------------------------------------------------


def test_sketch_setops_estimates_bracket_truth(spark, sf_smoke):
    """KMV estimates carry the right invariants: common-in-k <= k,
    jaccard_fp is the exact quotient, est_inter = jaccard * est_union,
    and exact_inter <= exact_union."""
    from metoffice_spark.operators.sketches import _KMV_K, q_sketch_setops

    rows = q_sketch_setops(spark, sf_smoke).collect()
    assert len(rows) == 3
    for r in rows:
        assert 0 <= r["n_common_k"] <= _KMV_K
        assert r["jaccard_fp"] == 1_000_000 * r["n_common_k"] // _KMV_K
        assert r["est_union"] > 0
        expect_inter = (r["n_common_k"] / _KMV_K) * r["est_union"]
        assert r["est_inter"] == pytest.approx(expect_inter, rel=1e-12)
        assert 0 <= r["exact_inter"] <= r["exact_union"]
        # k=32 KMV: generous 3-sigma-ish sanity band vs truth
        assert r["est_union"] == pytest.approx(r["exact_union"], rel=0.75)


def test_hll_merge_equals_rebuild(spark, sf_smoke):
    """The core mergeability property: zero register mismatches and
    bitwise-equal estimates."""
    from metoffice_spark.operators.sketches import q_sketch_hll_merge

    row = q_sketch_hll_merge(spark, sf_smoke).collect()[0]
    assert row["n_register_mismatch"] == 0
    assert row["est_merged"] == row["est_direct"]
    assert row["n_types"] >= 2
    assert row["n_exact"] >= 1


# --- round 5b ----------------------------------------------------------------


def test_mmr_first_pick_is_most_relevant(spark, sf_smoke):
    """Rank 1 is the relevance argmax (doc_id tie-break), ranks are
    dense 1..5 over distinct docs, and every later mmr_fp <= its own
    rel_fp (subtracting a non-negative max-similarity)."""
    from metoffice_spark.operators.classify import _MMR_K, q_mmr_diversify

    rows = sorted(q_mmr_diversify(spark, sf_smoke).collect(), key=lambda r: r["rnk"])
    assert [r["rnk"] for r in rows] == list(range(1, _MMR_K + 1))
    assert len({r["doc_id"] for r in rows}) == _MMR_K
    assert rows[0]["mmr_fp"] == rows[0]["rel_fp"]
    best_rel = max(r["rel_fp"] for r in rows)
    assert rows[0]["rel_fp"] == best_rel
    for r in rows[1:]:
        assert r["mmr_fp"] <= r["rel_fp"]


def test_rolling_median_window_is_exact(spark, sf_smoke):
    """med7 equals the lower median of the trailing window recomputed
    in Python from the daily series."""
    from collections import defaultdict

    from metoffice_spark.operators.behavior import q_win_rolling_median

    rows = q_win_rolling_median(spark, sf_smoke).collect()
    series = defaultdict(list)
    for r in sorted(rows, key=lambda r: (r["event_type"], r["day"])):
        series[r["event_type"]].append(r)
    for rs in series.values():
        for i, r in enumerate(rs):
            frame = sorted(x["cnt"] for x in rs[max(0, i - 6) : i + 1])
            assert r["med7"] == frame[(len(frame) + 1) // 2 - 1]


def test_link_editdist_symmetric_and_bounded(spark, sf_smoke):
    """Pairs are ordered (name_a < name_b), distances within the
    cutoff, never zero (distinct names), and the fan-out product
    matches the counts."""
    from metoffice_spark.operators.linkage import _LINK_MAXDIST, q_link_editdist

    rows = q_link_editdist(spark, sf_smoke).collect()
    assert rows
    for r in rows:
        assert r["name_a"] < r["name_b"]
        assert 1 <= r["dist"] <= _LINK_MAXDIST
        assert r["n_record_pairs"] == r["n_parts_a"] * r["n_parts_b"]


def test_skew_diag_matches_recount(spark, sf_smoke):
    """Every reported statistic recomputed from the raw per-key
    counts."""
    from collections import Counter

    from metoffice_spark.io import load
    from metoffice_spark.operators.linkage import q_skew_diag

    row = q_skew_diag(spark, sf_smoke).collect()[0]
    ev = load(spark, sf_smoke, "events").select("user_id").collect()
    freq = Counter(r["user_id"] for r in ev)
    counts = sorted(freq.values())
    n = len(counts)
    assert row["n_keys"] == n
    assert row["total_rows"] == sum(counts)
    assert row["max_cnt"] == max(counts)
    assert row["p50_cnt"] == counts[(1 * n + 1) // 2 - 1]
    assert row["p90_cnt"] == counts[(9 * n + 9) // 10 - 1]
    assert row["p99_cnt"] == counts[(99 * n + 99) // 100 - 1]
    hot = min((k for k, v in freq.items() if v == max(counts)))
    assert row["top_key"] == hot
    assert row["skew_ratio_fp"] == 1_000_000 * max(counts) * n // sum(counts)


def test_skew_diag_empty_events_yields_zero_rows(spark, sf_smoke, tmp_path):
    """Degenerate-input parity (ADVICE r06): on an EMPTY events table
    the ungrouped base aggregate still produces one row (n_keys=0,
    NULL stats) but the DuckDB oracle's CROSS JOINs to empty percentile
    picks produce zero — the n_keys > 0 guard must make Spark agree."""
    import pyarrow.parquet as pq

    from metoffice_spark.io import table_path
    from metoffice_spark.operators.linkage import q_skew_diag

    src = pq.read_table(table_path(sf_smoke, "events"))
    pq.write_table(src.slice(0, 0), str(tmp_path / "events.parquet"))
    assert q_skew_diag(spark, str(tmp_path)).count() == 0


def test_triangles_match_networkless_recount(spark, sf_smoke):
    """Triangle and wedge counts recomputed from the raw edge set in
    Python; each triangle closes exactly one ordered wedge."""
    from itertools import combinations

    from metoffice_spark.io import load
    from metoffice_spark.operators.scale import q_graph_triangles

    row = q_graph_triangles(spark, sf_smoke).collect()[0]
    li = load(spark, sf_smoke, "lineitem").select("l_orderkey", "l_partkey").collect()
    from collections import defaultdict

    by_order = defaultdict(set)
    for r in li:
        by_order[r["l_orderkey"]].add(r["l_partkey"])
    edges = set()
    for parts in by_order.values():
        for a, b in combinations(sorted(parts), 2):
            edges.add((a, b))
    nodes = {n for e in edges for n in e}
    wedges = sum(
        1
        for (a, b) in edges
        for (b2, c) in edges
        if b2 == b
    )
    tris = sum(
        1
        for (a, b) in edges
        for (b2, c) in edges
        if b2 == b and (a, c) in edges
    )
    assert row["n_nodes"] == len(nodes)
    assert row["n_edges"] == len(edges)
    assert row["n_wedges"] == wedges
    assert row["n_triangles"] == tris
    assert row["closure_fp"] == 1_000_000 * tris // max(wedges, 1)


# --- §2.21 evaluation --------------------------------------------------------


def test_eval_pr_curve_shape(spark, sf_smoke):
    """Recall is non-decreasing in depth, reaches 1.0 at decile 10
    (k = n means every positive is captured), tp is non-decreasing,
    and precision/recall/F1 are the exact integer quotients."""
    from metoffice_spark.operators.evaluation import q_eval_pr

    rows = sorted(q_eval_pr(spark, sf_smoke).collect(), key=lambda r: r["decile"])
    assert [r["decile"] for r in rows] == list(range(1, 11))
    n_pos = None
    for prev, cur in zip(rows, rows[1:]):
        assert cur["k"] > prev["k"]
        assert cur["tp"] >= prev["tp"]
        assert cur["recall_fp"] >= prev["recall_fp"]
    last = rows[-1]
    assert last["recall_fp"] == 1_000_000  # decile 10 captures all positives
    for r in rows:
        assert 0 <= r["tp"] <= r["k"]
        assert r["precision_fp"] == 1_000_000 * r["tp"] // r["k"]


def test_ab_ztest_recount(spark, sf_smoke):
    """Counts, rates, z and significance recomputed from raw events."""
    import math

    from metoffice_spark.io import load
    from metoffice_spark.operators.evaluation import q_ab_ztest

    row = q_ab_ztest(spark, sf_smoke).collect()[0]
    ev = load(spark, sf_smoke, "events").select(
        "event_id", "event_type", "value"
    ).collect()
    n_a = sum(1 for e in ev if e["event_id"] % 2 == 0)
    x_a = sum(
        1
        for e in ev
        if e["event_id"] % 2 == 0
        and e["event_type"] == "purchase"
        and e["value"] > 100.0
    )
    n_b = len(ev) - n_a
    x_b = sum(
        1
        for e in ev
        if e["event_id"] % 2 == 1
        and e["event_type"] == "purchase"
        and e["value"] > 100.0
    )
    assert (row["n_a"], row["x_a"], row["n_b"], row["x_b"]) == (n_a, x_a, n_b, x_b)
    p = (x_a + x_b) / (n_a + n_b)
    z = (x_a / n_a - x_b / n_b) / math.sqrt(p * (1 - p) * (1 / n_a + 1 / n_b))
    assert row["z_stat"] == pytest.approx(z, rel=1e-12)
    assert row["significant"] == (abs(z) > 1.96)


# --- round 5c tail -----------------------------------------------------------


def test_hierarchy_expand_matches_arithmetic(spark, sf_smoke):
    """Depth and root recomputed by direct pointer-chasing; every row
    must have reached a root within the unrolled levels."""
    from metoffice_spark.operators.scale import q_hierarchy_expand

    rows = q_hierarchy_expand(spark, sf_smoke).collect()
    assert rows
    for r in rows:
        k, depth = r["c_custkey"], 0
        while k >= 10:
            k //= 10
            depth += 1
        assert r["reached_root"] is True
        assert r["root_key"] == k
        assert r["depth"] == depth


def test_pca_power_vector_properties(spark, sf_smoke):
    """64 dims, the normalized vector peaks at exactly +/-1000, and
    the Rayleigh estimate is positive (Gram matrices are PSD)."""
    from metoffice_spark.operators.mlalgebra import q_pca_power

    rows = q_pca_power(spark, sf_smoke).collect()
    assert len(rows) == 64
    mags = [abs(r["v_fp"]) for r in rows]
    assert max(mags) == 1000  # renormalized each round
    assert all(m <= 1000 for m in mags)
    assert rows[0]["eigval_est"] > 0
    assert len({r["eigval_est"] for r in rows}) == 1  # broadcast scalar


def test_seasonal_profile_shares_sum(spark, sf_smoke):
    """Cells cover all events; shares are the exact quotients and sum
    to ~1e6 (floor loss < number of cells); dow/hr in range."""
    from metoffice_spark.io import load
    from metoffice_spark.operators.behavior import q_ts_seasonal_profile

    rows = q_ts_seasonal_profile(spark, sf_smoke).collect()
    n_total = load(spark, sf_smoke, "events").count()
    assert sum(r["n_events"] for r in rows) == n_total
    assert len(rows) <= 168
    for r in rows:
        assert 0 <= r["dow"] <= 6 and 0 <= r["hr"] <= 23
        assert r["share_fp"] == 1_000_000 * r["n_events"] // n_total
    s = sum(r["share_fp"] for r in rows)
    assert 1_000_000 - len(rows) < s <= 1_000_000


def test_stats_collect_skip_flags_are_safe(spark, sf_smoke):
    """A file flagged could-skip must contain ZERO actual matches
    (skipping must never lose rows), and rows/actuals recount."""
    from metoffice_spark.operators.quality import q_stats_collect

    rows = q_stats_collect(spark, sf_smoke).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_actual"] <= r["n_rows"]
        if r["could_skip"]:
            assert r["n_actual"] == 0
        assert r["q_min_fp"] <= r["q_max_fp"]
        assert r["sd_min"] <= r["sd_max"]
        assert r["n_est_fp"] >= 0


# --- round 5d ----------------------------------------------------------------


def test_pattern_match_recount(spark, sf_smoke):
    """Sequence strings and greedy non-overlapping match counts
    recomputed in Python regex over the ordered event stream."""
    import re
    from collections import defaultdict

    from metoffice_spark.io import load
    from metoffice_spark.operators.behavior import _PM_PATTERN, q_pattern_match

    rows = {r["user_id"]: r for r in q_pattern_match(spark, sf_smoke).collect()}
    ev = load(spark, sf_smoke, "events").select(
        "user_id", "ts", "event_id", "event_type"
    ).collect()
    streams = defaultdict(list)
    for e in ev:
        streams[e["user_id"]].append((e["ts"], e["event_id"], e["event_type"][0]))
    for uid, evs in streams.items():
        seq = "".join(ch for _, _, ch in sorted(evs))
        got = rows[uid]
        assert got["seq_len"] == len(seq)
        assert got["n_matches"] == len(re.findall(_PM_PATTERN, seq))
        assert got["converted"] == (got["n_matches"] > 0)


def test_percentile_cont_brackets(spark, sf_smoke):
    """The interpolated value lies in [v_lo, v_hi], v_lo <= v_hi, and
    the exact integer interpolation reproduces in Python."""
    from metoffice_spark.operators.analytics import _PCTC, q_percentile_cont

    rows = q_percentile_cont(spark, sf_smoke).collect()
    assert len(rows) == 5 * len(_PCTC)  # 5 event types x 3 percentiles
    dens = {label: den for label, _, den in _PCTC}
    nums = {label: num for label, num, _ in _PCTC}
    for r in rows:
        assert r["v_lo"] <= r["v_hi"]
        assert r["v_lo"] <= r["cont_fp"] <= r["v_hi"]
        rem = (r["n"] - 1) * nums[r["pct"]] % dens[r["pct"]]
        assert r["cont_fp"] == r["v_lo"] + rem * (r["v_hi"] - r["v_lo"]) // dens[
            r["pct"]
        ]


def test_win_range_interval_recount(spark, sf_smoke):
    """Trailing-1h counts recomputed over floored epoch seconds with
    peer-inclusive RANGE semantics."""
    from collections import defaultdict

    from metoffice_spark.io import load
    from metoffice_spark.operators.behavior import q_win_range_interval

    rows = q_win_range_interval(spark, sf_smoke).collect()
    ev = load(spark, sf_smoke, "events").select("user_id", "ts", "event_id").collect()
    per_user = defaultdict(list)
    for e in ev:
        per_user[e["user_id"]].append(int(e["ts"].timestamp()))
    by_key = {(r["user_id"], r["event_id"]): r for r in rows}
    for e in ev:
        secs = per_user[e["user_id"]]
        t = int(e["ts"].timestamp())
        expect = sum(1 for s in secs if t - 3599 <= s <= t)
        assert by_key[(e["user_id"], e["event_id"])]["n_trailing_1h"] == expect


def test_bitmap_distinct_equals_exact(spark, sf_smoke):
    """The popcount sum must EQUAL the exact distinct count for every
    group (bitmaps are exact, not estimates)."""
    from metoffice_spark.operators.sketches import q_agg_bitmap_distinct

    rows = q_agg_bitmap_distinct(spark, sf_smoke).collect()
    assert rows
    for r in rows:
        assert r["n_distinct_bitmap"] == r["n_distinct_exact"]
        assert r["n_words"] >= 1


def test_pseudonymize_profile_holds(spark, sf_smoke):
    """Every bucket's raw and tokenized customer counts match and the
    mapping is injective."""
    from metoffice_spark.operators.quality import q_pseudonymize

    rows = q_pseudonymize(spark, sf_smoke).collect()
    assert rows
    for r in rows:
        assert r["profile_match"] is True
        assert r["n_keys"] == r["n_pseudonyms"]


def test_collab_filter_ranked_and_bounded(spark, sf_smoke):
    """Per-anchor rank is dense 1..k<=5 with non-increasing lift, and
    lift is the exact integer quotient of its support counts."""
    from collections import defaultdict

    from metoffice_spark.io import load
    from metoffice_spark.operators.analytics import q_collab_filter

    rows = q_collab_filter(spark, sf_smoke).collect()
    assert rows
    baskets = (
        load(spark, sf_smoke, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .collect()
    )
    n_orders = len({b["l_orderkey"] for b in baskets})
    from collections import Counter

    part_cnt = Counter(b["l_partkey"] for b in baskets)
    per_anchor = defaultdict(list)
    for r in rows:
        per_anchor[r["pa"]].append(r)
        assert r["co_cnt"] >= 2
        assert r["lift_fp"] == 1_000_000 * r["co_cnt"] * n_orders // (
            part_cnt[r["pa"]] * part_cnt[r["pb"]]
        )
    for rs in per_anchor.values():
        rs.sort(key=lambda r: r["rnk"])
        assert [r["rnk"] for r in rs] == list(range(1, len(rs) + 1))
        lifts = [r["lift_fp"] for r in rs]
        assert lifts == sorted(lifts, reverse=True)


def test_winsorize_bounds_and_counts(spark, sf_smoke):
    """Winsorized mean lies within [p05, p95], clipped counts are
    consistent, and clipping reduces (or keeps) spread."""
    from metoffice_spark.operators.analytics import q_winsorize

    rows = q_winsorize(spark, sf_smoke).collect()
    assert rows
    for r in rows:
        assert r["p05_fp"] <= r["p95_fp"]
        assert r["p05_fp"] <= r["mean_winsor_fp"] <= r["p95_fp"]
        assert 0 <= r["n_clipped_lo"] < r["n"]
        assert 0 <= r["n_clipped_hi"] < r["n"]


def test_metric_decompose_reconciles_exactly(spark, sf_smoke):
    """volume + rate == delta bitwise for every type, and the period
    splits cover the full corpus."""
    from metoffice_spark.io import load
    from metoffice_spark.operators.analytics import q_metric_decompose

    rows = q_metric_decompose(spark, sf_smoke).collect()
    assert rows
    total_rows = load(spark, sf_smoke, "events").count()
    assert sum(r["n1"] + r["n2"] for r in rows) == total_rows
    for r in rows:
        assert r["volume_fp"] + r["rate_fp"] == r["delta_fp"]
        assert r["delta_fp"] == 1_000_000 * (r["c2"] - r["c1"])


def test_dp_release_noise_is_seeded_and_calibrated(spark, sf_smoke):
    """Identical across runs (seeded), release = count + noise, and
    |noise| stays within a loose Laplace tail bound for b=1."""
    from metoffice_spark.operators.quality import q_dp_release

    a = {r["event_type"]: r for r in q_dp_release(spark, sf_smoke).collect()}
    b = {r["event_type"]: r for r in q_dp_release(spark, sf_smoke).collect()}
    assert a.keys() == b.keys()
    for k in a:
        assert a[k]["noise_fp"] == b[k]["noise_fp"]
        assert a[k]["n_released_fp"] == 1_000_000 * a[k]["n_true"] + a[k]["noise_fp"]
        # Laplace(b=1): |noise| < 30 with prob 1 - 2e-14; md5 fractions
        # cannot hit the extreme tail closer than ~1e-10
        assert abs(a[k]["noise_fp"]) < 30_000_000


def test_bloom_file_index_never_misses(spark, sf_smoke):
    """A present (probe, file) pair must always be bloom-maybe (no
    false negatives), and false_positive is exactly maybe-and-absent."""
    from metoffice_spark.operators.quality import q_bloom_file_index

    rows = q_bloom_file_index(spark, sf_smoke).collect()
    assert rows
    assert any(r["actually_present"] for r in rows)
    for r in rows:
        if r["actually_present"]:
            assert r["bloom_maybe"] is True
        assert r["false_positive"] == (r["bloom_maybe"] and not r["actually_present"])


def test_time_travel_versions_nest(spark, sf_smoke):
    """AS OF 3 equals q_cdc_apply's final snapshot; deletions shrink
    version 2 relative to version 1."""
    from collections import defaultdict

    from metoffice_spark.operators.behavior import q_cdc_apply, q_time_travel

    rows = q_time_travel(spark, sf_smoke).collect()
    per_v = defaultdict(dict)
    for r in rows:
        per_v[r["as_of_version"]][r["c_nationkey"]] = (
            r["n_customers"], r["balance_cents"]
        )
    final = {
        r["c_nationkey"]: (r["n_customers"], r["balance_cents"])
        for r in q_cdc_apply(spark, sf_smoke).collect()
    }
    assert per_v[3] == final
    assert sum(n for n, _ in per_v[2].values()) <= sum(
        n for n, _ in per_v[1].values()
    )


def test_profile_columns_recount(spark, sf_smoke):
    """Profile rows recomputed from raw values (as strings)."""
    from collections import Counter

    from metoffice_spark.io import load
    from metoffice_spark.operators.quality import _PROFILE_COLS, q_profile_columns

    rows = {r["col_name"]: r for r in q_profile_columns(spark, sf_smoke).collect()}
    assert set(rows) == set(_PROFILE_COLS)
    li = load(spark, sf_smoke, "lineitem").select(*_PROFILE_COLS).collect()
    for c in _PROFILE_COLS:
        vals = [str(x[c]) for x in li if x[c] is not None]
        cnt = Counter(vals)
        best = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
        r = rows[c]
        assert r["n_nonnull"] == len(vals)
        assert r["n_distinct"] == len(cnt)
        assert r["min_val"] == min(vals) and r["max_val"] == max(vals)
        assert (r["mode_val"], r["mode_cnt"]) == best


def test_knn_classify_separable_labels(spark, sf_smoke):
    """Every sampled query classified; majority accuracy beats the
    uniform-label baseline (embeddings cluster by label); vote count
    within [1, k]."""
    from metoffice_spark.io import load
    from metoffice_spark.operators.mlalgebra import _KNN_K, q_knn_classify

    rows = q_knn_classify(spark, sf_smoke).collect()
    n_queries = (
        load(spark, sf_smoke, "embeddings").filter("vec_id % 25 = 0").count()
    )
    assert len(rows) == n_queries
    n_labels = load(spark, sf_smoke, "embeddings").select("label").distinct().count()
    correct = sum(1 for r in rows if r["pred_label"] == r["actual_label"])
    assert correct * n_labels > len(rows)  # beats chance
    for r in rows:
        assert 1 <= r["n_votes"] <= _KNN_K


def test_olap_disjunctive_recount(spark, sf_smoke):
    """Band membership and revenue recomputed row-by-row in Python."""
    from metoffice_spark.io import load
    from metoffice_spark.operators.analytics import q_olap_disjunctive

    row = q_olap_disjunctive(spark, sf_smoke).collect()[0]
    part = {
        p["p_partkey"]: (p["p_brand"], p["p_size"])
        for p in load(spark, sf_smoke, "part").collect()
    }
    n, rev = 0, 0
    for li in load(spark, sf_smoke, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    ).collect():
        brand, size = part[li["l_partkey"]]
        q = li["l_quantity"]
        hit = (
            (brand == "Brand#1" and 1 <= size <= 15 and 1 <= q <= 15)
            or (brand == "Brand#2" and 10 <= size <= 30 and 10 <= q <= 30)
            or (brand == "Brand#3" and 20 <= size <= 50 and 20 <= q <= 45)
        )
        if hit:
            n += 1
            price = int(li["l_extendedprice"] * 100 + 0.5)
            disc = int(li["l_discount"] * 100 + 0.5)
            rev += price * (100 - disc) // 100
    assert row["n_lines"] == n
    assert row["revenue_cents"] == rev
