"""``io.sql_frame``: each SQL-text builder's text is parsed and analysed
once per session, input file versions and analysis confs, while every
build still returns a Dataset of its own that runs its whole plan."""

from __future__ import annotations

import glob
import os
import re
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from metoffice_spark import io
from metoffice_spark.obs import observations
from metoffice_spark.operators.ingest import _WOW_PAYLOAD_SPARK_SQL, wow_payload
from metoffice_spark.operators.weather import ORACLE_DEWPOINT
from metoffice_spark.registry import all_oracles, all_queries

_ROOT = os.path.join(os.path.dirname(__file__), "..")


def _phases(df) -> set[str]:
    return set(df._jdf.queryExecution().tracker().phases().keys().mkString(",").split(","))


def _jobs_and_stages(spark, df, group: str) -> tuple[int, int]:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    status = sc.statusTracker()
    jobs = status.getJobIdsForGroup(group)
    return len(jobs), sum(len(status.getJobInfo(j).stageIds) for j in jobs)


def _build(spark, qid: str, sf_dir: str):
    return all_queries()[qid](spark, sf_dir)


def test_each_build_runs_its_whole_plan(spark, sf_smoke):
    first = _build(spark, "q_sink_http_form", sf_smoke)
    second = _build(spark, "q_sink_http_form", sf_smoke)
    assert first is not second
    assert _jobs_and_stages(spark, first, "sql-frame-first") == _jobs_and_stages(
        spark, second, "sql-frame-second"
    )


def test_rewritten_file_is_read_on_the_next_build(spark, sf_smoke, tmp_path):
    path = str(tmp_path / "events.parquet")
    shutil.copy(io.table_path(sf_smoke, "events"), path)
    before = {r.obs_id for r in _build(spark, "q_fn_dewpoint", str(tmp_path)).collect()}
    # Twice the rows in small row groups: a plan kept from the first
    # file would read it with the old file length and miss the new ones.
    table = pq.read_table(path)
    ids = table.column("event_id")
    more = table.set_column(0, "event_id", pc.add(ids, pc.max(ids)))
    pq.write_table(pa.concat_tables([table, more]), path, row_group_size=table.num_rows // 8)
    after = {r.obs_id for r in _build(spark, "q_fn_dewpoint", str(tmp_path)).collect()}
    expected = {r.obs_id for r in observations(spark, str(tmp_path)).collect()}
    assert after == expected
    assert after > before


def test_direct_call_follows_zone_and_ansi(spark, sf_smoke, tmp_path):
    # A zone-aware ts (the testdata's is zone-less, read through a cast
    # that makes the payload's wall-clock strings the same in any zone).
    table = pq.read_table(io.table_path(sf_smoke, "events"))
    ts = table.column("ts").cast(pa.timestamp("us", tz="UTC"))
    pq.write_table(table.set_column(table.schema.get_field_index("ts"), "ts", ts),
                   str(tmp_path / "events.parquet"))
    sf_dir = str(tmp_path)

    def dateutc():
        rows = wow_payload(spark, sf_dir).select("obs_id", "dateutc").collect()
        return dict(sorted(rows)[:5])

    zone, ansi = "spark.sql.session.timeZone", "spark.sql.ansi.enabled"
    saved = {k: spark.conf.get(k) for k in (zone, ansi)}
    try:
        spark.conf.set(zone, "UTC")
        utc = dateutc()
        spark.conf.set(zone, "America/New_York")
        new_york = dateutc()
        assert new_york.keys() == utc.keys()
        assert all(new_york[k] != utc[k] for k in utc)

        spark.conf.set(zone, "UTC")
        wow_payload(spark, sf_dir)
        kept = io._FRAMES[_WOW_PAYLOAD_SPARK_SQL][1]
        spark.conf.set(ansi, "false" if saved[ansi] == "true" else "true")
        spark.catalog.dropTempView("events")
        wow_payload(spark, sf_dir)
        assert io._FRAMES[_WOW_PAYLOAD_SPARK_SQL][1] is not kept
        assert spark.catalog.tableExists("events")
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_hit_skips_parsing_and_registers_no_views(spark, sf_smoke):
    _build(spark, "q_sink_http_form", sf_smoke)
    spark.catalog.dropTempView("events")
    hit = _build(spark, "q_sink_http_form", sf_smoke)
    assert "analysis" in _phases(hit) and "parsing" not in _phases(hit)
    assert not spark.catalog.tableExists("events")


def test_one_entry_per_text_across_sf_dirs(spark, sf_smoke, sf_correct):
    held = len(io._FRAMES)
    counts = [
        _build(spark, "q_fn_dewpoint", sf_dir).count()
        for sf_dir in (sf_smoke, sf_correct, sf_smoke)
    ]
    assert len(io._FRAMES) <= held + 1
    assert ORACLE_DEWPOINT in io._FRAMES
    assert counts[0] == counts[2] != counts[1]


def test_two_builds_join_by_name(spark, sf_smoke):
    a = _build(spark, "q_sink_http_form", sf_smoke)
    b = _build(spark, "q_sink_http_form", sf_smoke)
    joined = a.join(b.select("obs_id"), "obs_id")
    assert sorted(joined.collect()) == sorted(a.collect())


def test_only_sql_frame_registers_views():
    """A view registered by a builder is there only on a miss, so the
    SQL-text builders go through ``io.sql_frame`` and nothing else
    under metoffice_spark/ calls ``register_views``."""
    call = re.compile(r"(?<!def )\bregister_views\(")
    callers = []
    for path in glob.glob(os.path.join(_ROOT, "metoffice_spark", "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, _ROOT)
        with open(path) as f:
            callers += [f"{rel}:{n}" for n, line in enumerate(f, 1) if call.search(line)]
    (site,) = callers
    assert site.startswith(os.path.join("metoffice_spark", "io.py") + ":")
    with open(os.path.join(_ROOT, "metoffice_spark", "io.py")) as f:
        lines = f.read().splitlines()
    line = int(site.rsplit(":", 1)[1])
    defs = [ln for ln in lines[:line] if ln.startswith("def ")]
    assert defs[-1].startswith("def sql_frame(")


# Builders that run their oracle text: Spark runs the text as written,
# and it won a measured A/B against the Column-DSL builder it replaced
# (the tables are under artifacts/).
_ORACLE_TEXT_QIDS = (
    "q_win_lag", "q_win_first_of_day", "q_rain_daily_delta", "q_rain_rate",
    "q_sink_state_upsert", "q_src_state_table", "q_join_state_lookup",
    "q_scan_parquet", "q_filter_predicate", "q_project_compute", "q_project_nested",
    "q_agg_distinct", "q_join_semi_anti", "q_win_rank", "q_win_analytic", "q_sort",
    "q_topk", "q_set_union", "q_set_intersect", "q_set_except", "q_fn_math_suite",
    "q_fn_date_extract", "q_set_bag", "q_fn_null_suite",
    "q_event_paths", "q_l_diversity", "q_rare_label_encode", "q_cov_stats",
    "q_win_ewma", "q_win_distribution", "q_mode_agg", "q_funnel_steps",
    "q_olap_parts_suppliers", "q_fn_num_coerce", "q_sink_error_alert",
    "q_split_train_val", "q_text_langid", "q_cdc_diff", "q_dp_release",
    "q_k_anonymity", "q_dedup_incremental", "q_ts_autocorr", "q_cdc_apply",
    "q_time_travel", "q_ab_ztest", "q_simpson_check",
)


@pytest.mark.parametrize("qid", _ORACLE_TEXT_QIDS)
def test_builder_runs_its_oracle_text(spark, sf_smoke, qid):
    """One spelling per query: the build analyses exactly the oracle's
    text, so a Column-DSL copy of it cannot grow back unnoticed."""
    io._FRAMES.clear()
    _build(spark, qid, sf_smoke)
    assert list(io._FRAMES) == [all_oracles()[qid]]
