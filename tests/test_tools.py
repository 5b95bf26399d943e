"""The measuring tools under ``tools/``: the A/B harness's run order and
an end-to-end run of ``tools/measure.py``."""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))


def test_bench_ab_alternates_the_leader(monkeypatch, capsys):
    import bench_ab

    ran: list[str] = []

    def fake_run_once(tree: str) -> dict:
        ran.append(tree)
        return {"value": 1.0, "queries": {"q": 1.0}}

    monkeypatch.setattr(bench_ab, "run_once", fake_run_once)
    bench_ab.main(["A:/a", "B:/b", "4"])
    assert ran == ["/a", "/b", "/b", "/a", "/a", "/b", "/b", "/a"]
    leaders = [ln.rsplit("leader ", 1)[1] for ln in capsys.readouterr().out.splitlines()
               if ln.startswith("rep ")]
    assert leaders == ["A)", "A)", "B)", "B)", "A)", "A)", "B)", "B)"]


def test_measure_reports_one_record_per_qid(sf_smoke):
    env = dict(os.environ, PYTHONPATH=ROOT, SPARK_GRAFT_CPUS="2")
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "measure.py"), sf_smoke, "q_sink_http_form"],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    (line,) = proc.stdout.strip().splitlines()
    record = json.loads(line)
    assert {
        "qid", "wall_s", "error", "spark.jobs", "spark.stages", "spark.tasks",
        "spark.executor_run_s", "spark.executor_cpu_s", "spark.driver_gap_s",
        "shuffle.read_bytes", "shuffle.write_bytes", "shuffle.spill_bytes",
        "plan.exchanges", "python.eval_s", "plan.scans", "plan.joins", "plan.windows",
        "build_s", "build.parsing_ms", "build.analysis_ms", "cache.bytes", "warm",
    } <= set(record)
    assert record["qid"] == "q_sink_http_form" and record["error"] is None
    assert record["cache.bytes"] == 0  # the WOW publish persists nothing
    assert record["spark.jobs"] > 0
    warm = record["warm"]
    assert {"wall_s", "build_s", "build.analysis_ms", "spark.jobs", "cache.bytes"} <= set(warm)
    assert warm["error"] is None and warm["spark.jobs"] > 0
    assert warm["build.analysis_ms"] is not None


def _node(name: str, acc: int | None, *children: dict) -> dict:
    metrics = [] if acc is None else [{"name": "m", "accumulatorId": acc, "metricType": "sum"}]
    return {"nodeName": name, "children": list(children), "metrics": metrics}


def test_plan_shape_counts_a_cached_subtree_once():
    from measure import plan_shape

    def cached() -> dict:  # the same cached plan, as each scan of it reports it
        return _node("InMemoryRelation", 10,
                     _node("Exchange", 11, _node("Scan parquet ", 12)))

    plans = [
        _node("SortMergeJoin", 1,
              _node("InMemoryTableScan", 2, cached()),
              _node("InMemoryTableScan", 3, cached())),
        _node("Exchange", 4, _node("WholeStageCodegen (1)", None,
                                   _node("Window", 5, _node("InMemoryTableScan", 6, cached())))),
    ]
    shape = plan_shape(plans)
    assert shape["plan.scans"] == 1
    assert shape["plan.exchanges"] == 2
    assert shape["plan.joins"] == {"SortMergeJoin": 1}
    assert shape["plan.windows"] == 1
