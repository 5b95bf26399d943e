"""Self-tests of the benchmark.

    python3 -m pytest perfbench/tests -q

The smoke runs start a JVM each (about a minute apiece on 4 cores).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
from layers import LAYER_UNITS  # noqa: E402
from run import END_TO_END  # noqa: E402
from workloads import SMOKE_EVENTS, WORKLOADS  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _digest(tmp_path, seed: int, name: str) -> str:
    out = tmp_path / name
    gen.generate(str(out), seed, SMOKE_EVENTS)
    return gen.digest(str(out))


def test_same_seed_same_digest(tmp_path):
    assert _digest(tmp_path, 7, "a") == _digest(tmp_path, 7, "b")


def test_other_seed_other_digest(tmp_path):
    assert _digest(tmp_path, 7, "a") != _digest(tmp_path, 8, "b")


def test_events_marginals():
    t = gen.events(np.random.default_rng(3), 20_000).to_pandas()
    assert t["event_id"].is_unique
    assert t["ts"][t["ts"].dt.year > 1970].is_unique
    assert set(t["event_type"]) == set(gen.EVENT_TYPES)
    assert t["value"].max() <= 560.0
    assert (t["value"].dropna() == t["value"].dropna().round(2)).all()
    bad = t["value"].isna().sum() + (t["ts"].dt.year == 1970).sum()
    assert 0 < bad < 3 * gen.BAD_FRAC * len(t)


def test_metric_names_match_benchmark_json():
    spec = _spec()
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == LAYER_UNITS


def _run(workload: str, trace: int) -> tuple[dict, str]:
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", "5", "--seconds", "1", "--trace", str(trace), "--smoke"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=180)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1]), proc.stdout


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_run_passes_oracle_gate(workload, trace):
    result, stdout = _run(workload, trace)
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    expected = LAYER_UNITS if trace else END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == expected
    for qid in WORKLOADS[workload]["qids"]:
        assert f"oracle {qid}: ok" in stdout


def test_fails_without_engine(tmp_path):
    """Outside a checkout (only the benchmark files present) the run
    must fail fast, without a result line."""
    import shutil

    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "wow_publish", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
