"""Benchmark entry point.

    python3 perfbench/run.py --workload wow_publish --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Generates the workload's inputs from
the seed under ``perfbench/.work/``, runs ``worker.py`` in a fresh
process group (one client, closed loop, ``local[<cores>]``), checks
the operations against their DuckDB oracles, prints one line per
metric, and ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones of
``BENCHMARK.json``; with ``--trace 1`` the per-layer ones, and the
spans are kept in ``perfbench/.work/traces/``. Exits non-zero without
a result line when the engine package is missing or the run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from layers import LAYER_UNITS  # noqa: E402
from workloads import WORKLOADS, events_rows  # noqa: E402

# Whole run, input generation and cleanup included, must end inside 180 s.
RUN_BUDGET_S = 160.0
END_TO_END = {"setup_s": "s", "op_s": "s", "jvm_peak_rss_mb": "MB"}
# Launch options for the driver JVM: temp files stay in the checkout,
# no hsperfdata file is written under /tmp, and the heap starts at its
# full size (DRIVER_HEAP).
JAVA_OPTS = "-Xms{heap} -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
# A fixed driver heap, so that the JVM's peak RSS repeats from run to
# run. Under the engine's 12g ceiling G1 grew the heap at
# GC-timing-dependent points: peak RSS spread by half its median over
# five wow_publish runs, and with only the start pinned at 2g two runs
# in ten still grew to 4 GB. At the benchmark's input sizes 2g spills
# nothing and caches under 2 MB (perfbench/README.md).
DRIVER_HEAP = "2g"


def worker_env(work: str, trace: bool) -> dict:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    submit = ["--driver-java-options", JAVA_OPTS.format(heap=DRIVER_HEAP, tmp=tmp)]
    if trace:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
            "--conf", f"spark.eventLog.dir=file://{os.path.join(work, 'eventlog')}",
        ]
        os.makedirs(os.path.join(work, "eventlog"))
    env = dict(os.environ)
    env.update({
        # Spark's Python workers import metoffice_spark by name.
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": shlex.join(submit + ["pyspark-shell"]),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEM": DRIVER_HEAP,
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
    })
    return env


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def stop_group(pgid: int) -> None:
    """Kill whatever is left of the worker's process group and wait
    until it is gone (the JVM and Python workers are not our children)."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        if not _group_alive(pgid):
            return
        os.killpg(pgid, sig)
        deadline = time.time() + 5
        while time.time() < deadline and _group_alive(pgid):
            time.sleep(0.05)


def run_worker(args, data: str, work: str, deadline: float) -> dict | None:
    out = os.path.join(work, "result.json")
    traces = os.path.join(HERE, ".work", "traces")
    os.makedirs(traces, exist_ok=True)
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--data", data, "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--out", out,
           "--eventlog", os.path.join(work, "eventlog"),
           "--spans", os.path.join(traces, f"{args.workload}-seed{args.seed}.json")]
    env = worker_env(work, bool(args.trace))
    log_path = os.path.join(work, "worker.log")
    with open(log_path, "w") as log:
        launched = time.time()
        proc = subprocess.Popen(cmd + ["--launched", repr(launched)], cwd=ROOT, env=env,
                                stdin=subprocess.DEVNULL, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            stop_group(proc.pid)
            proc.wait()
    if rc != 0 or not os.path.exists(out):
        with open(log_path) as fh:
            tail = fh.read()[-4000:]
        why = "timed out" if rc is None else f"exit code {rc}"
        print(f"worker {why}; log tail:\n{tail}", file=sys.stderr)
        return None
    with open(out) as fh:
        return json.load(fh)


def report(args, res: dict, digest: str) -> dict:
    """Print the human-readable lines; return the metrics object."""
    times = res["op_times"]
    failed = len(res["failures"])
    print(f"workload {args.workload} seed {args.seed} input sha256 {digest}")
    for qid, verdict in res["verdicts"].items():
        print(f"oracle {qid}: {verdict}")
    for f in res["failures"]:
        print(f"failure {f}", file=sys.stderr)
    print(f"setup_s {res['setup_s']:.4f} s (n=1)")
    print(f"{WORKLOADS[args.workload]['op_name']} {statistics.median(times):.4f} s "
          f"(n={len(times)}, median; min {min(times):.4f} max {max(times):.4f})")
    print(f"failed_op_ratio {failed / res['attempted']:.4f} ratio ({failed}/{res['attempted']})")
    print(f"jvm_peak_rss_mb {res['jvm_peak_rss_mb']:.1f} MB (n=1)")
    if args.trace:
        layers = res["layers"]
        for name, unit in LAYER_UNITS.items():
            note = " (unresolved: not above the spread of its passes)" if name in res["unresolved"] else ""
            print(f"layer {name} {layers[name]:.6g} {unit}{note}")
        return {n: {"value": layers[n], "unit": u} for n, u in LAYER_UNITS.items()}
    values = {"setup_s": res["setup_s"], "op_s": statistics.median(times),
              "jvm_peak_rss_mb": res["jvm_peak_rss_mb"]}
    return {n: {"value": values[n], "unit": u} for n, u in END_TO_END.items()}


def main() -> int:
    started = time.time()
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs, for the self-tests")
    args = p.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "metoffice_spark")):
        print(f"no metoffice_spark package under {ROOT}: run from a checkout of the repo",
              file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        data = os.path.join(work, "data")
        gen.generate(data, args.seed, events_rows(args.workload, args.smoke))
        digest = gen.digest(data)
        res = run_worker(args, data, work, started + RUN_BUDGET_S)
        if res is None:
            return 1
        metrics = report(args, res, digest)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    failed = len(res["failures"])
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
