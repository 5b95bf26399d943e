"""Run the benchmark over several seeds and report each end-to-end
metric's spread: the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median,
next to the metric's bound in ``BENCHMARK.json``.

    python3 perfbench/steadiness.py --first-seed 100

Runs every workload of ``BENCHMARK.json`` on ``RUNS`` consecutive
seeds, workloads alternating within a seed. Each run's JSON result
is appended to ``--log``, one line per run.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = 10


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_all(args, bench: dict) -> list[dict]:
    rows = []
    for i in range(RUNS):
        seed = args.first_seed + i
        for wl in [w["name"] for w in bench["workloads"]]:
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                   "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            if proc.returncode != 0:
                print(f"{wl} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
                continue
            row = {"workload": wl, "seed": seed, **json.loads(proc.stdout.strip().splitlines()[-1])}
            rows.append(row)
            with open(args.log, "a") as fh:
                fh.write(json.dumps(row) + "\n")
            print(wl, seed, {k: round(v["value"], 4) for k, v in row["metrics"].items()}, flush=True)
    return rows


def report(rows: list[dict], bench: dict) -> None:
    print("| workload | metric | n | median | q1 | q3 | spread | bound |")
    print("|---|---|---|---|---|---|---|---|")
    for wl in sorted({r["workload"] for r in rows}):
        mine = [r for r in rows if r["workload"] == wl]
        for m in bench["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in mine]
            if len(vals) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            print(f"| {wl} | {m['name']} | {len(vals)} | {med:.4f} | {q1:.4f} | {q3:.4f} "
                  f"| {(q3 - q1) / med:.3f} | {m['bound']} |")
    bad = [r for r in rows if not r["correct"]]
    print(f"runs {len(rows)}, incorrect {len(bad)}")


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--first-seed", type=int, default=100)
    p.add_argument("--log", default=os.path.join(HERE, ".work", "steadiness.jsonl"))
    args = p.parse_args()
    bench = spec()
    os.makedirs(os.path.dirname(os.path.abspath(args.log)), exist_ok=True)
    report(run_all(args, bench), bench)


if __name__ == "__main__":
    main()
