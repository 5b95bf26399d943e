"""Interleaved A/B bench harness: run two checked-out trees' bench.py
ALTERNATELY, cold process each rep, as bench.py runs by default
(default env, sf0.1, local[32]), and print per-tree totals + the
median ratio.

Interleaving is the point — a monolithic "all A then all B" sweep
confounds tree identity with machine drift (page cache, thermal,
co-tenant load). The leader alternates too (A,B then B,A): on a
shared 4-vCPU host the tree that ran second in a pair measured ~12 %
slower across untouched queries. Each rep line names its leader.

    python tools/bench_ab.py LABEL_A:/path/a LABEL_B:/path/b [reps]
"""

from __future__ import annotations

import json
import statistics
import subprocess
import sys


def run_once(tree: str) -> dict:
    out = subprocess.run(
        [sys.executable, "bench.py"],
        cwd=tree,
        capture_output=True,
        text=True,
        timeout=1800,
    )
    line = out.stdout.strip().splitlines()[-1]
    return json.loads(line)


def main(argv: list[str]) -> None:
    specs = []
    reps = 3
    for a in argv:
        if a.isdigit():
            reps = int(a)
        else:
            label, _, path = a.partition(":")
            specs.append((label, path))
    if len(specs) != 2:
        sys.exit("usage: bench_ab.py LABEL_A:/path/a LABEL_B:/path/b [reps]")

    totals: dict[str, list[float]] = {lab: [] for lab, _ in specs}
    queries: dict[str, list[dict]] = {lab: [] for lab, _ in specs}
    for rep in range(reps):
        order = specs if rep % 2 == 0 else specs[::-1]
        for label, path in order:
            r = run_once(path)
            totals[label].append(r["value"])
            queries[label].append(r["queries"])
            print(f"rep {rep + 1} {label:10s} {r['value']:8.3f} s  (leader {order[0][0]})",
                  flush=True)

    (la, _), (lb, _) = specs
    ma, mb = statistics.median(totals[la]), statistics.median(totals[lb])
    print(f"\n{la}: {sorted(totals[la])}  median {ma:.3f}")
    print(f"{lb}: {sorted(totals[lb])}  median {mb:.3f}")
    print(f"ratio {lb}/{la}: {mb / ma:.3f}")
    # per-query median ratio table, worst first
    qa = {q: statistics.median(r[q] for r in queries[la]) for q in queries[la][0]}
    qb = {q: statistics.median(r[q] for r in queries[lb]) for q in queries[lb][0]}
    ratios = sorted(
        ((qb[q] / qa[q] if qa[q] else float("inf"), q) for q in qa if q in qb),
        reverse=True,
    )
    print(f"\nper-query median {lb}/{la} (worst 10):")
    for ratio, q in ratios[:10]:
        print(f"  {q:28s} {ratio:6.2f}  ({qa[q]:.3f} -> {qb[q]:.3f})")
    print(
        f"per-query median of ratios: "
        f"{statistics.median(r for r, _ in ratios):.3f}"
    )


if __name__ == "__main__":
    main(sys.argv[1:])
