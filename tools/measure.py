"""Measure what each query did: one JSON record per qid on stdout.

    PYTHONPATH=. python tools/measure.py [sf_dir] [qid ...]

Runs each qid (default: ``bench.HEADLINE``) once through the noop sink
in one ``session.get_spark()`` session with the Spark event log on,
then once more warm (build and run again, span ``warm:<qid>``). Each
run is a ``perfbench/layers.py`` Tracer span with ``build:`` and
``exec:`` children, so its jobs, stages and SQL executions are
attributed to it. After the session stops, the event log gives every
counter ``layers.span_counters`` reports (jobs, stages, tasks,
executor run/CPU time, shuffle bytes, spill, Python-eval time, driver
gap), plus counts of scans, exchanges, joins by strategy and windows
from the node names of the final AQE plans, each node counted once per
run (``plan_shape``). Each run also reports the builder's wall time
(``build_s``) and the built frame's parsing and analysis times
(``build_phases``), and the block-manager bytes that its persisted
frames hold right after its exec (``cache.bytes``). Every run starts
with no persisted frame, so the warm run recomputes what the cold run
cached instead of reading it. ``q_stream_*`` qids add the
setup / stream / read-back split and each micro-batch's progress, from
``layers.StreamEvents``. The warm run's record is the ``warm`` entry
of its qid's record.

A qid that fails is recorded with its error and the run goes on.
PYTHONPATH must name the repo root: Spark's Python workers import
``metoffice_spark`` by name. Progress goes to stderr.
"""

from __future__ import annotations

import contextlib
import json
import os
import shlex
import shutil
import sys
import tempfile
from datetime import datetime

from bench import HEADLINE
from metoffice_spark.io import DEFAULT_SF_DIR
from metoffice_spark.registry import all_queries
from metoffice_spark.session import get_spark, release_scoped_persists
from perfbench.layers import StreamEvents, Tracer, read_eventlog, span_counters
from perfbench.worker import storage_bytes

_STATE_KEYS = (
    "operatorName", "numRowsTotal", "numRowsUpdated",
    "allUpdatesTimeMs", "allRemovalsTimeMs", "commitTimeMs", "memoryUsedBytes",
)


def plan_shape(plans: list[dict]) -> dict:
    """Scan, exchange, join (by strategy) and window counts of event-log
    plans. Each node counts once, keyed by its metrics' accumulator
    ids: a cached frame's plan is the child of every InMemoryTableScan
    of it, and a reused subtree appears at each reuse, but each ran
    once."""
    shape = {"plan.scans": 0, "plan.exchanges": 0, "plan.joins": {}, "plan.windows": 0}
    seen: set[tuple] = set()
    stack = list(plans)
    while stack:
        node = stack.pop()
        key = tuple(sorted(m["accumulatorId"] for m in node.get("metrics", ())))
        if key in seen:
            continue
        if key:
            seen.add(key)
        stack += node["children"]
        name = node["nodeName"]
        if name.startswith("Scan "):
            shape["plan.scans"] += 1
        elif name in ("Exchange", "BroadcastExchange"):
            shape["plan.exchanges"] += 1
        elif name == "Window":
            shape["plan.windows"] += 1
        elif name.endswith("Join") or name == "CartesianProduct":
            shape["plan.joins"][name] = shape["plan.joins"].get(name, 0) + 1
    return shape


def stream_split(events: list, root: dict) -> dict:
    """Setup (span start to the first stream's start), stream (to the
    end of the last micro-batch) and read-back (to the span's end) of
    the streams started inside ``root``, and their batches. The edges
    are the JVM's event timestamps: the listener's receipt times lag
    the events by up to a few hundred ms."""
    starts = {r: _epoch(body["timestamp"]) for k, _, r, body in events if k == "started"}
    runs = {r for r, t in starts.items() if root["start"] <= t <= root["end"]}
    if not runs:
        return {}
    progress = [p for k, _, r, p in events if k == "progress" and r in runs]
    started = min(starts[r] for r in runs)
    ended = max((_epoch(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1e3
                 for p in progress), default=started)
    return {
        "stream.setup_s": round(started - root["start"], 3),
        "stream.run_s": round(ended - started, 3),
        "stream.readback_s": round(root["end"] - ended, 3),
        "stream.progress": [
            {
                "batchId": p.get("batchId"),
                "numInputRows": p.get("numInputRows"),
                "durationMs": p["durationMs"],
                "stateOperators": [{k: so.get(k) for k in _STATE_KEYS}
                                   for so in p.get("stateOperators", [])],
            }
            for p in progress
        ],
    }


def build_phases(df) -> dict:
    """Milliseconds of the parsing and analysis phases in the built
    frame's own QueryExecution, None for a phase it did not run (a
    frame over an already-analysed plan is not parsed). Frames built
    step by step analyse each step in a QueryExecution of its own, so
    this is the last step's analysis."""
    phases = df._jdf.queryExecution().tracker().phases()
    return {f"build.{p}_ms": phases.apply(p).durationMs() if phases.contains(p) else None
            for p in ("parsing", "analysis")}


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso).timestamp()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else DEFAULT_SF_DIR
    reg = all_queries()
    qids = list(dict.fromkeys(sys.argv[2:] or HEADLINE))
    unknown = [q for q in qids if q not in reg]
    if unknown:
        sys.exit(f"unknown qid(s): {unknown} — not in the registry")

    log_dir = tempfile.mkdtemp(prefix="measure-eventlog-")
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--conf", "spark.eventLog.enabled=true",
        "--conf", "spark.eventLog.compress=false",
        "--conf", "spark.eventLog.rolling.enabled=false",
        "--conf", f"spark.eventLog.dir=file://{log_dir}",
        "pyspark-shell",
    ])
    spark = get_spark("metoffice-measure")
    tracer, stream = Tracer(), StreamEvents()
    spark.streams.addListener(stream.listener())
    with contextlib.suppress(Exception):  # JVM warm-up, outside every span
        reg[qids[0]](spark, sf_dir).limit(1).collect()
    tracer.spark_context = spark.sparkContext

    errors: dict[str, str] = {}
    builds: dict[str, dict] = {}
    for run in (name for qid in qids for name in (qid, f"warm:{qid}")):
        release_scoped_persists()
        with tracer.span(run) as root:
            try:
                with tracer.span(f"build:{run}") as build:
                    df = reg[run.removeprefix("warm:")](spark, sf_dir)
                builds[run] = {"build_s": round(build["end"] - build["start"], 3),
                               **build_phases(df)}
                with tracer.span(f"exec:{run}"):
                    df.write.format("noop").mode("overwrite").save()
                builds[run]["cache.bytes"] = storage_bytes(spark)
            except Exception as exc:  # noqa: BLE001 - record it, run the rest
                errors[run] = f"{type(exc).__name__}: {exc}"
        wall = root["end"] - root["start"]
        print(f"{run}: {'FAILED ' + errors[run] if run in errors else f'{wall:.3f} s'}",
              file=sys.stderr, flush=True)
    stream.wait_terminated()
    spark.stop()

    try:
        (log_file,) = os.listdir(log_dir)
        log = read_eventlog(os.path.join(log_dir, log_file))
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)
    roots = {s["name"]: s for s in tracer.spans if s["parent"] is None}

    def run_record(run: str) -> dict:
        root = roots[run]
        ids = {s["id"] for s in tracer.spans if root["id"] in (s["id"], s["parent"])}
        # the owner rule of span_counters: a span's job group, else the
        # innermost span open when the execution started (stream batches)
        plans = [x["plan"] for x in log["execs"].values()
                 if (int(x["group"][5:]) if (x["group"] or "").startswith("span-")
                     else tracer.innermost(x["time"])) in ids]
        record = {"wall_s": round(root["end"] - root["start"], 3), "error": errors.get(run),
                  **builds.get(run, {})}
        (counters,) = span_counters(tracer, log, run)
        record.update(counters)
        record.update(plan_shape(plans))
        record.update(stream_split(stream.events, root))
        return record

    for qid in qids:
        print(json.dumps({"qid": qid, **run_record(qid), "warm": run_record(f"warm:{qid}")}))


if __name__ == "__main__":
    main()
