"""Spans, Spark counters and per-layer metrics for the traced run.

Spans are recorded only around the benchmark's own calls into the
engine's layers. Each span has a name, start, end, parent and the
timed operation it belongs to; they stay in memory and are written
when the run ends. In a traced run every span sets a Spark job group
named after itself, so the stages, jobs and SQL executions that Spark
logs to its event log can be attributed to the span that caused them.
Work that carries another group (a streaming query runs its
micro-batches under the query's run id) is attributed to the innermost
span that was open when it started.
"""

from __future__ import annotations

import contextlib
import json
import re
import statistics
import time

# Per-layer metrics of a traced run, in report order, with units.
LAYER_UNITS = {
    "registry.import_s": "s",
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "session.cached_bytes_peak": "bytes",
    "jvm.heap_live_mb": "MB",
    "io.scan_s": "s",
    "io.rows_read": "count",
    "io.bytes_read": "bytes",
    "obs.substrate_s": "s",
    "obs.rows_out": "count",
    "obs.rows_quarantined": "count",
    "obs.keep_ratio": "ratio",
    "obs.shuffle_stages": "count",
    "rain.state_s": "s",
    "ingest.payload_s": "s",
    "operators.build_s": "s",
    "operators.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.driver_gap_s": "s",
    "shuffle.stages": "count",
    "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "shuffle.records": "count",
    "shuffle.fetch_wait_s": "s",
    "shuffle.spill_bytes": "bytes",
    "plan.exchanges": "count",
    "plan.reused_exchanges": "count",
    "python.rows_in": "count",
    "python.bytes_sent": "bytes",
    "python.bytes_returned": "bytes",
    "python.eval_s": "s",
    "stream.setup_s": "s",
    "stream.run_s": "s",
    "stream.readback_s": "s",
    "stream.batches": "count",
    "stream.batch_ms_p50": "ms",
    "stream.add_batch_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "state.rows_total": "count",
    "state.memory_bytes": "bytes",
    "state.commit_ms": "ms",
    "sink.bytes_written": "bytes",
    "sink.files_written": "count",
    "trace.setup_s": "s",
    "trace.op_s": "s",
}

_PYTHON_NODE = re.compile(r"Python|InPandas|InArrow")
_SQL = "org.apache.spark.sql.execution.ui."


class Tracer:
    """In-memory span recorder. With ``spark_context`` set, each span
    also becomes the Spark job group of the work submitted inside it."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.spark_context = None

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        rec = {"id": len(self.spans), "name": name, "parent": parent, "op": op,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._set_group(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(parent)

    def _set_group(self, span_id: int | None) -> None:
        if self.spark_context is None:
            return
        if span_id is None:
            self.spark_context.setLocalProperty("spark.jobGroup.id", None)
            self.spark_context.setLocalProperty("spark.job.description", None)
        else:
            self.spark_context.setJobGroup(f"span-{span_id}", self.spans[span_id]["name"])

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def innermost(self, t: float) -> int | None:
        """Id of the innermost span open at wall time ``t`` (seconds)."""
        best = None
        for s in self.spans:
            if s["start"] <= t <= (s["end"] or float("inf")):
                best = s["id"]  # later-opened spans nest inside earlier ones
        return best


class StreamEvents:
    """Collects StreamingQueryListener events with their receipt time."""

    def __init__(self) -> None:
        self.events: list[tuple[str, float, str, dict]] = []

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        sink = self.events

        class _Recorder(StreamingQueryListener):
            def onQueryStarted(self, event):
                sink.append(("started", time.time(), str(event.runId),
                             {"timestamp": event.timestamp}))

            def onQueryProgress(self, event):
                sink.append(("progress", time.time(), str(event.progress.runId),
                             json.loads(event.progress.json)))

            def onQueryTerminated(self, event):
                sink.append(("terminated", time.time(), str(event.runId), {}))

        return _Recorder()

    def wait_terminated(self, timeout_s: float = 10.0) -> None:
        """Listener delivery is asynchronous: wait until every started
        query's termination has arrived."""
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            started = {r for k, _, r, _ in self.events if k == "started"}
            done = {r for k, _, r, _ in self.events if k == "terminated"}
            if started <= done:
                return
            time.sleep(0.05)


def read_eventlog(path: str) -> dict:
    """Stages, executions and accumulator values from a Spark event log."""
    stages: dict[int, dict] = {}
    jobs: dict[int, dict] = {}
    group_of_stage: dict[int, str | None] = {}
    execs: dict[int, dict] = {}
    driver_acc: dict[int, float] = {}
    failed_tasks: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jobs[e["Job ID"]] = {"group": props.get("spark.jobGroup.id"),
                                     "submit": e["Submission Time"] / 1000.0}
            elif kind == "SparkListenerStageSubmitted":
                props = e.get("Properties") or {}
                group_of_stage[e["Stage Info"]["Stage ID"]] = props.get("spark.jobGroup.id")
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                if "Failure Reason" in info or "Completion Time" not in info:
                    continue
                stages[info["Stage ID"]] = {
                    "group": group_of_stage.get(info["Stage ID"]),
                    "submit": info["Submission Time"] / 1000.0,
                    "complete": info["Completion Time"] / 1000.0,
                    "tasks": info["Number of Tasks"],
                    "acc": {a["ID"]: (a["Name"], _num(a.get("Value"))) for a in info["Accumulables"]},
                }
            elif kind == "SparkListenerTaskEnd":
                if e["Task End Reason"]["Reason"] != "Success":
                    failed_tasks[e["Stage ID"]] = failed_tasks.get(e["Stage ID"], 0) + 1
            elif kind == _SQL + "SparkListenerSQLExecutionStart":
                execs[e["executionId"]] = {"group": e.get("jobGroupId"),
                                           "time": e["time"] / 1000.0,
                                           "plan": e["sparkPlanInfo"]}
            elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
                if e["executionId"] in execs:
                    execs[e["executionId"]]["plan"] = e["sparkPlanInfo"]
            elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                for acc_id, value in e["accumUpdates"]:
                    driver_acc[acc_id] = driver_acc.get(acc_id, 0) + value
    for sid, st in stages.items():
        st["failed_tasks"] = failed_tasks.get(sid, 0)
    return {"stages": stages, "jobs": jobs, "execs": execs, "driver_acc": driver_acc}


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _walk(node):
    yield node
    for child in node["children"]:
        yield from _walk(child)


def _rows_into(node, values: dict[int, float]) -> float:
    """Rows a plan node receives: the nearest 'number of output rows'
    below it on each child path."""
    total = 0.0
    for child in node["children"]:
        ids = [m["accumulatorId"] for m in child["metrics"] if m["name"] == "number of output rows"]
        total += values.get(ids[0], 0.0) if ids else _rows_into(child, values)
    return total


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    covered, cursor = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cursor), min(b, hi)
        if b > a:
            covered += b - a
            cursor = b
    return covered


def _op_counters(tracer: Tracer, log: dict, op_spans: set[int], root: dict) -> dict:
    """Spark counters of the work attributed to the spans ``op_spans``."""

    def owner(group: str | None, t: float) -> int | None:
        if group and group.startswith("span-"):
            return int(group[5:])
        return tracer.innermost(t)

    stages = [s for s in log["stages"].values() if owner(s["group"], s["submit"]) in op_spans]
    execs = [x for x in log["execs"].values() if owner(x["group"], x["time"]) in op_spans]
    values: dict[int, float] = dict(log["driver_acc"])
    by_name: dict[str, float] = {}
    for st in stages:
        for acc_id, (name, v) in st["acc"].items():
            values[acc_id] = max(values.get(acc_id, 0.0), v)
    seen: set[int] = set()
    for st in stages:
        for acc_id, (name, _) in st["acc"].items():
            if acc_id not in seen:
                seen.add(acc_id)
                by_name[name] = by_name.get(name, 0.0) + values[acc_id]
    m = by_name.get
    nodes = [n for x in execs for n in _walk(x["plan"])]
    files_ids = {mm["accumulatorId"] for n in nodes for mm in n["metrics"]
                 if mm["name"] == "number of written files"}
    py_nodes = [n for n in nodes if _PYTHON_NODE.search(n["nodeName"])]
    shuffle_stages = [s for s in stages
                      if any(n == "internal.metrics.shuffle.write.bytesWritten" and v > 0
                             for n, v in s["acc"].values())]
    wall = root["end"] - root["start"]
    gap = wall - _covered([(s["submit"], s["complete"]) for s in stages], root["start"], root["end"])
    return {
        "spark.jobs": sum(1 for j in log["jobs"].values() if owner(j["group"], j["submit"]) in op_spans),
        "spark.stages": len(stages),
        "spark.tasks": sum(s["tasks"] for s in stages),
        "spark.failed_tasks": sum(s["failed_tasks"] for s in stages),
        "spark.executor_run_s": (m("internal.metrics.executorRunTime") or 0) / 1e3,
        "spark.executor_cpu_s": (m("internal.metrics.executorCpuTime") or 0) / 1e9,
        "spark.gc_s": (m("internal.metrics.jvmGCTime") or 0) / 1e3,
        "spark.driver_gap_s": max(0.0, gap),
        "io.rows_read": m("internal.metrics.input.recordsRead") or 0,
        "io.bytes_read": m("internal.metrics.input.bytesRead") or 0,
        "shuffle.stages": len(shuffle_stages),
        "shuffle.write_bytes": m("internal.metrics.shuffle.write.bytesWritten") or 0,
        "shuffle.read_bytes": (m("internal.metrics.shuffle.read.localBytesRead") or 0)
        + (m("internal.metrics.shuffle.read.remoteBytesRead") or 0),
        "shuffle.records": m("internal.metrics.shuffle.write.recordsWritten") or 0,
        "shuffle.fetch_wait_s": (m("internal.metrics.shuffle.read.fetchWaitTime") or 0) / 1e3,
        "shuffle.spill_bytes": (m("internal.metrics.memoryBytesSpilled") or 0)
        + (m("internal.metrics.diskBytesSpilled") or 0),
        "plan.exchanges": sum(1 for n in nodes if n["nodeName"] in ("Exchange", "BroadcastExchange")),
        "plan.reused_exchanges": sum(1 for n in nodes if n["nodeName"] == "ReusedExchange"),
        "python.rows_in": sum(_rows_into(n, values) for n in py_nodes),
        "python.bytes_sent": m("data sent to Python workers") or 0,
        "python.bytes_returned": m("data returned from Python workers") or 0,
        "python.eval_s": (m("time to run Python workers") or 0) / 1e3,
        "sink.bytes_written": m("internal.metrics.output.bytesWritten") or 0,
        "sink.files_written": sum(values.get(i, 0.0) for i in files_ids),
    }


def _stream_counters(tracer: Tracer, stream: StreamEvents, op_spans: set[int],
                     build_spans: list[dict]) -> dict:
    runs: dict[str, dict] = {}
    for kind, t, run_id, body in stream.events:
        runs.setdefault(run_id, {"progress": []})
        if kind == "started":
            runs[run_id]["started"] = t
        elif kind == "terminated":
            runs[run_id]["terminated"] = t
        else:
            runs[run_id]["progress"].append(body)
    setup = run = add = wal = commit = rows = mem = 0.0
    batch_ms: list[float] = []
    batches = 0
    for r in runs.values():
        if "started" not in r or tracer.innermost(r["started"]) not in op_spans:
            continue
        span = next(s for s in build_spans if s["start"] <= r["started"] <= s["end"])
        setup += r["started"] - span["start"]
        run += r.get("terminated", span["end"]) - r["started"]
        batches += len(r["progress"])
        for p in r["progress"]:
            d = p.get("durationMs", {})
            batch_ms.append(d.get("triggerExecution", 0))
            add += d.get("addBatch", 0)
            wal += d.get("walCommit", 0)
            commit += sum(o.get("commitTimeMs", 0) for o in p.get("stateOperators", []))
        if r["progress"]:
            last = r["progress"][-1].get("stateOperators", [])
            rows += sum(o.get("numRowsTotal", 0) for o in last)
            mem += sum(o.get("memoryUsedBytes", 0) for o in last)
    return {
        "stream.setup_s": setup, "stream.run_s": run, "stream.batches": batches,
        "stream.batch_ms_p50": statistics.median(batch_ms) if batch_ms else 0.0,
        "stream.add_batch_ms": add, "stream.wal_commit_ms": wal,
        "state.rows_total": rows, "state.memory_bytes": mem, "state.commit_ms": commit,
    }


def _subtree(tracer: Tracer, root_id: int) -> set[int]:
    ids = {root_id}
    for s in tracer.spans[root_id + 1:]:
        if s["parent"] in ids:
            ids.add(s["id"])
    return ids


def per_op_metrics(tracer: Tracer, log: dict, stream: StreamEvents, stream_qids: set[str]) -> dict:
    """Median over timed operations of every per-operation counter."""
    rows: list[dict] = []
    for root in (s for s in tracer.spans if s["name"] == "op"):
        ids = _subtree(tracer, root["id"])
        spans = [tracer.spans[i] for i in ids]
        row = _op_counters(tracer, log, ids, root)
        row["operators.build_s"] = sum(s["end"] - s["start"] for s in spans if s["name"].startswith("build:"))
        row["operators.exec_s"] = sum(s["end"] - s["start"] for s in spans if s["name"].startswith("exec:"))
        row["stream.readback_s"] = sum(
            s["end"] - s["start"] for s in spans
            if s["name"].startswith("exec:") and s["name"][5:] in stream_qids)
        builds = [s for s in spans if s["name"].startswith("build:")]
        row.update(_stream_counters(tracer, stream, ids, builds))
        rows.append(row)
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]}


def span_counters(tracer: Tracer, log: dict, name: str) -> list[dict]:
    """Counters of each span called ``name`` (e.g. the chain probes)."""
    return [_op_counters(tracer, log, _subtree(tracer, s["id"]), s)
            for s in tracer.spans if s["name"] == name]
