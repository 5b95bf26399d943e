"""Phase-level profiler for the streaming replay queries (guide §1).

Splits a q_stream_* qid's wall time into its real phases:

  1. setup    — builder start → the StreamingQuery starts (substrate
                persist, max-ts lookup, replay input-file writes)
  2. stream   — query started → query terminated
  3. readback — query terminated → the returned frame has run through
                the noop sink

and dumps the per-micro-batch progress (triggerExecution, addBatch,
stateOperators' allUpdatesTimeMs / allRemovalsTimeMs / commitTimeMs /
numRowsTotal) so state-store cost is attributable. Everything comes
from a ``StreamingQueryListener``: the phase edges are the receipt
times of its QueryStarted / QueryTerminated events, the batches its
QueryProgress events. Query code is untouched.

Usage: python tools/profile_stream.py q_stream_join ...
(reads $SPARK_GRAFT_SF_DIR, default sf0.1 test data)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql.streaming import StreamingQueryListener

from metoffice_spark.registry import all_queries
from metoffice_spark.session import get_spark

_STATE_KEYS = (
    "operatorName", "numRowsTotal", "numRowsUpdated",
    "allUpdatesTimeMs", "allRemovalsTimeMs", "commitTimeMs", "memoryUsedBytes",
)


class _Recorder(StreamingQueryListener):
    """Listener events as (kind, receipt time, payload)."""

    def __init__(self) -> None:
        self.events: list[tuple[str, float, dict]] = []

    def onQueryStarted(self, event):
        self.events.append(("started", time.perf_counter(), {}))

    def onQueryProgress(self, event):
        self.events.append(("progress", time.perf_counter(), json.loads(event.progress.json)))

    def onQueryTerminated(self, event):
        self.events.append(("terminated", time.perf_counter(), {}))

    def wait_terminated(self, timeout_s: float = 10.0) -> None:
        """Delivery is asynchronous: wait until every started query's
        termination has arrived."""
        deadline = time.perf_counter() + timeout_s
        while time.perf_counter() < deadline:
            kinds = [k for k, _, _ in self.events]
            if kinds.count("started") <= kinds.count("terminated"):
                return
            time.sleep(0.05)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("metoffice-profile-stream")
    rec = _Recorder()
    spark.streams.addListener(rec)
    reg = all_queries()
    qids = sys.argv[1:] or ["q_stream_join"]

    reg[qids[0]](spark, sf_dir).limit(1).collect()  # warm-up
    rec.wait_terminated()

    report = {}
    for qid in qids:
        rec.events.clear()
        t0 = time.perf_counter()
        df = reg[qid](spark, sf_dir)
        t_build = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t_end = time.perf_counter()
        rec.wait_terminated()
        ss = next((t for k, t, _ in rec.events if k == "started"), t_build)
        se = max((t for k, t, _ in rec.events if k == "terminated"), default=t_build)
        batches = [
            {
                "batchId": p.get("batchId"),
                "numInputRows": p.get("numInputRows"),
                "durationMs": p.get("durationMs", {}),
                "stateOperators": [
                    {k: so.get(k) for k in _STATE_KEYS} for so in p.get("stateOperators", [])
                ],
            }
            for k, _, p in rec.events
            if k == "progress"
        ]
        report[qid] = {
            "wall": round(t_end - t0, 3),
            "setup": round(ss - t0, 3),
            "stream": round(se - ss, 3),
            "readback": round(t_end - se, 3),
            "batches": batches,
        }
        print(f"{qid}: {json.dumps(report[qid]['wall'])} "
              f"(setup {report[qid]['setup']}, stream {report[qid]['stream']},"
              f" readback {report[qid]['readback']})", file=sys.stderr)
    spark.streams.removeListener(rec)
    print(json.dumps(report, indent=1))


if __name__ == "__main__":
    main()
