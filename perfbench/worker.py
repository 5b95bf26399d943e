"""One benchmark run inside a fresh Python + JVM process.

Started by ``run.py`` with the environment of the run already set
(repo root on PYTHONPATH, temp dirs inside the checkout, Spark launch
options). Sequence, closed loop, one client thread:

1. setup: import the registry, ``session.get_spark()``, then a warm-up
   pass of every query that collects its rows for the oracle check,
   and the workload's untimed ``warmup_ops``;
2. timed operations until ``--seconds`` have passed;
3. the oracle check of the warm-up rows (outside the timed region);
4. traced runs only: the live heap after a full GC, the io → obs →
   rain → ingest prefix chain and the substrate row counts, then
   per-layer metrics from the event log.

Writes one JSON result to ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from layers import StreamEvents, Tracer, per_op_metrics, read_eventlog, span_counters  # noqa: E402

from workloads import STREAM_QIDS, WORKLOADS  # noqa: E402

# an odd minimum, so that a run with few operations reports its middle one
MIN_OPS = 3
CHAIN_PASSES = 4
CHAIN = ("io.scan", "obs.substrate", "rain.state", "ingest.payload")


class Frozen:
    """Collected rows + schema: what ``oracle_check.compare`` reads
    from the frame its builder returns."""

    def __init__(self, df) -> None:
        self.rows = df.collect()
        self.schema = df.schema

    def collect(self):
        return self.rows


def storage_bytes(spark) -> int:
    """Block-manager bytes held by persisted frames right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def heap_live_mb(spark) -> float:
    """Heap the program still holds: used heap right after a full GC."""
    memory = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    memory.gc()
    return memory.getHeapMemoryUsage().getUsed() / 2**20


def stop_jvm(spark) -> None:
    """Stop the session and wait until the JVM process has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        proc.wait(timeout=60)


class Run:
    def __init__(self, args) -> None:
        self.args = args
        self.qids = WORKLOADS[args.workload]["qids"]
        self.tracer = Tracer()
        self.attempted = 0
        self.failures: list[str] = []
        self.cached_peak = 0
        # self times that did not exceed the spread of their passes
        self.unresolved: list[str] = []

    def run_query(self, qid: str, collect: bool = False):
        self.attempted += 1
        try:
            with self.tracer.span(f"build:{qid}"):
                df = self.queries[qid](self.spark, self.args.data)
            with self.tracer.span(f"exec:{qid}"):
                if collect:
                    return Frozen(df)
                df.write.format("noop").mode("overwrite").save()
        except Exception:  # a failed operation is counted, the run goes on
            self.failures.append(f"{qid}: {traceback.format_exc(limit=3)}")
        finally:
            if self.args.trace:
                self.cached_peak = max(self.cached_peak, storage_bytes(self.spark))
        return None

    def setup(self) -> dict:
        with self.tracer.span("registry.import"):
            from metoffice_spark import registry

            self.queries = registry.all_queries()
        with self.tracer.span("session.get_spark"):
            from metoffice_spark.session import get_spark

            self.spark = get_spark("perfbench")
        if self.args.trace:
            self.tracer.spark_context = self.spark.sparkContext
            self.stream = StreamEvents()
            self.spark.streams.addListener(self.stream.listener())
        with self.tracer.span("session.warmup"):
            frozen = {q: self.run_query(q, collect=True) for q in self.qids}
            # the first noop operations after the collecting pass are
            # still 15-35 % slow
            for _ in range(WORKLOADS[self.args.workload]["warmup_ops"]):
                for qid in self.qids:
                    self.run_query(qid)
        return frozen

    def timed_ops(self) -> list[float]:
        """Wall time of each operation."""
        deadline = time.time() + self.args.seconds
        times: list[float] = []
        while len(times) < MIN_OPS or time.time() < deadline:
            with self.tracer.span("op", op=len(times)) as op:
                for qid in self.qids:
                    self.run_query(qid)
            times.append(op["end"] - op["start"])
        return times

    def oracle_check(self, frozen: dict) -> dict:
        import duckdb

        from metoffice_spark import registry
        from metoffice_spark.oracle_check import compare

        oracles = registry.all_oracles()
        con = duckdb.connect()
        for f in sorted(os.listdir(self.args.data)):
            table = f.removesuffix(".parquet")
            con.sql(f"CREATE VIEW {table} AS SELECT * FROM '{os.path.join(self.args.data, f)}'")
        verdicts = {}
        for qid in self.qids:
            if frozen.get(qid) is None:
                verdicts[qid] = "failed before the check"
                continue
            problems = compare(self.spark, con, lambda *_: frozen[qid], oracles[qid], self.args.data)
            verdicts[qid] = "ok" if not problems else "; ".join(problems[:3])
            if problems:
                self.failures.append(f"{qid}: oracle mismatch: {verdicts[qid]}")
        con.close()
        return verdicts

    def chain(self) -> dict:
        """The WOW job's prefix chain, each prefix to the noop sink."""
        from metoffice_spark.io import load
        from metoffice_spark.obs import observations
        from metoffice_spark.operators.ingest import wow_payload
        from metoffice_spark.operators.rain import rain_metrics

        builders = {
            "io.scan": lambda s, d: load(s, d, "events"),
            "obs.substrate": observations,
            "rain.state": rain_metrics,
            "ingest.payload": wow_payload,
        }
        # Every pass runs all four prefixes back to back, forwards on
        # even passes and backwards on odd ones, so a self time is a
        # difference within one pass and host drift between passes,
        # or warm-up within one, does not favour either prefix.
        for i in range(CHAIN_PASSES):
            for name in CHAIN if i % 2 == 0 else reversed(CHAIN):
                with self.tracer.span(name):
                    builders[name](self.spark, self.args.data).write.format("noop").mode("overwrite").save()
        with self.tracer.span("counts"):
            events = load(self.spark, self.args.data, "events").count()
            obs = observations(self.spark, self.args.data).count()
        walls = {n: self.tracer.durations(n) for n in CHAIN}
        out = {"io.scan_s": statistics.median(walls["io.scan"])}
        for inner, outer in zip(CHAIN, CHAIN[1:]):
            diffs = [b - a for a, b in zip(walls[inner], walls[outer])]
            q1, med, q3 = statistics.quantiles(diffs, n=4)
            out[f"{outer}_s"] = med
            if med <= q3 - q1:
                self.unresolved.append(f"{outer}_s")
        out.update({
            "obs.rows_out": obs,
            "obs.rows_quarantined": events - obs,
            "obs.keep_ratio": obs / events,
        })
        return out

    def main(self) -> dict:
        frozen = self.setup()
        setup_s = time.time() - self.args.launched
        op_times = self.timed_ops()
        # after the last timed operation, before anything else runs
        live = heap_live_mb(self.spark) if self.args.trace else None
        verdicts = self.oracle_check(frozen)
        layers = self.chain() if self.args.trace else {}
        rss = jvm_peak_rss_mb(self.spark)
        if self.args.trace:
            self.stream.wait_terminated()
        stop_jvm(self.spark)
        result = {
            "setup_s": setup_s,
            "op_times": op_times,
            "jvm_peak_rss_mb": rss,
            "attempted": self.attempted,
            "failures": self.failures,
            "verdicts": verdicts,
            "unresolved": self.unresolved,
        }
        if self.args.trace:
            result["layers"] = self.layer_metrics(layers, setup_s, op_times)
            result["layers"]["jvm.heap_live_mb"] = live
        with open(self.args.spans, "w") as fh:
            json.dump(self.tracer.spans, fh)
        return result

    def layer_metrics(self, chain: dict, setup_s: float, op_times: list[float]) -> dict:
        log_dir = self.args.eventlog
        (log_file,) = os.listdir(log_dir)
        log = read_eventlog(os.path.join(log_dir, log_file))
        obs_counts = span_counters(self.tracer, log, "obs.substrate")
        one = {name: self.tracer.durations(name)[0]
               for name in ("registry.import", "session.get_spark", "session.warmup")}
        out = {
            "registry.import_s": one["registry.import"],
            "session.get_spark_s": one["session.get_spark"],
            "session.warmup_s": one["session.warmup"],
            "session.cached_bytes_peak": self.cached_peak,
            "obs.shuffle_stages": statistics.median(c["shuffle.stages"] for c in obs_counts),
            "trace.setup_s": setup_s,
            "trace.op_s": statistics.median(op_times),
        }
        out.update(chain)
        out.update(per_op_metrics(self.tracer, log, self.stream, STREAM_QIDS))
        return out


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--data", required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--launched", type=float, required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--eventlog")
    p.add_argument("--spans")
    args = p.parse_args()
    result = Run(args).main()
    with open(args.out, "w") as fh:
        json.dump(result, fh)


if __name__ == "__main__":
    main()
