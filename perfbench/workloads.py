"""The benchmark's workloads: which registry queries one timed
operation runs, and the inputs :mod:`gen` builds for them.

One operation runs every query of its workload once, in order: build
the frame through the public registry builder, then materialize it to
the noop sink; ``op_name`` is what the printed report calls the
operation's median time. ``smoke`` shrinks the inputs for the
self-tests.
"""

from __future__ import annotations

WORKLOADS: dict[str, dict] = {
    # The paper's job: one WOW publish over 30 days of 4 stations.
    "wow_publish": {
        "qids": ["q_sink_http_form"],
        "op_name": "wow_job_s",
        "events": 50_000,
        "warmup_ops": 2,
    },
    # The tick as micro-batches: the rain state machine replayed end to
    # end into its parquet sink and read back. The other three stream
    # queries of the registry do not fit the run-time budget of a
    # benchmark pass (perfbench/README.md, "Scope").
    "stream_ticks": {
        "qids": ["q_stream_stateful"],
        "op_name": "stream_round_s",
        "events": 20_000,
        "warmup_ops": 1,
    },
}

SMOKE_EVENTS = 2_000

# Queries that run Structured Streaming inside their builder.
STREAM_QIDS = set(WORKLOADS["stream_ticks"]["qids"])


def events_rows(name: str, smoke: bool = False) -> int:
    """Size of the ``events`` table workload ``name`` reads."""
    return SMOKE_EVENTS if smoke else WORKLOADS[name]["events"]
