"""Seeded input generator for the benchmark workloads.

Both workloads read one table, ``events``, synthesized from the seed
alone with the schema and marginals of the repo's ``events`` test
table as ``metoffice_spark.io`` loads it: 5 uniform event types, readings
exponential around 50 at 2 decimals (capped at 560), 1500 users, i.e.
4 stations through ``user_id % 4``, spread over 30 days from
2024-01-01 (120 station-day window partitions). ``BAD_FRAC`` of the
rows carry a NULL reading or an epoch-0 timestamp, the two classes
the ``obs`` substrate quarantines.

The same seed gives byte-identical parquet files; :func:`digest`
hashes them so two runs can show they read the same bytes.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
_T0_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC in microseconds
_DAY_US = 86_400_000_000
# Share of readings the obs substrate must quarantine.
BAD_FRAC = 0.002


def events(rng: np.random.Generator, n: int) -> pa.Table:
    # Stratified offsets: one reading per slot of span/n, so timestamps
    # are distinct and uniform over the 30 days, then shuffled.
    slot = 30 * _DAY_US // n
    offs = np.arange(n, dtype=np.int64) * slot + rng.integers(0, slot, n)
    ts = _T0_US + rng.permutation(offs)
    value = np.minimum(np.round(rng.exponential(50.0, n), 2), 560.0)
    bad = rng.random(n) < BAD_FRAC
    # half the bad rows lose their reading, half get the epoch-0 stamp
    value_mask = bad & (rng.random(n) < 0.5)
    ts = np.where(bad & ~value_mask, 0, ts)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
        "value": pa.array(value, mask=value_mask),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def generate(out_dir: str, seed: int, events_rows: int) -> None:
    """Write the inputs of one workload to ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    pq.write_table(events(rng, events_rows), os.path.join(out_dir, "events.parquet"))


def digest(out_dir: str) -> str:
    """sha256 over every generated file's name and bytes, in name order."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(out_dir)):
        h.update(name.encode())
        with open(os.path.join(out_dir, name), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()
