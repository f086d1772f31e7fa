"""Seeded input generator with fault injection.

Everything the program under test reads comes from here: event tables as
parquet for the batch workloads, one-second shards for the stream. The same
seed gives the same files. Nothing in this module imports Spark or the
library under test, and none of it is timed.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FAULT_KINDS = ("step", "drift", "spike")
T0_NS = 1_700_000_000 * 10**9  # event time of step 0
STEP_NS = 10**9  # one reading per second per series
EVENT_FILES = 8  # part files per event table, written in shuffled row order


@dataclass(frozen=True)
class Fault:
    series: int
    ts: int  # first faulty step
    kind: str
    size: float


def series_name(i: int) -> str:
    return f"s{i:05d}"


def series_index(name: str) -> int:
    return int(name[1:])


def fleet_values(
    rng: np.random.Generator,
    n_series: int,
    n_steps: int,
    fault_share: float = 0.5,
    level_sd: float = 0.0,
) -> tuple[np.ndarray, list[Fault]]:
    """Unit-noise readings ``[n_series, n_steps]`` with faults injected into
    about ``fault_share`` of the series at a known step in the middle half:
    a step offset, a linear drift, or a spike one to three samples wide."""
    x = rng.normal(0.0, 1.0, (n_series, n_steps))
    if level_sd:
        x += rng.normal(0.0, level_sd, (n_series, 1))
    faults = []
    lo, hi = max(1, int(0.3 * n_steps)), max(2, int(0.8 * n_steps))
    for s in np.flatnonzero(rng.random(n_series) < fault_share):
        kind = FAULT_KINDS[int(rng.integers(len(FAULT_KINDS)))]
        onset = int(rng.integers(lo, hi))
        sign = 1.0 if rng.random() < 0.5 else -1.0
        if kind == "step":
            size = sign * rng.uniform(2.0, 4.0)
            x[s, onset:] += size
        elif kind == "drift":
            size = sign * rng.uniform(3.0, 6.0)  # offset reached at the end
            ramp = np.arange(n_steps - onset) / max(n_steps - onset, 1)
            x[s, onset:] += size * ramp
        else:
            size = sign * rng.uniform(6.0, 10.0)
            x[s, onset : onset + int(rng.integers(1, 4))] += size
        faults.append(Fault(int(s), onset, kind, float(size)))
    return x, faults


def write_events(path: str, x: np.ndarray, rng: np.random.Generator) -> int:
    """Write readings as an ``events`` table (event_id, event_type, ts, value)
    under ``path/events.parquet``, rows in random order over several files,
    so the program has to derive each series' order itself. Returns rows."""
    n_series, n_steps = x.shape
    sid = np.repeat(np.arange(n_series), n_steps)
    step = np.tile(np.arange(n_steps, dtype=np.int64), n_series)
    order = rng.permutation(sid.size)
    names = np.array([series_name(i) for i in range(n_series)])
    out = os.path.join(path, "events.parquet")
    os.makedirs(out, exist_ok=True)
    for k, part in enumerate(np.array_split(order, EVENT_FILES)):
        table = pa.table(
            {
                "event_id": part.astype(np.int64),
                "event_type": names[sid[part]],
                "ts": T0_NS + step[part] * STEP_NS,
                "value": x.ravel()[part],
            }
        )
        pq.write_table(table, os.path.join(out, f"part-{k:03d}.parquet"))
    return int(sid.size)


STREAM_SCHEMA = "series_id string, ts long, value double, due_ms long"


def write_shard(staging: str, target_dir: str, shard: int, x: np.ndarray, due_ms: int) -> None:
    """Write reading ``shard`` of every series as one parquet file, stamped
    with its due time, then move it into the watched directory in one
    rename so the stream never sees a half-written file."""
    n_series = x.shape[0]
    table = pa.table(
        {
            "series_id": [series_name(i) for i in range(n_series)],
            "ts": np.full(n_series, shard, dtype=np.int64),
            "value": x[:, shard],
            "due_ms": np.full(n_series, due_ms, dtype=np.int64),
        }
    )
    name = f"shard-{shard:06d}.parquet"
    tmp = os.path.join(staging, name)
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(target_dir, name))
