"""Order statistics shared by the runner, the traced run and the tests."""

from __future__ import annotations

import numpy as np

# Percentiles the report may quote, highest last.
PERCENTILE_LADDER = (50.0, 90.0, 99.0, 99.9)
# Samples a quoted percentile must keep beyond it.
BEYOND = 10


def steady_percentile(n: int) -> float | None:
    """Highest percentile of ``PERCENTILE_LADDER`` that keeps at least
    ``BEYOND`` of ``n`` samples above it, or None when even the lowest does
    not."""
    best = None
    for p in PERCENTILE_LADDER:
        if n * (100.0 - p) >= BEYOND * 100.0 - 1e-6:  # 100 - 99.9 is inexact
            best = p
    return best


def task_skew(durations_ms) -> float:
    """Max over median task time; 1.0 for an empty or all-instant stage.

    The median is floored at 1 ms so a stage of near-instant tasks does not
    divide by zero."""
    if not durations_ms:
        return 1.0
    return max(durations_ms) / max(float(np.median(durations_ms)), 1.0)


def latencies_ms(rows, due_ms_of) -> list[float]:
    """Per-row latency from the row's due time, not from when it was sent.

    ``rows`` yields ``(key, sink_time_s)``; ``due_ms_of(key)`` is the due
    time in epoch milliseconds. A stall that delays the generator therefore
    counts against every row it held back."""
    return [sink_s * 1000.0 - due_ms_of(key) for key, sink_s in rows]
