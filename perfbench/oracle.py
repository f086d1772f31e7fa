"""NumPy correctness oracle for every workload.

Independent of ``fdi_flow_spark``: it never imports it. The kernels follow
the reference formulas (those ``tests/reference_kernels.py`` pins) but run
in lockstep over all series of a ``[n_series, n_steps]`` matrix, and CUSUM
uses the textbook recursion rather than the library's prefix-sum rewrite,
so agreement also checks that rewrite.

Alarm tables are compared exactly (first alarm step and alarm count per
series) and CUSUM maxima within ``TOL``. The one allowance: a series whose
oracle statistic comes within ``TOL`` of the threshold may flip an alarm on
rounding, so its alarm fields are not held to exact equality.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from numpy.lib.stride_tricks import sliding_window_view

TOL = 1e-6


def median_filter(x: np.ndarray, w: int) -> np.ndarray:
    """Centered width-``w`` median, edges padded with the edge value."""
    pad = w // 2
    xp = np.pad(x, ((0, 0), (pad, w - 1 - pad)), mode="edge")
    return np.median(sliding_window_view(xp, w, axis=1), axis=2)


def standard_scale(x: np.ndarray) -> np.ndarray:
    """Per-series z-score with the population std; constant series are
    only centered."""
    centered = x - x.mean(axis=1, keepdims=True)
    std = x.std(axis=1, keepdims=True)
    return np.where(std > 0, centered / np.where(std > 0, std, 1.0), centered)


def kalman1d(x: np.ndarray, q: float, r: float, p0: float = 1.0) -> np.ndarray:
    """Scalar random-walk Kalman filter seeded with each series' first value."""
    out = np.empty_like(x)
    s = x[:, 0].copy()
    out[:, 0] = s
    p = p0
    for i in range(1, x.shape[1]):
        p_pred = p + q
        k = p_pred / (p_pred + r)
        s = s + k * (x[:, i] - s)
        p = (1 - k) * p_pred
        out[:, i] = s
    return out


def cusum(x: np.ndarray, k: float, target: float) -> tuple[np.ndarray, np.ndarray]:
    """Two-sided CUSUM by recursion: S_i = max(0, S_{i-1} + d_i), S_-1 = 0."""
    pos, neg = np.empty_like(x), np.empty_like(x)
    sp = np.zeros(x.shape[0])
    sn = np.zeros(x.shape[0])
    for i in range(x.shape[1]):
        sp = np.maximum(0.0, sp + (x[:, i] - target - k))
        sn = np.maximum(0.0, sn + (target - x[:, i] - k))
        pos[:, i], neg[:, i] = sp, sn
    return pos, neg


def observer_gain(A: np.ndarray, C: np.ndarray, poles) -> np.ndarray:
    """Gain L (2,) of a 2-state single-output Luenberger observer with
    eig(A - L C) = poles, by matching trace and determinant: both are
    affine in L (det(A - L c) = det A - c adj(A) L)."""
    c = np.asarray(C, dtype=float).ravel()
    adj = np.array([[A[1, 1], -A[0, 1]], [-A[1, 0], A[0, 0]]])
    p1, p2 = poles
    lhs = np.vstack([c, c @ adj])
    rhs = np.array([np.trace(A) - (p1 + p2), np.linalg.det(A) - p1 * p2])
    return np.linalg.solve(lhs, rhs)


def observer_residual(y: np.ndarray, A, C, dt: float, poles) -> np.ndarray:
    """Euler-integrated Luenberger replay with u = 0 (so B drops out) from
    x̂ = 0; returns the output residual y - C x̂ after each update."""
    A, C = np.asarray(A, dtype=float), np.asarray(C, dtype=float).ravel()
    L = observer_gain(A, C, poles)
    xh = np.zeros((y.shape[0], 2))
    res = np.empty_like(y)
    for i in range(y.shape[1]):
        innov = xh @ C - y[:, i]
        xh = xh + dt * (xh @ A.T - innov[:, None] * L[None, :])
        res[:, i] = y[:, i] - xh @ C
    return res


@dataclass(frozen=True)
class AlarmRow:
    first: int | None  # first alarm step, None if the series never alarms
    count: int
    max_pos: float
    max_neg: float


def alarm_table(names, pos: np.ndarray, neg: np.ndarray, h: float):
    """Per-series alarm rows plus each series' closest approach to ``h``."""
    alarm = (pos > h) | (neg > h)
    table, margin = {}, {}
    for i, name in enumerate(names):
        hits = np.flatnonzero(alarm[i])
        table[name] = AlarmRow(
            int(hits[0]) if hits.size else None,
            int(hits.size),
            float(pos[i].max()),
            float(neg[i].max()),
        )
        margin[name] = float(min(np.abs(pos[i] - h).min(), np.abs(neg[i] - h).min()))
    return table, margin


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= TOL * max(1.0, abs(b))


def compare_alarms(expected: dict, margin: dict, got: dict) -> list[str]:
    """Every way ``got`` departs from ``expected``; empty when they agree."""
    problems = [f"missing series {s}" for s in sorted(expected.keys() - got.keys())]
    problems += [f"unexpected series {s}" for s in sorted(got.keys() - expected.keys())]
    for s in sorted(expected.keys() & got.keys()):
        e, g = expected[s], got[s]
        if (g.first, g.count) != (e.first, e.count) and margin[s] > TOL:
            problems.append(f"{s}: alarms first={g.first} n={g.count}, want {e.first}/{e.count}")
        if not (_close(g.max_pos, e.max_pos) and _close(g.max_neg, e.max_neg)):
            problems.append(
                f"{s}: cusum max ({g.max_pos}, {g.max_neg}), want ({e.max_pos}, {e.max_neg})"
            )
    return problems


def check_stream_rows(sidx, ts, pos, neg, alarm, exp_pos, exp_neg, h: float) -> int:
    """Number of emitted stream rows that disagree with the oracle matrices
    ``exp_pos``/``exp_neg`` at ``[sidx, ts]``."""
    ep, en = exp_pos[sidx, ts], exp_neg[sidx, ts]
    stat_bad = (np.abs(pos - ep) > TOL * np.maximum(1.0, np.abs(ep))) | (
        np.abs(neg - en) > TOL * np.maximum(1.0, np.abs(en))
    )
    near = np.minimum(np.abs(ep - h), np.abs(en - h)) <= TOL
    alarm_bad = (alarm != ((ep > h) | (en > h))) & ~near
    return int(np.count_nonzero(stat_bad | alarm_bad))
