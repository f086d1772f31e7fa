"""Spans around layer calls, self time, and the Spark event-log digest.

A span records name, start, end, parent and counts. Spans stay in memory and
are written out once, when the run ends. Nothing here imports Spark: the
event log is read as JSON lines after the session has stopped, and plan
trees are walked through caller-supplied accessors.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

import numpy as np

from stats import task_skew

# Physical operators that move rows between tasks. ReusedExchange re-reads
# an exchange already counted, so it is not one of them.
EXCHANGE_NODES = ("ShuffleExchangeExec", "BroadcastExchangeExec")


@dataclass
class Span:
    name: str
    start: float
    end: float | None = None
    parent: int | None = None
    counts: dict = field(default_factory=dict)


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        s = Span(name, time.perf_counter(), parent=parent)
        self._open.append(len(self.spans))
        self.spans.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._open.pop()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def covered(intervals) -> float:
    """Total length of the union of ``(start, end)`` intervals."""
    total, reach = 0.0, None
    for a, b in sorted(intervals):
        if reach is None or a > reach:
            total += b - a
            reach = b
        elif b > reach:
            total += b - reach
            reach = b
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            p = spans[s.parent]
            kids.setdefault(s.parent, []).append((max(s.start, p.start), min(s.end, p.end)))
    return [
        (s.end - s.start) - covered([iv for iv in kids.get(i, []) if iv[1] > iv[0]])
        for i, s in enumerate(spans)
    ]


def count_exchanges(node, children, name) -> int:
    """Exchange nodes in a physical plan tree. ``children(node)`` decides
    where the walk stops (the caller stops at cached relations, so a layer
    counts only the exchanges of its own plan)."""
    own = 1 if name(node) in EXCHANGE_NODES else 0
    return own + sum(count_exchanges(c, children, name) for c in children(node))


@dataclass
class TaskDigest:
    stage: int
    ms: float
    shuffle_bytes: int


def read_event_log(path: str):
    """Map job group -> list of TaskDigest from a Spark event log."""
    group_of_stage: dict[int, str] = {}
    tasks: list[TaskDigest] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group:
                    for sid in ev.get("Stage IDs", []):
                        group_of_stage[sid] = group
            elif kind == "SparkListenerTaskEnd":
                info = ev.get("Task Info", {})
                metrics = ev.get("Task Metrics") or {}
                shuffle = (metrics.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                tasks.append(
                    TaskDigest(
                        ev["Stage ID"],
                        float(info.get("Finish Time", 0) - info.get("Launch Time", 0)),
                        int(shuffle),
                    )
                )
    by_group: dict[str, list[TaskDigest]] = {}
    for t in tasks:
        g = group_of_stage.get(t.stage)
        if g is not None:
            by_group.setdefault(g, []).append(t)
    return by_group


def group_digest(tasks: list[TaskDigest]) -> dict:
    """Shuffle volume and task skew for one job group. Skew is taken on the
    group's dominant stage (largest summed task time), where it sets the
    wall time; tiny bookkeeping stages would otherwise drown it."""
    if not tasks:
        return {"shuffle_mb": 0.0, "task_skew": 1.0}
    per_stage: dict[int, list[float]] = {}
    for t in tasks:
        per_stage.setdefault(t.stage, []).append(t.ms)
    dominant = max(per_stage.values(), key=sum)
    return {
        "shuffle_mb": sum(t.shuffle_bytes for t in tasks) / 1e6,
        "task_skew": task_skew(dominant),
    }


def summarize_layers(spans: list[Span], digests: dict) -> dict:
    """Per-layer medians over every traced job: ``L.self_s``, ``L.call_ms``,
    counts, and the event-log digest of each span's job group. Layer spans
    are those that took counts; spans of a job that raised before its
    counts were taken are left out."""
    selfs = self_times(spans)
    out = {}
    for layer in dict.fromkeys(s.name for s in spans if "group" in s.counts):
        idx = [i for i, s in enumerate(spans) if s.name == layer and "group" in s.counts]

        def med(key, idx=idx):
            return float(np.median([spans[i].counts[key] for i in idx]))

        digest = [group_digest(digests.get(spans[i].counts["group"], [])) for i in idx]
        out[layer] = {
            "self_s": float(np.median([selfs[i] for i in idx])),
            "call_ms": med("call_ms"),
            "rows_out": med("rows_out"),
            "tasks": med("tasks"),
            "failed_tasks": max(spans[i].counts["failed_tasks"] for i in idx),
            "exchanges": med("exchanges"),
            "shuffle_mb": float(np.median([d["shuffle_mb"] for d in digest])),
            "task_skew": float(np.median([d["task_skew"] for d in digest])),
        }
    return out
