"""Tests for the benchmark's own helpers. No Spark: run with

    python -m pytest perfbench -q
"""

import json
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import oracle  # noqa: E402
from spans import (  # noqa: E402
    Span,
    TaskDigest,
    Tracer,
    count_exchanges,
    group_digest,
    read_event_log,
    self_times,
    summarize_layers,
)
from stats import latencies_ms, steady_percentile, task_skew  # noqa: E402


@pytest.mark.parametrize(
    "n, want",
    [(10_000, 99.9), (1000, 99.0), (999, 90.0), (100, 90.0), (99, 50.0), (20, 50.0), (19, None), (0, None)],
)
def test_steady_percentile_keeps_ten_samples_beyond(n, want):
    assert steady_percentile(n) == want


def test_tracer_records_parents_and_closes_spans_that_raise():
    tracer = Tracer()
    with tracer.span("job"):
        with tracer.span("sources") as s:
            s.counts["rows_out"] = 3
        with pytest.raises(RuntimeError):
            with tracer.span("operators.filters"):
                raise RuntimeError("layer failed")
    job, src, flt = tracer.spans
    assert (job.parent, src.parent, flt.parent) == (None, 0, 0)
    assert src.counts == {"rows_out": 3}
    assert all(s.end is not None and s.end >= s.start for s in tracer.spans)
    assert job.start <= src.start and flt.end <= job.end


def test_self_time_subtracts_union_of_children():
    spans = [
        Span("job", 0.0, 10.0),
        Span("a", 1.0, 3.0, parent=0),
        Span("b", 2.0, 5.0, parent=0),  # overlaps a: covered once
        Span("c", 9.0, 12.0, parent=0),  # runs past its parent: clipped
        Span("d", 2.5, 3.5, parent=2),  # grandchild: only b loses it
    ]
    assert self_times(spans) == pytest.approx([10.0 - 5.0, 2.0, 3.0 - 1.0, 3.0, 1.0])


def test_task_skew_is_max_over_median():
    assert task_skew([100.0, 100.0, 400.0]) == 4.0
    assert task_skew([250.0]) == 1.0
    assert task_skew([]) == 1.0
    assert task_skew([0.0, 0.0, 5.0]) == 5.0  # median floored at 1 ms


def test_latency_counts_from_due_time_not_send_time():
    due = {1: 10_000, 2: 11_000}
    # shard 1 was written 3 s late; its rows still count from 10.0 s
    rows = [(1, 13.5), (1, 14.0), (2, 11.2)]
    assert latencies_ms(rows, due.__getitem__) == pytest.approx([3500.0, 4000.0, 200.0])


def test_count_exchanges_stops_where_children_say():
    tree = {
        "name": "AdaptiveSparkPlanExec",
        "kids": [
            {"name": "ShuffleExchangeExec", "kids": [
                {"name": "InMemoryTableScanExec", "kids": [
                    {"name": "ShuffleExchangeExec", "kids": []},  # behind the cache
                ]},
            ]},
            {"name": "BroadcastExchangeExec", "kids": []},
            {"name": "ReusedExchangeExec", "kids": []},
        ],
    }

    def kids(n):
        return [] if n["name"] == "InMemoryTableScanExec" else n["kids"]

    assert count_exchanges(tree, kids, lambda n: n["name"]) == 2


def test_event_log_digest_groups_tasks_by_job_group(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "operators.filters#0"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
    ]
    for stage, ms, shuffle in [(0, 10, 1_000_000), (0, 30, 1_000_000), (1, 100, 0),
                               (1, 100, 0), (1, 500, 0), (2, 7, 0)]:
        events.append({
            "Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": 1000, "Finish Time": 1000 + ms, "Failed": False},
            "Task Metrics": {"Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}},
        })
    log = tmp_path / "app"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    groups = read_event_log(str(log))
    assert set(groups) == {"operators.filters#0"}
    digest = group_digest(groups["operators.filters#0"])
    assert digest["shuffle_mb"] == 2.0
    assert digest["task_skew"] == 5.0  # stage 1 dominates: 500 / 100


def test_layer_summary_takes_medians_over_traced_jobs():
    def layer(name, start, end, n, rows):
        counts = {"group": f"{name}#{n}", "call_ms": 2.0 * (n + 1), "rows_out": rows,
                  "tasks": 4, "failed_tasks": n, "exchanges": 1}
        return Span(name, start, end, parent=None, counts=counts)

    spans = [Span("job", 0.0, 10.0), layer("sources", 0.0, 3.0, 0, 100),
             Span("job", 10.0, 20.0), layer("sources", 10.0, 15.0, 1, 100),
             layer("sources", 20.0, 21.0, 2, 100), Span("sources", 30.0, 31.0)]  # last raised
    digests = {"sources#0": [TaskDigest(0, 10.0, 2_000_000), TaskDigest(0, 30.0, 0)]}
    out = summarize_layers(spans, digests)
    assert list(out) == ["sources"]
    s = out["sources"]
    assert s["self_s"] == 3.0 and s["call_ms"] == 4.0 and s["rows_out"] == 100
    assert s["failed_tasks"] == 2  # any failed task shows
    assert s["shuffle_mb"] == 0.0 and s["task_skew"] == 1.0  # medians over three jobs


def test_generator_is_seeded():
    a, fa = gen.fleet_values(np.random.default_rng(7), 40, 60)
    b, fb = gen.fleet_values(np.random.default_rng(7), 40, 60)
    c, _ = gen.fleet_values(np.random.default_rng(8), 40, 60)
    assert np.array_equal(a, b) and fa == fb
    assert not np.array_equal(a, c)
    assert 5 < len(fa) < 35  # about half the series carry a fault


def _fleet_alarms():
    x, _ = gen.fleet_values(np.random.default_rng(3), 30, 200)
    det = oracle.kalman1d(oracle.standard_scale(oracle.median_filter(x, 5)), 0.05, 1.0)
    pos, neg = oracle.cusum(det, 0.5, 0.0)
    names = [gen.series_name(i) for i in range(30)]
    return oracle.alarm_table(names, pos, neg, 5.0)


def test_oracle_accepts_its_own_table():
    expected, margin = _fleet_alarms()
    assert any(r.count for r in expected.values())  # the faults do raise alarms
    assert oracle.compare_alarms(expected, margin, dict(expected)) == []


@pytest.mark.parametrize(
    "perturb",
    [
        lambda r: oracle.AlarmRow(r.first, r.count + 1, r.max_pos, r.max_neg),
        lambda r: oracle.AlarmRow(0 if r.first is None else r.first + 1, r.count, r.max_pos, r.max_neg),
        lambda r: oracle.AlarmRow(r.first, r.count, r.max_pos + 1e-3, r.max_neg),
    ],
)
def test_oracle_rejects_perturbed_alarm_table(perturb):
    expected, margin = _fleet_alarms()
    name = max(expected, key=lambda s: expected[s].count)
    got = dict(expected)
    got[name] = perturb(got[name])
    margin = {s: 1.0 for s in margin}  # no series sits on the threshold
    assert oracle.compare_alarms(expected, margin, got)


def test_oracle_rejects_missing_and_extra_series():
    expected, margin = _fleet_alarms()
    got = dict(expected)
    extra = got.pop(next(iter(got)))
    got["s99999"] = extra
    assert len(oracle.compare_alarms(expected, margin, got)) == 2


def test_oracle_forgives_alarm_flip_only_on_the_threshold():
    row = oracle.AlarmRow(3, 2, 5.0, 0.0)
    flipped = {"s": oracle.AlarmRow(3, 1, 5.0, 0.0)}
    assert oracle.compare_alarms({"s": row}, {"s": 0.0}, flipped) == []
    assert oracle.compare_alarms({"s": row}, {"s": 0.5}, flipped)


def test_cusum_recursion_matches_reflected_prefix_sum():
    x = np.random.default_rng(1).normal(size=(4, 300))
    pos, neg = oracle.cusum(x, 0.25, 0.1)
    c = np.cumsum(x - 0.1 - 0.25, axis=1)
    assert np.allclose(pos, c - np.minimum(0.0, np.minimum.accumulate(c, axis=1)))
    c = np.cumsum(0.1 - x - 0.25, axis=1)
    assert np.allclose(neg, c - np.minimum(0.0, np.minimum.accumulate(c, axis=1)))


def test_kalman_and_median_match_the_reference_kernels():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    ref = pytest.importorskip("tests.reference_kernels")
    x = np.random.default_rng(2).normal(size=(3, 50))
    for i in range(3):
        assert np.allclose(oracle.kalman1d(x, 0.05, 1.0)[i], ref.ref_kalman1d(x[i], 0.05, 1.0, None, 1.0))
        assert np.allclose(oracle.median_filter(x, 5)[i], ref.ref_median_filter(x[i], 5, False))


def test_observer_gain_places_the_poles():
    A = np.array([[-2.0, 1.0], [1.0, -1.0]])
    C = np.array([[1.0, 0.0]])
    L = oracle.observer_gain(A, C, (-3.0, -4.0))
    eig = np.sort(np.linalg.eigvals(A - np.outer(L, C.ravel())).real)
    assert np.allclose(eig, [-4.0, -3.0])


def test_stream_check_counts_bad_rows():
    x = np.random.default_rng(4).normal(size=(5, 8))
    pos, neg = oracle.cusum(x, 0.5, 0.0)
    sidx, ts = np.repeat(np.arange(5), 8), np.tile(np.arange(8), 5)
    got_pos, got_neg = pos[sidx, ts].copy(), neg[sidx, ts].copy()
    alarm = (got_pos > 2.0) | (got_neg > 2.0)
    assert oracle.check_stream_rows(sidx, ts, got_pos, got_neg, alarm, pos, neg, 2.0) == 0
    got_pos[3] += 0.1
    assert oracle.check_stream_rows(sidx, ts, got_pos, got_neg, alarm, pos, neg, 2.0) == 1
