"""Seeded FDI benchmark for fdi_flow_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload fleet_batch --seed 1 --seconds 10 --trace 0

Workloads (sizes in ``WORKLOADS``; why each exists in ``BENCHMARK.json``):

- ``fleet_batch``: many short series through two residual generators
  (median filter, z-score and Kalman filter; Luenberger observer replay and
  its output residual) into one CUSUM bank and a per-channel alarm table.
- ``long_series``: the same job on two long series (runnable, not gated).
- ``stream_monitor``: open-loop shards, one per second, through
  ``streaming_cusum`` into a ``foreachBatch`` sink.

End-to-end metrics (``--trace 0``), names and units as in BENCHMARK.json:

- ``setup_s``: from the ``get_spark`` call to the end of the first job, or
  of the first trigger to reach the sink (JVM, Python workers, codegen).
- ``job_s``: batch, median wall time of a warm job from parquet to the
  collected alarm table; stream, median time from a shard's due time until
  its last row reached the sink.
- ``rows_per_s``: batch, input rows over ``job_s``; stream, measured rows
  sunk over the time from the first due shard to the last sink, which falls
  below the offered 1000 rows/s when a backlog grows.
- ``latency_ms_p50``/``latency_ms_p90``: per reading, result time minus due
  time. Rows of one job or trigger share fate, so the sample count (printed)
  is the number of jobs or triggers. In a batch job every reading is due
  when the job starts, so these are percentiles of job time.
- ``ok_frac``: share of jobs or triggers that neither raised nor failed the
  oracle; ``failed_frac`` is printed beside it.

``--trace 1`` runs traced jobs (each layer persisted and counted in its own
span, Spark's event log on) next to untraced ones and prints the per-layer
metrics and the tracing overhead. Every job, trigger and emitted stream row
is checked against the NumPy oracle in ``oracle.py``; the last stdout line
is the JSON result.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import platform
import shutil
import sys
import tempfile
import time

import numpy as np

import gen
import oracle
from spans import Tracer, read_event_log, summarize_layers
from stats import latencies_ms, steady_percentile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()

# kind and shape; the stream's offered rate is series / jobs.SHARD_INTERVAL_S
WORKLOADS = {
    "fleet_batch": {"kind": "batch", "series": 500, "steps": 100},
    "long_series": {"kind": "batch", "series": 2, "steps": 50_000},
    "stream_monitor": {"kind": "stream", "series": 1000},
}

# Untimed jobs (batch) or shards (stream) between set-up and the measured
# window, so the window starts after the JIT has settled.
WARM_JOBS = 1
WARM_SHARDS = 2


def pin_environment(work: str) -> dict:
    """Fix everything the run depends on before the JVM starts: an explicit
    ``local[nproc]`` master, PYTHONPATH so Python workers find the program,
    scratch space inside the checkout, and the log level. Everything else,
    shuffle partitions included, is the library's own default."""
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    # pandas deprecation chatter from PySpark's own serializers, per batch
    os.environ["PYTHONWARNINGS"] = "ignore::FutureWarning"
    tempfile.tempdir = tmp
    return {
        "master": f"local[{nproc}]",
        "nproc": nproc,
        "log_level": "ERROR",
        "PYTHONPATH": os.environ["PYTHONPATH"],
        "SPARK_LOCAL_DIRS": os.environ["SPARK_LOCAL_DIRS"],
        "conf": {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        },
    }


class Attempts:
    """Jobs or triggers tried, and those that raised or failed the oracle."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def record(self, problems: list[str], what: str) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            print(f"# FAILED {what}: {problems[:3]}", file=sys.stderr)

    def check(self, fn, expected, margin, what: str):
        """Run ``fn`` (returns an alarm table) and record the verdict."""
        try:
            problems = oracle.compare_alarms(expected, margin, fn())
        except Exception as e:  # a job that raises counts as failed, never dropped
            problems = [f"{type(e).__name__}: {e}"]
        self.record(problems, what)


def run_batch(args, env: dict, spec: dict, work: str):
    import jobs  # imports the program: only after the environment is pinned

    rng = np.random.default_rng(args.seed)
    x, faults = gen.fleet_values(rng, spec["series"], spec["steps"])
    data_dir = os.path.join(work, "data")
    rows = gen.write_events(data_dir, x, rng)
    p = jobs.FdiParams()
    expected, margin = jobs.batch_expected(x, p)
    conf = env["conf"]
    if args.trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": events,
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        })

    tries = Attempts()
    tracer = Tracer()
    t0 = time.perf_counter()
    spark = jobs.start_session(env)
    session_start_s = time.perf_counter() - t0

    def job():
        return jobs.run_batch_job(spark, data_dir, p)

    def traced_job():
        return jobs.run_traced_job(spark, tracer, len(traced), data_dir, p)

    def timed(fn, what: str) -> float:
        a = time.perf_counter()
        tries.check(fn, expected, margin, what)
        return time.perf_counter() - a

    try:
        tries.check(job, expected, margin, "warm-up job")
        setup_s = time.perf_counter() - t0
        for i in range(WARM_JOBS):
            tries.check(job, expected, margin, f"warm-up job {i + 1}")
        plain, traced = [], []
        start = time.perf_counter()
        step = 0.0  # wall time of the last pass; no pass may end past the window
        while not plain or time.perf_counter() - start + step <= args.seconds:
            a = time.perf_counter()
            plain.append(timed(job, f"job {len(plain)}"))
            if args.trace:
                traced.append(timed(traced_job, f"traced job {len(traced)}"))
            step = time.perf_counter() - a
        peak_rss_mb = jobs.jvm_peak_rss_mb()
    finally:
        jobs.stop_session(spark)

    print(f"# driver JVM peak RSS (VmHWM) {peak_rss_mb:.1f} MB")
    print(f"# input: {rows} rows, {spec['series']} series x {spec['steps']} steps, "
          f"{len(faults)} faults injected")
    job_s = float(np.median(plain))
    print(f"# job_s samples ({len(plain)} jobs): {' '.join(f'{t:.3f}' for t in plain)}")
    if not args.trace:
        return tries, {
            "setup_s": setup_s,
            "job_s": job_s,
            "rows_per_s": rows / job_s,
            "latency_ms_p50": job_s * 1000.0,
            "latency_ms_p90": float(np.percentile(plain, 90.0)) * 1000.0,
            "ok_frac": 1.0 - tries.failed / tries.attempted,
        }

    (log,) = os.listdir(events)
    layers = summarize_layers(tracer.spans, read_event_log(os.path.join(events, log)))
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
    traced_s = float(np.median(traced))
    print(f"# traced total {traced_s:.4f} s vs untraced job_s {job_s:.4f} s: "
          f"tracing overhead {traced_s - job_s:+.4f} s over {len(traced)} traced jobs")
    metrics = layer_metrics(layers)
    metrics["core.session_start_s"] = session_start_s
    metrics["core.jvm_peak_rss_mb"] = peak_rss_mb
    metrics["trace.traced_job_s"] = traced_s
    metrics["trace.untraced_job_s"] = job_s
    metrics["trace.overhead_s"] = traced_s - job_s
    return tries, metrics


def layer_metrics(layers: dict) -> dict:
    return {f"{layer}.{m}": float(v) for layer, ms in layers.items() for m, v in ms.items()}


def stream_layer_metrics(res, warm_batches) -> dict:
    """Per-trigger figures from ``StreamingQuery.recentProgress``, over the
    triggers that carried measured shards."""
    prog = [
        pr for pr in res.progress
        if pr.get("numInputRows", 0) > 0 and pr["batchId"] not in warm_batches
    ]
    if not prog:
        return {}
    dur = [pr["durationMs"] for pr in prog]
    state = [pr["stateOperators"][0] for pr in prog if pr.get("stateOperators")]
    sinks = [(end - start) * 1000.0 for b, start, end, _ in res.batches if b not in warm_batches]
    return {
        "streaming.trigger_ms_p50": np.median([d["triggerExecution"] for d in dur]),
        "streaming.trigger_ms_max": max(d["triggerExecution"] for d in dur),
        "streaming.triggers": len(prog),
        "streaming.rows_per_trigger": np.median([pr["numInputRows"] for pr in prog]),
        "streaming.add_batch_ms_p50": np.median([d.get("addBatch", 0) for d in dur]),
        "streaming.source_ms_p50": np.median(
            [d.get("latestOffset", 0) + d.get("getBatch", 0) for d in dur]
        ),
        "streaming.sink_ms_p50": np.median(sinks) if sinks else 0.0,
        "streaming.state_rows": state[-1]["numRowsTotal"] if state else 0,
        "streaming.state_commit_ms_p50": np.median([s["commitTimeMs"] for s in state]) if state else 0.0,
    }


def run_stream(args, env: dict, spec: dict, work: str):
    import jobs  # imports the program: only after the environment is pinned

    rng = np.random.default_rng(args.seed)
    n_series = spec["series"]
    shards = WARM_SHARDS + args.seconds
    x, faults = gen.fleet_values(rng, n_series, 1 + shards, level_sd=0.2)
    # the detector's target is fitted offline, on fault-free history
    target = float(gen.fleet_values(rng, n_series, 50, fault_share=0.0, level_sd=0.2)[0].mean())
    p = jobs.FdiParams()
    exp_pos, exp_neg = oracle.cusum(x, p.k, target)

    t0 = time.perf_counter()
    spark = jobs.start_session(env)
    session_start_s = time.perf_counter() - t0
    try:
        res = jobs.run_stream(spark, t0, work, x, target, p, shards)
        peak_rss_mb = jobs.jvm_peak_rss_mb()
    finally:
        jobs.stop_session(spark)

    tries = Attempts()
    seen = np.zeros(x.shape, dtype=np.int64)
    warm_batches = set()
    rows_out = []  # (shard, sink time) per measured row
    for batch_id, _start, end, pdf in res.batches:
        if pdf.empty:
            continue
        sidx = np.array([gen.series_index(s) for s in pdf["series_id"]])
        ts = pdf["ts"].to_numpy()
        np.add.at(seen, (sidx, ts), 1)
        bad = oracle.check_stream_rows(
            sidx, ts, pdf["cusum_pos"].to_numpy(), pdf["cusum_neg"].to_numpy(),
            pdf["alarm"].to_numpy(), exp_pos, exp_neg, p.h,
        )
        tries.record([f"{bad} rows disagree with the oracle"] if bad else [], f"trigger {batch_id}")
        if (ts <= WARM_SHARDS).all():
            warm_batches.add(batch_id)
        rows_out += [(int(t), end) for t in ts if t > WARM_SHARDS]
    dup = int((seen > 1).sum())
    if dup:
        tries.record([f"{dup} rows emitted more than once"], "stream output")
    for shard in range(x.shape[1]):
        if (seen[:, shard] == 0).any():
            tries.record([f"shard {shard} not fully delivered"], f"shard {shard}")

    lat = latencies_ms(rows_out, lambda shard: res.due_ms[shard])
    completion = {}
    for shard, end in rows_out:
        completion[shard] = max(completion.get(shard, 0.0), end)
    job_s = (
        float(np.median([completion[s] - res.due_ms[s] / 1000.0 for s in completion]))
        if completion else 0.0
    )
    window_s = (
        max(completion.values()) - res.due_ms[WARM_SHARDS + 1] / 1000.0 if completion else 1.0
    )
    n_triggers = len(res.batches) - len(warm_batches)
    steady = steady_percentile(n_triggers)
    print(f"# driver JVM peak RSS (VmHWM) {peak_rss_mb:.1f} MB")
    print(f"# input: {n_series} series, {args.seconds} shards at 1 per {jobs.SHARD_INTERVAL_S} s "
          f"({n_series / jobs.SHARD_INTERVAL_S:.0f} rows/s offered), {len(faults)} faults injected, "
          f"target {target:.6f}")
    print(f"# latency samples: {len(lat)} rows in {n_triggers} triggers; highest percentile "
          f"with >=10 triggers beyond it: {steady}")
    print("# triggers (batch id, rows, sink s): " + " ".join(
        f"{b}/{len(pdf)}/{end - start:.2f}" for b, start, end, pdf in res.batches))
    print(f"# generator late_ms max {max(res.late_ms, default=0.0):.2f}")
    if res.error:
        print(f"# FAILED stream query: {res.error}", file=sys.stderr)
    if not args.trace:
        return tries, {
            "setup_s": res.setup_s,
            "job_s": job_s,
            "rows_per_s": len(rows_out) / window_s,
            "latency_ms_p50": float(np.median(lat)) if lat else 0.0,
            "latency_ms_p90": float(np.percentile(lat, 90.0)) if lat else 0.0,
            "ok_frac": 1.0 - tries.failed / tries.attempted,
        }
    metrics = stream_layer_metrics(res, warm_batches)
    metrics["core.session_start_s"] = session_start_s
    metrics["core.jvm_peak_rss_mb"] = peak_rss_mb
    metrics["generator.late_ms_max"] = max(res.late_ms, default=0.0)
    return tries, metrics


def declared_metrics(trace: int) -> dict:
    """Name -> unit of the metrics BENCHMARK.json declares for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")

    # run from a checkout root: the program must be importable from here
    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("fdi_flow_spark") is None:
        print(f"perfbench: no fdi_flow_spark package under {ROOT}; run from a checkout root",
              file=sys.stderr)
        return 2

    spec = WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        env = pin_environment(work)
        runner = run_stream if spec["kind"] == "stream" else run_batch
        tries, metrics = runner(args, env, spec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    import pyspark

    config = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "shape": spec, "python": platform.python_version(),
        "pyspark": pyspark.__version__, **{k: v for k, v in env.items() if k != "conf"},
        "conf": env["conf"],
    }
    print("# config " + json.dumps(config, sort_keys=True))
    unit = declared_metrics(args.trace)
    undeclared = metrics.keys() - unit.keys()
    if undeclared:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(undeclared)}")
    if not args.trace and unit.keys() - metrics.keys():
        raise KeyError(f"end-to-end metrics not measured: {sorted(unit.keys() - metrics.keys())}")
    # per-layer metrics of a layer this workload never enters read 0
    metrics = {name: metrics.get(name, 0.0) for name in unit}
    for name, value in metrics.items():
        print(f"# {name} = {value:.6g} {unit[name]}")
    print(f"# failed_frac = {tries.failed / tries.attempted:.6g} "
          f"({tries.failed} of {tries.attempted} jobs or triggers)")
    print(json.dumps({
        "correct": tries.failed == 0,
        "attempted": tries.attempted,
        "failed": tries.failed,
        "metrics": {k: {"value": v, "unit": unit[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
