"""The Spark side of the benchmark: session lifecycle, the batch FDI jobs
(plain and traced) and the open-loop stream.

Imported only after ``run.py`` has pinned the environment, because PySpark
reads it when the JVM starts. Every layer is reached through its public
function; the benchmark adds nothing to the program but glue between them.
"""

from __future__ import annotations

import json
import os
import subprocess
import threading
import time
from dataclasses import dataclass, field

import numpy as np
from pyspark import SparkContext
from pyspark.sql import functions as F

import gen
import oracle
from fdi_flow_spark.core.session import get_spark
from fdi_flow_spark.observers import LuenbergerObserver, observer_replay
from fdi_flow_spark.operators import cusum, kalman_filter_1d, median_filter, standard_scale
from fdi_flow_spark.sources.tables import events_series
from fdi_flow_spark.streaming import streaming_cusum
from spans import Tracer, count_exchanges


# ------------------------------------------------------------------ session


# Settings the library chooses, reported as the session resolved them.
RESOLVED_KEYS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled",
    "spark.sql.execution.arrow.maxRecordsPerBatch",
)


def start_session(env: dict):
    """A session as the library ships it: its own shuffle-partition default
    and AQE settings apply; only the master and scratch paths are pinned.
    Records the resolved library settings in ``env["resolved"]``."""
    spark = get_spark(app_name="perfbench", master=env["master"], extra_conf=env["conf"])
    spark.sparkContext.setLogLevel("ERROR")
    env["resolved"] = {k: spark.conf.get(k) for k in RESOLVED_KEYS}
    return spark


def jvm_peak_rss_mb() -> float:
    """VmHWM of the driver JVM, in MB."""
    pid = SparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def stop_session(spark) -> None:
    """Stop the context, then the JVM, and wait until it has exited."""
    gateway = SparkContext._gateway
    proc = gateway.proc
    try:
        spark.stop()
    finally:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ------------------------------------------------------------- batch jobs


@dataclass(frozen=True)
class FdiParams:
    window: int = 5
    q: float = 0.05
    r: float = 1.0
    k: float = 0.5
    h: float = 5.0


# The observer of ``fdi_flow_spark/plans/registry.py:q_fdi_pipeline``.
OBS_A = np.array([[-2.0, 1.0], [1.0, -1.0]])
OBS_B = np.array([[-1.0], [1.0]])
OBS_C = np.array([[1.0, 0.0]])
OBS_DT = 0.1
OBS_POLES = (-3.0, -4.0)


def _observer() -> LuenbergerObserver:
    return LuenbergerObserver(OBS_A, OBS_B, OBS_C, OBS_DT, desired_poles=list(OBS_POLES))


def _residual(series):
    """Observer replay over the series, then the output residual y - C x̂."""
    obs_in = series.select(
        "series_id",
        F.col("ts").alias("step"),
        F.array(F.lit(0.0)).alias("u"),
        F.array(F.col("value")).alias("y"),
    )
    est = observer_replay(obs_in, _observer)
    c0, c1 = (float(v) for v in OBS_C.ravel())
    fitted = F.lit(c0) * F.col("x_hat")[0] + F.lit(c1) * F.col("x_hat")[1]
    return est.join(
        series.select("series_id", F.col("ts").alias("step"), "value"), ["series_id", "step"]
    ).select("series_id", F.col("step").alias("ts"), (F.col("value") - fitted).alias("value"))


# Residual channels, one per generator and series, all fed to one CUSUM bank.
CHANNELS = ("kf", "obs")


def _bank(kf, obs):
    """Both residual generators' outputs in one frame, keyed
    ``<series>/<channel>``."""
    a, b = (
        df.select(F.concat(F.col("series_id"), F.lit(f"/{tag}")).alias("series_id"), "ts", "value")
        for tag, df in zip(CHANNELS, (kf, obs))
    )
    return a.unionByName(b)


def layers(p: FdiParams):
    """``(layer, inputs, fn)`` in job order, after ``sources``: ``fn`` takes
    the frames the layers named in ``inputs`` produced."""
    return [
        ("operators.filters", ("sources",), lambda s: median_filter(s, p.window)),
        ("operators.scalers", ("operators.filters",), standard_scale),
        ("operators.recurrences", ("operators.scalers",),
         lambda s: kalman_filter_1d(s, q=p.q, r=p.r)),
        ("observers", ("sources",), _residual),
        ("operators.drift", ("operators.recurrences", "observers"),
         lambda kf, obs: cusum(_bank(kf, obs), k=p.k, h=p.h, target=0.0)),
    ]


def _alarm_rows(detected) -> dict:
    rows = (
        detected.groupBy("series_id")
        .agg(
            F.min(F.when(F.col("alarm"), F.col("ts"))).alias("first"),
            F.sum(F.col("alarm").cast("long")).alias("count"),
            F.max("cusum_pos").alias("max_pos"),
            F.max("cusum_neg").alias("max_neg"),
        )
        .collect()
    )
    return {
        r["series_id"]: oracle.AlarmRow(r["first"], int(r["count"]), r["max_pos"], r["max_neg"])
        for r in rows
    }


def batch_expected(x: np.ndarray, p: FdiParams):
    """Oracle alarm table for the generated readings ``x``."""
    kf = oracle.kalman1d(oracle.standard_scale(oracle.median_filter(x, p.window)), p.q, p.r)
    obs = oracle.observer_residual(x, OBS_A, OBS_C, OBS_DT, OBS_POLES)
    pos, neg = oracle.cusum(np.vstack([kf, obs]), p.k, 0.0)
    names = [f"{gen.series_name(i)}/{tag}" for tag in CHANNELS for i in range(x.shape[0])]
    return oracle.alarm_table(names, pos, neg, p.h)


def run_batch_job(spark, data_dir: str, p: FdiParams) -> dict:
    """One untraced job: input parquet to collected alarm table."""
    frames = {"sources": events_series(spark, data_dir)}
    for layer, inputs, fn in layers(p):
        frames[layer] = fn(*(frames[i] for i in inputs))
    return _alarm_rows(frames["operators.drift"])


def _plan_children(node) -> list:
    """Children of a JVM physical plan node, looking through adaptive
    wrappers and query stages, and stopping at cached relations."""
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if name.endswith("QueryStageExec"):
        return [node.plan()]
    it = node.children().iterator()
    kids = []
    while it.hasNext():
        kids.append(it.next())
    return kids


def _cached_plan(df):
    """The executed plan that built ``df``'s cache entry."""
    node = df._jdf.queryExecution().executedPlan()
    while node.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        node = node.executedPlan()
    return node.relation().cachedPlan()


def _materialize(spark, tracer: Tracer, name: str, group: str, build):
    """Open span ``name``: build the layer's frame, persist and count it,
    and record its counts."""
    sc = spark.sparkContext
    status = sc.statusTracker()
    with tracer.span(name) as span:
        sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        df = build()
        span.counts["call_ms"] = (time.perf_counter() - t0) * 1000.0
        df.persist()
        span.counts["rows_out"] = df.count()
    stage_ids = {s for j in status.getJobIdsForGroup(group) for s in status.getJobInfo(j).stageIds}
    infos = [status.getStageInfo(s) for s in stage_ids]
    infos = [i for i in infos if i is not None]
    span.counts.update(
        group=group,
        tasks=sum(i.numCompletedTasks for i in infos),
        failed_tasks=sum(i.numFailedTasks for i in infos),
        exchanges=count_exchanges(
            _cached_plan(df), _plan_children, lambda n: n.getClass().getSimpleName()
        ),
    )
    return df


def run_traced_job(spark, tracer: Tracer, n: int, data_dir: str, p: FdiParams):
    """One traced job: each layer's output is persisted and counted inside
    its own span; all are released once the alarm table is collected."""
    with tracer.span("job"):
        spark.sparkContext.setJobGroup(f"job#{n}", "job")
        frames = {
            "sources": _materialize(
                spark, tracer, "sources", f"sources#{n}", lambda: events_series(spark, data_dir)
            )
        }
        for layer, inputs, fn in layers(p):
            frames[layer] = _materialize(
                spark, tracer, layer, f"{layer}#{n}",
                lambda fn=fn, inputs=inputs: fn(*(frames[i] for i in inputs)),
            )
        spark.sparkContext.setJobGroup(f"job#{n}", "job")
        rows = _alarm_rows(frames["operators.drift"])
        for df in frames.values():
            df.unpersist()
    return rows


# ------------------------------------------------------------------ stream

# The generator writes one shard per SHARD_INTERVAL_S; the run waits at most
# DRAIN_S for the warm-up shard, and for the backlog after the last shard.
SHARD_INTERVAL_S = 1.0
DRAIN_S = 60.0


@dataclass
class StreamResult:
    setup_s: float = 0.0
    batches: list = field(default_factory=list)  # (batch_id, start_s, sink_s, pdf)
    due_ms: dict = field(default_factory=dict)  # shard -> due time, epoch ms
    late_ms: list = field(default_factory=list)
    progress: list = field(default_factory=list)
    error: str | None = None  # why the query stopped, if it died


def _wait_for(query, done, timeout_s: float) -> bool:
    """Poll until ``done()``; False if the query died or time ran out."""
    deadline = time.time() + timeout_s
    while not done():
        if not query.isActive or time.time() > deadline:
            return False
        time.sleep(0.01)
    return True


def _last_batch_id(query) -> int:
    progress = query._jsq.lastProgress()
    return -1 if progress is None else progress.batchId()


def run_stream(
    spark, t0: float, work: str, x: np.ndarray, target: float, p: FdiParams,
    shards: int,
) -> StreamResult:
    """Open loop over a session started at ``t0``: shard 0 warms the query
    up (set-up ends when it reaches the sink), then a generator thread
    writes shards 1..``shards`` on a fixed schedule, one per
    ``SHARD_INTERVAL_S``, whether or not the query keeps up. Returns once
    every shard has reached the sink, ``DRAIN_S`` after the last was written, or
    when the query dies; the caller counts what never arrived."""
    in_dir, staging, ckpt = (os.path.join(work, d) for d in ("stream_in", "stream_stage", "ckpt"))
    for d in (in_dir, staging):
        os.makedirs(d)
    n_series = x.shape[0]
    seen = np.zeros(x.shape[1], dtype=np.int64)  # rows sunk per shard
    res = StreamResult()

    def sink(batch_df, batch_id):
        start = time.time()
        pdf = batch_df.toPandas()
        res.batches.append((batch_id, start, time.time(), pdf))
        np.add.at(seen, pdf["ts"].to_numpy(), 1)

    def generator():
        for j in range(1, shards + 1):
            delay = res.due_ms[j] / 1000.0 - time.time()
            if delay > 0:
                time.sleep(delay)
            gen.write_shard(staging, in_dir, j, x, res.due_ms[j])
            res.late_ms.append(time.time() * 1000.0 - res.due_ms[j])

    res.due_ms[0] = int(time.time() * 1000)
    gen.write_shard(staging, in_dir, 0, x, res.due_ms[0])
    source = spark.readStream.schema(gen.STREAM_SCHEMA).parquet(in_dir)
    query = (
        streaming_cusum(source, k=p.k, h=p.h, target=target)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        if _wait_for(query, lambda: seen[0] >= n_series, DRAIN_S):
            res.setup_s = time.perf_counter() - t0
            start = time.time() + 0.1
            for j in range(1, shards + 1):
                res.due_ms[j] = int((start + (j - 1) * SHARD_INTERVAL_S) * 1000)
            thread = threading.Thread(target=generator, name="perfbench-generator")
            thread.start()
            thread.join()
            _wait_for(query, lambda: (seen >= n_series).all(), DRAIN_S)
        # a trigger's progress is posted after its sink returns
        last = max((b[0] for b in res.batches), default=-1)
        _wait_for(query, lambda: _last_batch_id(query) >= last, 10.0)
        res.progress = [json.loads(pr.json()) for pr in query._jsq.recentProgress()]
        if query.exception() is not None:
            res.error = str(query.exception())
    finally:
        query.stop()
    return res
