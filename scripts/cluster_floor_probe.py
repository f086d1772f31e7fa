#!/usr/bin/env python
"""Multi-executor-JVM x100 probe for the queries blocked by the single-JVM
block-storage floor (round-11 VERDICT item 4).

`curation_deploy` and the containment family had no x100 rows in
SCALING.json's x100 block: their composed plans exceed ONE 8 GiB local-mode
JVM at the 1.4 GB x100 corpus (the serialized (id, h) checkpoint alone is
~2.3 GB, and local mode stores every block in the single driver-executor
heap). The claim recorded there is that the floor is local-mode topology,
not the plans — on a cluster the blocks partition across executors. This
script tests that claim with `local-cluster` (real separate executor JVMs,
real block-store partitioning, real netty shuffle).

Measured escalation (r12, all at the x100 corpus, containment_screened):
- `local-cluster[2,16,4096]` — executor heap OOM (exit 52) in the
  window-sort stage: 32 shuffle partitions put ~4.5M rows in one task and
  16 concurrent tasks shared 4 GiB.
- `[2,8,4096]` + 256 shuffle partitions — still OOM: AQE's default 64 MB
  advisory target re-coalesced 256 partitions to ~23, recreating the same
  task sizes.
- `[2,4,4096]` + 16 MB advisory — still OOM, now in the spill-MERGE phase
  (`ReadAheadInputStream` buffers during HashAggregate.finishAggregate):
  with ~1 GiB of checkpoint blocks pinned under the protected storage
  fraction, execution starved, spilled hundreds of chunks, and the merge's
  per-spill-file read-ahead buffers blew the unmanaged heap.
- `[2,4,8192]` (the default below) — COMPLETES: 958 s for 60.4M output
  rows (98.2x time for 117,964x output — the twin-duplication fixture is
  output-explosive by design). Two 8 GiB executor JVMs finish what one
  8 GiB local-mode JVM cannot: the floor is storage/heap TOPOLOGY — a
  single JVM must hold every checkpoint partition AND every concurrent
  task's execution memory; two JVMs each hold half of both.

Writes an `x100_cluster` block into SCALING.json (resumable per query, the
run_x100 idiom):
  {"master": ..., "queries": {name: {t1, rows1, t100, rows100,
   time_ratio, rows_ratio}}}
Run from the repo root (corpora must already exist — build via
scaling_rehearsal.py):
    python scripts/cluster_floor_probe.py [query ...]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
X100 = os.path.join(_REPO, ".scaling", "x100")
MASTER = os.environ.get("SPARK_GRAFT_CLUSTER_MASTER", "local-cluster[2,4,8192]")
EXEC_MEM = os.environ.get("SPARK_GRAFT_CLUSTER_EXECMEM", "8g")

# The single-JVM-floor set: the two named by the r11 VERDICT, plus the
# in-flight containment probe (same (id, h) checkpoint axis). r13 (r12
# VERDICT item 6) extends the recorded block to the two biggest NON-blocked
# suite queries — ngram_jaccard_pairs (extended-prefix AllPairs) and
# minhash_dedup_pairs (LSH banding) — to confirm the two pinned
# scale-tuning rules (shuffle partitions grow with data; AQE advisory
# shrinks as serialized bytes expand into sort rows) generalize beyond the
# containment family.
PROBE_QUERIES = [
    "containment_screened",
    "curation_deploy",
    "containment_probe",
    "ngram_jaccard_pairs",
    "minhash_dedup_pairs",
]


def main() -> None:
    from fdi_flow_spark.core.session import get_spark

    if not os.path.exists(os.path.join(X100, "_BUILT")):
        raise SystemExit("x100 corpus missing — run scripts/scaling_rehearsal.py first")

    spark = get_spark(
        app_name="fdi_flow_spark-cluster-floor",
        master=MASTER,
        # Shuffle partitions sized for the x100 corpus (the library default
        # on a non-local master, 32, is the sf0.1 starting point; the
        # repo-wide scale guidance is that partition count grows with data
        # so each sort/agg task fits in executor memory — at x100 the 143M-row (id, h) shuffle at 32
        # partitions put ~4.5M rows in one window-sort task, a measured
        # executor heap OOM; at 256 each task holds ~0.5M rows. AQE
        # coalesces the excess at x1, so the x1 leg is not fragmented).
        shuffle_partitions=int(os.environ.get("SPARK_GRAFT_CLUSTER_SHUFFLE", "256")),
        extra_conf={
            # executor memory must match the worker size in the master
            # string; everything else inherits the library defaults (AQE,
            # Arrow, serialized-checkpoint storage inside the operators)
            "spark.executor.memory": EXEC_MEM,
            # AQE's 64 MB advisory target re-coalesced the 256 shuffle
            # partitions down to ~23 (measured), recreating the multi-
            # million-row sort tasks the partition count exists to avoid —
            # 64 MB of serialized shuffle bytes expands ~10x as in-flight
            # sort rows. A smaller advisory size keeps post-coalesce tasks
            # heap-sized at the x100 corpus; at x1 it just means more,
            # smaller tasks (latency-irrelevant for a floor probe).
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": os.environ.get(
                "SPARK_GRAFT_CLUSTER_ADVISORY", "16m"
            ),
            # unlike local[N], executor-side Python workers here are real
            # separate processes that do not inherit the driver's sys.path —
            # the Arrow-UDF stages (curation_deploy's cleanup/scoring) need
            # the package importable on the executors
            "spark.executorEnv.PYTHONPATH": _REPO,
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    from fdi_flow_spark.plans.registry import QUERIES as REG
    from fdi_flow_spark.sources.tables import TABLES, load_table

    # warm: scans both corpora + one shuffle + the Python worker pool
    for d in (BASE, X100):
        for t in TABLES:
            load_table(spark, d, t).count()
    wide = spark.range(0, 10_000, 1, spark.sparkContext.defaultParallelism)
    wide.groupBy((wide.id % 97).alias("k")).count().count()
    wide.mapInPandas(lambda it: it, schema="id long").count()

    names = [a for a in sys.argv[1:] if not a.startswith("--")] or PROBE_QUERIES
    n1 = max(1, int(os.environ.get("SPARK_GRAFT_SCALING_N1", "2")))
    n100 = max(1, int(os.environ.get("SPARK_GRAFT_SCALING_N100", "1")))
    sidecar = os.path.join(_REPO, "SCALING.json")

    def _load() -> dict:
        try:
            with open(sidecar) as f:
                return json.load(f)
        except (OSError, ValueError):
            return {}

    def _merge(key: str, value) -> None:
        out = _load()
        blk = out.setdefault(
            "x100_cluster",
            {
                "master": MASTER,
                "executor_memory": EXEC_MEM,
                "n_runs": {"x1": n1, "x100": n100},
                "queries": {},
            },
        )
        if key == "queries":
            blk.setdefault("queries", {}).update(value)
        else:
            blk[key] = value
        with open(sidecar, "w") as f:
            json.dump(out, f, indent=1)

    # Custom entries measure an operator's DOCUMENTED scale path when the
    # registry query pins an x1-shaped knob (the rolling_corr_grouped
    # precedent in scaling_rehearsal.py). semantic_dedup's contract is
    # "k scales with the corpus" (SemDeDup uses ~100k clusters at web
    # scale) precisely so per-cluster gemm blocks stay bounded — at the
    # x100 corpus the registry's k=8 would grow each cluster 100x and the
    # O(cluster^2) gemm 10,000x (~1e16 FLOPs, a measured-by-arithmetic
    # stall), which would demonstrate the documented anti-pattern, not
    # the engine. k=800 at x100 holds per-cluster blocks at their x1 size;
    # output still explodes legitimately (every vector has 99 exact twins
    # in-cluster by construction).
    def _semantic_dedup_scaled_k(spark, d):
        from fdi_flow_spark.pipelines.clustering import semantic_dedup_pairs
        from fdi_flow_spark.sources.tables import load_table

        k = 8 if d == BASE else 800
        return semantic_dedup_pairs(
            load_table(spark, d, "embeddings"), k=k, n_iter=2, threshold=0.4
        )

    CUSTOM = {"semantic_dedup_scaled_k": _semantic_dedup_scaled_k}

    done = set(_load().get("x100_cluster", {}).get("queries", {}))
    for name in names:
        if name in done:
            print(f"x100_cluster {name}: already recorded, skipping", file=sys.stderr)
            continue
        fn = CUSTOM.get(name) or REG[name]
        rec: dict = {}
        for label, d, n_runs in (("1", BASE, n1), ("100", X100, n100)):
            ts = []
            for _ in range(n_runs):
                t0 = time.perf_counter()
                fn(spark, d).write.format("noop").mode("overwrite").save()
                ts.append(time.perf_counter() - t0)
            rec[f"t{label}"] = round(statistics.median(ts), 3)
            rec[f"rows{label}"] = fn(spark, d).count()
        rec["time_ratio"] = round(rec["t100"] / rec["t1"], 2) if rec["t1"] > 0 else None
        rec["rows_ratio"] = (
            round(rec["rows100"] / rec["rows1"], 2) if rec["rows1"] else None
        )
        _merge("queries", {name: rec})
        print(f"x100_cluster {name}: {rec}", file=sys.stderr)
        spark.catalog.clearCache()
    print(json.dumps({"cluster_floor_probe_done": names}))


if __name__ == "__main__":
    main()
