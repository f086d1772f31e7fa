#!/usr/bin/env python
"""Multi-executor proof that the r14 scale-out shuffle-partition guard
takes effect (r14 VERDICT item: 'change 8 is unproven at scale').

Runs under a REAL multi-executor master (default local-cluster[2,8,4096])
and executes a big-shuffle query twice in one session:

  off: spark.sql.adaptive.coalescePartitions.initialPartitionNum unset
       -> the reduce side starts at spark.sql.shuffle.partitions (32,
       the library default on a non-local master)
  on:  initialPartitionNum = $SPARK_GRAFT_INITIAL_SHUFFLE_PARTITIONS
       (default 128 here) -> the reduce side starts there and AQE
       coalesces DOWN per stage

For each run it records the executed-plan evidence: the Exchange's
hash-partitioning width (pre-coalesce reduce parallelism) and the
AQEShuffleRead coalescing, plus the query's result row count (identical
across configs — the knob is plan-shape only). Writes
cluster_initial_partitions_check.json at the repo root.

Usage: python scripts/initial_partitions_probe.py
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

MASTER = os.environ.get("SPARK_GRAFT_CLUSTER_MASTER", "local-cluster[2,8,4096]")
INITIAL = int(os.environ.get("SPARK_GRAFT_INITIAL_SHUFFLE_PARTITIONS", "128"))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from pyspark.sql import functions as F

    from fdi_flow_spark.core.session import get_spark
    from fdi_flow_spark.sources.tables import load_table

    spark = get_spark(
        app_name="fdi_flow_spark-initial-parts",
        master=MASTER,
        extra_conf={
            "spark.executor.memory": os.environ.get(
                "SPARK_GRAFT_BENCH_EXECMEM", "4g"
            ),
            "spark.executorEnv.PYTHONPATH": _REPO,
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    docs = load_table(spark, sf_dir, "documents")
    li = load_table(spark, sf_dir, "lineitem")

    def big_shuffle():
        # a corpus-shingle aggregate: the exact shuffle family the guard
        # exists for (dfreq in the containment/pair-join plans)
        grams = F.expr(
            """
            array_distinct(transform(
              sequence(1, length(text) - 11), i -> substring(text, i, 12)))
            """
        )
        sh = (
            docs.where(F.length("text") >= 12)
            .select(F.explode(grams).alias("s"))
            .select(F.xxhash64("s").alias("h"))
        )
        return sh.groupBy("h").agg(F.count("*").alias("c"))

    def li_shuffle():
        return li.groupBy("l_orderkey").agg(
            F.sum("l_extendedprice").alias("s"), F.count("*").alias("n")
        )

    results = {"master": MASTER, "initial": INITIAL, "runs": {}}
    for mode in ("off", "on"):
        if mode == "on":
            spark.conf.set(
                "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
                str(INITIAL),
            )
        else:
            spark.conf.unset(
                "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
            )
        for qname, mk in (("shingle_dfreq", big_shuffle), ("li_rollup", li_shuffle)):
            df = mk()
            t0 = time.perf_counter()
            n = df.count()
            dt = round(time.perf_counter() - t0, 3)
            plan = df._jdf.queryExecution().executedPlan().toString()
            widths = sorted(
                {int(w) for w in re.findall(r"hashpartitioning\([^)]*?, (\d+)\)", plan)}
            )
            results["runs"][f"{qname}_{mode}"] = {
                "rows": n,
                "sec": dt,
                "exchange_partition_widths": widths,
                "aqe_coalesced": "AQEShuffleRead coalesced" in plan,
                "plan_excerpt": [
                    ln.strip()
                    for ln in plan.splitlines()
                    if "Exchange hashpartitioning" in ln or "AQEShuffleRead" in ln
                ][:6],
            }
            print(
                json.dumps({f"{qname}_{mode}": results["runs"][f"{qname}_{mode}"]}),
                file=sys.stderr,
                flush=True,
            )
    with open(os.path.join(_REPO, "cluster_initial_partitions_check.json"), "w") as f:
        json.dump(results, f, indent=1)
    print(json.dumps(results))
    spark.stop()


if __name__ == "__main__":
    main()
