"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[N]``; the config below is chosen so the same
code is correct and fast on a 1000-executor cluster:

- AQE on (runtime shuffle-partition coalescing + skew-join splitting),
- Arrow on (every pandas-UDF operator pays one Arrow hop, not pickle),
- shuffle partitions: one per core on a ``local[N]`` master
  (``sparkContext.defaultParallelism``, exact there at start-up). A stateful
  streaming query fixes its state-store width to this value and pays one
  Python task and one state-store commit per partition on every trigger, so
  extra partitions on few cores only add task waves to each trigger. On any
  other master executors register after start-up and the core count is not
  known yet, so the width is ``spark.default.parallelism`` if set, else 32,
- UTC session timezone so timestamp semantics match the DuckDB oracle.

A streaming checkpoint keeps the shuffle-partition count its query was
first started with; restarting from an existing checkpoint ignores the
session value. Start from a fresh checkpoint to pick up a new width.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "fdi_flow_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    master = master or (f"local[{cpus}]" if cpus else "local[*]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # driver testdata stores events.ts as TIMESTAMP(NANOS), which Spark 4
        # refuses by default; read it as a long (ns since epoch) — every use
        # is ordering-only, and long ordering == timestamp ordering.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    # Scale-out guard: AQE's partition coalescing only SHRINKS the shuffle
    # partition count — it never grows it above spark.sql.shuffle.partitions
    # — so the default width (one per local core; on a cluster
    # spark.default.parallelism or 32) caps reduce-side parallelism for the
    # big batch shuffles. Production sets
    # SPARK_GRAFT_INITIAL_SHUFFLE_PARTITIONS (rule of thumb: ~2-4x total
    # executor cores, or input_bytes / 256 MB for the big shuffles) and AQE
    # coalesces DOWN from there per stage. The knob leaves
    # spark.sql.shuffle.partitions, and so the width of stateful streaming
    # queries, alone.
    initial_parts = os.environ.get("SPARK_GRAFT_INITIAL_SHUFFLE_PARTITIONS")
    if initial_parts:
        # validate at read time (r14 ADVICE): a non-integer value would
        # otherwise surface only at the first query as an opaque Spark
        # conf error. NOTE the knob requires AQE partition coalescing
        # (enabled above) — extra_conf that disables it leaves this inert.
        try:
            n = int(initial_parts)
            if n <= 0:
                raise ValueError
        except ValueError:
            raise ValueError(
                "SPARK_GRAFT_INITIAL_SHUFFLE_PARTITIONS must be a positive "
                f"integer, got {initial_parts!r}"
            ) from None
        builder = builder.config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(n),
        )
    conf = {"spark.sql.shuffle.partitions": str(shuffle_partitions)} if shuffle_partitions else {}
    conf.update(extra_conf or {})
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if "spark.sql.shuffle.partitions" not in conf:
        # Known only once the context is up; on a live session this
        # resets the value, as the builder does with every other key.
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(_default_shuffle_partitions(spark.sparkContext)),
        )
    return spark


def _default_shuffle_partitions(sc) -> int:
    """One partition per core on a ``local`` / ``local[...]`` master.
    Elsewhere ``defaultParallelism`` counts only the executor cores
    registered so far (at least 2), a start-up race, so use
    ``spark.default.parallelism`` if set, else 32."""
    if sc.master == "local" or sc.master.startswith("local["):
        return sc.defaultParallelism
    return int(sc.getConf().get("spark.default.parallelism", "32"))
