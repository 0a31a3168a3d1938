"""SparkSession builder for the engine.

Local harness runs one JVM with N executor threads; on a real cluster the
same configs hold (AQE, Arrow, shuffle-partition sizing) — only master and
memory change. The reference creates its session implicitly on Databricks;
we centralize tuning here so every entry point (tests, bench, driver
contract) gets identical behavior.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
#: Driver heap when SPARK_GRAFT_DRIVER_MEM is unset.
DEFAULT_DRIVER_MEM = "16g"
SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
INITIAL_PARTITIONS = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
DAEMON_MODULE = "spark.python.daemon.module"
WORKER_PYTHONPATH = "spark.executorEnv.PYTHONPATH"


def get_spark(
    app_name: str = "dais2021-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this workload.

    - AQE on: runtime coalescing of shuffle partitions + skew-join splitting
      matter at 100 TB and cost nothing locally.
    - Arrow on: every Python boundary (pandas UDF, applyInPandas, toPandas)
      moves columnar batches, not pickled rows.
    - UTC session timezone: parquet timestamps compare bit-identically with
      the DuckDB oracle.
    - shuffle partitions: partition_conf(master, 32) — batch shuffles
      start at 32 and AQE coalesces them, streams use min(32, task slots
      of a local master). An explicit `shuffle_partitions` is used as
      given for both.
    - Python workers: daemon_conf(master) — a local master forks them
      from functions.pydaemon.

    An `extra_conf` value wins over each of these.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    explicit = shuffle_partitions or os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    nparts = int(explicit or DEFAULT_SHUFFLE_PARTITIONS)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config(map=partition_conf(None if explicit else master, nparts))
        .config(map=daemon_conf(master))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's parallelism-first coalescing bottoms out at
        # minPartitionSize (default 1 MB), which serializes CPU-dense
        # small shuffles onto 2-4 cores (the prefix-filter verify join
        # ran its array_intersect stage on 4 of 32 cores). A 16 KB floor
        # keeps those stages wide; at cluster scale shuffle partitions
        # are >> 1 MB, so lowering the FLOOR is a no-op there — the
        # target stays max(bytes/parallelism, floor). Env-overridable
        # for deployments whose scheduler overhead dominates.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION_SIZE", "16k"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", DEFAULT_DRIVER_MEM))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def partition_conf(master: str | None, batch_partitions: int) -> dict[str, str]:
    """The two settings that size shuffles. Batch shuffles start AQE at
    `batch_partitions` and AQE coalesces them. Streams use
    spark.sql.shuffle.partitions as is, since AQE does not run inside
    micro-batches, so that is bounded by the task slots of a local
    `master`: more partitions only queue. The bound is the configured
    slots, not executors live at that moment, because a checkpoint keeps
    the count of its first run. A cluster master, or None, sets no bound.
    """
    slots = _local_slots(master or "")
    stream = batch_partitions if slots is None else min(batch_partitions, slots)
    return {SHUFFLE_PARTITIONS: str(stream), INITIAL_PARTITIONS: str(batch_partitions)}


def daemon_conf(master: str) -> dict[str, str]:
    """Fork the Python workers of a local `master` from functions.pydaemon,
    which keeps each task from re-reading pyspark.zip (see its docstring), and
    put this package's parent directory on the workers' PYTHONPATH so
    `python -m` finds it from any cwd. A cluster master's workers may not
    see this filesystem, so it keeps `pyspark.daemon`."""
    if _local_slots(master) is None:
        return {}
    return {
        # a name, not an import: `python -m` would warn of a second copy
        DAEMON_MODULE: f"{__package__}.functions.pydaemon",
        WORKER_PYTHONPATH: os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    }


def _local_slots(master: str) -> int | None:
    """Task slots of a `local`, `local[N]`, `local[*]` or `local[N,F]`
    master; None for a cluster master."""
    m = re.fullmatch(r"local(?:\[(\*|\d+)(?:,\d+)?\])?", master)
    if m is None:
        return None
    if m.group(1) is None:
        return 1
    return (os.cpu_count() or 1) if m.group(1) == "*" else int(m.group(1))
