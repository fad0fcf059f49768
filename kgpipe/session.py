"""SparkSession factory tuned for the pipeline.

Settings chosen for scale (see SURVEY.md §4): AQE on (skew-join splitting +
shuffle coalescing), Arrow on (the trie scanner is an Arrow-batched
``mapInPandas``), shuffle partitions sized for the local harness but meant
to be overridden via ``spark-submit --conf`` on a real cluster.
"""

from __future__ import annotations

import os
from typing import Mapping

from pyspark.sql import SparkSession


def available_cpus() -> int:
    """CPUs this process may run on: its affinity mask (which a cpuset
    limit narrows), not the machine's core count."""
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def default_cpus(env: Mapping[str, str], available: int) -> int:
    """Local-mode core and shuffle-partition count: ``SPARK_GRAFT_CPUS``
    when set, else the *available* CPUs.  Each Python task has a fixed
    worker cost, so more partitions than cores only adds tasks."""
    raw = env.get("SPARK_GRAFT_CPUS")
    if not raw:
        return available
    if not raw.strip().isdigit() or int(raw) < 1:
        raise ValueError(
            f"SPARK_GRAFT_CPUS must be a positive integer, got {raw!r}"
        )
    return int(raw)


def get_spark(
    app_name: str = "kgpipe",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = default_cpus(os.environ, available_cpus())
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # Spark 4.1's ChecksumCheckpointFileManager deadlocks on local-FS
        # state-store commits under applyInPandasWithState (awaitResult in
        # createWithChecksum never completes); checksums are for detecting
        # checkpoint corruption on remote object stores, safe to disable here
        .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
        .config("spark.driver.memory", os.environ.get("KGPIPE_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


def cpu_partition_count(spark, default: int = 200) -> int:
    """Explicit partition count for CPU-bound (Python) stages: AQE may
    coalesce a bare repartition to byte-sized partitions and serialize the
    stage, so callers pin the count — spark.sql.shuffle.partitions when
    numeric, else the cluster default parallelism."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        try:
            return int(spark.sparkContext.defaultParallelism)
        except Exception:
            return default
