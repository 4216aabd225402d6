"""SparkSession helper with scale-oriented defaults.

Tests and the bench run on ``local[N]`` but every setting here is chosen
for cluster execution: AQE on (runtime coalescing + skew-join splitting),
Arrow on (all our kernels are pandas-UDF based), broadcast threshold
generous enough that dimension tables and the LDA vocab always broadcast.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

__all__ = ["get_spark", "default_parallelism", "job_phase"]


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(app_name: str = "plda-spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = default_parallelism()
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    return builder.getOrCreate()


@contextmanager
def job_phase(spark: SparkSession, operator: str, phase: str) -> Iterator[None]:
    """Label the Spark jobs run inside as ``<operator>:<phase>`` (the job
    description the UI and the status store show), then restore the
    caller's description.  The job group stays the caller's."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setLocalProperty("spark.job.description", f"{operator}:{phase}")
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", prev)
