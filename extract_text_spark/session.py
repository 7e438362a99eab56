"""SparkSession factory tuned for the extraction workload.

Levers (SURVEY.md §4): Arrow-batched Python transfer with a bounded batch
size (20 MB payload rows must not blow the Python worker — the analogue of
the reference's RLIMIT fencing), AQE for runtime coalescing/skew handling,
and a shuffle-partition default sized for local[32] testing. On a real
cluster the same job ships via ``spark-submit --py-files engine.zip`` and
inherits executor counts from the submit conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .config import (
    ARROW_MAX_BYTES_PER_BATCH,
    ARROW_MAX_RECORDS_PER_BATCH,
    DEFAULT_SHUFFLE_PARTITIONS,
)


def get_spark(
    app_name: str = "extract-text-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_MASTER")
    if master is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        # Under spark-submit (PythonRunner sets PYSPARK_GATEWAY_PORT) the
        # submit conf supplies the master, and calling .master() here
        # would OVERRIDE it — conf set in code wins over submit flags —
        # silently running the whole "cluster" job local to the driver.
        # Only fall back to local[*] for plain `python script.py` usage.
        master = "local[*]"
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus and master == "local[*]":
        master = f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions",
                str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                str(ARROW_MAX_RECORDS_PER_BATCH))
        .config("spark.sql.execution.arrow.maxBytesPerBatch",
                str(ARROW_MAX_BYTES_PER_BATCH))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if master:
        builder = builder.master(master)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
