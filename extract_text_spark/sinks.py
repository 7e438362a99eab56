"""Table sinks: Iceberg when a catalog is configured, parquet otherwise.

The production design (north star) writes extracted spans and checkpoint
manifests to Iceberg tables — snapshot-isolated commits give exactly-once
bucket overwrites and manifest appends for free. No Iceberg runtime jar
ships in this sandbox, so the layout degrades to plain parquet with
dynamic-partition-overwrite (checkpoint.py), which has the same observable
idempotency for a single writer; the differences that matter at 1000
executors are documented on ``write_table``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession, catalog: str = "spark_catalog") -> bool:
    """True when an Iceberg catalog implementation is on the classpath."""
    try:
        impl = spark.conf.get(f"spark.sql.catalog.{catalog}", None)
    except Exception:
        impl = None
    return bool(impl and "iceberg" in str(impl).lower())


def write_table(
    df: DataFrame,
    name_or_path: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
) -> str:
    """Write to Iceberg (``catalog.db.table``) or parquet (path) transparently.

    Iceberg path semantics (used when a catalog is configured):
      * ``append``            -> ``writeTo(t).append()``
      * ``overwrite_partitions`` -> ``writeTo(t).overwritePartitions()``
        (snapshot-isolated replacement of exactly the touched partitions —
        the multi-writer-safe version of parquet's dynamic overwrite, which
        is only single-writer-safe because it deletes files in place)

    Returns the backend used ("iceberg" | "parquet").
    """
    spark = df.sparkSession
    if "/" not in name_or_path and iceberg_available(spark):
        writer = df.writeTo(name_or_path)
        if partition_by:
            writer = writer.partitionedBy(*[df[c] for c in partition_by])
        if mode == "append":
            writer.append()
        elif mode == "overwrite_partitions":
            writer.overwritePartitions()
        else:
            writer.createOrReplace()
        return "iceberg"

    w = df.write.mode("overwrite" if mode == "overwrite_partitions" else mode)
    if mode == "overwrite_partitions":
        # pinned on this write, as in checkpoint.py: Spark's default
        # static mode would delete every partition this write lacks
        w = w.option("partitionOverwriteMode", "dynamic")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(name_or_path)
    return "parquet"


def read_table(spark: SparkSession, name_or_path: str) -> DataFrame:
    if "/" not in name_or_path and iceberg_available(spark):
        return spark.read.table(name_or_path)
    return spark.read.parquet(name_or_path)
