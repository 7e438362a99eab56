"""Bucket-level checkpoint manifests with idempotent resume.

North-rule requirement (not a reference behaviour): the 10^12-doc job must
resume after failure without reprocessing or duplicating work.

Mechanism (SURVEY.md §4.3):

* every input document is assigned a deterministic ``bucket =
  pmod(xxhash64(doc_id), num_buckets)``, which extraction carries onto
  every row the document fans out to (archive members included);
* extraction output is written as parquet **partitioned by bucket** with
  ``partitionOverwriteMode=dynamic`` — re-running a bucket *overwrites* its
  partition instead of duplicating it (the parquet stand-in for an Iceberg
  ``overwrite``; with an Iceberg catalog configured the same flow maps to
  ``writeTo(...).overwritePartitions()`` and snapshot-isolated commits);
* after a successful write, one manifest row per bucket
  ``(bucket, status, n_docs, n_spans, n_chars, bytes_in, wall_ms, app_id,
  run_ts)`` is appended to ``{output}/_manifest`` — lineage + extraction
  metrics;
* resume = left-anti join of the input's buckets against completed manifest
  buckets, applied before any Python kernel: already-done buckets are
  never parsed or extracted.

Input is either a span table ``(doc_id, spans)`` or a raw-file table
``(doc_id, filename, content)`` (``ingest.named_binary_df``), told apart by
its ``content`` column. Buckets, the bucket filter, the resume anti-join and
the emptiness probe read ``doc_id`` only, so over a ``binaryFile`` scan an
all-done resume reads no file contents, and byte ingestion
(``ingest.ingest_bytes_df``) runs inside the data write, once per pending
file.

Crash-safety: the manifest append happens only after the data write
returns, so a failure mid-write leaves at worst a torn partition that the
next run's dynamic overwrite replaces — manifests never point at
unfinished buckets (write-ahead of data, write-behind of manifest).
Out-of-band data loss *after* a manifest commit (someone deletes files
under {output}/data) is not detected — resume trusts the manifest; that is
the gap Iceberg snapshot isolation closes on the production path (delete
the manifest rows for affected buckets to force reprocessing).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from .config import DEFAULT_NUM_BUCKETS
from .ingest import ingest_bytes_df
from .pipeline import extract_spans_df


def with_bucket(df: DataFrame, num_buckets: int) -> DataFrame:
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(num_buckets)).cast("int")
    )


def bucketed_extraction(docs: DataFrame, num_buckets: int,
                        salt_partitions: int | None = None) -> DataFrame:
    """Bucketed input (``with_bucket``) -> the rows ``run_extraction``
    writes: OUT_SCHEMA followed by ``bucket``.

    Fan-out children land in their root document's bucket: extraction
    carries ``bucket`` onto every row a document fans out to, so
    bucket-level resume stays exact (children re-derive deterministically
    from their root) even for input doc_ids that contain '/'. Byte
    ingestion keeps each file's doc_id, so a raw-file table's ingest output
    is bucketed again by the same rule.
    """
    docs = (with_bucket(ingest_bytes_df(docs), num_buckets)
            if "content" in docs.columns
            else docs.select("doc_id", "spans", "bucket"))
    return extract_spans_df(docs, salt_partitions=salt_partitions)


def completed_buckets(spark: SparkSession, output_dir: str) -> DataFrame | None:
    try:
        m = spark.read.parquet(f"{output_dir}/_manifest")
        return m.filter(F.col("status") == "done").select("bucket").distinct()
    except Exception:
        return None


def run_extraction(
    spark: SparkSession,
    docs: DataFrame,
    output_dir: str,
    num_buckets: int = DEFAULT_NUM_BUCKETS,
    salt_partitions: int | None = None,
    resume: bool = True,
    bucket_filter=None,
) -> dict:
    """Extract ``docs`` into ``{output_dir}/data`` with manifest checkpoints.

    ``docs`` is a span table ``(doc_id, spans)`` or a raw-file table
    ``(doc_id, filename, content)``; either way done buckets are never
    parsed, and each pending document is ingested and extracted once.

    ``bucket_filter`` (testing/fault-injection): optional predicate column
    over ``bucket`` restricting which buckets this invocation processes —
    simulates a killed run that only finished part of the input.

    Returns summary metrics for the processed increment.
    """
    t0 = time.monotonic()
    docs = with_bucket(docs, num_buckets)
    if bucket_filter is not None:
        docs = docs.filter(bucket_filter(F.col("bucket")))
    if resume:
        done = completed_buckets(spark, output_dir)
        if done is not None:
            docs = docs.join(F.broadcast(done), "bucket", "left_anti")

    # The increment's bucket set stays a DataFrame end-to-end: at 10^5
    # buckets a collected python list would bloat the manifest plan with a
    # 10^5-literal IN — the manifest scopes itself with a broadcast
    # semi-join instead. The only driver action is the emptiness probe
    # (limit 1), a column-pruned read of doc_id.
    inc_buckets = docs.select("bucket").distinct()
    if docs.select("bucket").isEmpty():
        return {"buckets": 0, "docs": 0, "spans": 0, "bytes_in": 0,
                "wall_ms": int((time.monotonic() - t0) * 1000)}
    result = bucketed_extraction(docs, num_buckets, salt_partitions)
    # The overwrite mode is pinned on THIS write, not the shared session:
    # under Spark's default *static* mode, mode('overwrite').partitionBy
    # would truncate the whole {output}/data directory while the manifest
    # still marks prior buckets done — resume would silently lose them.
    # A write-local option cannot leak dynamic semantics into the caller's
    # other partitioned overwrites.
    result.write.mode("overwrite").partitionBy("bucket").option(
        "partitionOverwriteMode", "dynamic"
    ).parquet(f"{output_dir}/data")
    wall_ms = int((time.monotonic() - t0) * 1000)

    written = spark.read.parquet(f"{output_dir}/data")
    manifest = (
        written.join(F.broadcast(inc_buckets), "bucket", "left_semi")
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_spans").alias("n_spans"),
            F.sum("n_chars").alias("n_chars"),
            F.sum("bytes_in").alias("bytes_in"),
            F.sum(F.when(F.col("status").startswith("error"), 1)
                  .otherwise(0)).alias("n_errors"),
            F.sum(F.when(F.col("status") == "empty", 1)
                  .otherwise(0)).alias("n_empty"),
        )
        .withColumn("status", F.lit("done"))
        .withColumn("wall_ms", F.lit(wall_ms))
        .withColumn("app_id", F.lit(spark.sparkContext.applicationId))
        .withColumn("run_ts", F.lit(int(time.time() * 1000)))
    )
    manifest.write.mode("append").parquet(f"{output_dir}/_manifest")

    stats = manifest.agg(
        F.count("*").alias("buckets"),
        F.sum("n_docs").alias("docs"),
        F.sum("n_spans").alias("spans"),
        F.sum("bytes_in").alias("bytes_in"),
    ).collect()[0]
    return {
        "buckets": stats["buckets"], "docs": stats["docs"],
        "spans": stats["spans"], "bytes_in": stats["bytes_in"],
        "wall_ms": wall_ms,
    }
