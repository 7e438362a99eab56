"""The benchmark's workloads, ``spans_mixed`` and ``spans_whales``: input
registration, warm-up, one timed pass, cache release after a pass, and the
output check.

A pass runs the input to a complete result at the noop sink. No pass uses
``.count()``.
"""

from __future__ import annotations

import os
import random
import time

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.types import StringType, StructField, StructType

from extract_text_spark.corpus import oracle_extract
from extract_text_spark.pipeline import SPANS_TYPE, extract_spans_df

SAMPLE_ROOTS = 120        # input docs checked against the oracle


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


class SpansWorkload:
    """Span-model documents (parquet) through ``extract_spans_df`` to the
    noop sink.

    Every pass is checked without a second run: an ``observe`` on the
    pipeline output counts its rows and folds the rows of a seeded sample
    of input docs (with their fan-out children) into an order-free hash.
    After the loop the count must equal the oracle's fanned count and the
    hash must equal the same fold over ``corpus.oracle_extract`` of the
    sample."""

    def __init__(self, input_dir: str, meta: dict, cpus: int, seed: int,
                 corrupt: bool = False):
        self.input_dir, self.seed, self.corrupt = input_dir, seed, corrupt
        self.salt = 4 * cpus
        self.fanned = meta["fanned"]  # the oracle's row count after fan-out
        path = os.path.join(self.input_dir, "docs.parquet")
        ids = pq.read_table(path, columns=["doc_id"]).column(0).to_pylist()
        roots = random.Random(f"sample:{self.seed}").sample(
            ids, min(SAMPLE_ROOTS, len(ids)))
        roots += [i for i in ids if "whale" in i or "bigpdf" in i][:2]
        self.roots = sorted(set(roots))
        self.observed: list[dict] = []

    def register(self, spark: SparkSession) -> None:
        self.spark = spark
        self.docs = spark.read.parquet(
            os.path.join(self.input_dir, "docs.parquet"))

    def extracted(self, docs: DataFrame | None = None) -> DataFrame:
        return extract_spans_df(self.docs if docs is None else docs,
                                salt_partitions=self.salt)

    def warmup(self) -> float:
        """One pass over the whole input pays the one-time costs (Python
        worker start, JIT, code generation); returns its wall seconds."""
        t = time.perf_counter()
        noop(self.extracted())
        self.release()
        return time.perf_counter() - t

    def _in_sample(self):
        root = F.split(F.col("doc_id"), "/").getItem(0)
        return root.isin(self.roots)

    def _fold(self) -> list:
        """Row count, sample row count and sample hash as aggregates."""
        h = F.xxhash64("doc_id", "status", "spans")
        return [F.count(F.lit(1)).alias("rows"),
                F.sum(self._in_sample().cast("long")).alias("sample_rows"),
                F.bit_xor(F.when(self._in_sample(), h)).alias("sample_xor")]

    def run_pass(self) -> None:
        out = self.extracted()
        if self.corrupt:
            # an archive root has no output row of its own; pick one that has
            target = next(r for r in self.roots if not r.endswith("-archive"))
            out = out.withColumn("status", F.when(
                F.col("doc_id") == target, F.lit("corrupted"))
                .otherwise(F.col("status")))
        obs = Observation()
        noop(out.observe(obs, *self._fold()))
        self.observed.append(obs.get)

    def release(self) -> None:
        # extract_spans_df persists the fanned corpus and never unpersists
        self.spark.catalog.clearCache()

    def check(self) -> tuple[int, int]:
        """Checks every pass's fold against the oracle; returns
        (attempted, failed) over the checked passes."""
        sample = pq.read_table(
            os.path.join(self.input_dir, "docs.parquet"),
            filters=[("doc_id", "in", self.roots)]).to_pylist()
        rows = [(doc_id, status, [(s["kind"], s["text"], s["media_ref"],
                                   s["offset"]) for s in spans])
                for doc_id, (status, spans) in oracle_extract(sample).items()]
        schema = StructType([StructField("doc_id", StringType()),
                             StructField("status", StringType()),
                             StructField("spans", SPANS_TYPE)])
        want = self.spark.createDataFrame(rows, schema) \
            .agg(*self._fold()).collect()[0].asDict()
        want["rows"] = self.fanned
        failed = sum(1 for got in self.observed if dict(got) != want)
        return len(self.observed), failed


WORKLOADS = ("spans_mixed", "spans_whales")
