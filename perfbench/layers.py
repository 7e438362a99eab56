"""Per-layer metrics for a traced run, measured from outside the engine by
timing calls into each module's public functions.

Layers (module: what is timed):

* ``session``: the cold ``get_spark`` (JVM launch) and the SQL metric
  "time to initialize Python workers" summed over the warm-up passes.
* ``pipeline``: cumulative plans to the noop sink, read as differences:
  scan, + ``explode_archives_df``, + the salt repartition
  (``pmod(xxhash64(doc_id))``), + an identity ``mapInPandas`` (the Arrow
  hand-off), ``extract_spans_df(skew_split=False)`` (the kernel) and the
  default ``extract_spans_df`` (the skew route). Stage and SQL metrics of
  the traced passes: bytes to and from Python, Python run time, shuffle
  write, spill, blocks left persisted, task time of the kernel stage.
  Counts: fanned docs and docs the engine's skew predicate routes to the
  big path (``pipeline._splittable_col`` at the ``config`` threshold, the
  one private name used, so the counts follow the engine's routing).
* ``extractors``: single-process ``extract_document`` over a seeded sample,
  per input span kind.
* ``ingest``: binaryFile scan and ``ingest_bytes_df`` to the noop sink;
  single-process ``spans_from_bytes`` per file extension.
* ``checkpoint``: ``run_extraction`` write and resume.
* ``host``: steal and load average per pass (``bench._timed_leg``), and
  the wall time of the reference job around a pass (``run.py``).
* ``trace``: the traced passes' wall time, and the tracing overhead as the
  share of a pass's wall time the tracing adds around it.

The span workloads have no raw files, so ``ingest`` runs on 96 seeded
container files built with ``bytecorpus``; ``checkpoint`` runs on the
workload's own span corpus.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from extract_text_spark.checkpoint import run_extraction
from extract_text_spark.config import SKEW_SPLIT_BYTES
from extract_text_spark.extractors import extract_document
from extract_text_spark.ingest import (
    get_file_extension, ingest_bytes_df, named_binary_df, spans_from_bytes,
)
from extract_text_spark.pipeline import (
    _splittable_col, explode_archives_df, extract_spans_df,
)

import inputs
from measure import median, timed_pass
from workloads import noop

KERNEL_KINDS = ["html", "html_main", "pdf_page", "markdown", "csv", "yaml",
                "plain", "source"]
FILE_EXTS = [ext for ext, _ in inputs.BYTE_EXTS]
EXTRACTOR_SAMPLE = 600
INGEST_SAMPLE = 96
NUM_BUCKETS = 16          # checkpoint manifest buckets

UNITS = {
    "session.start_s": "s", "session.worker_init_s": "s",
    "pipeline.scan_s": "s", "pipeline.fanout_s": "s", "pipeline.salt_s": "s",
    "pipeline.handoff_s": "s", "pipeline.kernel_s": "s",
    "pipeline.skew_s": "s",
    "pipeline.py_sent_mb": "MB", "pipeline.py_returned_mb": "MB",
    "pipeline.py_run_s": "s", "pipeline.shuffle_write_mb": "MB",
    "pipeline.spill_mb": "MB", "pipeline.cached_mb": "MB",
    "pipeline.task_p50_s": "s", "pipeline.task_max_s": "s",
    "pipeline.docs_fanned": "count", "pipeline.big_docs": "count",
    "pipeline.big_bytes_frac": "ratio",
    **{f"extractors.{k}.us_per_doc": "us" for k in KERNEL_KINDS},
    "extractors.docs_per_s": "1/s",
    "ingest.scan_s": "s", "ingest.kernel_s": "s",
    **{f"ingest.{e}.us_per_file": "us" for e in FILE_EXTS},
    "checkpoint.write_s": "s", "checkpoint.files_written": "count",
    "checkpoint.manifest_rows": "count", "checkpoint.resume_s": "s",
    "checkpoint.resume_docs": "count",
    "host.steal_s": "s", "host.load_start": "tasks", "host.ref_s": "s",
    "trace.pass_s": "s", "trace.overhead_frac": "ratio",
}


def traced_pass(wl, stats, tracer) -> dict:
    """One pass inside a span and a job group, plus the pass's Spark
    metrics. ``wall_s`` times the pass alone; ``overhead_s`` is what the
    tracing adds around it (job group, listener drain, status-store reads).
    Persisted blocks are read before the caller releases them."""
    t0 = time.perf_counter()
    with tracer.span("pass") as span, stats.group(f"pass-{span['id']}") as g:
        p = timed_pass(wl.run_pass)
        p["cached_mb"] = stats.cached_mb()
    p.update(stats.python_metrics(g["executions"]))
    p.update(stats.stage_totals(g["stages"]))
    # the kernel stage: the pass's stage with the most task time
    best: list[float] = []
    for sid in g["stages"]:
        secs = stats.task_seconds([sid])
        if sum(secs) > sum(best):
            best = secs
    p["task_p50_s"] = median(best) if best else 0.0
    p["task_max_s"] = max(best) if best else 0.0
    p["overhead_s"] = time.perf_counter() - t0 - p["wall_s"]
    return p


def _noop_s(df, tracer, name: str) -> float:
    with tracer.span(name):
        return timed_pass(lambda: noop(df))["wall_s"]


def _pipeline_layers(spark, docs, salt: int, tracer) -> dict:
    """Cumulative plans over ``docs``; each layer is its plan's time minus
    the plan before it."""
    def identity(batches):
        yield from batches

    def salted():
        fanned = explode_archives_df(docs)
        return fanned.repartition(
            salt, F.pmod(F.xxhash64("doc_id"), F.lit(salt)))

    handed = salted().select("doc_id", "spans", "status")
    plans = [
        ("scan", docs),
        ("fanout", explode_archives_df(docs)),
        ("salt", salted()),
        ("handoff", handed.mapInPandas(identity, schema=handed.schema)),
        ("kernel", extract_spans_df(docs, salt_partitions=salt,
                                    skew_split=False)),
        ("skew", extract_spans_df(docs, salt_partitions=salt)),
    ]
    out, before = {}, 0.0
    for name, df in plans:
        t = _noop_s(df, tracer, f"pipeline.{name}")
        spark.catalog.clearCache()
        out[f"pipeline.{name}_s"] = t - before
        before = t
    return out


def _pipeline_counts(docs) -> dict:
    """Fanned docs, and the docs the engine's own skew predicate (at the
    ``config`` threshold) routes to the big path."""
    fanned = explode_archives_df(docs)
    size = F.aggregate("spans", F.lit(0).cast(LongType()),
                       lambda acc, s: acc + F.coalesce(F.length(s.text),
                                                       F.lit(0)))
    big = _splittable_col(SKEW_SPLIT_BYTES)
    row = fanned.select(size.alias("n"), big.alias("big")).agg(
        F.count("*"), F.sum(F.col("big").cast("long")),
        F.sum(F.when(F.col("big"), F.col("n")).otherwise(0)),
        F.sum("n")).collect()[0]
    return {"pipeline.docs_fanned": row[0],
            "pipeline.big_docs": row[1] or 0,
            "pipeline.big_bytes_frac": (row[2] or 0) / max(row[3] or 0, 1)}


def _extractor_layer(seed: int, tracer) -> dict:
    """Single-thread kernel baseline: per doc, the faster of two calls."""
    docs = inputs.span_docs(EXTRACTOR_SAMPLE, seed + 7)
    per_kind: dict[str, list[float]] = {}
    total = 0.0
    with tracer.span("extractors.sample"):
        for doc in docs:
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                extract_document(doc["doc_id"], doc["spans"])
                best = min(best, time.perf_counter() - t0)
            total += best
            kind = doc["spans"][0]["kind"].split(":")[0]
            per_kind.setdefault(kind, []).append(best)
    out = {f"extractors.{k}.us_per_doc":
           1e6 * sum(per_kind[k]) / len(per_kind[k]) for k in KERNEL_KINDS}
    out["extractors.docs_per_s"] = len(docs) / total
    return out


def _ingest_per_file(files: list[tuple[str, bytes]], tracer) -> dict:
    per_ext: dict[str, list[float]] = {}
    with tracer.span("ingest.sample"):
        for name, data in files:
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                spans_from_bytes(data, name)
                best = min(best, time.perf_counter() - t0)
            per_ext.setdefault(get_file_extension(name), []).append(best)
    return {f"ingest.{e}.us_per_file": 1e6 * sum(per_ext[e]) / len(per_ext[e])
            for e in FILE_EXTS}


def _ingest_layer(spark, files_dir: str, tracer) -> dict:
    raw = spark.read.format("binaryFile").load(files_dir)
    scan = _noop_s(raw, tracer, "ingest.scan")
    full = _noop_s(ingest_bytes_df(named_binary_df(raw)), tracer,
                   "ingest.kernel")
    return {"ingest.scan_s": scan, "ingest.kernel_s": full - scan}


def _checkpoint_layer(spark, docs, out: str, salt: int, tracer) -> dict:
    """``run_extraction`` into a fresh ``out``, then once more as a resume
    over the finished output."""
    shutil.rmtree(out, ignore_errors=True)
    with tracer.span("checkpoint.write"):
        t0 = time.perf_counter()
        run_extraction(spark, docs, out, num_buckets=NUM_BUCKETS,
                       salt_partitions=salt)
        write_s = time.perf_counter() - t0
    with tracer.span("checkpoint.resume"):
        t0 = time.perf_counter()
        resume = run_extraction(spark, docs, out, num_buckets=NUM_BUCKETS,
                                salt_partitions=salt)
        resume_s = time.perf_counter() - t0
    spark.catalog.clearCache()
    files = sum(1 for _d, _s, names in os.walk(os.path.join(out, "data"))
                for n in names if n.endswith(".parquet"))
    rows = spark.read.parquet(os.path.join(out, "_manifest")).count()
    return {"checkpoint.write_s": write_s, "checkpoint.resume_s": resume_s,
            "checkpoint.resume_docs": resume["docs"],
            "checkpoint.files_written": files,
            "checkpoint.manifest_rows": rows}


def per_layer(wl, spark, tracer, work: str, traced: list[dict],
              base: dict) -> dict:
    """Every per-layer metric of the traced run. ``traced`` holds the
    traced passes; ``base`` carries the metrics the run loop measured
    itself (session, host, tracing overhead)."""
    m = dict(base)
    for key in ("py_sent_mb", "py_returned_mb", "py_run_s",
                "shuffle_write_mb", "spill_mb", "cached_mb",
                "task_p50_s", "task_max_s"):
        m[f"pipeline.{key}"] = median(p[key] for p in traced)
    m.update(_pipeline_layers(spark, wl.docs, wl.salt, tracer))
    m.update(_pipeline_counts(wl.docs))
    spark.catalog.clearCache()

    files = inputs.byte_files(INGEST_SAMPLE, wl.seed)
    files_dir = os.path.join(work, "trace", "ingest_sample")
    shutil.rmtree(files_dir, ignore_errors=True)
    os.makedirs(files_dir)
    for name, data in files:
        with open(os.path.join(files_dir, name), "wb") as fh:
            fh.write(data)
    m.update(_ingest_layer(spark, files_dir, tracer))
    m.update(_ingest_per_file(files, tracer))
    m.update(_checkpoint_layer(spark, wl.docs,
                               os.path.join(work, "trace", "checkpoint"),
                               wl.salt, tracer))
    m.update(_extractor_layer(wl.seed, tracer))
    missing = set(UNITS) - set(m)
    if missing:
        raise RuntimeError(f"per-layer metrics not measured: {sorted(missing)}")
    return {k: m[k] for k in UNITS}
