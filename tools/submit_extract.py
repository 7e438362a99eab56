#!/usr/bin/env python
"""spark-submit entry point for the extraction job (the north-rule launch
shape: ``spark-submit --py-files engine.zip tools/submit_extract.py ...``).

On a cluster the session inherits master/executors from the submit conf —
this driver never sets a master. Locally it falls back to local[*] so the
same file doubles as a CLI. The job is checkpointed (bucket manifests) and
resumes idempotently: re-submitting after a failure processes only the
buckets whose manifests are missing.

Usage:
    # package the engine once
    python tools/submit_extract.py --make-pyfiles /tmp/engine.zip

    # cluster run (N or 4N executors — scaling evidence in BENCH/)
    spark-submit --py-files /tmp/engine.zip \
        tools/submit_extract.py --input <docs.parquet> --output <dir> \
        [--buckets 64] [--salt-partitions 256] [--no-resume]

    # raw-bytes ingestion instead of span-model input
    ... --input-format binary --input <dir-of-files> --output <dir>
"""

from __future__ import annotations

import argparse
import os
import sys
import time
import zipfile


def make_pyfiles(zip_path: str) -> None:
    """Zip the engine package for --py-files distribution."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(root, "extract_text_spark")
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, _dirnames, filenames in os.walk(pkg):
            if "__pycache__" in dirpath:
                continue
            for name in sorted(filenames):
                if not name.endswith(".py"):
                    continue
                full = os.path.join(dirpath, name)
                zf.write(full, os.path.relpath(full, root))
    print(f"wrote {zip_path}")


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--make-pyfiles", metavar="ZIP",
                    help="package extract_text_spark/ for --py-files, then exit")
    ap.add_argument("--input", help="input path (parquet span table, or a "
                    "directory of raw files with --input-format binary)")
    ap.add_argument("--output", help="output dir (data/ + _manifest/)")
    ap.add_argument("--input-format", choices=["spans", "binary"],
                    default="spans")
    ap.add_argument("--buckets", type=int, default=64,
                    help="checkpoint buckets (resume granularity)")
    ap.add_argument("--salt-partitions", type=int, default=None,
                    help="salt shuffle width (default: shuffle.partitions)")
    ap.add_argument("--no-resume", action="store_true",
                    help="reprocess every bucket even if manifested")
    args = ap.parse_args(argv)

    if args.make_pyfiles:
        make_pyfiles(args.make_pyfiles)
        return 0
    if not args.input or not args.output:
        ap.error("--input and --output are required (or --make-pyfiles)")

    from extract_text_spark.checkpoint import run_extraction
    from extract_text_spark.session import get_spark

    # no master here: spark-submit's conf wins on a cluster; the factory
    # falls back to local[*] when launched directly.
    spark = get_spark(app_name="extract-text-submit")
    t0 = time.monotonic()
    if args.input_format == "binary":
        from pyspark import StorageLevel
        from extract_text_spark.ingest import ingest_bytes_df, named_binary_df
        # materialization barrier: the checkpointed pipeline consumes docs
        # several times (bucket derivation, emptiness probe, extraction) —
        # without the persist each pass re-runs the container-parsing
        # kernel over every file
        docs = ingest_bytes_df(
            named_binary_df(spark.read.format("binaryFile")
                            .load(args.input))).persist(
            StorageLevel.MEMORY_AND_DISK)
    else:
        docs = spark.read.parquet(args.input)
    metrics = run_extraction(
        spark, docs, args.output,
        num_buckets=args.buckets,
        salt_partitions=args.salt_partitions,
        resume=not args.no_resume,
    )
    metrics["wall_s"] = round(time.monotonic() - t0, 3)
    import json
    print(json.dumps(metrics))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
