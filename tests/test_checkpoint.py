"""Checkpointed runs: idempotent resume via bucket manifests.

Simulates a killed run (only a subset of buckets processed), then resumes:
the final output must equal a one-shot run — no duplicates, no gaps — and
already-done buckets must not be reprocessed."""

import json
import os
import subprocess
import sys

import pyspark.sql.functions as F

from extract_text_spark.checkpoint import completed_buckets, run_extraction
from extract_text_spark.corpus import corpus_to_df, gen_corpus

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _doc_map(df):
    return {
        r["doc_id"]: (r["status"],
                      [(s["kind"], s["text"], s["media_ref"], s["offset"])
                       for s in r["spans"]])
        for r in df.collect()
    }


def _result_map(spark, out_dir):
    return _doc_map(spark.read.parquet(f"{out_dir}/data"))


def test_partial_then_resume_equals_oneshot(spark, tmp_path):
    docs = corpus_to_df(spark, gen_corpus(80, seed=5))
    one, two = str(tmp_path / "oneshot"), str(tmp_path / "resumed")

    run_extraction(spark, docs, one, num_buckets=8)

    # "Killed" run: only even buckets complete.
    m1 = run_extraction(spark, docs, two, num_buckets=8,
                        bucket_filter=lambda b: b % 2 == 0)
    assert m1["buckets"] <= 4
    done = completed_buckets(spark, two)
    assert done is not None and done.count() == m1["buckets"]

    # Resume: processes only the remaining buckets.
    m2 = run_extraction(spark, docs, two, num_buckets=8)
    assert m2["buckets"] == 8 - m1["buckets"]

    assert _result_map(spark, two) == _result_map(spark, one)

    # Third run: everything checkpointed -> no work, no duplicates.
    m3 = run_extraction(spark, docs, two, num_buckets=8)
    assert m3["buckets"] == 0 and m3["docs"] == 0
    assert _result_map(spark, two) == _result_map(spark, one)


def test_rerun_overwrites_not_duplicates(spark, tmp_path):
    """resume=False re-runs everything; dynamic partition overwrite must
    replace bucket partitions, not append to them — via the WRITE-LOCAL
    option, proven here under a session forced to the static default (a
    session-wide static mode must not truncate other buckets either)."""
    docs = corpus_to_df(spark, gen_corpus(40, seed=6))
    out = str(tmp_path / "out")
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        run_extraction(spark, docs, out, num_buckets=4)
        n1 = spark.read.parquet(f"{out}/data").count()
        # partial rewrite under static session mode: only bucket-0/1 rows
        # are rewritten; buckets 2/3 must survive (write-local dynamic)
        run_extraction(spark, docs, out, num_buckets=4, resume=False,
                       bucket_filter=lambda b: b < 2)
        assert spark.read.parquet(f"{out}/data").count() == n1
        run_extraction(spark, docs, out, num_buckets=4, resume=False)
        assert spark.read.parquet(f"{out}/data").count() == n1
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    # manifest keeps lineage of all three attempts (4 + 2 + 4 buckets)
    m = spark.read.parquet(f"{out}/_manifest")
    assert m.count() == 10
    assert m.select("app_id").distinct().count() == 1


def test_slash_in_input_doc_id_buckets_consistently(spark, tmp_path):
    """Input doc_ids containing '/' (file paths) must bucket by the FULL
    root id, not a split prefix — resume after a partial run must converge
    to the one-shot result with no lost or doubled docs."""
    docs = gen_corpus(60, seed=11)
    for d in docs:
        d["doc_id"] = f"s3://bucket/prefix/{d['doc_id']}"
    df = corpus_to_df(spark, docs)
    one, two = str(tmp_path / "one"), str(tmp_path / "two")
    run_extraction(spark, df, one, num_buckets=8)

    m1 = run_extraction(spark, df, two, num_buckets=8,
                        bucket_filter=lambda b: b % 2 == 0)
    m2 = run_extraction(spark, df, two, num_buckets=8)
    assert m1["buckets"] + m2["buckets"] == 8
    assert _result_map(spark, two) == _result_map(spark, one)
    # fan-out children (doc_id extended with member path) stay in their
    # root's bucket: every written row's partition value is the root's hash
    data = spark.read.parquet(f"{two}/data")
    n_children = data.filter(~F.col("doc_id").startswith("s3://")).count()
    assert n_children == 0  # all ids keep the root prefix
    root_bucket = {r["doc_id"]: r["b"] for r in df.select(
        "doc_id", F.pmod(F.xxhash64("doc_id"), F.lit(8)).alias("b")).collect()}
    n_fanned = 0
    for r in data.select("doc_id", "bucket").collect():
        (root,) = [k for k in root_bucket
                   if r["doc_id"] == k or r["doc_id"].startswith(k + "/")]
        assert r["bucket"] == root_bucket[root], r["doc_id"]
        n_fanned += r["doc_id"] != root
    assert n_fanned > 0
    # a third run is a no-op
    m3 = run_extraction(spark, df, two, num_buckets=8)
    assert m3["buckets"] == 0


def test_manifest_metrics(spark, tmp_path):
    docs = corpus_to_df(spark, gen_corpus(30, seed=7))
    out = str(tmp_path / "out")
    stats = run_extraction(spark, docs, out, num_buckets=4)
    m = spark.read.parquet(f"{out}/_manifest")
    row = m.agg(F.sum("n_docs").alias("d"), F.sum("n_spans").alias("s"),
                F.sum("bytes_in").alias("b")).collect()[0]
    assert row["d"] == stats["docs"] and row["d"] >= 30
    assert row["s"] == stats["spans"]
    assert row["b"] == stats["bytes_in"] and row["b"] > 0
    assert {r["status"] for r in m.collect()} == {"done"}


def _write_raw_files(root) -> int:
    """A directory of real files: a zip holding a nested zip, a docx, a
    pdf, plain texts and one corrupt docx. Returns the file count."""
    from extract_text_spark.bytecorpus import make_docx, make_pdf, make_zip
    files = {
        "bundle.zip": make_zip({
            "inner.md": b"# T\n\nzipped body",
            "sub/nested.zip": make_zip({"deep.txt": b"deep text"}),
        }),
        "report.docx": make_docx(["Docx para"]),
        "paper.pdf": make_pdf([["Page one"], ["Page two"]]),
        "broken.docx": b"not a zip at all",
    }
    # enough plain files that both bucket parities hold some input
    for i in range(12):
        files[f"note{i:02d}.txt"] = f"plain note {i}".encode()
    os.makedirs(root)
    for name, data in files.items():
        with open(os.path.join(root, name), "wb") as fh:
            fh.write(data)
    return len(files)


def test_raw_files_parse_each_pending_file_once(spark, tmp_path):
    """A raw-file table (doc_id = full path, containing '/') is bucketed and
    resume-filtered before byte ingestion: a partial run plus its resume
    equals a one-shot run and extract_from_bytes, an all-done resume reads
    no file contents, and nothing is persisted."""
    from pyspark.sql.functions import pandas_udf

    from extract_text_spark.ingest import extract_from_bytes, named_binary_df

    src = str(tmp_path / "files")
    n_files = _write_raw_files(src)
    reads = spark.sparkContext.accumulator(0)

    def counting_reads():
        @pandas_udf("binary")
        def touch(content):
            reads.add(len(content))
            return content
        return touch

    touch = counting_reads()
    files = named_binary_df(spark.read.format("binaryFile").load(src))
    docs = files.withColumn("content", touch("content"))
    one, two = str(tmp_path / "one"), str(tmp_path / "two")
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()

    def run(out, **kw):
        before = reads.value
        m = run_extraction(spark, docs, out, num_buckets=8, **kw)
        return m, reads.value - before

    m0, r0 = run(one)
    assert m0["buckets"] > 0 and r0 == n_files

    n_even = (files.select(F.pmod(F.xxhash64("doc_id"), F.lit(8)).alias("b"))
              .filter(F.col("b") % 2 == 0).count())
    m1, r1 = run(two, bucket_filter=lambda b: b % 2 == 0)
    assert r1 == n_even
    m2, _ = run(two)
    assert m1["buckets"] + m2["buckets"] == m0["buckets"]
    assert m1["docs"] + m2["docs"] == m0["docs"]

    oneshot = _result_map(spark, one)
    assert len(oneshot) == m0["docs"]
    assert _result_map(spark, two) == oneshot
    assert _doc_map(extract_from_bytes(files)) == oneshot
    status = {d.rsplit("/", 1)[-1]: st for d, (st, _) in oneshot.items()}
    assert status["broken.docx"].startswith("error")
    assert status["deep.txt"] == "ok"
    assert all(src in d for d in oneshot)

    m3, r3 = run(two)
    assert m3["buckets"] == 0 and m3["docs"] == 0 and r3 == 0
    assert _result_map(spark, two) == oneshot
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted


def test_submit_extract_binary_input_resumes(spark, tmp_path):
    """tools/submit_extract.py --input-format binary, run twice as its own
    process (main() stops its session): the first run extracts every file,
    keeping the corrupt file's error status; the resubmit does no work."""
    src, out = str(tmp_path / "files"), str(tmp_path / "out")
    _write_raw_files(src)
    env = dict(os.environ, SPARK_MASTER="local[2]", SPARK_DRIVER_MEM="1g",
               PYTHONPATH=os.pathsep.join(
                   p for p in [REPO, os.environ.get("PYTHONPATH")] if p))
    cmd = [sys.executable, os.path.join(REPO, "tools", "submit_extract.py"),
           "--input-format", "binary", "--input", src, "--output", out,
           "--buckets", "4"]

    def submit() -> dict:
        proc = subprocess.run(cmd, env=env, cwd=REPO, capture_output=True,
                              text=True, timeout=600)
        assert proc.returncode == 0, proc.stderr[-2000:]
        return json.loads(proc.stdout.strip().splitlines()[-1])

    first = submit()
    data = spark.read.parquet(f"{out}/data")
    assert first["docs"] == data.count() > 0
    status = {r["doc_id"].rsplit("/", 1)[-1]: r["status"]
              for r in data.collect()}
    assert status["broken.docx"].startswith("error")
    assert status["report.docx"] == "ok"

    second = submit()
    assert second["buckets"] == 0 and second["docs"] == 0
