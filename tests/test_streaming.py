"""Structured Streaming: exactly-once extraction, watermarked windows,
custom stateful sessionization."""

import pyspark.sql.functions as F

from extract_text_spark.corpus import corpus_to_df, gen_corpus, oracle_extract
from extract_text_spark.streaming.stream import (
    sessionize_stream,
    stream_extract_spans,
    windowed_event_counts,
)


def test_stream_extract_matches_batch_and_is_exactly_once(spark, tmp_path):
    docs = gen_corpus(60, seed=11)
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    corpus_to_df(spark, docs).write.parquet(inp)

    q = stream_extract_spans(spark, inp, out, ckpt)
    q.awaitTermination()

    got = {
        r["doc_id"]: (r["status"],
                      [(s["kind"], s["text"], s["media_ref"], s["offset"])
                       for s in r["spans"]])
        for r in spark.read.parquet(out).collect()
    }
    exp = {k: (st, [(s["kind"], s["text"], s["media_ref"], s["offset"])
                    for s in sp])
           for k, (st, sp) in oracle_extract(docs).items()}
    assert got == exp

    # Exactly-once: same checkpoint, no new files -> no new rows.
    n1 = spark.read.parquet(out).count()
    q2 = stream_extract_spans(spark, inp, out, ckpt)
    q2.awaitTermination()
    assert spark.read.parquet(out).count() == n1


def test_stream_extract_incremental_files(spark, tmp_path):
    inp, out, ckpt = (str(tmp_path / d) for d in ["in", "out", "ckpt"])
    corpus_to_df(spark, gen_corpus(20, seed=12)).write.parquet(inp)
    stream_extract_spans(spark, inp, out, ckpt).awaitTermination()
    n1 = spark.read.parquet(out).count()

    # New file arrives; only the increment is processed.
    more = [{**d, "doc_id": "x" + d["doc_id"]} for d in gen_corpus(10, seed=13)]
    corpus_to_df(spark, more).write.mode("append").parquet(inp)
    stream_extract_spans(spark, inp, out, ckpt).awaitTermination()
    got = spark.read.parquet(out)
    assert got.count() > n1
    assert got.filter(F.col("doc_id").startswith("x")).count() >= 10


def test_windowed_counts_match_batch(spark, tmp_path):
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    inp = str(tmp_path / "ev")
    events.write.parquet(inp)
    stream = spark.readStream.schema(events.schema).parquet(inp)
    agg = windowed_event_counts(stream)
    q = (agg.writeStream.format("memory").queryName("winagg")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
           for r in spark.sql("select * from winagg").collect()}
    exp = {(r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
           for r in events.groupBy(
               F.date_trunc("hour", "ts").alias("window_start"), "event_type")
           .agg(F.count("*").alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
                .alias("sum_value")).collect()}
    # append mode emits only windows closed by the final watermark
    assert got
    for k, v in got.items():
        assert exp[k] == v


def test_stateful_sessionization_matches_batch(spark, tmp_path):
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    inp = str(tmp_path / "ev")
    events.write.parquet(inp)
    stream = spark.readStream.schema(events.schema).parquet(inp)
    q = (sessionize_stream(stream).writeStream.format("memory")
         .queryName("sess").outputMode("update")
         .trigger(availableNow=True).start())
    q.awaitTermination()
    rows = spark.sql(
        "select user_id, max(n_sessions) n_sessions, max(n_events) n_events "
        "from sess group by user_id").collect()
    got = {r["user_id"]: (r["n_sessions"], r["n_events"]) for r in rows}

    from pyspark.sql.window import Window
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    batch = (
        events.withColumn(
            "new_s",
            F.when(F.col("ts").cast("timestamp").cast("long")
                   - F.lag(F.col("ts").cast("timestamp").cast("long")).over(w)
                   > 1800, 1).otherwise(0))
        .groupBy("user_id")
        .agg((F.sum("new_s") + 1).alias("n_sessions"),
             F.count("*").alias("n_events"))
    )
    exp = {r["user_id"]: (r["n_sessions"], r["n_events"])
           for r in batch.collect()}
    assert got == exp


def test_stream_extract_raw_files(spark, tmp_path):
    """binaryFile streaming source: drop REAL files (zip / txt / docx) into
    a directory, extracted spans come out exactly-once per file."""
    from extract_text_spark.bytecorpus import make_docx, make_zip
    from extract_text_spark.streaming.stream import stream_extract_files

    inp, out, ckpt = (str(tmp_path / d) for d in ["inraw", "outraw", "ckraw"])
    import os
    os.makedirs(inp)
    with open(f"{inp}/a.txt", "wb") as fh:
        fh.write(b"plain stream text")
    with open(f"{inp}/b.zip", "wb") as fh:
        fh.write(make_zip({"inner.md": b"# T\n\nzipped body"}))
    with open(f"{inp}/c.docx", "wb") as fh:
        fh.write(make_docx(["Docx para"]))

    stream_extract_files(spark, inp, out, ckpt).awaitTermination()
    rows = {r["doc_id"].rsplit("/", 2)[-2] if r["doc_id"].endswith("inner.md")
            else r["doc_id"].rsplit("/", 1)[-1]:
            (r["status"], [s["text"] for s in r["spans"]])
            for r in spark.read.parquet(out).collect()}
    assert rows["a.txt"] == ("ok", ["plain stream text"])
    assert rows["b.zip"] == ("ok", ["T\nzipped body"])
    assert rows["c.docx"] == ("ok", ["Docx para"])

    # exactly-once: rerun with same checkpoint adds nothing
    n1 = spark.read.parquet(out).count()
    stream_extract_files(spark, inp, out, ckpt).awaitTermination()
    assert spark.read.parquet(out).count() == n1

    # a new file arriving is picked up incrementally
    with open(f"{inp}/d.txt", "wb") as fh:
        fh.write(b"late arrival")
    stream_extract_files(spark, inp, out, ckpt).awaitTermination()
    assert spark.read.parquet(out).count() == n1 + 1


def test_stream_extract_urls(spark, tmp_path):
    """URL streaming source: drop files of URLs into a watch directory,
    validated + fetched (injected) + extracted spans come out
    exactly-once; blocked URLs surface as quarantine rows."""
    from extract_text_spark.streaming.stream import stream_extract_urls

    inp, out, ckpt = (str(tmp_path / d) for d in ["inurl", "outurl", "ckurl"])
    import os
    os.makedirs(inp)
    with open(f"{inp}/batch1.txt", "w") as fh:
        fh.write("http://site.example/page.html\n"
                 "http://site.example/notes.txt\n"
                 "http://localhost/blocked\n")

    def fake_fetch(url, ua):
        if url.endswith(".html"):
            return {"content_type": "text/html", "final_url": url,
                    "headers": {},
                    "content": b"<html><nav>x</nav><p>Streamed page</p></html>"}
        return {"content_type": "text/plain", "final_url": url,
                "headers": {"content-type": "text/plain"},
                "content": b"streamed plain"}

    def resolve_public(hostname):
        return ["93.184.216.34"]

    stream_extract_urls(spark, inp, out, ckpt, fake_fetch,
                        resolver=resolve_public).awaitTermination()
    rows = {r["doc_id"]: (r["status"], [s["text"] for s in r["spans"]])
            for r in spark.read.parquet(out).collect()}
    assert rows["http://site.example/page.html"] == ("ok", ["Streamed page"])
    assert rows["http://site.example/notes.txt"] == ("ok", ["streamed plain"])
    st, spans = rows["http://localhost/blocked"]
    assert st.startswith("error: Access to internal IP") and spans == []

    # exactly-once: rerun with same checkpoint adds nothing
    n1 = spark.read.parquet(out).count()
    stream_extract_urls(spark, inp, out, ckpt, fake_fetch,
                        resolver=resolve_public).awaitTermination()
    assert spark.read.parquet(out).count() == n1

    # a new URL file arriving is picked up incrementally
    with open(f"{inp}/batch2.txt", "w") as fh:
        fh.write("http://site.example/late.txt\n")
    stream_extract_urls(spark, inp, out, ckpt, fake_fetch,
                        resolver=resolve_public).awaitTermination()
    rows2 = spark.read.parquet(out)
    assert rows2.count() == n1 + 1


def test_stream_dedup_incremental(spark, tmp_path):
    """Recurring-crawl ingest: arriving batches dedupe against a static
    snapshot exactly-once; exact/near/keep tiers all land."""
    from extract_text_spark.streaming.stream import stream_dedup_incremental

    inp, out, ckpt = (str(tmp_path / d) for d in ["din", "dout", "dck"])
    import os
    os.makedirs(inp)
    words = [f"tok{i}" for i in range(20)]
    snap = spark.createDataFrame(
        [(2, "alpha beta gamma delta epsilon zeta"),
         (4, " ".join(words))],
        "doc_id long, text string")
    spark.createDataFrame(
        [(11, "alpha beta gamma delta epsilon zeta"),       # exact dup
         (13, " ".join(words[:-1] + ["CHANGED"]))],         # near dup
        "doc_id long, text string").write.parquet(f"{inp}/b0")
    stream_dedup_incremental(spark, inp + "/*", snap, out, ckpt,
                             threshold=0.2).awaitTermination()
    got = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    assert got[11].exact_dup and not got[11].keep
    assert got[13].near_dup_id == 4 and not got[13].keep

    # exactly-once: rerun with the same checkpoint adds nothing
    n1 = spark.read.parquet(out).count()
    stream_dedup_incremental(spark, inp + "/*", snap, out, ckpt,
                             threshold=0.2).awaitTermination()
    assert spark.read.parquet(out).count() == n1

    # a late batch dedupes incrementally (clean doc -> keep)
    spark.createDataFrame([(15, "totally different words here now ok")],
                          "doc_id long, text string") \
        .write.parquet(f"{inp}/b1")
    stream_dedup_incremental(spark, inp + "/*", snap, out, ckpt,
                             threshold=0.2).awaitTermination()
    rows = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    assert len(rows) == n1 + 1 and rows[15].keep


def test_batch_overwrite_sink_replay_replaces(spark, tmp_path):
    """A replayed foreachBatch call (same batch_id, as after a crash
    before the offset commit) replaces its batch_id partition instead of
    appending duplicates; other batches' partitions are untouched."""
    from extract_text_spark.streaming.stream import _batch_overwrite_sink

    out = str(tmp_path / "out")
    sink = _batch_overwrite_sink(out, lambda b: b)
    b0 = spark.createDataFrame([(1,), (2,)], "x long")
    sink(b0, 0)
    sink(spark.createDataFrame([(3,)], "x long"), 1)
    sink(b0, 0)
    got = sorted((r.batch_id, r.x) for r in spark.read.parquet(out).collect())
    assert got == [(0, 1), (0, 2), (1, 3)]


def test_stream_extract_warc(spark, tmp_path):
    """WARC watch directory: drop .warc/.warc.gz crawl files, extracted
    records come out exactly-once per file; new files picked up
    incrementally."""
    from extract_text_spark.bytecorpus import make_warc
    from extract_text_spark.streaming.stream import stream_extract_warc

    inp, out, ckpt = (str(tmp_path / d) for d in ["inw", "outw", "ckw"])
    import os
    os.makedirs(inp)
    html = ("<html><body><nav>chrome</nav><p>Warc page body</p>"
            "<footer>legal</footer></body></html>")
    with open(f"{inp}/a.warc", "wb") as fh:
        fh.write(make_warc([
            {"type": "warcinfo", "body": b"software: cc"},
            {"type": "response", "uri": "http://s/p.html",
             "http_headers": {"Content-Type": "text/html"}, "body": html},
        ]))
    with open(f"{inp}/b.warc.gz", "wb") as fh:
        fh.write(make_warc([
            {"type": "response", "uri": "http://s/d.txt",
             "http_headers": {"Content-Type": "text/plain"},
             "body": b"warc stream text"}], gzip_members=True))

    stream_extract_warc(spark, inp, out, ckpt).awaitTermination()
    # doc_id = FULL file path + record ordinal (segment-collision-proof)
    rows = {r["doc_id"].rsplit("/", 1)[-2].rsplit("/", 1)[-1]
            + "/" + r["doc_id"].rsplit("/", 1)[-1]:
            (r["status"], [s["text"] for s in r["spans"]])
            for r in spark.read.parquet(out).collect()}
    assert rows["a.warc/1"] == ("ok", ["Warc page body"])
    assert rows["b.warc.gz/0"] == ("ok", ["warc stream text"])

    # exactly-once: rerun with the same checkpoint adds nothing
    n1 = spark.read.parquet(out).count()
    stream_extract_warc(spark, inp, out, ckpt).awaitTermination()
    assert spark.read.parquet(out).count() == n1

    # incremental pickup of a newly delivered crawl file
    with open(f"{inp}/c.warc", "wb") as fh:
        fh.write(make_warc([
            {"type": "response", "uri": "http://s/e.txt",
             "http_headers": {"Content-Type": "text/plain"},
             "body": b"late delivery"}]))
    stream_extract_warc(spark, inp, out, ckpt).awaitTermination()
    rows2 = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert any(r.endswith("c.warc/0") for r in rows2)
    assert len(rows2) == n1 + 1
