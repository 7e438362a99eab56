"""The correctness gate: distributed pipeline == single-process oracle on
span-sequence equality (kind, text, media_ref, order) per document, on
ordinary, negative and oversized (whale) inputs, plus plan-shape checks."""

import json

import pytest

from extract_text_spark.corpus import corpus_to_df, gen_corpus, oracle_extract
from extract_text_spark.pipeline import extract_spans_df


def _spanify(rows):
    return {
        r["doc_id"]: (
            r["status"],
            [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]],
        )
        for r in rows
    }


def _oracle(docs):
    return {
        k: (st, [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in sp])
        for k, (st, sp) in oracle_extract(docs).items()
    }


@pytest.fixture(scope="module")
def corpus():
    return gen_corpus(120, seed=42)


def test_span_sequence_equality(spark, corpus):
    got = _spanify(extract_spans_df(corpus_to_df(spark, corpus),
                                    salt_partitions=8).collect())
    exp = _oracle(corpus)
    assert set(got) == set(exp)
    mismatched = [k for k in exp if got[k] != exp[k]]
    assert mismatched == [], f"first mismatch: {mismatched[0]}: " \
                             f"{got[mismatched[0]]} != {exp[mismatched[0]]}"


def _pdf_page(page_no: int, text: str) -> str:
    return json.dumps({"page_no": page_no, "blocks": [
        {"bbox": [0, 0, 10, 5], "text": text}]})


def _err_whale() -> dict:
    """A 40-page page-only doc whose page 26 is not valid JSON."""
    pages = [{"kind": "pdf_page", "text": _pdf_page(i + 1, f"line {i + 1}"),
              "media_ref": None, "offset": i} for i in range(40)]
    pages[25]["text"] = "{not valid json"
    return {"doc_id": "err-skew", "spans": pages}


def test_statuses_cover_negative_families(spark, corpus):
    """Oracle equality on ordinary docs, negative families and whales:
    60-page interleaved PDF docs (media glued to their pages) and a
    40-page doc with one invalid page, which errors as a whole."""
    negatives = [
        {"doc_id": "neg-empty", "spans": [
            {"kind": "plain", "text": "", "media_ref": None, "offset": 0}]},
        {"doc_id": "neg-unsupported", "spans": [
            {"kind": "xyz", "text": "payload", "media_ref": None, "offset": 0}]},
    ]
    whales = [d for d in gen_corpus(400, seed=7)
              if d["doc_id"].endswith("-skew")]
    assert whales, "corpus must contain a skew doc"
    docs = corpus[:20] + negatives + whales + [_err_whale()]
    rows = extract_spans_df(corpus_to_df(spark, docs)).collect()
    got = _spanify(rows)
    exp = _oracle(docs)
    assert got == exp
    assert got["neg-empty"][0] == "empty"
    assert got["neg-unsupported"][0] == "error: Unsupported file format: xyz"
    assert any(st == "ok" for st, _ in got.values())
    for w in whales:
        st, spans = got[w["doc_id"]]
        kinds = [k for k, *_ in spans]
        assert st == "ok" and "media" in kinds and "text" in kinds
    st, spans = got["err-skew"]
    assert st.startswith("error:") and spans == []
    err = next(r for r in rows if r["doc_id"] == "err-skew")
    assert err["n_spans"] == 0 and err["n_chars"] == 0


def test_skew_split_true_is_rejected(spark):
    """Whales are not span-chunked: ``skew_split=True`` raises before any
    plan is built (the input is not even looked at)."""
    df = corpus_to_df(spark, gen_corpus(5, seed=7))
    with pytest.raises(ValueError, match="skew_split"):
        extract_spans_df(df, skew_split=True)
    with pytest.raises(ValueError, match="skew_split"):
        extract_spans_df(None, skew_split=True)


def test_default_plan_is_one_pass(spark, corpus):
    """The default plan is scan -> fan-out -> salt -> ONE kernel: no
    persist, no window chunking, no union, and nothing left cached after
    the action — even with a page-only whale above SKEW_SPLIT_BYTES in
    the input."""
    from extract_text_spark.config import SKEW_SPLIT_BYTES
    words = "whale page text " * (SKEW_SPLIT_BYTES // 16 // 8)
    whale = {"doc_id": "whale", "spans": [
        {"kind": "pdf_page", "text": _pdf_page(i + 1, words),
         "media_ref": None, "offset": i} for i in range(10)]}
    spark.catalog.clearCache()
    out = extract_spans_df(corpus_to_df(spark, corpus + [whale]),
                           salt_partitions=8)
    rows = out.collect()
    assert {r["doc_id"]: r["status"] for r in rows}["whale"] == "ok"
    # the final adaptive plan (its toString would also print the initial one)
    plan = out._jdf.queryExecution().executedPlan().executedPlan().toString()
    assert plan.count("MapInPandas") == 1
    for op in ("Window", "Union", "InMemoryTableScan"):
        assert op not in plan, op
    assert spark.sparkContext._jsc.getPersistentRDDs().isEmpty()


def test_archive_fanout_matches_oracle(spark):
    docs = [d for d in gen_corpus(600, seed=9) if "-archive" in d["doc_id"]]
    assert docs
    got = _spanify(extract_spans_df(corpus_to_df(spark, docs)).collect())
    exp = _oracle(docs)
    assert got == exp
    # fan-out actually produced children with path-suffixed doc_ids
    assert any("/" in k for k in got)


def _member(path, kind, text, members=None):
    return {"path": path, "kind": kind, "text": text, "media_ref": None,
            "is_archive": members is not None,
            "members": None if members is None else json.dumps(members)}


def _archive(doc_id, members):
    return {"doc_id": doc_id, "spans": [
        {"kind": "archive_member", "text": json.dumps(m), "media_ref": None,
         "offset": i} for i, m in enumerate(members)]}


def test_extra_columns_ride_to_every_fanned_row(spark, monkeypatch):
    """Input columns besides doc_id/spans/status reach every output row a
    document fans out to: nested-archive children (three levels), a
    guard-rejected archive's error row and a passed-through error row all
    carry their root's value, nulls included. The extracted rows are those
    of the same input without the extra column."""
    from pyspark.sql.types import (
        IntegerType, StringType, StructField, StructType,
    )

    from extract_text_spark import pipeline
    from extract_text_spark.pipeline import ARCHIVE_TOO_LARGE, DOC_SCHEMA
    lvl3 = [_member("deep.txt", "plain", "bottom text")]
    lvl2 = [_member("mid.zip", "archive", None, lvl3),
            _member("mid.md", "markdown", "# Mid\n\nmiddle body")]
    lvl1 = [_member("top.zip", "archive", None, lvl2),
            _member("top.txt", "plain", "top text")]
    docs = [d for d in gen_corpus(200, seed=11) if "-archive" in d["doc_id"]]
    docs += [_archive("nest.zip", lvl1), _archive("null.zip", lvl1),
             _archive("bomb.zip", [_member("big.txt", "plain", "x" * 5000),
                                   _member("ok.txt", "plain", "fine")])]
    rows = [(d["doc_id"], [(s["kind"], s["text"], s["media_ref"],
                            s["offset"]) for s in d["spans"]], None)
            for d in docs]
    rows.append(("failed.bin", None, "error: ingest failed"))
    roots = {r[0]: i for i, r in enumerate(rows)}
    roots["null.zip"] = None
    schema = StructType(DOC_SCHEMA.fields + [
        StructField("status", StringType()),
        StructField("root_no", IntegerType())])
    df = spark.createDataFrame([(*r, roots[r[0]]) for r in rows],
                               schema=schema)

    # A 1,000-char bomb guard makes bomb.zip a guard-rejected archive
    # without a 100 MB row; the memoized fan-out is rebuilt on both sides.
    with monkeypatch.context() as m:
        m.setattr(pipeline, "MAX_EXTRACTED_SIZE", 1000)
        pipeline._fanout_docs.cache_clear()
        try:
            carried = extract_spans_df(df, salt_partitions=4).collect()
            plain = extract_spans_df(df.drop("root_no")).collect()
        finally:
            pipeline._fanout_docs.cache_clear()

    assert len(carried) == len(plain)
    assert _spanify(carried) == _spanify(plain)
    got = {r["doc_id"]: r for r in carried}
    assert got["bomb.zip"]["status"] == ARCHIVE_TOO_LARGE
    assert got["failed.bin"]["status"] == "error: ingest failed"
    assert got["nest.zip/top.zip/mid.zip/deep.txt"]["status"] == "ok"
    assert "null.zip/top.zip/mid.zip/deep.txt" in got
    for r in carried:
        (root,) = [k for k in roots
                   if r["doc_id"] == k or r["doc_id"].startswith(k + "/")]
        assert r["root_no"] == roots[root], r["doc_id"]
    assert sum("/" in k for k in got) > 10

    with pytest.raises(ValueError, match="output column"):
        extract_spans_df(df.withColumnRenamed("root_no", "n_chars"))


def test_no_python_in_fanout_plan(spark):
    """Archive fan-out must be Catalyst-only (no BatchEvalPython/ArrowEval
    before the single mapInPandas kernel)."""
    from extract_text_spark.pipeline import explode_archives_df
    docs = gen_corpus(30, seed=3)
    plan = explode_archives_df(
        corpus_to_df(spark, docs)
    )._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_null_spans_surface_as_empty_not_dropped(spark):
    """Fail-closed: malformed rows (null spans) must surface with a status,
    never vanish from the output (found by a verification probe)."""
    from extract_text_spark.pipeline import DOC_SCHEMA
    bad = spark.createDataFrame([("nullspans", None), ("nospans", [])],
                                schema=DOC_SCHEMA)
    res = {r["doc_id"]: r["status"] for r in extract_spans_df(bad).collect()}
    assert res == {"nullspans": "empty", "nospans": "empty"}


def _archive_docs():
    return [d for d in gen_corpus(200, seed=11) if "-archive" in d["doc_id"]]


def test_second_build_reuses_fanout_expression(spark):
    """The data-independent fan-out expression is built once per JVM: a
    second ``extract_spans_df`` build on the same input makes a few hundred
    py4j round trips, not the ~5,000 of building the expression again."""
    import gc

    from pyspark import SparkContext
    df = corpus_to_df(spark, _archive_docs())
    extract_spans_df(df, salt_partitions=8)
    gc.collect()  # release the first plan's JVM handles outside the count
    client = SparkContext._gateway._gateway_client
    send, calls = client.send_command, [0]

    def counting(*args, **kwargs):
        calls[0] += 1
        return send(*args, **kwargs)

    client.send_command = counting
    try:
        extract_spans_df(df, salt_partitions=8)
    finally:
        del client.send_command
    assert 0 < calls[0] <= 1000, calls[0]


def test_consecutive_builds_give_equal_output(spark):
    """A plan built around the memoized expression returns what the first
    plan did, on archive-bearing input with fan-out children."""
    df = corpus_to_df(spark, _archive_docs())
    first = sorted(extract_spans_df(df).collect())
    second = sorted(extract_spans_df(df).collect())
    assert first == second
    assert any("/" in r["doc_id"] for r in first)


def test_fanout_memo_rebuilds_for_a_new_gateway(spark):
    """One memo entry, keyed on the gateway: another key builds a new
    expression and evicts the old one, so the next call with the live
    gateway builds again."""
    from pyspark import SparkContext
    from extract_text_spark.pipeline import _fanout_docs
    gateway = SparkContext._gateway
    live = _fanout_docs(gateway)
    assert _fanout_docs(gateway) is live
    other = _fanout_docs(object())
    assert other is not live
    assert _fanout_docs.cache_info().currsize == 1
    rebuilt = _fanout_docs(gateway)
    assert rebuilt is not live and rebuilt is not other
    assert _fanout_docs(gateway) is rebuilt
