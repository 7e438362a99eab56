"""WARC source: record framing, HTTP envelope parsing, routing, and the
end-to-end Spark pipeline (plus the CommonCrawl gzip-member packaging)."""

import gzip

import pytest

from extract_text_spark.bytecorpus import make_warc, make_zip
from extract_text_spark.warcsource import (
    extract_from_warc, parse_http_response, parse_warc_records, warc_rows,
)


def test_parse_records_plain_and_skip_types():
    w = make_warc([
        {"type": "warcinfo", "body": b"software: t"},
        {"type": "request", "uri": "http://a/x", "body": b"GET / HTTP/1.1"},
        {"type": "response", "uri": "http://a/x.html",
         "http_headers": {"Content-Type": "text/html"}, "body": b"<p>hi</p>"},
        {"type": "metadata", "uri": "http://a/x", "body": b"via: -"},
    ])
    recs = parse_warc_records(w)
    assert [r["type"] for r in recs] == [
        "warcinfo", "request", "response", "metadata"]
    rows = warc_rows(w, "f")
    # only the response emits a row, and its ordinal counts ALL records
    assert [r[0] for r in rows] == ["f/2"]
    assert rows[0][1] is None
    assert rows[0][2][0]["kind"] == "html_page"
    assert rows[0][2][0]["media_ref"] == "http://a/x.html"


def test_parse_records_gzip_members_and_bare_lf():
    recs = [{"type": "response", "uri": "http://a/d.txt",
             "http_headers": {"Content-Type": "text/plain"},
             "body": b"plain body"}] * 2
    for data in (make_warc(recs, gzip_members=True),
                 make_warc(recs, bare_lf=True)):
        rows = warc_rows(data, "f")
        assert [r[0] for r in rows] == ["f/0", "f/1"]
        assert all(r[2][0]["kind"] == "plain" for r in rows)
        assert rows[0][2][0]["text"] == "plain body"


def test_http_envelope_statuses():
    code, headers, body = parse_http_response(
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\nBODY")
    assert (code, headers["content-type"], body) == (200, "text/html", b"BODY")
    assert parse_http_response(b"no envelope here")[0] is None
    w = make_warc([{"type": "response", "http_status": 404,
                    "uri": "http://a/m.html", "body": b"gone"}])
    assert warc_rows(w, "f")[0][1] == "error: HTTP status 404"


def test_framing_errors_quarantine_the_file():
    w = make_warc([{"type": "response", "uri": "http://a/t.txt",
                    "body": b"x" * 40, "truncate_by": 30}])
    rows = warc_rows(w, "f")
    assert rows == [("f", "error: Error processing WARC: "
                     "truncated WARC record payload", [])]
    assert warc_rows(b"NOT A WARC AT ALL", "g")[0][1].startswith(
        "error: Error processing WARC: WARC version line not found")
    trunc_gz = make_warc([{"type": "response", "uri": "http://a/x.txt",
                           "body": b"y"}], gzip_members=True)[:-4]
    assert "truncated gzip member" in warc_rows(trunc_gz, "h")[0][1]


def test_conversion_record_routes_like_wet():
    # extensionless URI + text/plain -> .txt backfill -> plain kernel path
    w = make_warc([{"type": "conversion", "uri": "http://a/doc9",
                    "content_type": "text/plain", "body": b"wet text"}])
    rows = warc_rows(w, "f")
    assert rows[0][2][0]["kind"] == "plain"
    assert rows[0][2][0]["text"] == "wet text"


def test_archive_download_fans_out_members():
    # a .zip response routes through byte ingestion -> archive_member spans
    z = make_zip({"a.txt": b"alpha text", "b.txt": b"beta text"})
    w = make_warc([{"type": "response", "uri": "http://a/bundle.zip",
                    "http_headers": {"Content-Type": "application/zip"},
                    "body": z}])
    rows = warc_rows(w, "f")
    assert rows[0][1] is None
    assert [s["kind"] for s in rows[0][2]] == ["archive_member"] * 2


def test_extract_from_warc_end_to_end(spark):
    html = ("<html><body><nav>chrome</nav><p>Body one</p>"
            "<footer>legal</footer></body></html>")
    files = [
        ("w0", make_warc([
            {"type": "warcinfo", "body": b"software: cc"},
            {"type": "response", "uri": "http://a/p.html",
             "http_headers": {"Content-Type": "text/html"}, "body": html},
        ])),
        ("w1", make_warc([
            {"type": "response", "uri": "http://a/d.txt",
             "http_headers": {"Content-Type": "text/plain"},
             "body": b"doc two text"}], gzip_members=True)),
        ("w2", b"\x1f\x8b garbage"),
    ]
    df = spark.createDataFrame(files, "doc_id string, content binary")
    out = extract_from_warc(df)
    got = {r["doc_id"]: r for r in out.collect()}
    assert got["w0/1"]["status"] == "ok"
    assert got["w0/1"]["spans"][0]["text"] == "Body one"
    assert got["w1/0"]["spans"][0]["text"] == "doc two text"
    assert got["w2"]["status"].startswith("error: Error processing WARC")


def test_wet_writer_roundtrip_and_packaging():
    from extract_text_spark.warcsource import (
        build_wet_record, parse_warc_records, warc_rows)
    r = build_wet_record("http://a/d1", "text body one")
    (rec,) = parse_warc_records(r)
    assert rec["type"] == "conversion"
    assert rec["uri"] == "http://a/d1" and rec["payload"] == b"text body one"
    # gzip members concatenate into one multi-record file by design
    two = (build_wet_record("http://a/d1", "one", gzip_member=True)
           + build_wet_record("http://a/d2", "two", gzip_member=True))
    rows = warc_rows(two, "f")
    assert [(r[0], r[2][0]["text"]) for r in rows] == [
        ("f/0", "one"), ("f/1", "two")]
    # reproducible bytes (idempotent re-export)
    assert build_wet_record("u", "t") == build_wet_record("u", "t")


def test_wat_writer_envelope_and_title_rules():
    """WAT records carry a deterministic sorted-key JSON envelope:
    title from the first real <title> (script-wrapped fakes are not
    elements, unclosed titles yield no Head), hrefs RAW in document
    order including the bare-attribute empty string, and re-export is
    byte-identical (idempotency, like the WET writer)."""
    import json

    from extract_text_spark.warcsource import (
        build_wat_record, parse_warc_records)

    html = ('<script>var t="<title>fake</title>"</script>'
            "<head><title> T &amp; U </title></head>"
            '<a href="/x">a</a><a href>b</a><a href="#f">c</a>')
    rec = build_wat_record("http://w.example/p", html)
    assert rec == build_wat_record("http://w.example/p", html)
    (r,) = parse_warc_records(rec)
    assert (r["type"], r["content_type"]) == ("metadata",
                                              "application/json")
    assert r["uri"] == "http://w.example/p"
    env = json.loads(r["payload"])
    hm = env["Envelope"]["Payload-Metadata"][
        "HTTP-Response-Metadata"]["HTML-Metadata"]
    assert hm["Head"]["Title"] == "T & U"
    assert [x["url"] for x in hm["Links"]] == ["/x", "", "#f"]
    assert all(x["path"] == "A@/href" for x in hm["Links"])
    # sorted keys + compact separators = reproducible bytes
    assert r["payload"] == json.dumps(
        env, separators=(",", ":"), sort_keys=True).encode()
    # no title -> no Head key at all; gzip member round-trips
    (r2,) = parse_warc_records(build_wat_record(
        "http://w.example/q", "<title>open forever", gzip_member=True))
    env2 = json.loads(r2["payload"])
    hm2 = env2["Envelope"]["Payload-Metadata"][
        "HTTP-Response-Metadata"]["HTML-Metadata"]
    assert "Head" not in hm2 and hm2["Links"] == []


def test_sitemap_frontier_rows(spark):
    import gzip
    from extract_text_spark.functions.graph import sitemap_frontier
    ns = ' xmlns="http://www.sitemaps.org/schemas/sitemap/0.9"'
    urlset = (f"<urlset{ns}><url><loc>http://a/p1</loc>"
              "<lastmod>2024-02-03</lastmod></url>"
              "<url><loc>http://a/p2</loc></url>"
              "<url><priority>1</priority></url></urlset>").encode()
    index = (f"<sitemapindex{ns}><sitemap><loc>http://a/s1.xml</loc>"
             "</sitemap></sitemapindex>").encode()
    df = spark.createDataFrame(
        [("m1", gzip.compress(urlset, mtime=0)), ("m2", index),
         ("m3", b"<html/>")],
        "doc_id string, content binary")
    rows = sitemap_frontier(df).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r.sitemap_id, []).append(r)
    assert [(r.loc, r.lastmod, r.is_index) for r in by_id["m1"]] == [
        ("http://a/p1", "2024-02-03", False), ("http://a/p2", None, False)]
    assert by_id["m2"][0].loc == "http://a/s1.xml"
    assert by_id["m2"][0].is_index is True
    assert by_id["m3"][0].status.startswith("error: not a sitemap")
    assert by_id["m3"][0].loc is None
