"""URL source (S3): SSRF validation, content routing, filename
derivation, and the injected-fetch Spark pipeline.

Pinned to the reference's /v1/extract/url flow (app/main.py:516-639,
app/extractors.py:2650-2987); the fetch/resolve callables are injected —
deterministic fakes here, a real HTTP tier in production.
"""

from pyspark.sql import functions as F

from extract_text_spark.urlsource import (
    extract_from_urls, filename_from_response, ingest_urls_df,
    is_html_content, is_safe_url, spans_from_url,
)

def RESOLVE_PUBLIC(hostname):
    return ["93.184.216.34"]


def test_ssrf_gates_fail_closed():
    assert not is_safe_url("ftp://example.com/x")           # scheme
    assert not is_safe_url("http://localhost/x")            # hostname block
    assert not is_safe_url("http://127.0.0.1/x")            # loopback
    assert not is_safe_url("http://10.1.2.3/x")             # private
    assert not is_safe_url("http://192.168.1.9/x")
    assert not is_safe_url("http://169.254.169.254/meta")   # metadata svc
    assert not is_safe_url("http://172.17.0.1/x")           # docker bridge
    assert not is_safe_url("http://[fe80::1]/x")            # link-local v6
    assert not is_safe_url("http://example.com/x")          # no DNS -> closed
    assert is_safe_url("http://8.8.8.8/x")                  # literal public
    assert is_safe_url("http://example.com/x", resolver=RESOLVE_PUBLIC)
    # one bad IP among resolved addresses blocks the lot
    assert not is_safe_url(
        "http://multi.example/x",
        resolver=lambda h: ["93.184.216.34", "192.168.0.5"])


def test_content_routing_matches_reference():
    assert is_html_content("text/html; charset=utf-8", "http://x/y.pdf")
    assert is_html_content("application/xhtml+xml", "http://x/y")
    assert is_html_content("text/plain", "http://x/page.html")
    assert not is_html_content("text/plain", "http://x/notes.txt")
    assert is_html_content("", "http://x/dynamic")          # no ext = page
    assert not is_html_content("application/octet-stream", "http://x/f.bin")
    assert not is_html_content("application/pdf", "http://x/f.pdf")


def test_filename_derivation():
    assert filename_from_response(
        {"Content-Disposition": 'attachment; filename="r.pdf"'},
        "http://x/ignored") == "r.pdf"
    assert filename_from_response(
        {"content-type": "application/pdf"}, "http://x/report") == "report.pdf"
    assert filename_from_response({}, "http://x/docs/pap%20er.txt") == "pap er.txt"
    assert filename_from_response({}, "http://x/") == "downloaded_file"


def test_spans_from_url_error_surface():
    st, spans = spans_from_url("", lambda u, a: None)
    assert st == "error: URL is required" and spans == []
    st, _ = spans_from_url("gopher://x", lambda u, a: None)
    assert st == "error: URL must start with http:// or https://"
    st, _ = spans_from_url("http://10.0.0.1/", lambda u, a: None)
    assert st == ("error: Access to internal IP addresses is prohibited "
                  "for security reasons.")
    st, _ = spans_from_url("http://example.com/x", None,
                           resolver=RESOLVE_PUBLIC)
    assert st.startswith("error: Error processing URL:")
    boom = lambda u, a: (_ for _ in ()).throw(
        ConnectionError("Failed to load page"))
    st, _ = spans_from_url("http://example.com/x", boom,
                           resolver=RESOLVE_PUBLIC)
    assert st == "error: Error processing URL: Failed to load page"


def _make_fakes():
    """Fetch/resolver defined inside a function so cloudpickle serializes
    them BY VALUE — module-level functions of a test module pickle by
    reference and executors cannot import tests.* (ext_url_source in
    queries.py nests its fetch for the same reason)."""
    def fake_fetch(url, ua):
        if url.endswith(".html"):
            html = ("<html><body><nav>chrome</nav><p>Body of the page</p>"
                    "<script>x()</script></body></html>")
            return {"content_type": "text/html", "final_url": url,
                    "headers": {}, "content": html.encode()}
        return {"content_type": "text/plain", "final_url": url,
                "headers": {"content-type": "text/plain"},
                "content": b"plain payload"}

    def resolve_public(hostname):
        return ["93.184.216.34"]

    return fake_fetch, resolve_public


def test_url_pipeline_end_to_end(spark):
    fake_fetch, resolve_public = _make_fakes()
    urls = spark.createDataFrame(
        [("http://site.example/page.html",),
         ("http://site.example/notes.txt",),
         ("http://localhost/blocked",)], "url string")
    out = extract_from_urls(urls, fake_fetch, resolver=resolve_public)
    rows = {r.doc_id: r for r in out.collect()}
    page = rows["http://site.example/page.html"]
    assert page.status == "ok"
    assert page.spans[0].text == "Body of the page"        # chrome stripped
    txt = rows["http://site.example/notes.txt"]
    assert txt.status == "ok" and txt.spans[0].text == "plain payload"
    blk = rows["http://localhost/blocked"]
    assert blk.status.startswith("error: Access to internal IP")
    assert blk.spans == []


def test_url_ingest_is_single_python_stage(spark):
    fake_fetch, resolve_public = _make_fakes()
    urls = spark.createDataFrame([("http://site.example/a.html",)],
                                 "url string")
    plan = ingest_urls_df(urls, fake_fetch, resolver=resolve_public) \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1


# -- <img> harvesting on the page path (app/extractors.py:3016-3359) ---------

def _img_fakes():
    from extract_text_spark.bytecorpus import make_gif, make_jpeg, make_png

    def fetch(url, ua):
        name = url.rsplit("/", 1)[-1]
        if "big.gif" in name:
            content, ct = make_gif(150, 150), "image/gif"
        elif "small.gif" in name:
            content, ct = make_gif(100, 100), "image/gif"
        elif "junk.png" in name:
            content, ct = b"not an image at all", "image/png"
        elif "noext-ok" in name:
            content, ct = make_jpeg(180, 130), "image/jpeg"
        elif "noext-bad" in name:
            content, ct = make_gif(200, 200), "application/octet-stream"
        elif "photo.png" in name:
            content, ct = make_png(200, 150), "image/png"
        else:
            raise ValueError(f"unexpected image url {url}")
        return {"content_type": ct, "final_url": url,
                "headers": {"content-type": ct}, "content": content}

    return fetch, (lambda h: ["93.184.216.34"])


def test_harvest_base64_first_then_urls_with_gates():
    import base64
    from extract_text_spark import urlsource
    from extract_text_spark.bytecorpus import make_png
    fetch, resolver = _img_fakes()
    b64 = base64.b64encode(make_png(200, 150)).decode()
    b64_small = base64.b64encode(make_png(100, 100)).decode()
    html = (
        "<p>t</p>"
        '<img src="/img/big.gif">'                    # url image, doc order 1
        f'<img src="data:image/png;base64,{b64}">'    # base64 -> emitted FIRST
        f'<img src="data:image/png;base64,{b64_small}">'   # < 22500 px: drop
        '<img src="data:image/svg+xml;base64,AAAA">'  # mime not whitelisted
        '<img src="data:image/png;base64,!!!">'       # invalid base64: drop
        '<img src="/img/small.gif">'                  # 100x100: drop
        '<img src="http://localhost/evil.gif">'       # SSRF: drop
        '<img src="/img/junk.png">'                   # unidentifiable: drop
        '<img src="/noext-ok">'                       # ext backfilled: jpg
        '<img src="/noext-bad">'                      # unsupported ct: drop
    )
    spans = urlsource.harvest_images(html, "http://site.example/p.html",
                                     fetch, resolver=resolver)
    import json
    refs = [json.loads(s["media_ref"]) for s in spans]
    assert [r["filename"] for r in refs] == [
        "base64_image.png", "big.gif", "noext-ok.jpg"]
    assert refs[0]["path"] == "data:image/png;base64,[base64_data]"
    assert refs[0]["size"] == len(make_png(200, 150))
    assert refs[0]["width"] == 200 and refs[0]["height"] == 150
    assert refs[1]["path"] == "http://site.example/img/big.gif"
    assert refs[1]["size"] == 14 and refs[1]["type"] == "gif"
    assert refs[2]["path"] == "http://site.example/noext-ok"
    assert refs[2]["type"] == "jpg"
    assert all(s["kind"] == "media" and s["text"] is None for s in spans)


def test_harvest_document_order_cap_before_categorization():
    from extract_text_spark import urlsource
    fetch, resolver = _img_fakes()
    # 25 URL imgs; the [:20] cap applies in document order BEFORE
    # categorization (app/extractors.py:3085-3089)
    html = "".join(f'<img src="/i{k}/big.gif">' for k in range(25))
    spans = urlsource.harvest_images(html, "http://site.example/p.html",
                                     fetch, resolver=resolver)
    import json
    assert [json.loads(s["media_ref"])["path"] for s in spans] == [
        f"http://site.example/i{k}/big.gif" for k in range(20)]


def test_harvest_valueless_src_drops_only_that_image():
    # lxml builder (app/extractors.py:3086): bare src parses as "", is
    # routed to url_images, and _process_single_image's `if not img_src`
    # guard (:3181) drops only that image — the rest of the page survives.
    import json
    from extract_text_spark import urlsource
    fetch, resolver = _img_fakes()
    html = '<img src="/img/big.gif"><img src><img src="/img/photo.png">'
    spans = urlsource.harvest_images(
        html, "http://site.example/p.html", fetch, resolver=resolver)
    assert [json.loads(s["media_ref"])["path"] for s in spans] == [
        "http://site.example/img/big.gif", "http://site.example/img/photo.png"]


def test_spans_from_url_page_then_images_order():
    from extract_text_spark import urlsource
    fetch_img, resolver = _img_fakes()

    def fetch(url, ua):
        if url.endswith(".html"):
            html = ('<nav>chrome</nav><p>Page body</p>'
                    '<img src="/img/big.gif">')
            return {"content_type": "text/html", "final_url": url,
                    "headers": {}, "content": html.encode()}
        return fetch_img(url, ua)

    status, spans = urlsource.spans_from_url(
        "http://site.example/p.html", fetch, resolver=resolver)
    assert status is None
    assert [s["kind"] for s in spans] == ["html_page", "media"]
    assert [s["offset"] for s in spans] == [0, 1]
    # and the downstream kernel keeps the interleaving
    from extract_text_spark.extractors import extract_document
    st, out = extract_document("u", spans)
    assert st == "ok"
    assert [s["kind"] for s in out] == ["text", "media"]
    assert out[0]["text"] == "Page body"
    assert "big.gif" in out[1]["media_ref"]


def test_each_url_fetched_exactly_once_through_full_pipeline(spark):
    """The one-pass extraction plan reads the ingest output once, and the
    persisted ingest keeps a second action on the result from FETCHING
    every URL again. Pin fetch-count == url-count across two actions via
    an accumulator."""
    acc = spark.sparkContext.accumulator(0)

    def counting_fetch(url, ua):
        acc.add(1)
        return {"content_type": "text/plain", "final_url": url,
                "headers": {"content-type": "text/plain"},
                "content": b"payload body"}

    urls = spark.createDataFrame(
        [(f"http://site.example/d{i}.txt",) for i in range(40)],
        "url string")
    out = extract_from_urls(urls, counting_fetch,
                            resolver=lambda h: ["93.184.216.34"])
    assert out.count() == 40
    assert out.filter("status = 'ok'").count() == 40
    assert acc.value == 40, f"fetched {acc.value} times for 40 urls"


def test_media_ref_is_valid_json_with_hostile_names():
    import json
    from extract_text_spark.bytecorpus import make_gif
    from extract_text_spark import urlsource

    def fetch(url, ua):
        return {"content_type": "image/gif", "final_url": url,
                "headers": {"content-type": "image/gif"},
                "content": make_gif(150, 150)}

    html = '<img src=\'/a"b\\c.gif\'>'
    spans = urlsource.harvest_images(
        html, "http://site.example/p.html", fetch,
        resolver=lambda h: ["93.184.216.34"])
    ref = json.loads(spans[0]["media_ref"])     # must parse
    assert ref["filename"] == 'a"b\\c.gif'
