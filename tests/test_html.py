"""E11/E12 HTML strip + heuristic main-content mode.

File mode expecteds mirror app/extractors.py:905-928 (script/style dropped,
per-line strip, double-space phrase split, empties dropped, join "\\n");
page mode mirrors :2988-3014 (adds nav/header/footer/aside, no phrase
split). get_text parity: text nodes concatenated in document order."""

from extract_text_spark.extractors.html import (
    extract_main_content,
    get_text,
    strip_html,
)


def test_get_text_concatenates_nodes():
    assert get_text("<p>Hello</p>\n<p>World</p>") == "Hello\nWorld"


def test_get_text_drops_script_style_subtrees():
    html = "<div>a<script>var x = '<b>not text</b>';</script>b<style>p{}</style>c</div>"
    assert get_text(html) == "abc"


def test_get_text_entities():
    assert get_text("<p>a &amp; b &lt;c&gt; &#8212;</p>") == "a & b <c> —"


def test_get_text_comments_and_doctype():
    assert get_text("<!DOCTYPE html><!-- hidden --><p>shown</p>") == "shown"


def test_file_mode_double_space_split():
    # "Welcome  to the site" -> two phrases on separate lines (:922-924).
    # NB adjacent elements with no whitespace between them concatenate with
    # no separator — get_text() parity — hence the \n in the markup.
    html = "<html><body><h1>Header</h1>\n<p>Welcome  to the site</p></body></html>"
    assert strip_html(html, "file") == "Header\nWelcome\nto the site"


def test_file_mode_keeps_nav():
    html = "<body><nav>Menu</nav>\n<p>Body text</p></body>"
    assert strip_html(html, "file") == "Menu\nBody text"


def test_page_mode_drops_chrome_no_phrase_split():
    html = (
        "<body><nav>Menu</nav>\n<header>Hdr</header>\n"
        "<p>Main  content stays</p>\n<aside>Ads</aside>\n"
        "<footer>foot</footer></body>"
    )
    # nav/header/aside/footer dropped; double-space survives page mode
    assert strip_html(html, "page") == "Main  content stays"


def test_quoted_attr_with_gt():
    html = '<p data-x="a>b">ok</p>'
    assert strip_html(html, "file") == "ok"


def test_unclosed_tag_at_eof():
    assert strip_html("<p>text<span", "file") == "text"


def test_main_content_keeps_article_drops_boilerplate():
    art = (
        "The quick brown fox jumps over the lazy dog while the data "
        "pipeline keeps running and the report is written for the reader."
    )
    nav = "".join(f'<a href="/{i}">link {i}</a> ' for i in range(8))
    html = (
        f"<body><nav>{nav}</nav><header><h1>Site</h1></header>"
        f"<main><p>{art}</p><p>{art}</p></main>"
        f"<aside>{nav}</aside><footer>copyright</footer></body>"
    )
    out = extract_main_content(html)
    assert art in out
    assert "link 1" not in out
    assert "copyright" not in out


def test_main_content_promotes_heading_between_paragraphs():
    art = (
        "This is a long paragraph of ordinary prose with the usual amount "
        "of stopwords in it and it continues for a while to be long enough."
    )
    html = f"<body><p>{art}</p><h2>Short heading</h2><p>{art}</p></body>"
    out = extract_main_content(html)
    assert "Short heading" in out


def test_uppercase_tags_and_void_elements():
    assert strip_html("<P>One</P>\n<BR/><p>Two</p>", "file") == "One\nTwo"


def test_nested_dropped_subtrees():
    html = "<div>keep1<nav>a<nav>b</nav>c</nav>\nkeep2</div>"
    assert strip_html(html, "page") == "keep1\nkeep2"


def test_rawtext_script_with_markup_inside():
    html = "<p>a</p><script>if (x<1) document.write('<p>no</p>')</script><p>b</p>"
    assert strip_html(html, "file") == "ab"


def test_title_text_is_kept():
    html = "<html><head><title>The Title</title></head><body>\n<p>Body</p></body></html>"
    assert strip_html(html, "file") == "The Title\nBody"


ARTICLE = (
    "The report shows that the data pipeline is running well and the "
    "team is happy with the results of this quarter as a whole overall."
)


def test_main_content_drops_link_farm_div():
    # boilerplate chrome marked up as a plain div: caught by link density
    farm = "".join(f'<a href="/t/{i}">related story {i}</a> ' for i in range(12))
    html = (f"<body><div>{farm}</div><p>{ARTICLE}</p><p>{ARTICLE}</p>"
            f"<div>{farm}</div></body>")
    out = extract_main_content(html)
    assert ARTICLE in out
    assert "related story 3" not in out


def test_main_content_keeps_article_with_inline_links():
    linked = (f"The report shows that the <a href='/x'>data pipeline</a> is "
              f"running well and the team is happy with the results of this "
              f"quarter as a whole overall and then some more of it here.")
    html = f"<body><p>{linked}</p><p>{ARTICLE}</p></body>"
    out = extract_main_content(html)
    assert "data pipeline" in out  # moderate link density is fine


def test_main_content_drops_short_shouty_chrome():
    html = (f"<body><div>SUBSCRIBE NOW</div><p>{ARTICLE}</p>"
            f"<div>Cookie settings</div><div>Share on social</div></body>")
    out = extract_main_content(html)
    assert ARTICLE in out
    assert "SUBSCRIBE" not in out and "Cookie" not in out


def test_rawtext_scan_is_single_pass():
    """The close-tag scan must case-fold the document at most ONCE per
    tokenize call, not once per script/style tag (O(n*tags) at scale)."""
    from extract_text_spark.extractors import html as H

    calls = {"lower": 0, "translate": 0}

    class Counting(str):
        def lower(self):
            calls["lower"] += 1
            return super().lower()

        def translate(self, table):
            calls["translate"] += 1
            return super().translate(table)

    doc = Counting("<p>a</p>" + "<script>x()</script><p>t</p>" * 100)
    assert H.strip_html(doc, mode="file") == "a" + "t" * 100
    assert calls["lower"] == 0
    assert calls["translate"] <= 1


def test_rawtext_close_scan_survives_length_changing_casefold():
    """'İ'.lower() is TWO chars — a full str.lower() misaligns find()
    indices for every rawtext close-tag scan after it. The ASCII-only
    table is length-preserving."""
    from extract_text_spark.extractors.html import strip_html
    doc = "İİİ<p>keep</p><SCRIPT>drop()</SCRIPT><p>tail</p>"
    assert strip_html(doc, mode="file") == "İİİkeeptail"


def test_find_img_srcs_document_order_cap_and_contexts():
    from extract_text_spark.extractors.html import find_img_srcs
    doc = (
        '<body><img src="a.png"><IMG SRC=b.gif alt="x">'
        "<img data-no-src=1>"                       # no src attr: not matched
        '<!-- <img src="in-comment"> -->'           # comments are not elements
        "<script>var h = '<img src=\"in-script\">';</script>"
        '<img src="data:image/png;base64,AAA"/>'
        "<img src>"                                 # valueless src -> "" (lxml)
        '<img src="a&amp;b.png"></body>'            # entity-unescaped value
    )
    assert find_img_srcs(doc) == [
        "a.png", "b.gif", "data:image/png;base64,AAA", "", "a&b.png"]
    assert find_img_srcs(doc, cap=2) == ["a.png", "b.gif"]


def test_single_span_giant_doc_is_linear_not_quadratic():
    """A 20 MB single-span HTML doc is ONE extraction task (every document
    is, and byte-splitting inside a span would change semantics: whole-payload encoding detection, stateful rawtext
    tokenization). The bound that makes this acceptable at scale is
    kernel LINEARITY: ~3 s for 20 MB here, so even MAX_FILE_SIZE (100 MB)
    is a ~16 s straggler — one task among thousands, not a stage killer.
    Before the single-pass casefold fix this doc was O(n*tags): ~250k
    script tags x 20 MB re-lowercases, i.e. effectively unbounded."""
    import time
    from extract_text_spark.extractors import extract_document
    block = ("<div><p>Words in a paragraph with text. </p>"
             "<script>var x=1;</script></div>")
    html = "<html><body>" + block * (20_000_000 // len(block)) + "</body></html>"
    span = [{"kind": "html_page", "text": html, "media_ref": None,
             "offset": 0}]
    t0 = time.monotonic()
    status, out = extract_document("giant", span)
    elapsed = time.monotonic() - t0
    assert status == "ok" and out[0]["text"].startswith("Words in a paragraph")
    assert elapsed < 60, f"20MB single-span doc took {elapsed:.1f}s"


def test_find_hrefs_document_order_and_rawtext():
    from extract_text_spark.extractors.html import find_hrefs

    html = ('<a href="/one">1</a><!-- <a href="/c">x</a> -->'
            '<A HREF="/two">2</A><a name="no-href">3</a>'
            '<script>var s = \'<a href="/s">\';</script>'
            '<a href>4</a><a href="/three">5</a>')
    assert find_hrefs(html) == ["/one", "/two", "", "/three"]
    assert find_hrefs(html, cap=2) == ["/one", "/two"]


def test_find_title_rcdata_rules():
    """find_title: first real <title> only, entity-unescaped and
    whitespace-collapsed; comment/script-wrapped titles are not
    elements; unclosed titles (which would swallow the document under
    the RCDATA rule) yield None instead of a megabyte 'title'."""
    from extract_text_spark.extractors.html import find_title

    assert find_title("<title>  A &amp; B \n C </title>") == "A & B C"
    assert find_title("<TITLE>caps</title>x") == "caps"
    assert find_title("<!--<title>no</title>--><title>yes</title>") == "yes"
    assert find_title(
        '<script>"<title>fake</title>"</script><title>real</title>'
    ) == "real"
    assert find_title("<title>never closed") is None
    # RCDATA end-tag boundary: "</titles>" is NOT a close tag
    assert find_title("<title>a</titles>b</title>x") == "a</titles>b"
    assert find_title("<title>a</title") is None   # EOF-truncated close
    assert find_title("<title>a</title/>rest") == "a"
    assert find_title("<p>none</p>") is None
    assert find_title("<titlex>not a title</titlex>") is None
    assert find_title("<title></title>") == ""
