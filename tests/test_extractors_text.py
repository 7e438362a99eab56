"""Per-format kernel semantics with hardcoded expecteds mirroring the
reference's unit tests (/root/reference/tests/test_extractors.py) and code
(/root/reference/app/extractors.py §§ cited per test)."""

import json

import pytest

from extract_text_spark.extractors.markdown import md_to_text
from extract_text_spark.extractors.plain import (
    extract_source_code,
    get_programming_language,
    source_code_header,
)
from extract_text_spark.extractors.rtf import rtf_to_text
from extract_text_spark.extractors.structured import (
    extract_csv,
    extract_json,
    extract_sheets,
    extract_xml,
    extract_yaml,
)


# -- E10 source code (app/extractors.py:752-758, 889-903) -------------------

def test_source_code_header_exact():
    body = "import os\nprint(1)\n"
    out = extract_source_code(body.encode(), "py", "test.py")
    assert out == (
        "=== Python File: test.py ===\n"
        "Lines: 3\n"            # split('\n') counts the trailing empty line
        + "=" * 50 + "\n"
        + body
    )


def test_source_code_large_file_warning():
    body = "\n".join(f"x={i}" for i in range(1500))
    out = extract_source_code(body.encode(), "js", "big.js")
    assert "=== JavaScript File: big.js ===\n" in out
    assert "Lines: 1500\n" in out
    assert "Warning: Large file with 1500 lines\n" in out


def test_language_map_defaults():
    assert get_programming_language("py") == "Python"
    assert get_programming_language("BSL") == "1C:Enterprise"
    assert get_programming_language("unknown_ext") == "Source Code"


def test_header_line_count_single_line():
    assert source_code_header("SQL", "q.sql", "select 1") == (
        "=== SQL File: q.sql ===\nLines: 1\n"
    )


# -- E14 JSON (app/extractors.py:949-978; reference test :79-90) ------------

def test_json_string_leaves_only():
    payload = '{"name": "Тест", "value": 42, "nested": {"key": "значение"}}'
    result = extract_json(payload)
    assert "name: Тест" in result
    assert "nested.key: значение" in result
    assert "value: 42" not in result  # numbers dropped


def test_json_array_paths():
    payload = json.dumps({"tags": ["a b", "", "c"], "n": [1, 2]})
    assert extract_json(payload) == "tags[0]: a b\ntags[2]: c"


def test_json_top_level_array():
    assert extract_json('["x", {"k": "v"}]') == "[0]: x\n[1].k: v"


def test_json_invalid_raises():
    with pytest.raises(Exception):
        extract_json('{"invalid": json}')


# -- E15 XML (app/extractors.py:994-1026) ------------------------------------

def test_xml_elements_and_attributes():
    xml = '<root v="1"><item id="a"> hello </item><sub><k>x</k></sub></root>'
    assert extract_xml(xml) == (
        "root@v: 1\nroot.item: hello\nroot.item@id: a\nroot.sub.k: x"
    )


# -- E16 YAML (app/extractors.py:1028-1070) ----------------------------------

def test_yaml_string_leaves():
    y = "title: hello world\ncount: 5\nmeta:\n  author: bob\ntags:\n- x\n- y\n"
    assert extract_yaml(y) == (
        "title: hello world\nmeta.author: bob\ntags[0]: x\ntags[1]: y"
    )
    # full YAML 1.1 semantics of yaml.safe_load: flow sequences, block
    # scalars, and the 'on'/'yes' booleans (a bool key joins the path as
    # True; bool values are dropped like other non-string leaves)
    assert extract_yaml("tags: [a, b]\n") == "tags[0]: a\ntags[1]: b"
    assert extract_yaml("body: |\n  line one\n  line two\n") == (
        "body: line one\nline two\n")
    assert extract_yaml("on: yes\nname: n\n") == "name: n"
    assert extract_yaml("on:\n  push: main\n") == "True.push: main"


# -- E6 CSV round trip (app/extractors.py:494-505) ---------------------------

def test_csv_roundtrip_normalizes():
    payload = 'a,b\r\n1,"x, y"\r\n2,z\r\n'
    assert extract_csv(payload) == 'a,b\n1,"x, y"\n2,z\n'


# -- E5 sheets (app/extractors.py:475-492) ------------------------------------

def test_sheets_markers_and_csv():
    payload = json.dumps({"sheets": [
        {"name": "Sheet1", "columns": ["a", "b"], "rows": [["1", "2"]]},
        {"name": "Data", "columns": ["x"], "rows": [["v"]]},
    ]})
    assert extract_sheets(payload) == (
        "[Sheet: Sheet1]\n\na,b\n1,2\n\n\n[Sheet: Data]\n\nx\nv\n"
    )


# -- E13 markdown (app/extractors.py:930-947) ---------------------------------

def test_markdown_heading_para():
    # markdown.markdown -> "<h1>T</h1>\n<p>para bold</p>" -> get_text
    assert md_to_text("# Title\n\nPara **bold** text") == "Title\nPara bold text"


def test_markdown_list_and_quote():
    out = md_to_text("para\n\n- a\n- b\n\n> quoted text\n")
    assert out == "para\n\na\nb\n\n\nquoted text\n"


def test_markdown_inline_and_links():
    assert md_to_text("see [docs](http://x) and `code` *em*") == "see docs and code em"


def test_markdown_indented_code_block():
    assert md_to_text("intro\n\n    x = 1\n    y = 2\n") == "intro\nx = 1\ny = 2\n"


# -- E17 RTF (app/extractors.py:980-992) ---------------------------------------

def test_rtf_basic():
    rtf = r"{\rtf1\ansi{\fonttbl{\f0 Arial;}}Hello \b World\b0 !\par}"
    assert rtf_to_text(rtf) == "Hello World!"


def test_rtf_par_and_hex():
    rtf = r"{\rtf1 line one\par line \'e9two\par}"
    # the single space after a control word is its delimiter (consumed)
    assert rtf_to_text(rtf) == "line one\nline étwo"


def test_csv_cyrillic_rows_kept():
    # mirrors /root/reference/tests/test_extractors.py:98-107
    payload = "Название,Цена,Количество\nТовар 1,100,5\nТовар 2,200,3"
    out = extract_csv(payload)
    assert "Название,Цена,Количество" in out
    assert "Товар 1,100,5" in out and "Товар 2,200,3" in out


def test_invalid_xml_yaml_fail_closed():
    # mirrors :125-130 / :146-151 — kernel raises, document gets error status
    from extract_text_spark.extractors import extract_document

    for kind, payload in [("xml", "<invalid><unclosed>tag</invalid>"),
                          ("yaml", "invalid: yaml: content: [")]:
        status, out = extract_document(
            "d", [{"kind": kind, "text": payload, "media_ref": None, "offset": 0}])
        assert status.startswith("error") and out == []


def test_eml_bare_8bit_body_rides_stdlib_mangle():
    """No Content-Transfer-Encoding: get_payload(decode=True) round-trips
    the str payload through raw-unicode-escape, so non-Latin-1 chars come
    back as literal escapes and Latin-1-range bytes misdecode as utf-8
    replacement chars. The reference uses the same stdlib call
    (app/extractors.py:1239-1250) — quirk pinned, and why fixtures that
    need lossless bodies use base64 CTE."""
    from extract_text_spark.extractors.email_msg import extract_eml
    raw = ("From: a@x.com\n\nZürich — café").encode("utf-8")
    out = extract_eml(raw)
    assert out.startswith("From: a@x.com\n---\n")
    body = out.split("---\n", 1)[1]
    assert "\\u2014" in body          # literal escape, not the em dash
    assert "�" in body           # mojibake for the Latin-1 range
