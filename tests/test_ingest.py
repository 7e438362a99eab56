"""Byte ingestion: real containers (zip/tar/docx/xlsx/pptx/odt/epub bytes)
through the ingest kernel, the JVM fan-out and the extraction kernel.

Fixtures are built in-process with stdlib zipfile/tarfile + hand-written
OOXML XML, mirroring the reference's own archive test
(/root/reference/tests/test_extractors.py:334-347: literal zip bytes ->
member fan-out with text equality)."""

import io
import json

import pytest

from extract_text_spark.bytecorpus import (
    make_docx,
    make_epub,
    make_odt,
    make_pptx,
    make_tar,
    make_xlsx,
    make_zip,
)
from extract_text_spark.ingest import (
    check_mime_type,
    extract_from_bytes,
    get_file_extension,
    ingest_bytes_df,
    sanitize_filename,
    sniff_content_mime,
    spans_from_bytes,
    validate_file_type,
)

UTF8_RU = "Тестовый текст в архиве"


def _bytes_df(spark, rows):
    from pyspark.sql.types import (
        BinaryType, StringType, StructField, StructType,
    )
    schema = StructType([
        StructField("doc_id", StringType(), False),
        StructField("filename", StringType()),
        StructField("content", BinaryType()),
    ])
    return spark.createDataFrame(rows, schema)


def _collect_docs(df):
    return {
        r["doc_id"]: (r["status"],
                      [(s["kind"], s["text"]) for s in r["spans"]])
        for r in df.collect()
    }


# ---------------------------------------------------------------------------
# Kernel-level (no Spark)
# ---------------------------------------------------------------------------

def test_zip_bytes_single_member_matches_reference_case():
    # /root/reference/tests/test_extractors.py:334-347
    archive = make_zip({"test.txt": UTF8_RU.encode("utf-8")})
    status, spans = spans_from_bytes(archive, "test.zip")
    assert status is None
    assert len(spans) == 1 and spans[0]["kind"] == "archive_member"
    member = json.loads(spans[0]["text"])
    assert member["path"] == "test.txt" and member["kind"] == "plain"
    assert member["text"].encode("latin-1").decode("utf-8") == UTF8_RU


def test_zip_traversal_and_system_files_filtered():
    archive = make_zip({
        "../../../etc/notes.txt": b"secret",
        "__MACOSX/._x": b"junk",
        "dir/.DS_Store": b"junk",
        "passwd": b"no extension -> unsupported -> dropped",
        "ok.txt": b"fine",
    })
    _, spans = spans_from_bytes(archive, "a.zip")
    members = [json.loads(s["text"]) for s in spans]
    assert [m["path"] for m in members] == ["etc/notes.txt", "ok.txt"]


def test_nested_zip_builds_member_tree():
    inner = make_zip({"deep.txt": b"bottom"})
    outer = make_zip({"inner.zip": inner, "top.txt": b"top"})
    _, spans = spans_from_bytes(outer, "outer.zip")
    members = {json.loads(s["text"])["path"]: json.loads(s["text"])
               for s in spans}
    assert members["top.txt"]["kind"] == "plain"
    nested = json.loads(members["inner.zip"]["members"])
    assert nested[0]["path"] == "deep.txt" and nested[0]["text"] == "bottom"


def test_tar_gz_and_invalid_tar():
    archive = make_tar({"a.txt": b"alpha", "b/c.md": b"# H\n\nbody"})
    status, spans = spans_from_bytes(archive, "data.tar.gz")
    assert status is None
    kinds = {json.loads(s["text"])["path"]: json.loads(s["text"])["kind"]
             for s in spans}
    assert kinds == {"a.txt": "plain", "b/c.md": "markdown"}
    # a bare gz that is not a tar stream is Invalid TAR (reference r:* quirk)
    import gzip
    status, _ = spans_from_bytes(gzip.compress(b"plain payload"), "x.gz")
    assert status == "error: Error processing archive: Invalid TAR file"


def test_zip_bomb_guard_uses_declared_sizes(monkeypatch):
    import extract_text_spark.ingest as ing
    monkeypatch.setattr(ing, "MAX_EXTRACTED_SIZE", 10)
    status, _ = spans_from_bytes(make_zip({"a.txt": b"x" * 11}), "a.zip")
    assert status == ("error: Error processing archive: Extracted files "
                      "size exceeds maximum allowed size (zip bomb protection)")


def test_archive_size_guard(monkeypatch):
    import extract_text_spark.ingest as ing
    monkeypatch.setattr(ing, "MAX_ARCHIVE_SIZE", 10)
    status, _ = spans_from_bytes(make_zip({"a.txt": b"hello"}), "a.zip")
    assert status == ("error: Error processing archive: Archive size "
                      "exceeds maximum allowed size")


def test_unsupported_and_unparseable_formats():
    status, _ = spans_from_bytes(b"x", "file.xyz")
    assert status == "error: Unsupported file format: file.xyz"
    status, _ = spans_from_bytes(b"%PDF-1.4", "doc.pdf")
    assert status.startswith("error: Error processing PDF")


def test_docx_bytes_full_assembly():
    from extract_text_spark.extractors import extract_document
    content = make_docx(
        ["Intro para", "", "Second para"],
        table=[["a", "b"], ["c", "d"]],
        header="Page header",
        footnote="A footnote",
        comment="A comment",
    )
    status, spans = spans_from_bytes(content, "report.docx")
    assert status is None and spans[0]["kind"] == "docx_part"
    st, out = extract_document("report.docx", spans)
    assert st == "ok"
    assert out[0]["text"] == (
        "Intro para\n\nSecond para\n\na\tb\nc\td\n\n[Header]\nPage header"
        "\n\n[Footnotes]\nA footnote\n\n[Comments]\nA comment"
    )


def test_xlsx_bytes_sheets():
    from extract_text_spark.extractors import extract_document
    content = make_xlsx({
        "S1": [["col1", "col2"], ["value1", "value2"]],
        "Nums": [["n"], [1], [2.5]],
    })
    status, spans = spans_from_bytes(content, "book.xlsx")
    assert status is None and spans[0]["kind"] == "sheet_part"
    st, out = extract_document("book.xlsx", spans)
    assert st == "ok"
    # pandas semantics: "[Sheet: x]" and the csv dump are separate "\n\n"-
    # joined parts; a mixed int/float column is float64 (1 -> "1.0")
    assert out[0]["text"] == (
        "[Sheet: S1]\n\ncol1,col2\nvalue1,value2\n\n\n"
        "[Sheet: Nums]\n\nn\n1.0\n2.5\n"
    )


def test_pptx_bytes_slides_notes_and_empty_slide_drop():
    from extract_text_spark.extractors import extract_document
    content = make_pptx([
        {"shapes": ["Title", "Body text"], "notes": ["Notes", "real note"]},
        {"shapes": [""]},  # empty slide -> dropped
        {"shapes": ["Last"]},
    ])
    status, spans = spans_from_bytes(content, "deck.pptx")
    st, out = extract_document("deck.pptx", spans)
    assert st == "ok"
    assert out[0]["text"] == (
        "[Slide 1]\nTitle\nBody text\n[Speaker Notes]\nreal note"
        "\n\n[Slide 3]\nLast"
    )


def test_odt_bytes_paragraphs():
    from extract_text_spark.extractors import extract_document
    t = "urn:oasis:names:tc:opendocument:xmlns:text:1.0"
    content = make_zip({
        "mimetype": "application/vnd.oasis.opendocument.text",
        "content.xml": (
            f'<office:document-content xmlns:office="o" xmlns:text="{t}">'
            "<office:body><text:p>First</text:p><text:p></text:p>"
            "<text:p>Second</text:p></office:body></office:document-content>"
        ),
    })
    status, spans = spans_from_bytes(content, "doc.odt")
    st, out = extract_document("doc.odt", spans)
    assert st == "ok" and out[0]["text"] == "First\nSecond"


def test_ods_bytes_sheets_csv_dump():
    """ODS rides the reference's Excel path (app/config.py:129,
    app/extractors.py:475-492): [Sheet: name] + csv dump per table, typed
    cells, repeated/trailing-empty runs expanded/trimmed."""
    from extract_text_spark.bytecorpus import make_ods
    from extract_text_spark.extractors import extract_document
    content = make_ods(
        {"Data": [["name", "qty"], ["alpha", 3], ["beta", 2.5]],
         "Rep": [["x"], ["dup"]]},
        repeat_last={"Rep": 2}, trailing_empty_cols=16382)
    status, spans = spans_from_bytes(content, "sheet.ods")
    assert spans[0]["kind"] == "sheet_part"
    st, out = extract_document("sheet.ods", spans)
    assert st == "ok"
    # mixed int/float column is float64 under pandas ("3 -> 3.0");
    # number-rows-repeated=2 on the Rep rows expands both of them
    assert out[0]["text"] == (
        "[Sheet: Data]\n\nname,qty\nalpha,3.0\nbeta,2.5\n\n\n"
        "[Sheet: Rep]\n\nx\ndup\ndup\n"
    )


def test_ods_bytes_bool_and_empty_cells():
    from extract_text_spark.bytecorpus import make_ods
    from extract_text_spark.extractors import extract_document
    content = make_ods({"T": [["a", "b", "c"], [True, None, "end"]]})
    st, out = extract_document(
        "t.ods", spans_from_bytes(content, "t.ods")[1])
    assert st == "ok"
    assert out[0]["text"] == "[Sheet: T]\n\na,b,c\nTrue,,end\n"


def test_xls_bytes_sheets_csv_dump():
    """Legacy XLS parses from real OLE2/CFB + BIFF8 bytes (the reference
    reads it via pd.read_excel/xlrd, app/extractors.py:475-492) — both
    the regular-FAT layout and the under-4096-byte ministream layout real
    writers use for small files."""
    from extract_text_spark.bytecorpus import make_xls
    from extract_text_spark.extractors import extract_document
    for mini in (False, True):
        content = make_xls(
            {"Data": [["name", "qty"], ["alpha", 3], ["beta", 2.5]],
             "Flags": [["ok"], [True]]},
            in_ministream=mini)
        status, spans = spans_from_bytes(content, "legacy.xls")
        assert spans[0]["kind"] == "sheet_part"
        st, out = extract_document("legacy.xls", spans)
        assert st == "ok"
        assert out[0]["text"] == (
            "[Sheet: Data]\n\nname,qty\nalpha,3.0\nbeta,2.5\n\n\n"
            "[Sheet: Flags]\n\nok\nTrue\n"
        )


def test_xls_rk_mulrk_label_and_continue_records():
    """BIFF8 record types my fixture writer doesn't emit, decoded from
    hand-built records: RK (both int and float encodings, x100 flag),
    MULRK runs, inline LABEL strings, and an SST spilling into a CONTINUE
    record with a fresh options byte (MS-XLS 2.5.293)."""
    import struct
    from extract_text_spark.extractors.olexls import (
        _parse_sst, _rk_value, xls_payload_from_bytes)
    from extract_text_spark.bytecorpus import _cfb_container

    assert _rk_value((40 << 2) | 2) == 40
    assert _rk_value(((-7 & 0x3FFFFFFF) << 2) | 2) == -7
    assert _rk_value((4025 << 2) | 2 | 1) == 40.25     # int/100
    (enc,) = struct.unpack("<Q", struct.pack("<d", 2.5))
    assert _rk_value((enc >> 32) & ~0x3) == 2.5        # float high bits

    # SST with one string straddling a CONTINUE boundary: 'helloworld'
    # split as compressed 'hello' + spill starting with grbit=0 'world'
    p1 = struct.pack("<II", 1, 1) + struct.pack("<HB", 10, 0) + b"hello"
    p2 = b"\x00world"
    assert _parse_sst([p1, p2]) == ["helloworld"]
    # ...and a spill that switches to UTF-16 mid-string
    p2w = b"\x01" + "world".encode("utf-16-le")
    assert _parse_sst([p1, p2w]) == ["helloworld"]

    def rec(opcode, payload):
        return struct.pack("<HH", opcode, len(payload)) + payload

    bof_g = rec(0x0809, struct.pack("<HHHHII", 0x600, 0x05, 0, 0, 0, 0))
    bof_s = rec(0x0809, struct.pack("<HHHHII", 0x600, 0x10, 0, 0, 0, 0))
    sheet = (bof_s
             + rec(0x027E, struct.pack("<HHHI", 0, 0, 0, (7 << 2) | 2))
             + rec(0x00BD, struct.pack("<HH", 1, 0)
                   + struct.pack("<HI", 0, (1 << 2) | 2)
                   + struct.pack("<HI", 0, (2 << 2) | 2)
                   + struct.pack("<H", 1))
             + rec(0x0204, struct.pack("<HHH", 2, 0, 0)
                   + struct.pack("<HB", 3, 0) + b"lbl")
             + rec(0x000A, b""))
    bs = rec(0x0085, struct.pack("<IBBBB", 0, 0, 0, 1, 0) + b"S")
    glob = bof_g + bs + rec(0x000A, b"")
    glob = (bof_g + rec(0x0085, struct.pack("<IBBBB", len(glob), 0, 0, 1, 0)
                        + b"S") + rec(0x000A, b""))
    wb = glob + sheet
    payload = xls_payload_from_bytes(_cfb_container("Workbook", wb))
    import json as _json
    sheets = _json.loads(payload)["sheets"]
    assert sheets[0]["name"] == "S"
    assert sheets[0]["columns"] == ["7", ""]
    assert sheets[0]["rows"] == [[1, 2], ["lbl", None]]


def test_xls_encrypted_and_sniffer_disambiguation():
    import struct
    from extract_text_spark.bytecorpus import _cfb_container, make_xls
    from extract_text_spark.extractors.olexls import xls_payload_from_bytes

    def rec(opcode, payload):
        return struct.pack("<HH", opcode, len(payload)) + payload

    wb = (rec(0x0809, struct.pack("<HHHHII", 0x600, 0x05, 0, 0, 0, 0))
          + rec(0x002F, b"\x01\x00") + rec(0x000A, b""))
    with pytest.raises(ValueError, match="encrypted"):
        xls_payload_from_bytes(_cfb_container("Workbook", wb))

    # OLE sniffing by directory names, like libmagic
    xls = make_xls({"S": [["a"]]})
    assert sniff_content_mime(xls) == "application/vnd.ms-excel"
    doc = _cfb_container("WordDocument", b"\x00" * 16)
    assert sniff_content_mime(doc) == "application/msword"
    # validate gate now passes a real xls named .xls
    ok, err = validate_file_type(xls, "book.xls")
    assert ok, err


def test_epub_bytes_members_and_budget(monkeypatch):
    from extract_text_spark.extractors import extract_document
    content = make_zip({
        "mimetype": "application/epub+zip",
        "ch1.xhtml": "<html><body><p>One</p></body></html>",
        "style.css": "p{}",
        "ch2.html": "<html><body><p>Two</p></body></html>",
    })
    status, spans = spans_from_bytes(content, "book.epub")
    assert spans[0]["kind"] == "epub"
    st, out = extract_document("book.epub", spans)
    assert st == "ok" and out[0]["text"] == "One\n\nTwo"
    # budget: the check runs per member in archive order; a member that
    # would overflow stops the loop even if non-html (reference quirk)
    import extract_text_spark.extractors.epub as ep
    monkeypatch.setattr(ep, "MAX_EXTRACTED_SIZE",
                        len("<html><body><p>One</p></body></html>") + 1)
    st, out = extract_document("book.epub", spans_from_bytes(content, "b.epub")[1])
    assert out[0]["text"] == "One"


# ---------------------------------------------------------------------------
# S1 / S5 / S6 / S7 gates
# ---------------------------------------------------------------------------

def test_sanitize_filename_reference_cases():
    # mirrors /root/reference/tests/test_utils.py:70-113 exactly
    assert sanitize_filename("document.pdf") == "document.pdf"
    assert sanitize_filename("data_file.txt") == "data_file.txt"
    assert sanitize_filename("../../../etc/passwd") == "etcpasswd"
    assert sanitize_filename("..\\..\\windows\\system32\\config") \
        == "windowssystem32config"
    assert sanitize_filename("./malicious.exe") == "malicious.exe"
    assert sanitize_filename("файл_с_русскими_символами.txt") \
        == "файл_с_русскими_символами.txt"
    assert sanitize_filename("测试文件.pdf") == "测试文件.pdf"
    assert sanitize_filename("файл#с@символами.docx") == "файл#с@символами.docx"
    assert sanitize_filename("файл<с>символами.docx") == "файлссимволами.docx"
    assert sanitize_filename("") == "unknown_file"
    assert sanitize_filename("   ") == "sanitized_file"
    assert sanitize_filename("a<b>c:d.txt") == "abcd.txt"
    assert sanitize_filename(" . ") == "sanitized_file"
    assert sanitize_filename("file\x01name.txt") == "filename.txt"
    long = "x" * 300 + ".txt"
    assert len(sanitize_filename(long)) == 255
    assert sanitize_filename(long).endswith(".txt")


def test_get_file_extension_compound():
    assert get_file_extension("a.tar.gz") == "tar.gz"
    assert get_file_extension("A.TGZ") == "tar.gz"
    assert get_file_extension("x.PDF") == "pdf"
    assert get_file_extension("noext") is None


def test_sniff_content_mime_table():
    assert sniff_content_mime(b"%PDF-1.4 ...") == "application/pdf"
    assert sniff_content_mime(b"\xd0\xcf\x11\xe0rest") == "application/msword"
    assert sniff_content_mime(b"plain words") == "text/plain"
    assert sniff_content_mime(b"<html><body>x</body></html>") == "text/html"
    assert sniff_content_mime(b'{"a": "b"}') == "application/json"
    assert sniff_content_mime(b"<root><x>1</x></root>") == "text/xml"
    assert sniff_content_mime(b"\x00\x01\x02") == "application/octet-stream"
    assert sniff_content_mime(make_zip({"a": b"b"})) == "application/zip"
    assert sniff_content_mime(make_docx(["x"])).endswith("document")
    assert sniff_content_mime(
        make_zip({"mimetype": "application/epub+zip"})) == "application/epub+zip"


def test_validate_file_type_fail_closed():
    ok, err = validate_file_type(b"just words", "notes.txt")
    assert ok and err is None
    ok, err = validate_file_type(b"just words", "fake.png")
    assert not ok
    assert err == ("File extension '.png' does not match its content "
                   "(MIME type: text/plain)")
    ok, _ = validate_file_type(b"just words", "script.py")
    assert ok  # text-based special case
    ok, _ = validate_file_type(make_zip({"a": b"b"}), "arch.zip")
    assert ok
    ok, err = validate_file_type(b"", "x.txt")
    assert not ok and err == "File or filename is missing"
    ok, _ = validate_file_type(b"anything", "x.unknownext")
    assert ok  # not in whitelist -> considered valid (reference behavior)


def test_check_mime_type_soft():
    assert check_mime_type(b"This is a text file", "test.txt") is True
    assert check_mime_type(b"%PDF-1.4", "test.pdf") is True
    # reference quirk (app/extractors.py:1568): the final membership test
    # keys the table on the first FOUR bytes, so b"%PDF" named .txt still
    # passes (its own signature list contains the detected mime)...
    assert check_mime_type(b"%PDF-1.4", "test.txt") is True
    # ...while a >4-byte signature (<!DOCTYPE) misses the 4-byte key and
    # falls back to the extension expectation -> mismatch detected.
    assert check_mime_type(b"<!DOCTYPE html><html></html>", "test.txt") is False


# ---------------------------------------------------------------------------
# Distributed: bytes -> ingest kernel -> JVM fan-out -> extraction kernel
# ---------------------------------------------------------------------------

def test_extract_from_bytes_end_to_end(spark):
    inner = make_zip({"deep.txt": b"bottom text"})
    rows = [
        ("d1", "test.zip", make_zip({
            "test.txt": UTF8_RU.encode("utf-8"),
            "sub/page.html": b"<html><body><p>Hello page</p></body></html>",
            "__MACOSX/._x": b"junk",
        })),
        ("d2", "plain.txt", "just plain".encode("utf-8")),
        ("d3", "nested.zip", make_zip({"inner.zip": inner})),
        ("d4", "report.docx", make_docx(["Para one"])),
        ("d5", "bad.xyz", b"whatever"),
    ]
    out = _collect_docs(extract_from_bytes(_bytes_df(spark, rows)))
    assert out["d1/test.txt"] == ("ok", [("text", UTF8_RU)])
    assert out["d1/sub/page.html"] == ("ok", [("text", "Hello page")])
    assert out["d2"] == ("ok", [("text", "just plain")])
    assert out["d3/inner.zip/deep.txt"] == ("ok", [("text", "bottom text")])
    assert out["d4"] == ("ok", [("text", "Para one")])
    assert out["d5"][0] == "error: Unsupported file format: bad.xyz"
    assert "d1/__MACOSX/._x" not in out


def test_extract_from_bytes_cache_handle_release(spark):
    """The persisted ingest output rides on the result as .ingest_cache;
    release_ingest_cache unpersists just that job's cache (looping
    drivers must not need spark.catalog.clearCache())."""
    from extract_text_spark.ingest import release_ingest_cache
    rows = [("d1", "plain.txt", b"some text")]
    out = extract_from_bytes(_bytes_df(spark, rows))
    assert out.ingest_cache.storageLevel.useMemory
    out.count()
    release_ingest_cache(out)
    assert not out.ingest_cache.storageLevel.useMemory
    release_ingest_cache(out.limit(1))  # no handle -> no-op, no raise


def test_ingest_validate_quarantines(spark):
    rows = [
        ("ok", "a.txt", b"fine text"),
        ("spoofed", "img.png", b"actually text"),
    ]
    out = {r["doc_id"]: r["status"]
           for r in ingest_bytes_df(_bytes_df(spark, rows),
                                    validate=True).collect()}
    assert out["ok"] is None
    assert out["spoofed"] == ("error: File extension '.png' does not match "
                              "its content (MIME type: text/plain)")


def test_ingest_plan_single_python_stage(spark):
    """Ingest adds exactly one Arrow kernel before the JVM fan-out; the
    fan-out itself stays Python-free."""
    rows = [("d1", "a.zip", make_zip({"x.txt": b"y"}))]
    plan = ingest_bytes_df(_bytes_df(spark, rows))._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("MapInPandas") == 1


# ---------------------------------------------------------------------------
# Real PDF bytes (classic xref + FlateDecode subset)
# ---------------------------------------------------------------------------

def test_pdf_bytes_pages_markers_and_order():
    from extract_text_spark.bytecorpus import make_pdf
    from extract_text_spark.extractors import extract_document
    content = make_pdf([
        ["First line", "Second (with) parens", "Back\\slash"],
        ["Page two only line"],
    ])
    status, spans = spans_from_bytes(content, "report.pdf")
    assert status is None
    assert [s["kind"] for s in spans] == ["pdf_page", "pdf_page"]
    st, out = extract_document("report.pdf", spans)
    assert st == "ok"
    assert out[0]["text"] == ("[Page 1]\nFirst line\nSecond (with) parens"
                              "\nBack\\slash")
    assert out[1]["text"] == "[Page 2]\nPage two only line"


def test_pdf_bytes_uncompressed_and_errors():
    from extract_text_spark.bytecorpus import make_pdf
    content = make_pdf([["raw stream line"]], compress=False)
    status, spans = spans_from_bytes(content, "raw.pdf")
    assert status is None and len(spans) == 1
    import json as _json
    page = _json.loads(spans[0]["text"])
    assert page["blocks"][0]["text"] == "raw stream line"
    # non-PDF bytes named .pdf -> reference-style per-file error
    status, _ = spans_from_bytes(b"not a pdf", "fake.pdf")
    assert status.startswith("error: Error processing PDF")
    # encrypted marker -> rejected
    status, _ = spans_from_bytes(b"%PDF-1.4 /Encrypt junk", "enc.pdf")
    assert status == ("error: Error processing PDF: encrypted PDF "
                      "not supported")


def test_pdf_inside_zip_joins_pages():
    from extract_text_spark.bytecorpus import make_pdf, make_zip
    from extract_text_spark.extractors import extract_document
    archive = make_zip({"doc.pdf": make_pdf([["p1 text"], ["p2 text"]])})
    status, spans = spans_from_bytes(archive, "a.zip")
    assert status is None
    st, out = extract_document("a", spans_from_member(spans))
    assert st == "ok"
    assert out[0]["text"] == "[Page 1]\np1 text\n\n[Page 2]\np2 text"


def spans_from_member(archive_spans):
    """First archive member -> its leaf input spans (kernel-level shortcut
    for what the JVM fan-out does)."""
    m = json.loads(archive_spans[0]["text"])
    return [{"kind": m["kind"], "text": m["text"],
             "media_ref": m["media_ref"], "offset": 0}]


def test_pdf_stream_slicing_respects_declared_length():
    """A stream payload ending in CR must survive extraction — a delimiter
    regex with optional \\r would swallow it (found by the oracle gate on
    doc 187's compressed bytes)."""
    from extract_text_spark.extractors.pdfbytes import _stream_data
    payload = b"abc\r"
    body = b"<< /Length 4 >>\nstream\n" + payload + b"\nendstream"
    assert _stream_data(body) == payload


class _FakeRarInfo:
    def __init__(self, name, data):
        self.filename, self._data, self.file_size = name, data, len(data)

    def is_dir(self):
        return self.filename.endswith("/")


class _FakeRarFile:
    """rarfile.RarFile API subset the walker touches (infolist/read/ctx)."""
    def __init__(self, fileobj):
        if fileobj.read(4) != b"Rar!":
            raise _FakeRarError("not a rar")
        self._entries = [
            _FakeRarInfo("a.txt", b"rar member text"),
            _FakeRarInfo("dir/", b""),
            _FakeRarInfo("dir/b.md", b"# T\n\nbody"),
        ]

    def infolist(self):
        return self._entries

    def read(self, info):
        return info._data

    def __enter__(self):
        return self

    def __exit__(self, *a):
        return False


class _FakeRarError(Exception):
    pass


def test_rar_member_walk(monkeypatch):
    """Drives the _rar_members body (infolist walk, dir skip, lazy read)
    through an API-faithful stand-in — the real ``rarfile`` is absent in
    this sandbox (reference treats it as an optional dep too,
    app/extractors.py:1813-1820), and rarfile cannot CREATE archives even
    where installed, so a stub is the only deterministic fixture."""
    import types
    import extract_text_spark.ingest as ing
    fake = types.SimpleNamespace(RarFile=_FakeRarFile, Error=_FakeRarError)
    monkeypatch.setattr(ing, "rarfile", fake)
    status, spans = spans_from_bytes(b"Rar!\x1a\x07\x00fakebody", "x.rar")
    assert status is None
    members = {json.loads(s["text"])["path"]: json.loads(s["text"])
               for s in spans}
    assert set(members) == {"a.txt", "dir/b.md"}
    assert members["a.txt"]["text"] == "rar member text"
    # invalid bytes -> the reference's per-file error
    status, _ = spans_from_bytes(b"XXnotrar", "bad.rar")
    assert status == "error: Error processing archive: Invalid RAR file"


class _Fake7zEntry:
    def __init__(self, name, size, is_directory):
        self.filename, self.uncompressed = name, size
        self.is_directory = is_directory


class _Fake7zFile:
    def __init__(self, fileobj):
        if fileobj.read(2) != b"7z":
            raise _FakeBad7zFile("not 7z")
        self._blobs = {"one.txt": b"seven zip text",
                       "sub/two.json": b'{"k": "v"}'}

    def list(self):
        return ([_Fake7zEntry(n, len(b), False)
                 for n, b in self._blobs.items()]
                + [_Fake7zEntry("sub", 0, True)])

    def readall(self):
        return {n: io.BytesIO(b) for n, b in self._blobs.items()}

    def __enter__(self):
        return self

    def __exit__(self, *a):
        return False


class _FakeBad7zFile(Exception):
    pass


def test_7z_member_walk(monkeypatch):
    import types
    import extract_text_spark.ingest as ing
    fake = types.SimpleNamespace(SevenZipFile=_Fake7zFile,
                                 Bad7zFile=_FakeBad7zFile)
    monkeypatch.setattr(ing, "py7zr", fake)
    status, spans = spans_from_bytes(b"7z\xbc\xaf\x27\x1cfake", "x.7z")
    assert status is None
    members = {json.loads(s["text"])["path"]: json.loads(s["text"])
               for s in spans}
    assert set(members) == {"one.txt", "sub/two.json"}
    assert members["one.txt"]["text"] == "seven zip text"
    status, _ = spans_from_bytes(b"XX", "bad.7z")
    assert status == "error: Error processing archive: Invalid 7Z file"


def test_7z_real_library_round_trip():
    """Runs only where py7zr is installed (absent in this sandbox): write a
    real .7z, walk it through the ingest kernel."""
    py7zr = pytest.importorskip("py7zr")
    buf = io.BytesIO()
    with py7zr.SevenZipFile(buf, "w") as z:
        z.writestr(b"real seven zip", "real.txt")
    status, spans = spans_from_bytes(buf.getvalue(), "r.7z")
    assert status is None
    assert json.loads(spans[0]["text"])["text"] == "real seven zip"


def test_rar_7z_vendored_fallback_error_surface():
    """With the optional libs absent the vendored readers carry the walk;
    out-of-subset containers fail closed with a clear per-file error (the
    reference with libs installed would succeed — the subset bounds are
    documented in extractors/arclite.py)."""
    import extract_text_spark.ingest as ing
    if ing.rarfile is None:
        status, _ = spans_from_bytes(b"Rar!\x1a\x07\x00x", "m.rar")
        assert status == ("error: Error processing archive: RAR4 archives "
                          "not supported by the vendored reader")
    if ing.py7zr is None:
        status, _ = spans_from_bytes(b"7z\xbc\xaf\x27\x1cx", "m.7z")
        assert status == "error: Error processing archive: Invalid 7Z file"


def test_truncated_archive_is_per_file_error_not_crash():
    """A corrupt/truncated compressed container must quarantine as a
    per-file error row — EOFError/zlib.error escaping the Arrow kernel
    would kill the whole job (code-review finding, round 2)."""
    whole = make_tar({"a.txt": b"x" * 4000})
    status, _ = spans_from_bytes(whole[: len(whole) // 2], "t.tar.gz")
    assert status is not None and status.startswith(
        "error: Error processing archive:")
    truncated_zip = make_zip({"a.txt": b"y" * 4000})[:-30]
    status, _ = spans_from_bytes(truncated_zip, "t.zip")
    assert status is not None and status.startswith(
        "error: Error processing archive:")
    # nested corrupt archive: member dropped, siblings survive
    outer = make_zip({"bad.tar.gz": whole[: len(whole) // 2],
                      "ok.txt": b"fine"})
    status, spans = spans_from_bytes(outer, "outer.zip")
    assert status is None
    assert [json.loads(s["text"])["path"] for s in spans] == ["ok.txt"]


def test_modern_pdf_equals_classic_pdf():
    """The SAME document encoded as PDF 1.4 (classic xref table) and as
    PDF 1.5 (xref STREAM + /ObjStm-compressed page tree + indirect
    /Length) must produce identical span sequences — most post-2006 PDFs
    use the modern layout (reference handles both via pdfplumber,
    app/extractors.py:223-247)."""
    from extract_text_spark.bytecorpus import make_pdf, make_pdf_modern
    from extract_text_spark.extractors import extract_document
    from extract_text_spark.extractors.pdfbytes import pdf_pages_from_bytes
    pages = [["First page text", "line 2 (parens)"], ["Second pg"],
             ["Third \\ backslash"]]
    classic, modern = make_pdf(pages), make_pdf_modern(pages)
    assert pdf_pages_from_bytes(classic) == pdf_pages_from_bytes(modern)
    st_c, out_c = extract_document(
        "c.pdf", spans_from_bytes(classic, "c.pdf")[1])
    st_m, out_m = extract_document(
        "m.pdf", spans_from_bytes(modern, "m.pdf")[1])
    assert st_c == st_m == "ok"
    assert [(s["kind"], s["text"], s["offset"]) for s in out_c] == \
           [(s["kind"], s["text"], s["offset"]) for s in out_m]
    assert out_c[0]["text"].startswith("[Page 1]\nFirst page text")


def test_pdf_indirect_length_and_png_predictor():
    from extract_text_spark.extractors.pdfbytes import (
        _png_unpredict, _stream_data)
    # /Length as an indirect reference resolves through the object table
    payload = b"hello\r"
    body = b"<< /Length 9 0 R >>\nstream\n" + payload + b"\nendstream"
    assert _stream_data(body, {9: b" 6 "}) == payload
    # PNG Up predictor round-trip (the xref-stream default, Predictor 12)
    rows = [bytes([1, 0, 0, 37, 0]), bytes([1, 0, 1, 14, 0]),
            bytes([2, 0, 9, 0, 3])]
    enc = bytearray()
    prev = bytes(5)
    for row in rows:
        enc.append(2)
        enc += bytes((row[i] - prev[i]) & 0xFF for i in range(5))
        prev = row
    assert _png_unpredict(bytes(enc), 5) == b"".join(rows)


def test_pdf_escape_edge_cases():
    from extract_text_spark.extractors.pdfbytes import _unescape
    assert _unescape(rb"a\8b") == "a8b"       # \8 is literal, not octal
    assert _unescape(rb"a\qb") == "aqb"       # unknown escape drops backslash
    assert _unescape(rb"a\101b") == "aAb"     # 3-digit octal
    assert _unescape(rb"a\7b") == "a\x07b"    # 1-digit octal
    assert _unescape(rb"x\(y\)") == "x(y)"


def test_pdf_mixed_tj_operators_keep_stream_order():
    from extract_text_spark.extractors.pdfbytes import _content_blocks
    seg = (b"BT /F1 12 Tf 72 700 Td (A) Tj [(B)(b)] TJ (C) Tj ET")
    blocks = _content_blocks(seg, 792.0)
    assert blocks[0]["text"] == "A\nBb\nC"


# -- vendored RAR5/7z readers (extractors/arclite.py) ------------------------

def test_vendored_rar5_round_trip_and_dir_skip():
    from extract_text_spark.bytecorpus import make_rar5
    from extract_text_spark.extractors.arclite import rar5_members
    r = make_rar5({"a.txt": b"rar member text", "sub/b.md": b"# T"},
                  with_dir="sub")
    assert rar5_members(r) == [("a.txt", b"rar member text", 15),
                               ("sub/b.md", b"# T", 3)]


def test_vendored_rar5_rejects_rar4_and_compressed():
    import pytest
    from extract_text_spark.extractors.arclite import rar5_members
    with pytest.raises(ValueError, match="RAR4"):
        rar5_members(b"Rar!\x1a\x07\x00restofrar4")
    with pytest.raises(ValueError, match="Invalid RAR"):
        rar5_members(b"XXnotrar")


def test_vendored_7z_copy_and_lzma_coders():
    from extract_text_spark.bytecorpus import make_7z
    from extract_text_spark.extractors.arclite import sevenz_members
    entries = {"a.txt": b"seven text", "big.bin": bytes(range(256)) * 64}
    for coder in ("copy", "lzma2"):
        assert sevenz_members(make_7z(entries, coder=coder)) == [
            ("a.txt", b"seven text"), ("big.bin", bytes(range(256)) * 64)]


def test_vendored_7z_multi_coder_filter_chains():
    """Two-coder folders with bind pairs — the Delta+LZMA2 and BCJ-x86+
    LZMA1 chains real 7-Zip emits for binary data/executables — decode
    through one composed stdlib raw-filter chain (linear topology
    resolved from the bind pairs; BCJ2's 4-stream split stays
    unsupported)."""
    from extract_text_spark.bytecorpus import make_7z
    from extract_text_spark.extractors.arclite import sevenz_members
    entries = {"a.txt": b"chained text payload " * 40,
               "b/x.bin": bytes(range(256)) * 30}
    for coder in ("delta-lzma2", "bcj-lzma1"):
        assert sevenz_members(make_7z(entries, coder=coder)) == [
            ("a.txt", entries["a.txt"]), ("b/x.bin", entries["b/x.bin"])]
    # declared-size cap still fires before any chain decode
    import pytest
    with pytest.raises(ValueError, match="zip bomb protection"):
        sevenz_members(make_7z({"x": b"A" * 100_000}, coder="delta-lzma2"),
                       max_total=1024)
    # end-to-end through the ingest fan-out
    z = make_7z({"doc.txt": b"deep chain text"}, coder="bcj-lzma1")
    status, spans = spans_from_bytes(z, "c.7z")
    assert status is None
    member = json.loads(spans[0]["text"])
    assert member["path"] == "doc.txt" and member["text"] == "deep chain text"


def test_vendored_readers_drive_ingest_fanout():
    """With rarfile/py7zr absent (this sandbox), the vendored readers
    carry the A4/A5 walk: member model, nested recursion, error surface
    (app/extractors.py:1812-1959)."""
    import json
    from extract_text_spark.bytecorpus import make_7z, make_rar5
    r = make_rar5({"a.txt": b"rar text"})
    st, spans = spans_from_bytes(r, "x.rar")
    assert st is None and len(spans) == 1
    member = json.loads(spans[0]["text"])
    assert member["path"] == "a.txt"
    # nested rar inside lzma2 7z
    z = make_7z({"inner.rar": r, "n.txt": b"note"}, coder="lzma2")
    st, spans = spans_from_bytes(z, "outer.7z")
    assert st is None and len(spans) == 2
    st, _ = spans_from_bytes(b"XXnotrar", "bad.rar")
    assert st == "error: Error processing archive: Invalid RAR file"
    st, _ = spans_from_bytes(b"XX", "bad.7z")
    assert st == "error: Error processing archive: Invalid 7Z file"


def test_xls_formula_cached_results():
    """FORMULA records carry the cached result inline (number) or via the
    following STRING record / Bes byte ([MS-XLS] 2.5.133) — what
    pd.read_excel surfaces for formula cells; error results stay empty
    like xlrd's NaN."""
    import json
    from extract_text_spark.bytecorpus import XlsFormula, make_xls
    from extract_text_spark.extractors.olexls import xls_payload_from_bytes
    xls = make_xls({"S": [["n", "s", "b", "lit"],
                          [XlsFormula(6.5), XlsFormula("cached str"),
                           XlsFormula(True), "plain"]]})
    got = json.loads(xls_payload_from_bytes(xls))
    assert got["sheets"][0]["rows"] == [[6.5, "cached str", True, "plain"]]


def test_vendored_7z_declared_size_cap_fires_before_decode():
    """The zip-bomb guard must fire on HEADER metadata, never after
    materializing a hostile archive (parity with the zip/tar declared-
    size guards)."""
    import pytest
    from extract_text_spark.bytecorpus import make_7z
    from extract_text_spark.extractors.arclite import sevenz_members
    z = make_7z({"big.txt": b"A" * 100_000}, coder="lzma2")
    with pytest.raises(ValueError, match="zip bomb protection"):
        sevenz_members(z, max_total=1024)
    assert sevenz_members(z, max_total=10**9)[0][1] == b"A" * 100_000


def test_cache_registry_survives_transformations(spark):
    """The loop-safe release path: .ingest_cache is a plain attribute and
    any transformation discards it, but a caller-owned cache_registry
    keeps the handle, so release_caches frees the persisted ingest even
    when the driver only ever held a derived DataFrame."""
    from extract_text_spark.ingest import release_caches
    rows = [("d1", "plain.txt", b"some text")]
    reg: list = []
    derived = extract_from_bytes(_bytes_df(spark, rows),
                                 cache_registry=reg).select("doc_id")
    assert not hasattr(derived, "ingest_cache")   # attribute gone
    assert len(reg) == 1 and reg[0].storageLevel.useMemory
    derived.count()
    handle = reg[0]
    release_caches(reg)
    assert not handle.storageLevel.useMemory and reg == []
