"""Deterministic byte-fixture builders (zip/tar/docx/xlsx/pptx/epub/odt).

Used by tests AND the driver queries' closed-form byte corpuses: each
builder produces real container bytes with stdlib zipfile/tarfile + hand
OOXML XML, so ingest.py is exercised against genuine file formats without
any binary fixtures checked into the repo. Archive timestamps are pinned so
the bytes themselves are reproducible (extraction ignores them either way).
"""

from __future__ import annotations

import io
import struct
import tarfile
import zipfile

_EPOCH = (1980, 1, 1, 0, 0, 0)

_CT = (
    '<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/'
    'package/2006/content-types"/>'
)


def make_zip(entries: dict[str, bytes | str]) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, data in entries.items():
            info = zipfile.ZipInfo(name, _EPOCH)
            info.compress_type = zipfile.ZIP_DEFLATED
            zf.writestr(info, data)
    return buf.getvalue()


def forge_zip_declared_size(zip_bytes: bytes, name: str,
                            declared: int) -> bytes:
    """Patch the central-directory uncompressed-size field of ``name`` to
    ``declared`` — a metadata-lying "bomb" whose declared sizes the A2
    guard must reject BEFORE any member read (app/extractors.py:1665-1676
    sums ZipInfo.file_size first), so the actual data stays tiny."""
    b = bytearray(zip_bytes)
    i = 0
    while True:
        i = b.find(b"PK\x01\x02", i)
        if i < 0:
            raise ValueError(f"no central record for {name}")
        (nlen,) = struct.unpack_from("<H", b, i + 28)
        if bytes(b[i + 46:i + 46 + nlen]).decode() == name:
            struct.pack_into("<I", b, i + 24, declared)
            return bytes(b)
        i += 4


def make_tar(entries: dict[str, bytes], mode: str = "w:gz") -> bytes:
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode=mode) as tf:
        for name, data in entries.items():
            info = tarfile.TarInfo(name)
            info.size = len(data)
            tf.addfile(info, io.BytesIO(data))
    return buf.getvalue()


def make_docx(paragraphs, table=None, header=None, footnote=None,
              comment=None) -> bytes:
    w = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
    r = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    body = "".join(
        f"<w:p><w:r><w:t>{p}</w:t></w:r></w:p>" for p in paragraphs
    )
    if table:
        rows = "".join(
            "<w:tr>" + "".join(
                f"<w:tc><w:p><w:r><w:t>{c}</w:t></w:r></w:p></w:tc>"
                for c in row
            ) + "</w:tr>"
            for row in table
        )
        body += f"<w:tbl>{rows}</w:tbl>"
    entries: dict[str, bytes | str] = {"[Content_Types].xml": _CT}
    rels = []
    if header is not None:
        rels.append(
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org'
            '/officeDocument/2006/relationships/header" Target="header1.xml"/>'
        )
        entries["word/header1.xml"] = (
            f'<w:hdr xmlns:w="{w}"><w:p><w:r><w:t>{header}</w:t></w:r></w:p></w:hdr>'
        )
        body += (
            '<w:sectPr><w:headerReference w:type="default" r:id="rId1"/></w:sectPr>'
        )
    entries["word/document.xml"] = (
        f'<w:document xmlns:w="{w}" xmlns:r="{r}"><w:body>{body}</w:body>'
        "</w:document>"
    )
    if rels:
        entries["word/_rels/document.xml.rels"] = (
            '<Relationships xmlns="http://schemas.openxmlformats.org/package'
            '/2006/relationships">' + "".join(rels) + "</Relationships>"
        )
    if footnote is not None:
        entries["word/footnotes.xml"] = (
            f'<w:footnotes xmlns:w="{w}">'
            '<w:footnote w:type="separator" w:id="-1"><w:p><w:r><w:t>sep'
            "</w:t></w:r></w:p></w:footnote>"
            f'<w:footnote w:id="1"><w:p><w:r><w:t>{footnote}</w:t></w:r></w:p>'
            "</w:footnote></w:footnotes>"
        )
    if comment is not None:
        entries["word/comments.xml"] = (
            f'<w:comments xmlns:w="{w}"><w:comment w:id="0">'
            f"<w:p><w:r><w:t>{comment}</w:t></w:r></w:p></w:comment></w:comments>"
        )
    return make_zip(entries)


def make_xlsx(sheets: dict[str, list[list]]) -> bytes:
    s = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    r = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    entries: dict[str, bytes | str] = {"[Content_Types].xml": _CT}
    sheet_tags, rel_tags = [], []
    for i, (name, grid) in enumerate(sheets.items(), 1):
        sheet_tags.append(f'<sheet name="{name}" sheetId="{i}" r:id="rId{i}"/>')
        rel_tags.append(
            f'<Relationship Id="rId{i}" Type="x" Target="worksheets/sheet{i}.xml"/>'
        )
        rows = []
        for rn, row in enumerate(grid, 1):
            cells = []
            for cn, v in enumerate(row):
                col = chr(ord("A") + cn)
                if isinstance(v, str):
                    cells.append(
                        f'<c r="{col}{rn}" t="inlineStr"><is><t>{v}</t></is></c>'
                    )
                else:
                    cells.append(f'<c r="{col}{rn}"><v>{v}</v></c>')
            rows.append(f'<row r="{rn}">' + "".join(cells) + "</row>")
        entries[f"xl/worksheets/sheet{i}.xml"] = (
            f'<worksheet xmlns="{s}"><sheetData>' + "".join(rows)
            + "</sheetData></worksheet>"
        )
    entries["xl/workbook.xml"] = (
        f'<workbook xmlns="{s}" xmlns:r="{r}"><sheets>'
        + "".join(sheet_tags) + "</sheets></workbook>"
    )
    entries["xl/_rels/workbook.xml.rels"] = (
        '<Relationships xmlns="http://schemas.openxmlformats.org/package'
        '/2006/relationships">' + "".join(rel_tags) + "</Relationships>"
    )
    return make_zip(entries)


def make_pptx(slides: list[dict]) -> bytes:
    p = "http://schemas.openxmlformats.org/presentationml/2006/main"
    a = "http://schemas.openxmlformats.org/drawingml/2006/main"
    r = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    entries: dict[str, bytes | str] = {"[Content_Types].xml": _CT}
    sld_ids, rel_tags = [], []

    def shapes_xml(texts):
        return "".join(
            f"<p:sp><p:txBody><a:p><a:r><a:t>{t}</a:t></a:r></a:p></p:txBody></p:sp>"
            for t in texts
        )

    for i, slide in enumerate(slides, 1):
        sld_ids.append(f'<p:sldId id="{255 + i}" r:id="rId{i}"/>')
        rel_tags.append(
            f'<Relationship Id="rId{i}" Type="x" Target="slides/slide{i}.xml"/>'
        )
        entries[f"ppt/slides/slide{i}.xml"] = (
            f'<p:sld xmlns:p="{p}" xmlns:a="{a}"><p:cSld><p:spTree>'
            + shapes_xml(slide.get("shapes", []))
            + "</p:spTree></p:cSld></p:sld>"
        )
        if slide.get("notes"):
            entries[f"ppt/slides/_rels/slide{i}.xml.rels"] = (
                '<Relationships xmlns="http://schemas.openxmlformats.org/'
                'package/2006/relationships"><Relationship Id="rId99" Type="x"'
                f' Target="../notesSlides/notesSlide{i}.xml"/></Relationships>'
            )
            entries[f"ppt/notesSlides/notesSlide{i}.xml"] = (
                f'<p:notes xmlns:p="{p}" xmlns:a="{a}"><p:cSld><p:spTree>'
                + shapes_xml(slide["notes"])
                + "</p:spTree></p:cSld></p:notes>"
            )
    entries["ppt/presentation.xml"] = (
        f'<p:presentation xmlns:p="{p}" xmlns:r="{r}"><p:sldIdLst>'
        + "".join(sld_ids) + "</p:sldIdLst></p:presentation>"
    )
    entries["ppt/_rels/presentation.xml.rels"] = (
        '<Relationships xmlns="http://schemas.openxmlformats.org/package'
        '/2006/relationships">' + "".join(rel_tags) + "</Relationships>"
    )
    return make_zip(entries)


def make_epub(chapters: dict[str, str], extras: dict[str, bytes] | None = None) -> bytes:
    entries: dict[str, bytes | str] = {"mimetype": "application/epub+zip"}
    for name, body in chapters.items():
        entries[name] = f"<html><body><p>{body}</p></body></html>"
    entries.update(extras or {})
    return make_zip(entries)


def _pdf_escape(text: str) -> str:
    return (text.replace("\\", r"\\").replace("(", r"\(")
            .replace(")", r"\)"))


def make_pdf(pages: list[list[str]], compress: bool = True) -> bytes:
    """Valid classic-xref PDF: one FlateDecode content stream per page, one
    BT text object per line (stacked top-down from y=720), Helvetica 12."""
    import zlib
    n = len(pages)
    objs: list[bytes] = []
    kids = " ".join(f"{3 + i} 0 R" for i in range(n))
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(f"<< /Type /Pages /Kids [{kids}] /Count {n} >>".encode())
    for i in range(n):
        objs.append(
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            f"/Contents {3 + n + i} 0 R >>".encode())
    for lines in pages:
        stream = "\n".join(
            f"BT /F1 12 Tf 72 {720 - 40 * j} Td ({_pdf_escape(line)}) Tj ET"
            for j, line in enumerate(lines)
        ).encode("latin-1")
        if compress:
            stream = zlib.compress(stream)
            filt = b" /Filter /FlateDecode"
        else:
            filt = b""
        objs.append(b"<< /Length " + str(len(stream)).encode() + filt
                    + b" >>\nstream\n" + stream + b"\nendstream")

    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, 1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objs) + 1}\n0000000000 65535 f \n".encode()
    for off in offsets:
        out += f"{off:010d} 00000 n \n".encode()
    out += (f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
            f"startxref\n{xref_at}\n%%EOF\n").encode()
    return bytes(out)


def make_pdf_modern(pages: list[list[str]]) -> bytes:
    """Same document as ``make_pdf`` but in the modern (PDF >= 1.5) layout
    real writers emit since ~2006: Catalog/Pages/Page dicts compressed into
    a /Type /ObjStm object stream, a /Type /XRef cross-reference STREAM
    (FlateDecode + PNG Up predictor, /W [1 3 1]) instead of a classic xref
    table, and the first content stream's /Length as an indirect reference.
    pdf_pages_from_bytes must produce identical payloads for both encodings.
    """
    import zlib
    n = len(pages)
    # object numbering: 1..n content streams, n+1 the indirect /Length,
    # ObjStm = 2n+4, XRef stream = 2n+5; catalog/pages/page dicts n+2..2n+3
    # live inside the ObjStm.
    catalog_num, pages_num = n + 2, n + 3
    page_nums = [n + 4 + i for i in range(n)]
    objstm_num, xref_num = 2 * n + 4, 2 * n + 5

    streams = []
    for lines in pages:
        raw = "\n".join(
            f"BT /F1 12 Tf 72 {720 - 40 * j} Td ({_pdf_escape(line)}) Tj ET"
            for j, line in enumerate(lines)
        ).encode("latin-1")
        streams.append(zlib.compress(raw))

    inner: list[tuple[int, bytes]] = [
        (catalog_num, f"<< /Type /Catalog /Pages {pages_num} 0 R >>".encode()),
        (pages_num, ("<< /Type /Pages /Kids ["
                     + " ".join(f"{p} 0 R" for p in page_nums)
                     + f"] /Count {n} >>").encode()),
    ] + [
        (p, (f"<< /Type /Page /Parent {pages_num} 0 R "
             f"/MediaBox [0 0 612 792] /Contents {i + 1} 0 R >>").encode())
        for i, p in enumerate(page_nums)
    ]
    bodies = b" ".join(b for _, b in inner)
    offs, pos = [], 0
    for _, b in inner:
        offs.append(pos)
        pos += len(b) + 1
    header = " ".join(f"{num} {off}" for (num, _), off in zip(inner, offs))
    header_b = (header + "\n").encode()
    objstm_payload = zlib.compress(header_b + bodies)

    out = bytearray(b"%PDF-1.5\n")
    offsets: dict[int, int] = {}

    def emit(num: int, body: bytes):
        offsets[num] = len(out)
        out.extend(f"{num} 0 obj\n".encode() + body + b"\nendobj\n")

    for i, s in enumerate(streams, 1):
        if i == 1:
            head = f"<< /Length {n + 1} 0 R /Filter /FlateDecode >>"
        else:
            head = f"<< /Length {len(s)} /Filter /FlateDecode >>"
        emit(i, head.encode() + b"\nstream\n" + s + b"\nendstream")
    emit(n + 1, str(len(streams[0])).encode())
    emit(objstm_num,
         (f"<< /Type /ObjStm /N {len(inner)} /First {len(header_b)} "
          f"/Length {len(objstm_payload)} /Filter /FlateDecode >>").encode()
         + b"\nstream\n" + objstm_payload + b"\nendstream")

    # xref STREAM: one row per object 0..xref_num, W=[1 3 1]
    size = xref_num + 1
    rows = bytearray()
    for num in range(size):
        if num == 0:
            rows += bytes([0]) + (0).to_bytes(3, "big") + bytes([255])
        elif num in offsets or num == xref_num:
            off = offsets.get(num, 0)  # xref stream's own offset patched below
            rows += bytes([1]) + off.to_bytes(3, "big") + bytes([0])
        else:  # compressed object: (2, objstm number, index within it)
            idx = [q for q, _ in inner].index(num)
            rows += bytes([2]) + objstm_num.to_bytes(3, "big") + bytes([idx])
    xref_at = len(out)
    rows[5 * xref_num + 1:5 * xref_num + 4] = xref_at.to_bytes(3, "big")
    # PNG Up predictor (filter type 2) per 5-byte row
    cols = 5
    pred = bytearray()
    prev = bytes(cols)
    for r in range(0, len(rows), cols):
        row = rows[r:r + cols]
        pred.append(2)
        pred += bytes((row[i] - prev[i]) & 0xFF for i in range(cols))
        prev = row
    xref_payload = zlib.compress(bytes(pred))
    emit(xref_num,
         (f"<< /Type /XRef /Size {size} /W [1 3 1] /Root {catalog_num} 0 R "
          f"/Filter /FlateDecode /DecodeParms << /Predictor 12 /Columns {cols} >> "
          f"/Length {len(xref_payload)} >>").encode()
         + b"\nstream\n" + xref_payload + b"\nendstream")
    out.extend(f"startxref\n{xref_at}\n%%EOF\n".encode())
    return bytes(out)


class XlsFormula:
    """make_xls cell marker: emit a FORMULA record whose cached result is
    ``cached`` (float, str, or bool) — string results ride the following
    STRING record, exactly as Excel lays them out ([MS-XLS] 2.5.133)."""

    def __init__(self, cached):
        self.cached = cached


def make_xls(sheets: dict[str, list[list]],
             in_ministream: bool = False) -> bytes:
    """Legacy XLS: real OLE2/CFB container + BIFF8 Workbook stream.

    Strings go through a genuine SST (LABELSST cells), numbers are NUMBER
    records, bools BOOLERR, ``XlsFormula`` values FORMULA records with
    cached results, None skipped. ``in_ministream=True`` keeps the
    Workbook under the 4096-byte CFB cutoff so it lands in the miniFAT/
    ministream path (how small real files are laid out); otherwise the
    stream is padded past the cutoff into the regular FAT.
    """
    import struct

    def rec(opcode: int, payload: bytes) -> bytes:
        return struct.pack("<HH", opcode, len(payload)) + payload

    def bof(substream_type: int) -> bytes:
        return rec(0x0809, struct.pack("<HHHHII", 0x0600, substream_type,
                                       0x0DBB, 0x07CC, 0, 0x0600))

    # SST: collect unique strings across all sheets
    strings: list[str] = []
    index: dict[str, int] = {}
    total_refs = 0
    for grid in sheets.values():
        for row in grid:
            for v in row:
                if isinstance(v, str):
                    total_refs += 1
                    if v not in index:
                        index[v] = len(strings)
                        strings.append(v)

    sst_payload = struct.pack("<II", total_refs, len(strings))
    for s in strings:
        enc = s.encode("latin-1", errors="replace")
        sst_payload += struct.pack("<HB", len(s), 0) + enc

    def sheet_substream(grid: list[list]) -> bytes:
        out = bof(0x0010)
        for r, row in enumerate(grid):
            for c, v in enumerate(row):
                if v is None:
                    continue
                if isinstance(v, XlsFormula):
                    cached = v.cached
                    base = struct.pack("<HHH", r, c, 0)
                    tail = struct.pack("<HIH", 0, 0, 0)  # grbit, chn, cce
                    if isinstance(cached, bool):
                        num = bytes([1, 0, int(cached), 0, 0, 0,
                                     0xFF, 0xFF])
                        out += rec(0x0006, base + num + tail)
                    elif isinstance(cached, (int, float)):
                        out += rec(0x0006, base
                                   + struct.pack("<d", float(cached)) + tail)
                    else:
                        num = bytes([0, 0, 0, 0, 0, 0, 0xFF, 0xFF])
                        out += rec(0x0006, base + num + tail)
                        enc = str(cached).encode("latin-1", errors="replace")
                        out += rec(0x0207, struct.pack(
                            "<HB", len(str(cached)), 0) + enc)
                elif isinstance(v, bool):
                    out += rec(0x0205, struct.pack("<HHHBB", r, c, 0,
                                                   int(v), 0))
                elif isinstance(v, (int, float)):
                    out += rec(0x0203, struct.pack("<HHHd", r, c, 0,
                                                   float(v)))
                else:
                    out += rec(0x00FD, struct.pack("<HHHI", r, c, 0,
                                                   index[str(v)]))
        return out + rec(0x000A, b"")

    subs = [sheet_substream(g) for g in sheets.values()]
    # globals: BOF + SST + one BOUNDSHEET per sheet (offsets backpatched)
    globals_head = bof(0x0005) + rec(0x00FC, sst_payload)
    bs_recs = []
    for name in sheets:
        enc = name.encode("latin-1", errors="replace")
        bs_recs.append(rec(0x0085, struct.pack("<IBBBB", 0, 0, 0,
                                               len(enc), 0) + enc))
    globals_blob = globals_head + b"".join(bs_recs) + rec(0x000A, b"")
    offsets, pos = [], len(globals_blob)
    for sub in subs:
        offsets.append(pos)
        pos += len(sub)
    fixed = globals_head
    for bs, off in zip(bs_recs, offsets):
        fixed += bs[:4] + struct.pack("<I", off) + bs[8:]
    workbook = fixed + rec(0x000A, b"") + b"".join(subs)
    if not in_ministream and len(workbook) < 4096:
        workbook += b"\x00" * (4096 - len(workbook))
    return _cfb_container("Workbook", workbook)


def make_doc(paragraphs: list[str], extra_text: str = "",
             which_table: int = 1, encrypted: bool = False,
             header: str | None = None, footer: str | None = None,
             footnotes: list[str] | None = None,
             comments: list[str] | None = None,
             table: list[list[str]] | None = None,
             tail: str = "") -> bytes:
    """Legacy DOC: real OLE2 container with a [MS-DOC] FIB + Clx/PlcPcd
    piece table. The text is split into a cp1252 ``fCompressed`` piece and
    a UTF-16 piece to exercise both encodings; ``extra_text`` occupies the
    cp range past every declared subdocument and must not be extracted.
    ``header``/``footer`` populate the ccpHdd range with a real PlcfHdd
    (six empty separator stories, then one section whose odd header/footer
    carry the text — [MS-DOC] 2.8.25 story order). A dummy Prc chunk
    precedes the Pcdt to exercise Clx skipping."""
    import struct
    text = ("\r".join(paragraphs) + "\r") if paragraphs else "\r"
    # table text model ([MS-DOC] 2.4.3): each cell ends with a cell mark
    # (0x07), each row with a row (TTP) mark — also 0x07, distinguished
    # only by the paragraph properties written below
    table_rows = table                               # stream var shadows below
    if table_rows:
        text += "".join(
            "".join(c + "\x07" for c in row) + "\x07" for row in table_rows)
    # ``tail``: main text past the final paragraph/cell mark (malformed
    # docs — Word always mark-terminates; exercises the tail strip path)
    text += tail

    def u16len_(s: str) -> int:
        return len(s.encode("utf-16-le")) // 2

    hdd_stories: list[str] = []
    if header is not None or footer is not None:
        hdd_stories = ([""] * 6                       # note separators
                       + ["", (header or "") and header + "\r",
                          "", (footer or "") and footer + "\r",
                          "", ""])
    hdd_text = "".join(hdd_stories)
    # footnote stories ([MS-DOC] 2.8.24): auto-number ref mark + text +
    # paragraph mark each, then the guard paragraph
    ftn_stories = ([f"\x02{fn}\r" for fn in footnotes] + ["\r"]
                   if footnotes else [])
    ftn_text = "".join(ftn_stories)
    # annotation (comment) stories: ref mark + text + paragraph mark + guard
    atn_stories = ([f"\x05{c}\r" for c in comments] + ["\r"]
                   if comments else [])
    atn_text = "".join(atn_stories)
    full = text + ftn_text + hdd_text + atn_text + extra_text
    # split as close to the midpoint as cp1252-encodability allows
    split = 0
    for i in range(len(full) // 2, -1, -1):
        try:
            full[:i].encode("cp1252")
            split = i
            break
        except UnicodeEncodeError:
            continue
    p1, p2 = full[:split], full[split:]

    wd = bytearray(0x600)                            # FIB zone
    struct.pack_into("<H", wd, 0, 0xA5EC)            # wIdent
    struct.pack_into("<H", wd, 2, 0x00C1)            # nFib (Word 97)
    flags = (0x0200 if which_table else 0) | (0x0100 if encrypted else 0)
    struct.pack_into("<H", wd, 0x0A, flags)          # fWhichTblStm/fEncrypted
    struct.pack_into("<H", wd, 0x20, 0x0E)           # csw
    struct.pack_into("<H", wd, 0x3E, 0x16)           # cslw

    def u16len(s: str) -> int:
        # [MS-DOC] CPs count UTF-16 CODE UNITS (astral chars = 2)
        return len(s.encode("utf-16-le")) // 2

    struct.pack_into("<i", wd, 0x4C, u16len(text))   # ccpText
    struct.pack_into("<i", wd, 0x50, u16len(ftn_text))   # ccpFtn
    struct.pack_into("<i", wd, 0x54, u16len(hdd_text))   # ccpHdd
    struct.pack_into("<i", wd, 0x58, 0)                  # ccpMcr
    struct.pack_into("<i", wd, 0x5C, u16len(atn_text))   # ccpAtn
    struct.pack_into("<H", wd, 0x98, 0x5D)           # cbRgFcLcb

    pieces: list[tuple[int, int]] = []               # (CP count, fc raw)
    if p1:
        off = len(wd)
        wd += p1.encode("cp1252")
        pieces.append((len(p1), (off * 2) | 0x40000000))
    if p2:
        if len(wd) % 2:
            wd += b"\x00"
        off = len(wd)
        wd += p2.encode("utf-16-le")
        pieces.append((u16len(p2), off))
    struct.pack_into("<I", wd, 0x40, len(wd))        # cbMac

    cps, total = [0], 0
    for count, _ in pieces:
        total += count
        cps.append(total)
    plc = struct.pack(f"<{len(cps)}I", *cps)
    for _, fc_raw in pieces:
        plc += struct.pack("<HIH", 0, fc_raw, 0)     # PCD
    clx = (b"\x01" + struct.pack("<h", 4) + b"\x00" * 4   # dummy Prc
           + b"\x02" + struct.pack("<I", len(plc)) + plc)
    table = b"\x00" * 32 + clx                       # fcClx = 32
    struct.pack_into("<II", wd, 0x1A2, 32, len(clx))
    if hdd_stories:
        hdd_cps, acc = [0], 0
        for story in hdd_stories:
            acc += u16len_(story)
            hdd_cps.append(acc)
        plcfhdd = struct.pack(f"<{len(hdd_cps)}I", *hdd_cps)
        struct.pack_into("<II", wd, 0xF2, len(table), len(plcfhdd))
        table += plcfhdd
    if ftn_stories:
        ftn_cps, acc = [0], 0
        for story in ftn_stories:
            acc += u16len_(story)
            ftn_cps.append(acc)
        plcffnd = struct.pack(f"<{len(ftn_cps)}I", *ftn_cps)
        struct.pack_into("<II", wd, 0xB2, len(table), len(plcffnd))
        table += plcffnd
    if atn_stories:
        atn_cps, acc = [0], 0
        for story in atn_stories:
            acc += u16len_(story)
            atn_cps.append(acc)
        plcfand = struct.pack(f"<{len(atn_cps)}I", *atn_cps)
        struct.pack_into("<II", wd, 0xC2, len(table), len(plcfand))
        table += plcfand

    if table_rows:
        # Real paragraph bin table: one FKP page whose runs cover every
        # main-text paragraph; table cell marks carry sprmPFInTable, row
        # marks sprmPFInTable + sprmPFTtp ([MS-DOC] 2.6.2, 2.9.175).
        def cp_to_fc(cp: int) -> int:
            for (cp0, cp1), (_cnt, fc_raw) in zip(
                    zip(cps, cps[1:]), pieces):
                if cp0 <= cp <= cp1:
                    if fc_raw & 0x40000000:
                        return (fc_raw & 0x3FFFFFFF) // 2 + (cp - cp0)
                    return fc_raw + 2 * (cp - cp0)
            raise ValueError(f"cp {cp} outside piece table")

        base = ("\r".join(paragraphs) + "\r") if paragraphs else "\r"
        base_units = u16len(base)
        mark_types: list[str] = []               # per table-region mark
        for row in table_rows:
            for c in row:
                assert not set(c) & set("\x07\x0c"), \
                    "cell text may not contain cell/page marks"
                # interior \r marks = multi-paragraph cell (fInTable, not
                # a cell boundary; the parser keys on the mark character)
                mark_types.extend(["cell"] * c.count("\r"))
                mark_types.append("cell")
            mark_types.append("row")

        marks: list[tuple[int, str]] = []        # (cp, papx kind)
        units = ti = 0
        for ch in text:
            if ch in "\r\x07\x0c":
                if units >= base_units:
                    marks.append((units, mark_types[ti]))
                    ti += 1
                else:
                    marks.append((units, "plain"))
            units += 2 if ord(ch) > 0xFFFF else 1

        crun = len(marks) + 1                    # + final catch-all run
        if 4 * (crun + 1) + 13 * crun > 489:
            raise ValueError("too many paragraphs for one FKP (fixture cap)")
        rgfc = ([cp_to_fc(0)] + [cp_to_fc(cp + 1) for cp, _ in marks]
                + [cp_to_fc(cps[-1])])
        page = bytearray(512)
        struct.pack_into(f"<{crun + 1}I", page, 0, *rgfc)
        CELL_OFF, ROW_OFF = 490, 500
        page[CELL_OFF:CELL_OFF + 6] = bytes(
            [3, 0, 0, 0x16, 0x24, 1])            # cb=3; istd; sprmPFInTable
        page[ROW_OFF:ROW_OFF + 10] = bytes(
            [0, 4, 0, 0, 0x16, 0x24, 1, 0x17, 0x24, 1])   # cb=0/cb'=4; +Ttp
        bx_base = 4 * (crun + 1)
        for i, (_cp, kind) in enumerate(marks):
            bx = (CELL_OFF // 2 if kind == "cell"
                  else ROW_OFF // 2 if kind == "row" else 0)
            page[bx_base + 13 * i] = bx
        page[511] = crun
        if len(wd) % 512:
            wd += b"\x00" * (512 - len(wd) % 512)
        pn = len(wd) // 512
        wd += page
        plcbte = struct.pack("<III", rgfc[0], rgfc[-1], pn)
        struct.pack_into("<II", wd, 0x102, len(table), len(plcbte))
        table += plcbte

    return make_ole({"WordDocument": bytes(wd),
                     "1Table" if which_table else "0Table": table})


def make_ppt(slides: list[dict]) -> bytes:
    """Legacy PPT: real OLE2 container + [MS-PPT] record stream. ``slides``
    entries are {"shapes": [str], "notes": [str], "textboxes": [str]} like
    make_pptx plus drawing-layer textboxes. Shape texts alternate
    TextCharsAtom (UTF-16) / TextBytesAtom (low-byte) to exercise both
    record types; \\n inside a shape becomes the \\r paragraph mark PPT
    stores. ``textboxes`` entries are written as real Escher layers — a
    Slide container with PPDrawing -> OfficeArtDg/Spgr/Sp containers whose
    OfficeArtClientTextbox holds the text atoms; each Slide also carries a
    placeholder Sp whose ClientTextbox only holds an OutlineTextRefAtom
    (its text lives in SlideListWithText and must not double-count)."""
    import struct

    def rec(ver_inst: int, rtype: int, payload: bytes) -> bytes:
        return struct.pack("<HHI", ver_inst, rtype, len(payload)) + payload

    def persist(i: int, ntext: int) -> bytes:
        return rec(0, 0x03F3,
                   struct.pack("<IIiiI", i + 1, 0, ntext, 256 + i, 0))

    def text_atoms(texts: list[str], base: int) -> bytes:
        out = b""
        for j, t in enumerate(texts):
            out += rec(0, 0x0F9F, struct.pack("<I", 1))   # TextHeaderAtom
            t_ppt = t.replace("\n", "\r")
            wide = (base + j) % 2 == 0
            if not wide:
                try:
                    out += rec(0, 0x0FA8, t_ppt.encode("latin-1"))
                    continue
                except UnicodeEncodeError:
                    pass
            out += rec(0, 0x0FA0, t_ppt.encode("utf-16-le"))
        return out

    slw0 = b"".join(
        persist(i, len(s.get("shapes", [])))
        + text_atoms(s.get("shapes", []), i)
        for i, s in enumerate(slides))
    slw2 = b"".join(
        persist(i, len(s.get("notes", [])))
        + text_atoms(s.get("notes", []), i + 1)
        for i, s in enumerate(slides))
    doc = rec(0x000F, 0x03E8,
              rec(0x000F, 0x0FF0, slw0)                   # instance 0
              + rec(0x000F | (2 << 4), 0x0FF0, slw2))     # instance 2

    def drawing_container(i: int, texts: list[str], rtype: int) -> bytes:
        # placeholder shape: ClientTextbox -> OutlineTextRefAtom only
        sp_list = rec(0x000F, 0xF004,
                      rec(0x000F, 0xF00D,
                          rec(0, 0x0F9E, struct.pack("<i", i))))
        for j, t in enumerate(texts):
            sp_list += rec(0x000F, 0xF004,
                           rec(0x000F, 0xF00D, text_atoms([t], i + j)))
        dg = rec(0x000F, 0xF002, rec(0x000F, 0xF003, sp_list))
        return rec(0x000F, rtype, rec(0x000F, 0x040C, dg))

    slide_recs = b"".join(
        drawing_container(i, s.get("textboxes", []), 0x03EE)
        for i, s in enumerate(slides))
    if any(s.get("notes_textboxes") for s in slides):
        slide_recs += b"".join(
            drawing_container(i, s.get("notes_textboxes", []), 0x03F0)
            for i, s in enumerate(slides))
    current_user = struct.pack("<I", 20) + b"\x00" * 20
    return make_ole({"Current User": current_user,
                     "PowerPoint Document": doc + slide_recs})


def make_ole(streams: dict[str, bytes]) -> bytes:
    """Multi-stream v3 CFB writer (512-byte sectors, 64-byte minisectors).
    Streams under the 4096 cutoff land in the ministream via miniFAT, as
    real writers do; larger ones get their own FAT chains. Directory
    sibling pointers form a simple right-chain off the root child."""
    import struct
    ENDOFCHAIN, FREESECT, FATSECT = 0xFFFFFFFE, 0xFFFFFFFF, 0xFFFFFFFD
    CUTOFF = 4096

    # ministream assembly (64-byte minisectors) + miniFAT chains
    ministream = bytearray()
    minifat: list[int] = []
    mini_start: dict[str, int] = {}
    for name, s in streams.items():
        if len(s) >= CUTOFF:
            continue
        if not s:
            mini_start[name] = ENDOFCHAIN
            continue
        first = len(ministream) // 64
        mini_start[name] = first
        ministream += s + b"\x00" * (-len(s) % 64)
        nsec = (len(s) + 63) // 64
        minifat += list(range(first + 1, first + nsec)) + [ENDOFCHAIN]
    minifat += [FREESECT] * (-len(minifat) % 128)

    n_entries = 1 + len(streams)
    n_dir = max(1, (n_entries * 128 + 511) // 512)
    n_mini_sec = (len(ministream) + 511) // 512
    n_minifat_sec = len(minifat) // 128
    big_nsec = {n: (len(s) + 511) // 512
                for n, s in streams.items() if len(s) >= CUTOFF}
    data_secs = n_dir + n_mini_sec + sum(big_nsec.values()) + n_minifat_sec
    n_fat = 1
    while n_fat * 128 < n_fat + data_secs:
        n_fat += 1

    # sector layout: [FAT...][directory][ministream][big streams][miniFAT]
    sid = n_fat
    first_dir = sid
    sid += n_dir
    first_mini = sid if n_mini_sec else ENDOFCHAIN
    sid += n_mini_sec
    big_first: dict[str, int] = {}
    for name in big_nsec:
        big_first[name] = sid
        sid += big_nsec[name]
    first_minifat = sid if n_minifat_sec else ENDOFCHAIN

    fat: list[int] = [FATSECT] * n_fat

    def chain(count: int):
        first = len(fat)
        fat.extend(first + i + 1 if i + 1 < count else ENDOFCHAIN
                   for i in range(count))

    chain(n_dir)
    if n_mini_sec:
        chain(n_mini_sec)
    for name in big_nsec:
        chain(big_nsec[name])
    if n_minifat_sec:
        chain(n_minifat_sec)
    fat += [FREESECT] * (n_fat * 128 - len(fat))

    def dir_entry(name: str, etype: int, start: int, size: int,
                  child: int = FREESECT, right: int = FREESECT) -> bytes:
        raw = name.encode("utf-16-le")
        return (raw + b"\x00" * (64 - len(raw))
                + struct.pack("<HBB", len(raw) + 2, etype,
                              1 if etype != 0 else 0)
                + struct.pack("<III", FREESECT, right, child)
                + b"\x00" * 16 + struct.pack("<I", 0) + b"\x00" * 16
                + struct.pack("<IQ", start, size))

    entries = [dir_entry("Root Entry", 5,
                         first_mini if n_mini_sec else ENDOFCHAIN,
                         len(ministream), child=1)]
    names = list(streams)
    for i, name in enumerate(names):
        s = streams[name]
        start = big_first[name] if len(s) >= CUTOFF else mini_start[name]
        right = i + 2 if i + 1 < len(names) else FREESECT
        entries.append(dir_entry(name, 2, start, len(s), right=right))
    directory = b"".join(entries)
    directory += b"\x00" * (-len(directory) % 512)

    difat = list(range(n_fat)) + [FREESECT] * (109 - n_fat)
    header = (b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1" + b"\x00" * 16
              + struct.pack("<HHHHH", 0x3E, 3, 0xFFFE, 9, 6)
              + b"\x00" * 6
              + struct.pack("<IIIII", 0, n_fat, first_dir, 0, CUTOFF)
              + struct.pack("<II", first_minifat, n_minifat_sec)
              + struct.pack("<II", ENDOFCHAIN, 0)
              + struct.pack("<109I", *difat))
    out = bytearray(header)
    for i in range(n_fat):
        out += struct.pack("<128I", *fat[i * 128:(i + 1) * 128])
    out += directory
    out += ministream + b"\x00" * (-len(ministream) % 512)
    for name in big_nsec:
        s = streams[name]
        out += s + b"\x00" * (-len(s) % 512)
    for i in range(n_minifat_sec):
        out += struct.pack("<128I", *minifat[i * 128:(i + 1) * 128])
    return bytes(out)


def _cfb_container(stream_name: str, stream: bytes) -> bytes:
    """Wrap one stream in a v3 CFB file (back-compat shim over make_ole)."""
    return make_ole({stream_name: stream})


_PAT251 = bytes(range(251))


def _cyc251(start: int, n: int) -> bytes:
    """``bytes(k % 251 for k in range(start, start + n))`` without the
    per-byte Python loop: consecutive indices mod 251 are just a slice
    of the repeating 0..250 pattern. The fixture rasters are all this
    pattern, so every writer builds them at C speed."""
    s = start % 251
    return (_PAT251 * ((s + n) // 251 + 1))[s:s + n]


def make_bmp(width: int, height: int) -> bytes:
    """Uncompressed 24-bit bottom-up BMP with deterministic pixel bytes."""
    import struct
    row = (3 * width + 3) // 4 * 4
    data_size = row * height
    header = b"BM" + struct.pack("<IHHI", 54 + data_size, 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0,
                      data_size, 2835, 2835, 0, 0)
    return header + dib + _cyc251(0, data_size)


_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


_PNG_ADAM7 = [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
              (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2)]


def make_png(width: int, height: int, color: int = 0,
             interlace: int = 0, depth: int = 8) -> bytes:
    """Valid PNG with real CRCs; IDAT deflate level 0 (stored
    blocks) so total size is closed-form for the default grayscale:
    8 + 25 + 12 + (height*(width+1) + 11) + 12 for height*(width+1) <=
    65535. ``color`` is the IHDR color type (0 grayscale, 2 RGB,
    3 palette — adds a deterministic 256-entry PLTE, 4 gray+alpha —
    the mode PIL reports as LA, which the reference's OCR mode
    whitelist rejects). ``interlace=1`` writes the raster as the seven
    Adam7 filtered sub-images. ``depth=16`` writes big-endian 16-bit
    samples whose HIGH byte is the 8-bit pattern (so the decoder's
    16->8 reduction reproduces the depth-8 raster exactly). Pixel bytes
    deterministic: the full raster is (y*width*ch + x) % 251 regardless
    of interlacing."""
    import struct
    import zlib

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data)))

    ihdr = struct.pack(">IIBBBBB", width, height, depth, color, 0, 0,
                       interlace)
    ch = _PNG_CHANNELS[color]
    stride = width * ch

    def px_row(y, xs=0, xstep=1):
        # one scanline of the (possibly sub-sampled) raster, filter 0
        if depth == 8 and xs == 0 and xstep == 1:
            # a full row is consecutive indices mod 251 — C-speed slice
            return b"\x00" + _cyc251(y * stride, stride)
        import numpy as np
        npx = (width - xs + xstep - 1) // xstep
        v = ((y * stride
              + (xs + np.arange(npx, dtype=np.int64) * xstep)[:, None] * ch
              + np.arange(ch, dtype=np.int64)[None, :]) % 251).ravel()
        if depth == 8:
            return b"\x00" + v.astype(np.uint8).tobytes()
        pair = np.empty(v.size * 2, dtype=np.uint8)
        pair[0::2] = v
        pair[1::2] = v * 7 % 253
        return b"\x00" + pair.tobytes()

    if interlace == 0:
        raw = b"".join(px_row(y) for y in range(height))
    else:
        parts = []
        for xs, ys, xstep, ystep in _PNG_ADAM7:
            pw = (width - xs + xstep - 1) // xstep
            ph = (height - ys + ystep - 1) // ystep
            if pw <= 0 or ph <= 0:
                continue
            parts += [px_row(ys + j * ystep, xs, xstep)
                      for j in range(ph)]
        raw = b"".join(parts)
    body = chunk(b"IHDR", ihdr)
    if color == 3:
        body += chunk(b"PLTE", bytes(
            b for i in range(256)
            for b in (i, i * 3 % 251, i * 7 % 253)))
    return (b"\x89PNG\r\n\x1a\n" + body
            + chunk(b"IDAT", zlib.compress(raw, 0)) + chunk(b"IEND", b""))


def make_jpeg(width: int, height: int, ncomp: int = 3) -> bytes:
    """Minimal SOF0-bearing JPEG (SOI + frame header + EOI): enough for
    magic sniff + dimension/mode decode; 14 + 3*ncomp bytes."""
    import struct
    sof = (b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * ncomp, 8,
                                     height, width, ncomp)
           + bytes(3 * ncomp))
    return b"\xff\xd8" + sof + b"\xff\xd9"


def make_tiff(width: int, height: int, samples: int = 1,
              big_endian: bool = False, raster: bool = False) -> bytes:
    """Minimal single-IFD TIFF: ImageWidth/ImageLength/SamplesPerPixel
    SHORT entries, no strip data; 50 bytes. ``raster=True`` writes a
    full baseline-uncompressed image instead: 8-bit samples
    (BitsPerSample goes through a value OFFSET when samples==3 — the
    three-SHORT case every RGB TIFF exercises), Compression=1,
    chunky planar, and the pixel data split across up-to-3 strips
    (RowsPerStrip = ceil(height/3)) with StripOffsets/StripByteCounts
    arrays. Deterministic pixels (y*width*samples + x*samples + c) %
    251 — the PNG/BMP fixture pattern family."""
    import struct
    bo = ">" if big_endian else "<"
    head = (b"MM\x00*" if big_endian else b"II*\x00") + struct.pack(bo + "I", 8)
    if not raster:
        entries = b"".join(
            struct.pack(bo + "HHIHH", tag, 3, 1, val, 0)
            for tag, val in ((256, width), (257, height), (277, samples))
        )
        return (head + struct.pack(bo + "H", 3) + entries
                + struct.pack(bo + "I", 0))

    rps = (height + 2) // 3
    strips = [(s, min(rps, height - s)) for s in range(0, height, rps)]
    n = len(strips)
    stride = width * samples
    n_entries = 9
    ifd_size = 2 + 12 * n_entries + 4
    ext = 8 + ifd_size                  # external arrays start here
    ext_blobs = []
    if samples == 3:                    # 3 SHORTs > 4 bytes -> offset
        bits_val, bits_count = ext, 3
        ext_blobs.append(struct.pack(bo + "HHH", 8, 8, 8))
        ext += 6
    else:
        bits_val, bits_count = 8, 1
    if n > 1:
        off_pos, cnt_pos = ext, ext + 4 * n
        data_start = cnt_pos + 4 * n
    else:
        data_start = ext
    offsets, counts, pos = [], [], data_start
    for _, rows in strips:
        offsets.append(pos)
        counts.append(rows * stride)
        pos += rows * stride
    if n > 1:
        ext_blobs.append(struct.pack(bo + "I" * n, *offsets))
        ext_blobs.append(struct.pack(bo + "I" * n, *counts))

    def entry(tag, typ, count, val):
        e = struct.pack(bo + "HHI", tag, typ, count)
        if typ == 3 and count == 1:
            return e + struct.pack(bo + "HH", val, 0)
        return e + struct.pack(bo + "I", val)

    entries = b"".join([
        entry(256, 3, 1, width),
        entry(257, 3, 1, height),
        entry(258, 3, bits_count, bits_val),
        entry(259, 3, 1, 1),            # uncompressed
        entry(262, 3, 1, 2 if samples == 3 else 1),
        entry(273, 4, n, offsets[0] if n == 1 else off_pos),
        entry(277, 3, 1, samples),
        entry(278, 3, 1, rps),
        entry(279, 4, n, counts[0] if n == 1 else cnt_pos),
    ])
    raw = _cyc251(0, height * stride)       # consecutive ks mod 251
    return (head + struct.pack(bo + "H", n_entries) + entries
            + struct.pack(bo + "I", 0) + b"".join(ext_blobs) + raw)


def make_webp_vp8x(width: int, height: int) -> bytes:
    """Minimal extended-format WEBP (VP8X chunk only): canvas size as
    24-bit LE minus-one fields; 30 bytes. PIL opens these (format WEBP),
    which the reference's OCR format whitelist rejects."""
    import struct
    body = (b"WEBPVP8X" + struct.pack("<I", 10) + b"\x00\x00\x00\x00"
            + (width - 1).to_bytes(3, "little")
            + (height - 1).to_bytes(3, "little"))
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _gif_lzw_encode(min_code: int, pixels: bytes) -> bytes:
    """GIF-variant LZW encode (GIF89a appendix F): LSB-first packing,
    width starts min_code+1 and bumps when the next free slot passes a
    power of two (one code LATER than the decoder's bump — the decoder
    table lags the encoder by exactly one entry), CLEAR+reset when the
    4096-entry table fills."""
    clear, end = 1 << min_code, (1 << min_code) + 1
    out = bytearray()
    bitbuf = nbits = 0
    width = min_code + 1

    def emit(code):
        nonlocal bitbuf, nbits
        bitbuf |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(bitbuf & 0xFF)
            bitbuf >>= 8
            nbits -= 8

    table = {bytes([i]): i for i in range(clear)}
    next_code = end + 1
    emit(clear)
    s = b""
    for px in pixels:
        c = bytes([px])
        if s + c in table:
            s += c
            continue
        emit(table[s])
        if next_code < 4096:
            table[s + c] = next_code
            next_code += 1
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        else:
            emit(clear)
            table = {bytes([i]): i for i in range(clear)}
            next_code = end + 1
            width = min_code + 1
        s = c
    if s:
        emit(table[s])
    emit(end)
    if nbits:
        out.append(bitbuf & 0xFF)
    return bytes(out)


_GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def make_gif(width: int, height: int, comment_len: int = 0,
             raster: bool = False, interlaced: bool = False,
             frames: int = 1, delay_cs: int = 0) -> bytes:
    """Minimal GIF89a: logical screen descriptor + optional comment
    extension (deterministic bytes) + trailer. Size = 14 + (4 +
    comment_len if comment_len else 0) for the default header-only
    form. ``raster=True`` appends a 128-color global palette +
    full-frame image descriptor(s) + REAL LZW-compressed index data
    (deterministic pixels idx(y,x) = (y*width+x) % 128), optionally in
    4-pass interlaced row order. ``frames`` > 1 repeats the full-frame
    image that many times as an animation; a Graphic Control Extension
    carrying ``delay_cs`` centiseconds precedes every frame whenever
    frames > 1 or delay_cs > 0, so total duration = frames * delay_cs
    cs (the spec-level sum decode_gif_animation computes)."""
    import struct
    gct_flag = 0x86 if raster else 0    # GCT present, 2<<6 = 128 colors
    out = b"GIF89a" + struct.pack("<HHBBB", width, height, gct_flag, 0, 0)
    if raster:
        out += bytes(b for i in range(128)
                     for b in (i * 2 % 251, i * 3 % 253, i * 5 % 241))
    if comment_len:
        out += (b"\x21\xfe" + bytes([comment_len])
                + bytes(i % 251 for i in range(comment_len)) + b"\x00")
    if raster:
        iflags = 0x40 if interlaced else 0
        n_px = width * height           # consecutive ks mod 128
        idx = (bytes(range(128)) * (n_px // 128 + 1))[:n_px]
        if interlaced:
            idx = b"".join(idx[y * width:(y + 1) * width]
                           for start, step in _GIF_INTERLACE_PASSES
                           for y in range(start, height, step))
        data = _gif_lzw_encode(7, idx)
        packed = b"\x07"
        for i in range(0, len(data), 255):
            chunk = data[i:i + 255]
            packed += bytes([len(chunk)]) + chunk
        packed += b"\x00"
        for _ in range(max(1, frames)):
            if frames > 1 or delay_cs:
                out += (b"\x21\xf9\x04\x00"
                        + struct.pack("<H", delay_cs) + b"\x00\x00")
            out += (b"\x2c" + struct.pack("<HHHHB", 0, 0, width, height,
                                          iflags) + packed)
    return out + b"\x3b"


def make_wav(n_samples: int, rate: int = 8000) -> bytes:
    """Mono 16-bit PCM WAV with deterministic sample bytes."""
    import struct
    data = bytes(i % 251 for i in range(n_samples * 2))
    return (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
        + b"data" + struct.pack("<I", len(data)) + data
    )


def make_ods(sheets: dict[str, list[list]],
             repeat_last: dict[str, int] | None = None,
             trailing_empty_cols: int = 0) -> bytes:
    """ODS spreadsheet: content.xml table:table per sheet. Strings become
    string cells (text:p), numbers float cells with office:value, bools
    boolean cells, None an empty cell. ``repeat_last[sheet]`` puts
    number-rows-repeated on that sheet's LAST row (repeat-expansion test);
    ``trailing_empty_cols`` appends a repeated empty cell to every row
    (the 16384-wide trailer real writers emit, which parsing must trim)."""
    table_ns = "urn:oasis:names:tc:opendocument:xmlns:table:1.0"
    office_ns = "urn:oasis:names:tc:opendocument:xmlns:office:1.0"
    text_ns = "urn:oasis:names:tc:opendocument:xmlns:text:1.0"

    def cell_xml(v) -> str:
        if v is None:
            return "<table:table-cell/>"
        if isinstance(v, bool):
            return ('<table:table-cell office:value-type="boolean" '
                    f'office:boolean-value="{"true" if v else "false"}"/>')
        if isinstance(v, (int, float)):
            return ('<table:table-cell office:value-type="float" '
                    f'office:value="{v}"/>')
        return ('<table:table-cell office:value-type="string">'
                f"<text:p>{v}</text:p></table:table-cell>")

    tables = []
    for name, grid in sheets.items():
        rows = []
        for i, row in enumerate(grid):
            cells = "".join(cell_xml(v) for v in row)
            if trailing_empty_cols:
                cells += ('<table:table-cell table:number-columns-repeated='
                          f'"{trailing_empty_cols}"/>')
            rep = ((repeat_last or {}).get(name, 1)
                   if i == len(grid) - 1 else 1)
            attr = (f' table:number-rows-repeated="{rep}"' if rep > 1 else "")
            rows.append(f"<table:table-row{attr}>{cells}</table:table-row>")
        tables.append(
            f'<table:table table:name="{name}">' + "".join(rows)
            + "</table:table>"
        )
    content = (
        f'<office:document-content xmlns:office="{office_ns}" '
        f'xmlns:table="{table_ns}" xmlns:text="{text_ns}">'
        "<office:body><office:spreadsheet>"
        + "".join(tables)
        + "</office:spreadsheet></office:body></office:document-content>"
    )
    return make_zip({
        "mimetype": "application/vnd.oasis.opendocument.spreadsheet",
        "content.xml": content,
    })


def make_odt(paragraphs: list[str]) -> bytes:
    t = "urn:oasis:names:tc:opendocument:xmlns:text:1.0"
    body = "".join(f"<text:p>{p}</text:p>" for p in paragraphs)
    return make_zip({
        "mimetype": "application/vnd.oasis.opendocument.text",
        "content.xml": (
            f'<office:document-content xmlns:office="o" xmlns:text="{t}">'
            f"<office:body>{body}</office:body></office:document-content>"
        ),
    })


def make_rar5(entries: dict[str, bytes], with_dir: str | None = None) -> bytes:
    """Real RAR5 container, STORE method (rarlab technote block layout:
    vint-framed Main/File/End headers; compression-info method bits 0).
    ``with_dir`` adds a directory entry (file flag 0x01) that the walk
    must skip. Read back by extractors.arclite.rar5_members (this writer
    exists because no stdlib or installed library writes RAR)."""
    import struct
    import zlib
    from .extractors.arclite import RAR5_SIG

    def vint(v: int) -> bytes:
        out = bytearray()
        while True:
            b = v & 0x7F
            v >>= 7
            if v:
                out.append(b | 0x80)
            else:
                out.append(b)
                return bytes(out)

    def block(htype: int, fields: bytes, data: bytes = b"",
              extra_flags: int = 0) -> bytes:
        hflags = extra_flags | (0x02 if data else 0)
        body = vint(htype) + vint(hflags)
        if data:
            body += vint(len(data))
        body += fields
        hdr = vint(len(body)) + body
        return struct.pack("<I", zlib.crc32(hdr)) + hdr + data

    out = bytearray(RAR5_SIG)
    out += block(1, vint(0))                         # main: archive flags 0
    if with_dir:
        name = with_dir.encode("utf-8")
        fields = (vint(0x01) + vint(0) + vint(0x10)  # dir flag, size, attrs
                  + vint(0) + vint(1) + vint(len(name)) + name)
        out += block(2, fields)
    for fname, data in entries.items():
        name = fname.encode("utf-8")
        fields = (vint(0) + vint(len(data)) + vint(0)  # flags, unpacked, attrs
                  + vint(0) + vint(1)                  # method=store, unix
                  + vint(len(name)) + name)
        out += block(2, fields, data)
    out += block(5, vint(0))                         # end of archive
    return bytes(out)


def make_7z(entries: dict[str, bytes], coder: str = "copy") -> bytes:
    """Real 7z container (7zFormat.txt): one folder per file, uncompressed
    kHeader property tree. ``coder``: "copy" (0x00 pass-through), "lzma2"
    (raw LZMA2 via stdlib lzma, 1 MiB dict), or the two-coder filter
    chains real 7-Zip emits — "delta-lzma2" (Delta dist 4 then LZMA2) and
    "bcj-lzma1" (BCJ x86 then LZMA1): the folder carries two coders with
    a bind pair feeding the compressor's output into the filter's input.
    Read back by extractors.arclite.sevenz_members."""
    import struct
    import zlib
    from .extractors.arclite import SEVENZ_SIG, write_num7 as num

    packed: list[bytes] = []
    folder_blobs: list[bytes] = []
    out_size_blobs: list[bytes] = []
    for data in entries.values():
        if coder == "lzma2":
            import lzma
            c = lzma.LZMACompressor(format=lzma.FORMAT_RAW, filters=[
                {"id": lzma.FILTER_LZMA2, "dict_size": 1 << 20}])
            packed.append(c.compress(data) + c.flush())
            # flags: id size 1 | has-props; prop 16 -> (2|0)<<(8+11) = 1 MiB
            folder_blobs.append(num(1) + b"\x21\x21" + num(1) + bytes([16]))
            out_size_blobs.append(num(len(data)))
        elif coder == "delta-lzma2":
            import lzma
            c = lzma.LZMACompressor(format=lzma.FORMAT_RAW, filters=[
                {"id": lzma.FILTER_DELTA, "dist": 4},
                {"id": lzma.FILTER_LZMA2, "dict_size": 1 << 20}])
            packed.append(c.compress(data) + c.flush())
            # coder0 = LZMA2 (consumes the packed stream), coder1 = Delta
            # (props: dist-1); bind pair (in 1 <- out 0): the filter
            # decodes the compressor's output. Folder output = coder1.
            folder_blobs.append(
                num(2)
                + b"\x21\x21" + num(1) + bytes([16])        # LZMA2
                + b"\x21\x03" + num(1) + bytes([3])         # Delta dist 4
                + num(1) + num(0))                          # bind pair
            out_size_blobs.append(num(len(data)) + num(len(data)))
        elif coder == "bcj-lzma1":
            import lzma
            c = lzma.LZMACompressor(format=lzma.FORMAT_RAW, filters=[
                {"id": lzma.FILTER_X86},
                {"id": lzma.FILTER_LZMA1, "dict_size": 1 << 20,
                 "lc": 3, "lp": 0, "pb": 2}])
            packed.append(c.compress(data) + c.flush())
            # lclppb byte = (pb*5+lp)*9+lc = 93; dict LE32
            lzma1_props = bytes([93]) + struct.pack("<I", 1 << 20)
            folder_blobs.append(
                num(2)
                + b"\x23\x03\x01\x01" + num(5) + lzma1_props  # LZMA1
                + b"\x04\x03\x03\x01\x03"                     # BCJ x86
                + num(1) + num(0))                            # bind pair
            out_size_blobs.append(num(len(data)) + num(len(data)))
        else:
            packed.append(data)
            folder_blobs.append(num(1) + b"\x01\x00")    # id size 1, Copy
            out_size_blobs.append(num(len(data)))
    n = len(entries)

    pack_info = (bytes([0x06]) + num(0) + num(n) + bytes([0x09])
                 + b"".join(num(len(p)) for p in packed) + bytes([0x00]))
    unpack_info = (bytes([0x07, 0x0B]) + num(n) + b"\x00"
                   + b"".join(folder_blobs)
                   + bytes([0x0C])
                   + b"".join(out_size_blobs)
                   + bytes([0x00]))
    streams = bytes([0x04]) + pack_info + unpack_info + bytes([0x00])

    names = b"".join(f.encode("utf-16-le") + b"\x00\x00" for f in entries)
    files_info = (bytes([0x05]) + num(n)
                  + bytes([0x11]) + num(1 + len(names)) + b"\x00" + names
                  + bytes([0x00]))
    header = bytes([0x01]) + streams + files_info + bytes([0x00])

    body = b"".join(packed)
    start = struct.pack("<QQI", len(body), len(header), zlib.crc32(header))
    return (SEVENZ_SIG + b"\x00\x04"
            + struct.pack("<I", zlib.crc32(start)) + start + body + header)


def make_warc(records: list[dict], gzip_members: bool = False,
              bare_lf: bool = False) -> bytes:
    """Deterministic WARC bytes (ISO 28500 shape, CommonCrawl packaging
    when ``gzip_members``). Each record dict:

    * ``type``: warcinfo/request/response/conversion/resource/metadata
    * ``uri``: WARC-Target-URI (optional)
    * ``body``: payload bytes (for ``response``, the HTTP body)
    * ``http_status``/``http_headers``: response-envelope fields
      (``response`` type only)
    * ``content_type``: the record Content-Type (direct-content types)
    * ``truncate_by``: drop this many payload bytes AFTER declaring the
      full Content-Length (framing-error fixture arm)

    WARC-Date and record ids are pinned so bytes are reproducible;
    ``bare_lf`` writes LF-only header blocks (tolerant-parser arm).
    """
    import gzip as _gzip
    import hashlib
    nl = b"\n" if bare_lf else b"\r\n"
    out = []
    for i, rec in enumerate(records):
        rtype = rec.get("type", "response")
        body = rec.get("body", b"")
        if isinstance(body, str):
            body = body.encode("utf-8")
        if rtype == "response":
            status = rec.get("http_status", 200)
            reason = {200: "OK", 301: "Moved Permanently",
                      404: "Not Found", 500: "Internal Server Error"}.get(
                          status, "Status")
            http = [f"HTTP/1.1 {status} {reason}".encode()]
            for k, v in (rec.get("http_headers") or {}).items():
                http.append(f"{k}: {v}".encode())
            http.append(f"Content-Length: {len(body)}".encode())
            payload = b"\r\n".join(http) + b"\r\n\r\n" + body
            ctype = "application/http; msgtype=response"
        else:
            payload = body
            ctype = rec.get("content_type",
                            "application/warc-fields"
                            if rtype == "warcinfo" else
                            "application/octet-stream")
        rid = hashlib.md5(f"{i}:{rec.get('uri', '')}".encode()).hexdigest()
        hdr = [b"WARC/1.0",
               f"WARC-Type: {rtype}".encode(),
               f"WARC-Record-ID: <urn:uuid:{rid}>".encode(),
               b"WARC-Date: 2024-01-01T00:00:00Z"]
        if rec.get("uri"):
            hdr.append(f"WARC-Target-URI: {rec['uri']}".encode())
        hdr.append(f"Content-Type: {ctype}".encode())
        hdr.append(f"Content-Length: {len(payload)}".encode())
        if rec.get("truncate_by"):
            payload = payload[:-rec["truncate_by"]]
        record = nl.join(hdr) + nl + nl + payload + nl + nl
        if gzip_members:
            record = _gzip.compress(record, mtime=0)
        out.append(record)
    return b"".join(out)


def make_flac(n_samples: int, rate: int = 44100) -> bytes:
    """Minimal valid FLAC container: magic + last-metadata STREAMINFO
    block (34 bytes) with the 20-bit rate / 3-bit channels / 36-bit
    total-samples packed field; no audio frames (header decode needs
    none). 42 bytes total."""
    packed = (rate << 44) | (0 << 41) | (15 << 36) | n_samples
    streaminfo = (struct.pack(">HH", 4096, 4096)
                  + b"\x00\x00\x00" * 2                  # min/max frame
                  + packed.to_bytes(8, "big")
                  + b"\x00" * 16)                        # md5 signature
    return b"fLaC" + b"\x80" + len(streaminfo).to_bytes(3, "big") + streaminfo


def make_mp3(n_frames: int, with_id3: bool = False,
             xing_frames: int | None = None,
             vbri_frames: int | None = None) -> bytes:
    """CBR MPEG1 Layer III stream at 128 kbps / 44100 Hz: each frame is
    144*128000/44100 = 417 bytes (no padding bit), header FF FB 90 00;
    optional empty ID3v2 envelope (10-byte header, syncsafe size 0).
    ``xing_frames`` plants a Xing VBR header in the first frame (after
    the 32-byte stereo side info: tag + flags bit 0 + frame count);
    ``vbri_frames`` plants the Fraunhofer VBRI twin (fixed 32 bytes
    after the frame header: tag, version, delay, quality, bytes,
    frames at tag+14)."""
    frame = b"\xff\xfb\x90\x00" + b"\x00" * 413
    first = frame
    if xing_frames is not None:
        b = bytearray(frame)
        b[36:40] = b"Xing"
        b[40:44] = (1).to_bytes(4, "big")           # FRAMES flag
        b[44:48] = xing_frames.to_bytes(4, "big")
        first = bytes(b)
    elif vbri_frames is not None:
        b = bytearray(frame)
        b[36:40] = b"VBRI"
        b[40:42] = (1).to_bytes(2, "big")           # version
        b[50:54] = vbri_frames.to_bytes(4, "big")
        first = bytes(b)
    head = b"ID3\x03\x00\x00\x00\x00\x00\x00" if with_id3 else b""
    if n_frames <= 0:
        return head                      # tag-only / empty stream
    return head + first + frame * (n_frames - 1)


def make_mp4(duration_units: int, timescale: int = 1000,
             width: int = 0, height: int = 0, v1: bool = False) -> bytes:
    """Minimal ISO-BMFF: ftyp + moov(mvhd [+ trak(tkhd) when dims
    given]). mvhd carries timescale/duration (v0 or v1 layout); tkhd
    carries 16.16-fixed presentation width/height. No media data —
    header decode needs none."""
    def box(btype: bytes, body: bytes) -> bytes:
        return struct.pack(">I", 8 + len(body)) + btype + body

    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 512))
    if v1:
        mvhd_body = (b"\x01\x00\x00\x00" + b"\x00" * 16
                     + struct.pack(">I", timescale)
                     + struct.pack(">Q", duration_units)
                     + b"\x00" * 80)
    else:
        mvhd_body = (b"\x00" * 4 + b"\x00" * 8
                     + struct.pack(">II", timescale, duration_units)
                     + b"\x00" * 80)
    moov_children = box(b"mvhd", mvhd_body)
    if width and height:
        tkhd_body = (b"\x00" * 4 + b"\x00" * 8
                     + struct.pack(">I", 1) + b"\x00" * 4
                     + struct.pack(">I", duration_units)
                     + b"\x00" * 52
                     + struct.pack(">II", width << 16, height << 16))
        moov_children += box(b"trak", box(b"tkhd", tkhd_body))
    return ftyp + box(b"moov", moov_children)


def make_webm(duration_ticks: int, scale: int = 1_000_000,
              width: int = 0, height: int = 0,
              streamed: bool = False) -> bytes:
    """Minimal WebM/Matroska: EBML header (DocType webm) + Segment >
    Info(TimecodeScale u32, Duration float64) [+ Tracks > TrackEntry >
    Video(PixelWidth/PixelHeight u16)]. Fixed-width integer encodings
    keep the container size closed-form: 41 bytes without dims, 58
    with. ``streamed`` writes the Segment with an UNKNOWN size (the
    1-byte all-ones vint streamed muxers emit, RFC 8794 §6.2)."""

    def el(eid: int, body: bytes) -> bytes:
        idb = eid.to_bytes((eid.bit_length() + 7) // 8, "big")
        assert len(body) <= 126
        return idb + bytes([0x80 | len(body)]) + body

    info = el(0x1549A966,
              el(0x2AD7B1, scale.to_bytes(4, "big"))
              + el(0x4489, struct.pack(">d", float(duration_ticks))))
    seg_body = info
    if width and height:
        video = el(0xE0, el(0xB0, width.to_bytes(2, "big"))
                   + el(0xBA, height.to_bytes(2, "big")))
        seg_body += el(0x1654AE6B, el(0xAE, video))
    head = el(0x1A45DFA3, el(0x4282, b"webm"))
    if streamed:
        return (head + (0x18538067).to_bytes(4, "big") + b"\xff"
                + seg_body)
    return head + el(0x18538067, seg_body)
