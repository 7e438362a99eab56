"""E1 front half: real PDF bytes -> the pre-parsed ``pdf_page`` payloads.

The reference extracts per-page text with pdfplumber
(app/extractors.py:223-276); binary PDF parsing was a declared round-1
scope cut. This module closes the common subset from scratch with stdlib
only: classic xref-table AND modern (PDF >= 1.5) xref-stream/object-stream
files, content streams raw or FlateDecode (zlib, PNG predictors 10-15),
text drawn with Tj/TJ/' operators. Each page becomes the block payload
``{"page_no": n, "blocks": [{"bbox": [...], "text": ...}]}`` that
extractors/pdf_layout.py already consumes — so real PDF bytes ride the
pinned X-Y-cut reading-order path and the ``[Page n]`` markers
unchanged.

Object resolution is by LINEAR RECONSTRUCTION, not xref offsets: every
top-level ``N G obj .. endobj`` is scanned (later occurrences win, which
matches incremental-update semantics where appended generations
supersede), then every /Type /ObjStm stream is decompressed and its
compressed objects added — the form modern writers put the Catalog, page
tree and font dicts in. This is the strategy of PDF repair tools (and
pdfplumber's fallback): it reads damaged/truncated-xref files the offset
path would reject, and never trusts an offset table that can lie.

Out of subset (raises ValueError like the reference's per-file error):
encrypted PDFs, exotic filters (DCT/LZW/ASCII85), Type0 CID text.
Coordinates: PDF user space is bottom-left y-up; block bboxes are
converted to the top-left y-down space pdf_layout expects using the page
MediaBox height.
"""

from __future__ import annotations

import json
import re
import zlib

_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj(.*?)endobj", re.DOTALL)
_REF_RE = re.compile(rb"(\d+)\s+\d+\s+R")
_NUM = rb"[+-]?\d+(?:\.\d+)?"
# one text-showing statement: optional positioning, then a string operator
_TD_RE = re.compile(rb"(" + _NUM + rb")\s+(" + _NUM + rb")\s+Td")
_TF_RE = re.compile(rb"/\S+\s+(" + _NUM + rb")\s+Tf")
# one alternation so Tj and TJ statements emit in STREAM order
_SHOW_RE = re.compile(
    rb"\(((?:\\.|[^()\\])*)\)\s*(?:Tj|')"
    rb"|\[((?:\\.|[^\]\\])*)\]\s*TJ",
    re.DOTALL)
_STR_RE = re.compile(rb"\(((?:\\.|[^()\\])*)\)")

_ESCAPES = {b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b",
            b"f": b"\f", b"(": b"(", b")": b")", b"\\": b"\\"}


def _unescape(raw: bytes) -> str:
    """PDF string unescape (PDF 32000-1 §7.3.4.2): named escapes, up to 3
    OCTAL digits (\\8 and \\9 are NOT octal — the backslash is simply
    dropped and the digit kept, like any unrecognized escape)."""
    out = bytearray()
    i = 0
    while i < len(raw):
        c = raw[i:i + 1]
        if c == b"\\" and i + 1 < len(raw):
            nxt = raw[i + 1:i + 2]
            if nxt in _ESCAPES:
                out += _ESCAPES[nxt]
                i += 2
                continue
            if nxt in b"01234567":  # octal \d, \dd, \ddd
                j = 1
                while j <= 3 and raw[i + j:i + j + 1] in b"01234567":
                    j += 1
                out.append(int(raw[i + 1:i + j], 8) & 0xFF)
                i += j
                continue
            out += nxt  # unknown escape: backslash dropped, char kept
            i += 2
            continue
        out += c
        i += 1
    return out.decode("latin-1")


def _parse_objects(content: bytes) -> tuple[dict[int, bytes], dict[int, int]]:
    """Linear scan -> (bodies, file offset of each winning definition).

    Later occurrences win within the scan (incremental updates append), and
    the offsets let ObjStm expansion apply the same rule across storage
    forms: a member of an ObjStm that appears later in the file supersedes
    an earlier top-level body of the same number."""
    objs: dict[int, bytes] = {}
    offs: dict[int, int] = {}
    for m in _OBJ_RE.finditer(content):
        num = int(m.group(1))
        objs[num] = m.group(3)
        offs[num] = m.start()
    if not objs:
        raise ValueError("no PDF objects found")
    return objs, offs


def _dict_part(body: bytes) -> bytes:
    s = body.find(b"stream")
    return body[:s] if s != -1 else body


def _png_unpredict(data: bytes, columns: int) -> bytes:
    """Reverse PNG row filters (predictors 10-15; RFC 2083 §6): each row is
    one filter-type byte + ``columns`` bytes, bpp=1 (PDF streams use
    Colors=1, BitsPerComponent=8 in practice)."""
    row_len = columns + 1
    out = bytearray()
    prev = bytearray(columns)
    for r in range(0, len(data) - row_len + 1, row_len):
        ft = data[r]
        row = bytearray(data[r + 1:r + row_len])
        for i in range(columns):
            left = row[i - 1] if i else 0
            up = prev[i]
            ul = prev[i - 1] if i else 0
            if ft == 1:
                row[i] = (row[i] + left) & 0xFF
            elif ft == 2:
                row[i] = (row[i] + up) & 0xFF
            elif ft == 3:
                row[i] = (row[i] + (left + up) // 2) & 0xFF
            elif ft == 4:
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = left if pa <= pb and pa <= pc else (
                    up if pb <= pc else ul)
                row[i] = (row[i] + pred) & 0xFF
        out += row
        prev = row
    return bytes(out)


def _stream_data(body: bytes, objs: dict[int, bytes] | None = None) -> bytes | None:
    """Slice stream payload by the declared /Length when present — a
    delimiter regex is wrong whenever compressed data itself ends in CR
    (the optional ``\\r`` before ``\\nendstream`` would swallow it).
    /Length given as an indirect reference (the common form when the
    writer streams output and backpatches) is resolved through ``objs``.
    FlateDecode is inflated; PNG predictors (/DecodeParms /Predictor >= 10,
    standard on xref streams) are reversed."""
    s = body.find(b"stream")
    if s == -1:
        return None
    start = s + len(b"stream")
    if body[start:start + 2] == b"\r\n":
        start += 2
    elif body[start:start + 1] in (b"\n", b"\r"):
        start += 1
    head = _dict_part(body)
    length = None
    ln = re.search(rb"/Length\s+(\d+)(\s+\d+\s+R)?", head)
    if ln:
        if ln.group(2):
            ref = (objs or {}).get(int(ln.group(1)))
            if ref is not None:
                length = int(ref.strip())
        else:
            length = int(ln.group(1))
    if length is not None:
        data = body[start:start + length]
    else:
        end = body.rfind(b"endstream")
        if end == -1:
            return None
        data = body[start:end]
        if data.endswith(b"\n"):
            data = data[:-1]
        if data.endswith(b"\r"):
            data = data[:-1]
    if b"/FlateDecode" in head:
        data = zlib.decompress(data)
        pred = re.search(rb"/Predictor\s+(\d+)", head)
        if pred and int(pred.group(1)) >= 10:
            cols = re.search(rb"/Columns\s+(\d+)", head)
            data = _png_unpredict(data, int(cols.group(1)) if cols else 1)
        elif pred and int(pred.group(1)) != 1:
            raise ValueError(
                f"unsupported stream predictor {int(pred.group(1))}")
    return data


def _expand_object_streams(objs: dict[int, bytes],
                           offs: dict[int, int]) -> None:
    """Add objects stored inside /Type /ObjStm streams (PDF >= 1.5).

    Modern writers compress the Catalog / page tree / resource dicts into
    object streams; a linear top-level scan alone would find only the
    content streams and fail at 'no /Catalog'. The stream layout (ISO
    32000-1 §7.5.7): /N pairs of ``objnum offset`` ints, then the object
    bodies at /First + offset. Number collisions follow the same
    later-file-offset-wins rule as the top-level scan: a member inherits
    its containing stream's offset, so an incremental update's ObjStm
    supersedes an older top-level body and vice versa (single-generation
    files never collide)."""
    for num in sorted(objs, key=lambda n: offs.get(n, -1)):
        body = objs[num]
        head = _dict_part(body)
        if b"/ObjStm" not in head:
            continue
        data = _stream_data(body, objs)
        if data is None:
            continue
        n_m = re.search(rb"/N\s+(\d+)", head)
        first_m = re.search(rb"/First\s+(\d+)", head)
        if not n_m or not first_m:
            raise ValueError("object stream missing /N or /First")
        n, first = int(n_m.group(1)), int(first_m.group(1))
        header = data[:first].split()
        if len(header) < 2 * n:
            raise ValueError("object stream header shorter than /N pairs")
        nums = [int(x) for x in header[0:2 * n:2]]
        m_offs = [int(x) for x in header[1:2 * n:2]]
        stream_off = offs.get(num, -1)
        for i, (onum, m_off) in enumerate(zip(nums, m_offs)):
            end = first + m_offs[i + 1] if i + 1 < n else len(data)
            if onum not in objs or offs.get(onum, -1) < stream_off:
                objs[onum] = data[first + m_off:end]
                offs[onum] = stream_off


def _find_pages(objs: dict[int, bytes]) -> list[int]:
    """Walk Catalog -> Pages -> Kids in order (nested Pages supported)."""
    root = None
    for num, body in objs.items():
        if b"/Type" in body and b"/Catalog" in body:
            m = re.search(rb"/Pages\s+(\d+)\s+\d+\s+R", body)
            if m:
                root = int(m.group(1))
                break
    if root is None:
        raise ValueError("no /Catalog with /Pages")

    pages: list[int] = []

    def walk(num: int):
        body = objs.get(num, b"")
        if b"/Kids" in body:
            m = re.search(rb"/Kids\s*\[(.*?)\]", body, re.DOTALL)
            if m:
                for ref in _REF_RE.finditer(m.group(1)):
                    walk(int(ref.group(1)))
        elif b"/Page" in body:
            pages.append(num)

    walk(root)
    if not pages:
        raise ValueError("empty page tree")
    return pages


def _media_height(body: bytes) -> float:
    m = re.search(rb"/MediaBox\s*\[\s*" + _NUM + rb"\s+" + _NUM
                  + rb"\s+" + _NUM + rb"\s+(" + _NUM + rb")", body)
    return float(m.group(1)) if m else 792.0


def _content_blocks(data: bytes, page_h: float) -> list[dict]:
    """BT..ET text objects -> layout blocks in top-left y-down space.

    Within a text object: Td moves the pen (first Td anchors the block),
    Tf sets the size (block height), each Tj/'/TJ adds a line. Width is a
    deterministic monospace estimate — pdf_layout only needs relative
    extents for its whitespace-valley cuts."""
    blocks = []
    for bt in re.finditer(rb"BT(.*?)ET", data, re.DOTALL):
        seg = bt.group(1)
        td = _TD_RE.search(seg)
        tf = _TF_RE.search(seg)
        x = float(td.group(1)) if td else 0.0
        y = float(td.group(2)) if td else 0.0
        size = float(tf.group(1)) if tf else 12.0
        lines = []
        for m in _SHOW_RE.finditer(seg):
            if m.group(1) is not None:
                lines.append(_unescape(m.group(1)))
            else:
                lines.append("".join(
                    _unescape(s.group(1))
                    for s in _STR_RE.finditer(m.group(2))))
        text = "\n".join(line for line in lines if line)
        if not text:
            continue
        n_lines = text.count("\n") + 1
        width = 0.5 * size * max(len(line) for line in text.split("\n"))
        top = page_h - y - size  # baseline -> top edge, y flipped
        blocks.append({
            "bbox": [x, top, x + width, top + n_lines * size * 1.2],
            "text": text,
        })
    return blocks


def pdf_pages_from_bytes(content: bytes) -> list[str]:
    """PDF bytes -> one pdf_page JSON payload per page, page-tree order."""
    if not content.startswith(b"%PDF"):
        raise ValueError("not a PDF (missing %PDF header)")
    if b"/Encrypt" in content:
        raise ValueError("encrypted PDF not supported")
    objs, offs = _parse_objects(content)
    _expand_object_streams(objs, offs)
    payloads = []
    for page_no, num in enumerate(_find_pages(objs), 1):
        body = objs[num]
        page_h = _media_height(body)
        blocks: list[dict] = []
        m = re.search(rb"/Contents\s+(\d+)\s+\d+\s+R", body)
        refs = [int(m.group(1))] if m else []
        if not refs:
            arr = re.search(rb"/Contents\s*\[(.*?)\]", body, re.DOTALL)
            if arr:
                refs = [int(r.group(1)) for r in _REF_RE.finditer(arr.group(1))]
        for ref in refs:
            data = _stream_data(objs.get(ref, b""), objs)
            if data:
                blocks.extend(_content_blocks(data, page_h))
        payloads.append(json.dumps({"page_no": page_no, "blocks": blocks}))
    return payloads
