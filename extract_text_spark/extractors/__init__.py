"""Per-document extraction dispatch (the reference's S4 dispatch table,
app/extractors.py:167-221, re-expressed over payload-span kinds).

``extract_document`` is the single-process kernel: it consumes one document
row ``(doc_id, spans)`` from the input table and produces
``(status, out_spans)`` with the reference's per-format semantics. The Spark
pipeline runs this same kernel inside Arrow-batched ``mapInPandas``; the
test oracle runs it single-process — span-sequence equality between the two
validates every distributed mechanism (fan-out, salting,
checkpoint resume, batch boundaries) while per-format *semantics* are pinned
by hardcoded unit assertions mirroring the reference's own tests.

Input span kinds (FIXTURES.md): plain, source:<ext>, html, html_page,
html_main, markdown, json, xml, yaml, csv, rtf, sheet_part, docx_part,
pptx_part, odt_part, pdf_page, eml, msg, epub_member, archive_member, media.

Byte-transport convention: kinds ``plain``, ``source:*``, ``eml``, ``msg``
carry raw bytes latin-1-decoded in ``text`` (lossless); all other kinds
carry utf-8 text directly.
"""

from __future__ import annotations

import json

from ..config import MAX_FILE_SIZE
from .docparts import extract_docx, extract_odt, extract_pptx
from .email_msg import extract_eml, extract_msg
from .encodings import bytes_from_payload
from .epub import epub_members_budget, extract_epub_doc, extract_epub_member
from .html import extract_main_content, strip_html
from .markdown import md_to_text
from .pdf_layout import extract_pdf_page, page_marker
from .plain import extract_plain, extract_source_code
from .rtf import rtf_to_text
from .structured import (
    extract_csv,
    extract_json,
    extract_sheets,
    extract_xml,
    extract_yaml,
)

# Output kind per input kind (default "text").
_OUT_KIND = {
    "csv": "table",
    "sheet_part": "table",
}

def _filename_for(doc_id: str, ext: str) -> str:
    """Source-code header filename convention: last doc_id path segment."""
    return f"{doc_id.rsplit('/', 1)[-1]}.{ext}"


def extract_payload(kind: str, text: str, doc_id: str) -> str | None:
    """Dispatch one payload span -> extracted text (None = drop span).

    Raises ValueError("Unsupported file format: ...") for unknown kinds,
    mirroring app/extractors.py:189.
    """
    if kind == "plain":
        return extract_plain(bytes_from_payload(text))
    if kind.startswith("source:"):
        ext = kind.split(":", 1)[1]
        return extract_source_code(
            bytes_from_payload(text), ext, _filename_for(doc_id, ext)
        )
    if kind == "html":
        return strip_html(text, mode="file")
    if kind == "html_page":
        return strip_html(text, mode="page")
    if kind == "html_main":
        return extract_main_content(text)
    if kind == "markdown":
        return md_to_text(text)
    if kind == "json":
        return extract_json(text)
    if kind == "xml":
        return extract_xml(text)
    if kind == "yaml":
        return extract_yaml(text)
    if kind == "csv":
        return extract_csv(text)
    if kind == "rtf":
        return rtf_to_text(text)
    if kind == "sheet_part":
        return extract_sheets(text)
    if kind == "docx_part":
        return extract_docx(text)
    if kind == "pptx_part":
        return extract_pptx(text)
    if kind == "odt_part":
        return extract_odt(text)
    if kind == "eml":
        return extract_eml(bytes_from_payload(text))
    if kind == "msg":
        return extract_msg(bytes_from_payload(text))
    if kind == "epub_member":
        return extract_epub_member(text)
    if kind == "epub":
        return extract_epub_doc(text)
    if kind == "pdf":
        # whole-doc composite (archive-member PDFs): pages joined "\n\n"
        # like the reference's single-string _extract_from_pdf_sync output.
        pages = json.loads(text)["pages"]
        parts = []
        for payload in pages:
            page_no, page_text = extract_pdf_page(payload)
            if page_text:
                parts.append(page_marker(page_no, page_text))
        return "\n\n".join(parts) if parts else None
    raise ValueError(f"Unsupported file format: {kind}")


def extract_document(doc_id: str, spans: list[dict]) -> tuple[str, list[dict]]:
    """One document -> (status, ordered output spans).

    Output spans: dicts (kind in {text,heading,table,code,media}, text,
    media_ref, offset 0..n-1). Media spans pass through in place —
    page-text-first / images-after interleaving is preserved because input
    order is preserved (app/extractors.py:249-262 normative ordering).
    Statuses: ok | empty | error: <message>.
    """
    spans = sorted(spans, key=lambda s: s["offset"])
    if not spans or all(
        (s.get("text") is None or s["text"] == "") and s["kind"] != "media"
        for s in spans
    ):
        return "empty", []

    # EPUB cumulative-size budget across the doc's epub_member spans.
    epub_sizes = [
        json.loads(s["text"]).get("size", len(s["text"]))
        for s in spans
        if s["kind"] == "epub_member"
    ]
    epub_keep = epub_members_budget(epub_sizes) if epub_sizes else 0

    out: list[dict] = []
    epub_seen = 0
    try:
        for s in spans:
            kind, text = s["kind"], s.get("text")
            if kind == "media":
                out.append(
                    {"kind": "media", "text": None,
                     "media_ref": s.get("media_ref"), "offset": 0}
                )
                continue
            if kind == "archive_member":
                # Fan-out happens upstream (pipeline); leftovers mean the
                # nesting cap was exceeded — the reference skips them.
                continue
            if text is None:
                continue
            if len(text) > MAX_FILE_SIZE:
                return "error: File too large", []
            if kind == "epub_member":
                epub_seen += 1
                if epub_seen > epub_keep:
                    continue
            if kind == "pdf_page":
                page_no, page_text = extract_pdf_page(text)
                if page_text:
                    out.append(
                        {"kind": "text", "text": page_marker(page_no, page_text),
                         "media_ref": None, "offset": 0}
                    )
                continue
            extracted = extract_payload(kind, text, doc_id)
            if extracted is None:
                continue
            out_kind = "code" if kind.startswith("source:") else _OUT_KIND.get(kind, "text")
            out.append(
                {"kind": out_kind, "text": extracted, "media_ref": None, "offset": 0}
            )
    except ValueError as exc:
        return f"error: {exc}", []
    except Exception as exc:  # fail-closed per doc, like the per-file 4xx
        return f"error: {type(exc).__name__}: {exc}", []

    for i, span in enumerate(out):
        span["offset"] = i
    if not out:
        return "empty", []
    return "ok", out
