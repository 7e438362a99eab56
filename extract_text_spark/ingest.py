"""S1-S7 byte ingestion: raw file bytes -> span-model documents.

This is the missing front half of the engine (VERDICT r01 #2/#3): a user
points the pipeline at actual file bytes — ``(doc_id, filename, content:
binary)`` rows — and this module parses the *real* containers:

* **archives** — zip via stdlib ``zipfile``, the tar family via ``tarfile``
  (``r:*`` transparently handles gz/bz2/xz, and rejects bare non-tar
  streams exactly like the reference's ``tarfile.open(..., "r:*")`` does),
  rar/7z via the vendored readers in extractors.arclite (stored-method
  RAR5; the 7z coder subset listed there). Members become the
  ``archive_member`` span model the existing single-scan JVM fan-out
  consumes (pipeline.explode_archives_df), so the distributed
  fan-out/sanitize/filter/bomb machinery is unchanged.
  Reference loops: app/extractors.py:1575-1959.
* **zip-of-XML documents** — docx/xlsx/pptx/odt/epub parsed by
  extractors.ooxml into the pinned part-payload models.
* **text formats** — transported to the extraction kernel with the
  reference's decode convention: txt/source/eml/msg as raw bytes
  (latin-1 transport, the kernel applies the E9 chain);
  html/md/json/xml/yaml/rtf as ``utf-8 errors=replace``
  (app/extractors.py:905-1070); csv strict utf-8 (pandas default).
* **images** — ``media`` spans (payload bytes live in the multimodal
  table; OCR is the reference's Tesseract subprocess, out of scope).

Plus the ingress gates:

* ``sanitize_filename`` — S1 (app/utils.py:111-145).
* ``get_file_extension`` — S5 (app/utils.py:55-69).
* ``validate_file_type`` — S6 fail-closed extension<->MIME cross-check
  (app/utils.py:148-356) over a deterministic from-scratch content sniffer
  (``sniff_content_mime``) standing in for libmagic.
* ``check_mime_type`` — S7 soft 14-signature sniff
  (app/extractors.py:1520-1573).

The kernel runs via Arrow ``mapInPandas`` once per input row; fan-out and
all guards stay JVM-side downstream.
"""

from __future__ import annotations

import io
import json
import mimetypes
import tarfile
import zipfile
from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql.types import StringType, StructField, StructType

from .config import MAX_ARCHIVE_NESTING, MAX_ARCHIVE_SIZE, MAX_EXTRACTED_SIZE
from .extractors.arclite import rar5_members, sevenz_members
from .extractors.archive import is_system_file, sanitize_archive_filename
from .extractors.ooxml import (
    docx_payload_from_bytes,
    epub_payload_from_bytes,
    ods_payload_from_bytes,
    odt_payload_from_bytes,
    pptx_payload_from_bytes,
    xlsx_payload_from_bytes,
)
from .pipeline import SPANS_TYPE

if TYPE_CHECKING:
    import pandas as pd


# ---------------------------------------------------------------------------
# S5: extension inference (app/utils.py:55-69)
# ---------------------------------------------------------------------------

def get_file_extension(filename: str) -> str | None:
    if not filename or "." not in filename:
        return None
    lower = filename.lower()
    if lower.endswith(".tar.gz") or lower.endswith(".tgz"):
        return "tar.gz"
    if lower.endswith(".tar.bz2") or lower.endswith(".tbz2"):
        return "tar.bz2"
    if lower.endswith(".tar.xz") or lower.endswith(".txz"):
        return "tar.xz"
    return filename.split(".")[-1].lower()


# SUPPORTED_FORMATS, verbatim from the reference (app/config.py:126-268).
ARCHIVE_EXTS = {
    "zip", "rar", "7z", "tar", "gz", "bz2", "xz",
    "tgz", "tbz2", "txz", "tar.gz", "tar.bz2", "tar.xz",
}
IMAGE_EXTS = {"jpg", "jpeg", "png", "tiff", "tif", "bmp", "gif", "webp"}
SOURCE_EXTS = {
    "py", "pyx", "pyi", "pyw", "js", "jsx", "ts", "tsx", "mjs", "cjs",
    "java", "jav", "c", "cpp", "cxx", "cc", "c++", "h", "hpp", "hxx", "h++",
    "cs", "csx", "php", "php3", "php4", "php5", "phtml", "rb", "rbw", "rake",
    "gemspec", "go", "mod", "sum", "rs", "rlib", "swift", "kt", "kts",
    "scala", "sc", "r", "rmd", "sql", "ddl", "dml", "sh", "bash", "zsh",
    "fish", "ksh", "csh", "tcsh", "ps1", "psm1", "psd1", "pl", "pm", "pod",
    "t", "lua", "bsl", "os", "ini", "cfg", "conf", "config", "toml",
    "properties", "css", "scss", "sass", "less", "styl", "tex", "latex",
    "rst", "adoc", "asciidoc", "jsonl", "ndjson", "jsonc", "dockerfile",
    "containerfile", "makefile", "mk", "mak", "gitignore", "gitattributes",
    "gitmodules",
}
_TEXT_KIND_BY_EXT = {
    "html": "html", "htm": "html", "md": "markdown", "markdown": "markdown",
    "json": "json", "xml": "xml", "yaml": "yaml", "yml": "yaml", "rtf": "rtf",
}
_BYTE_KIND_BY_EXT = {"txt": "plain", "eml": "eml", "msg": "msg"}
_ZIPXML_EXTS = {"docx", "xlsx", "pptx", "odt", "ods", "epub"}
SUPPORTED_EXTS = (
    ARCHIVE_EXTS | IMAGE_EXTS | SOURCE_EXTS | _ZIPXML_EXTS
    | set(_TEXT_KIND_BY_EXT) | set(_BYTE_KIND_BY_EXT)
    | {"csv", "pdf", "xls", "doc", "ppt"}
)


def is_archive_name(filename: str) -> bool:
    ext = get_file_extension(filename)
    return ext in ARCHIVE_EXTS if ext else False


def is_supported_name(filename: str) -> bool:
    ext = get_file_extension(filename)
    return ext in SUPPORTED_EXTS if ext else False


# ---------------------------------------------------------------------------
# S1: upload-time filename sanitization (app/utils.py:111-145)
# ---------------------------------------------------------------------------

_DANGEROUS_CHARS = ["<", ">", ":", '"', "|", "?", "*", "\0"]


def sanitize_filename(filename: str) -> str:
    if not filename:
        return "unknown_file"
    filename = filename.replace("..", "").replace("/", "").replace("\\", "")
    for char in _DANGEROUS_CHARS:
        filename = filename.replace(char, "")
    filename = "".join(char for char in filename if ord(char) >= 32)
    filename = filename.strip(" .")
    if not filename:
        return "sanitized_file"
    if len(filename) > 255:
        dot = filename.rfind(".")
        name, ext = (filename[:dot], filename[dot:]) if dot > 0 else (filename, "")
        filename = name[: 255 - len(ext)] + ext
    return filename


# ---------------------------------------------------------------------------
# Content MIME sniffing (libmagic stand-in, deterministic)
# ---------------------------------------------------------------------------

def _zip_mime(content: bytes) -> str:
    """Classify a zip container by its members, as libmagic does."""
    try:
        with zipfile.ZipFile(io.BytesIO(content)) as zf:
            names = set(zf.namelist())
            if "mimetype" in names:
                declared = zf.read("mimetype").decode("ascii", "replace").strip()
                if declared:
                    return declared
            if "[Content_Types].xml" in names:
                if any(n.startswith("word/") for n in names):
                    return ("application/vnd.openxmlformats-officedocument"
                            ".wordprocessingml.document")
                if any(n.startswith("xl/") for n in names):
                    return ("application/vnd.openxmlformats-officedocument"
                            ".spreadsheetml.sheet")
                if any(n.startswith("ppt/") for n in names):
                    return ("application/vnd.openxmlformats-officedocument"
                            ".presentationml.presentation")
    except Exception:
        pass
    return "application/zip"


def _ole_mime(content: bytes) -> str:
    """Classify an OLE2 container by its directory names, as libmagic
    does: the D0CF11E0 magic is shared by doc/xls/ppt/msg."""
    from .extractors.olexls import cfb_directory_names
    names = set(cfb_directory_names(content))
    if names & {"Workbook", "Book"}:
        return "application/vnd.ms-excel"
    if "PowerPoint Document" in names:
        return "application/vnd.ms-powerpoint"
    if any(n.startswith("__properties_version") or n.startswith("__substg")
           for n in names):
        return "application/vnd.ms-outlook"
    return "application/msword"


_BINARY_SIGS: list[tuple[bytes, str]] = [
    (b"%PDF", "application/pdf"),
    (b"\x1f\x8b", "application/gzip"),
    (b"BZh", "application/x-bzip2"),
    (b"\xfd7zXZ\x00", "application/x-xz"),
    (b"Rar!\x1a\x07", "application/vnd.rar"),
    (b"7z\xbc\xaf\x27\x1c", "application/x-7z-compressed"),
    (b"\xff\xd8\xff", "image/jpeg"),
    (b"\x89PNG\r\n\x1a\n", "image/png"),
    (b"GIF87a", "image/gif"),
    (b"GIF89a", "image/gif"),
    (b"II*\x00", "image/tiff"),
    (b"MM\x00*", "image/tiff"),
]


def sniff_content_mime(content: bytes) -> str:
    """Deterministic content-MIME detection (the engine's ``magic
    .from_buffer`` substitute for app/utils.py:162): signature table first,
    zip-member classification for OOXML/EPUB/ODF, structured-text probes,
    then text/plain vs octet-stream."""
    if not content:
        return "application/x-empty"
    if content[:4] in (b"PK\x03\x04", b"PK\x05\x06", b"PK\x07\x08"):
        return _zip_mime(content)
    if content.startswith(b"\xd0\xcf\x11\xe0"):
        return _ole_mime(content)
    for sig, mime in _BINARY_SIGS:
        if content.startswith(sig):
            return mime
    if content.startswith(b"BM") and len(content) >= 26:
        return "image/bmp"
    if content.startswith(b"RIFF") and len(content) >= 12:
        kind = content[8:12]
        if kind == b"WEBP":
            return "image/webp"
        if kind == b"WAVE":
            return "audio/x-wav"
    if len(content) > 262 and content[257:262] == b"ustar":
        return "application/x-tar"
    try:
        text = content.decode("utf-8")
    except UnicodeDecodeError:
        return "application/octet-stream"
    if any(ord(c) < 9 for c in text[:4096]):
        return "application/octet-stream"
    head = text.lstrip()[:256].lower()
    if head.startswith("{\\rtf"):
        return "text/rtf"
    if head.startswith("<!doctype html") or head.startswith("<html"):
        return "text/html"
    if head.startswith("<?xml"):
        return "text/xml"
    if head.startswith(("{", "[")):
        try:
            json.loads(text)
            return "application/json"
        except ValueError:
            pass
    if head.startswith("<"):
        try:
            import xml.etree.ElementTree as ET
            ET.fromstring(text)
            return "text/xml"
        except ET.ParseError:
            pass
    return "text/plain"


# ---------------------------------------------------------------------------
# S6: fail-closed extension<->MIME validation (app/utils.py:148-356)
# ---------------------------------------------------------------------------

_OOXML_DOCX = ("application/vnd.openxmlformats-officedocument"
               ".wordprocessingml.document")
_OOXML_XLSX = ("application/vnd.openxmlformats-officedocument"
               ".spreadsheetml.sheet")
_OOXML_PPTX = ("application/vnd.openxmlformats-officedocument"
               ".presentationml.presentation")

# Verbatim port of the reference's whitelist (app/utils.py:166-246).
EXTENSION_TO_MIME: dict[str, list[str]] = {
    "jpg": ["image/jpeg"], "jpeg": ["image/jpeg"], "png": ["image/png"],
    "gif": ["image/gif", "image/png"],
    "bmp": ["image/bmp", "image/x-ms-bmp"],
    "tiff": ["image/tiff", "image/png"], "tif": ["image/tiff", "image/png"],
    "pdf": ["application/pdf"], "doc": ["application/msword"],
    "docx": [_OOXML_DOCX], "rtf": ["application/rtf", "text/rtf"],
    "odt": ["application/vnd.oasis.opendocument.text"],
    "xls": ["application/vnd.ms-excel"], "xlsx": [_OOXML_XLSX],
    "csv": ["text/csv", "text/plain"],
    "ods": ["application/vnd.oasis.opendocument.spreadsheet"],
    "ppt": ["application/vnd.ms-powerpoint"], "pptx": [_OOXML_PPTX],
    "txt": ["text/plain"], "html": ["text/html"], "htm": ["text/html"],
    "md": ["text/plain", "text/markdown"],
    "json": ["application/json", "text/plain"],
    "xml": ["application/xml", "text/xml"],
    "yaml": ["text/plain", "application/x-yaml"],
    "yml": ["text/plain", "application/x-yaml"],
    "zip": ["application/zip"], "rar": ["application/vnd.rar"],
    "7z": ["application/x-7z-compressed"], "tar": ["application/x-tar"],
    "gz": ["application/gzip"], "bz2": ["application/x-bzip2"],
    "xz": ["application/x-xz"],
    "py": ["text/plain", "text/x-script.python", "text/x-python"],
    "js": ["text/plain", "application/javascript", "text/javascript"],
    "ts": ["text/plain", "text/x-typescript", "application/typescript"],
    "java": ["text/plain", "text/x-java", "text/x-java-source"],
    "c": ["text/plain", "text/x-c", "text/x-csrc"],
    "cpp": ["text/plain", "text/x-c", "text/x-c++", "text/x-c++src"],
    "h": ["text/plain", "text/x-c", "text/x-chdr"],
    "cs": ["text/plain", "text/x-c++", "text/x-csharp"],
    "php": ["text/plain", "text/x-php", "application/x-php"],
    "rb": ["text/plain", "text/x-ruby", "application/x-ruby"],
    "go": ["text/plain", "text/x-c", "text/x-go"],
    "rs": ["text/plain", "text/x-c", "text/x-rust"],
    "swift": ["text/plain", "text/x-c", "text/x-swift"],
    "kt": ["text/plain", "text/x-c", "text/x-kotlin"],
    "scala": ["text/plain", "text/x-scala"],
    "sql": ["text/plain", "text/x-sql"],
    "sh": ["text/plain", "text/x-shellscript", "application/x-shellscript"],
    "css": ["text/css", "text/plain"],
    "scss": ["text/plain", "text/x-scss"],
    "sass": ["text/plain", "text/x-sass"],
    "less": ["text/plain", "text/x-less"],
    "ini": ["text/plain", "text/x-ini"], "cfg": ["text/plain"],
    "conf": ["text/plain"], "config": ["text/plain"],
    "toml": ["text/plain", "application/toml"], "properties": ["text/plain"],
    "dockerfile": ["text/plain"],
    "makefile": ["text/plain", "text/x-makefile"],
    "gitignore": ["text/plain"], "bsl": ["text/plain"], "os": ["text/plain"],
}

_TEXT_BASED_EXTS = {
    "txt", "md", "py", "js", "java", "c", "cpp", "h", "cs", "php", "rb",
    "go", "rs", "swift", "kt", "scala", "sql", "sh", "ini", "cfg", "conf",
    "config", "toml", "properties", "dockerfile", "makefile", "gitignore",
    "bsl", "os", "yaml", "yml", "ts", "jsx", "tsx", "scss", "sass", "less",
    "latex", "tex", "rst", "adoc", "asciidoc", "jsonc", "jsonl", "ndjson",
}

_SOURCE_CODE_MIMES = {
    "text/x-c", "text/x-script.python", "text/x-java", "text/x-php",
    "text/x-shellscript", "text/x-c++", "text/x-python", "text/x-ruby",
    "text/x-go", "text/x-rust", "text/x-swift", "text/x-kotlin",
    "text/x-scala", "text/x-sql", "text/x-scss", "text/x-sass",
    "text/x-less", "text/x-ini", "text/x-makefile", "text/x-typescript",
    "text/x-csrc", "text/x-c++src", "text/x-chdr", "text/x-csharp",
    "text/x-java-source", "application/x-shellscript",
    "application/javascript", "text/javascript", "text/css",
    "application/x-php", "application/x-ruby", "application/toml",
    "application/typescript",
}


def validate_file_type(content: bytes, filename: str) -> tuple[bool, str | None]:
    """Fail-closed validation that the extension matches the content."""
    if not content or not filename:
        return False, "File or filename is missing"
    try:
        file_extension = get_file_extension(filename)
        if not file_extension:
            return False, "Failed to determine file extension"
        mime_type = sniff_content_mime(content)
        expected_mimes = EXTENSION_TO_MIME.get(file_extension, [])
        if not expected_mimes:
            return True, None
        if mime_type in expected_mimes:
            return True, None
        if mime_type == "text/plain" and file_extension in _TEXT_BASED_EXTS:
            return True, None
        if mime_type in _SOURCE_CODE_MIMES and file_extension in _TEXT_BASED_EXTS:
            return True, None
        return False, (
            f"File extension '.{file_extension}' does not match its content "
            f"(MIME type: {mime_type})"
        )
    except Exception as exc:  # fail-closed (app/utils.py:350-356)
        return False, f"Failed to determine file type: {exc}"


# ---------------------------------------------------------------------------
# S7: soft magic-byte consistency check (app/extractors.py:1520-1573)
# ---------------------------------------------------------------------------

_MIME_SIGNATURES: dict[bytes, list[str]] = {
    b"\x50\x4b\x03\x04": ["application/zip", "application/epub+zip",
                          "application/vnd.openxmlformats"],
    b"\x50\x4b\x07\x08": ["application/zip", "application/epub+zip"],
    b"\x50\x4b\x05\x06": ["application/zip", "application/epub+zip"],
    b"%PDF": ["application/pdf"],
    b"\xd0\xcf\x11\xe0": ["application/msword", "application/vnd.ms-excel",
                          "application/vnd.ms-powerpoint"],
    b"\x89PNG": ["image/png"],
    b"\xff\xd8\xff": ["image/jpeg"],
    b"GIF8": ["image/gif"],
    b"BM": ["image/bmp"],
    b"II*\x00": ["image/tiff"],
    b"MM\x00*": ["image/tiff"],
    b"<!DOCTYPE": ["text/html"],
    b"<html": ["text/html"],
    b"<?xml": ["text/xml", "application/xml"],
}


def check_mime_type(content: bytes, filename: str) -> bool:
    """Soft (warn-only) signature<->extension consistency — bug-for-bug,
    including the quirk that the final membership test keys the signature
    table on the first FOUR bytes, so longer signatures fall back to the
    extension-derived expectation."""
    try:
        file_start = content[:10]
        detected_mime = None
        for signature, mime_types in _MIME_SIGNATURES.items():
            if file_start.startswith(signature):
                detected_mime = mime_types[0]
                break
        expected_mime, _ = mimetypes.guess_type(filename)
        if not detected_mime or not expected_mime:
            return True
        return detected_mime in _MIME_SIGNATURES.get(
            file_start[:4], [expected_mime])
    except Exception:
        return True


# ---------------------------------------------------------------------------
# Archive parsing -> archive_member span model
# ---------------------------------------------------------------------------

def _payload_for_bytes(content: bytes, basename: str) -> tuple[str, str | None, str | None]:
    """Supported non-archive bytes -> (kind, text, media_ref).

    Decode convention per reference kind (module docstring); raises
    ValueError with the reference's message shape on parse failure.
    """
    ext = get_file_extension(basename)
    if ext in SOURCE_EXTS:
        return f"source:{ext}", content.decode("latin-1"), None
    if ext in _BYTE_KIND_BY_EXT:
        return _BYTE_KIND_BY_EXT[ext], content.decode("latin-1"), None
    if ext in _TEXT_KIND_BY_EXT:
        return _TEXT_KIND_BY_EXT[ext], content.decode("utf-8", errors="replace"), None
    if ext == "csv":
        return "csv", content.decode("utf-8"), None
    if ext in IMAGE_EXTS:
        return "media", None, basename
    try:
        if ext == "pdf":
            # archive-member form: whole-doc composite (pages join "\n\n"
            # downstream, matching _extract_from_pdf_sync's single string).
            # Top-level PDFs take the per-page span path instead — see
            # spans_for_payload.
            from .extractors.pdfbytes import pdf_pages_from_bytes
            return "pdf", json.dumps(
                {"pages": pdf_pages_from_bytes(content)}), None
        if ext == "docx":
            return "docx_part", docx_payload_from_bytes(content), None
        if ext == "xlsx":
            return "sheet_part", xlsx_payload_from_bytes(content), None
        if ext == "ods":
            # reference: ods rides the same Excel path as xlsx
            # (app/config.py:129, app/extractors.py:213,475-492)
            return "sheet_part", ods_payload_from_bytes(content), None
        if ext == "xls":
            # reference: xls rides pd.read_excel via xlrd
            # (app/config.py:129, app/extractors.py:475-492)
            from .extractors.olexls import xls_payload_from_bytes
            return "sheet_part", xls_payload_from_bytes(content), None
        if ext == "doc":
            # reference: LibreOffice doc->docx then the python-docx path
            # (app/extractors.py:392-473); we parse the [MS-DOC] piece
            # table from scratch into the same docx_part payload.
            from .extractors.oledoc import doc_payload_from_bytes
            return "docx_part", doc_payload_from_bytes(content), None
        if ext == "pptx":
            return "pptx_part", pptx_payload_from_bytes(content), None
        if ext == "ppt":
            # reference: LibreOffice ppt->pptx then the python-pptx path
            # (app/extractors.py:554-635); we parse the [MS-PPT] record
            # stream from scratch into the same pptx_part payload.
            from .extractors.oledoc import ppt_payload_from_bytes
            return "pptx_part", ppt_payload_from_bytes(content), None
        if ext == "odt":
            return "odt_part", odt_payload_from_bytes(content), None
        if ext == "epub":
            return "epub", epub_payload_from_bytes(content), None
    except ValueError:
        raise
    except Exception as exc:
        raise ValueError(
            f"Error processing {ext.upper()}: {exc}") from exc
    raise ValueError(f"Unsupported file format: {ext}")


def _member_model(content: bytes, path: str, depth: int) -> dict | None:
    """One extracted archive member -> member-model dict (None = skip),
    mirroring _process_extracted_file (app/extractors.py:1961-1994):
    nested archives recurse; unsupported formats and erroring members are
    dropped with a warning in the reference — dropped silently here."""
    basename = path.rsplit("/", 1)[-1]
    if is_archive_name(basename):
        if depth + 1 >= MAX_ARCHIVE_NESTING:
            # The JVM fan-out owns cap semantics: emit the member with an
            # empty member list; its child doc surfaces as status='empty'
            # (pipeline._expand_member depth guard).
            members: list[dict] = []
        else:
            try:
                members = _archive_members(content, basename, depth + 1)
            except Exception:
                return None  # reference: exception -> member dropped
        return {"path": path, "kind": "archive", "text": None,
                "media_ref": None, "is_archive": True,
                "members": json.dumps(members)}
    if not is_supported_name(basename):
        return None
    try:
        kind, text, media_ref = _payload_for_bytes(content, basename)
    except Exception:
        return None
    return {"path": path, "kind": kind, "text": text, "media_ref": media_ref,
            "is_archive": False, "members": None}


def _members_from_entries(entries, label: str, depth: int) -> list[dict]:
    """Shared archive-member loop: declared-size bomb guard first, then per
    member sanitize -> system-file filter -> read -> _member_model. One
    place for the guards so every container format behaves identically.

    ``entries`` yields ``(name, declared_size, read_fn)`` for file (non-dir)
    entries, in archive order; ``read_fn()`` returns the member bytes.
    """
    entries = list(entries)
    total = 0
    for _name, size, _read in entries:
        total += size
        if total > MAX_EXTRACTED_SIZE:
            raise ValueError(
                "Extracted files size exceeds maximum allowed size "
                f"({label} bomb protection)")
    members = []
    for name, _size, read in entries:
        safe = sanitize_archive_filename(name)
        if not safe or is_system_file(safe):
            continue
        try:
            m = _member_model(read(), safe, depth)
        except Exception:
            continue  # reference: per-member errors drop the member
        if m:
            members.append(m)
    return members


def _zip_members(content: bytes, depth: int) -> list[dict]:
    try:
        zf = zipfile.ZipFile(io.BytesIO(content))
    except zipfile.BadZipFile:
        raise ValueError("Invalid ZIP file") from None
    with zf:
        return _members_from_entries(
            ((i.filename, i.file_size, lambda i=i: zf.read(i))
             for i in zf.infolist() if not i.is_dir()),
            "zip", depth)


def _tar_members(content: bytes, depth: int) -> list[dict]:
    def read_member(tf, member):
        src = tf.extractfile(member)
        return src.read() if src else b""

    try:
        tf = tarfile.open(fileobj=io.BytesIO(content), mode="r:*")
        with tf:
            return _members_from_entries(
                ((m.name, m.size, lambda m=m: read_member(tf, m))
                 for m in tf.getmembers() if m.isfile()),
                "tar", depth)
    except tarfile.TarError:
        raise ValueError("Invalid TAR file") from None


def _rar_members(content: bytes, depth: int) -> list[dict]:
    """Stored-method RAR5 walk through the vendored reader
    (extractors/arclite.py); walk semantics follow
    app/extractors.py:1812-1885."""
    return _members_from_entries(
        ((name, size, lambda d=data: d)
         for name, data, size in rar5_members(content)),
        "rar", depth)


def _7z_members(content: bytes, depth: int) -> list[dict]:
    """7z walk through the vendored reader (extractors/arclite.py); the
    declared-size cap fires on header metadata before any decompression
    (app/extractors.py:1887-1959)."""
    return _members_from_entries(
        ((name, len(data), lambda d=data: d)
         for name, data in sevenz_members(
             content, max_total=MAX_EXTRACTED_SIZE)),
        "7z", depth)


_TAR_FAMILY = {"tar", "gz", "bz2", "xz", "tar.gz", "tar.bz2", "tar.xz",
               "tgz", "tbz2", "txz"}


def _archive_members(content: bytes, filename: str, depth: int) -> list[dict]:
    """Archive bytes -> list of member-model dicts (A1-A6 input).

    Raises ValueError with the reference's message on any guard trip
    (app/extractors.py:1575-1650)."""
    if depth >= MAX_ARCHIVE_NESTING:
        raise ValueError("Maximum archive nesting level exceeded")
    if len(content) > MAX_ARCHIVE_SIZE:
        raise ValueError("Archive size exceeds maximum allowed size")
    ext = get_file_extension(filename)
    if ext == "zip":
        return _zip_members(content, depth)
    if ext in _TAR_FAMILY:
        return _tar_members(content, depth)
    if ext == "rar":
        return _rar_members(content, depth)
    if ext == "7z":
        return _7z_members(content, depth)
    raise ValueError(f"Unsupported archive format: {ext}")


# ---------------------------------------------------------------------------
# Top-level: bytes -> span-model document
# ---------------------------------------------------------------------------

def spans_from_bytes(content: bytes, filename: str) -> tuple[str | None, list[dict]]:
    """One raw file -> (status|None, input spans).

    Status None means "extract downstream"; a non-null status is a
    quarantine row the pipeline passes through untouched.
    """
    if is_archive_name(filename):
        # Catch-all, not just ValueError: a truncated gzip stream raises
        # EOFError out of tarfile, a corrupt deflate raises zlib.error —
        # the reference wraps EVERY archive exception into the per-file
        # error (app/extractors.py:1647-1649); letting one escape would
        # kill the whole Spark job from inside the Arrow kernel.
        try:
            members = _archive_members(content, filename, 0)
        except Exception as exc:
            return f"error: Error processing archive: {exc}", []
        spans = [
            {"kind": "archive_member", "text": json.dumps(m),
             "media_ref": None, "offset": i}
            for i, m in enumerate(members)
        ]
        return None, spans
    if not is_supported_name(filename):
        return f"error: Unsupported file format: {filename}", []
    try:
        spans = spans_for_payload(content, filename)
    except ValueError as exc:
        return f"error: {exc}", []
    except Exception as exc:
        return f"error: Error extracting text: {exc}", []
    return None, spans


def spans_for_payload(content: bytes, filename: str) -> list[dict]:
    """Supported non-archive bytes -> input spans. Top-level PDFs expand to
    one pdf_page span per page (pipeline interleaving applies to real
    PDF bytes); everything else is one span."""
    if get_file_extension(filename) == "pdf":
        from .extractors.pdfbytes import pdf_pages_from_bytes
        try:
            pages = pdf_pages_from_bytes(content)
        except ValueError as exc:
            raise ValueError(f"Error processing PDF: {exc}") from exc
        return [{"kind": "pdf_page", "text": p, "media_ref": None,
                 "offset": i} for i, p in enumerate(pages)]
    kind, text, media_ref = _payload_for_bytes(content, filename)
    return [{"kind": kind, "text": text, "media_ref": media_ref,
             "offset": 0}]


_INGEST_OUT = StructType([
    StructField("doc_id", StringType(), False),
    StructField("spans", SPANS_TYPE),
    StructField("status", StringType()),
])


def _ingest_batches(validate: bool):
    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd
        for batch in batches:
            rows = []
            for doc_id, filename, content in zip(
                batch["doc_id"], batch["filename"], batch["content"]
            ):
                content = bytes(content) if content is not None else b""
                fname = sanitize_filename(filename or "")
                status: str | None = None
                spans: list[dict] = []
                if validate:
                    ok, err = validate_file_type(content, fname)
                    if not ok:
                        status = f"error: {err}"
                if status is None:
                    status, spans = spans_from_bytes(content, fname)
                rows.append((doc_id, spans, status))
            yield pd.DataFrame(rows, columns=["doc_id", "spans", "status"])
    return run


def named_binary_df(files: DataFrame) -> DataFrame:
    """binaryFile-source rows -> the (doc_id, filename, content) ingest
    contract: doc_id = full path, filename = last path segment. The ONE
    owner of raw-file naming for both batch submit and streaming."""
    from pyspark.sql import functions as F
    return files.select(
        F.col("path").alias("doc_id"),
        F.element_at(F.split("path", "/"), -1).alias("filename"),
        F.col("content"),
    )


def ingest_bytes_df(df: DataFrame, validate: bool = False) -> DataFrame:
    """(doc_id, filename, content: binary) -> (doc_id, spans, status).

    The Arrow kernel parses containers and transports payloads; it does NOT
    extract text — that stays in the downstream extraction kernel, so each
    stage's Python cost is paid exactly once per row. ``validate=True``
    applies the S6 fail-closed gate first (quarantine rows get an error
    status and skip parsing entirely).
    """
    return df.select("doc_id", "filename", "content").mapInPandas(
        _ingest_batches(validate), schema=_INGEST_OUT
    )


def extract_from_bytes(df: DataFrame, validate: bool = False,
                       **extract_kwargs) -> DataFrame:
    """Full byte-ingest pipeline: parse containers -> JVM fan-out ->
    extraction kernel (pipeline.extract_spans_df).

    Nothing is persisted: one action runs the ingest kernel and the
    extraction kernel once per row. A second action on the result parses
    every container again."""
    from .pipeline import extract_spans_df
    return extract_spans_df(ingest_bytes_df(df, validate=validate),
                            **extract_kwargs)


def release_caches(registry: list) -> None:
    """Unpersist every handle collected via ``cache_registry=``
    (``urlsource.extract_from_urls``, ``sampling.dsir_sample``) and
    clear the list. The registry belongs to the caller, so it survives
    any transformation of the result."""
    for ing in registry:
        ing.unpersist()
    registry.clear()
