"""A1-A8: archive fan-out helpers (pure kernels).

In the Spark pipeline the fan-out itself is JVM-side Catalyst work
(``from_json`` + ``explode`` + filters — see pipeline.py); these pure
functions carry the *semantics* (path sanitation, system-file filter) and
serve the single-process oracle and the SQL-expression generators.

Archive member payload convention (one ``archive_member`` span per member):
    {"path": str, "kind": str, "text": str|null, "media_ref": str|null,
     "is_archive": bool, "members": str|null}   # nested members as JSON
"""

from __future__ import annotations

# app/extractors.py:2016-2035 — substring blacklist, case-insensitive.
SYSTEM_FILE_MARKERS = [
    ".ds_store", "thumbs.db", ".git/", ".svn/", ".hg/", "__macosx/",
    ".localized", "desktop.ini", "folder.ini",
]


def sanitize_archive_filename(filename: str) -> str:
    """app/extractors.py:1996-2014 — strip ``..``, backslashes, absolute
    prefixes and empty/'.' segments."""
    if not filename:
        return ""
    filename = filename.replace("..", "").replace("\\", "/").strip("/")
    if filename.startswith("/"):
        filename = filename[1:]
    parts = [part for part in filename.split("/") if part and part != "."]
    if not parts:
        return ""
    return "/".join(parts)


def is_system_file(filename: str) -> bool:
    """app/extractors.py:2016-2035."""
    lowered = filename.lower()
    return any(marker in lowered for marker in SYSTEM_FILE_MARKERS)


def child_doc_id(parent_doc_id: str, member_path: str) -> str:
    """``{archive}/{member}`` output path convention
    (app/extractors.py:1980-1988)."""
    return f"{parent_doc_id}/{member_path}"
