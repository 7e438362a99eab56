"""Deterministic synthetic corpus of interleaved text+media documents.

Generates the engine's input table (FIXTURES.md families F01-F23) from a
seed — no external data. Each generated document is a row
``{doc_id, spans:[{kind,text,media_ref,offset}]}``; the family mix mirrors
the reference corpus (majority plain/source/html, minority binary-derived).

``oracle_extract`` is the single-process oracle: archive fan-out (bounded
nesting, sanitation, guards — the semantics pipeline.py re-expresses as
Catalyst ops) followed by the shared per-document kernel. Spark-vs-oracle
span-sequence equality is the correctness gate for all distributed
machinery.
"""

from __future__ import annotations

import json
import random

from .config import MAX_ARCHIVE_NESTING, MAX_EXTRACTED_SIZE
from .extractors import extract_document
from .extractors.archive import (
    is_system_file,
    sanitize_archive_filename,
)

_EN = (
    "the quick brown fox jumps over lazy dog data pipeline spark extract "
    "text document page image table content header body main article news "
    "report value stream batch cluster executor partition shuffle join "
    "window filter select aggregate schema column string bytes offset"
).split()
_RU = (
    "Текст документ страница таблица данные поток пример проверка система "
    "файл архив письмо тема учет обработка результат строка слово язык"
).split()

# Content volume multiplier: 1 for unit-test corpora (fast oracle runs),
# larger for benchmark corpora (realistic ~5-50 KB documents).
SIZE_MULT = 1


def _words(rng: random.Random, n: int, vocab=None) -> str:
    vocab = vocab or _EN
    return " ".join(rng.choices(vocab, k=n))


def _sentence(rng: random.Random, n: int = 12) -> str:
    s = _words(rng, n)
    return s[0].upper() + s[1:] + "."


def _span(kind, text, media_ref, offset):
    return {"kind": kind, "text": text, "media_ref": media_ref, "offset": offset}


def _b(data: bytes) -> str:
    """bytes -> latin-1 transport string."""
    return data.decode("latin-1")


# --------------------------------------------------------------------------
# Family builders. Each returns a list of payload spans for one document.
# --------------------------------------------------------------------------

def _f_plain_utf8(rng, doc_id):
    text = "\n".join(_sentence(rng) for _ in range(rng.randint(2, 8) * SIZE_MULT))
    return [_span("plain", _b(text.encode("utf-8")), None, 0)]


def _f_plain_cp1251(rng, doc_id):
    # Starts with 'Т' so the mac-cyrillic decode begins with a smart quote
    # and is rejected, letting cp1251 win (see encodings.py / reference
    # app/extractors.py:699-735).
    text = "Тестовый " + _words(rng, rng.randint(4, 10), _RU)
    return [_span("plain", _b(text.encode("cp1251")), None, 0)]


def _f_plain_utf16(rng, doc_id):
    text = "Пример " + _words(rng, rng.randint(4, 10), _RU)
    return [_span("plain", _b(text.encode("utf-16")), None, 0)]


_SOURCE_EXTS = ["py", "js", "sql", "sh", "go", "rs", "xyzlang"]


def _f_source(rng, doc_id):
    ext = rng.choice(_SOURCE_EXTS)
    n_lines = (rng.choice([3, 8, 20, 1500]) if rng.random() < 0.1
               else rng.randint(3, 40) * SIZE_MULT)
    body = "\n".join(
        f"def f{i}(): return {i}" if ext == "py" else f"line {i} {_words(rng, 3)}"
        for i in range(n_lines)
    )
    return [_span(f"source:{ext}", _b(body.encode("utf-8")), None, 0)]


def _f_html(rng, doc_id):
    paras = [_sentence(rng, rng.randint(6, 15))
             for _ in range(rng.randint(2, 5) * SIZE_MULT)]
    body = "".join(f"<p>{p}</p>\n" for p in paras)
    html = (
        "<html><head><title>T</title><script>var x=1;</script>"
        "<style>p{color:red}</style></head><body>\n" + body + "</body></html>"
    )
    return [_span("html", html, None, 0)]


def _f_html_boiler(rng, doc_id):
    art = [_sentence(rng, 20) for _ in range(3 * SIZE_MULT)]
    nav = "".join(f'<a href="/{w}">{w}</a> ' for w in _EN[:8])
    html = (
        "<html><body><nav>" + nav + "</nav><header><h1>Site</h1></header>"
        "<main>" + "".join(f"<p>{p}</p>" for p in art) + "</main>"
        "<aside>" + nav + "</aside><footer>(c) site</footer></body></html>"
    )
    mode = rng.choice(["html_page", "html_main"])
    return [_span(mode, html, None, 0)]


def _f_markdown(rng, doc_id):
    md = "\n\n".join(
        f"# {_words(rng, 3).title()}\n\n"
        f"{_sentence(rng, 15)} **{rng.choice(_EN)}** and `{rng.choice(_EN)}`.\n\n"
        f"- {_words(rng, 4)}\n- {_words(rng, 4)}\n\n"
        f"> {_sentence(rng, 8)}"
        for _ in range(SIZE_MULT)
    ) + "\n"
    return [_span("markdown", md, None, 0)]


def _f_json(rng, doc_id):
    data = {
        "title": _sentence(rng, 5),
        "count": rng.randint(1, 99),
        "tags": [rng.choice(_EN) for _ in range(3)],
        "nested": {"body": _sentence(rng, 10 * SIZE_MULT), "ok": True},
    }
    return [_span("json", json.dumps(data), None, 0)]


def _f_xml(rng, doc_id):
    xml = (
        f'<root version="{rng.randint(1,5)}"><item id="a">{_words(rng,4)}</item>'
        f"<item id=\"b\">{_words(rng, 4)}</item><meta><author>{_words(rng,2)}"
        f"</author></meta></root>"
    )
    return [_span("xml", xml, None, 0)]


def _f_yaml(rng, doc_id):
    y = (
        f"title: {_words(rng, 3)}\n"
        f"count: {rng.randint(1, 99)}\n"
        f"meta:\n  author: {_words(rng, 2)}\n  draft: false\n"
        f"tags:\n- {rng.choice(_EN)}\n- {rng.choice(_EN)}\n"
    )
    return [_span("yaml", y, None, 0)]


def _f_csv(rng, doc_id):
    rows = [f"{rng.choice(_EN)},{rng.randint(0,100)},\"{_words(rng,2)}, etc\""
            for _ in range(rng.randint(2, 6))]
    return [_span("csv", "name,num,desc\n" + "\n".join(rows) + "\n", None, 0)]


def _f_sheet(rng, doc_id):
    data = {"sheets": [
        {"name": name,
         "columns": ["a", "b"],
         "rows": [[rng.choice(_EN), str(rng.randint(0, 9))] for _ in range(3)]}
        for name in ["Sheet1", "Data"][: rng.randint(1, 2)]
    ]}
    return [_span("sheet_part", json.dumps(data), None, 0)]


def _f_rtf(rng, doc_id):
    body = _sentence(rng, 10)
    rtf = ("{\\rtf1\\ansi{\\fonttbl{\\f0 Arial;}}" + body.replace(" ", " ")
           + "\\par " + _sentence(rng, 6) + "\\par}")
    return [_span("rtf", rtf, None, 0)]


def _f_docx(rng, doc_id):
    data = {
        "paragraphs": [_sentence(rng, 10) for _ in range(3)] + ["  "],
        "tables": [[["h1", "h2"], [_words(rng, 2), _words(rng, 2)]]],
        "sections": [{"header": ["Doc header"], "footer": ["Page footer"]}],
        "footnotes": [_sentence(rng, 5)],
        "comments": [],
    }
    return [_span("docx_part", json.dumps(data), None, 0)]


def _f_pptx(rng, doc_id):
    data = {"slides": [
        {"shapes": ["Title A", _sentence(rng, 8)], "notes": ["Notes", _sentence(rng, 5)]},
        {"shapes": ["Only title"], "notes": []},
        {"shapes": ["Head", _words(rng, 6)], "notes": []},
    ]}
    return [_span("pptx_part", json.dumps(data), None, 0)]


def _f_pdf(rng, doc_id, n_pages=None):
    n_pages = n_pages or rng.randint(2, 4) * max(1, SIZE_MULT // 4)
    spans, off, img = [], 0, 0
    for p in range(1, n_pages + 1):
        blocks = [
            {"bbox": [50, 50 + 100 * i, 300, 120 + 100 * i],
             "text": _sentence(rng, 8 * min(SIZE_MULT, 8))}
            for i in range(rng.randint(1, 3))
        ]
        if rng.random() < 0.5:  # two-column page
            blocks.append({"bbox": [320, 50, 560, 400], "text": _sentence(rng, 8)})
        spans.append(_span("pdf_page", json.dumps({"page_no": p, "blocks": blocks}), None, off))
        off += 1
        for _ in range(rng.randint(0, 2)):
            img += 1
            spans.append(_span("media", None, f"m://{doc_id}/{img}", off))
            off += 1
    return spans


def _f_odt(rng, doc_id):
    data = {"paragraphs": [_sentence(rng, 8) for _ in range(3)] + [" "]}
    return [_span("odt_part", json.dumps(data), None, 0)]


def _f_eml(rng, doc_id):
    body = _sentence(rng, 12)
    raw = (
        "From: alice@example.com\nTo: bob@example.com\n"
        "Subject: =?utf-8?B?0KLQtdC80LA=?=\nDate: Mon, 1 Jan 2024 10:00:00 +0000\n"
        "Content-Type: text/plain; charset=utf-8\n\n" + body + "\n"
    )
    return [_span("eml", _b(raw.encode("utf-8")), None, 0)]


def _f_msg(rng, doc_id):
    lines = [f"Subject meeting {i} " + _words(rng, 3) for i in range(3)]
    payload = ("\n".join(lines) + "\n").encode("utf-16le") + b"_MSG\x00CTRL\x01\x02\nplain ascii tail line here\n"
    return [_span("msg", _b(payload), None, 0)]


def _f_epub(rng, doc_id):
    spans = []
    for i in range(3):
        content = f"<html><body><p>{_sentence(rng, 10)}</p></body></html>"
        spans.append(_span("epub_member", json.dumps(
            {"name": f"ch{i}.xhtml", "content": content, "size": len(content)}), None, i))
    css = json.dumps({"name": "style.css", "content": "p{}", "size": 3})
    spans.append(_span("epub_member", css, None, 3))
    return spans


def _member(path, kind, text, is_archive=False, members=None):
    return {"path": path, "kind": kind, "text": text, "media_ref": None,
            "is_archive": is_archive, "members": members}


def _f_archive(rng, doc_id):
    inner = [
        _member("inner/deep.txt", "plain", _b(_sentence(rng, 6).encode("utf-8"))),
    ]
    members = [
        _member("a.txt", "plain", _b(_sentence(rng, 8).encode("utf-8"))),
        _member("data/b.json", "json", json.dumps({"k": _words(rng, 3)})),
        _member("web/c.html", "html", f"<p>{_sentence(rng, 6)}</p>"),
        _member("__MACOSX/junk.txt", "plain", _b(b"junk")),
        _member("../evil/../x.txt", "plain", _b(_sentence(rng, 4).encode("utf-8"))),
        _member("nested.zip", "archive", None, True, json.dumps(inner)),
    ]
    return [_span("archive_member", json.dumps(m), None, i) for i, m in enumerate(members)]


def _f_media_only(rng, doc_id):
    return [_span("media", None, f"m://{doc_id}/{k+1}", k) for k in range(rng.randint(1, 3))]


def _f_empty(rng, doc_id):
    return [_span("plain", "", None, 0)]


def _f_unsupported(rng, doc_id):
    return [_span("xyz", "payload", None, 0)]


def _f_skew(rng, doc_id):
    # F23: oversized many-page PDF docs. At bench scale (SIZE_MULT >= 8)
    # one in ten is a genuine whale (hundreds of pages, >SKEW_SPLIT_BYTES)
    # so salting and byte-aware Arrow batching meet real stragglers; the
    # rest are merely large.
    if SIZE_MULT >= 8 and rng.random() < 0.1:
        return _f_pdf(rng, doc_id, n_pages=400)
    return _f_pdf(rng, doc_id, n_pages=60)


FAMILIES = [
    ("plain_utf8", _f_plain_utf8, 18),
    ("plain_cp1251", _f_plain_cp1251, 4),
    ("plain_utf16", _f_plain_utf16, 2),
    ("source", _f_source, 16),
    ("html", _f_html, 14),
    ("html_boiler", _f_html_boiler, 6),
    ("markdown", _f_markdown, 8),
    ("json", _f_json, 6),
    ("xml", _f_xml, 4),
    ("yaml", _f_yaml, 4),
    ("csv", _f_csv, 4),
    ("sheet", _f_sheet, 2),
    ("rtf", _f_rtf, 2),
    ("docx", _f_docx, 3),
    ("pptx", _f_pptx, 2),
    ("odt", _f_odt, 1),
    ("pdf", _f_pdf, 8),
    ("eml", _f_eml, 2),
    ("msg", _f_msg, 1),
    ("epub", _f_epub, 2),
    ("archive", _f_archive, 2),
    ("media_only", _f_media_only, 1),
    ("empty", _f_empty, 1),
    ("unsupported", _f_unsupported, 1),
    ("skew", _f_skew, 1),
]


def gen_corpus(n_docs: int, seed: int = 42, size_mult: int = 1) -> list[dict]:
    """n_docs deterministic documents with the FIXTURES.md family mix.

    ``size_mult`` scales per-document content volume (1 = small unit-test
    docs; bench uses ~20 for realistic multi-KB documents).
    """
    global SIZE_MULT
    SIZE_MULT = size_mult
    rng = random.Random(seed)
    weights = [w for _, _, w in FAMILIES]
    docs = []
    for i in range(n_docs):
        name, builder, _ = rng.choices(FAMILIES, weights=weights, k=1)[0]
        doc_id = f"d{i:09d}-{name}"
        docs.append({"doc_id": doc_id, "spans": builder(rng, doc_id)})
    return docs


# --------------------------------------------------------------------------
# Single-process oracle (archive fan-out + shared kernel)
# --------------------------------------------------------------------------

def explode_archives(docs: list[dict]) -> list[dict]:
    """Bounded archive fan-out with the reference's guards (A1-A8).

    Returns the post-fan-out document list; pipeline.py implements the same
    transformation as Catalyst ops (from_json/explode/filters).
    """
    current = list(docs)
    for _ in range(MAX_ARCHIVE_NESTING):
        nxt: list[dict] = []
        for doc in current:
            arch = [s for s in doc["spans"] if s["kind"] == "archive_member"]
            rest = [s for s in doc["spans"] if s["kind"] != "archive_member"]
            if not arch:
                nxt.append(doc)
                continue
            members = [json.loads(s["text"]) for s in sorted(arch, key=lambda s: s["offset"])]
            total = sum(len(m.get("text") or "") + len(m.get("members") or "") for m in members)
            if total > MAX_EXTRACTED_SIZE:
                nxt.append({"doc_id": doc["doc_id"],
                            "spans": [], "status": "error: Archive content too large"})
                continue
            if rest:
                nxt.append({"doc_id": doc["doc_id"], "spans": rest})
            for m in members:
                path = sanitize_archive_filename(m["path"])
                if not path or is_system_file(path):
                    continue
                child_id = f"{doc['doc_id']}/{path}"
                if m.get("is_archive") and m.get("members"):
                    subs = json.loads(m["members"])
                    spans = [_span("archive_member", json.dumps(sm), None, i)
                             for i, sm in enumerate(subs)]
                else:
                    spans = [_span(m["kind"], m.get("text"), m.get("media_ref"), 0)]
                nxt.append({"doc_id": child_id, "spans": spans})
        current = nxt
    return current


def oracle_extract(docs: list[dict]) -> dict[str, tuple[str, list[dict]]]:
    """doc_id -> (status, output spans), single-process reference path."""
    result = {}
    for doc in explode_archives(docs):
        if "status" in doc:  # guard-rejected upstream
            result[doc["doc_id"]] = (doc["status"], [])
            continue
        result[doc["doc_id"]] = extract_document(doc["doc_id"], doc["spans"])
    return result


def corpus_to_df(spark, docs: list[dict]):
    """Materialize generated docs as a Spark DataFrame (DOC_SCHEMA)."""
    from .pipeline import DOC_SCHEMA

    rows = [
        (d["doc_id"],
         [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in d["spans"]])
        for d in docs
    ]
    return spark.createDataFrame(rows, schema=DOC_SCHEMA)


def gen_corpus_spark(spark, n_docs: int, seed: int = 42, size_mult: int = 1,
                     partitions: int | None = None):
    """Distributed corpus generation: one deterministic doc per index.

    Unlike ``gen_corpus`` (sequential RNG stream, driver-side list — fine
    for unit-test scales), each document here is derived from
    ``Random((seed, i))`` so generation parallelizes over executors and
    never materializes on the driver. Used for benchmark corpora (GBs).
    """
    from pyspark.sql import functions as F  # noqa: F401

    from .pipeline import DOC_SCHEMA

    parts = partitions or max(32, n_docs // 2000)
    base = spark.range(0, n_docs, 1, parts)
    weights = [w for _, _, w in FAMILIES]

    def gen(batches):
        import pandas as pd

        # NB: a plain `global SIZE_MULT` here would rebind cloudpickle's
        # synthetic globals for this closure, not the real module attribute
        # the family builders read on the worker — set the module directly.
        import extract_text_spark.corpus as corpus_mod
        corpus_mod.SIZE_MULT = size_mult
        for batch in batches:
            rows = []
            for i in batch["id"]:
                rng = random.Random(f"{seed}:{int(i)}")
                name, builder, _ = rng.choices(FAMILIES, weights=weights, k=1)[0]
                doc_id = f"d{int(i):09d}-{name}"
                spans = builder(rng, doc_id)
                rows.append((doc_id,
                             [(s["kind"], s["text"], s["media_ref"],
                               s["offset"]) for s in spans]))
            yield pd.DataFrame(rows, columns=["doc_id", "spans"])

    return base.mapInPandas(gen, schema=DOC_SCHEMA)
