"""Seeded benchmark inputs, built in a prepare step outside ``setup_s``.

Generating span documents word by word costs about 1 ms per document, so a
run does not generate its corpus. Each workload instead has a document pool,
generated once per work directory from fixed seeds and kept: per family
(the FIXTURES mix, the generator's 400-page PDF whales and, for
``spans_whales``, multi-MB page-only PDFs) it holds half again as many
documents as one input uses. A run's input is a pure function of
``--seed``: the seed picks which pool documents of each family it holds,
and their order. Family counts are fixed shares of the input size, so two
seeds carry the same amount of work and pass times compare across seeds.

The pool and each seed's input live in their own directories under the
work directory, each with an ``inputs.json`` holding the SHA-256 of every
file; a later run reuses a directory only if every hash still matches.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
import shutil

import pyarrow as pa
import pyarrow.compute  # noqa: F401 — pa.compute
import pyarrow.parquet as pq

SIZE_MULT = 20            # ~5-50 KB documents, as in the repository's bench
WHALE_PAGES = 400         # the generator's own whale: a 400-page PDF doc
BIG_PDF_PAGES = 4000      # spans_whales: page-only PDFs of about 4 MB
POOL_FACTOR = 1.5         # pool docs per family over one input's
KEEP_PREPARED = 6         # per-seed inputs kept per work directory

_SPAN = pa.struct([("kind", pa.string()), ("text", pa.string()),
                   ("media_ref", pa.string()), ("offset", pa.int32())])
POOL_ARROW = pa.schema([pa.field("doc_id", pa.string(), nullable=False),
                        ("spans", pa.list_(_SPAN)), ("family", pa.string()),
                        ("n_bytes", pa.int64()), ("n_fanned", pa.int64())])


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as fh:
        for block in iter(lambda: fh.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def _hash_tree(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            full = os.path.join(dirpath, name)
            rel = os.path.relpath(full, root)
            if rel != "inputs.json":
                out[rel] = _sha256(full)
    return dict(sorted(out.items()))


def _stratified(weights: list[tuple[str, int]], n: int) -> dict[str, int]:
    """Exactly round(share * n) of each name (largest remainder)."""
    total = sum(w for _, w in weights)
    exact = [(name, w * n / total) for name, w in weights]
    counts = {name: int(x) for name, x in exact}
    rest = n - sum(counts.values())
    for name, x in sorted(exact, key=lambda e: int(e[1]) - e[1])[:rest]:
        counts[name] += 1
    return counts


def _family_spans(name: str, rng: random.Random, doc_id: str,
                  big_pages: int) -> list[dict]:
    """The spans of one generated document of family ``name``: a FIXTURES
    family, ``whale`` (the generator's 400-page PDF) or ``bigpdf`` (a
    page-independent PDF of ``big_pages`` pdf_page spans)."""
    from extract_text_spark import corpus

    corpus.SIZE_MULT = SIZE_MULT
    if name == "whale":
        return corpus._f_pdf(rng, doc_id, n_pages=WHALE_PAGES)
    if name == "bigpdf":
        spans = [s for s in corpus._f_pdf(rng, doc_id, n_pages=big_pages)
                 if s["kind"] == "pdf_page"]
        for off, s in enumerate(spans):
            s["offset"] = off
        return spans
    builders = {n: fn for n, fn, _ in corpus.FAMILIES}
    return builders[name](rng, doc_id)


def _mix(n_docs: int) -> dict[str, int]:
    """The FIXTURES family mix (without its random ``skew`` family)."""
    from extract_text_spark import corpus

    return _stratified([(name, w) for name, _, w in corpus.FAMILIES
                        if name != "skew"], n_docs)


def span_docs(n_docs: int, seed: int) -> list[dict]:
    """``n_docs`` documents of the FIXTURES mix at bench document size."""
    names = [name for name, c in _mix(n_docs).items() for _ in range(c)]
    random.Random(f"order:{seed}").shuffle(names)
    return [{"doc_id": f"d{i:07d}-{name}",
             "spans": _family_spans(name, random.Random(f"{seed}:{i}"),
                                    f"d{i:07d}-{name}", 0)}
            for i, name in enumerate(names)]


def _counts(kind: str, scale: float) -> tuple[dict[str, int], int]:
    """Documents per family in one input of ``kind``, and the pages of a
    ``bigpdf``."""
    def n(x: int, floor: int) -> int:
        return max(floor, int(round(x * scale)))

    if kind == "spans_mixed":
        counts = _mix(n(6000, 60) - n(4, 1))
        counts["whale"] = n(4, 1)
    else:  # spans_whales
        counts = _mix(n(2000, 40) - n(2, 1))
        counts["whale"] = n(2, 1)
        counts["bigpdf"] = n(5, 2)
    return counts, n(BIG_PDF_PAGES, 60)


# --------------------------------------------------------------------------
# document pools and per-seed inputs
# --------------------------------------------------------------------------

def _generate_pool(kind: str, scale: float, out: str) -> dict:
    """Every family of ``kind`` with POOL_FACTOR times its count; each doc
    carries its payload bytes and its oracle fan-out row count."""
    from extract_text_spark.corpus import explode_archives

    counts, big_pages = _counts(kind, scale)
    rows = []
    for name, count in counts.items():
        for j in range(math.ceil(count * POOL_FACTOR)):
            doc_id = f"p{j:06d}-{name}"
            spans = _family_spans(name, random.Random(f"pool:{name}:{j}"),
                                  doc_id, big_pages)
            doc = {"doc_id": doc_id, "spans": spans}
            rows.append({**doc, "family": name,
                         "n_bytes": sum(len(s["text"] or "") for s in spans),
                         "n_fanned": len(explode_archives([doc]))})
    pq.write_table(pa.Table.from_pylist(rows, schema=POOL_ARROW),
                   os.path.join(out, "pool.parquet"))
    return {"docs": len(rows)}


def _select(pool_dir: str, kind: str, seed: int, scale: float,
            out: str) -> dict:
    """The seed's input: per family, a seeded choice of pool docs, in a
    seeded order."""
    pool = pq.read_table(os.path.join(pool_dir, "pool.parquet"))
    by_family: dict[str, list[int]] = {}
    for i, name in enumerate(pool.column("family").to_pylist()):
        by_family.setdefault(name, []).append(i)
    rng = random.Random(f"pick:{seed}")
    picked = []
    for name, count in _counts(kind, scale)[0].items():
        picked += rng.sample(by_family.get(name, []), count)
    rng.shuffle(picked)
    docs = pool.take(picked)
    pq.write_table(docs.select(["doc_id", "spans"]),
                   os.path.join(out, "docs.parquet"), row_group_size=512)
    return {"docs": len(picked),
            "bytes": pa.compute.sum(docs.column("n_bytes")).as_py(),
            "fanned": pa.compute.sum(docs.column("n_fanned")).as_py()}


def _cached(path: str, spec: dict, build) -> dict:
    """Reuse ``path`` if it was built for ``spec`` and every file matches
    the hashes in its ``inputs.json``; otherwise rebuild it with
    ``build(dir)``."""
    meta_file = os.path.join(path, "inputs.json")
    if os.path.exists(meta_file):
        with open(meta_file) as fh:
            meta = json.load(fh)
        if meta.get("spec") == spec and meta["sha256"] == _hash_tree(path):
            os.utime(path)
            return meta
    shutil.rmtree(path, ignore_errors=True)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    meta = build(tmp)
    meta["spec"] = spec
    meta["sha256"] = _hash_tree(tmp)
    with open(os.path.join(tmp, "inputs.json"), "w") as fh:
        json.dump(meta, fh, indent=1)
    os.rename(tmp, path)
    return meta


def prepare(work: str, kind: str, seed: int, scale: float) -> tuple[str, dict]:
    """Build (or reuse, after a hash check) the pool of ``kind`` and the
    seed's input. Returns the input directory and its description."""
    root = os.path.join(work, "inputs")
    pool = os.path.join(root, f"pool_{kind}_x{scale:g}")
    counts, big_pages = _counts(kind, scale)
    spec = {"counts": counts, "big_pages": big_pages,
            "pool_factor": POOL_FACTOR, "size_mult": SIZE_MULT}
    _cached(pool, spec, lambda out: _generate_pool(kind, scale, out))
    path = os.path.join(root, f"{kind}_s{seed}_x{scale:g}")
    meta = _cached(path, spec,
                   lambda out: _select(pool, kind, seed, scale, out))
    # bound the disk the inputs take: keep the most recently used ones
    kept = sorted((e for e in os.scandir(root)
                   if e.is_dir() and not e.name.startswith("pool_")),
                  key=lambda e: e.stat().st_mtime, reverse=True)
    for old in kept[KEEP_PREPARED:]:
        shutil.rmtree(old.path, ignore_errors=True)
    return path, meta


# --------------------------------------------------------------------------
# raw container files for the traced run's ingest layer
# --------------------------------------------------------------------------

BYTE_EXTS = [("docx", 3), ("xlsx", 2), ("pptx", 2), ("pdf", 3), ("zip", 2),
             ("html", 4), ("eml", 2), ("txt", 4)]


def _sent(rng: random.Random, n: int) -> str:
    from extract_text_spark.corpus import _EN
    return " ".join(rng.choices(_EN, k=n)).capitalize() + "."


def byte_file(ext: str, rng: random.Random) -> bytes:
    """One seeded container file of the given extension."""
    from extract_text_spark import bytecorpus as bc

    if ext == "docx":
        return bc.make_docx([_sent(rng, 14) for _ in range(rng.randint(20, 40))],
                            table=[[_sent(rng, 2) for _ in range(3)]
                                   for _ in range(4)])
    if ext == "xlsx":
        return bc.make_xlsx({f"S{k}": [[_sent(rng, 2), rng.randint(0, 999)]
                                       for _ in range(rng.randint(20, 60))]
                             for k in range(2)})
    if ext == "pptx":
        return bc.make_pptx([{"shapes": [_sent(rng, 10) for _ in range(4)],
                              "notes": [_sent(rng, 8)]}
                             for _ in range(rng.randint(4, 10))])
    if ext == "pdf":
        return bc.make_pdf([[_sent(rng, 10) for _ in range(rng.randint(8, 20))]
                            for _ in range(rng.randint(2, 6))])
    if ext == "zip":
        return bc.make_zip({
            "a.txt": _sent(rng, 40).encode(),
            "web/b.html": f"<html><body><p>{_sent(rng, 30)}</p></body></html>",
            "c.docx": bc.make_docx([_sent(rng, 12) for _ in range(8)]),
            "__MACOSX/junk.txt": b"junk",
        })
    if ext == "html":
        paras = "".join(f"<p>{_sent(rng, 20)}</p>"
                        for _ in range(rng.randint(10, 30)))
        return (f"<html><head><title>{_sent(rng, 4)}</title></head><body>"
                f"<nav>{_sent(rng, 5)}</nav><article>{paras}</article>"
                "</body></html>").encode()
    if ext == "eml":
        body = "\n".join(_sent(rng, 16) for _ in range(rng.randint(5, 20)))
        return ("From: a@example.com\nTo: b@example.com\nSubject: "
                f"{_sent(rng, 4)}\nDate: Mon, 1 Jan 2024 10:00:00 +0000\n"
                "Content-Type: text/plain; charset=utf-8\n\n"
                f"{body}\n").encode()
    return "\n".join(_sent(rng, 16)
                     for _ in range(rng.randint(20, 60))).encode()


def byte_files(n_files: int, seed: int) -> list[tuple[str, bytes]]:
    names = [ext for ext, c in _stratified(BYTE_EXTS, n_files).items()
             for _ in range(c)]
    random.Random(f"order:{seed}").shuffle(names)
    return [(f"f{i:06d}.{ext}", byte_file(ext, random.Random(f"{seed}:{i}")))
            for i, ext in enumerate(names)]
