"""WARC source: CommonCrawl-shaped ingestion feeding the span-model
pipeline.

Beyond the reference (its sources are multipart/base64/URL — SURVEY §2
S1-S3): the native input of a web-scale extraction tier is the WARC file
(ISO 28500), so the engine reads it first-class. One Arrow kernel splits
a WARC file — plain or per-record-gzip-member, the CommonCrawl packaging
— into records and routes each ``response``/``conversion``/``resource``
record with the reference's OWN decidable rules, already pinned for the
URL source (urlsource.py): content routing via ``is_html_content``
(app/extractors.py:2442-2475) and filename derivation via
``filename_from_response`` (:2589-2630). HTML pages take the page-mode
strip (E12) via the ``html_page`` span kind; everything else goes through
byte ingestion (S5-S7, archives included) — all extracted by the SAME
downstream kernel, exactly once per row.

Scale notes (100 TB = one CommonCrawl monthly crawl, give or take):

* Partition granularity is the WARC file (the CC convention: ~1 GB
  gzipped, ~50k records). The kernel holds one file's bytes at a time —
  tasks are file-parallel, which is exactly how petabyte WARC jobs run;
  no repartition is needed or wanted on the big path (the input split IS
  the unit of work).
* Per-record gzip members decompress independently; a truncated member
  or record quarantines the FILE (fail-per-file, never the job), the
  same error contract as archives (ingest.spans_from_bytes).
* Records the tier does not own (``warcinfo``/``request``/``metadata``)
  are dropped in the kernel — they never enter the shuffle.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, functions as F

from .urlsource import _URL_SCHEMA, filename_from_response, is_html_content

GZIP_MAGIC = b"\x1f\x8b"


def _gunzip_members(data: bytes) -> bytes:
    """Concatenated gzip members (one per record, the CommonCrawl
    packaging) -> one plain buffer. stdlib zlib handles each member;
    a truncated final member fails the file."""
    import zlib
    out = []
    while data:
        d = zlib.decompressobj(wbits=47)
        out.append(d.decompress(data))
        out.append(d.flush())
        if not d.eof:
            raise ValueError("truncated gzip member")
        data = d.unused_data
    return b"".join(out)


def parse_warc_records(data: bytes) -> list[dict]:
    """WARC bytes -> records ``{type, uri, content_type, headers,
    payload}``. Tolerates bare-LF header blocks (some writers) and any
    number of inter-record blank lines; malformed framing (no version
    line, missing Content-Length, payload past EOF) raises ValueError —
    the caller turns that into a per-file quarantine row."""
    if data[:2] == GZIP_MAGIC:
        data = _gunzip_members(data)
    records: list[dict] = []
    pos, n = 0, len(data)
    while pos < n:
        while pos < n and data[pos:pos + 1] in (b"\r", b"\n"):
            pos += 1
        if pos >= n:
            break
        if not data.startswith(b"WARC/", pos):
            raise ValueError("WARC version line not found")
        hdr_end, sep = data.find(b"\r\n\r\n", pos), 4
        alt = data.find(b"\n\n", pos)
        if hdr_end < 0 or (0 <= alt and alt + 1 < hdr_end):
            hdr_end, sep = alt, 2
        if hdr_end < 0:
            raise ValueError("unterminated WARC header block")
        headers: dict[str, str] = {}
        block = data[pos:hdr_end].decode("utf-8", errors="replace")
        for line in block.splitlines()[1:]:
            if ":" in line:
                k, v = line.split(":", 1)
                headers[k.strip().lower()] = v.strip()
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            raise ValueError("missing Content-Length in WARC record") from None
        body_start = hdr_end + sep
        if length < 0 or body_start + length > n:
            raise ValueError("truncated WARC record payload")
        records.append({
            "type": headers.get("warc-type", ""),
            "uri": headers.get("warc-target-uri"),
            "content_type": headers.get("content-type", ""),
            "headers": headers,
            "payload": data[body_start:body_start + length],
        })
        pos = body_start + length
    return records


def parse_http_response(payload: bytes) -> tuple[int | None, dict, bytes]:
    """``response`` record payload (raw HTTP/1.x message) -> (status,
    lowercased headers, body). A payload with no parsable status line
    returns status None (the caller quarantines the record)."""
    idx, sep = payload.find(b"\r\n\r\n"), 4
    alt = payload.find(b"\n\n")
    if idx < 0 or (0 <= alt and alt + 1 < idx):
        idx, sep = alt, 2
    if idx < 0:
        return None, {}, payload
    head = payload[:idx].decode("latin-1", errors="replace")
    lines = head.splitlines()
    status: int | None = None
    parts = lines[0].split() if lines else []
    if len(parts) >= 2 and parts[0].upper().startswith("HTTP/"):
        try:
            status = int(parts[1])
        except ValueError:
            status = None
    headers: dict[str, str] = {}
    for line in lines[1:]:
        if ":" in line:
            k, v = line.split(":", 1)
            headers[k.strip().lower()] = v.strip()
    return status, headers, payload[idx + sep:]


def warc_rows(content: bytes, warc_id: str) -> list[tuple]:
    """One WARC file -> (doc_id, status, spans) rows, the span-model
    ingest contract. doc_id = ``warc_id/<record-ordinal>`` (stable within
    the file; the ordinal counts ALL records so ids survive filtering).
    Non-200 responses and unparsable HTTP envelopes quarantine the
    RECORD; unparsable WARC framing quarantines the FILE as one row."""
    from .ingest import spans_from_bytes
    try:
        records = parse_warc_records(bytes(content))
    except Exception as exc:
        return [(warc_id, f"error: Error processing WARC: {exc}", [])]
    rows: list[tuple] = []
    for i, rec in enumerate(records):
        rtype = rec["type"].lower()
        doc_id = f"{warc_id}/{i}"
        target = rec["uri"] or doc_id
        if rtype == "response":
            code, http_headers, body = parse_http_response(rec["payload"])
            if code is None:
                rows.append((doc_id, "error: invalid HTTP response record",
                             []))
                continue
            if code != 200:
                rows.append((doc_id, f"error: HTTP status {code}", []))
                continue
        elif rtype in ("conversion", "resource"):
            # direct-content records (CommonCrawl WET files are
            # ``conversion`` + text/plain): the WARC Content-Type is the
            # payload's own type, no HTTP envelope to strip.
            http_headers = {"content-type": rec["content_type"]}
            body = rec["payload"]
        else:
            continue                      # warcinfo/request/metadata/...
        ct = http_headers.get("content-type", "")
        if is_html_content(ct, target):
            html = body.decode("utf-8", errors="replace")
            rows.append((doc_id, None, [{
                "kind": "html_page", "text": html,
                "media_ref": target, "offset": 0}]))
        else:
            filename = filename_from_response(http_headers, target)
            status, spans = spans_from_bytes(body, filename)
            rows.append((doc_id, status, spans))
    return rows


def ingest_warc_df(df: DataFrame, id_col: str = "doc_id",
                   payload_col: str = "content") -> DataFrame:
    """(warc_id, warc bytes) -> (doc_id, status, spans) span-model rows,
    one per response/conversion/resource record. No repartition: the
    input split (one WARC file) is the intended unit of work — see the
    module scale notes."""
    src = df.select(F.col(id_col).cast("string").alias("warc_id"),
                    F.col(payload_col).alias("payload"))

    def kernel(batches: Iterator) -> Iterator:
        import pandas as pd
        for b in batches:
            rows: list[tuple] = []
            for warc_id, payload in zip(b["warc_id"], b["payload"]):
                payload = bytes(payload) if payload is not None else b""
                rows.extend(warc_rows(payload, warc_id))
            yield pd.DataFrame(rows, columns=["doc_id", "status", "spans"])

    return src.mapInPandas(kernel, schema=_URL_SCHEMA)


def extract_from_warc(df: DataFrame, **kwargs) -> DataFrame:
    """Full WARC pipeline: record split + routing -> JVM fan-out ->
    extraction kernel, mirroring ingest.extract_from_bytes. Nothing is
    persisted: one action runs each kernel once per row, and a second
    action decompresses and re-splits each WARC again."""
    from .pipeline import extract_spans_df
    ingest_kwargs = {k: kwargs.pop(k) for k in ("id_col", "payload_col")
                     if k in kwargs}
    return extract_spans_df(ingest_warc_df(df, **ingest_kwargs), **kwargs)


# ---------------------------------------------------------------------------
# WET writer — the sink twin of the conversion-record source path
# ---------------------------------------------------------------------------

WET_DATE = "2024-01-01T00:00:00Z"


def build_wet_record(uri: str, text: str, date: str = WET_DATE,
                     gzip_member: bool = False) -> bytes:
    """One extracted document -> a ``conversion`` record in the
    CommonCrawl WET interchange shape (optionally as its own gzip
    member, the CC packaging). ``parse_warc_records`` inverts this
    exactly — the round-trip is gated hash-exact in ext_wet_roundtrip.
    The record id derives from the URI and the date is pinned by the
    caller, so output bytes are reproducible across reruns (idempotent
    re-exports produce identical files)."""
    import gzip
    import hashlib
    body = text.encode("utf-8")
    rid = hashlib.md5(uri.encode("utf-8")).hexdigest()
    hdr = [b"WARC/1.0", b"WARC-Type: conversion",
           f"WARC-Record-ID: <urn:uuid:{rid}>".encode(),
           f"WARC-Date: {date}".encode(),
           f"WARC-Target-URI: {uri}".encode(),
           b"Content-Type: text/plain",
           f"Content-Length: {len(body)}".encode()]
    record = b"\r\n".join(hdr) + b"\r\n\r\n" + body + b"\r\n\r\n"
    return gzip.compress(record, mtime=0) if gzip_member else record


def build_wat_record(uri: str, html: str, date: str = WET_DATE,
                     gzip_member: bool = False) -> bytes:
    """One fetched page -> a ``metadata`` record in the CommonCrawl WAT
    interchange shape: a JSON envelope carrying the target URI, the
    page ``<title>`` (RCDATA, entity-unescaped — html.find_title) and
    the document-order RAW ``<a href>`` list as ``{"path": "A@/href",
    "url": ...}`` entries (WAT stores the href verbatim; scheme
    filtering and resolution are the frontier's job, graph.py). JSON is
    dumped with sorted keys and compact separators and the record id
    derives from the URI, so re-exports are byte-identical — the same
    idempotency contract as ``build_wet_record``."""
    import gzip
    import hashlib
    import json

    from .extractors.html import find_hrefs, find_title

    title = find_title(html or "")
    html_meta: dict = {
        "Links": [{"path": "A@/href", "url": h}
                  for h in find_hrefs(html or "")],
    }
    if title is not None:
        html_meta["Head"] = {"Title": title}
    env = {"Envelope": {
        "WARC-Header-Metadata": {"WARC-Target-URI": uri,
                                 "WARC-Type": "response"},
        "Payload-Metadata": {
            "HTTP-Response-Metadata": {"HTML-Metadata": html_meta}},
    }}
    body = json.dumps(env, separators=(",", ":"),
                      sort_keys=True).encode("utf-8")
    rid = hashlib.md5(("wat:" + uri).encode("utf-8")).hexdigest()
    hdr = [b"WARC/1.0", b"WARC-Type: metadata",
           f"WARC-Record-ID: <urn:uuid:{rid}>".encode(),
           f"WARC-Date: {date}".encode(),
           f"WARC-Target-URI: {uri}".encode(),
           b"Content-Type: application/json",
           f"Content-Length: {len(body)}".encode()]
    record = b"\r\n".join(hdr) + b"\r\n\r\n" + body + b"\r\n\r\n"
    return gzip.compress(record, mtime=0) if gzip_member else record


def wat_records_df(df: DataFrame, uri_col: str = "uri",
                   html_col: str = "html", date: str = WET_DATE,
                   gzip_members: bool = True,
                   gzip_member_col: str | None = None) -> DataFrame:
    """(uri, html) rows -> (uri, wat: binary) metadata records — the
    WAT twin of ``wet_records_df``: one Arrow kernel, no shuffle, sink
    tasks concatenate a partition into one .warc.wat.gz. Same
    ``gzip_member_col`` per-row override so mixed exports stay one
    kernel over one scan."""
    from collections.abc import Iterator as _It
    from pyspark.sql.types import (BinaryType, StringType, StructField,
                                   StructType)
    gz = (F.col(gzip_member_col).cast("boolean")
          if gzip_member_col else F.lit(bool(gzip_members)))
    src = df.select(F.col(uri_col).cast("string").alias("uri"),
                    F.col(html_col).alias("html"), gz.alias("gz"))
    schema = StructType([StructField("uri", StringType(), False),
                         StructField("wat", BinaryType())])

    def kernel(batches: _It) -> _It:
        import pandas as pd
        for b in batches:
            rows = [(uri, build_wat_record(uri, html or "", date=date,
                                           gzip_member=bool(g)))
                    for uri, html, g in zip(b["uri"], b["html"], b["gz"])]
            yield pd.DataFrame(rows, columns=["uri", "wat"])

    return src.mapInPandas(kernel, schema=schema)


def wet_records_df(df: DataFrame, uri_col: str = "uri",
                   text_col: str = "text", date: str = WET_DATE,
                   gzip_members: bool = True,
                   gzip_member_col: str | None = None) -> DataFrame:
    """(uri, text) rows -> (uri, wet: binary) conversion records, one
    Arrow kernel, no shuffle. A sink task concatenates its partition's
    records into one .warc.wet.gz (gzip members concatenate by
    design), so export parallelism is the partition count.
    ``gzip_member_col`` names a per-row boolean overriding the global
    flag — mixed exports stay ONE kernel over ONE scan instead of a
    filtered-branch union."""
    from collections.abc import Iterator as _It
    from pyspark.sql.types import (BinaryType, BooleanType, StringType,
                                   StructField, StructType)
    gz = (F.col(gzip_member_col).cast("boolean")
          if gzip_member_col else F.lit(bool(gzip_members)))
    src = df.select(F.col(uri_col).cast("string").alias("uri"),
                    F.col(text_col).alias("text"), gz.alias("gz"))
    schema = StructType([StructField("uri", StringType(), False),
                         StructField("wet", BinaryType())])

    def kernel(batches: _It) -> _It:
        import pandas as pd
        for b in batches:
            rows = [(uri, build_wet_record(uri, text or "", date=date,
                                           gzip_member=bool(g)))
                    for uri, text, g in zip(b["uri"], b["text"], b["gz"])]
            yield pd.DataFrame(rows, columns=["uri", "wet"])

    return src.mapInPandas(kernel, schema=schema)
