"""URL source (S3): the reference's ``/v1/extract/url`` flow re-expressed
for batch ingestion.

Network I/O is INJECTED (``fetch``/``resolver`` callables): this sandbox
has no network, and at 10^12 docs the fetch tier is its own service
anyway. What the engine owns — and what is pinned here check-for-check —
is the decidable logic:

* SSRF validation (`_is_safe_url`, app/extractors.py:2851-2871): http(s)
  scheme only (:2872-2877), hostname blocklist (:2879-2889 + defaults
  app/config.py:121-123), per-resolved-IP checks — loopback/private/
  link-local (:2938-2945), blocked CIDR ranges (:2947-2965 + defaults
  config.py:115-118), the 169.254.169.254 metadata service (:2967-2972),
  the Docker bridge gateway 172.16-31.0.1 (:2974-2987); DNS failure and
  any validation exception FAIL CLOSED (:2891-2902, :2866-2870); invalid
  resolved IPs are NOT blocked (:2934-2936).
* Content routing (`_is_html_content`, :2442-2475): Content-Type first,
  text/plain by URL extension, empty/octet-stream by extension with
  extensionless meaning "dynamic page".
* Filename derivation (`_extract_filename_from_response`, :2589-2630):
  Content-Disposition, else last URL path segment (unquoted), extension
  backfilled from the MIME map (config.py:269-293), sanitized (S1).
* Error surface: the endpoint's message strings (app/main.py:516-639).

HTML pages route to the page-mode strip (E12) via the ``html_page`` span
kind; file URLs route through the byte-ingestion path (S5-S7 + archives)
— both extracted by the SAME downstream kernel, exactly once per row.
"""

from __future__ import annotations

import ipaddress
import re
from collections.abc import Iterator
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType, IntegerType, StringType, StructField, StructType,
)

# app/config.py:115-118
BLOCKED_IP_RANGES = (
    "127.0.0.0/8,10.0.0.0/8,172.16.0.0/12,192.168.0.0/16,169.254.0.0/16,"
    "::1/128,fe80::/10"
)
# app/config.py:121-123
BLOCKED_HOSTNAMES = "localhost,host.docker.internal,ip6-localhost,ip6-loopback"
# app/config.py:269-293
MIME_TO_EXTENSION = {
    "application/pdf": "pdf",
    "application/msword": "doc",
    "application/vnd.openxmlformats-officedocument.wordprocessingml"
    ".document": "docx",
    "application/vnd.ms-excel": "xls",
    "application/vnd.openxmlformats-officedocument.spreadsheetml"
    ".sheet": "xlsx",
    "application/vnd.ms-powerpoint": "ppt",
    "application/vnd.openxmlformats-officedocument.presentationml"
    ".presentation": "pptx",
    "application/zip": "zip",
    "application/x-rar-compressed": "rar",
    "application/x-7z-compressed": "7z",
    "application/x-tar": "tar",
    "application/gzip": "gz",
    "image/jpeg": "jpg",
    "image/png": "png",
    "image/gif": "gif",
    "image/bmp": "bmp",
    "image/tiff": "tiff",
    "text/plain": "txt",
    "text/html": "html",
    "text/csv": "csv",
    "application/json": "json",
    "application/xml": "xml",
    "text/xml": "xml",
}


def default_resolver(hostname: str) -> list[str]:
    """Literal-IP-only resolver. With no network, a non-literal hostname
    "does not resolve", and the reference fails closed on DNS failure
    (app/extractors.py:2891-2902 -> :2856-2858)."""
    try:
        return [str(ipaddress.ip_address(hostname))]
    except ValueError:
        return []


def _ip_safe(ip_str: str) -> bool:
    try:
        ip = ipaddress.ip_address(ip_str)
    except ValueError:
        return True                       # invalid IP not blocked (:2934-2936)
    if ip.is_loopback or ip.is_private or ip.is_link_local:
        return False                      # :2938-2945
    for range_str in BLOCKED_IP_RANGES.split(","):
        range_str = range_str.strip()
        if range_str and ip in ipaddress.ip_network(range_str, strict=False):
            return False                  # :2947-2965
    if str(ip) == "169.254.169.254":
        return False                      # :2967-2972
    if ip.version == 4:                   # :2974-2987
        octets = str(ip).split(".")
        if (octets[0] == "172" and 16 <= int(octets[1]) <= 31
                and octets[2] == "0" and octets[3] == "1"):
            return False
    return True


def is_safe_url(url: str, resolver=default_resolver) -> bool:
    """`_is_safe_url` (app/extractors.py:2851-2871): fail-closed SSRF
    gate over scheme, hostname blocklist and every resolved IP."""
    try:
        parsed = urlparse(url)
        if parsed.scheme not in ("http", "https"):
            return False
        hostname = parsed.hostname
        if not hostname:
            return False
        blocked = {h.strip().lower()
                   for h in BLOCKED_HOSTNAMES.split(",") if h.strip()}
        if hostname.lower() in blocked:
            return False
        ips = resolver(hostname)
        if not ips:
            return False
        return all(_ip_safe(ip) for ip in ips)
    except Exception:
        return False                      # fail closed (:2866-2870)


def _url_extension(name: str) -> str | None:
    from .ingest import get_file_extension
    return get_file_extension(name)


def is_html_content(content_type: str, url: str) -> bool:
    """`_is_html_content` (app/extractors.py:2442-2475)."""
    ct = content_type or ""
    if "text/html" in ct or "application/xhtml" in ct:
        return True
    if "text/plain" in ct:
        return _url_extension(url.split("?")[0]) in ("html", "htm")
    if not ct or "application/octet-stream" in ct:
        ext = _url_extension(url.split("?")[0])
        return ext in ("html", "htm") or ext is None
    return False


def filename_from_response(headers: dict, url: str) -> str:
    """`_extract_filename_from_response` (app/extractors.py:2589-2630)."""
    from .ingest import sanitize_filename
    headers = {k.lower(): v for k, v in (headers or {}).items()}
    cd = headers.get("content-disposition", "")
    if "filename=" in cd:
        m = re.search(r'filename=["\']*([^"\';\r\n]*)', cd)
        if m and m.group(1).strip():
            return sanitize_filename(m.group(1).strip())
    filename = unquote(urlparse(url).path.split("/")[-1])
    if not _url_extension(filename):
        ct = headers.get("content-type", "").lower().split(";")[0].strip()
        ext = MIME_TO_EXTENSION.get(ct)
        if ext:
            filename = f"{filename}.{ext}"
    return sanitize_filename(filename) if filename else "downloaded_file"


# app/config.py:78-84,98-99
MAX_IMAGES_PER_PAGE = 20
MIN_IMAGE_SIZE_FOR_OCR = 22500
# the images_ocr whitelist (app/config.py:127)
_IMAGES_OCR = ("jpg", "jpeg", "png", "tiff", "tif", "bmp", "gif", "webp")
# get_extension_from_mime's exact-match table, in ITERATION ORDER — the
# reference substring-matches each mime against the content type
# (app/utils.py:740-755).
_IMG_MIME_EXT = [
    ("image/jpeg", "jpg"), ("image/jpg", "jpg"), ("image/png", "png"),
    ("image/webp", "webp"), ("image/gif", "gif"), ("image/bmp", "bmp"),
    ("image/tiff", "tiff"), ("image/tif", "tif"),
]


def image_ext_from_mime(content_type: str | None) -> str | None:
    """``get_extension_from_mime`` (app/utils.py:719-776) over the
    images_ocr whitelist: exact-table substring pass first, then the
    partial-match fallbacks ('jpeg' anywhere -> jpg, etc.)."""
    if not content_type:
        return None
    ct = content_type.lower().strip()
    for mime, ext in _IMG_MIME_EXT:
        if mime in ct and ext in _IMAGES_OCR:
            return ext
    if "jpeg" in ct or "jpg" in ct:
        return "jpg"
    if "png" in ct:
        return "png"
    if "webp" in ct:
        return "webp"
    if "gif" in ct:
        return "gif"
    if "bmp" in ct:
        return "bmp"
    if "tiff" in ct or "tif" in ct:
        return "tiff"
    return None


def _image_dims(content: bytes) -> tuple[int, int] | None:
    """PIL-identifiability stand-in: real header decodes (7 formats + all
    three WEBP layouts). The URL-image path applies no format whitelist —
    only ``Image.open`` success and the pixel floor
    (app/extractors.py:3225-3238)."""
    from .functions.multimodal import ocr_gate
    gate = ocr_gate(content)
    if gate["width"] is None or gate["height"] is None:
        return None
    return gate["width"], gate["height"]


def _media_span(filename: str, path: str, size: int, img_type: str,
                width: int, height: int) -> dict:
    import json
    # real JSON encoding (quotes/backslashes in filenames or URLs must
    # escape); compact separators keep the closed-form oracle literals
    ref = json.dumps({"filename": filename, "path": path, "size": size,
                      "type": img_type, "width": width, "height": height},
                     separators=(",", ":"))
    return {"kind": "media", "text": None, "media_ref": ref, "offset": 0}


def _process_base64_image(src: str) -> dict | None:
    """``_process_base64_image`` (app/extractors.py:3279-3359), decidable
    part: data-URI mime -> whitelisted extension, base64 decode, dims
    floor. The OCR text itself is the external Tesseract tier; the record
    (filename/path/size/type) is what the engine owns. Any unexpected
    exception drops THIS image only (per-image try, :3355-3359)."""
    try:
        return _process_base64_image_inner(src)
    except Exception:
        return None


def _process_base64_image_inner(src: str) -> dict | None:
    import base64
    if not src.startswith("data:image/"):
        return None
    if ";" not in src:                  # extract_mime_from_base64_data_uri
        return None                     # (app/utils.py:810-833)
    mime = src.split(";")[0].replace("data:", "")
    if not mime.startswith("image/"):
        return None
    ext = image_ext_from_mime(mime)
    if not ext:
        return None
    if "," not in src:                  # decode_base64_image (:779-807)
        return None
    try:
        content = base64.b64decode(src.split(",", 1)[1])
    except Exception:
        return None
    if not content:
        return None
    dims = _image_dims(content)
    if dims is None:
        return None
    if dims[0] * dims[1] < MIN_IMAGE_SIZE_FOR_OCR:
        return None                     # silently skipped (:3330-3338)
    return _media_span(f"base64_image.{ext}",
                       f"data:image/{ext};base64,[base64_data]",
                       len(content), ext, dims[0], dims[1])


def _process_url_image(src: str, base_url: str, fetch, user_agent,
                       resolver) -> dict | None:
    """``_process_single_image`` (app/extractors.py:3173-3277): relative ->
    absolute, per-image SSRF gate, fetch, dims floor, filename derivation
    (basename, extension backfilled from content-type via the images_ocr
    whitelist or the image is dropped). Any unexpected exception drops
    THIS image only (the reference's per-image try, :3173-3277)."""
    try:
        return _process_url_image_inner(src, base_url, fetch, user_agent,
                                        resolver)
    except Exception:
        return None


def _process_url_image_inner(src, base_url, fetch, user_agent, resolver):
    import os.path
    from urllib.parse import urljoin
    if not src:
        return None
    img_url = urljoin(base_url, src)
    if not is_safe_url(img_url, resolver=resolver):
        return None
    try:
        resp = fetch(img_url, user_agent)
        content = resp.get("content") or b""
    except Exception:
        return None
    if not content:
        return None
    dims = _image_dims(content)
    if dims is None:
        return None
    if dims[0] * dims[1] < MIN_IMAGE_SIZE_FOR_OCR:
        return None
    filename = os.path.basename(urlparse(img_url).path) or "image"
    if "." not in filename:
        headers = {k.lower(): v for k, v in (resp.get("headers") or {}).items()}
        ext = image_ext_from_mime(headers.get("content-type", "").lower())
        if not ext:
            return None                 # unsupported MIME -> ignored
        filename = f"{filename}.{ext}"
    return _media_span(filename, img_url, len(content),
                       filename.split(".")[-1].lower(), dims[0], dims[1])


def harvest_images(html: str, base_url: str, fetch, user_agent=None,
                   resolver=default_resolver,
                   max_images: int = MAX_IMAGES_PER_PAGE,
                   enable_base64: bool = True) -> list[dict]:
    """``_extract_images_from_html`` (app/extractors.py:3016-3058): the
    first ``max_images`` <img src> tags in document order, categorized
    into base64-data-URI vs URL images, processed base64-first then URL
    (:3046-3052) — each surviving image becomes one media span after the
    page record. A valueless ``src`` parses as ``""`` under the reference's
    lxml builder (:3086), is categorized as a URL image, and is dropped by
    ``_process_single_image``'s ``if not img_src`` guard (:3181) — only
    that one image is lost; the rest of the page's images survive."""
    from .extractors.html import find_img_srcs
    srcs = find_img_srcs(html, cap=max_images)
    base64_srcs, url_srcs = [], []
    for src in srcs:
        if src.startswith("data:image/") and enable_base64:
            base64_srcs.append(src)
        else:
            url_srcs.append(src)
    out = [_process_base64_image(s) for s in base64_srcs]
    out += [_process_url_image(s, base_url, fetch, user_agent, resolver)
            for s in url_srcs]
    return [span for span in out if span is not None]


def spans_from_url(url: str, fetch, user_agent: str | None = None,
                   resolver=default_resolver, process_images: bool = True):
    """One URL -> (status|None, input spans), the spans_from_bytes
    contract. ``fetch(url, user_agent)`` must return a dict with
    ``content_type``, ``final_url``, ``headers`` and ``content`` (bytes);
    error strings mirror the endpoint's surface (app/main.py:516-639).
    HTML pages yield the page span plus harvested <img> media spans
    (``process_images``, default on like settings.process_images)."""
    from .ingest import spans_from_bytes
    url = (url or "").strip()
    if not url:
        return "error: URL is required", []
    if not url.startswith(("http://", "https://")):
        return "error: URL must start with http:// or https://", []
    if not is_safe_url(url, resolver=resolver):
        return ("error: Access to internal IP addresses is prohibited "
                "for security reasons."), []
    if fetch is None:
        return ("error: Error processing URL: network access is not "
                "available in this environment"), []
    try:
        resp = fetch(url, user_agent)
        content = resp.get("content") or b""
        content_type = resp.get("content_type") or ""
        final_url = resp.get("final_url") or url
    except Exception as exc:              # extract_from_url wrapper :2685-2687
        return f"error: Error processing URL: {exc}", []
    if is_html_content(content_type, final_url):
        html = content.decode("utf-8", errors="replace")
        spans = [{"kind": "html_page", "text": html,
                  "media_ref": final_url, "offset": 0}]
        if process_images:
            # page record first, then one media span per harvested image —
            # the reference's normative record order (app/extractors.py:
            # 2749-2765: page content appended, then image_texts extend).
            for i, span in enumerate(harvest_images(
                    html, final_url, fetch, user_agent=user_agent,
                    resolver=resolver), start=1):
                span["offset"] = i
                spans.append(span)
        return None, spans
    filename = filename_from_response(resp.get("headers") or {}, final_url)
    return spans_from_bytes(content, filename)


_URL_SCHEMA = StructType([
    StructField("doc_id", StringType(), False),
    StructField("status", StringType()),
    StructField("spans", ArrayType(StructType([
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
    ]))),
])


def ingest_urls_df(df: DataFrame, fetch, url_col: str = "url",
                   user_agent: str | None = None,
                   resolver=default_resolver,
                   process_images: bool = True,
                   partitions: int | None = None) -> DataFrame:
    """URL table -> span-model documents (doc_id = url). One Arrow kernel
    per row does validation + injected fetch + routing; extraction runs
    in the SAME downstream kernel as every other source, exactly once.
    Quarantine rows carry the endpoint's error strings in ``status``.

    The url list is hash-repartitioned BEFORE the kernel (default
    2x defaultParallelism): a URL table is tiny on disk but each row is
    real fetch+parse work, so inheriting the file's input splits would
    serialize the whole fetch tier onto a handful of tasks."""
    spark = df.sparkSession
    if partitions is None:
        partitions = spark.sparkContext.defaultParallelism * 2
    src = df.select(url_col).repartition(partitions, F.col(url_col))
    def kernel(batches: Iterator) -> Iterator:
        import pandas as pd
        for b in batches:
            rows = []
            for url in b[url_col]:
                status, spans = spans_from_url(
                    url, fetch, user_agent=user_agent, resolver=resolver,
                    process_images=process_images)
                rows.append((url, status, spans))
            yield pd.DataFrame(rows, columns=["doc_id", "status", "spans"])
    return src.mapInPandas(kernel, schema=_URL_SCHEMA)


def extract_from_urls(df: DataFrame, fetch,
                      cache_registry: list | None = None,
                      **kwargs) -> DataFrame:
    """Full URL pipeline: validate+fetch+route -> JVM fan-out ->
    extraction kernel, mirroring ingest.extract_from_bytes.

    The ingest output is persisted (MEMORY_AND_DISK). The one-pass
    extraction plan reads it once; the cache keeps a second action on
    the result from FETCHING each URL again — wrong for a
    side-effecting network tier. The cache is not released here (the
    result is lazy): looping callers pass ``cache_registry=`` and free
    each job via ``ingest.release_caches(registry)``; the handle also
    rides on the untouched result as ``result.ingest_cache`` for
    one-shot callers (a plain attribute — lost on any transformation)."""
    from pyspark import StorageLevel
    from .pipeline import extract_spans_df
    ingest_kwargs = {k: kwargs.pop(k) for k in
                     ("url_col", "user_agent", "resolver", "process_images",
                      "partitions") if k in kwargs}
    ing = ingest_urls_df(df, fetch, **ingest_kwargs).persist(
        StorageLevel.MEMORY_AND_DISK)
    if cache_registry is not None:
        cache_registry.append(ing)
    out = extract_spans_df(ing, **kwargs)
    out.ingest_cache = ing
    return out
