"""Host-graph ranking: PageRank as a distributed power iteration.

Crawl pipelines use host/domain-level PageRank (or harmonic centrality,
e.g. the CommonCrawl host ranks) as a quality PRIOR: a page inherits a
score from its host's position in the link graph before any content is
read. The iteration is the classic join+aggregate shape — each round is
one equi-join of ranks onto edges plus one map-side-combined groupBy on
the destination — which is exactly how GraphX/Pregel lowers it, so the
plan scales to billion-edge host graphs (edges shuffle once per round on
uniform host keys; ranks are one row per host).

Determinism: ranks are integer "units" (the total starts at RANK_SCALE),
every transfer is floor division — (r * damping_milli) // 1_000_000 //
out_deg — so each iteration is exact integer arithmetic with a DuckDB
twin (queries.py unrolls the rounds as chained CTEs, the kmeans oracle
trick). Mass lost to flooring and to dangling hosts (no out-links) is
dropped, not redistributed — documented, identical in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

RANK_SCALE = 1_000_000_000_000  # total initial rank mass (integer units)


def pagerank(edges: DataFrame, iters: int = 2,
             damping_milli: int = 850_000,
             src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """Integer-exact PageRank over a (src, dst) edge list.

    * nodes = distinct endpoints; r0 = RANK_SCALE // N each
    * per round: share(u) = (r(u) * damping_milli) // 1e6 // out_deg(u),
      r'(v) = teleport + sum of shares over in-edges(v), with
      teleport = (RANK_SCALE * (1e6 - damping_milli)) // 1e6 // N
    * dangling hosts keep receiving teleport but their own mass drops
      (the no-redistribution variant — exact and order-free)

    Returns (host, rank) with rank in integer units. The edge list is
    read every round (persist it upstream for many iterations); ranks
    never leave the executors — no driver state at all.
    """
    from pyspark.storagelevel import StorageLevel

    src, dst = F.col(src_col).alias("host"), F.col(dst_col).alias("host")
    # one row per host, read by the count plus every iteration's rank
    # rebuild — persist so the endpoint union+distinct shuffle (the most
    # expensive stage on a billion-edge graph) runs once, not iters+1
    # times; the cache stays until the session unpersists it (Spark's
    # CacheManager keeps it past the last driver reference)
    nodes = (edges.select(src).union(edges.select(dst)).distinct()
             .persist(StorageLevel.MEMORY_AND_DISK))
    n = nodes.count()  # one scalar; the only driver-side value
    if n == 0:
        raise ValueError("pagerank: empty edge list (no hosts to rank)")
    teleport = (RANK_SCALE * (1_000_000 - damping_milli)) // 1_000_000 // n
    out_deg = (edges.groupBy(F.col(src_col).alias("host"))
               .agg(F.count("*").alias("deg")))
    ranks = nodes.withColumn("rank", F.lit(RANK_SCALE // n).cast("long"))
    for _ in range(iters):
        shares = (
            edges.join(ranks.withColumnRenamed("host", src_col), src_col)
            .join(out_deg.withColumnRenamed("host", src_col), src_col)
            .select(
                F.col(dst_col).alias("host"),
                F.call_function(
                    "div",
                    F.call_function(
                        "div", F.col("rank") * damping_milli,
                        F.lit(1_000_000)),
                    F.col("deg")).alias("share"))
        )
        inbound = shares.groupBy("host").agg(F.sum("share").alias("inflow"))
        ranks = (
            nodes.join(inbound, "host", "left")
            .select("host",
                    (F.lit(teleport)
                     + F.coalesce(F.col("inflow"), F.lit(0)))
                    .cast("long").alias("rank"))
        )
    return ranks


_SKIP_SCHEMES = ("javascript:", "mailto:", "data:", "tel:")


def _resolve_outlinks(page_url: str, html: str,
                      cap: int | None = None) -> list[tuple[int, str, str, str]]:
    """(link_idx, raw href, resolved absolute URL, lowercased host) for
    every fetchable ``<a href>`` in document order: RFC 3986 resolution
    (stdlib ``urljoin`` — relative paths, dot segments, //network-path,
    query-only all handled), fragments stripped from the result,
    empty/fragment-only hrefs and non-fetchable schemes skipped."""
    from urllib.parse import urljoin, urlsplit, urlunsplit

    from ..extractors.html import find_hrefs

    out = []
    for idx, href in enumerate(find_hrefs(html, cap=cap)):
        h = href.strip()
        if not h or h.startswith("#"):
            continue
        if h.lower().startswith(_SKIP_SCHEMES):
            continue
        try:
            # urljoin/urlsplit raise ValueError on malformed authorities
            # (e.g. 'http://[bad' -> "Invalid IPv6 URL"); one hostile href
            # must drop itself, never the kernel task.
            parts = urlsplit(urljoin(page_url, h))
        except ValueError:
            continue
        resolved = urlunsplit((parts.scheme, parts.netloc, parts.path,
                               parts.query, ""))
        host = (parts.hostname or "").lower()
        if not host:
            continue
        out.append((idx, href, resolved, host))
    return out


def harvest_outlinks(df: DataFrame, id_col: str = "doc_id",
                     url_col: str = "url", html_col: str = "html",
                     cap: int | None = None) -> DataFrame:
    """Outlink extraction over (id, page URL, HTML) rows — the edge-list
    producer for ``pagerank`` and crawl frontiers. One Arrow kernel per
    row (iterator-form mapInPandas, never row-at-a-time Python);
    compose with ``F.transform``-free downstream ops: the host column
    feeds ``registrable_domain_col`` + ``pagerank`` directly."""
    from pyspark.sql.types import (IntegerType, LongType, StringType,
                                   StructField, StructType)

    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("link_idx", IntegerType()),
        StructField("href", StringType()),
        StructField("resolved", StringType()),
        StructField("host", StringType()),
    ])

    def kernel(batches):
        import pandas as pd
        for b in batches:
            rows = []
            for doc_id, url, html in zip(b["doc_id"], b["url"], b["html"]):
                for idx, href, resolved, host in _resolve_outlinks(
                        str(url), str(html), cap=cap):
                    rows.append((int(doc_id), idx, href, resolved, host))
            yield pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    src = df.select(F.col(id_col).alias("doc_id"),
                    F.col(url_col).alias("url"),
                    F.col(html_col).alias("html"))
    return src.mapInPandas(kernel, schema=schema)


# ---------------------------------------------------------------------------
# robots.txt compliance (RFC 9309) — the crawl-politeness gate
# ---------------------------------------------------------------------------

def parse_robots(content: str) -> list[tuple[list[str], list[tuple[bool, str]]]]:
    """robots.txt -> [(user_agent_tokens, [(is_allow, path_pattern)])]
    groups, per RFC 9309 §2.2: consecutive ``User-agent`` lines share
    one group; comments stripped at ``#``; unknown directives ignored
    (they do NOT break a group, matching the spec's extensibility
    rule); a rule line before any user-agent line is ignored. A
    leading UTF-8 BOM is stripped — a BOM'd first User-agent line
    otherwise goes unrecognized and the gate fails OPEN on the whole
    host."""
    content = (content or "").lstrip("\ufeff")
    groups: list[tuple[list[str], list[tuple[bool, str]]]] = []
    agents: list[str] = []
    rules: list[tuple[bool, str]] = []
    collecting_agents = True
    for raw in content.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, value = line.partition(":")
        key, value = key.strip().lower(), value.strip()
        if key == "user-agent":
            if not collecting_agents and agents:
                groups.append((agents, rules))
                agents, rules = [], []
            collecting_agents = True
            agents.append(value.lower())
        elif key in ("allow", "disallow"):
            if not agents:
                continue
            collecting_agents = False
            if value:
                rules.append((key == "allow", value))
            elif key == "disallow":
                # "Disallow:" (empty) == allow everything: no rule
                pass
        # crawl-delay/sitemap/unknown: ignored, group stays open
    if agents:
        groups.append((agents, rules))
    return groups


def _robots_pattern_match(pattern: str, path: str) -> int | None:
    """RFC 9309 §2.2.3 path matching: literal octets, ``*`` any span,
    ``$`` end anchor. Returns the pattern's specificity (its length,
    the longest-match tiebreak unit) or None."""
    anchored = pattern.endswith("$")
    pat = pattern[:-1] if anchored else pattern
    parts = pat.split("*")
    pos, first = 0, True
    for part in parts:
        if first:
            if not path.startswith(part):
                return None
            pos = len(part)
            first = False
            continue
        idx = path.find(part, pos)
        if idx < 0:
            return None
        pos = idx + len(part)
    if anchored and pos != len(path):
        # the final literal must sit at the end; with a trailing "*"
        # before "$" any tail is already consumed greedily — but only
        # when a real "*" exists. A pattern with NO "*" (incl. bare
        # "$") anchors the whole literal: path must equal it exactly
        # (RFC 9309 §2.2.3 — "/fish$" must not match "/fish/fish").
        if len(parts) == 1:
            return None
        if parts[-1] == "":
            pass                     # real trailing "*$": tail consumed
        elif not path.endswith(parts[-1]) or len(path) < len(pat.replace("*", "")):
            return None
        pos = len(path)
    return len(pattern)


def robots_decision(content: str, user_agent: str, path: str) -> bool:
    """May ``user_agent`` fetch ``path``? RFC 9309 group selection (most
    specific matching user-agent token, ``*`` fallback, no group =
    allow) + longest-match rule evaluation (ties break to allow,
    §2.2.2). Empty/unparseable robots.txt allows everything — the
    fail-open the spec mandates for MISSING rules (a 5xx robots fetch
    fails closed, but that is the fetch tier's call, not the parser's).
    """
    return _robots_decision_groups(parse_robots(content), user_agent,
                                   path)


def _robots_decision_groups(groups, user_agent: str, path: str) -> bool:
    """robots_decision over pre-parsed groups (kernels parse each
    distinct robots.txt once and evaluate many paths against it)."""
    ua = (user_agent or "").lower()
    best_group, best_ua_len = None, -1
    for agents, rules in groups:
        for token in agents:
            if token == "*":
                if best_ua_len < 0:
                    best_group = rules
            elif token and token in ua:
                if len(token) > best_ua_len:
                    best_group, best_ua_len = rules, len(token)
    if best_group is None:
        return True
    best_len, allow = -1, True
    for is_allow, pattern in best_group:
        m = _robots_pattern_match(pattern, path)
        if m is None:
            continue
        if m > best_len or (m == best_len and is_allow and not allow):
            best_len, allow = m, is_allow
    return allow if best_len >= 0 else True


def robots_filter(df: DataFrame, robots: DataFrame, user_agent: str,
                  url_col: str = "url") -> DataFrame:
    """Tag frontier URLs with the robots verdict: join each URL's host
    to its robots.txt (the robots table is per-host and tiny next to
    the frontier — it BROADCASTS; the frontier never shuffles), then
    evaluate RFC 9309 in one Arrow kernel per row. Hosts with no
    robots row allow everything (missing file = allow, §2.3.1.2);
    unparseable URLs default to path "/" and allow.

    Output: ALL frontier columns (types preserved), plus (host, path,
    robots_allowed). Each distinct robots.txt parses once per kernel
    task. The frontier must not already carry host/path/robots_txt
    columns (they are the operator's working names)."""
    from collections.abc import Iterator as _It
    from pyspark.sql.types import (BooleanType as _B, StringType as _S,
                                   StructField as _F, StructType as _T)
    src = df.withColumns({
        "host": F.lower(F.coalesce(
            F.try_parse_url(F.col(url_col), F.lit("HOST")), F.lit(""))),
        "path": F.coalesce(F.try_parse_url(F.col(url_col), F.lit("PATH")),
                           F.lit("/")),
    })
    joined = src.join(F.broadcast(robots.select(
        F.lower(F.col("host")).alias("host"),
        F.col("robots_txt"))), "host", "left")
    schema = _T([f for f in joined.schema.fields
                 if f.name != "robots_txt"]
                + [_F("robots_allowed", _B())])

    def kernel(batches: _It) -> _It:
        cache: dict = {}

        def decide(txt, path):
            path = path or "/"
            if txt is None:
                return True
            groups = cache.get(txt)
            if groups is None:
                groups = cache[txt] = parse_robots(txt)
            return _robots_decision_groups(groups, user_agent, path)

        for b in batches:
            verdict = [decide(t, p)
                       for t, p in zip(b["robots_txt"], b["path"])]
            out = b.drop(columns=["robots_txt"])
            out["path"] = [p or "/" for p in b["path"]]
            out["robots_allowed"] = verdict
            yield out

    return joined.mapInPandas(kernel, schema=schema)


# ---------------------------------------------------------------------------
# Sitemap ingestion (sitemaps.org protocol) — the frontier's other producer
# ---------------------------------------------------------------------------

def sitemap_directives(df: DataFrame, host_col: str = "host",
                       robots_col: str = "robots_txt") -> DataFrame:
    """``Sitemap:`` directives from robots.txt — the discovery half of
    the sitemap tier (sitemaps.org cross-submission protocol; RFC 9309
    §2.2.4 treats it as an "other record": group-INdependent, so a
    Sitemap line anywhere in the file applies to the whole host, which
    is why this is a separate operator from the per-group rule parse in
    ``parse_robots``). Keys match case-insensitively, comments strip at
    ``#`` (same rule as the gate parser), a leading UTF-8 BOM is
    stripped, and every directive keeps its 0-based line number so the
    fetch tier can audit provenance. Values are recorded verbatim with
    an ``is_absolute`` flag — the spec requires absolute URLs, but real
    robots files carry relative ones, and the frontier's
    canonicalization owns that repair.

    Pure Catalyst (split + posexplode + regexp) — zero Python, zero
    shuffles; at 100 TB the robots table is per-host (millions of rows,
    not billions) and this stays a scan-side projection."""
    lines = F.split(
        F.regexp_replace(F.col(robots_col), "^\ufeff", ""),
        "\r\n|\r|\n")
    e = df.select(F.col(host_col).alias("host"),
                  F.posexplode(lines).alias("line_no", "line"))
    clean = F.regexp_replace("line", "#.*$", "")
    url = F.trim(F.regexp_extract(
        clean, r"(?i)^[ \t]*sitemap[ \t]*:(.*)$", 1))
    return (e.select("host", "line_no", url.alias("sitemap_url"))
            .where(F.col("sitemap_url") != "")
            .withColumn("is_absolute", F.col("sitemap_url").rlike(
                "(?i)^[a-z][a-z0-9+.-]*://")))


def parse_sitemap(data: bytes) -> tuple[str, list[tuple[str, str | None]]]:
    """sitemap.xml / sitemap.xml.gz bytes -> (kind, [(loc, lastmod)]).
    kind is 'urlset' (page entries) or 'sitemapindex' (child sitemap
    locs — the crawler enqueues those for another fetch round).
    Namespace-tolerant (tag LOCAL names only); entries missing <loc>
    are skipped; malformed XML raises ValueError (per-file quarantine,
    the WARC/archive error contract)."""
    import gzip
    from xml.etree import ElementTree
    if data[:2] == b"\x1f\x8b":
        data = gzip.decompress(data)
    try:
        root = ElementTree.fromstring(data)
    except ElementTree.ParseError as exc:
        raise ValueError(f"invalid sitemap XML: {exc}") from None
    local = root.tag.rsplit("}", 1)[-1].lower()
    if local not in ("urlset", "sitemapindex"):
        raise ValueError(f"not a sitemap document: <{local}>")
    entries: list[tuple[str, str | None]] = []
    for child in root:
        loc, lastmod = None, None
        for field in child:
            name = field.tag.rsplit("}", 1)[-1].lower()
            if name == "loc":
                loc = (field.text or "").strip()
            elif name == "lastmod":
                lastmod = (field.text or "").strip() or None
        if loc:
            entries.append((loc, lastmod))
    return local, entries


def sitemap_frontier(df: DataFrame, id_col: str = "doc_id",
                     payload_col: str = "content") -> DataFrame:
    """(sitemap_id, sitemap bytes) -> one row per discovered URL:
    (sitemap_id, status, loc, lastmod, is_index). ``is_index`` rows are
    child sitemaps to fetch next round (the sitemapindex recursion is
    the FETCH tier's loop — this operator is one hop, like the WARC
    source is one file). Malformed files quarantine as a single row
    with the error status and NULL loc."""
    from collections.abc import Iterator as _It
    from pyspark.sql.types import (BooleanType as _B, StringType as _S,
                                   StructField as _F, StructType as _T)
    src = df.select(F.col(id_col).cast("string").alias("sitemap_id"),
                    F.col(payload_col).alias("payload"))
    schema = _T([_F("sitemap_id", _S(), False), _F("status", _S()),
                 _F("loc", _S()), _F("lastmod", _S()),
                 _F("is_index", _B())])

    def kernel(batches: _It) -> _It:
        import pandas as pd
        for b in batches:
            rows = []
            for sid, payload in zip(b["sitemap_id"], b["payload"]):
                payload = bytes(payload) if payload is not None else b""
                try:
                    kind, entries = parse_sitemap(payload)
                except Exception as exc:
                    rows.append((sid, f"error: {exc}", None, None, None))
                    continue
                for loc, lastmod in entries:
                    rows.append((sid, "ok", loc, lastmod,
                                 kind == "sitemapindex"))
            yield pd.DataFrame(rows, columns=[
                "sitemap_id", "status", "loc", "lastmod", "is_index"])

    return src.mapInPandas(kernel, schema=schema)
