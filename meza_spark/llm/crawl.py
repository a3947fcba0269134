"""Crawl-frontier operators — robots.txt evaluation and sitemap
expansion, the two pieces between "a URL list" and "a polite fetch
plan". No reference analog (meza has no web ops); beyond-reference
layer, pure stdlib.

**robots.txt** follows RFC 9309 (the modern REP), not the stdlib
``robotparser``'s first-match-in-file-order legacy: the group whose
``User-agent`` token is the LONGEST case-insensitive prefix of the
product token is selected (``*`` as fallback), and within the group
the rule with the LONGEST matched path wins, ``Allow`` beating
``Disallow`` on equal length. ``*`` wildcards and ``$`` end anchors
are honored; unmatched paths are allowed.

**Sitemaps** (sitemaps.org §XML): ``<urlset>`` yields one row per
``<url>`` (loc, lastmod, changefreq, priority); ``<sitemapindex>``
yields its child sitemap locs with ``kind='index'``. Gzip payloads
(the standard ``sitemap.xml.gz``) inflate under a budget first.

Scale shape: robots corpora are per-registered-host (small —
broadcast them); both operators are row-local (a pandas UDF and
``util.extract_rows``) over the PAYLOAD side, so the URL corpus
itself never shuffles.
"""

from __future__ import annotations

import re

import pandas as pd

MAX_ROBOTS_BYTES = 4 * 1024 * 1024       # RFC 9309 caps at 500 KiB
MAX_ROBOTS_RULES = 10_000
MAX_SITEMAP_BYTES = 256 * 1024 * 1024
MAX_SITEMAP_URLS = 200_000


def parse_robots(text: str):
    """robots.txt → list of (agent_token_lowered, rules) groups,
    rules = [(allow: bool, path_pattern)]. Later ``User-agent``
    lines stack onto one group until a rule line closes it."""
    if len(text) > MAX_ROBOTS_BYTES:
        raise ValueError("robots.txt exceeds the byte budget")
    groups: list = []
    agents: list = []
    rules: list = []
    open_group = False
    n_rules = 0
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field, _, value = line.partition(":")
        field = field.strip().lower()
        value = value.strip()
        if field == "user-agent":
            if open_group:               # rule block ended: close group
                for a in agents:
                    groups.append((a, rules))
                agents, rules, open_group = [], [], False
            agents.append(value.lower())
        elif field in ("allow", "disallow"):
            n_rules += 1
            if n_rules > MAX_ROBOTS_RULES:
                raise ValueError("robots.txt rule count exceeds budget")
            if value:                    # empty Disallow = allow all
                rules.append((field == "allow", value))
            open_group = True
        elif field in ("sitemap", "crawl-delay", "host"):
            open_group = open_group or bool(rules)
    for a in agents:
        groups.append((a, rules))
    return groups


def _rule_match_len(pattern: str, path: str) -> int:
    """Longest-match length of one REP path pattern against a path:
    -1 = no match, else the PATTERN length (RFC 9309 precedence is by
    number of characters in the matched pattern)."""
    rx = "".join(".*" if c == "*" else re.escape(c)
                 for c in pattern.rstrip("$"))
    if pattern.endswith("$"):
        rx += "$"
    return len(pattern) if re.match(rx, path) else -1


def robots_allowed(groups, agent: str, path: str) -> bool:
    """RFC 9309 decision for one (agent, path): pick the group with
    the longest agent-token prefix of ``agent`` (``*`` fallback),
    then the longest-matching rule; Allow wins length ties."""
    agent = agent.lower()
    best_agent = -1
    rules = None
    for token, grules in groups:
        if token == "*":
            if best_agent < 0:
                rules = grules
        elif agent.startswith(token) and len(token) > best_agent:
            best_agent = len(token)
            rules = grules
    if not rules:
        return True
    best_len, verdict = -1, True
    if not path.startswith("/"):
        path = "/" + path
    for allow, pattern in rules:
        m = _rule_match_len(pattern, path)
        if m > best_len or (m == best_len and allow and not verdict):
            if m >= 0:
                best_len, verdict = m, allow
    return verdict


def robots_filter(df, robots_col: str = "robots_txt",
                  path_col: str = "path", agent: str = "mezabot",
                  out_col: str = "allowed"):
    """Evaluate one (robots.txt, path) pair per row — row-local
    Arrow pandas_udf with a per-batch parse cache (a host's robots
    repeats across its URLs). Join robots onto URLs by registered
    domain upstream (broadcast: robots corpora are host-sized)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("boolean")
    def run(robots: pd.Series, paths: pd.Series) -> pd.Series:
        cache: dict = {}

        def one(r, p):
            if r is None or p is None:
                return True
            g = cache.get(r)
            if g is None:
                try:
                    g = parse_robots(r)
                except ValueError:
                    g = []
                cache[r] = g
            return robots_allowed(g, agent, p)

        return pd.Series([one(r, p) for r, p in zip(robots, paths)])

    return df.withColumn(out_col, run(robots_col, path_col))


# ------------------------------------------------------------ sitemaps

_SM_NS = "{http://www.sitemaps.org/schemas/sitemap/0.9}"


def parse_sitemap_bytes(b: bytes) -> dict:
    """One sitemap payload → {kind: 'urlset'|'index', entries:
    [(loc, lastmod, changefreq, priority), …]}. Gzip payloads
    inflate (budget-gated) first."""
    import gzip
    import io
    import xml.etree.ElementTree as ET
    import zlib

    if not b:
        raise ValueError("empty payload")
    if len(b) > MAX_SITEMAP_BYTES:
        raise ValueError("sitemap exceeds the byte budget")
    if b[:2] == b"\x1f\x8b":
        try:
            with gzip.GzipFile(fileobj=io.BytesIO(b)) as f:
                b = f.read(MAX_SITEMAP_BYTES + 1)
        except (OSError, EOFError, zlib.error) as e:
            raise ValueError(f"bad gzip stream: {e}") from None
        if len(b) > MAX_SITEMAP_BYTES:
            raise ValueError("sitemap exceeds the decompressed budget")
    try:
        root = ET.fromstring(b)
    except ET.ParseError as e:
        raise ValueError(f"bad sitemap XML: {e}") from None
    tag = root.tag.removeprefix(_SM_NS)
    if tag == "urlset":
        kind, child = "urlset", "url"
    elif tag == "sitemapindex":
        kind, child = "index", "sitemap"
    else:
        raise ValueError(f"not a sitemap root: {root.tag!r}")
    entries = []
    for el in root.findall(_SM_NS + child) + root.findall(child):
        if len(entries) >= MAX_SITEMAP_URLS:
            raise ValueError("sitemap entry count exceeds the budget")

        def f(name):
            node = el.find(_SM_NS + name)
            if node is None:
                node = el.find(name)
            return (node.text or "").strip() if node is not None \
                and node.text else None

        loc = f("loc")
        if loc:
            entries.append((loc, f("lastmod"), f("changefreq"),
                            f("priority")))
    return {"kind": kind, "entries": entries}


def encode_sitemap(entries, index: bool = False,
                   gz: bool = False) -> bytes:
    """Deterministic sitemap fixture: entries = [(loc, lastmod,
    changefreq, priority), …] (None fields omitted)."""
    import gzip as _gzip
    import io as _io
    from xml.sax.saxutils import escape

    root = "sitemapindex" if index else "urlset"
    child = "sitemap" if index else "url"
    parts = ['<?xml version="1.0" encoding="UTF-8"?>\n<%s xmlns='
             '"http://www.sitemaps.org/schemas/sitemap/0.9">' % root]
    for loc, lastmod, changefreq, priority in entries:
        fields = ["<loc>%s</loc>" % escape(loc)]
        if lastmod:
            fields.append("<lastmod>%s</lastmod>" % escape(lastmod))
        if changefreq:
            fields.append("<changefreq>%s</changefreq>"
                          % escape(changefreq))
        if priority:
            fields.append("<priority>%s</priority>" % escape(priority))
        parts.append("<%s>%s</%s>" % (child, "".join(fields), child))
    parts.append("</%s>\n" % root)
    raw = "\n".join(parts).encode("utf-8")
    if not gz:
        return raw
    out = _io.BytesIO()
    with _gzip.GzipFile(fileobj=out, mode="wb", mtime=0) as fobj:
        fobj.write(raw)
    return out.getvalue()


def sitemap_urls(df, payload_col: str = "payload",
                 id_col: str = "media_id"):
    """One row per entry of each sitemap payload: kind, index, loc,
    lastmod, changefreq and priority; rows and ``error`` rows as in
    :func:`meza_spark.util.extract_rows`."""
    from meza_spark.util import extract_rows

    def fn(b):
        r = parse_sitemap_bytes(b)
        return [(r["kind"], i, *entry)
                for i, entry in enumerate(r["entries"])]

    return extract_rows(df, fn, "kind string, url_idx int, loc string, "
                        "lastmod string, changefreq string, "
                        "priority string", payload_col, id_col)
