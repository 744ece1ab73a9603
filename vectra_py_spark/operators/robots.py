"""Crawl politeness: robots.txt (RFC 9309, the Robots Exclusion
Protocol) and XML sitemaps — the remaining acquisition-layer pieces
between "the link graph proposed a frontier" and "the fetcher may
actually GET these URLs". Reference tie-in: the reference's web
fetcher (`document_fetcher.py`) fetches whatever it is handed; a
corpus-scale crawl must not (and sites encode WHERE the content is in
sitemaps — free frontier seeds).

robots.txt semantics implemented from the public RFC 9309 text:

- Groups select by user-agent line; the MOST SPECIFIC match wins
  (longest agent token that is a case-insensitive substring match),
  with ``*`` as fallback; multiple user-agent lines stack onto the
  following rule block.
- Rules: ``allow:`` / ``disallow:`` path patterns with ``*``
  (any-sequence) and ``$`` (end anchor) wildcards.
- Matching: the LONGEST (by octet count of the pattern) matching rule
  wins; on a length tie, allow wins. An empty-pattern disallow means
  "allow everything"; no matching rule means allowed.
- ``crawl-delay`` is parsed per group (non-RFC but universal).

The Spark surface joins a URL frontier against a per-host robots
table — robots bodies are one row per HOST, so the join side is tiny
and broadcastable at any corpus scale; evaluation is an Arrow-batched
pandas pass with the compiled matcher cached per host within a batch.

Sitemaps (sitemaps.org protocol, the public schema): ``<urlset>``
leaves yield (url, lastmod); ``<sitemapindex>`` nodes yield child
sitemap URLs — returned with kind='sitemap' so the caller can fetch
and recurse (fetching is the caller's job; this module never does
I/O).
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET

__all__ = [
    "parse_robots",
    "robots_allowed",
    "crawl_delay",
    "filter_robots_df",
    "parse_sitemap",
    "sitemap_entries_df",
    "sitemap_urls",
]


def _compile_pattern(pat: str) -> re.Pattern:
    """robots path pattern (* and $ wildcards) → anchored regex."""
    anchor_end = pat.endswith("$")
    if anchor_end:
        pat = pat[:-1]
    parts = [re.escape(p) for p in pat.split("*")]
    body = ".*".join(parts)
    return re.compile("^" + body + ("$" if anchor_end else ""))


class RobotsRules:
    """Compiled rule set for one (robots.txt, agent) pair."""

    __slots__ = ("rules", "delay")

    def __init__(
        self,
        rules: list[tuple[bool, str]],
        delay: float | None,
    ) -> None:
        # pre-sort: longest pattern first, allow before disallow on
        # ties — first match is then the verdict
        self.rules = [
            (allow, pat, _compile_pattern(pat))
            for allow, pat in sorted(
                rules, key=lambda r: (-len(r[1]), not r[0])
            )
            if pat != ""
        ]
        self.delay = delay

    def allowed(self, path: str) -> bool:
        if not path.startswith("/"):
            path = "/" + path
        for allow, _pat, rx in self.rules:
            if rx.match(path):
                return allow
        return True


def parse_robots(robots_txt: str, agent: str = "*") -> RobotsRules:
    """robots.txt text → compiled rules for ``agent`` (most-specific
    user-agent group per RFC 9309 §2.2.1, ``*`` fallback)."""
    agent = agent.lower()
    groups: list[tuple[list[str], list[tuple[bool, str]], float | None]] = []
    cur_agents: list[str] = []
    cur_rules: list[tuple[bool, str]] = []
    cur_delay: float | None = None
    in_rules = False

    def flush() -> None:
        nonlocal cur_agents, cur_rules, cur_delay, in_rules
        if cur_agents:
            groups.append((cur_agents, cur_rules, cur_delay))
        cur_agents, cur_rules, cur_delay = [], [], None
        in_rules = False

    for raw in robots_txt.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            if in_rules:
                flush()
            cur_agents.append(val.lower())
        elif key in ("allow", "disallow"):
            in_rules = True
            cur_rules.append((key == "allow", val))
        elif key == "crawl-delay":
            in_rules = True
            try:
                cur_delay = float(val)
            except ValueError:
                pass
        elif key == "sitemap":
            # sitemap lines are global, not group rules; callers get
            # them from parse_sitemap seeds — skip without flushing
            continue
    flush()

    # score each group by its best-matching agent token; groups tying
    # at the top score MERGE (RFC 9309 §2.2.1: multiple matching
    # groups for one crawler combine their rules)
    scored: list[tuple[int, list[tuple[bool, str]], float | None]] = []
    for agents, rules, delay in groups:
        score = -1
        for a in agents:
            if a == "*":
                score = max(score, 0)
            elif a in agent:
                score = max(score, len(a))
        if score >= 0:
            scored.append((score, rules, delay))
    if not scored:
        return RobotsRules([], None)
    top = max(s for s, _, _ in scored)
    merged: list[tuple[bool, str]] = []
    delay: float | None = None
    for s, rules, d in scored:
        if s == top:
            merged.extend(rules)
            if d is not None:
                delay = d
    return RobotsRules(merged, delay)


def robots_allowed(
    robots_txt: str, path: str, agent: str = "*"
) -> bool:
    """One-shot convenience: may ``agent`` fetch ``path``?"""
    return parse_robots(robots_txt, agent).allowed(path)


def crawl_delay(robots_txt: str, agent: str = "*") -> float | None:
    return parse_robots(robots_txt, agent).delay


def sitemap_urls(robots_txt: str) -> list[str]:
    """The ``Sitemap:`` lines of a robots.txt (RFC 9309 §2.2.4 treats
    them as non-group records valid anywhere in the file) — how a
    crawler DISCOVERS a site's sitemaps without guessing paths; feed
    the fetched bodies to :func:`parse_sitemap` /
    :func:`sitemap_entries_df`."""
    out: list[str] = []
    for raw in robots_txt.splitlines():
        line = raw.split("#", 1)[0].strip()
        key, sep, val = line.partition(":")
        if sep and key.strip().lower() == "sitemap":
            url = val.strip()
            if url:
                out.append(url)
    return out


def filter_robots_df(
    frontier,
    robots,
    url_col: str = "url",
    agent: str = "*",
    host_col: str = "host",
    robots_col: str = "robots_txt",
):
    """Frontier URLs × per-host robots bodies → the allowed subset,
    with a ``crawl_delay`` column for the scheduler. Hosts with no
    robots row (or an unfetchable body → NULL) are fully allowed, per
    the protocol. The robots side is one row per host — broadcast it.

    Scale shape: broadcast hash join on host + one narrow pandas pass;
    rules compile once per host per task (frontiers arrive
    host-clustered after the politeness repartition)."""
    from urllib.parse import urlparse

    from pyspark.sql import functions as F

    from vectra_py_spark.functions.urls import host_of
    from vectra_py_spark.session import map_rows

    joined = frontier.withColumn(
        "__host", host_of(F.col(url_col))
    ).join(
        F.broadcast(
            robots.select(
                F.col(host_col).alias("__host"),
                F.col(robots_col).alias("__robots"),
            )
        ),
        "__host",
        "left",
    )
    cols = frontier.columns
    ui = cols.index(url_col)

    def make_row():
        cache: dict[str, RobotsRules] = {}

        def row(*values):
            *kept, host, body = values
            if body is None:
                return [(*kept, None)]
            rules = cache.get(host)
            if rules is None:
                rules = cache[host] = parse_robots(str(body), agent)
            parsed = urlparse(str(kept[ui]))
            path = parsed.path or "/"
            if parsed.query:
                path += "?" + parsed.query
            return [(*kept, rules.delay)] if rules.allowed(path) else []

        return row

    return map_rows(
        joined, [*cols, "__host", "__robots"], make_row,
        f"{frontier.schema.toDDL()}, crawl_delay DOUBLE", per_task=True,
    )


def sitemap_entries_df(df, xml_col: str = "payload", src_col: str = "url"):
    """Fetched sitemap payloads (e.g. WARC records or fetcher rows) →
    one row per entry: (sitemap_url, kind, loc, lastmod), where
    kind='sitemap' rows are child indexes the caller feeds back to the
    fetcher and kind='url' rows are frontier seeds. Malformed XML
    quarantines as a kind='error' row carrying the message. One narrow
    ``map_rows`` pass; the sitemap set is host-sized."""
    from vectra_py_spark.operators.feeds import _xml_arg
    from vectra_py_spark.session import map_rows

    def rows(src, xml):
        return [(str(src), e["kind"], e["loc"], e["lastmod"])
                for e in parse_sitemap(_xml_arg(xml))]

    return map_rows(
        df, [src_col, xml_col], rows,
        "sitemap_url STRING, kind STRING, loc STRING, lastmod STRING",
        on_error=lambda v, exc: (str(v[0]), "error", None, str(exc)),
    )


def parse_sitemap(xml_text: str | bytes) -> list[dict]:
    """Sitemap XML → [{kind: 'url'|'sitemap', loc, lastmod}]:
    ``<urlset>`` leaves are frontier entries, ``<sitemapindex>``
    children are further sitemaps for the caller to fetch and recurse.
    Namespace-agnostic (matches on local tag names — real sitemaps mix
    default and prefixed namespaces). ValueError on malformed XML."""
    if isinstance(xml_text, bytes):
        data = xml_text
    else:
        data = xml_text.encode("utf-8")
    try:
        root = ET.fromstring(data)
    except ET.ParseError as exc:
        raise ValueError(f"malformed sitemap XML: {exc}") from exc

    def local(tag: str) -> str:
        return tag.rsplit("}", 1)[-1].lower()

    kind = (
        "sitemap" if local(root.tag) == "sitemapindex" else "url"
    )
    out: list[dict] = []
    for node in root:
        if local(node.tag) not in ("url", "sitemap"):
            continue
        loc = None
        lastmod = None
        for child in node:
            if local(child.tag) == "loc":
                loc = (child.text or "").strip()
            elif local(child.tag) == "lastmod":
                lastmod = (child.text or "").strip()
        if loc:
            out.append({"kind": kind, "loc": loc, "lastmod": lastmod})
    return out
