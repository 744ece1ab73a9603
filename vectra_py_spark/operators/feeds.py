"""RSS/Atom feed parsing — the third crawl-discovery channel next to
sitemaps and outlinks (feeds surface NEW content with timestamps,
which the recrawl scheduler otherwise has to infer from capture
history). Namespace-agnostic local-name matching like the sitemap
parser (real feeds mix default/prefixed namespaces constantly), no
I/O — the caller fetches, this module parses.

- RSS 2.0: ``<rss><channel>`` with ``<item><title><link><pubDate>
  <guid>``
- Atom (RFC 4287): ``<feed>`` with ``<entry><title>
  <link href=...><updated><id>`` (the ``alternate``/unrel'd link
  wins over ``self``/``enclosure`` rels)

ValueError on malformed XML or a root that is neither — feed
corruption quarantines like every parser here.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

__all__ = ["parse_feed", "feed_entries_df"]


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1].lower()


def _text(node) -> str | None:
    t = (node.text or "").strip()
    return t or None


def _xml_arg(xml) -> str | bytes:
    """A payload cell → what the XML parsers take: binary stays bytes
    (its declared encoding decides), anything else is stringified."""
    if isinstance(xml, (bytes, bytearray, memoryview)):
        return bytes(xml)
    return str(xml)


def parse_feed(xml_text: str | bytes) -> dict:
    """Feed XML → {kind: 'rss'|'atom', title, entries: [{title, link,
    published, id}]}."""
    data = (
        xml_text if isinstance(xml_text, bytes)
        else xml_text.encode("utf-8")
    )
    try:
        root = ET.fromstring(data)
    except ET.ParseError as exc:
        raise ValueError(f"malformed feed XML: {exc}") from exc
    kind = _local(root.tag)
    if kind == "rss":
        channel = next(
            (c for c in root if _local(c.tag) == "channel"), None
        )
        if channel is None:
            raise ValueError("RSS feed without <channel>")
        out = {"kind": "rss", "title": None, "entries": []}
        for node in channel:
            name = _local(node.tag)
            if name == "title" and out["title"] is None:
                out["title"] = _text(node)
            elif name == "item":
                e = {"title": None, "link": None, "published": None,
                     "id": None}
                for c in node:
                    cn = _local(c.tag)
                    if cn == "title":
                        e["title"] = _text(c)
                    elif cn == "link":
                        e["link"] = _text(c)
                    elif cn == "pubdate":
                        e["published"] = _text(c)
                    elif cn == "guid":
                        e["id"] = _text(c)
                out["entries"].append(e)
        return out
    if kind == "feed":
        out = {"kind": "atom", "title": None, "entries": []}
        for node in root:
            name = _local(node.tag)
            if name == "title" and out["title"] is None:
                out["title"] = _text(node)
            elif name == "entry":
                e = {"title": None, "link": None, "published": None,
                     "id": None}
                best_rel = None
                for c in node:
                    cn = _local(c.tag)
                    if cn == "title":
                        e["title"] = _text(c)
                    elif cn == "link":
                        rel = (c.get("rel") or "alternate").lower()
                        href = (c.get("href") or "").strip() or None
                        if href:
                            # first alternate wins; any link beats none
                            if rel == "alternate" and best_rel != "alternate":
                                e["link"] = href
                                best_rel = "alternate"
                            elif best_rel is None:
                                e["link"] = href
                                best_rel = rel
                    elif cn in ("updated", "published"):
                        e["published"] = e["published"] or _text(c)
                    elif cn == "id":
                        e["id"] = _text(c)
                out["entries"].append(e)
        return out
    raise ValueError(f"not a feed (root <{kind}>)")


def feed_entries_df(df, xml_col: str = "payload", src_col: str = "url"):
    """Fetched feed payloads → one row per entry: (feed_url, kind,
    feed_title, title, link, published, entry_id); malformed feeds
    quarantine as kind='error' rows carrying the message. One narrow
    ``map_rows`` pass; the feed set is host-sized."""
    from vectra_py_spark.session import map_rows

    def rows(src, xml):
        feed = parse_feed(_xml_arg(xml))
        return [(str(src), feed["kind"], feed["title"], e["title"],
                 e["link"], e["published"], e["id"])
                for e in feed["entries"]]

    return map_rows(
        df, [src_col, xml_col], rows,
        "feed_url STRING, kind STRING, feed_title STRING, "
        "title STRING, link STRING, published STRING, entry_id STRING",
        on_error=lambda v, exc: (
            str(v[0]), "error", str(exc), None, None, None, None
        ),
    )
