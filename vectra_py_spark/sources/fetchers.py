"""Document fetchers (SURVEY.md §2.1 S11–S13).

- :class:`FileFetcher` — local file / directory ingest with doc_type
  from the extension. The reference's directory recursion drops its
  results (``file_fetcher.py:9-14``, §2.9.8); implemented as intended:
  a directory yields every contained file. Spark-side,
  :func:`fetch_directory_df` reads a whole tree distributed
  (``binaryFile`` source → decode), the 100 TB path.
- :class:`WebFetcher` — HTTP GET with browser-like headers and the
  reference's content-type allowlist (``web_fetcher.py:8-29``);
  import-gated on ``requests``. Fetching is driver-side (or a
  ``map_rows`` pass over a URI column for bulk) — network I/O is not a
  relational op.
- :func:`html_to_markdown` — HTML → markdown-ish text
  (``web_fetcher.py:62-88`` semantics: drop script/style, headings to
  ATX, list items to ``-`` bullets, links kept as text, blank-line
  paragraph joins). bs4/markdownify aren't installed here, so this is
  a regex-based converter; the documented behaviors are covered by
  tests.
"""

from __future__ import annotations

import html as _html
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["FileFetcher", "WebFetcher", "fetch_directory_df", "html_to_markdown"]

ALLOWED_CONTENT_TYPES = [
    "text/html",
    "application/json",
    "application/xml",
    "application/javascript",
    "text/plain",
]

BROWSER_HEADERS = {
    "User-Agent": (
        "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
        "(KHTML, like Gecko) Chrome/120.0 Safari/537.36"
    ),
    "Accept": "text/html,application/xhtml+xml,application/xml;q=0.9,*/*;q=0.8",
    "Accept-Language": "en-US,en;q=0.9",
}


def _doc_type_from_path(path: str) -> str | None:
    name = os.path.basename(path)
    if "." in name:
        return name.rsplit(".", 1)[-1].lower() or None
    return None


class FileFetcher:
    """S11: local path → (uri, text, doc_type) tuples; directories
    recurse and yield every file (the reference's intent)."""

    def fetch(self, path: str) -> list[tuple[str, str, str | None]]:
        out: list[tuple[str, str, str | None]] = []
        if os.path.isdir(path):
            for root, _dirs, files in os.walk(path):
                for name in sorted(files):
                    out.extend(self.fetch(os.path.join(root, name)))
            return out
        with open(path, encoding="utf-8", errors="replace") as fh:
            text = fh.read()
        return [(path, text, _doc_type_from_path(path))]


def fetch_directory_df(spark: SparkSession, path: str) -> DataFrame:
    """Distributed directory ingest: ``binaryFile`` scan → decoded text.

    At 100 TB the file listing and reads parallelize per split;
    doc_type derives from the path in the plan (no Python). Decoding
    is ``make_valid_utf8(cast(content as string))`` — malformed bytes
    become U+FFFD, matching :class:`FileFetcher`'s
    ``errors='replace'``; plain ``decode`` would fail the whole scan
    on one non-UTF-8 file (MALFORMED_CHARACTER_CODING on Spark 4)."""
    return (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .load(path)
        .select(
            F.col("path").alias("uri"),
            F.make_valid_utf8(F.col("content").cast("string")).alias("text"),
            F.lower(F.regexp_extract(F.col("path"), r"\.([^./\\]+)$", 1)).alias(
                "doc_type"
            ),
        )
        .withColumn(
            "doc_type",
            F.when(F.col("doc_type") == "", None).otherwise(F.col("doc_type")),
        )
    )


class WebFetcher:
    """S12: HTTP GET with header + content-type discipline."""

    def __init__(self, timeout: float = 30.0) -> None:
        self.timeout = timeout

    def fetch(self, uri: str) -> tuple[str, str, str | None]:
        import requests

        resp = requests.get(uri, headers=BROWSER_HEADERS, timeout=self.timeout)
        resp.raise_for_status()
        ctype = (resp.headers.get("Content-Type") or "").split(";")[0].strip()
        if ctype and not any(ctype == a for a in ALLOWED_CONTENT_TYPES):
            raise ValueError(f"disallowed content type {ctype!r} for {uri}")
        text = resp.text
        if ctype == "text/html":
            return uri, html_to_markdown(text, base_url=uri), "md"
        return uri, text, _doc_type_from_path(uri)


# ---------------------------------------------------------------------------
# S13: HTML → markdown-ish text
# ---------------------------------------------------------------------------
_SCRIPT_RE = re.compile(r"<(script|style)\b.*?</\1\s*>", re.I | re.S)
_COMMENT_RE = re.compile(r"<!--.*?-->", re.S)
_HEADING_RE = re.compile(r"<h([1-6])[^>]*>(.*?)</h\1\s*>", re.I | re.S)
_LI_RE = re.compile(r"<li[^>]*>(.*?)</li\s*>", re.I | re.S)
_A_RE = re.compile(r"""<a\b[^>]*href=["']([^"']*)["'][^>]*>(.*?)</a\s*>""", re.I | re.S)
_BLOCK_RE = re.compile(r"</?(p|div|section|article|br|tr|table|ul|ol)[^>]*>", re.I)
_TAG_RE = re.compile(r"<[^>]+>")


def _absolutize(href: str, base_url: str | None) -> str:
    if not base_url or re.match(r"^[a-z][a-z0-9+.-]*:", href) or href.startswith("#"):
        return href
    from urllib.parse import urljoin

    return urljoin(base_url, href)


def html_to_markdown(html_text: str, base_url: str | None = None) -> str:
    """Drop script/style, ATX headings, ``-`` bullets, markdown links
    with absolutized hrefs, blank-line paragraph joins."""
    s = _COMMENT_RE.sub("", html_text)
    s = _SCRIPT_RE.sub("", s)
    s = _HEADING_RE.sub(
        lambda m: "\n\n" + "#" * int(m.group(1)) + " " + m.group(2).strip() + "\n\n", s
    )
    s = _A_RE.sub(
        lambda m: f"[{m.group(2).strip()}]({_absolutize(m.group(1), base_url)})", s
    )
    s = _LI_RE.sub(lambda m: "\n- " + m.group(1).strip(), s)
    s = _BLOCK_RE.sub("\n\n", s)
    s = _TAG_RE.sub("", s)
    s = _html.unescape(s)
    # blank-line join: collapse runs of 3+ newlines, strip line cruft
    lines = [ln.strip() for ln in s.split("\n")]
    s = "\n".join(lines)
    s = re.sub(r"\n{3,}", "\n\n", s).strip()
    return s


def _fetch_error_row(values, exc):
    """A failed fetch keeps its input row: NULL results and the failure
    as ``"<ExceptionType>: <message>"``."""
    return (*values, None, None, f"{type(exc).__name__}: {exc}")


def fetch_uris_df(
    df: DataFrame, uri_col: str = "uri", timeout: float = 30.0
) -> DataFrame:
    """Bulk web ingest: URI column → fetched text via ``map_rows`` (one
    worker fetch per row; partition count bounds parallelism —
    repartition to the polite request rate). A failed fetch keeps its
    row, with the failure in ``fetch_error``."""
    from vectra_py_spark.session import map_rows

    ui = df.columns.index(uri_col)

    def make_row():
        fetcher = WebFetcher(timeout=timeout)  # one per task

        def row(*values):
            _, text, doc_type = fetcher.fetch(str(values[ui]))
            return [(*values, text, doc_type, None)]

        return row

    return map_rows(
        df, df.columns, make_row,
        f"{df.schema.toDDL()}, text STRING, doc_type STRING, "
        "fetch_error STRING",
        on_error=_fetch_error_row,
        catch=(Exception,), per_task=True,
    )
