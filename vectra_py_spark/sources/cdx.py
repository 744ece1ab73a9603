"""CDX(J) crawl-index support — SELECTIVE WARC reads, the single
biggest I/O lever a 100 TB crawl corpus has. Common Crawl ships a
CDXJ index beside every crawl (the public cdxj format: SURT key +
14-digit timestamp + one JSON object per capture, carrying the WARC
``filename``/``offset``/``length`` of the record's own gzip member).
Planning reads against the index means touching ~0.1-1% of the
archive bytes for a typical language/mime/status selection instead of
exploding every record of every segment — `read_warc` is the
full-scan path, this module is the indexed path.

Surface:

- :func:`surt_key` / :func:`parse_cdxj_line` / :func:`index_warc` —
  the pure layer: SURT transform, line codec, and a from-scratch
  indexer that walks a .warc.gz's gzip members (or a plain WARC's
  records) recording member offset/length, so our own archives get
  the same indexed treatment as Common Crawl's (and tests get an
  independent-path round-trip: the indexer derives offsets from gzip
  framing, the fetcher seeks by them).
- :func:`read_cdx` — Spark source: ``spark.read.text`` over .cdx(.gz)
  files (line-splittable, gzip handled by the codec layer) + a PURE
  CATALYST parse (split-limit-3 + ``from_json``): no Python touches
  the billions-of-lines index.
- :func:`cdx_select` — the read planner: mime/status/url filters,
  latest-capture-per-URL (``row_number`` by timestamp per SURT), and
  digest dedup (Common Crawl stores the SHA-1 payload digest — one
  fetch per unique payload, the pre-download exact-dedup).
- :func:`fetch_cdx_records` — the range reader: groups selections by
  archive file, seeks each (offset, length) window, gunzips the
  single member (ceiling-capped) and parses the one record via the
  same ``parse_warc`` the full-scan path uses. Local paths seek;
  an object store serves the identical shape as range GETs.

Scale shape: the index scan is line-split parallel text; selection is
one window over SURT groups (index-sized, not archive-sized); fetches
are payload-local in ``map_rows`` with per-row quarantine, sorted
by offset within each archive for sequential access.
"""

from __future__ import annotations

import base64
import gzip
import hashlib
import io
import json
import zlib
from urllib.parse import urlsplit

from vectra_py_spark.sources.warc import DECOMPRESS_CEILING, parse_warc

__all__ = [
    "surt_key",
    "parse_cdxj_line",
    "format_cdxj_line",
    "index_warc",
    "read_cdx",
    "cdx_select",
    "fetch_cdx_records",
    "recrawl_priority",
    "CDX_SCHEMA",
]

CDX_SCHEMA = (
    "surt STRING, ts STRING, url STRING, mime STRING, status INT, "
    "digest STRING, filename STRING, `offset` BIGINT, length BIGINT"
)

_FETCH_SCHEMA = (
    "archive STRING, `offset` BIGINT, warc_type STRING, url STRING, "
    "warc_date STRING, http_status INT, content_type STRING, "
    "payload BINARY, n_bytes BIGINT, error STRING"
)


def surt_key(url: str) -> str:
    """URL → SURT (Sort-friendly URI Reordering Transform) key:
    lowercase host segments REVERSED and comma-joined, ``)/`` marker,
    then path and query — so one host's captures sort contiguously
    and a host prefix selects a whole site. Matches the shape Common
    Crawl's index uses (scheme and a leading www. are dropped, ports
    kept, query kept as-is)."""
    parts = urlsplit(url.strip())
    host = (parts.hostname or "").lower()
    if host.startswith("www."):
        host = host[4:]
    segs = ",".join(reversed(host.split("."))) if host else ""
    if parts.port:
        segs += f":{parts.port}"
    path = parts.path or "/"
    key = f"{segs}){path}"
    if parts.query:
        key += "?" + parts.query
    return key.lower()


def format_cdxj_line(entry: dict) -> str:
    """Entry dict → one CDXJ line (inverse of
    :func:`parse_cdxj_line`)."""
    status = entry.get("status")
    blob = {
        "url": entry["url"],
        "mime": entry.get("mime"),
        "status": str(status) if status is not None else None,
        "digest": entry.get("digest"),
        "length": str(entry["length"]),
        "offset": str(entry["offset"]),
        "filename": entry["filename"],
    }
    return (
        f"{entry['surt']} {entry['ts']} "
        f"{json.dumps({k: v for k, v in blob.items() if v is not None})}"
    )


def parse_cdxj_line(line: str) -> dict:
    """One CDXJ line → entry dict (surt, ts, url, mime, status,
    digest, filename, offset, length). ValueError on malformed
    framing or JSON — index corruption should quarantine, not
    propagate garbage offsets to the fetcher."""
    parts = line.strip().split(" ", 2)
    if len(parts) != 3:
        raise ValueError(f"CDXJ line needs 3 fields, got {len(parts)}")
    surt, ts, blob = parts
    try:
        meta = json.loads(blob)
    except json.JSONDecodeError as exc:
        raise ValueError(f"CDXJ JSON field: {exc}") from exc
    if not isinstance(meta, dict) or "filename" not in meta:
        raise ValueError("CDXJ JSON must be an object with 'filename'")
    try:
        offset = int(meta["offset"])
        length = int(meta["length"])
    except (KeyError, ValueError) as exc:
        raise ValueError(f"CDXJ offset/length: {exc}") from exc
    status = meta.get("status")
    return {
        "surt": surt,
        "ts": ts,
        "url": meta.get("url"),
        "mime": meta.get("mime"),
        "status": int(status) if status not in (None, "") else None,
        "digest": meta.get("digest"),
        "filename": meta["filename"],
        "offset": offset,
        "length": length,
    }


def _payload_digest(payload: bytes) -> str:
    """Common Crawl's digest form: base32 SHA-1 of the record block."""
    return (
        "sha1:"
        + base64.b32encode(hashlib.sha1(payload).digest()).decode("ascii")
    )


def _ts_of(warc_date: str | None) -> str:
    """WARC-Date (ISO 8601) → 14-digit CDX timestamp."""
    if not warc_date:
        return "0" * 14
    digits = "".join(ch for ch in warc_date if ch.isdigit())
    return (digits + "0" * 14)[:14]


def index_warc(payload: bytes, filename: str) -> list[str]:
    """WARC archive bytes (plain or per-record-gzip .warc.gz) → CDXJ
    lines for its RESPONSE records (and ``conversion`` records, so
    WET-style extracted-text archives index identically), with each
    record's member offset and compressed length derived from the
    gzip framing itself (for plain WARC, offsets in the uncompressed
    byte space). This is the index a crawler writes as it seals each
    segment."""
    lines: list[str] = []

    def emit(rec_bytes: bytes, offset: int, length: int) -> None:
        recs = parse_warc(rec_bytes)
        if len(recs) != 1:
            raise ValueError("member holds more than one WARC record")
        rec = recs[0]
        if rec["warc_type"] not in ("response", "conversion") or not rec["url"]:
            return
        mime = (rec["content_type"] or "").split(";")[0].strip() or None
        lines.append(format_cdxj_line({
            "surt": surt_key(rec["url"]),
            "ts": _ts_of(rec["warc_date"]),
            "url": rec["url"],
            "mime": mime,
            "status": rec["http_status"],
            "digest": _payload_digest(rec["payload"]),
            "filename": filename,
            "offset": offset,
            "length": length,
        }))

    if payload[:2] == b"\x1f\x8b":
        pos = 0
        data = payload
        while data[:2] == b"\x1f\x8b":
            d = zlib.decompressobj(wbits=47)
            out = []
            total = 0
            buf = data
            while True:
                try:
                    chunk = d.decompress(buf, 1 << 20)
                except zlib.error as exc:
                    # corrupt deflate inside a well-formed gzip header
                    # must quarantine like every other parser
                    raise ValueError(
                        f"corrupt gzip member at offset {pos}: {exc}"
                    ) from exc
                total += len(chunk)
                if total > DECOMPRESS_CEILING:
                    raise ValueError("gzip member exceeds ceiling")
                out.append(chunk)
                if d.eof:
                    break
                if d.unconsumed_tail:
                    buf = d.unconsumed_tail
                    continue
                # all input consumed but not at EOF: zlib may still
                # hold output it truncated at max_length — flush with
                # empty input; only a flush that yields NOTHING means
                # the member is really truncated (highly compressible
                # members routinely buffer >1 MiB per call)
                if not chunk and not buf:
                    raise ValueError("truncated gzip member")
                buf = b""
            member_len = len(data) - len(d.unused_data)
            emit(b"".join(out), pos, member_len)
            pos += member_len
            data = d.unused_data
        if data.strip(b"\x00"):
            raise ValueError("trailing garbage after gzip members")
    else:
        for rec_bytes, offset, length in _walk_plain(payload):
            emit(rec_bytes, offset, length)
    return lines


def _walk_plain(payload: bytes):
    """Plain WARC → (record bytes incl. separator, offset, length)."""
    pos = 0
    n = len(payload)
    while pos < n:
        hdr_end = payload.find(b"\r\n\r\n", pos)
        if hdr_end < 0:
            raise ValueError("WARC header block truncated")
        head = payload[pos:hdr_end]
        length = None
        for line in head.split(b"\r\n"):
            if line.lower().startswith(b"content-length:"):
                length = int(line.split(b":", 1)[1])
        if length is None:
            raise ValueError("WARC record missing Content-Length")
        end = hdr_end + 4 + length + 4  # trailing \r\n\r\n
        end = min(end, n)
        yield payload[pos:end], pos, end - pos
        pos = end


def read_cdx(spark, path: str):
    """CDX(J) index files (.cdx / .cdx.gz — Spark's text source
    decompresses transparently) → typed rows, parsed ENTIRELY in
    Catalyst: ``split(limit=3)`` for the framing, ``from_json`` for
    the blob. Malformed lines yield NULL fields (from_json's
    PERMISSIVE mode) and are dropped — index corruption never reaches
    the fetcher."""
    from pyspark.sql import functions as F

    parts = F.split(F.col("value"), " ", 3)
    blob = F.from_json(
        parts.getItem(2),
        "url STRING, mime STRING, status STRING, digest STRING, "
        "length STRING, `offset` STRING, filename STRING",
    )
    return (
        spark.read.text(path)
        .select(
            parts.getItem(0).alias("surt"),
            parts.getItem(1).alias("ts"),
            blob.alias("j"),
        )
        .select(
            "surt", "ts",
            F.col("j.url").alias("url"),
            F.col("j.mime").alias("mime"),
            F.col("j.status").cast("int").alias("status"),
            F.col("j.digest").alias("digest"),
            F.col("j.filename").alias("filename"),
            F.col("j.offset").cast("bigint").alias("offset"),
            F.col("j.length").cast("bigint").alias("length"),
        )
        .filter(
            F.col("filename").isNotNull()
            & F.col("offset").isNotNull()
            & F.col("length").isNotNull()
        )
    )


def cdx_select(
    df,
    url_prefix: str | None = None,
    mime: str | None = None,
    status: int | None = 200,
    latest_only: bool = True,
    dedup_digest: bool = True,
):
    """The read planner: narrow the index to what is worth fetching.

    - ``url_prefix`` — a SURT prefix (host or host+path selection;
      ``surt_key('https://example.org/docs')`` selects a subtree)
    - ``mime`` / ``status`` — exact-match capture filters
    - ``latest_only`` — one row per SURT key, newest timestamp
      (re-crawls of a page collapse to the current capture)
    - ``dedup_digest`` — one row per payload digest (mirrored /
      unchanged content fetches once — exact dedup BEFORE download)

    Both dedups are ``row_number`` windows over index-sized groups;
    output carries everything :func:`fetch_cdx_records` needs."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    out = df
    if url_prefix is not None:
        out = out.filter(F.col("surt").startswith(url_prefix.lower()))
    if mime is not None:
        out = out.filter(F.col("mime") == mime)
    if status is not None:
        out = out.filter(F.col("status") == status)
    if latest_only:
        w = Window.partitionBy("surt").orderBy(
            F.desc("ts"), F.asc("filename"), F.asc("offset")
        )
        out = (
            out.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    if dedup_digest:
        w = Window.partitionBy("digest").orderBy(
            F.asc("ts"), F.asc("filename"), F.asc("offset")
        )
        out = (
            out.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    return out


def recrawl_priority(df, now_ts: str):
    """Capture history (the CDX index across crawls) → per-URL recrawl
    scheduling signals: pages that CHANGE often and haven't been seen
    recently deserve the next fetch slot; pages whose digest never
    moved can wait. The standard frequency-based recrawl policy (Cho &
    Garcia-Molina 2003, "Effective Page Refresh Policies for Web
    Crawlers") in one index-sized aggregate:

    - ``n_captures`` / ``n_versions`` — captures and DISTINCT payload
      digests per SURT key
    - ``change_rate`` = (n_versions − 1) / (n_captures − 1), the
      observed fraction of revisits that found new content (0 for a
      single capture — no evidence yet)
    - ``age_days`` — days from the newest capture to ``now_ts``
      (a 14-digit CDX timestamp, passed explicitly: plans stay
      deterministic and re-runnable)
    - ``priority`` = change_rate × ln(1 + age_days), rounded to 6 dp

    Pure Catalyst over the index; ORDER BY priority DESC is the
    recrawl queue. Deterministic closed form → SQL-twinnable."""
    from pyspark.sql import functions as F

    def _epoch(col):
        # tz-free 14-digit-timestamp → epoch seconds: date part via
        # datediff against the epoch, time part by integer arithmetic
        # (to_timestamp/unix_timestamp would re-interpret in the
        # session timezone — DST boundaries would shift differences)
        d = F.to_date(F.substring(col, 1, 8), "yyyyMMdd")
        days = F.datediff(d, F.lit("1970-01-01"))
        secs = (
            F.substring(col, 9, 2).cast("long") * 3600
            + F.substring(col, 11, 2).cast("long") * 60
            + F.substring(col, 13, 2).cast("long")
        )
        return days.cast("long") * 86400 + secs

    agg = df.groupBy("surt").agg(
        F.max_by("url", "ts").alias("url"),
        F.count(F.lit(1)).alias("n_captures"),
        F.countDistinct("digest").alias("n_versions"),
        F.max("ts").alias("last_ts"),
    )
    age_days = (
        (_epoch(F.lit(now_ts)) - _epoch(F.col("last_ts"))).cast("double")
    ) / 86400.0
    change_rate = F.when(
        F.col("n_captures") > 1,
        (F.col("n_versions") - 1)
        / (F.col("n_captures") - 1).cast("double"),
    ).otherwise(F.lit(0.0))
    return agg.select(
        "surt", "url", "n_captures", "n_versions", "last_ts",
        F.round(age_days, 6).alias("age_days"),
        F.round(change_rate, 6).alias("change_rate"),
        F.round(
            change_rate * F.log1p(F.greatest(age_days, F.lit(0.0))), 6
        ).alias("priority"),
    )


def fetch_cdx_records(spark_or_df, df=None, max_bytes: int | None = None):
    """Selected index rows → the actual WARC records, by RANGE READS:
    seek each (filename, offset), read ``length`` bytes, gunzip the
    single member (or slice the plain record), parse with the same
    ``parse_warc`` as the full-scan path. Per-row quarantine (bad
    offset/corrupt member → error row). Rows are repartitioned by
    archive and sorted by offset inside each task for sequential
    access patterns.

    Accepts ``fetch_cdx_records(df)`` or the (spark, df) form for
    symmetry with the other sources."""
    from vectra_py_spark.session import map_rows

    sel = df if df is not None else spark_or_df
    ceiling = DECOMPRESS_CEILING if max_bytes is None else max_bytes

    def row(fname, off, length):
        with open(fname, "rb") as fh:
            fh.seek(int(off))
            raw = fh.read(int(length))
        if len(raw) != int(length):
            raise ValueError(
                f"range read truncated ({len(raw)}/{int(length)} bytes)"
            )
        recs = parse_warc(raw, max_bytes=ceiling)
        if len(recs) != 1:
            raise ValueError(f"range holds {len(recs)} records, expected 1")
        r = recs[0]
        return [(fname, int(off), r["warc_type"], r["url"], r["warc_date"],
                 r["http_status"], r["content_type"], r["payload"],
                 len(r["payload"]), None)]

    cols = ["filename", "offset", "length"]
    return map_rows(
        sel.select(*cols).repartition("filename")
        .sortWithinPartitions("filename", "offset"),
        cols, row, _FETCH_SCHEMA,
        on_error=lambda v, exc: (
            v[0], int(v[1]), *[None] * 6, 0, str(exc) or type(exc).__name__
        ),
        catch=(ValueError, OSError),
    )
