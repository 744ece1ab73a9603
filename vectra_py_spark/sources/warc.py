"""WARC web-archive source — the format 100 TB crawl corpora actually
arrive in (Common Crawl ships WARC/1.0/1.1; public spec ISO 28500).

A WARC file is a sequence of records: a header block (``WARC/1.x``
version line + name:value headers, Content-Length mandatory), a blank
line, ``Content-Length`` bytes of block, and a ``\\r\\n\\r\\n``
separator. ``response`` records wrap a full HTTP response (status line
+ headers + body); ``.warc.gz`` files are per-record gzip members
concatenated, which the stdlib gzip reader walks natively.

Surface:

- :func:`parse_warc` — bytes → list of record dicts (HTTP layer peeled
  for response records). ValueError on structural corruption.
- :func:`read_warc` — Spark source: ``binaryFile`` scan → one row per
  record, with per-FILE quarantine (a corrupt archive yields one error
  row, never a failed stage — crawl archives are dirty by nature).
  Extracted payloads feed the existing pipelines directly:
  :func:`probe.probe_media` / ``extract_features`` for media,
  ``html_to_markdown`` → document ingest for pages.
- :func:`read_media_archive` — the same explode for plain ZIP/TAR
  bundles (stdlib ``zipfile``/``tarfile``), the other shape bulk media
  drops arrive in.
- :func:`synth_warc` — generate a valid (optionally gzipped) archive
  for tests/demos.

Scale shape: one narrow ``map_rows`` pass; records never
enter a shuffle; ``binaryFile`` splits by file, so archive count is
the parallelism unit (Common Crawl segments are ~1 GB each — thousands
of files saturate any executor fleet).
"""

from __future__ import annotations

import gzip
import io
import zlib
import tarfile
import zipfile
from pyspark.sql import DataFrame, SparkSession

from vectra_py_spark.session import map_rows

__all__ = [
    "parse_warc",
    "read_warc",
    "explode_warc",
    "warc_documents",
    "read_media_archive",
    "explode_archives_df",
    "synth_wet",
    "wet_documents",
    "to_wet_shards",
    "synth_warc",
    "WARC_SCHEMA",
    "ARCHIVE_SCHEMA",
]

# Per-FILE decompressed-output ceiling. Crawl archives are adversarial
# input by nature: a ~1000:1 gzip/Flate bomb must become a quarantine
# row (ValueError), never a MemoryError that kills the whole Spark
# stage. Common Crawl segments are ~1 GB compressed and bounded-ratio;
# 4 GiB of decompressed output per file is far past anything legitimate
# while staying well inside one executor-task's memory on any sane
# cluster sizing. Override module-wide or per call via ``max_bytes``.
DECOMPRESS_CEILING = 4 << 30

WARC_SCHEMA = (
    "archive STRING, record_idx INT, warc_type STRING, url STRING, "
    "warc_date STRING, http_status INT, content_type STRING, "
    "payload BINARY, n_bytes BIGINT, error STRING"
)

ARCHIVE_SCHEMA = (
    "archive STRING, member STRING, payload BINARY, n_bytes BIGINT, "
    "error STRING"
)


def _split_headers(block: bytes) -> tuple[dict, bytes]:
    """name:value header block + blank line → (headers, rest)."""
    sep = block.find(b"\r\n\r\n")
    if sep < 0:
        raise ValueError("missing blank line after headers")
    headers: dict[str, str] = {}
    for line in block[:sep].split(b"\r\n"):
        if b":" not in line:
            continue
        k, v = line.split(b":", 1)
        headers[k.strip().decode("latin-1").lower()] = (
            v.strip().decode("latin-1")
        )
    return headers, block[sep + 4 :]


def _gunzip_capped(payload: bytes, max_bytes: int) -> bytes:
    """Incremental multi-member gunzip with an output ceiling.

    ``gzip.GzipFile(...).read()`` allocates the whole expansion before
    returning, so a decompression bomb surfaces as MemoryError — a
    failed Spark stage, not a quarantine row. Decompressing member by
    member via ``zlib.decompressobj(wbits=47)`` lets us count output as
    it is produced and raise ValueError the moment the ceiling is
    crossed, with at most one 1 MiB chunk of overshoot allocated."""
    out: list[bytes] = []
    total = 0
    data = payload
    while data[:2] == b"\x1f\x8b":
        d = zlib.decompressobj(wbits=47)  # gzip-wrapped member
        while True:
            chunk = d.decompress(data, 1 << 20)
            total += len(chunk)
            if total > max_bytes:
                raise ValueError(
                    f"WARC gzip expansion exceeds {max_bytes} bytes "
                    "(decompression bomb?)"
                )
            out.append(chunk)
            if d.eof:
                data = d.unused_data
                break
            if not d.unconsumed_tail:
                raise ValueError("truncated WARC gzip member")
            data = d.unconsumed_tail
    if data.strip(b"\x00"):
        raise ValueError("trailing garbage after WARC gzip members")
    return b"".join(out)


def parse_warc(
    payload: bytes, max_bytes: int | None = None
) -> list[dict]:
    """WARC bytes (plain or gzip, incl. multi-member .warc.gz) → one
    dict per record: warc_type, url, warc_date, content_type, payload
    (the HTTP BODY for response records, the raw block otherwise),
    http_status (response records only). Structural corruption raises
    ValueError, as does gzip expansion past ``max_bytes`` (default
    :data:`DECOMPRESS_CEILING`) — bombs quarantine, stages survive."""
    if payload[:2] == b"\x1f\x8b":
        try:
            payload = _gunzip_capped(
                payload, DECOMPRESS_CEILING if max_bytes is None else max_bytes
            )
        except (OSError, EOFError, zlib.error) as exc:
            # zlib.error: corrupt deflate data inside a well-formed gzip
            # header — found by the extended fuzz pass
            raise ValueError(f"corrupt WARC gzip stream: {exc}") from exc
    if not payload.startswith(b"WARC/"):
        raise ValueError(
            f"not a WARC payload (starts {payload[:8]!r})"
        )
    records: list[dict] = []
    pos = 0
    n = len(payload)
    while pos < n:
        if payload[pos : pos + 5] != b"WARC/":
            raise ValueError(
                f"WARC record expected at byte {pos} "
                f"(got {payload[pos:pos + 5]!r})"
            )
        hdr_end = payload.find(b"\r\n\r\n", pos)
        if hdr_end < 0:
            raise ValueError("WARC header block truncated")
        headers, _ = _split_headers(payload[pos : hdr_end + 4])
        try:
            length = int(headers["content-length"])
        except (KeyError, ValueError) as exc:
            raise ValueError(f"WARC record missing Content-Length: {exc}") from exc
        if length < 0:
            raise ValueError("negative WARC Content-Length")
        block_start = hdr_end + 4
        block_end = block_start + length
        if block_end > n:
            raise ValueError("WARC block extends past the file")
        block = payload[block_start:block_end]
        if payload[block_end : block_end + 4] not in (b"\r\n\r\n", b""):
            raise ValueError("WARC record separator missing")
        rec = {
            "warc_type": headers.get("warc-type", ""),
            "url": headers.get("warc-target-uri"),
            "warc_date": headers.get("warc-date"),
            "content_type": headers.get("content-type"),
            "http_status": None,
            "payload": block,
        }
        if rec["warc_type"] == "response" and block[:5] == b"HTTP/":
            http_hdr_end = block.find(b"\r\n\r\n")
            if http_hdr_end < 0:
                raise ValueError("WARC response record: HTTP headers truncated")
            status_line = block[: block.find(b"\r\n")].decode(
                "latin-1", "replace"
            )
            parts = status_line.split()
            if len(parts) < 2 or not parts[1].isdigit():
                raise ValueError(
                    f"malformed HTTP status line {status_line!r}"
                )
            http_headers, _ = _split_headers(block[: http_hdr_end + 4])
            rec["http_status"] = int(parts[1])
            rec["content_type"] = http_headers.get(
                "content-type", rec["content_type"]
            )
            rec["payload"] = block[http_hdr_end + 4 :]
        records.append(rec)
        pos = block_end + 4
        if pos > n:  # final record may omit the trailing separator
            pos = n
    if not records:
        raise ValueError("WARC contains no records")
    return records


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """Directory/glob of .warc / .warc.gz files → one row per record.
    Per-FILE quarantine: a corrupt archive becomes a single row with
    ``error`` set and everything else NULL — the stage never fails."""
    raw = spark.read.format("binaryFile").load(path)
    return explode_warc(raw)


def explode_warc(raw: DataFrame) -> DataFrame:
    """The (path, content) → records explode shared by the batch reader
    and the streaming ingest (`streaming/warc.py`) — identical rows
    either way, the package's streaming-twin discipline."""

    def rows(fpath, content):
        return [
            (fpath, i, r["warc_type"], r["url"], r["warc_date"],
             r["http_status"], r["content_type"], r["payload"],
             len(r["payload"]), None)
            for i, r in enumerate(parse_warc(bytes(content)))
        ]

    # MemoryError: the capped gunzip bounds expansion, but a huge PLAIN
    # archive can still fail to allocate — quarantine the file, keep
    # the stage
    return map_rows(
        raw, ["path", "content"], rows, WARC_SCHEMA,
        on_error=lambda v, exc: (
            v[0], -1, *[None] * 6, 0, str(exc) or type(exc).__name__
        ),
        catch=(ValueError, MemoryError),
    )


_TEXT_TYPES = (
    "text/html", "application/xhtml", "text/plain", "application/pdf",
)
# document formats (DOCX/PPTX/XLSX/ODT/EPUB/RTF) join the routing set
# from operators/office.py::OFFICE_MIME_TYPES — one source of truth


_CHARSET_RE = __import__("re").compile(
    r"charset\s*=\s*\"?'?([A-Za-z0-9_.:+-]+)", __import__("re").I
)


def _charset_of(content_type: str) -> str:
    """Codec named by a Content-Type charset parameter, if Python can
    resolve it; UTF-8 otherwise (crawl headers lie — with errors=
    'replace' a wrong-but-resolvable charset still cannot crash)."""
    m = _CHARSET_RE.search(content_type or "")
    if m:
        import codecs

        try:
            return codecs.lookup(m.group(1)).name
        except LookupError:
            pass
    return "utf-8"


def warc_documents(records: DataFrame, min_chars: int = 1) -> DataFrame:
    """Response records with an HTML/plain-text content type → (uri,
    text, doc_type) rows ready for
    ``SparkDocumentIndex.upsert_documents_df`` — the crawl→corpus glue:
    HTML renders through the same ``html_to_markdown`` the web fetcher
    uses (doc_type 'md'), plain text passes through (doc_type 'txt'),
    application/pdf records extract through the real PDF parser
    (doc_type 'pdf'), and the ZIP-based document types — DOCX, PPTX,
    ODT, EPUB — extract through ``operators/office.py`` (doc_type
    matching the format; unsupported/corrupt documents skip quietly —
    this glue is a best-effort corpus builder, the strict paths are
    ``extract_pdf_text_df`` / ``extract_office_text_df`` with
    ``on_error='quarantine'``).
    Text decodes by the Content-Type ``charset=`` parameter when one
    is declared and resolvable, else UTF-8 — always with replacement
    (crawl charsets lie; a mojibake'd document is filterable
    downstream, a crashed stage is not). One narrow ``map_rows`` pass,
    no shuffle."""
    from pyspark.sql import functions as F

    from vectra_py_spark.operators.office import OFFICE_MIME_TYPES
    from vectra_py_spark.sources.fetchers import html_to_markdown

    routed = _TEXT_TYPES + tuple(OFFICE_MIME_TYPES)
    type_pred = F.col("content_type").startswith(routed[0])
    for t in routed[1:]:
        type_pred = type_pred | F.col("content_type").startswith(t)
    text_like = records.filter(
        (F.col("warc_type") == "response")
        & (F.col("http_status") == 200)
        & F.col("url").isNotNull()
        & F.col("content_type").isNotNull()
        & type_pred
    ).select("url", "content_type", "payload")

    def row(url, ctype, payload):
        if ctype.startswith("application/pdf"):
            from vectra_py_spark.operators.pdf import pdf_extract_text

            try:
                text = "\n\n".join(pdf_extract_text(bytes(payload)))
            except ValueError:
                return []  # unsupported/corrupt PDFs skip quietly
            dt = "pdf"
        elif any(ctype.startswith(t) for t in OFFICE_MIME_TYPES):
            from vectra_py_spark.operators.office import office_extract_text

            try:
                dt, text = office_extract_text(bytes(payload))
            except ValueError:
                return []  # corrupt/legacy-binary docs skip
        else:
            raw = bytes(payload).decode(_charset_of(ctype), "replace")
            if ctype.startswith("text/plain"):
                text, dt = raw, "txt"
            else:
                text, dt = html_to_markdown(raw, base_url=url), "md"
        if len(text.strip()) < min_chars:
            return []
        return [(url, text, dt)]

    return map_rows(
        text_like, ["url", "content_type", "payload"], row,
        "uri STRING, text STRING, doc_type STRING",
    )


def read_media_archive(spark: SparkSession, path: str) -> DataFrame:
    """ZIP/TAR (incl. .tar.gz) bundles → one row per member file, the
    other container bulk media drops arrive in. Same per-file
    quarantine policy as :func:`read_warc`; members feed
    probe_media/extract_features directly."""
    raw = spark.read.format("binaryFile").load(path)
    return explode_archives_df(raw)


def explode_archives_df(raw: DataFrame) -> DataFrame:
    """The archive explode factored over any (path, content) frame —
    batch ``binaryFile`` scans and streaming sources run the identical
    member walk (``map_rows`` is streaming-transparent), so the batch
    and continuous ingest paths cannot drift."""

    def read_capped(fobj, budget: list[int], name: str) -> bytes:
        # Chunked member read against a shared per-FILE output budget:
        # ZIP/TAR size headers can lie (and .tar.gz inflates), so count
        # actual bytes produced, never trust the directory entry.
        parts: list[bytes] = []
        while True:
            chunk = fobj.read(1 << 20)
            if not chunk:
                return b"".join(parts)
            budget[0] -= len(chunk)
            if budget[0] < 0:
                raise ValueError(
                    f"archive expansion exceeds {DECOMPRESS_CEILING} "
                    f"bytes at member {name!r} (decompression bomb?)"
                )
            parts.append(chunk)

    def members(content: bytes) -> list[tuple[str, bytes]]:
        buf = io.BytesIO(content)
        budget = [DECOMPRESS_CEILING]
        if content[:4] == b"PK\x03\x04":
            try:
                with zipfile.ZipFile(buf) as z:
                    out = []
                    for nm in z.namelist():
                        if nm.endswith("/"):
                            continue
                        with z.open(nm) as f:
                            out.append((nm, read_capped(f, budget, nm)))
                    return out
            except (zipfile.BadZipFile, OSError, EOFError) as exc:
                raise ValueError(f"corrupt ZIP archive: {exc}") from exc
        try:
            with tarfile.open(fileobj=buf, mode="r:*") as t:
                out = []
                for m in t.getmembers():
                    if m.isfile():
                        f = t.extractfile(m)
                        out.append(
                            (m.name,
                             read_capped(f, budget, m.name) if f else b"")
                        )
                return out
        except (tarfile.TarError, OSError, EOFError) as exc:
            raise ValueError(f"corrupt TAR archive: {exc}") from exc

    def rows(fpath, content):
        return [(fpath, name, data, len(data), None)
                for name, data in members(bytes(content))]

    return map_rows(
        raw, ["path", "content"], rows, ARCHIVE_SCHEMA,
        on_error=lambda v, exc: (
            v[0], None, None, 0, str(exc) or type(exc).__name__
        ),
        catch=(ValueError, MemoryError),
    )


def synth_wet(
    docs: list[tuple[str, str]], compress: bool = False
) -> bytes:
    """(url, extracted text) pairs → a WET-style archive: WARC
    ``conversion`` records with ``Content-Type: text/plain`` (the
    Common Crawl WET convention — the interchange format for
    ALREADY-EXTRACTED text, so downstream consumers skip the HTML).
    ``compress=True`` emits per-record gzip members (.warc.wet.gz),
    which also makes the output :func:`cdx.index_warc`-able."""

    def record(headers: dict[str, str], block: bytes) -> bytes:
        head = b"WARC/1.0\r\n" + b"".join(
            f"{k}: {v}\r\n".encode("latin-1") for k, v in headers.items()
        )
        head += f"Content-Length: {len(block)}\r\n".encode()
        return head + b"\r\n" + block + b"\r\n\r\n"

    out = [record(
        {"WARC-Type": "warcinfo", "WARC-Record-ID": "<urn:uuid:0>",
         "WARC-Date": "2026-01-01T00:00:00Z",
         "Content-Type": "application/warc-fields"},
        b"software: vectra-py-spark synth_wet\r\n",
    )]
    for i, (url, text) in enumerate(docs, 1):
        out.append(record(
            {"WARC-Type": "conversion",
             "WARC-Record-ID": f"<urn:uuid:{i}>",
             "WARC-Date": "2026-01-01T00:00:00Z",
             "WARC-Target-URI": url,
             "Content-Type": "text/plain"},
            text.encode("utf-8"),
        ))
    if compress:
        return b"".join(gzip.compress(r, mtime=0) for r in out)
    return b"".join(out)


def wet_documents(records: DataFrame) -> DataFrame:
    """WARC record rows (``read_warc`` over WET files) → (uri, text,
    doc_type='txt') document rows: ``conversion`` records carry
    already-extracted plain text, decoded in Catalyst via
    ``make_valid_utf8(cast(payload as string))`` — malformed
    sequences become U+FFFD (``errors='replace'`` semantics) rather
    than raising MALFORMED_CHARACTER_CODING like ``decode`` does on
    Spark 4, so one corrupt conversion record can't fail the job.
    The WET-side twin of :func:`warc_documents` (which extracts from
    raw ``response`` records)."""
    from pyspark.sql import functions as F

    return records.filter(
        (F.col("warc_type") == "conversion")
        & F.col("error").isNull()
        & F.col("url").isNotNull()
    ).select(
        F.col("url").alias("uri"),
        F.make_valid_utf8(F.col("payload").cast("string")).alias("text"),
        F.lit("txt").alias("doc_type"),
    )


def to_wet_shards(
    df: DataFrame,
    n_shards: int = 64,
    uri_col: str = "uri",
    text_col: str = "text",
    compress: bool = True,
) -> DataFrame:
    """Extracted-document rows → WET shard payloads (shard, payload,
    n_docs): the export side. Documents bucket into ``n_shards``
    shards by a deterministic URI hash (reruns produce identical
    membership — no count job, no nondeterministic partition ids);
    each shard is built by the same :func:`synth_wet` encoder the
    reader round-trips against, docs in bytewise URI order inside a
    shard (deterministic payload bytes). One shuffle on the shard
    key via ``groupBy().applyInPandas`` — exactly ONE pandas call per
    shard, so payload bytes can't depend on Arrow batch boundaries
    the way a ``mapInPandas`` groupby would (maxRecordsPerBatch
    splits a >10k-doc shard across batches); the whole shard
    therefore materializes in one pandas frame — size shards (pick
    ``n_shards``) so a shard fits executor memory. The caller
    persists payload rows wherever archives live."""
    import pandas as pd
    from pyspark.sql import functions as F

    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")

    def build(pdf: "pd.DataFrame") -> "pd.DataFrame":
        grp = pdf.sort_values(uri_col)
        payload = synth_wet(
            [
                (str(u), str(t))
                for u, t in zip(grp[uri_col], grp[text_col])
            ],
            compress=compress,
        )
        return pd.DataFrame({
            "shard": [int(grp["__shard"].iloc[0])],
            "payload": [payload],
            "n_docs": [len(grp)],
        })

    return (
        df.select(
            uri_col, text_col,
            F.pmod(F.xxhash64(F.col(uri_col)), F.lit(n_shards))
            .cast("int")
            .alias("__shard"),
        )
        .groupBy("__shard")
        .applyInPandas(build, schema="shard INT, payload BINARY, n_docs INT")
    )


def synth_warc(
    pages: list[tuple[str, bytes, str]], compress: bool = False
) -> bytes:
    """(url, body, content_type) triples → a valid WARC/1.0 archive
    with a warcinfo record then one response record per page. With
    ``compress=True``, each record is its own gzip member (the
    .warc.gz convention)."""
    def record(headers: dict[str, str], block: bytes) -> bytes:
        head = b"WARC/1.0\r\n" + b"".join(
            f"{k}: {v}\r\n".encode("latin-1") for k, v in headers.items()
        )
        head += f"Content-Length: {len(block)}\r\n".encode()
        return head + b"\r\n" + block + b"\r\n\r\n"

    out: list[bytes] = []
    info = b"software: vectra-py-spark synth_warc\r\n"
    out.append(record(
        {"WARC-Type": "warcinfo", "WARC-Record-ID": "<urn:uuid:0>",
         "WARC-Date": "2026-01-01T00:00:00Z",
         "Content-Type": "application/warc-fields"},
        info,
    ))
    for i, (url, body, ctype) in enumerate(pages, 1):
        http = (
            b"HTTP/1.1 200 OK\r\n"
            + f"Content-Type: {ctype}\r\n".encode()
            + f"Content-Length: {len(body)}\r\n".encode()
            + b"\r\n" + body
        )
        out.append(record(
            {"WARC-Type": "response",
             "WARC-Record-ID": f"<urn:uuid:{i}>",
             "WARC-Date": "2026-01-01T00:00:00Z",
             "WARC-Target-URI": url,
             "Content-Type": "application/http; msgtype=response"},
            http,
        ))
    if compress:
        return b"".join(gzip.compress(r, mtime=0) for r in out)
    return b"".join(out)
