"""One-call folder-of-anything document ingestion: a directory (or
glob) containing any mix of PDF, DOCX, PPTX, XLSX, ODT, EPUB, RTF,
HTML and plain-text files → (uri, text, doc_type) rows ready for
``SparkDocumentIndex.upsert_documents_df`` — the batch twin of the
WARC crawl glue, dispatching on MAGIC BYTES (not extensions: crawl
drops lie about names) to the same extractors:

- ``%PDF-``       → operators/pdf.py        (doc_type 'pdf')
- ``PK\\x03\\x04``  → operators/office.py   ('docx'/'pptx'/'xlsx'/'odt'/'epub')
- OLE ``D0CF11E0`` → operators/doc|ppt|xls  ('doc'/'ppt'/'xls' legacy trio)
- ``{\\rtf``       → operators/rtf.py        ('rtf')
- decodes as text → html_to_markdown when it looks like markup
  ('md'), else passthrough ('txt'); undecodable/binary-garbage files
  skip quietly (best-effort corpus builder — the strict per-format
  paths are the ``extract_*_df(on_error='quarantine')`` operators).

Scale shape: one narrow ``map_rows`` pass over the ``binaryFile`` scan;
file count is the parallelism unit, payloads never shuffle.
"""

from __future__ import annotations

import re

__all__ = [
    "read_documents",
    "extract_documents_df",
    "extract_any_document",
    "archive_documents",
    "read_archive_documents",
]

_HTML_RE = re.compile(
    r"<\s*(?:!doctype\s+html|html|head|body|div|p|h[1-6])[\s>]", re.I
)


def extract_any_document(payload: bytes) -> tuple[str, str]:
    """(doc_type, text) for any supported payload; ValueError names
    the reason for everything else — the single dispatch the folder
    source and tests share."""
    if payload[:5] == b"%PDF-":
        from vectra_py_spark.operators.pdf import pdf_extract_text

        return "pdf", "\n\n".join(pdf_extract_text(payload))
    if payload[:4] == b"PK\x03\x04" or payload[:5] == b"{\\rtf" or (
        payload[:8] == b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
    ):
        from vectra_py_spark.operators.office import office_extract_text

        return office_extract_text(payload)
    # textual fallback: strict UTF-8 first, latin-1 only for byte
    # values that still look like text overall
    try:
        text = payload.decode("utf-8")
    except UnicodeDecodeError:
        text = payload.decode("latin-1")
        sample = text[:4096]
        if sample and sum(
            ch.isprintable() or ch in "\n\r\t" for ch in sample
        ) / len(sample) < 0.9:
            raise ValueError(
                "binary payload with no recognized document magic"
            ) from None
    head = text[:2048]
    if _HTML_RE.search(head):
        from vectra_py_spark.sources.fetchers import html_to_markdown

        return "md", html_to_markdown(text)
    return "txt", text


def extract_documents_df(df, min_chars: int = 1):
    """(path, content) binary rows → (uri, text, doc_type) via the
    magic-byte dispatch — the extraction stage of :func:`read_documents`
    factored out so any (path, content) frame (a ``binaryFile`` scan, a
    streaming source, an in-plan synthesized frame) runs the identical
    production path. One narrow ``map_rows`` pass, payloads never
    shuffle."""
    return _documents_df(df, extract_any_document, min_chars)


def _documents_df(df, extract, min_chars: int):
    """(path, content) rows → (uri, text, doc_type) through ``extract``
    (bytes → (doc_type, text)); files it refuses with ValueError, or
    whose text is shorter than ``min_chars``, skip quietly."""
    from vectra_py_spark.session import map_rows

    def row(fpath, content):
        kind, text = extract(bytes(content))
        if len(text.strip()) < min_chars:
            return []
        return [(str(fpath), text, kind)]

    return map_rows(
        df, ["path", "content"], row,
        "uri STRING, text STRING, doc_type STRING",
        on_error=lambda v, exc: None,
    )


def read_documents(spark, path: str, min_chars: int = 1):
    """Directory/glob of mixed document files → (uri, text, doc_type)
    rows; unsupported/corrupt files skip quietly."""
    raw = spark.read.format("binaryFile").load(path)
    return extract_documents_df(raw, min_chars=min_chars)


def archive_documents(df, min_chars: int = 1):
    """Exploded-archive rows (``read_media_archive``'s ARCHIVE_SCHEMA:
    archive, member, payload, n_bytes, error) → (uri, text, doc_type)
    through the same magic-byte dispatch as :func:`read_documents` —
    the glue that makes "pack millions of small documents into TAR/ZIP"
    (the listing-bound fix BENCH.md recommends) a one-call ingest path,
    exactly as ``warc_documents`` is for crawl archives. Member URIs
    use the ``archive!member`` bang convention. Quarantined archives
    (error rows) and non-document members skip quietly."""
    from pyspark.sql import functions as F

    files = df.filter(
        F.col("error").isNull() & F.col("payload").isNotNull()
    ).select(
        F.concat_ws("!", "archive", "member").alias("path"),
        F.col("payload").alias("content"),
    )
    return extract_documents_df(files, min_chars=min_chars)


def read_archive_documents(spark, path: str, min_chars: int = 1):
    """Directory/glob of TAR (incl. .tar.gz/.tgz/.tar.bz2/.tar.xz) and
    ZIP bundles of mixed documents → (uri, text, doc_type) rows.
    Archive count is the parallelism unit — at corpus scale this is
    the supported shape for billions of small files (one binaryFile
    listing over thousands of archives instead of a listing over the
    files themselves)."""
    from vectra_py_spark.sources.warc import read_media_archive

    return archive_documents(
        read_media_archive(spark, path), min_chars=min_chars
    )
