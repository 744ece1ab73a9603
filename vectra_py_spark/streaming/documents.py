"""Continuous folder-of-anything document ingestion: the streaming
twin of ``sources/documents.py::read_documents``. A pipeline keeps
dropping mixed files (PDF / DOCX / PPTX / XLSX / ODT / EPUB / RTF /
HTML / text) into a directory; each micro-batch dispatches NEW files
through the exact batch extractor (``extract_any_document`` — the
streaming-twin discipline: one parser, equivalence-tested) and appends
(uri, text, doc_type) rows to a parquet corpus, exactly-once per batch
id. Unsupported/corrupt files skip in-stream, never a failed query.

Scale: ``binaryFile`` streaming lists new files per trigger; files are
the parallelism unit inside one narrow ``map_rows`` pass, payloads never
shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

__all__ = ["document_file_stream", "stream_documents"]

DOC_ROW_SCHEMA = "uri STRING, text STRING, doc_type STRING"


def document_file_stream(
    spark: SparkSession,
    drop_dir: str,
    pattern: str = "*",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """``readStream`` over a document drop directory → streaming
    (path, content) frame."""
    reader = (
        spark.readStream.format("binaryFile")
        .schema(
            "path STRING, modificationTime TIMESTAMP, "
            "length LONG, content BINARY"
        )
        .option("pathGlobFilter", pattern)
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(drop_dir).select("path", "content")


def extract_documents_stream(
    stream_df: DataFrame, min_chars: int = 1
) -> DataFrame:
    """(path, content) stream → (uri, text, doc_type) stream through
    the batch extractor — literally the batch operator
    (``sources/documents.py::extract_documents_df``; ``mapInArrow`` is
    streaming-transparent), so batch and stream cannot drift. Works on
    static frames too (the equivalence test relies on that)."""
    from vectra_py_spark.sources.documents import extract_documents_df

    return extract_documents_df(stream_df, min_chars=min_chars)


def stream_documents(
    stream_df: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    min_chars: int = 1,
    available_now: bool = True,
) -> StreamingQuery:
    """Start the extract stream: append-only parquet corpus,
    exactly-once per batch id via the checkpoint — a re-run after a
    crash never re-extracts a completed file."""
    docs = extract_documents_stream(stream_df, min_chars=min_chars)
    writer = (
        docs.writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .queryName("stream_documents")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
