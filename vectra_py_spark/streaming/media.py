"""Continuous multimodal ingest: raw media files landing in a drop
directory → decoded feature vectors, as a Structured Streaming query.

The batch path (`operators/multimodal.py::extract_features`) is a
narrow ``map_rows`` pass over binary payloads; this module runs the SAME
transformation on Spark's built-in ``binaryFile`` streaming source, so
a crawl that continuously lands image/audio files becomes a continuous
feature stream with exactly-once per micro-batch semantics — no new
decode code, the identical plan per batch.

Shape at 100 TB: the ``binaryFile`` source lists + reads files
incrementally (``maxFilesPerTrigger`` bounds a micro-batch); each
batch is the same shuffle-free decode map as the batch operator, so
throughput scales with executors and the payload bytes never enter a
shuffle. ``decoder='auto'`` + ``on_error='quarantine'`` is the crawl
configuration: magic-byte routing, corrupt files surfaced as
quarantine rows in the SAME sink rather than dead-lettering the batch.
``Trigger.AvailableNow`` turns the query into an incremental backfill
(drain the directory, stop) — the cron-friendly mode the other ingest
twins (`bm25_ingest`, `ingest`) use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from vectra_py_spark.operators.multimodal import extract_features

__all__ = [
    "media_file_stream",
    "stream_media_features",
    "stream_video_fingerprints",
    "stream_subtitle_cues",
]


def media_file_stream(
    spark: SparkSession,
    drop_dir: str,
    pattern: str = "*",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """``readStream`` over a media drop directory → MEDIA-shaped
    streaming frame (``media_id`` = file path, payload in ``data``).
    The ``binaryFile`` source carries (path, modificationTime, length,
    content); modality stays unknown here — `sniff_media_type` /
    ``decoder='auto'`` resolves the real format from the bytes."""
    # the binaryFile source's schema is fixed by Spark, but streaming
    # sources require it stated explicitly
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
    raw = reader.load(drop_dir)
    return raw.select(
        F.col("path").alias("media_id"),
        F.lit("unknown").alias("modality"),
        F.col("content").alias("data"),
        F.create_map(
            F.lit("n_bytes"), F.col("length").cast("string"),
            F.lit("mtime"), F.col("modificationTime").cast("string"),
        ).alias("meta"),
    )


def stream_media_features(
    stream_df: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    decoder: str = "auto",
    on_error: str = "quarantine",
    available_now: bool = True,
    triage: dict | None = None,
) -> StreamingQuery:
    """Start the feature-extraction stream: each micro-batch runs the
    batch `extract_features` operator (same decode path, same schema —
    plus ``decode_error`` under quarantine) and appends to a parquet
    sink. Exactly-once per batch id via the checkpoint; re-running
    after a crash never re-decodes a completed batch.

    ``triage`` enables probe-before-decode, the crawl default: a dict
    of `operators/probe.py::triage_media` bounds (``{}`` for
    probe-clean-only, or e.g. ``{"max_bytes": 50_000_000,
    "max_duration_s": 600}``) applied as a header-only first stage so
    corrupt / oversized / out-of-policy payloads never reach the
    decoder. With triage on, rejected files produce NO sink row (they
    were never decoded); leave it None to keep the quarantine-row-per-
    corrupt-file contract. Bytes-decoded saved is quantified in
    BENCH.md."""
    if triage is not None:
        from vectra_py_spark.operators.probe import triage_media

        stream_df = triage_media(stream_df, **triage).drop(
            "kind", "n_bytes"
        )
    feats = extract_features(stream_df, decoder=decoder, on_error=on_error)
    writer = (
        feats.writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .queryName("stream_media_features")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_video_fingerprints(
    stream_df: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    stride: int = 1,
    available_now: bool = True,
) -> StreamingQuery:
    """Continuous video-fingerprint ingest: each micro-batch runs the
    batch `operators/videohash.py::video_phash_df` pass (same container
    walk → per-frame pHash, per-clip ValueError quarantine rows) and
    appends (media_id, frame_idx, phash, error) to a parquet sink —
    the video member of the media/WARC/archive ingest-twin family,
    exactly-once per batch id via the checkpoint.

    The sink is `video_match_pairs`-shaped: run the match join over it
    on any cadence for continuous copy detection, or fold it into the
    banded index with `video_write_index` for the incremental probe.
    Payload bytes never enter a shuffle; a crashed query never
    re-decodes a completed batch."""
    from vectra_py_spark.operators.videohash import video_phash_df

    fh = video_phash_df(stream_df, stride=stride)
    writer = (
        fh.writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .queryName("stream_video_fingerprints")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_subtitle_cues(
    stream_df: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Continuous subtitle ingest: each micro-batch decodes the
    binary payloads as UTF-8 (errors='replace' — the U+FFFD
    quarantine discipline the WARC/WET path uses; subtitle files in
    the wild carry mojibake constantly) and runs the batch
    `operators/subtitles.py::parse_cues` scanner, appending
    (media_id, cue_idx, start_ms, end_ms, cue_text, error) to a
    parquet sink — the subtitle member of the ingest-twin family,
    exactly-once per batch id via the checkpoint.

    The sink is `align_cues_to_frames`-shaped: join it against the
    `stream_video_fingerprints` sink for continuously maintained
    video-text clip pairs — the full HowTo100M acquisition loop as
    two drop directories."""
    from vectra_py_spark.operators.subtitles import subtitle_cues_df

    text = stream_df.select(
        F.col("media_id"),
        F.make_valid_utf8(F.col("data").cast("string")).alias("text"),
    )
    cues = subtitle_cues_df(text, text_col="text", id_col="media_id")
    writer = (
        cues.writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .queryName("stream_subtitle_cues")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
