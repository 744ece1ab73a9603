"""Subtitle parsing + video-text clip alignment — the acquisition
step behind the narrated-video corpora (Miech et al. 2019,
"HowTo100M: Learning a Text-Video Embedding by Watching Hundred
Million Narrated Video Clips"): a video plus its subtitle track
becomes a stream of (time-span, text) cues, and pairing each cue with
the frames inside its span yields clip-text training pairs — the
video analogue of the ``<img alt>`` pairs in pairs.py and the bitext
pairs in similarity.py. Reference tie-in: the reference ingests text
documents only (document_fetcher.py); this closes the video-text
modality the same way imagehash/audiofp closed image/audio dedup.

Two container formats cover the public corpora:

* **SRT** — numbered blocks, ``HH:MM:SS,mmm --> HH:MM:SS,mmm``.
* **WebVTT** (RFC 8216's subtitle half) — ``WEBVTT`` header, ``.``
  millisecond separator, OPTIONAL hour field, optional cue ids, cue
  settings after the arrow (``align:start``), ``NOTE``/``STYLE``
  blocks, and inline markup (``<c>``, ``<00:00:01.000>`` karaoke
  tags) that must strip to plain text.

Both parse with one forgiving block scanner (blank-line separated
blocks; a block is a cue iff some line contains the arrow) — real
subtitle files violate the strict grammars constantly, and dropping a
malformed block beats dropping the file. Per-file failures quarantine
to an ``error`` row, never kill the job (the decoder contract every
extractor in this repo follows).

Spark surface: ``subtitle_cues_df`` is one narrow ``map_rows``
pass (subtitle payloads never shuffle); ``align_cues_to_frames`` is a
media-id equi-join with the span predicate pushed into the join — the
only shuffle is on the id key both sides already carry.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "parse_cues",
    "subtitle_cues_df",
    "align_cues_to_frames",
]

_ARROW_RE = re.compile(
    r"(?:(\d{1,3}):)?(\d{1,2}):(\d{2})[.,](\d{3})"
    r"\s*-->\s*"
    r"(?:(\d{1,3}):)?(\d{1,2}):(\d{2})[.,](\d{3})"
)
_VTT_TAG_RE = re.compile(r"<[^>\n]*>")  # <c.cls>, </c>, <00:00:01.000>
_WS_RE = re.compile(r"[ \t]+")


def _ms(h: str | None, m: str, s: str, ms: str) -> int:
    return ((int(h or 0) * 60 + int(m)) * 60 + int(s)) * 1000 + int(ms)


def parse_cues(text: str) -> list[tuple[int, int, int, str]]:
    """Subtitle text (SRT or WebVTT, auto-detected per block) →
    ``[(cue_idx, start_ms, end_ms, text)]`` in file order.

    Block scanner: split on blank lines; a block is a cue iff one of
    its lines carries the ``-->`` arrow (SRT index lines, VTT cue ids,
    ``WEBVTT``/``NOTE``/``STYLE`` blocks all fail that test and are
    skipped, which IS the forgiving semantics). Cue text is every
    line after the arrow line, inline VTT markup stripped, runs of
    blanks collapsed. Cues with end <= start are dropped (zero-length
    cues carry no frames). Raises ``ValueError`` only for non-text
    input — container damage degrades to fewer cues, not failure.
    """
    if text is None:
        raise ValueError("subtitle payload is None")
    # normalize newlines; BOM shows up on real VTT files
    body = text.lstrip("﻿").replace("\r\n", "\n").replace("\r", "\n")
    cues: list[tuple[int, int, int, str]] = []
    for block in re.split(r"\n\s*\n", body):
        lines = [ln for ln in block.split("\n")]
        arrow_at = None
        m = None
        for i, ln in enumerate(lines):
            m = _ARROW_RE.search(ln)
            if m:
                arrow_at = i
                break
        if arrow_at is None or m is None:
            continue
        start = _ms(m.group(1), m.group(2), m.group(3), m.group(4))
        end = _ms(m.group(5), m.group(6), m.group(7), m.group(8))
        if end <= start:
            continue
        raw = " ".join(
            ln.strip() for ln in lines[arrow_at + 1:] if ln.strip()
        )
        txt = _WS_RE.sub(" ", _VTT_TAG_RE.sub("", raw)).strip()
        if not txt:
            continue
        cues.append((len(cues), start, end, txt))
    return cues


def subtitle_cues_df(
    df: DataFrame, text_col: str = "text", id_col: str = "media_id"
) -> DataFrame:
    """(media_id, subtitle text) rows → (media_id, cue_idx, start_ms,
    end_ms, cue_text, error): one narrow Arrow pass, one output row
    per cue; a file that fails entirely yields ONE quarantine row
    with ``error`` set and NULL cue fields. Payloads never shuffle."""
    from vectra_py_spark.session import map_rows

    def rows(mid, txt):
        cues = parse_cues(txt if txt is None else str(txt))
        return [(str(mid), idx, s, e, t, None) for idx, s, e, t in cues]

    return map_rows(
        df, [id_col, text_col], rows,
        "media_id STRING, cue_idx INT, start_ms BIGINT, "
        "end_ms BIGINT, cue_text STRING, error STRING",
        on_error=lambda v, exc: (str(v[0]), None, None, None, None, str(exc)),
    )


def align_cues_to_frames(
    cues: DataFrame,
    frames: DataFrame,
    fps: float,
    id_col: str = "media_id",
    frame_idx_col: str = "frame_idx",
) -> DataFrame:
    """Cue rows × sampled-frame rows → clip-text pairs: one row per
    (cue, frame-inside-its-span), schema (media_id, cue_idx, start_ms,
    end_ms, cue_text, frame_idx, frame_ms). ``frames`` is any frame
    table carrying (id_col, frame_idx_col) — ``sample_frames`` /
    ``video_phash_df`` output plugs in directly; ``fps`` converts
    frame index to a timestamp (frame_ms = floor(idx * 1000 / fps)).

    Span containment is half-open ``start_ms <= frame_ms < end_ms``
    (a frame on a cue boundary belongs to the NEXT cue, so no frame
    is double-captioned by touching cues). The join is an equi-join
    on the media id with the span predicate evaluated inside it —
    both inputs already carry the id, so this is ONE shuffle on the
    key both tables are naturally partitioned by, never a range scan.

    ``id_col`` names the media id on BOTH sides (it used to apply to
    frames only). ``cues`` needs (id_col, cue_idx,
    start_ms, end_ms, cue_text); if it also carries an ``error``
    column (``subtitle_cues_df`` output does), errored parses are
    dropped before the join, otherwise all rows participate.
    """
    c = cues
    if "error" in cues.columns:
        c = c.where(F.col("error").isNull())
    c = c.select(
        F.col(id_col).cast("string").alias("_cid"),
        "cue_idx", "start_ms", "end_ms", "cue_text",
    )
    fr = frames.select(
        F.col(id_col).cast("string").alias("_fid"),
        F.col(frame_idx_col).alias("frame_idx"),
        F.floor(F.col(frame_idx_col) * 1000.0 / F.lit(float(fps)))
        .cast("bigint").alias("frame_ms"),
    ).distinct()
    joined = c.join(
        fr,
        (c["_cid"] == fr["_fid"])
        & (fr["frame_ms"] >= c["start_ms"])
        & (fr["frame_ms"] < c["end_ms"]),
    )
    return joined.select(
        F.col("_cid").alias("media_id"),
        "cue_idx", "start_ms", "end_ms", "cue_text",
        "frame_idx", "frame_ms",
    )
