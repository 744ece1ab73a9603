"""Video copy detection — per-frame perceptual hashing with TEMPORAL
offset alignment: the missing member of the multimodal dedup family
(exact digests: dedup.py; images: imagehash.py; audio: audiofp.py).
Re-encoded, trimmed, or slightly-edited copies of one clip are endemic
in crawls, and neither an exact digest nor a single first-frame pHash
catches a trim.

Published constructions composed (nothing novel invented here):

- **Frame fingerprints**: pHash (Zauner 2010) over every sampled
  frame, through this repo's own decoders (`avi`/`mp4` MJPEG frame
  payloads → `jpeg.decode_jpeg`; animated `gif` → composited frames)
  — zero codec dependencies, deterministic across machines.
- **Temporal consistency by offset histogram**: sequence-matching
  video copy detection in the TRECVID CBCD lineage (Hampapur &
  Bolle 2001, "Comparison of distance measures for video copy
  detection"): two clips sharing content pile their matching frame
  pairs onto a SINGLE frame offset (the trim), while chance hash
  collisions scatter across offsets. This is the same alignment trick
  `audiofp.py` uses for Wang-2003 audio landmarks, applied to frame
  indices instead of STFT frames.
- **Candidate generation**: pigeonhole block-banding of the 64-bit
  frame hash (split into ``radius+1`` blocks; Hamming ≤ radius ⇒ ≥1
  exact block match) — the `bands` kernel that
  `imagehash.phash_neardup_pairs` and `dedup.simhash_neardup` share,
  so the frame-pair join is an EQUI-join carrying 8-byte
  fingerprints, never a cartesian.

100 TB notes: the hash pass is a narrow per-payload scan (payloads
never shuffle; only (id, frame_idx, int64) rows do — ~10⁵-10⁶× smaller
than video bytes). The match join shuffles block rows; a static-scene
clip repeats one hash across frames and skews its block values, the
same way silence skews audio landmarks — pre-filter with
``distinct_hashes_only`` (keep each clip's first occurrence of a hash)
if a corpus is full of slideshows, or let AQE skew-split the join.
Reference tie-in: BASELINE.json's dedup mandate (V8 north star);
cites vectra's similarity-join surface (reference core README:9-13)
re-expressed for the video modality.
"""

from __future__ import annotations

import numpy as np

from vectra_py_spark.operators.bands import (
    BLOCK_KEY,
    band_pairs,
    best_offset,
    block_keys,
    block_predicate,
    block_rows,
    hamming,
    index_geometry,
    index_pigeonhole,
    pigeonhole,
    write_band_index,
)
from vectra_py_spark.session import local_frame, write_side_file

__all__ = [
    "video_frame_hashes",
    "video_phash_df",
    "video_match_pairs",
    "video_write_index",
    "video_probe",
]

_VIDEO_META_FILE = "_videohash_meta.json"


def video_frame_hashes(
    payload: bytes, stride: int = 1
) -> "list[tuple[int, int]]":
    """One clip → ``[(frame_idx, phash64)]`` for every ``stride``-th
    frame, carrying TRUE frame indices (so a copy trimmed by k whole
    frames aligns at offset k regardless of stride). Containers:
    MJPEG-in-AVI, MJPEG-in-MP4, animated GIF — the formats this repo's
    decoders fully decode; anything else raises ValueError (callers
    quarantine). A whole-clip hash would miss trims; per-frame hashes
    + the offset histogram in :func:`video_match_pairs` catch them."""
    from vectra_py_spark.operators.imagehash import phash64

    if stride < 1:
        raise ValueError(f"stride must be >= 1, got {stride}")
    payload = bytes(payload)
    frames_px: "list[np.ndarray]" = []
    if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
        import struct

        from vectra_py_spark.operators.avi import _parse_avi
        from vectra_py_spark.operators.jpeg import decode_jpeg

        try:
            jpegs = _parse_avi(payload)[2]
        except (struct.error, IndexError) as exc:
            raise ValueError(f"malformed AVI payload: {exc}") from exc
        frames_px = [decode_jpeg(j) for j in jpegs[::stride]]
    elif payload[4:8] == b"ftyp":
        from vectra_py_spark.operators.jpeg import decode_jpeg
        from vectra_py_spark.operators.mp4 import mp4_frame_payloads

        jpegs = mp4_frame_payloads(payload)
        frames_px = [decode_jpeg(j) for j in jpegs[::stride]]
    elif payload[:4] in (b"GIF8",):
        from vectra_py_spark.operators.gif import decode_gif

        frames_px = list(decode_gif(payload)[::stride])
    else:
        raise ValueError(
            f"not a supported video container: {payload[:8]!r}"
        )
    if not frames_px:
        raise ValueError("video with no frames")
    return [
        (i * stride, phash64(px)) for i, px in enumerate(frames_px)
    ]


def video_phash_df(
    df, id_col: str = "media_id", payload_col: str = "data",
    stride: int = 1,
):
    """(id, payload) rows → (id, frame_idx, phash, error): one narrow
    Arrow pass, per-row ValueError quarantine (a corrupt clip lands as
    ONE error row, never fails the stage), payloads never shuffle."""
    from vectra_py_spark.session import map_rows

    def rows(mid, payload):
        return [(mid, fi, fp, None)
                for fi, fp in video_frame_hashes(payload, stride)]

    return map_rows(
        df, [id_col, payload_col], rows,
        f"{id_col} STRING, frame_idx INT, phash BIGINT, error STRING",
        on_error=lambda v, exc: (v[0], None, None, str(exc) or "decode error"),
    )


def _frame_blocks(fh, geometry, id_col: str):
    """Frame hashes → exploded pigeonhole block rows (id, frame_idx,
    fp, block_idx, block_val)."""
    from pyspark.sql import functions as F

    fp = fh.filter(F.col("phash").isNotNull()).select(
        F.col(id_col).alias("id"), "frame_idx", F.col("phash").alias("fp"),
    )
    return block_rows(fp, "fp", geometry)


def video_match_pairs(
    fh, radius: int = 7, min_aligned: int = 3,
    id_col: str = "media_id", bits: int = 64,
    distinct_hashes_only: bool = False,
):
    """Copy-detection match join over :func:`video_phash_df` output:
    (id_a, id_b, offset, n_aligned) — the best single frame offset per
    clip pair, kept when ≥ ``min_aligned`` distinct frame pairs agree
    on it. True copies (re-encodes, trims, light edits) concentrate on
    one offset; chance Hamming collisions scatter, so a small
    ``min_aligned`` separates cleanly (measured: planted trimmed
    copies align at ~n_frames hits vs ≤1 scattered cross-clip).

    Plan: block equi-join on (block_idx, block_val) → codegen'd
    ``bit_count(xor) <= radius`` verify → ONE (pair, offset) aggregate
    → per-pair argmax window. Both join sides project the one
    decode+hash pass, which ReuseExchange computes once (an explicit
    ``localCheckpoint`` measured 3.2-3.5 s → 3.6-4.1 s at sf0.1: a
    serial barrier that removes no work). ``distinct_hashes_only``
    keeps each clip's first occurrence of a repeated hash
    (static-scene skew relief) at the cost of alignment counts for
    still sections."""
    from pyspark.sql import functions as F
    from pyspark.sql import Window

    geometry = pigeonhole(radius, bits)
    if distinct_hashes_only:
        w_first = Window.partitionBy(id_col, "phash").orderBy("frame_idx")
        fh = (
            fh.withColumn("__rn", F.row_number().over(w_first))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    cand = (
        band_pairs(
            _frame_blocks(fh, geometry, id_col), BLOCK_KEY, "id",
            {"frame_idx": "f", "fp": "fp"},
        )
        .filter(hamming("fp_a", "fp_b") <= radius)
        # one frame pair may share several blocks — dedupe before the
        # offset count or multi-block agreement inflates n_aligned
        .select("id_a", "id_b", "f_a", "f_b")
        .distinct()
    )
    return best_offset(
        cand, ["id_a", "id_b"], F.col("f_a") - F.col("f_b"), min_aligned
    )


def video_write_index(
    fh, path: str, radius: int = 7,
    id_col: str = "media_id", bits: int = 64,
) -> None:
    """Materialize corpus frame hashes as a partition-pruned copy
    index: each frame hash explodes into its ``radius+1`` pigeonhole
    blocks, written ``partitionBy(block_idx, block_val)`` (2,048
    directories at radius 7) — :func:`video_probe` answers "is this
    NEW clip a copy of anything ingested" opening only the probe's own
    block directories. The write radius + bits persist in a side-file
    and are validated at probe time (the imagehash discipline)."""
    from pyspark.sql import functions as F

    blocks = _frame_blocks(fh, index_pigeonhole(radius, bits), id_col)
    write_band_index(
        blocks.select(
            F.col("id").alias("media_id"), "frame_idx", "fp",
            "block_idx", F.col("block_val").cast("int").alias("block_val"),
        ),
        path, BLOCK_KEY,
    )
    write_side_file(
        fh.sparkSession, f"{path}/{_VIDEO_META_FILE}",
        {"version": 1, "radius": radius, "bits": bits},
    )


def video_probe(
    spark, path: str, payload: bytes, radius: int = 7,
    min_aligned: int = 3, bits: int = 64, stride: int = 1,
    max_probe_frames: int = 32,
):
    """Probe the materialized index with ONE new clip: indexed clips
    whose frame hashes align with the probe's on a single offset —
    (media_id, offset, n_aligned, stride, n_aligned_est), best offset
    per clip, ordered.

    The probe hashes driver-side (one clip, same pure-numpy path),
    subsamples to ≤ ``max_probe_frames`` frames with a deterministic
    stride so long clips don't open every directory, and its block
    coordinates become partition predicates: ≤ probe_frames ×
    (radius+1) of the index's directories open regardless of corpus
    size. ``min_aligned`` is in FULL (unsampled) units — comparable
    with :func:`video_match_pairs` — scaled internally by the probe
    stride; the output reports the stride and the extrapolated count
    (the audiofp probe accounting, applied from day one here)."""
    from pyspark.sql import functions as F

    geometry = index_geometry(
        spark, f"{path}/{_VIDEO_META_FILE}", radius, bits, "video_probe"
    )
    _EMPTY = (
        "media_id STRING, offset INT, n_aligned INT, "
        "stride INT, n_aligned_est INT"
    )
    probe_fps = video_frame_hashes(bytes(payload), stride)
    probe_stride = 1
    if max_probe_frames and len(probe_fps) > max_probe_frames:
        probe_stride = -(-len(probe_fps) // max_probe_frames)  # ceil
        probe_fps = probe_fps[::probe_stride]
    eff_min = max(1, min_aligned // (probe_stride * stride))
    if not probe_fps:
        return local_frame(spark, [], _EMPTY)

    # block predicates are pure driver arithmetic — no Spark job
    wanted = {k for _fi, fp in probe_fps for k in block_keys(fp, bits, geometry)}
    idx = spark.read.parquet(path).filter(block_predicate(sorted(wanted)))
    probe_df = local_frame(
        spark,
        [(int(fi), int(np.int64(fp))) for fi, fp in probe_fps],
        "f_probe INT, fp_probe BIGINT",
    )
    matches = (
        idx.join(F.broadcast(probe_df), hamming("fp", "fp_probe") <= radius)
        .select("media_id", "frame_idx", "f_probe", "fp", "fp_probe")
        .distinct()  # a frame pair can share several blocks
    )
    total_stride = probe_stride * stride
    return (
        best_offset(
            matches, ["media_id"], F.col("frame_idx") - F.col("f_probe"),
            eff_min,
        )
        .select(
            "media_id", "offset", "n_aligned",
            F.lit(total_stride).cast("int").alias("stride"),
            (F.col("n_aligned") * F.lit(total_stride)).cast("int")
            .alias("n_aligned_est"),
        )
        .orderBy("media_id")
    )
