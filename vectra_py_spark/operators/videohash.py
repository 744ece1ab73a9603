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
  exact block match) — the `imagehash.phash_neardup_pairs` /
  `dedup.simhash_neardup` construction, so the frame-pair join is an
  EQUI-join carrying 8-byte fingerprints, never a cartesian.

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


def _frame_blocks(fh, radius: int, bits: int, id_col: str):
    """Frame hashes → exploded pigeonhole block rows (id, frame_idx,
    fp, block_idx, block_val)."""
    from pyspark.sql import functions as F

    n_blocks = radius + 1
    if bits % n_blocks:
        raise ValueError(
            f"radius+1 ({n_blocks}) must divide bits ({bits})"
        )
    width = bits // n_blocks
    mask = (1 << width) - 1
    return (
        fh.filter(F.col("phash").isNotNull())
        .select(
            F.col(id_col).alias("id"), "frame_idx",
            F.col("phash").alias("fp"),
        )
        .select(
            "id", "frame_idx", "fp",
            F.explode(
                F.array(*[F.lit(i) for i in range(n_blocks)])
            ).alias("block_idx"),
        )
        .withColumn(
            "block_val",
            F.expr(f"shiftright(fp, {bits // n_blocks} * block_idx) "
                   f"& {mask}"),
        )
    )


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
    → per-pair argmax window. ``distinct_hashes_only`` keeps each
    clip's first occurrence of a repeated hash (static-scene skew
    relief) at the cost of alignment counts for still sections."""
    from pyspark.sql import functions as F
    from pyspark.sql import Window

    if distinct_hashes_only:
        w_first = Window.partitionBy(id_col, "phash").orderBy("frame_idx")
        fh = (
            fh.withColumn("__rn", F.row_number().over(w_first))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    # NOTE (r12 audit): both sides of the block self-join derive from
    # the decode+hash pass, but the join shuffles both sides by the
    # same key over byte-identical subtrees, so ReuseExchange computes
    # the pass once. A/B-measured: an explicit localCheckpoint here is
    # a net LOSS (3.2-3.5 s -> 3.6-4.1 s at sf0.1) — it adds a serial
    # materialization barrier without removing any work.
    blocks = _frame_blocks(fh, radius, bits, id_col)
    a = blocks.select(
        F.col("id").alias("id_a"), F.col("frame_idx").alias("f_a"),
        F.col("fp").alias("fp_a"), "block_idx", "block_val",
    )
    b = blocks.select(
        F.col("id").alias("id_b"), F.col("frame_idx").alias("f_b"),
        F.col("fp").alias("fp_b"), "block_idx", "block_val",
    )
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    cand = (
        a.join(b, ["block_idx", "block_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(hamming <= radius)
        # one frame pair may share several blocks — dedupe before the
        # offset count or multi-block agreement inflates n_aligned
        .select("id_a", "id_b", "f_a", "f_b")
        .distinct()
    )
    aligned = cand.groupBy(
        "id_a", "id_b", (F.col("f_a") - F.col("f_b")).alias("offset")
    ).agg(F.count(F.lit(1)).cast("int").alias("n_aligned"))
    w = Window.partitionBy("id_a", "id_b").orderBy(
        F.desc("n_aligned"), F.asc("offset")
    )
    return (
        aligned.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & (F.col("n_aligned") >= min_aligned))
        .select("id_a", "id_b", "offset", "n_aligned")
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

    from vectra_py_spark.operators.imagehash import _write_side_meta

    blocks = _frame_blocks(fh, radius, bits, id_col)
    (
        blocks.select(
            F.col("id").alias("media_id"), "frame_idx", "fp",
            "block_idx", F.col("block_val").cast("int").alias("block_val"),
        )
        .repartition("block_idx", "block_val")
        .write.mode("overwrite")
        .partitionBy("block_idx", "block_val")
        .parquet(path)
    )
    _write_side_meta(
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
    import functools

    from pyspark.sql import functions as F
    from pyspark.sql import Window

    from vectra_py_spark.operators.imagehash import _read_side_meta

    n_blocks = radius + 1
    if bits % n_blocks:
        raise ValueError(
            f"radius+1 ({n_blocks}) must divide bits ({bits})"
        )
    meta = _read_side_meta(spark, f"{path}/{_VIDEO_META_FILE}")
    if meta is not None:
        if radius > int(meta["radius"]):
            raise ValueError(
                f"video_probe: probe radius {radius} exceeds the "
                f"index's write radius {meta['radius']} — matches "
                "would be silently dropped. Rebuild the index with a "
                "larger radius or probe within it."
            )
        if bits != int(meta.get("bits", bits)):
            raise ValueError(
                f"video_probe: bits {bits} != index bits {meta['bits']}"
            )
        # partition predicates use the INDEX's block geometry; the
        # probe radius applies only in the Hamming verify (see
        # imagehash.phash_probe)
        n_blocks = int(meta["radius"]) + 1
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
        return spark.createDataFrame([], _EMPTY)

    width = bits // n_blocks
    mask = (1 << width) - 1
    # block predicates are pure driver arithmetic — no Spark job
    wanted = set()
    for _fi, fp in probe_fps:
        ufp = fp & ((1 << bits) - 1)
        for i in range(n_blocks):
            wanted.add((i, (ufp >> (width * i)) & mask))
    preds = [
        (F.col("block_idx") == i) & (F.col("block_val") == v)
        for i, v in sorted(wanted)
    ]
    idx = spark.read.parquet(path).filter(
        functools.reduce(lambda x, y: x | y, preds)
    )
    probe_df = spark.createDataFrame(
        [(int(fi), int(np.int64(fp))) for fi, fp in probe_fps],
        "f_probe INT, fp_probe BIGINT",
    )
    hamming = F.bit_count(F.col("fp").bitwiseXOR(F.col("fp_probe")))
    aligned = (
        idx.join(F.broadcast(probe_df), hamming <= radius)
        .select("media_id", "frame_idx", "f_probe", "fp", "fp_probe")
        .distinct()  # a frame pair can share several blocks
        .groupBy(
            "media_id",
            (F.col("frame_idx") - F.col("f_probe")).alias("offset"),
        )
        .agg(F.count(F.lit(1)).cast("int").alias("n_aligned"))
    )
    w = Window.partitionBy("media_id").orderBy(
        F.desc("n_aligned"), F.asc("offset")
    )
    total_stride = probe_stride * stride
    return (
        aligned.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & (F.col("n_aligned") >= eff_min))
        .select(
            "media_id", "offset", "n_aligned",
            F.lit(total_stride).cast("int").alias("stride"),
            (F.col("n_aligned") * F.lit(total_stride)).cast("int")
            .alias("n_aligned_est"),
        )
        .orderBy("media_id")
    )
