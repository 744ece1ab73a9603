"""Perceptual image hashing — the multimodal twin of text SimHash:
near-duplicate IMAGE detection for corpus dedup (re-encoded, resized,
slightly-edited copies of one image are endemic in crawls; exact
payload digests miss all of them).

Two standard 64-bit hashes, both from the published constructions:

- **pHash** (DCT perceptual hash, Zauner 2010 "Implementation and
  Benchmarking of Perceptual Image Hash Functions"): grayscale →
  32×32 mean-pool → 2-D DCT-II → keep the 8×8 low-frequency block →
  bit = coefficient > median. Robust to re-encoding, scaling, and
  brightness shifts (a constant offset moves only the DC term).
- **dHash** (difference hash, Krawetz 2013): 9×8 mean-pool →
  bit = pixel < right neighbor. Cheaper, gradient-based, a good
  second opinion (agreement of two independent hash families is a
  strong near-dup signal).

Everything is pure numpy over this repo's own decoders
(`multimodal`/`jpeg`/`gif` — zero codec dependencies), so hashes are
deterministic across runs and machines. The resize is contiguous
block MEAN-POOLING (``np.array_split`` bands), not an interpolating
resampler: deterministic, exactly scale-invariant for integer scale
factors, and close enough for hash purposes otherwise.

Spark surface: `media_phash_df` (narrow ``map_rows`` — payloads
never shuffle, per-row ValueError quarantine like every extractor
here) and `phash_neardup_pairs` (block-banded Hamming equi-join —
the pigeonhole construction of the `bands` kernel, shared with
`dedup.simhash_neardup` and the video join: split into ``radius+1``
blocks; any pair within Hamming ``radius`` agrees exactly on ≥1
block, so candidates are an equi-join on (block_idx, block_val)
carrying 8 bytes per row, and verify is two codegen'd bit ops).

100 TB notes: the hash pass is embarrassingly parallel over payload
splits; the near-dup join shuffles only (id, 3×int64) rows. At
radius 7 the blocks are 8-bit (collision rate 2^-8 per block) —
pre-group by a cheap partition key (e.g. width×height bucket) or
drop to radius 3 (16-bit blocks) if candidate volume bites; skewed
block values (flat images hash alike) split via AQE skew handling.
"""

from __future__ import annotations

import numpy as np

from vectra_py_spark.operators.bands import (
    BLOCK_KEY,
    band_pairs,
    block_keys,
    block_predicate,
    block_rows,
    hamming,
    index_geometry,
    pigeonhole,
    write_band_index,
)
from vectra_py_spark.session import write_side_file

__all__ = [
    "grayscale",
    "mean_pool",
    "phash64",
    "dhash64",
    "hamming64",
    "media_phash_df",
    "phash_neardup_pairs",
    "phash_write_index",
    "phash_probe",
]

_DCT32 = None  # lazy 32×32 DCT-II basis, cached


def grayscale(img: np.ndarray) -> np.ndarray:
    """(h, w[, c]) uint8 → (h, w) float64 luma (ITU-R BT.601).
    Alpha is ignored; palette/gray inputs pass through."""
    a = np.asarray(img, dtype=np.float64)
    if a.ndim == 2:
        return a
    if a.ndim != 3:
        raise ValueError(f"expected (h, w[, c]) image, got shape {a.shape}")
    if a.shape[2] == 1:
        return a[:, :, 0]
    return (
        0.299 * a[:, :, 0] + 0.587 * a[:, :, 1] + 0.114 * a[:, :, 2]
    )


def mean_pool(gray: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Deterministic resize: contiguous row/column bands
    (``np.array_split``), mean per cell. Exactly reverses integer
    upscaling WHEN the pool grid divides the image dims (hash
    equality for 2×/4× copies of grid-aligned images — always true
    for pHash's 32×32 grid on 32-multiple images); within a few bits
    otherwise, since band boundaries shift sub-pixel."""
    h, w = gray.shape
    if h < 1 or w < 1:
        raise ValueError(f"empty image {gray.shape}")
    rows = np.array_split(np.arange(h), out_h)
    cols = np.array_split(np.arange(w), out_w)
    # images smaller than the target: bands repeat via clipped indices
    if h < out_h:
        rows = [np.clip(np.array([i * h // out_h]), 0, h - 1)
                for i in range(out_h)]
    if w < out_w:
        cols = [np.clip(np.array([j * w // out_w]), 0, w - 1)
                for j in range(out_w)]
    row_means = np.stack([gray[r].mean(axis=0) for r in rows])
    return np.stack([row_means[:, c].mean(axis=1) for c in cols], axis=1)


def _dct32() -> np.ndarray:
    global _DCT32
    if _DCT32 is None:
        n = 32
        k = np.arange(n)[:, None]
        i = np.arange(n)[None, :]
        basis = np.cos(np.pi * (2 * i + 1) * k / (2 * n))
        basis[0] *= 1.0 / np.sqrt(2.0)
        _DCT32 = basis * np.sqrt(2.0 / n)  # orthonormal DCT-II
    return _DCT32


def _bits_to_i64(bits: np.ndarray) -> int:
    """64 bools (MSB first) → SIGNED int64 (two's complement) so the
    value round-trips through Spark LongType exactly."""
    v = 0
    for b in bits.ravel():
        v = (v << 1) | int(b)
    if v >= 1 << 63:
        v -= 1 << 64
    return v


def phash64(img: np.ndarray) -> int:
    """DCT perceptual hash: 32×32 mean-pool → 2-D DCT-II → 8×8
    low-frequency block → bit = coeff > median (median over the 64,
    the `imagehash` convention — guarantees a balanced hash)."""
    g = mean_pool(grayscale(img), 32, 32)
    c = _dct32()
    low = (c @ g @ c.T)[:8, :8]
    med = np.median(low)
    return _bits_to_i64(low > med)


def dhash64(img: np.ndarray) -> int:
    """Difference hash: 9-wide × 8-high mean-pool, bit = left pixel <
    right pixel (row-major, MSB first)."""
    g = mean_pool(grayscale(img), 8, 9)
    return _bits_to_i64(g[:, :-1] < g[:, 1:])


def hamming64(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


def _decode_pixels(payload: bytes) -> np.ndarray:
    """Magic-byte dispatch to this repo's own pixel decoders; video/
    animated formats hash their FIRST frame (the thumbnail identity)."""
    from vectra_py_spark.operators.multimodal import (
        decode_bmp,
        decode_png,
        decode_ppm,
        sniff_media_type,
    )

    kind = sniff_media_type(bytes(payload))
    if kind == "ppm":
        return decode_ppm(bytes(payload))
    if kind == "bmp":
        return decode_bmp(bytes(payload))
    if kind == "png":
        return decode_png(bytes(payload))
    if kind == "jpeg":
        from vectra_py_spark.operators.jpeg import decode_jpeg

        return decode_jpeg(bytes(payload))
    if kind == "gif":
        from vectra_py_spark.operators.gif import decode_gif

        return decode_gif(bytes(payload))[0]
    if kind == "avi":
        import struct

        from vectra_py_spark.operators.avi import _parse_avi
        from vectra_py_spark.operators.jpeg import decode_jpeg

        try:
            frames = _parse_avi(bytes(payload))[2]
        except (struct.error, IndexError) as exc:
            raise ValueError(f"malformed AVI payload: {exc}") from exc
        if not frames:
            raise ValueError("AVI with no video frames")
        return decode_jpeg(frames[0])  # first frame only, not the clip
    if kind == "mp4":
        from vectra_py_spark.operators.jpeg import decode_jpeg
        from vectra_py_spark.operators.mp4 import mp4_frame_payloads

        frames = mp4_frame_payloads(bytes(payload))
        if not frames:
            raise ValueError("MP4 with no video samples")
        return decode_jpeg(frames[0])
    raise ValueError(f"not a supported pixel format: kind={kind!r}")


def media_phash_df(df, id_col: str = "media_id", payload_col: str = "data"):
    """(id, payload) rows → (id, phash, dhash, height, width, error):
    one narrow Arrow pass, per-row ValueError quarantine (corrupt or
    non-image payloads land in ``error``, never fail the stage)."""
    from vectra_py_spark.session import map_rows

    def row(mid, payload):
        img = _decode_pixels(payload)
        return [(mid, phash64(img), dhash64(img),
                 int(img.shape[0]), int(img.shape[1]), None)]

    return map_rows(
        df, [id_col, payload_col], row,
        f"{id_col} STRING, phash BIGINT, dhash BIGINT, "
        "height INT, width INT, error STRING",
        on_error=lambda v, exc: (
            v[0], None, None, None, None, str(exc) or "decode error"
        ),
    )


def phash_neardup_pairs(
    hashes, radius: int = 7, id_col: str = "media_id",
    fp_col: str = "phash", bits: int = 64,
):
    """Hamming-ball near-dup pairs over a 64-bit fingerprint column:
    ``popcount(fp_a XOR fp_b) <= radius`` via pigeonhole block-banding
    (``radius + 1`` blocks; agreement on ≥1 exact block is necessary
    within the ball). Equi-join shaped — no cartesian; verify is two
    codegen'd bit ops. ``radius + 1`` must divide ``bits``. Both join
    sides project the one hash frame, so the decode+hash pass runs once
    (see :mod:`~vectra_py_spark.operators.bands`)."""
    from pyspark.sql import functions as F

    geometry = pigeonhole(radius, bits)
    fp = hashes.filter(F.col(fp_col).isNotNull()).select(
        F.col(id_col).alias("id"), F.col(fp_col).alias("fp")
    )
    return (
        band_pairs(block_rows(fp, "fp", geometry), BLOCK_KEY, "id",
                   {"fp": "fp"})
        .withColumn("hamming", hamming("fp_a", "fp_b"))
        .filter(F.col("hamming") <= radius)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


_PHASH_META_FILE = "_phash_meta.json"


def phash_write_index(
    hashes, path: str, radius: int = 7,
    id_col: str = "media_id", fp_col: str = "phash", bits: int = 64,
) -> None:
    """Materialize corpus fingerprints as a partition-pruned near-dup
    index: each hash explodes into its ``radius + 1`` pigeonhole
    blocks, written ``partitionBy(block_idx, block_val)`` — at
    radius 7 that is 8 × 256 = 2,048 directories. A probe within
    Hamming ``radius`` of an indexed image shares ≥1 EXACT block, so
    :func:`phash_probe` opens only the probe's own ``radius + 1``
    directories: "is this new image already in the corpus" without
    scanning the corpus (the same incremental story as
    ``dedup.winnow_write_index``). Clustered one-task-per-directory
    at write (small-files discipline)."""
    from pyspark.sql import functions as F

    geometry = pigeonhole(radius, bits)
    fp = hashes.filter(F.col(fp_col).isNotNull()).select(
        F.col(id_col).alias("media_id"), F.col(fp_col).alias("fp")
    )
    write_band_index(block_rows(fp, "fp", geometry, int_val=True), path, BLOCK_KEY)
    # Persist the layout so a probe can't silently under-recall: a
    # radius-R index only guarantees a shared block for probes with
    # radius <= R, and nothing else records R.
    write_side_file(
        hashes.sparkSession, f"{path}/{_PHASH_META_FILE}",
        {"version": 1, "radius": radius, "bits": bits},
    )


def phash_probe(
    spark, path: str, probe, radius: int = 7, bits: int = 64,
):
    """Probe the materialized index with ONE new image: indexed images
    within Hamming ``radius`` — (media_id, hamming), ordered. ``probe``
    is either raw payload bytes (hashed driver-side with the same
    :func:`phash64`) or an already-computed int fingerprint.

    The probe's block values are pure arithmetic (no Spark job), and
    they become literal partition predicates: the scan opens exactly
    ``radius + 1`` of the index's directories regardless of corpus
    size — PartitionFilters asserted in tests. The probe radius may be
    ≤ the index's write radius (pigeonhole still guarantees a shared
    block); exceeding it would silently drop matches, so the write
    radius persisted by :func:`phash_write_index` is validated here
    and a too-large probe radius raises."""
    from pyspark.sql import functions as F

    geometry = index_geometry(
        spark, f"{path}/{_PHASH_META_FILE}", radius, bits, "phash_probe"
    )
    if isinstance(probe, (bytes, bytearray, memoryview)):
        fp = phash64(_decode_pixels(bytes(probe)))
    else:
        fp = int(probe)
    idx = spark.read.parquet(path).filter(
        block_predicate(block_keys(fp, bits, geometry))
    )
    dist = hamming("fp", F.lit(fp).cast("long"))
    return (
        idx.select("media_id", dist.alias("hamming"))
        .filter(F.col("hamming") <= radius)
        .distinct()
        .orderBy("media_id")
    )
