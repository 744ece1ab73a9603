"""Perceptual image hashing (`operators/imagehash.py`): pHash/dHash
invariances (re-encode, integer rescale, brightness, noise),
discrimination between distinct images, the Spark hash pass with
quarantine, and banded-join = brute-force near-dup parity."""

from __future__ import annotations

import numpy as np
import pytest

from vectra_py_spark.operators import multimodal as mm
from vectra_py_spark.operators.imagehash import (
    dhash64,
    grayscale,
    hamming64,
    mean_pool,
    media_phash_df,
    phash64,
    phash_neardup_pairs,
)


def _img(seed: int, h: int = 48, w: int = 64) -> np.ndarray:
    """Structured random image: low-frequency blobs (pure noise has no
    perceptual structure for a DCT hash to hold on to)."""
    rng = np.random.default_rng(seed)
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.zeros((h, w), dtype=np.float64)
    for _ in range(6):
        cy, cx = rng.uniform(0, h), rng.uniform(0, w)
        amp, sig = rng.uniform(40, 120), rng.uniform(4, 14)
        img += amp * np.exp(-((yy - cy) ** 2 + (xx - cx) ** 2) / (2 * sig**2))
    img = np.clip(img, 0, 255).astype(np.uint8)
    return np.stack([img, img, img], axis=2)


def test_identical_images_hash_equal():
    a = _img(1)
    assert phash64(a) == phash64(a.copy())
    assert dhash64(a) == dhash64(a.copy())


def test_integer_upscale_is_hash_invariant():
    """Mean-pooling exactly reverses integer upscaling: the 2x copy of
    an image hashes IDENTICALLY — the core near-dup win over payload
    digests."""
    # width 288 = lcm(32, 9): BOTH pool grids divide it, so pooling is
    # exactly 2x-invariant for both hashes
    a = _img(2, h=32, w=288)
    up = a.repeat(2, axis=0).repeat(2, axis=1)
    assert phash64(a) == phash64(up)
    assert dhash64(a) == dhash64(up)
    # non-grid-aligned width: band boundaries shift sub-pixel under
    # scaling — the hash stays within a small Hamming ball
    b = _img(12, h=32, w=36)
    upb = b.repeat(2, axis=0).repeat(2, axis=1)
    assert hamming64(phash64(b), phash64(upb)) <= 6
    assert hamming64(dhash64(b), dhash64(upb)) <= 6


def test_brightness_shift_moves_at_most_the_dc_bit():
    """A constant luma offset changes only the DCT DC coefficient, so
    the pHash moves by at most a couple of bits (median may shift)."""
    a = _img(3)
    brighter = np.clip(a.astype(np.int32) + 25, 0, 255).astype(np.uint8)
    assert hamming64(phash64(a), phash64(brighter)) <= 4
    assert hamming64(dhash64(a), dhash64(brighter)) <= 4


def test_small_noise_small_distance_distinct_images_large():
    a = _img(4)
    rng = np.random.default_rng(0)
    noisy = np.clip(
        a.astype(np.int32) + rng.integers(-8, 9, size=a.shape), 0, 255
    ).astype(np.uint8)
    assert hamming64(phash64(a), phash64(noisy)) <= 8
    dists = [
        hamming64(phash64(a), phash64(_img(100 + i))) for i in range(5)
    ]
    assert min(dists) > 12  # unrelated images are far in Hamming space


def test_jpeg_reencode_is_near_duplicate():
    """The flagship case: a JPEG re-encode of the same pixels must hash
    within a tight Hamming ball of the original."""
    a = _img(5)
    jpg = mm.encode_jpeg(a)
    from vectra_py_spark.operators.jpeg import decode_jpeg

    b = decode_jpeg(jpg)
    assert hamming64(phash64(a), phash64(b)) <= 8
    assert hamming64(dhash64(a), dhash64(b)) <= 8


def test_grayscale_and_pool_shapes():
    g = grayscale(_img(6, h=10, w=20))
    assert g.shape == (10, 20)
    assert mean_pool(g, 32, 32).shape == (32, 32)  # upscale path
    assert mean_pool(g, 8, 9).shape == (8, 9)


def test_media_phash_df_mixed_payloads_quarantine(spark):
    rows = [
        ("ppm", mm.synth_ppm(40, 24)),
        ("png", mm.encode_png(_img(7))),
        ("jpeg", mm.encode_jpeg(_img(8))),
        ("gif", mm.synth_gif(2, 24, 16)),
        ("corrupt", b"\xff\xd8broken"),
        ("notimage", b"plain text payload"),
    ]
    df = spark.createDataFrame(rows, ["media_id", "data"])
    got = {r.media_id: r for r in media_phash_df(df).collect()}
    for k in ("ppm", "png", "jpeg", "gif"):
        assert got[k].error is None
        assert got[k].phash is not None and got[k].dhash is not None
        assert got[k].height > 0 and got[k].width > 0
    assert got["corrupt"].error is not None
    assert got["notimage"].error is not None
    assert got["corrupt"].phash is None


def test_quarantine_row_keeps_batch_neighbour_hashes_exact(spark):
    """A corrupt payload in the SAME Arrow batch as good ones (one
    partition) must not change their 64-bit hashes: each equals the
    row-by-row hash exactly, for the image and the video pass."""
    from vectra_py_spark.operators.avi import synth_avi
    from vectra_py_spark.operators.imagehash import _decode_pixels
    from vectra_py_spark.operators.videohash import (
        video_frame_hashes,
        video_phash_df,
    )

    good = {
        "png": mm.encode_png(_img(7)),
        "jpeg": mm.encode_jpeg(_img(8)),
        "gif": mm.synth_gif(3, 24, 16),
        "avi": synth_avi(4, 24, 16),
    }
    rows = sorted(good.items()) + [("corrupt", b"\xff\xd8broken")]
    df = spark.createDataFrame(rows, ["media_id", "data"]).coalesce(1)

    expect_img = {
        k: (phash64(_decode_pixels(p)), dhash64(_decode_pixels(p)))
        for k, p in good.items()
    }
    got_img = {
        r.media_id: (r.phash, r.dhash)
        for r in media_phash_df(df).collect()
        if r.error is None
    }
    assert got_img == expect_img

    expect_vid = {
        (k, fi, fp)
        for k in ("avi", "gif")
        for fi, fp in video_frame_hashes(good[k])
    }
    vid = video_phash_df(df).collect()
    got_vid = {
        (r.media_id, r.frame_idx, r.phash) for r in vid if r.error is None
    }
    assert got_vid == expect_vid
    assert {r.media_id for r in vid if r.error is not None} >= {"corrupt"}
    # the check has teeth: float64 cannot hold these hashes exactly
    assert any(int(float(h)) != h for h, _ in expect_img.values())
    assert any(int(float(fp)) != fp for _, _, fp in expect_vid)


@pytest.mark.parametrize("radius", [3, 7])
def test_phash_neardup_banded_equals_bruteforce(spark, radius):
    """Pigeonhole banding is exact for the Hamming ball: the banded
    equi-join returns EXACTLY the brute-force pairs. Planted near-dups
    (noisy copies) plus unrelated images."""
    imgs = {}
    rng = np.random.default_rng(9)
    for i in range(12):
        base = _img(200 + i)
        imgs[f"img{i:02d}"] = base
        if i < 4:  # planted noisy copy
            imgs[f"img{i:02d}_copy"] = np.clip(
                base.astype(np.int32)
                + rng.integers(-6, 7, size=base.shape),
                0, 255,
            ).astype(np.uint8)
    hashes = [(k, phash64(v)) for k, v in sorted(imgs.items())]
    brute = {
        (a, b, hamming64(ha, hb))
        for (a, ha) in hashes
        for (b, hb) in hashes
        if a < b and hamming64(ha, hb) <= radius
    }
    df = spark.createDataFrame(hashes, ["media_id", "phash"])
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in phash_neardup_pairs(df, radius=radius).collect()
    }
    assert got == brute
    assert len(got) >= 4  # every planted copy found


def test_phash_neardup_validation(spark):
    df = spark.createDataFrame([("a", 1)], ["media_id", "phash"])
    with pytest.raises(ValueError):
        phash_neardup_pairs(df, radius=4)  # 5 does not divide 64


def test_video_first_frame_hashes(spark):
    """AVI and MP4 hash their FIRST frame (the thumbnail identity) —
    and an MP4 re-mux of the same MJPEG frames is an exact dup of its
    AVI sibling, because both containers carry the same first JPEG."""
    from vectra_py_spark.operators.avi import synth_avi
    from vectra_py_spark.operators.mp4 import synth_mp4

    rows = [
        ("avi", synth_avi(3, 24, 16)),
        ("mp4", synth_mp4(3, 24, 16)),
    ]
    df = spark.createDataFrame(rows, ["media_id", "data"])
    got = {r.media_id: r for r in media_phash_df(df).collect()}
    assert got["avi"].error is None and got["mp4"].error is None
    assert got["avi"].height == 16 and got["avi"].width == 24
    # same synth parameters -> same first frame -> tight Hamming ball
    # (containers may encode the frame with different JPEG settings)
    assert hamming64(got["avi"].phash, got["mp4"].phash) <= 8


@pytest.mark.slow
def test_phash_index_probe_prunes_partitions_and_matches(spark, tmp_path):
    """Materialized index: a noisy copy probes to its base by opening
    ONLY the probe's radius+1 block directories (PartitionFilters in
    the plan); a novel image probes empty; banded probe == brute
    force over the indexed set."""
    import re

    from vectra_py_spark.operators.imagehash import (
        phash_probe, phash_write_index,
    )

    rng = np.random.default_rng(31)
    imgs = {f"img{i:02d}": _img(300 + i) for i in range(10)}
    hashes = [(k, phash64(v)) for k, v in sorted(imgs.items())]
    df = spark.createDataFrame(hashes, ["media_id", "phash"])
    path = str(tmp_path / "phidx")
    phash_write_index(df, path, radius=7)

    base = imgs["img03"]
    noisy = np.clip(
        base.astype(np.int32) + rng.integers(-4, 5, size=base.shape),
        0, 255,
    ).astype(np.uint8)
    probe_fp = phash64(noisy)
    probe = phash_probe(spark, path, probe_fp, radius=7)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]+)\]", plan)
    assert m and "block_idx" in m.group(1) and "block_val" in m.group(1)
    got = {(r.media_id, r.hamming) for r in probe.collect()}
    brute = {
        (k, hamming64(h, probe_fp))
        for k, h in hashes
        if hamming64(h, probe_fp) <= 7
    }
    assert got == brute
    assert any(k == "img03" for k, _ in got)

    # raw-payload probe path (PPM bytes hashed driver-side)
    rgb = noisy
    ppm = (f"P6\n{rgb.shape[1]} {rgb.shape[0]}\n255\n".encode()
           + rgb.astype(np.uint8).tobytes())
    got2 = {r.media_id for r in phash_probe(spark, path, ppm).collect()}
    assert "img03" in got2

    # a novel image finds nothing
    novel = phash64(_img(999))
    assert phash_probe(spark, path, novel, radius=7).collect() == []

    with pytest.raises(ValueError):
        phash_probe(spark, path, novel, radius=4)  # 5 ∤ 64


@pytest.mark.slow
def test_phash_index_persists_and_validates_write_radius(spark, tmp_path):
    """ADVICE r10: probing past the index's write radius silently
    dropped matches. The write radius now persists in a side-file and
    a too-large probe radius raises; radius 3 probes into a radius-7
    index remain valid (pigeonhole still guarantees a shared block),
    and a pre-side-file (legacy) index keeps working unvalidated."""
    from vectra_py_spark.operators.imagehash import (
        _PHASH_META_FILE,
        media_phash_df,
        phash_probe,
        phash_write_index,
    )

    def _ppm(rgb):
        return (
            f"P6\n{rgb.shape[1]} {rgb.shape[0]}\n255\n".encode()
            + rgb.astype(np.uint8).tobytes()
        )

    imgs = spark.createDataFrame(
        [(f"img{i:02d}", _ppm(_img(i))) for i in range(6)],
        ["media_id", "data"],
    )
    hashes = media_phash_df(imgs)
    path = str(tmp_path / "pidx3")
    phash_write_index(hashes, path, radius=3)

    fp = phash64(_img(2))
    assert [r.media_id for r in
            phash_probe(spark, path, fp, radius=3).collect()] == ["img02"]
    assert [r.media_id for r in
            phash_probe(spark, path, fp, radius=1).collect()] == ["img02"]
    with pytest.raises(ValueError, match="write radius"):
        phash_probe(spark, path, fp, radius=7)

    # legacy index: remove the side-file — probe works, unvalidated
    import os

    os.remove(os.path.join(path, _PHASH_META_FILE))
    assert [r.media_id for r in
            phash_probe(spark, path, fp, radius=3).collect()] == ["img02"]
