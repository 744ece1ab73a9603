"""Audio fingerprinting — constellation hashing (Wang 2003, "An
Industrial-Strength Audio Search Algorithm", the Shazam construction):
near-duplicate AUDIO detection for corpus dedup — re-encoded, trimmed,
amplitude-scaled, or offset copies of one recording that exact payload
digests miss, the audio twin of `imagehash`'s pHash story.

Construction, from the paper:

1. mono PCM → Hann-windowed STFT (|rFFT| magnitudes per frame)
2. CONSTELLATION: per frame, the strongest spectral peaks with a
   minimum bin separation (local landmarks — robust to noise because
   peak LOCATIONS survive amplitude scaling and mild interference)
3. COMBINATORIAL HASHES: each anchor peak pairs with peaks in a
   forward target zone; hash = (f_anchor, f_target, Δt) packed into
   one int64, emitted with the anchor's frame time
4. MATCHING: two copies of one recording share many hashes whose
   anchor-time DIFFERENCE is CONSTANT (the trim/offset). Join on
   hash, histogram the offset per candidate pair, and require ≥
   ``min_matches`` aligned hits — random collisions don't align.

Everything is pure numpy over this repo's own decoders (WAV via the
stdlib, FLAC via `operators/flac.py`), deterministic across machines.

Spark surface: `audio_fingerprint_df` (narrow ``map_rows``,
payloads never shuffle, per-row ValueError quarantine) and
`audio_match_pairs` (equi-join on the 64-bit hash → one aggregate on
(pair, offset) → max per pair): the match never compares waveforms —
it shuffles (id, hash, t) rows only, so 100 TB of audio dedups by
joining fingerprint tables ~1000× smaller than the payloads. Skewed
hashes (silence frames hash alike) are dropped by the peak-energy
floor; AQE handles the rest.
"""

from __future__ import annotations

import numpy as np

from vectra_py_spark.operators.bands import band_pairs, best_offset, write_band_index
from vectra_py_spark.session import hash_buckets, local_frame, xxhash_bucket

__all__ = [
    "constellation",
    "fingerprints",
    "audio_fingerprint_df",
    "audio_match_pairs",
    "audio_write_index",
    "audio_probe",
]

_N_FFT = 1024
_HOP = 512
_PEAKS_PER_FRAME = 5
_MIN_BIN_SEP = 8
_FAN_OUT = 5
_TARGET_MIN_DT = 1
_TARGET_MAX_DT = 16
_ENERGY_FLOOR = 1e-6  # silence guard: peaks below this never land


def constellation(x: np.ndarray, sr: int) -> np.ndarray:
    """Mono samples in [-1, 1] → (t_frame, f_bin) landmark array:
    per-frame strongest |rFFT| peaks with ``_MIN_BIN_SEP`` bin
    separation, silence-floored."""
    x = np.asarray(x, dtype=np.float64)
    if x.ndim != 1:
        raise ValueError(f"expected mono samples, got shape {x.shape}")
    if len(x) < _N_FFT:
        x = np.pad(x, (0, _N_FFT - len(x)))
    win = np.hanning(_N_FFT)
    marks = []
    for t, start in enumerate(range(0, len(x) - _N_FFT + 1, _HOP)):
        mag = np.abs(np.fft.rfft(x[start : start + _N_FFT] * win))
        order = np.argsort(-mag, kind="stable")
        taken: list[int] = []
        for b in order:
            if mag[b] < _ENERGY_FLOOR:
                break
            if all(abs(int(b) - p) >= _MIN_BIN_SEP for p in taken):
                taken.append(int(b))
                if len(taken) == _PEAKS_PER_FRAME:
                    break
        marks.extend((t, b) for b in sorted(taken))
    return np.array(marks, dtype=np.int64).reshape(-1, 2)


def fingerprints(x: np.ndarray, sr: int) -> list[tuple[int, int]]:
    """Mono samples → [(hash, t_anchor)]: each landmark anchors up to
    ``_FAN_OUT`` pairs with landmarks 1..16 frames ahead;
    hash = f1 << 32 | f2 << 16 | Δt (bins < 2^16, Δt < 2^16 — packs
    losslessly into a non-negative int64)."""
    marks = constellation(x, sr)
    out: list[tuple[int, int]] = []
    n = len(marks)
    for i in range(n):
        t1, f1 = int(marks[i, 0]), int(marks[i, 1])
        fan = 0
        for j in range(i + 1, n):
            t2, f2 = int(marks[j, 0]), int(marks[j, 1])
            dt = t2 - t1
            if dt < _TARGET_MIN_DT:
                continue
            if dt > _TARGET_MAX_DT:
                break
            out.append(((f1 << 32) | (f2 << 16) | dt, t1))
            fan += 1
            if fan == _FAN_OUT:
                break
    return out


def audio_fingerprint_df(df, id_col: str = "media_id",
                         payload_col: str = "data"):
    """(id, WAV/FLAC payload) rows → (id, hash, t) fingerprint rows,
    one narrow Arrow pass with per-row quarantine (corrupt payloads
    emit a single (id, NULL, NULL, error) row)."""
    from vectra_py_spark.operators.audio import decode_audio_payload
    from vectra_py_spark.session import map_rows

    def rows(mid, payload):
        samples, sr, _kind = decode_audio_payload(bytes(payload))
        mono = samples.astype(np.float64).mean(axis=1) / 32768.0
        return [(mid, h, t, None) for h, t in fingerprints(mono, sr)]

    return map_rows(
        df, [id_col, payload_col], rows,
        f"{id_col} STRING, hash BIGINT, t INT, error STRING",
        on_error=lambda v, exc: (v[0], None, None, str(exc) or "decode error"),
    )


def audio_match_pairs(fp, min_matches: int = 5, id_col: str = "media_id"):
    """Fingerprint rows → (id_a, id_b, offset, n_aligned): candidate
    pairs sharing a hash, scored by the count of hashes agreeing on
    ONE anchor-time offset (t_a − t_b). Random hash collisions scatter
    across offsets; true copies pile onto the trim offset — the
    paper's histogram test as one groupBy. Keeps each pair's best
    offset with ``n_aligned >= min_matches``. Both join sides project
    the one fingerprint frame, so the decode pass runs once (see
    :mod:`~vectra_py_spark.operators.bands`)."""
    from pyspark.sql import functions as F

    clean = fp.filter(F.col("hash").isNotNull()).select(id_col, "hash", "t")
    return best_offset(
        band_pairs(clean, ["hash"], id_col, {"t": "t"}),
        ["id_a", "id_b"], F.col("t_a") - F.col("t_b"), min_matches,
    )


AUDIO_INDEX_BUCKETS = 1024


def audio_write_index(
    fp, path: str, id_col: str = "media_id",
    n_buckets: int = AUDIO_INDEX_BUCKETS,
) -> None:
    """Materialize corpus fingerprints as a partition-pruned match
    index: ``partitionBy(bucket)`` with ``bucket = pmod(xxhash64(hash),
    n_buckets)``. The batch :func:`audio_match_pairs` answers
    corpus×corpus; this index answers the INCREMENTAL question — "is
    this NEW clip a copy of anything ingested" — by opening only the
    directories the probe's own hashes land in (the
    ``dedup.winnow_write_index`` story for audio). Clustered
    one-task-per-directory at write (small-files discipline)."""
    from pyspark.sql import functions as F

    rows = fp.filter(F.col("hash").isNotNull()).select(
        F.col(id_col).alias("media_id"), "hash", "t",
        xxhash_bucket("hash", n_buckets).alias("bucket"),
    )
    write_band_index(rows, path, ["bucket"])


def audio_probe(
    spark, path: str, payload: bytes, min_matches: int = 20,
    n_buckets: int = AUDIO_INDEX_BUCKETS,
    max_probe_hashes: int = 256,
):
    """Probe the materialized index with ONE new clip: indexed clips
    whose fingerprints align with the probe's on a single time offset
    — (media_id, offset, n_aligned), best offset per clip, ordered.

    The probe decodes and fingerprints driver-side (one clip — the
    same pure-numpy path as the distributed pass), its hashes' bucket
    coordinates become partition predicates (the engine's own xxhash64
    over a local relation, no Spark job, like ``winnow_probe``), and
    the scan opens ≤ min(|probe hashes|, ``max_probe_hashes``)
    directories out of ``n_buckets`` — corpus-size-independent lookup.

    ``max_probe_hashes``: a clip emits ~400 hashes/second, so a
    multi-second probe would land in every bucket and defeat the
    pruning. The probe therefore SUBSAMPLES its hashes with a
    deterministic stride — any subset preserves the offset-alignment
    property (each surviving hash still lands on the true offset),
    it just scales the observed counts down by the sampling factor.
    Pass ``None`` to disable (full-recall probe, full-scan cost).

    Threshold + output semantics:
    ``min_matches`` is in FULL (unsampled) units — directly comparable
    with :func:`audio_match_pairs` tuning — and is scaled internally
    to the sampled counts (``max(1, min_matches // stride)``), so a
    long clip that subsamples aggressively can't silently fall below
    threshold for a true copy. The output carries the accounting:
    ``n_aligned`` (sampled hits), ``stride``, and ``n_aligned_est =
    n_aligned * stride`` (the extrapolated full-unit count)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from vectra_py_spark.operators.audio import decode_audio_payload

    _EMPTY = (
        "media_id STRING, offset INT, n_aligned INT, "
        "stride INT, n_aligned_est INT"
    )
    samples, sr, _kind = decode_audio_payload(bytes(payload))
    mono = samples.astype(np.float64).mean(axis=1) / 32768.0
    probe_fps = fingerprints(mono, sr)
    stride = 1
    if max_probe_hashes and len(probe_fps) > max_probe_hashes:
        stride = -(-len(probe_fps) // max_probe_hashes)  # ceil
        probe_fps = probe_fps[::stride]
    eff_min = max(1, min_matches // stride)
    if not probe_fps:
        return local_frame(spark, [], _EMPTY)
    probe_df = local_frame(spark, probe_fps, "hash BIGINT, t_probe INT")
    buckets = sorted(set(hash_buckets(
        spark, [h for h, _t in probe_fps], T.LongType(), n_buckets
    )))
    idx = spark.read.parquet(path).filter(F.col("bucket").isin(buckets))
    return (
        best_offset(
            idx.join(F.broadcast(probe_df), "hash"), ["media_id"],
            F.col("t") - F.col("t_probe"), eff_min,
        )
        .select(
            "media_id", "offset", "n_aligned",
            F.lit(stride).cast("int").alias("stride"),
            (F.col("n_aligned") * F.lit(stride))
            .cast("int")
            .alias("n_aligned_est"),
        )
        .orderBy("media_id")
    )
