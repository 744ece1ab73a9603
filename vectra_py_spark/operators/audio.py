"""Real PCM audio transforms over binary payload columns.

The audio half of what :func:`multimodal.resize_media` does for images:
payload → payload operators that DECODE for real (WAV via the stdlib
reader, FLAC via :mod:`.flac`), transform the PCM, and re-encode in the
SAME container, preserving ``MEDIA_SCHEMA`` so the result composes with
:func:`multimodal.extract_features` / :func:`probe.probe_media` /
sinks. Steps (applied in this order when combined):

- **mono** — mean downmix across channels (round half away, the
  package's numpy rounding discipline);
- **resample** — linear-interpolation rate conversion to ``target_sr``
  (output length round(n·target/src), endpoints preserved);
- **trim** — cut leading/trailing samples whose peak across channels is
  below ``trim_db`` dBFS (an all-silent clip collapses to one zero
  sample, so the payload stays a valid container).

Contract: malformed payloads raise ValueError (quarantine upstream or
use ``on_error='quarantine'`` here — same policy as feature
extraction). Plan shape: narrow ``map_rows``, payloads never enter a
shuffle, linear scale-out; per-row cost is proportional to the clip.
"""

from __future__ import annotations

import io
import struct
import wave

import numpy as np
from pyspark.sql import DataFrame

from vectra_py_spark.operators.flac import decode_flac, encode_flac

__all__ = ["transform_audio", "decode_audio_payload", "encode_audio_payload"]


def _round_half_away(x: np.ndarray) -> np.ndarray:
    return np.sign(x) * np.floor(np.abs(x) + 0.5)


def decode_audio_payload(payload: bytes) -> tuple[np.ndarray, int, str]:
    """WAV or FLAC payload → (int64 samples (n, ch), sample_rate,
    container kind). Channel-preserving (unlike the feature path's mono
    downmix)."""
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        try:
            with wave.open(io.BytesIO(payload), "rb") as w:
                sr = w.getframerate()
                nch = w.getnchannels()
                sw = w.getsampwidth()
                raw = w.readframes(w.getnframes())
        except (wave.Error, EOFError, struct.error, RuntimeError) as exc:
            raise ValueError(f"malformed WAV payload: {exc}") from exc
        if sr <= 0 or nch <= 0:
            raise ValueError(f"malformed WAV header (sr={sr}, ch={nch})")
        if sw == 2:
            x = np.frombuffer(raw, dtype="<i2").astype(np.int64)
        elif sw == 1:
            x = (np.frombuffer(raw, np.uint8).astype(np.int64) - 128) * 256
        else:
            raise ValueError(f"unsupported PCM sample width {sw}")
        if x.size % nch:
            raise ValueError("WAV frame data not divisible by channels")
        return x.reshape(-1, nch), sr, "wav"
    if payload[:4] == b"fLaC":
        samples, sr = decode_flac(payload)
        return samples, sr, "flac"
    raise ValueError(
        f"unsupported audio container (first bytes {payload[:4]!r}) — "
        "wav or flac"
    )


def encode_audio_payload(samples: np.ndarray, sr: int, kind: str) -> bytes:
    """(n, ch) int PCM + rate → the named container's bytes."""
    s = np.asarray(samples, np.int64)
    if kind == "wav":
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(s.shape[1])
            w.setsampwidth(2)
            w.setframerate(sr)
            w.writeframes(s.astype("<i2").tobytes())
        return buf.getvalue()
    if kind == "flac":
        return encode_flac(s, sample_rate=sr)
    raise ValueError(f"unsupported audio container {kind!r}")


def _apply(
    samples: np.ndarray, sr: int,
    mono: bool, target_sr: int | None, trim_db: float | None,
) -> tuple[np.ndarray, int]:
    s = samples.astype(np.float64)
    if mono and s.shape[1] > 1:
        s = s.mean(axis=1, keepdims=True)
    if target_sr is not None and target_sr != sr:
        n = s.shape[0]
        m = max(1, int(round(n * target_sr / sr)))
        src_t = np.arange(n) / sr
        dst_t = np.arange(m) * (n - 1) / (sr * max(1, m - 1)) if m > 1 else (
            np.zeros(1)
        )
        s = np.stack(
            [np.interp(dst_t, src_t, s[:, c]) for c in range(s.shape[1])],
            axis=1,
        )
        sr = target_sr
    if trim_db is not None:
        thr = 32768.0 * (10.0 ** (trim_db / 20.0))
        peak = np.abs(s).max(axis=1)
        keep = np.nonzero(peak >= thr)[0]
        if keep.size == 0:
            s = np.zeros((1, s.shape[1]))
        else:
            s = s[keep[0] : keep[-1] + 1]
    out = _round_half_away(s).clip(-32768, 32767).astype(np.int64)
    return out, sr


def transform_audio(
    df: DataFrame,
    mono: bool = False,
    target_sr: int | None = None,
    trim_db: float | None = None,
    data_col: str = "data",
    on_error: str = "fail",
) -> DataFrame:
    """Payload → transformed payload in the same container, schema
    preserved; ``meta`` records the output sample rate and channel
    count. ``on_error='quarantine'`` keeps failed rows with a NULL
    payload and the error in ``meta['audio_error']`` (schema-preserving
    — the quarantine column convention needs an extra field, which
    MEDIA_SCHEMA's meta map provides)."""
    if not (mono or target_sr is not None or trim_db is not None):
        raise ValueError("transform_audio: no transform requested")
    if target_sr is not None and not 1 <= target_sr < (1 << 20):
        raise ValueError(f"unsupported target sample rate {target_sr}")
    from vectra_py_spark.session import map_rows, quarantine_rows

    cols = df.columns
    di, mi = cols.index(data_col), cols.index("meta")

    def replaced(values, data, meta):
        out = list(values)
        out[di], out[mi] = data, meta
        return tuple(out)

    def row(*values):
        b, m = values[di], values[mi]
        payload = bytes(b) if b is not None else b""
        samples, sr, kind = decode_audio_payload(payload)
        s2, sr2 = _apply(samples, sr, mono, target_sr, trim_db)
        return [replaced(
            values, encode_audio_payload(s2, sr2, kind),
            {**(m or {}), "out_sr": str(sr2), "out_ch": str(s2.shape[1]),
             "out_samples": str(s2.shape[0])},
        )]

    def error_row(values, exc):
        return replaced(
            values, None, {**(values[mi] or {}), "audio_error": str(exc)}
        )

    return map_rows(
        df, cols, row, df.schema, on_error=quarantine_rows(on_error, error_row)
    )
