"""MJPEG-in-AVI container codec — zero new codec work: the RIFF/AVI
'movi' list is parsed from the public spec
(Microsoft "AVI RIFF File Reference"; RIFF chunking per the original
IBM/Microsoft RIFF spec), and every ``00dc`` frame is a standalone
baseline/progressive JPEG handed to :func:`jpeg.decode_jpeg`. This is
the honest MP4 stand-in the reference delegates to codec libraries
(the MP4 gate in multimodal.py stays a declared
``NotImplementedError``): a REAL video container over the REAL
compressed-image codec, composing with sniff/quarantine/streaming the
same way GIF did in round 6.

Contract: any malformed or unsupported payload raises
:class:`ValueError` — the single exception type
``extract_features(on_error='quarantine')`` and the streaming ingest
path rely on.

Scale shape: container parse + per-frame byte slicing is linear in
payload bytes and happens entirely inside the worker (mapInPandas
callers); frame extraction never decodes pixels — a sampled frame IS
the original JPEG chunk, byte-exact.
"""

from __future__ import annotations

import struct

import numpy as np

from vectra_py_spark.operators.jpeg import decode_jpeg, encode_jpeg

__all__ = [
    "encode_avi_mjpeg",
    "decode_avi",
    "avi_frame_payloads",
    "avi_info",
]

_AVIF_HASINDEX = 0x00000010
_AVIIF_KEYFRAME = 0x00000010


def _chunk(fourcc: bytes, body: bytes) -> bytes:
    """One RIFF chunk: fourcc + little-endian size + data, word-aligned
    (RIFF pads odd-sized chunk data with one zero byte)."""
    pad = b"\x00" if len(body) % 2 else b""
    return fourcc + struct.pack("<I", len(body)) + body + pad


def _list(list_type: bytes, body: bytes) -> bytes:
    return _chunk(b"LIST", list_type + body)


def encode_avi_mjpeg(
    frames: list[bytes], width: int, height: int, fps: int = 10
) -> bytes:
    """Pre-encoded JPEG frame payloads → an MJPEG AVI with the standard
    structure (hdrl: avih + one 'vids'/'MJPG' strl; movi: one ``00dc``
    chunk per frame; idx1 keyframe index — MJPEG is all-intra, so every
    frame is a keyframe)."""
    if not frames:
        raise ValueError("encode_avi_mjpeg needs at least one frame")
    if fps < 1:
        raise ValueError(f"fps must be >= 1, got {fps}")
    for i, f in enumerate(frames):
        if f[:2] != b"\xff\xd8":
            raise ValueError(f"frame {i} is not a JPEG payload")
    max_bytes = max(len(f) for f in frames)
    avih = struct.pack(
        "<14I",
        1_000_000 // fps,        # dwMicroSecPerFrame
        max_bytes * fps,         # dwMaxBytesPerSec
        0,                       # dwPaddingGranularity
        _AVIF_HASINDEX,          # dwFlags
        len(frames),             # dwTotalFrames
        0,                       # dwInitialFrames
        1,                       # dwStreams
        max_bytes,               # dwSuggestedBufferSize
        width,
        height,
        0, 0, 0, 0,              # dwReserved
    )
    strh = (
        b"vids"
        + b"MJPG"
        + struct.pack(
            "<IHHIIIIIIII4H",
            0,                   # dwFlags
            0, 0,                # wPriority, wLanguage
            0,                   # dwInitialFrames
            1,                   # dwScale
            fps,                 # dwRate (rate/scale = fps)
            0,                   # dwStart
            len(frames),         # dwLength (frames)
            max_bytes,           # dwSuggestedBufferSize
            0xFFFFFFFF,          # dwQuality (default)
            0,                   # dwSampleSize (0: varying)
            0, 0, width, height,  # rcFrame
        )
    )
    strf = struct.pack(
        "<IiiHH4sIiiII",
        40, width, height, 1, 24, b"MJPG",
        width * height * 3, 0, 0, 0, 0,
    )
    hdrl = _list(
        b"hdrl",
        _chunk(b"avih", avih)
        + _list(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)),
    )
    movi_body = b""
    idx = b""
    for f in frames:
        # idx1 offsets are relative to the 'movi' fourcc (the common
        # convention decoders expect)
        idx += b"00dc" + struct.pack(
            "<III", _AVIIF_KEYFRAME, 4 + len(movi_body), len(f)
        )
        movi_body += _chunk(b"00dc", f)
    riff_body = b"AVI " + hdrl + _list(b"movi", movi_body) + _chunk(b"idx1", idx)
    return _chunk(b"RIFF", riff_body)


def _walk_chunks(data: bytes, pos: int, end: int):
    """Yield (fourcc, body_start, body_size) over a chunk run,
    honoring word alignment."""
    while pos + 8 <= end:
        fourcc = data[pos : pos + 4]
        (size,) = struct.unpack_from("<I", data, pos + 4)
        body = pos + 8
        if body + size > end:
            raise ValueError("AVI chunk extends past its parent")
        yield fourcc, body, size
        pos = body + size + (size % 2)


def _parse_avi(payload: bytes) -> tuple[int, int, list[bytes]]:
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError(f"not an AVI payload: {payload[:12]!r}")
    (riff_size,) = struct.unpack_from("<I", payload, 4)
    end = min(8 + riff_size, len(payload))
    if 8 + riff_size > len(payload):
        raise ValueError("AVI truncated (RIFF size exceeds payload)")

    width = height = None
    video_stream: int | None = None
    stream_no = 0
    frames: list[bytes] = []

    for fourcc, body, size in _walk_chunks(payload, 12, end):
        if fourcc != b"LIST":
            continue
        ltype = payload[body : body + 4]
        if ltype == b"hdrl":
            for f2, b2, s2 in _walk_chunks(payload, body + 4, body + size):
                if f2 == b"avih":
                    if s2 < 40:
                        raise ValueError("AVI avih header truncated")
                    vals = struct.unpack_from("<10I", payload, b2)
                    width, height = vals[8], vals[9]
                elif f2 == b"LIST" and payload[b2 : b2 + 4] == b"strl":
                    for f3, b3, s3 in _walk_chunks(payload, b2 + 4, b2 + s2):
                        if f3 != b"strh":
                            continue
                        if s3 < 8:
                            raise ValueError("AVI strh header truncated")
                        fcc_type = payload[b3 : b3 + 4]
                        handler = payload[b3 + 4 : b3 + 8]
                        if fcc_type == b"vids":
                            if handler.upper() not in (b"MJPG", b"MJPA"):
                                raise ValueError(
                                    "unsupported AVI video codec "
                                    f"{handler!r} — only MJPG (JPEG "
                                    "frames) supported"
                                )
                            if video_stream is None:
                                video_stream = stream_no
                    stream_no += 1
        elif ltype == b"movi":
            if video_stream is None:
                raise ValueError("AVI movi list before any video stream")
            want = b"%02d" % video_stream
            for f2, b2, s2 in _walk_chunks(payload, body + 4, body + size):
                ck = f2
                if ck == b"LIST" and payload[b2 : b2 + 4] == b"rec ":
                    inner = list(_walk_chunks(payload, b2 + 4, b2 + s2))
                else:
                    inner = [(ck, b2, s2)]
                for f3, b3, s3 in inner:
                    if f3[:2] == want and f3[2:4] in (b"dc", b"db"):
                        frame = payload[b3 : b3 + s3]
                        if frame[:2] != b"\xff\xd8":
                            raise ValueError(
                                "AVI MJPEG frame is not a JPEG payload"
                            )
                        frames.append(frame)
    if width is None or height is None:
        raise ValueError("AVI missing avih main header")
    if video_stream is None:
        raise ValueError("AVI has no video ('vids') stream")
    if not frames:
        raise ValueError("AVI contains no video frames")
    return width, height, frames


def avi_info(payload: bytes) -> dict:
    """Container-level probe without pixel decode: declared dims +
    actual frame count + per-frame byte sizes."""
    try:
        width, height, frames = _parse_avi(payload)
    except (struct.error, IndexError) as exc:
        raise ValueError(f"malformed AVI payload: {exc}") from exc
    return {
        "width": width,
        "height": height,
        "n_frames": len(frames),
        "frame_bytes": [len(f) for f in frames],
    }


def avi_frame_payloads(payload: bytes) -> list[bytes]:
    """Byte-exact JPEG payloads of every video frame (no pixel
    decode) — the unit frame sampling and per-frame feature extraction
    operate on."""
    try:
        return _parse_avi(payload)[2]
    except (struct.error, IndexError) as exc:
        raise ValueError(f"malformed AVI payload: {exc}") from exc


def decode_avi(payload: bytes) -> np.ndarray:
    """Full pixel decode: every MJPEG frame through
    :func:`jpeg.decode_jpeg` → uint8 array (n_frames, h, w, c). Frames
    must agree on decoded shape (per-frame dims are authoritative —
    mismatched avih dims are a malformed file)."""
    try:
        _w, _h, frames = _parse_avi(payload)
    except (struct.error, IndexError) as exc:
        raise ValueError(f"malformed AVI payload: {exc}") from exc
    imgs = [decode_jpeg(f) for f in frames]
    if any(im.shape != imgs[0].shape for im in imgs):
        raise ValueError("AVI frames decode to differing shapes")
    return np.stack(imgs)


def synth_avi(
    n_frames: int = 5, width: int = 24, height: int = 16, quality: int = 85
) -> bytes:
    """Generate a real MJPEG AVI (a brightening gray gradient per
    frame — valid input for ANY MJPEG-capable decoder)."""
    frames = []
    for i in range(n_frames):
        v = (40 + i * 35) % 256
        frames.append(
            encode_jpeg(np.full((height, width), v, np.uint8), quality=quality)
        )
    return encode_avi_mjpeg(frames, width, height)
