"""Header-only media probing — metadata without decode.

The first pass a 100 TB crawl pipeline runs over raw media is not
feature extraction: it's triage. What IS this payload, what are its
dimensions/duration, how many frames — answered from container headers
alone, orders of magnitude cheaper than pixel/PCM decode (a probe reads
tens of bytes; a decode touches all of them). This module gives every
supported format a light header walker and one uniform DataFrame
operator, :func:`probe_media`, that emits a typed metadata row per
payload with per-row quarantine (the same crawl-robustness policy as
``extract_features(on_error='quarantine')``).

MP3 appears here at full fidelity (frame-header chain walk → exact
duration/bitrate stats, :mod:`.mp3`) even though its DECODE stays
gated — triage is the honest capability headers support.
"""

from __future__ import annotations

import io
import struct
import wave

from pyspark.sql import DataFrame

__all__ = ["probe_payload", "probe_media", "triage_media", "PROBE_SCHEMA"]

PROBE_SCHEMA = (
    "media_id STRING, kind STRING, width INT, height INT, n_frames INT, "
    "sample_rate INT, duration_s DOUBLE, n_bytes BIGINT, error STRING"
)


def _probe_png(p: bytes) -> dict:
    if len(p) < 24 or p[12:16] != b"IHDR":
        raise ValueError("PNG missing IHDR")
    w, h = struct.unpack_from(">II", p, 16)
    return {"kind": "png", "width": w, "height": h, "n_frames": 1}


def _probe_bmp(p: bytes) -> dict:
    if len(p) < 26:
        raise ValueError("BMP header truncated")
    w, h = struct.unpack_from("<ii", p, 18)
    return {"kind": "bmp", "width": abs(w), "height": abs(h), "n_frames": 1}


def _probe_ppm(p: bytes) -> dict:
    toks: list[bytes] = []
    pos = 0
    while len(toks) < 3 and pos < len(p):
        while pos < len(p) and p[pos : pos + 1].isspace():
            pos += 1
        if p[pos : pos + 1] == b"#":
            while pos < len(p) and p[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(p) and not p[pos : pos + 1].isspace():
            pos += 1
        toks.append(p[start:pos])
    if len(toks) < 3 or toks[0] != b"P6":
        raise ValueError("malformed PPM header")
    return {
        "kind": "ppm",
        "width": int(toks[1]),
        "height": int(toks[2]),
        "n_frames": 1,
    }


def _probe_jpeg(p: bytes) -> dict:
    """Marker walk to SOF — dims without entropy decode."""
    if p[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    while pos + 4 <= len(p):
        if p[pos] != 0xFF:
            raise ValueError(f"JPEG marker expected at offset {pos}")
        marker = p[pos + 1]
        if marker == 0xFF:
            pos += 1
            continue
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        (seglen,) = struct.unpack_from(">H", p, pos)
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            _prec, h, w = struct.unpack_from(">BHH", p, pos + 2)
            return {"kind": "jpeg", "width": w, "height": h, "n_frames": 1}
        pos += seglen
    raise ValueError("JPEG truncated before SOF")


def _probe_gif(p: bytes) -> dict:
    """Logical-screen dims + frame count from block structure — no LZW
    decode (sub-blocks are length-prefixed, so frames are countable by
    skipping)."""
    if p[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    w, h, packed, _bg, _ar = struct.unpack_from("<HHBBB", p, 6)
    pos = 13
    if packed & 0x80:
        pos += 3 * (2 << (packed & 7))
    frames = 0
    while pos < len(p):
        block = p[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: label + sub-blocks
            pos += 1
            while pos < len(p) and p[pos]:
                pos += 1 + p[pos]
            pos += 1
        elif block == 0x2C:  # image descriptor
            if pos + 9 > len(p):
                raise ValueError("GIF image descriptor truncated")
            fpacked = p[pos + 8]
            pos += 9
            if fpacked & 0x80:
                pos += 3 * (2 << (fpacked & 7))
            pos += 1  # LZW min code size
            while pos < len(p) and p[pos]:
                pos += 1 + p[pos]
            pos += 1
            frames += 1
        else:
            raise ValueError(f"unknown GIF block 0x{block:02X}")
    if frames == 0:
        raise ValueError("GIF contains no image frames")
    return {"kind": "gif", "width": w, "height": h, "n_frames": frames}


def _probe_wav(p: bytes) -> dict:
    try:
        with wave.open(io.BytesIO(p), "rb") as w:
            sr = w.getframerate()
            n = w.getnframes()
    except (wave.Error, EOFError, struct.error, RuntimeError) as exc:
        raise ValueError(f"malformed WAV payload: {exc}") from exc
    if sr <= 0:
        raise ValueError("malformed WAV header (sample rate 0)")
    return {
        "kind": "wav",
        "sample_rate": sr,
        "n_frames": n,
        "duration_s": round(n / sr, 6),
    }


def probe_payload(payload: bytes) -> dict:
    """One payload → metadata dict (kind + whatever the format
    declares). Raises ValueError for unrecognized/malformed bytes —
    the same uniform contract as the decoders (fuzz-pinned)."""
    try:
        return _probe_payload(payload)
    except (struct.error, IndexError, KeyError, OverflowError) as exc:
        raise ValueError(f"malformed media payload: {exc}") from exc


def _probe_payload(payload: bytes) -> dict:
    from vectra_py_spark.operators.avi import avi_info
    from vectra_py_spark.operators.flac import flac_info
    from vectra_py_spark.operators.mp3 import mp3_info
    from vectra_py_spark.operators.mp4 import mp4_info

    if not payload:
        raise ValueError("empty payload")
    if payload[:2] == b"\xff\xd8":
        return _probe_jpeg(payload)
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return _probe_png(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return _probe_gif(payload)
    if payload[:2] == b"BM":
        return _probe_bmp(payload)
    if payload[:2] == b"P6":
        return _probe_ppm(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return _probe_wav(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
        info = avi_info(payload)
        return {"kind": "avi", "width": info["width"],
                "height": info["height"], "n_frames": info["n_frames"]}
    if payload[:4] == b"fLaC":
        info = flac_info(payload)
        d = (
            round(info["total_samples"] / info["sample_rate"], 6)
            if info["sample_rate"] and info["total_samples"]
            else None
        )
        return {"kind": "flac", "sample_rate": info["sample_rate"],
                "n_frames": info["total_samples"], "duration_s": d}
    if payload[4:8] == b"ftyp":
        info = mp4_info(payload)
        return {"kind": "mp4", "width": info["width"],
                "height": info["height"], "n_frames": info["n_frames"]}
    if payload[:5] == b"%PDF-":
        # pdf_probe, NOT pdf_info: triage must stay header-cheap, and
        # pdf_info runs password verification (the AES-256 R6 key
        # stretch). Password-protected PDFs probe fine; extraction is
        # where they refuse.
        from vectra_py_spark.operators.pdf import pdf_probe

        info = pdf_probe(payload)
        return {"kind": "pdf", "n_frames": info["n_pages"]}
    if payload[:5] == b"{\\rtf":
        return {"kind": "rtf"}
    if payload[:8] == b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1":
        from vectra_py_spark.operators.cfb import CfbReader

        names = set(CfbReader(payload).stream_names())
        if "WordDocument" in names:
            return {"kind": "doc"}
        if "PowerPoint Document" in names:
            return {"kind": "ppt"}
        if "Workbook" in names or "Book" in names:
            return {"kind": "xls"}
        raise ValueError(
            "OLE payload is not a Word/PowerPoint/Excel document"
        )
    if payload[:4] == b"PK\x03\x04":
        # ZIP-based documents: kind from marker members alone (a
        # central-directory read — no XML parse, stays header-cheap)
        from vectra_py_spark.operators.office import _SLIDE_RE, _open_zip

        with _open_zip(payload) as zf:
            names = zf.namelist()
        n_slides = sum(1 for n in names if _SLIDE_RE.match(n))
        if "word/document.xml" in names:
            return {"kind": "docx"}
        if "xl/workbook.xml" in names:
            from vectra_py_spark.operators.office import _SHEET_RE

            return {"kind": "xlsx", "n_frames": sum(
                1 for n in names if _SHEET_RE.match(n)
            )}
        if n_slides:
            return {"kind": "pptx", "n_frames": n_slides}
        if "META-INF/container.xml" in names:
            return {"kind": "epub"}
        if "content.xml" in names:
            return {"kind": "odt"}
        raise ValueError(
            "ZIP payload is not a recognized document format"
        )
    # MP3 last: its sync is the weakest magic (0xFFEx or an ID3 tag)
    if payload[:3] == b"ID3" or (
        len(payload) > 1
        and payload[0] == 0xFF
        and payload[1] & 0xE0 == 0xE0
    ):
        info = mp3_info(payload)
        return {"kind": "mp3", "sample_rate": info["sample_rate"],
                "n_frames": info["n_frames"],
                "duration_s": info["duration_s"]}
    raise ValueError(
        f"unrecognized media payload (first bytes {payload[:8]!r})"
    )


def probe_media(
    df: DataFrame, data_col: str = "data", id_col: str = "media_id"
) -> DataFrame:
    """Binary payloads → one typed metadata row each (kind, dims,
    frames, sample rate, duration), header-only. Per-row quarantine is
    the DEFAULT here — triage exists precisely because crawl payloads
    are dirty; failures land in the ``error`` column, never fail the
    stage. One narrow ``map_rows`` pass: no shuffle, payloads stay in
    the worker, per-row cost is a header walk."""
    from vectra_py_spark.session import map_rows

    def rec(mid, b, info, err):
        return (
            str(mid), *(info.get(k) for k in (
                "kind", "width", "height", "n_frames", "sample_rate",
                "duration_s",
            )), len(b) if b is not None else 0, err,
        )

    def row(mid, b):
        info = probe_payload(bytes(b) if b is not None else b"")
        return [rec(mid, b, info, None)]

    return map_rows(
        df, [id_col, data_col], row, PROBE_SCHEMA,
        on_error=lambda v, exc: rec(*v, {}, str(exc)),
    )


def triage_media(
    df: DataFrame,
    data_col: str = "data",
    id_col: str = "media_id",
    kinds: set[str] | None = None,
    max_bytes: int | None = None,
    max_frames: int | None = None,
    max_duration_s: float | None = None,
    min_width: int | None = None,
    min_height: int | None = None,
) -> DataFrame:
    """Probe-before-decode, fused: header-walk every payload and pass
    through ONLY the rows a decode stage should spend cycles on —
    probe-clean (``error IS NULL``) and inside the given kind/size/
    frame/duration/dimension bounds. The input columns flow through
    unchanged with ``kind`` and ``n_bytes`` appended, so the result
    feeds ``extract_features`` / ``extract_pdf_text_df`` directly.

    This is the crawl pipeline's default first stage: a probe reads
    tens of header bytes, a decode touches all of them, and crawl
    corpora are dominated by payloads you do NOT want (corrupt files,
    oversized videos, the wrong modality). Fusing probe + filter in
    one narrow ``map_rows`` pass means payloads never enter a shuffle,
    never hit a join, and rejected files never reach the decoder —
    the bytes-decoded saving is quantified in BENCH.md.
    """
    from vectra_py_spark.session import map_rows

    def keep(info: dict, n_bytes: int) -> bool:
        if kinds is not None and info.get("kind") not in kinds:
            return False
        if max_bytes is not None and n_bytes > max_bytes:
            return False
        if max_frames is not None and (info.get("n_frames") or 0) > max_frames:
            return False
        if max_duration_s is not None and (
            info.get("duration_s") or 0.0
        ) > max_duration_s:
            return False
        if min_width is not None and (info.get("width") or 0) < min_width:
            return False
        if min_height is not None and (info.get("height") or 0) < min_height:
            return False
        return True

    di = df.columns.index(data_col)

    def row(*values):
        b = values[di]
        payload = bytes(b) if b is not None else b""
        info = probe_payload(payload)
        if not keep(info, len(payload)):
            return []
        return [(*values, info["kind"], len(payload))]

    return map_rows(
        df, df.columns, row,
        f"{df.schema.toDDL()}, kind STRING, n_bytes BIGINT",
        on_error=lambda v, exc: None,
    )
