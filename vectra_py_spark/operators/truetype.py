"""Minimal TrueType/OpenType ``cmap`` reader + fixture writer — just
enough font parsing to recover text from PDF Type0/Identity-H fonts
that carry NO /ToUnicode CMap (reference parity surface: the D5
document-ingest path, ``local_document_index.py:127-219``, generalized
to real corpus PDFs; implemented rather than refused for this
shape).

Background: in an Identity-H composite font the 2-byte codes in the
content stream are CIDs; /CIDToGIDMap turns CIDs into GLYPH INDEXES
into the embedded font program. Generators that omit /ToUnicode
(common for CJK subsets) leave the font's own character map — the
sfnt ``cmap`` table, which maps Unicode → glyph — as the only bridge
back to text. Inverting it (glyph → Unicode) recovers exactly what a
conforming viewer's copy-paste does in that situation.

Scope (spec: Apple TrueType Reference Manual / Microsoft OpenType
spec, both public): sfnt 0x00010000 and 'OTTO' containers; cmap
subtable formats 0 (byte table), 4 (segment delta/range — the BMP
workhorse every subsetter emits) and 12 (segmented coverage for
astral planes). TrueType Collections ('ttcf') and fonts whose cmap
has none of those formats refuse by name. All walks are
bounds-checked and bomb-capped; the uniform error contract is
ValueError (fuzz-campaign target like every other byte parser here).
"""

from __future__ import annotations

import struct

__all__ = ["cmap_gid_to_unicode", "encode_truetype_cmap"]

_MAX_SEGMENTS = 1 << 16
_MAX_GROUPS = 1 << 20
_MAX_MAPPED = 1 << 20  # total (code, gid) pairs surfaced


def _u16(d: bytes, p: int) -> int:
    if p + 2 > len(d):
        raise ValueError("TrueType read past end (u16)")
    return struct.unpack_from(">H", d, p)[0]


def _u32(d: bytes, p: int) -> int:
    if p + 4 > len(d):
        raise ValueError("TrueType read past end (u32)")
    return struct.unpack_from(">I", d, p)[0]


def _cmap_table(font: bytes) -> bytes:
    """Locate the raw cmap table inside the sfnt container."""
    if len(font) < 12:
        raise ValueError("TrueType payload shorter than an sfnt header")
    tag = font[:4]
    if tag == b"ttcf":
        raise ValueError(
            "TrueType Collection (ttcf) — pick one face first; "
            "unsupported"
        )
    if tag not in (b"\x00\x01\x00\x00", b"OTTO", b"true"):
        raise ValueError(f"not an sfnt font (magic {tag!r})")
    n_tables = _u16(font, 4)
    if n_tables > 1 << 12:
        raise ValueError("sfnt table directory impossibly large")
    for i in range(n_tables):
        rec = 12 + 16 * i
        if rec + 16 > len(font):
            raise ValueError("sfnt table directory truncated")
        if font[rec : rec + 4] == b"cmap":
            off, length = _u32(font, rec + 8), _u32(font, rec + 12)
            if off + length > len(font):
                raise ValueError("cmap table runs past the font")
            return font[off : off + length]
    raise ValueError("font has no cmap table")


def _parse_format0(sub: bytes, out: dict[int, int]) -> None:
    # format 0: 256-entry byte table
    if len(sub) < 262:
        raise ValueError("cmap format 0 subtable truncated")
    for code in range(256):
        gid = sub[6 + code]
        if gid:
            out[code] = gid


def _parse_format4(sub: bytes, out: dict[int, int]) -> None:
    seg_x2 = _u16(sub, 6)
    if seg_x2 % 2 or not seg_x2:
        raise ValueError("cmap format 4 segCountX2 invalid")
    segs = seg_x2 // 2
    if segs > _MAX_SEGMENTS:
        raise ValueError("cmap format 4 segment count bomb")
    end_at = 14
    start_at = end_at + seg_x2 + 2  # +2: reservedPad
    delta_at = start_at + seg_x2
    ro_at = delta_at + seg_x2
    mapped = 0
    for i in range(segs):
        end = _u16(sub, end_at + 2 * i)
        start = _u16(sub, start_at + 2 * i)
        delta = _u16(sub, delta_at + 2 * i)
        ro = _u16(sub, ro_at + 2 * i)
        if start > end:
            raise ValueError("cmap format 4 segment start > end")
        mapped += end - start + 1
        if mapped > _MAX_MAPPED:
            raise ValueError("cmap format 4 maps too many codes")
        for code in range(start, end + 1):
            if code == 0xFFFF:
                continue  # sentinel segment
            if ro == 0:
                gid = (code + delta) & 0xFFFF
            else:
                # idRangeOffset is relative to ITS OWN position
                addr = ro_at + 2 * i + ro + 2 * (code - start)
                gid = _u16(sub, addr)
                if gid:
                    gid = (gid + delta) & 0xFFFF
            if gid:
                out[code] = gid


def _parse_format12(sub: bytes, out: dict[int, int]) -> None:
    n_groups = _u32(sub, 12)
    if n_groups > _MAX_GROUPS:
        raise ValueError("cmap format 12 group count bomb")
    mapped = 0
    for g in range(n_groups):
        p = 16 + 12 * g
        start, end, gid0 = _u32(sub, p), _u32(sub, p + 4), _u32(sub, p + 8)
        if start > end or end > 0x10FFFF:
            raise ValueError("cmap format 12 group range invalid")
        mapped += end - start + 1
        if mapped > _MAX_MAPPED:
            raise ValueError("cmap format 12 maps too many codes")
        for k in range(end - start + 1):
            gid = gid0 + k
            if gid:
                out[start + k] = gid & 0xFFFF


def cmap_code_to_gid(font: bytes) -> dict[int, int]:
    """sfnt bytes → {unicode code point: glyph index} merged across
    every format-0/4/12 subtable (later subtables win per code —
    format 12, listed after format 4 by every real writer, extends it
    with astral planes)."""
    cmap = _cmap_table(font)
    n_sub = _u16(cmap, 2)
    if n_sub > 1 << 8:
        raise ValueError("cmap subtable count bomb")
    out: dict[int, int] = {}
    parsed = 0
    for i in range(n_sub):
        rec = 4 + 8 * i
        off = _u32(cmap, rec + 4)
        if off + 2 > len(cmap):
            raise ValueError("cmap subtable offset past the table")
        fmt = _u16(cmap, off)
        sub = cmap[off:]
        if fmt == 0:
            _parse_format0(sub, out)
        elif fmt == 4:
            _parse_format4(sub, out)
        elif fmt == 12:
            _parse_format12(sub, out)
        else:
            continue  # 2/6/13/14 etc: skip, refuse below if none hit
        parsed += 1
    if not parsed:
        raise ValueError(
            "font cmap has no format 0/4/12 subtable — unsupported"
        )
    return out


def cmap_gid_to_unicode(font: bytes) -> dict[int, str]:
    """sfnt bytes → {glyph index: character}, the inversion PDF
    Type0-without-/ToUnicode extraction needs. When several code
    points share a glyph (subsetters collapse lookalikes) the LOWEST
    code point wins — deterministic, and matches what viewers show."""
    inv: dict[int, str] = {}
    for code, gid in sorted(cmap_code_to_gid(font).items()):
        if gid not in inv:
            inv[gid] = chr(code)
    return inv


# ---------------------------------------------------------------------------
# Writer (fixtures): a minimal structurally-valid sfnt carrying head/
# maxp/cmap — the INDEPENDENT path the round-trip tests need. Checksums
# are computed per spec even though the reader ignores them.
# ---------------------------------------------------------------------------
def _segments(codes: list[int], c2g: dict[int, int]):
    """Merge codes into (start, end) runs where gid runs parallel."""
    runs: list[tuple[int, int]] = []
    for c in codes:
        if runs and c == runs[-1][1] + 1 and (
            c2g[c] - c2g[runs[-1][0]] == c - runs[-1][0]
        ):
            runs[-1] = (runs[-1][0], c)
        else:
            runs.append((c, c))
    return runs


def _format4(c2g: dict[int, int], use_range_offset: bool) -> bytes:
    codes = sorted(c for c in c2g if c < 0xFFFF and c2g[c])
    runs = _segments(codes, c2g)
    segs = []
    glyph_array: list[int] = []
    for start, end in runs:
        if use_range_offset:
            segs.append((start, end, 0, True, len(glyph_array)))
            glyph_array.extend(c2g[c] for c in range(start, end + 1))
        else:
            segs.append(
                (start, end, (c2g[start] - start) & 0xFFFF, False, 0)
            )
    segs.append((0xFFFF, 0xFFFF, 1, False, 0))  # required sentinel
    n = len(segs)
    seg_x2 = 2 * n
    ro_at = 14 + 3 * seg_x2 + 2
    ga_at = ro_at + seg_x2
    ends = b"".join(struct.pack(">H", s[1]) for s in segs)
    starts = b"".join(struct.pack(">H", s[0]) for s in segs)
    deltas = b"".join(struct.pack(">H", s[2]) for s in segs)
    ros = []
    for i, (_s, _e, _d, ranged, ga_idx) in enumerate(segs):
        if ranged:
            # distance from &idRangeOffset[i] to glyphIdArray[ga_idx]
            ros.append((ga_at + 2 * ga_idx) - (ro_at + 2 * i))
        else:
            ros.append(0)
    ro_b = b"".join(struct.pack(">H", r) for r in ros)
    ga_b = b"".join(struct.pack(">H", g) for g in glyph_array)
    body = (
        struct.pack(">HHHH", seg_x2, 0, 0, 0)  # count + bsearch stubs
        + ends + b"\x00\x00" + starts + deltas + ro_b + ga_b
    )
    return struct.pack(">HHH", 4, 6 + len(body), 0) + body


def _format12(c2g: dict[int, int]) -> bytes:
    codes = sorted(c for c in c2g if c2g[c])
    runs = _segments(codes, c2g)
    groups = b"".join(
        struct.pack(">III", s, e, c2g[s]) for s, e in runs
    )
    return struct.pack(
        ">HHIII", 12, 0, 16 + len(groups), 0, len(runs)
    ) + groups


def encode_truetype_cmap(
    code_to_gid: dict[int, int],
    use_range_offset: bool = False,
) -> bytes:
    """{code point: glyph index} → a minimal valid TrueType font whose
    cmap carries a format 4 subtable (BMP codes; ``use_range_offset``
    flips it from idDelta segments to the glyphIdArray layout so tests
    exercise both reader branches) plus a format 12 subtable when any
    code is astral."""
    if not code_to_gid:
        raise ValueError("encode_truetype_cmap needs at least one code")
    subs: list[tuple[int, int, bytes]] = [
        (3, 1, _format4(code_to_gid, use_range_offset))
    ]
    if any(c > 0xFFFF for c in code_to_gid):
        subs.append((3, 10, _format12(code_to_gid)))
    hdr = struct.pack(">HH", 0, len(subs))
    recs = b""
    off = 4 + 8 * len(subs)
    bodies = b""
    for plat, enc, body in subs:
        recs += struct.pack(">HHI", plat, enc, off)
        off += len(body)
        bodies += body
    cmap = hdr + recs + bodies

    max_gid = max(code_to_gid.values())
    head = struct.pack(
        ">IIIIHHQQhhhhHHhhh",
        0x00010000, 0, 0x5F0F3CF5, 0,  # version, revision, magic adj
        0, 1000, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    )
    maxp = struct.pack(">IH", 0x00005000, max_gid + 1)  # v0.5, numGlyphs

    tables = [(b"cmap", cmap), (b"head", head), (b"maxp", maxp)]
    n = len(tables)
    out = bytearray(struct.pack(">IHHHH", 0x00010000, n, 0, 0, 0))
    pos = 12 + 16 * n
    dir_entries = []
    blobs = bytearray()
    for tag, data in sorted(tables):
        padded = data + b"\x00" * (-len(data) % 4)
        csum = sum(
            struct.unpack(">I", padded[i : i + 4])[0]
            for i in range(0, len(padded), 4)
        ) & 0xFFFFFFFF
        dir_entries.append(struct.pack(
            ">4sIII", tag, csum, pos, len(data)
        ))
        pos += len(padded)
        blobs += padded
    out += b"".join(dir_entries) + blobs
    return bytes(out)
