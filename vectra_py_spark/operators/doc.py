"""Legacy Word binary (.doc) text extraction — pure stdlib, from the
public [MS-DOC] specification over the [MS-CFB] container
(:mod:`.cfb`). This opens the last named office gate: Word 97–2003
files, the pre-OOXML format older corpora are full of.

The reader does the REAL extraction walk, not a strings-dump: FIB
validation (wIdent 0xA5EC), the fWhichTblStm flag choosing the
0Table/1Table stream, the Clx in the table stream (Prc property runs
skipped, then the Pcdt), and the PlcPcd PIECE TABLE — each piece's
fc carries the fCompressed bit selecting 8-bit cp1252 (fc/2) vs
UTF-16LE text in the WordDocument stream, which is exactly the part
naive extractors corrupt. The main-document range is cut at ccpText
(headers/footnotes/annotation text follows it and is page furniture,
same body-text policy as the PDF/RTF extractors), control marks map
to structure (\\r→\\n, cell/row marks→tab/newline, field
instructions dropped while field RESULTS stay), and inline
object/picture placeholders drop.

Gates, refused by name: encrypted .doc (FIB fEncrypted), pre-Word97
files with no piece table, and the sibling OLE formats (.ppt/.xls)
which carry different streams entirely.

Contract: ValueError only (fuzz-pinned). Scale shape: per-payload
parse in the worker via ``office_extract_text`` dispatch, the WARC
glue (application/msword) and ``read_office_documents``.
"""

from __future__ import annotations

import struct

from vectra_py_spark.operators.cfb import CfbReader, encode_cfb

__all__ = ["doc_extract_text", "encode_doc"]

# Fixed FIB offsets (Word 97+ layout, [MS-DOC] 2.5):
#   FibBase 32 B + csw 2 + FibRgW97 28 + cslw 2 + FibRgLw97 88 +
#   cbRgFcLcb 2 → FibRgFcLcb97 at 0x9A; fcClx is pair index 33.
_CCP_TEXT_AT = 0x4C       # FibRgLw97.ccpText
_FC_CLX_AT = 0x01A2       # FibRgFcLcb97.fcClx
_LCB_CLX_AT = 0x01A6


def _normalize(text: str) -> str:
    """Word control marks → text structure; field instructions drop,
    field results stay ([MS-DOC] 2.8.25 field characters)."""
    out: list[str] = []
    in_instr = 0
    for ch in text:
        o = ord(ch)
        if o == 0x13:      # field begin → instruction text follows
            in_instr += 1
        elif o == 0x14:    # field separator → result text follows
            if in_instr:
                in_instr -= 1
        elif o == 0x15:    # field end
            if in_instr:   # field had no separator: whole body dropped
                in_instr -= 1
        elif in_instr:
            continue
        elif ch == "\r" or o in (0x0B, 0x0C):
            out.append("\n")
        elif o == 0x07:    # cell/row end mark
            out.append("\t")
        elif o == 0x1E:    # non-breaking hyphen
            out.append("-")
        elif o in (0x01, 0x08, 0x1F, 0x00):  # pic/object/soft-hyphen
            continue
        else:
            out.append(ch)
    return "".join(out)


def doc_extract_text(payload: bytes) -> str:
    """Legacy .doc bytes → main-document text."""
    try:
        return _doc_extract(payload)
    except struct.error as exc:
        raise ValueError(f"malformed .doc structure: {exc}") from exc


def _doc_extract(payload: bytes) -> str:
    cfb = CfbReader(payload)
    if not cfb.has("WordDocument"):
        for marker, what in (
            ("PowerPoint Document", "legacy PowerPoint (.ppt)"),
            ("Workbook", "legacy Excel (.xls)"),
            ("Book", "legacy Excel (.xls)"),
            ("EncryptedPackage", "password-protected OOXML"),
        ):
            if cfb.has(marker):
                raise ValueError(f"OLE payload is {what} — unsupported")
        raise ValueError(
            "OLE payload has no WordDocument stream — not a .doc"
        )
    wd = cfb.stream("WordDocument")
    if len(wd) < 0x01AA:
        raise ValueError(".doc FIB truncated")
    w_ident, _n_fib = struct.unpack_from("<HH", wd, 0)
    if w_ident != 0xA5EC:
        raise ValueError(
            f".doc FIB wIdent {w_ident:#06x} != 0xA5EC — not Word 97+"
        )
    (flags,) = struct.unpack_from("<H", wd, 0x0A)
    if flags & 0x0100:
        raise ValueError("encrypted .doc — unsupported by design")
    table_name = f"{1 if flags & 0x0200 else 0}Table"
    table = cfb.stream(table_name)
    (ccp_text,) = struct.unpack_from("<i", wd, _CCP_TEXT_AT)
    (fc_clx,) = struct.unpack_from("<I", wd, _FC_CLX_AT)
    (lcb_clx,) = struct.unpack_from("<I", wd, _LCB_CLX_AT)
    if lcb_clx == 0:
        raise ValueError(
            ".doc has no piece table (pre-Word97 fast-saved layout) — "
            "unsupported"
        )
    clx = table[fc_clx : fc_clx + lcb_clx]
    if len(clx) < lcb_clx:
        raise ValueError(".doc Clx runs past the table stream")
    # skip Prc property runs to the Pcdt
    pos = 0
    steps = 0
    while pos < len(clx) and clx[pos] == 0x01:
        (cb,) = struct.unpack_from("<h", clx, pos + 1)
        if cb < 0:
            raise ValueError(".doc Prc with negative size")
        pos += 3 + cb
        steps += 1
        if steps > 1 << 16:
            raise ValueError(".doc Clx Prc walk does not terminate")
    if pos >= len(clx) or clx[pos] != 0x02:
        raise ValueError(".doc Clx has no Pcdt")
    (lcb,) = struct.unpack_from("<I", clx, pos + 1)
    plc = clx[pos + 5 : pos + 5 + lcb]
    if len(plc) < lcb or lcb < 4 or (lcb - 4) % 12:
        raise ValueError(".doc PlcPcd has impossible size")
    n = (lcb - 4) // 12
    cps = struct.unpack_from(f"<{n + 1}I", plc, 0)
    # ccpText counts CPs — UTF-16 code UNITS, the same unit the PlcPcd
    # CP axis uses — so the main-document cut must happen in CP space
    # BEFORE decoding: an astral pair is 2 CPs but 1 Python char, and
    # slicing the decoded string would shift the cut past it, bleeding
    # header/footnote text into the output.
    pieces: list[tuple[bool, bytes, int]] = []  # (unicode?, raw, cp_count)
    total_cp = 0
    for i in range(n):
        count = cps[i + 1] - cps[i]
        if count < 0 or count > 1 << 28:
            raise ValueError(".doc piece with impossible CP span")
        (fc_raw,) = struct.unpack_from("<I", plc, 4 * (n + 1) + 8 * i + 2)
        fc = fc_raw & 0x3FFFFFFF
        if fc_raw & 0x40000000:  # fCompressed: 8-bit cp1252 at fc/2
            raw = wd[fc // 2 : fc // 2 + count]
            if len(raw) < count:
                raise ValueError(".doc compressed piece truncated")
            pieces.append((False, raw, count))
        else:                    # UTF-16LE at fc, 1 CP = 1 code unit
            raw = wd[fc : fc + 2 * count]
            if len(raw) < 2 * count:
                raise ValueError(".doc unicode piece truncated")
            pieces.append((True, raw, count))
        total_cp += count
    if not 0 <= ccp_text <= total_cp:
        ccp_text = total_cp  # tolerate a lying FIB; keep everything
    parts: list[str] = []
    remaining = ccp_text
    for is_uni, raw, count in pieces:
        if remaining <= 0:
            break
        take = min(count, remaining)
        if is_uni:
            parts.append(raw[: 2 * take].decode("utf-16-le", "replace"))
        else:
            parts.append(raw[:take].decode("cp1252", "replace"))
        remaining -= take
    return _normalize("".join(parts))


# ---------------------------------------------------------------------------
# Writer (fixtures): a minimal Word 97 binary with a REAL piece table —
# cp1252 runs as compressed pieces, non-cp1252 runs as unicode pieces,
# so round-trips exercise both encodings and multi-piece reassembly.
# ---------------------------------------------------------------------------
_FIB_SIZE = 1024  # text region starts here inside WordDocument


def encode_doc(paragraphs: list[str]) -> bytes:
    text = "\r".join(paragraphs)
    # split into maximal runs by encodability (piece table entries)
    pieces: list[tuple[str, bool]] = []  # (chars, compressed?)
    for ch in text:
        try:
            ch.encode("cp1252")
            comp = True
        except UnicodeEncodeError:
            comp = False
        if pieces and pieces[-1][1] == comp:
            pieces[-1] = (pieces[-1][0] + ch, comp)
        else:
            pieces.append((ch, comp))
    if not pieces:
        pieces = [("", True)]
    body = bytearray()
    plc_cps = [0]
    plc_pcds: list[bytes] = []
    cp = 0
    for chars, comp in pieces:
        fc_byte = _FIB_SIZE + len(body)
        if comp:
            body += chars.encode("cp1252")
            fc_raw = (fc_byte * 2) | 0x40000000
            units = len(chars)
        else:
            if fc_byte % 2:  # UTF-16 pieces must be 2-byte aligned
                body += b"\x00"
                fc_byte += 1
            raw = chars.encode("utf-16-le")
            body += raw
            fc_raw = fc_byte
            # CPs count UTF-16 code UNITS, not characters — astral
            # chars are 2 CPs (hypothesis-found)
            units = len(raw) // 2
        cp += units
        plc_cps.append(cp)
        plc_pcds.append(
            struct.pack("<HIH", 0, fc_raw, 0)
        )
    plc = b"".join(
        struct.pack("<I", c) for c in plc_cps
    ) + b"".join(plc_pcds)
    clx = b"\x02" + struct.pack("<I", len(plc)) + plc

    wd = bytearray(_FIB_SIZE)
    struct.pack_into("<HH", wd, 0, 0xA5EC, 0x00C1)
    struct.pack_into("<H", wd, 0x0A, 0)          # 0Table, not encrypted
    struct.pack_into("<H", wd, 0x20, 0x000E)     # csw
    struct.pack_into("<H", wd, 0x3E, 0x0016)     # cslw
    struct.pack_into("<i", wd, _CCP_TEXT_AT, cp)
    struct.pack_into("<H", wd, 0x98, 0x005D)     # cbRgFcLcb (nFib 00C1)
    struct.pack_into("<I", wd, _FC_CLX_AT, 0)    # Clx at table offset 0
    struct.pack_into("<I", wd, _LCB_CLX_AT, len(clx))
    wd += body
    return encode_cfb([
        ("WordDocument", bytes(wd)),
        ("0Table", clx),
    ])
