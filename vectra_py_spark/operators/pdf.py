"""PDF text extraction — pure stdlib, from the public spec (ISO 32000 /
the Adobe PDF 1.7 reference): the remaining big corpus source a
training-data pipeline meets after HTML (WARC) and plain dumps (JSONL).

Honest scope, stated plainly: PDFs with simple fonts OR
Type0/Identity-H composite fonts carrying a /ToUnicode CMap (the shape
every modern generator emits for embedded subsets) — BOTH
cross-reference flavors, plaintext or encrypted with the standard
security handler (RC4 40/128-bit V1/V2, crypt-filter V4 /AESV2 and
/V2, and AES-256 V5 R5/R6 — ``pdf_crypto.py``, validated against
FIPS-197 / published RC4 vectors) when the user password is empty,
i.e. the common owner-password-only protection; a real user password
refuses as password-protected. Object offsets resolve through the real
startxref → xref chain first (classic tables, PDF 1.5+ cross-reference
STREAMS with /W packing + FlateDecode + the TIFF/PNG row predictors,
/Prev incremental-update chains, hybrid /XRefStm files, and type-2
entries into compressed object streams /Type/ObjStm), every claimed
offset validated against the object header actually present there; a
full-payload scan is only the fallback for broken chains. The parser
walks the trailer → Root → Pages tree for real (indirect references,
inheritance through Kids, multiple Contents streams), and the
content-stream tokenizer understands the full string syntax (escapes,
octal, balanced parens, hex strings) and every text-showing operator
(Tj ' \" TJ) plus the line-advance operators (Td TD T* TL) that give
extracted text its line structure. Stream filters cover what text
streams actually use: FlateDecode, LZWDecode (TIFF-style, EarlyChange
honored), ASCIIHexDecode, ASCII85Decode, RunLengthDecode, chained
filter arrays, and the TIFF/PNG DecodeParms predictors. Character
decoding covers /Encoding (WinAnsi/MacRoman/Differences) and
/ToUnicode CMaps for simple fonts, and 2-byte-CID /ToUnicode for
Type0/Identity-H; when a Type0/Identity font has NO /ToUnicode (the
common CJK-subset shape) extraction walks the EMBEDDED FONT PROGRAM
instead — CID → glyph via /CIDToGIDMap (/Identity or stream), then
glyph → Unicode by inverting the TrueType program's own sfnt ``cmap``
table (/FontFile2 or sfnt-flavored /FontFile3,
``operators/truetype.py``, formats 0/4/12) or, for bare-CFF
/FontFile3 (/Type1C), through the CFF charset's glyph NAMES
(``operators/cff.py`` + the AGL resolver) — which is exactly what a
conforming viewer's copy-paste does there (round 9; previously a
named refusal). What it does NOT do — Type0 fonts with PREDEFINED
CMap encodings (/UniJIS-UCS2-H, /GBK-EUC-H, …: their code→CID tables
are published Adobe DATA FILES, thousands of mappings each, not
derivable structure — bundling them is the reactivation path, exactly
the MP3-decode discipline; embedded CMap STREAMS likewise refuse),
CID-keyed CFF programs (charset carries CIDs, not names — the same
data-file boundary), password-protected documents whose password was
NOT supplied (``password=`` walks the user→owner→empty ladder, round
9; guessing is out of scope), non-Standard security handlers, and the
image codecs
(DCTDecode/JPXDecode/CCITT/JBIG2, which never carry text) — raises a
clear ValueError naming the gap, never silently wrong text: the same
declared-gate discipline as the MP3/H.264 codec gaps.
Flate expansion is capped (:data:`DECOMPRESS_CEILING`) so crafted
bombs quarantine instead of failing the stage.

Contract: malformed payloads raise :class:`ValueError`
(fuzz-hardened). Scale shape: per-payload parse inside the worker
(``map_rows`` callers), linear in payload bytes; PDFs never enter a
shuffle.
"""

from __future__ import annotations

import re
import struct
import zlib

__all__ = [
    "encode_pdf", "pdf_extract_text", "pdf_info", "pdf_probe",
    "synth_pdf", "extract_pdf_text_df", "pdf_triage_lanes",
    "read_pdf_documents",
]


# ---------------------------------------------------------------------------
# Writer (synthesis for tests/demos — a real, spec-valid PDF 1.4)
# ---------------------------------------------------------------------------
def _escape_pdf_string(s: str) -> bytes:
    out = s.encode("latin-1", "replace")
    return (
        out.replace(b"\\", rb"\\").replace(b"(", rb"\(").replace(b")", rb"\)")
    )


def _tounicode_cmap(cid_of: dict[str, int]) -> bytes:
    """Spec-shaped (§9.10.3) ToUnicode CMap for a 2-byte-CID font:
    codespace <0000>–<FFFF>, bfchar blocks capped at 100 entries."""
    out = [
        b"/CIDInit /ProcSet findresource begin",
        b"12 dict begin",
        b"begincmap",
        b"/CMapName /SynthToUni def",
        b"/CMapType 2 def",
        b"1 begincodespacerange",
        b"<0000> <FFFF>",
        b"endcodespacerange",
    ]
    items = sorted(cid_of.items(), key=lambda kv: kv[1])
    for i in range(0, len(items), 100):
        chunk = items[i : i + 100]
        out.append(b"%d beginbfchar" % len(chunk))
        for ch, cid in chunk:
            out.append(
                b"<%04X> <%s>"
                % (cid, ch.encode("utf-16-be").hex().upper().encode())
            )
        out.append(b"endbfchar")
    out += [
        b"endcmap",
        b"CMapName currentdict /CMap defineresource pop",
        b"end",
        b"end",
    ]
    return b"\n".join(out)


def encode_pdf(
    pages: list[list[str]],
    compress: bool = True,
    xref_stream: bool = False,
    objstm: bool = False,
    font: str = "type1",
    encrypt: str | None = None,
    encrypt_mode: str = "aesv2",
    to_unicode: bool = True,
    font_program: str = "truetype",
    user_password: str = "",
) -> bytes:
    """List of pages, each a list of text lines → a valid PDF with one
    content stream per page (FlateDecode when ``compress``).

    Font flavor: ``font='type1'`` (default) shows latin-1 text through
    a standard Helvetica; ``font='type0'`` writes a composite
    Type0/Identity-H font — a CIDFontType2 descendant plus a /ToUnicode
    CMap, text shown as 2-byte big-endian CIDs in hex strings, the
    exact shape modern generators emit for embedded subsets (and the
    only way to carry non-latin text). CIDs are assigned densely
    (1-based, char-sorted), deliberately NOT equal to code points, so a
    round-trip proves the /ToUnicode path and not an identity shortcut.
    ``to_unicode=False`` (type0 only) writes the CJK-subset shape that
    OMITS /ToUnicode and instead embeds a real font program whose own
    tables are the only bridge back to text — the fixture for the
    font-program extraction path. ``font_program`` picks the flavor:
    ``'truetype'`` (/FontFile2, sfnt cmap — operators/truetype.py) or
    ``'cff'`` (/FontFile3 /Type1C, charset glyph names —
    operators/cff.py; names are standard-SID ASCII where possible,
    uniXXXX/uXXXXXX custom strings otherwise).

    Encryption flavor: ``encrypt='ownerpw'`` protects the document with
    the standard security handler — owner password set, user password
    EMPTY (the overwhelmingly common "no password to read, protected
    against edits" shape). ``encrypt_mode`` picks the handler
    generation: ``'rc4-40'`` (V1/R2), ``'rc4'`` (V2/R3/128-bit),
    ``'aesv2'`` (V4/R4 crypt filters, AES-128 — the Acrobat 7+
    default) or ``'aesv3'`` (V5/R6, AES-256, PDF 2.0). All strings and
    streams are encrypted per spec (the cross-reference stream and the
    /Encrypt dictionary's own records excepted); /ID and all salts/IVs
    derive deterministically so fixtures are reproducible.

    Cross-reference flavor: a classic xref table (PDF 1.4) by default;
    ``xref_stream=True`` writes a PDF 1.5 cross-reference STREAM
    (/Type/XRef, W [1 4 2], FlateDecode + PNG Up predictor 12 — the
    shape every modern generator emits) and, with ``objstm=True``, also
    packs the non-stream objects (catalog, page tree, page dicts, font)
    into a compressed object stream (/Type/ObjStm) addressed by type-2
    xref entries. All flavors extract to IDENTICAL text — the
    round-trip tests and the ``pdf_extract`` oracle rely on that."""
    if not pages:
        raise ValueError("encode_pdf needs at least one page")
    if objstm and not xref_stream:
        raise ValueError(
            "objstm requires xref_stream (type-2 entries only exist in "
            "cross-reference streams)"
        )
    if font not in ("type1", "type0"):
        raise ValueError(f"font must be type1|type0, got {font!r}")
    type0 = font == "type0"
    objs: list[bytes] = []  # 1-indexed
    stream_ids: set[int] = set()  # objects that may not enter an ObjStm

    def add(body: bytes) -> int:
        objs.append(body)
        return len(objs)

    id0 = b""
    if encrypt is not None:
        import hashlib as _hl

        from vectra_py_spark.operators import pdf_crypto as pc

        if encrypt_mode not in ("rc4-40", "rc4", "aesv2", "aesv3"):
            raise ValueError(
                "encrypt_mode must be rc4-40|rc4|aesv2|aesv3, got "
                f"{encrypt_mode!r}"
            )
        id0 = _hl.md5(
            repr(pages).encode() + encrypt_mode.encode()
        ).digest()
        opw = encrypt.encode("latin-1", "replace")
        upw = user_password.encode("utf-8")
        perm = -4  # all usage permitted; protection is against edits
        if encrypt_mode == "aesv3":
            fkey = pc.v5_file_key(len(pages), id0)
            v5 = pc.make_v5_records(fkey, upw, opw, perm, r=6)
        else:
            enc_r, enc_v, enc_len = {
                "rc4-40": (2, 1, 40),
                "rc4": (3, 2, 128),
                "aesv2": (4, 4, 128),
            }[encrypt_mode]
            o_rec = pc.compute_o(opw, upw, enc_r, enc_len)
            fkey = pc.std_file_key(upw, o_rec, perm, id0, enc_r, enc_len)
            u_rec = pc.compute_u(fkey, id0, enc_r)

        def enc_bytes(num: int, data: bytes) -> bytes:
            if encrypt_mode == "aesv3":
                okey = fkey
            elif encrypt_mode == "aesv2":
                okey = pc.object_key(fkey, num, 0, aes=True)
            else:
                return pc.rc4(
                    pc.object_key(fkey, num, 0, aes=False), data
                )
            iv = _hl.md5(b"vectra-iv:%d:" % num + id0).digest()
            return pc.aes_cbc_encrypt(okey, iv, data)

    def enc_stream(payload: bytes) -> bytes:
        """Encrypt a stream payload with the key of the object about
        to be added (object numbers are assigned sequentially, so the
        upcoming number is len(objs)+1). Cross-reference streams never
        route through here."""
        if encrypt is None:
            return payload
        return enc_bytes(len(objs) + 1, payload)

    def lit_str(s: bytes) -> bytes:
        """A literal string for the object about to be added —
        encrypted to a hex string when the handler is on, UNLESS the
        object will ride inside an object stream (strings there are
        covered by the ObjStm's own stream encryption, §7.5.7)."""
        if encrypt is None or objstm:
            return b"(" + _escape_pdf_string(s.decode("latin-1")) + b")"
        return b"<" + enc_bytes(len(objs) + 1, s).hex().encode() + b">"

    page_ids = []
    content_ids = []
    if type0:
        chars = sorted({c for lines in pages for ln in lines for c in ln})
        cid_of = {c: i + 1 for i, c in enumerate(chars)}
        if to_unicode:
            tu = _tounicode_cmap(cid_of)
            tu_filt = b""
            if compress:
                tu = zlib.compress(tu)
                tu_filt = b"/Filter /FlateDecode "
            tu = enc_stream(tu)
            tu_id = add(
                b"<< " + tu_filt + b"/Length " + str(len(tu)).encode()
                + b" >>\nstream\n" + tu + b"\nendstream"
            )
            stream_ids.add(tu_id)
            desc_extra = b""
        else:
            # the CJK-subset shape: NO /ToUnicode — the only bridge
            # back to text is the embedded font program's own tables
            # (glyph == CID here because /CIDToGIDMap is /Identity);
            # extraction must walk the font program
            if font_program == "truetype":
                from vectra_py_spark.operators.truetype import (
                    encode_truetype_cmap,
                )

                prog = encode_truetype_cmap(
                    {ord(c): cid for c, cid in cid_of.items()}
                )
                ff_key, ff_sub = b"/FontFile2", b""
            elif font_program == "cff":
                from vectra_py_spark.operators.cff import (
                    _ASCII_NAMES,
                    encode_cff_charset,
                )

                def gname(c: str) -> str:
                    o = ord(c)
                    if 32 <= o <= 126:
                        return _ASCII_NAMES[o - 32]
                    return ("uni%04X" if o <= 0xFFFF else "u%06X") % o

                # glyph gid == cid; cid_of is 1-based and char-sorted
                prog = encode_cff_charset(
                    [gname(c) for c in sorted(cid_of, key=cid_of.get)]
                )
                ff_key, ff_sub = b"/FontFile3", b"/Subtype /Type1C "
            else:
                raise ValueError(
                    f"font_program must be truetype|cff, got "
                    f"{font_program!r}"
                )
            ff_filt = b""
            if compress:
                prog = zlib.compress(prog)
                ff_filt = b"/Filter /FlateDecode "
            prog = enc_stream(prog)
            ff_id = add(
                b"<< " + ff_sub + ff_filt + b"/Length "
                + str(len(prog)).encode()
                + b" >>\nstream\n" + prog + b"\nendstream"
            )
            stream_ids.add(ff_id)
            fdesc_id = add(
                b"<< /Type /FontDescriptor /FontName /SynthCID"
                b" /Flags 4 " + ff_key + b" %d 0 R >>" % ff_id
            )
            desc_extra = b" /FontDescriptor %d 0 R" % fdesc_id
        desc_id = add(
            b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /SynthCID"
            b" /CIDSystemInfo << /Registry " + lit_str(b"Adobe")
            + b" /Ordering " + lit_str(b"Identity")
            + b" /Supplement 0 >> /CIDToGIDMap /Identity"
            + desc_extra + b" >>"
        )
        font_id = add(
            b"<< /Type /Font /Subtype /Type0 /BaseFont /SynthCID"
            b" /Encoding /Identity-H /DescendantFonts [%d 0 R]"
            % desc_id
            + (b" /ToUnicode %d 0 R" % tu_id if to_unicode else b"")
            + b" >>"
        )
    else:
        font_id = add(
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
        )
    pages_id_placeholder = None
    for lines in pages:
        ops = [b"BT /F1 12 Tf 14 TL 72 760 Td"]
        for i, line in enumerate(lines):
            if i:
                ops.append(b"T*")
            if type0:
                hexs = "".join("%04X" % cid_of[c] for c in line)
                ops.append(b"<" + hexs.encode("ascii") + b"> Tj")
            else:
                ops.append(b"(" + _escape_pdf_string(line) + b") Tj")
        ops.append(b"ET")
        stream = b" ".join(ops)
        filt = b""
        if compress:
            stream = zlib.compress(stream)
            filt = b"/Filter /FlateDecode "
        stream = enc_stream(stream)
        content_ids.append(add(
            b"<< " + filt + b"/Length " + str(len(stream)).encode()
            + b" >>\nstream\n" + stream + b"\nendstream"
        ))
    stream_ids.update(content_ids)
    pages_id_placeholder = len(objs) + len(pages) + 1
    for cid in content_ids:
        page_ids.append(add(
            b"<< /Type /Page /Parent "
            + str(pages_id_placeholder).encode() + b" 0 R"
            + b" /MediaBox [0 0 612 792]"
            + b" /Resources << /Font << /F1 "
            + str(font_id).encode() + b" 0 R >> >>"
            + b" /Contents " + str(cid).encode() + b" 0 R >>"
        ))
    kids = b" ".join(b"%d 0 R" % p for p in page_ids)
    pages_id = add(
        b"<< /Type /Pages /Kids [" + kids + b"] /Count "
        + str(len(page_ids)).encode() + b" >>"
    )
    assert pages_id == pages_id_placeholder
    catalog_id = add(b"<< /Type /Catalog /Pages %d 0 R >>" % pages_id)

    trailer_extra = b""
    if encrypt is not None:
        def hx(b: bytes) -> bytes:
            return b"<" + b.hex().encode() + b">"

        if encrypt_mode == "aesv3":
            ebody = (
                b"<< /Filter /Standard /V 5 /R 6 /Length 256 /P %d"
                b" /O %s /U %s /OE %s /UE %s /Perms %s"
                b" /CF << /StdCF << /CFM /AESV3 /AuthEvent /DocOpen"
                b" /Length 32 >> >> /StmF /StdCF /StrF /StdCF >>"
                % (perm, hx(v5["O"]), hx(v5["U"]), hx(v5["OE"]),
                   hx(v5["UE"]), hx(v5["Perms"]))
            )
        elif encrypt_mode == "aesv2":
            ebody = (
                b"<< /Filter /Standard /V 4 /R 4 /Length 128 /P %d"
                b" /O %s /U %s /CF << /StdCF << /CFM /AESV2 /AuthEvent"
                b" /DocOpen /Length 16 >> >> /StmF /StdCF /StrF /StdCF >>"
                % (perm, hx(o_rec), hx(u_rec))
            )
        else:
            ebody = (
                b"<< /Filter /Standard /V %d /R %d /Length %d /P %d"
                b" /O %s /U %s >>"
                % (enc_v, enc_r, enc_len, perm, hx(o_rec), hx(u_rec))
            )
        encrypt_id = add(ebody)
        # the encryption dictionary may not live in an ObjStm (§7.5.7)
        stream_ids.add(encrypt_id)
        idhex = hx(id0)
        trailer_extra = b" /Encrypt %d 0 R /ID [%s %s]" % (
            encrypt_id, idhex, idhex,
        )

    if not xref_stream:
        out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
        offsets = [0]
        for i, body in enumerate(objs, 1):
            offsets.append(len(out))
            out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
        xref_at = len(out)
        out += b"xref\n0 %d\n" % (len(objs) + 1)
        out += b"0000000000 65535 f \n"
        for off in offsets[1:]:
            out += b"%010d 00000 n \n" % off
        out += (
            b"trailer\n<< /Size %d /Root %d 0 R%s >>\nstartxref\n%d\n"
            b"%%%%EOF\n"
            % (len(objs) + 1, catalog_id, trailer_extra, xref_at)
        )
        return bytes(out)

    import struct

    out = bytearray(b"%PDF-1.5\n%\xe2\xe3\xcf\xd3\n")
    compressed_nums: list[int] = []
    objstm_num = None
    if objstm:
        # every non-stream object (dicts only — streams may not live in
        # an ObjStm per ISO 32000 §7.5.7) moves into one object stream
        compressed_nums = [
            n for n in range(1, len(objs) + 1) if n not in stream_ids
        ]
        header_parts = []
        data = bytearray()
        for n in compressed_nums:
            header_parts.append(b"%d %d" % (n, len(data)))
            data += objs[n - 1] + b"\n"
        header = b" ".join(header_parts) + b"\n"
        payload = zlib.compress(header + bytes(data))
        payload = enc_stream(payload)
        objstm_num = add(
            b"<< /Type /ObjStm /N %d /First %d /Filter /FlateDecode "
            b"/Length %d >>\nstream\n"
            % (len(compressed_nums), len(header), len(payload))
            + payload + b"\nendstream"
        )
    xref_num = len(objs) + 1
    comp_index = {n: j for j, n in enumerate(compressed_nums)}
    offsets_by_num: dict[int, int] = {}
    for i, body in enumerate(objs, 1):
        if i in comp_index:
            continue  # lives inside the ObjStm
        offsets_by_num[i] = len(out)
        out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    xref_at = len(out)
    rows: list[tuple[int, int, int]] = [(0, 0, 65535)]
    for n in range(1, xref_num + 1):
        if n in comp_index:
            rows.append((2, objstm_num, comp_index[n]))
        elif n == xref_num:
            rows.append((1, xref_at, 0))
        else:
            rows.append((1, offsets_by_num[n], 0))
    raw = b"".join(struct.pack(">BIH", t, a, g) for t, a, g in rows)
    # PNG Up predictor (12), columns = 7 (W sums to 7) — the layout
    # every real-world generator writes, so the reader's predictor path
    # gets exercised by our own fixtures
    width = 7
    enc = bytearray()
    prev = bytes(width)
    for r in range(0, len(raw), width):
        row = raw[r : r + width]
        enc.append(2)
        enc += bytes((row[i] - prev[i]) & 0xFF for i in range(width))
        prev = row
    payload = zlib.compress(bytes(enc))
    out += (
        b"%d 0 obj\n<< /Type /XRef /Size %d /Root %d 0 R%s /W [1 4 2] "
        b"/Filter /FlateDecode /DecodeParms << /Predictor 12 /Columns 7 "
        b">> /Length %d >>\nstream\n"
        % (xref_num, xref_num + 1, catalog_id, trailer_extra,
           len(payload))
    )
    out += payload + b"\nendstream\nendobj\n"
    out += b"startxref\n%d\n%%%%EOF\n" % xref_at
    return bytes(out)


def synth_pdf(n_pages: int = 2, lines_per_page: int = 3) -> bytes:
    """Deterministic multi-page sample document."""
    return encode_pdf(
        [
            [f"Page {p} line {i} lorem ipsum" for i in range(lines_per_page)]
            for p in range(n_pages)
        ]
    )


# ---------------------------------------------------------------------------
# Reader
# ---------------------------------------------------------------------------
_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")
_WS = b"\x00\t\n\x0c\r "

# Per-stream inflate output ceiling: a crafted Flate bomb must raise
# ValueError (→ quarantine row under extract_pdf_text_df) instead of
# allocating the full expansion and surfacing as MemoryError — a failed
# Spark stage. 256 MiB decompressed is far past any real
# content/xref stream while bounded per task.
DECOMPRESS_CEILING = 256 << 20

# Exceptions a structurally corrupt payload can raise out of the lexer
# and object walkers — normalized to ValueError at every boundary.
_PARSE_ERRS = (
    ValueError, IndexError, KeyError, TypeError, AttributeError,
    OverflowError, RecursionError, UnicodeDecodeError, re.error,
)


def _inflate_capped(data: bytes, max_bytes: int) -> bytes:
    """Incremental zlib inflate with an output ceiling; ValueError past
    the cap or on a truncated stream (zlib.error propagates for the
    caller to wrap — same contract as one-shot ``zlib.decompress``)."""
    d = zlib.decompressobj()
    out: list[bytes] = []
    total = 0
    buf = data
    while True:
        chunk = d.decompress(buf, 1 << 20)
        total += len(chunk)
        if total > max_bytes:
            raise ValueError(
                f"PDF Flate expansion exceeds {max_bytes} bytes "
                "(decompression bomb?)"
            )
        out.append(chunk)
        if d.eof:
            return b"".join(out)
        if not d.unconsumed_tail:
            raise ValueError("truncated PDF Flate stream")
        buf = d.unconsumed_tail


def _asciihex_decode(data: bytes) -> bytes:
    """/ASCIIHexDecode (ISO 32000 §7.4.2): hex pairs, whitespace
    ignored, '>' is EOD, an odd trailing digit is padded with 0."""
    end = data.find(b">")
    body = data[:end] if end >= 0 else data
    hexs = re.sub(rb"\s", b"", body)
    if not re.fullmatch(rb"[0-9A-Fa-f]*", hexs):
        raise ValueError("non-hex byte in ASCIIHexDecode stream")
    if len(hexs) % 2:
        hexs += b"0"
    return bytes.fromhex(hexs.decode("ascii"))


def _ascii85_decode(data: bytes) -> bytes:
    """/ASCII85Decode (§7.4.3): 5 chars '!'..'u' → 4 bytes base-85,
    'z' shorthand for four zero bytes, '~>' EOD, partial final group
    keeps n−1 bytes."""
    end = data.find(b"~>")
    body = re.sub(rb"\s", b"", data[:end] if end >= 0 else data)
    if body.startswith(b"<~"):  # btoa-style leader some writers emit
        body = body[2:]
    out = bytearray()
    group: list[int] = []
    for c in body:
        if c == 0x7A:  # 'z'
            if group:
                raise ValueError("'z' inside an ASCII85 group")
            out += b"\x00\x00\x00\x00"
            continue
        if not 0x21 <= c <= 0x75:
            raise ValueError(f"bad ASCII85 byte {c:#x}")
        group.append(c - 0x21)
        if len(group) == 5:
            v = 0
            for g in group:
                v = v * 85 + g
            if v > 0xFFFFFFFF:
                raise ValueError("ASCII85 group overflows 32 bits")
            out += v.to_bytes(4, "big")
            group = []
    if group:
        if len(group) == 1:
            raise ValueError("single trailing ASCII85 digit")
        n = len(group)
        v = 0
        for g in group + [84] * (5 - n):
            v = v * 85 + g
        out += v.to_bytes(4, "big")[: n - 1]
    return bytes(out)


def _runlength_decode(data: bytes, max_bytes: int) -> bytes:
    """/RunLengthDecode (§7.4.5): L in 0..127 copies L+1 literals,
    L in 129..255 repeats the next byte 257−L times, 128 is EOD."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        L = data[i]
        i += 1
        if L == 128:
            return bytes(out)
        if L < 128:
            chunk = data[i : i + L + 1]
            if len(chunk) != L + 1:
                raise ValueError("truncated RunLengthDecode literal run")
            out += chunk
            i += L + 1
        else:
            if i >= n:
                raise ValueError("truncated RunLengthDecode repeat run")
            out += data[i : i + 1] * (257 - L)
            i += 1
        if len(out) > max_bytes:
            raise ValueError(
                f"RunLengthDecode expansion exceeds {max_bytes} bytes"
            )
    raise ValueError("RunLengthDecode stream missing EOD (128)")


def _lzw_decode(data: bytes, max_bytes: int, early_change: int = 1) -> bytes:
    """/LZWDecode (§7.4.4): TIFF-style LZW — 9→12-bit codes MSB-first,
    256 = clear table, 257 = EOD, code width bumps at table size
    4094/2046/1022 (… −1 when EarlyChange, the default)."""
    CLEAR, EOD = 256, 257
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    width = 9
    prev: bytes | None = None
    acc = nbits = 0
    for byte in data:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= width:
            nbits -= width
            code = (acc >> nbits) & ((1 << width) - 1)
            if code == CLEAR:
                table = table[:258]
                width = 9
                prev = None
                continue
            if code == EOD:
                return bytes(out)
            if prev is None:
                if code >= len(table):
                    raise ValueError("LZW code before any literal")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError(f"LZW code {code} past table")
            out += entry
            if len(out) > max_bytes:
                raise ValueError(
                    f"LZWDecode expansion exceeds {max_bytes} bytes"
                )
            prev = entry
            if len(table) + early_change >= (1 << width) and width < 12:
                width += 1
    raise ValueError("LZWDecode stream missing EOD (257)")


def _apply_predictor(data: bytes, pred: int, colors: int, bpc: int,
                     columns: int) -> bytes:
    """Undo a /DecodeParms predictor over inflated bytes: 1 = none,
    2 = TIFF horizontal differencing, 10–15 = the per-row-tagged PNG
    filters (RFC 2083 §6 — every real xref stream uses Up, 12). Only
    8-bit components are supported (all xref streams are); anything
    else refuses by name."""
    if pred == 1:
        return data
    if bpc != 8:
        raise ValueError(
            f"PDF predictor with BitsPerComponent={bpc} — 8-bit only"
        )
    if colors < 1 or columns < 1:
        raise ValueError("bad PDF predictor Colors/Columns")
    bpp = colors
    rowlen = bpp * columns
    if pred == 2:  # TIFF
        out = bytearray(data)
        for r in range(0, len(out) - rowlen + 1, rowlen):
            for i in range(bpp, rowlen):
                out[r + i] = (out[r + i] + out[r + i - bpp]) & 0xFF
        return bytes(out)
    if not 10 <= pred <= 15:
        raise ValueError(f"unsupported PDF predictor {pred}")
    stride = rowlen + 1
    if not data or len(data) % stride:
        raise ValueError("PDF PNG-predicted data length mismatch")
    out = bytearray()
    prev = bytearray(rowlen)
    for r in range(0, len(data), stride):
        ft = data[r]
        row = bytearray(data[r + 1 : r + stride])
        if ft == 0:
            pass
        elif ft == 1:  # Sub
            for i in range(bpp, rowlen):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif ft == 2:  # Up
            for i in range(rowlen):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(rowlen):
                left = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(rowlen):
                a = row[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (
                    b if pb <= pc else c
                )
                row[i] = (row[i] + pr) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {ft} in PDF predictor")
        out += row
        prev = row
    return bytes(out)


class _Lexer:
    """Minimal PDF object lexer over a bytes window. ``decrypt`` is
    applied to STRING productions only (literal and hex) — exactly the
    tokens the standard security handler encrypts; names/numbers/
    keywords share the bytes type with strings in this representation,
    so decrypting at the two string-production sites (rather than
    walking parsed values afterwards) is what keeps ciphertext that
    happens to start with '/' from being mistaken for a name."""

    def __init__(self, data: bytes, pos: int = 0, decrypt=None) -> None:
        self.d = data
        self.pos = pos
        self.decrypt = decrypt

    def _skip_ws(self) -> None:
        d, n = self.d, len(self.d)
        while self.pos < n:
            c = self.d[self.pos]
            if c in _WS:
                self.pos += 1
            elif c == 0x25:  # % comment
                while self.pos < n and d[self.pos] not in (0x0A, 0x0D):
                    self.pos += 1
            else:
                return

    def parse(self):
        """One object: dict, array, name, number, string, ref, keyword."""
        self._skip_ws()
        d = self.d
        if self.pos >= len(d):
            raise ValueError("PDF object expected at end of data")
        c = d[self.pos]
        if d[self.pos : self.pos + 2] == b"<<":
            self.pos += 2
            out = {}
            while True:
                self._skip_ws()
                if d[self.pos : self.pos + 2] == b">>":
                    self.pos += 2
                    return out
                key = self.parse()
                if not isinstance(key, bytes) or not key.startswith(b"/"):
                    raise ValueError("PDF dict key must be a name")
                out[key] = self.parse()
        if c == 0x5B:  # [
            self.pos += 1
            arr = []
            while True:
                self._skip_ws()
                if d[self.pos] == 0x5D:
                    self.pos += 1
                    return arr
                arr.append(self.parse())
        if c == 0x2F:  # /name
            start = self.pos
            self.pos += 1
            while self.pos < len(d) and d[self.pos] not in _WS and d[
                self.pos
            ] not in b"/[]<>()%":
                self.pos += 1
            return d[start : self.pos]
        if c == 0x28:  # (string)
            return self._string()
        if d[self.pos : self.pos + 1] == b"<":  # <hex>
            end = d.index(b">", self.pos)
            hexs = re.sub(rb"\s", b"", d[self.pos + 1 : end])
            if len(hexs) % 2:
                hexs += b"0"
            self.pos = end + 1
            s = bytes.fromhex(hexs.decode("ascii"))
            return self.decrypt(s) if self.decrypt else s
        # number / reference / keyword
        m = re.match(rb"[-+]?\d*\.?\d+", d[self.pos :])
        if m:
            tok = m.group(0)
            save = self.pos
            self.pos += len(tok)
            # N G R indirect reference?
            m2 = re.match(rb"\s+(\d+)\s+R\b", d[self.pos :])
            if m2 and b"." not in tok:
                self.pos += m2.end()
                return ("ref", int(tok), int(m2.group(1)))
            try:
                return float(tok) if b"." in tok else int(tok)
            except ValueError:
                self.pos = save
        m = re.match(rb"[A-Za-z]+", d[self.pos :])
        if m:
            self.pos += m.end()
            return ("kw", m.group(0))
        if c in (0x27, 0x22):  # ' and " — the text-showing quote ops
            self.pos += 1
            return ("kw", bytes([c]))
        raise ValueError(
            f"unparseable PDF object at byte {self.pos} "
            f"({d[self.pos:self.pos + 8]!r})"
        )

    def _string(self) -> bytes:
        d = self.d
        self.pos += 1
        out = bytearray()
        depth = 1
        while True:
            if self.pos >= len(d):
                raise ValueError("PDF string runs past end of data")
            c = d[self.pos]
            if c == 0x5C:  # backslash
                self.pos += 1
                e = d[self.pos]
                esc = {0x6E: 0x0A, 0x72: 0x0D, 0x74: 0x09, 0x62: 0x08,
                       0x66: 0x0C, 0x28: 0x28, 0x29: 0x29, 0x5C: 0x5C}
                if e in esc:
                    out.append(esc[e])
                    self.pos += 1
                elif 0x30 <= e <= 0x37:  # octal, up to 3 digits
                    oct_s = bytearray()
                    while len(oct_s) < 3 and 0x30 <= d[self.pos] <= 0x37:
                        oct_s.append(d[self.pos])
                        self.pos += 1
                    out.append(int(oct_s, 8) & 0xFF)
                elif e in (0x0A, 0x0D):  # line continuation
                    self.pos += 1
                    if e == 0x0D and d[self.pos] == 0x0A:
                        self.pos += 1
                else:
                    out.append(e)
                    self.pos += 1
            elif c == 0x28:
                depth += 1
                out.append(c)
                self.pos += 1
            elif c == 0x29:
                depth -= 1
                self.pos += 1
                if depth == 0:
                    return (
                        self.decrypt(bytes(out)) if self.decrypt
                        else bytes(out)
                    )
                out.append(c)
            else:
                out.append(c)
                self.pos += 1


class _Pdf:
    """Object-graph reader. Offsets resolve startxref-first: the
    cross-reference chain (classic tables AND xref streams, /Prev and
    hybrid /XRefStm links, type-2 entries into object streams) is the
    authoritative map, each claimed offset validated against the 'N G
    obj' header actually present there; only when the chain is absent
    or inconsistent does the reader fall back to a full-payload scan
    (a bare last-match-wins scan let 'N G obj' byte
    sequences inside stream bodies shadow real objects)."""

    def __init__(
        self,
        payload: bytes,
        init_crypt: bool = True,
        password: bytes | str = b"",
    ) -> None:
        """``init_crypt=False`` skips password verification and key
        derivation — the structural walk (xref chain, page tree,
        object counts) stays fully usable because the handler
        encrypts only STRINGS and stream bytes, never names/numbers/
        dict structure. That is what keeps probe-triage of an AES-256
        document header-cheap: the R6 key stretch (~100 ms/hash by
        design) only runs when text is actually wanted.

        ``password`` opens password-protected documents (round 9):
        tried as the USER password then the OWNER password (Algorithms
        6/7 for R2-R4, 2.A for R5/R6), falling back to the empty user
        password — the same ladder a viewer walks. A ``str`` password
        is UTF-8-encoded (exact for V5; for R≤4 the bytes are tried as
        given, which matches for the ASCII passwords real documents
        use)."""
        if payload[:5] != b"%PDF-":
            raise ValueError(f"not a PDF payload: {payload[:8]!r}")
        self.d = payload
        self.objs: dict[int, int] = {}  # obj number → byte offset
        self.compressed: dict[int, tuple[int, int]] = {}  # → (objstm, idx)
        self._objstm_cache: dict[int, tuple[list, bytes, int]] = {}
        self.trailer: dict | None = None
        self._crypt: tuple[str, bytes] | None = None  # (mode, file key)
        self._encrypt_num: int | None = None
        if isinstance(password, str):
            password = password.encode("utf-8")
        self._password = password
        scanned = not self._load_xref_chain()
        if scanned:
            self._scan_objects()
        if not self.objs and not self.compressed:
            raise ValueError("PDF contains no objects")
        if self.trailer is None:
            raise ValueError("PDF missing trailer")
        if b"/Encrypt" in self.trailer and init_crypt:
            self._init_crypt(self.trailer[b"/Encrypt"])
            if scanned and self._crypt is not None:
                # the scan's ObjStm surfacing ran before the file key
                # existed, so it inflated still-encrypted bytes and
                # surfaced nothing — re-run it now that stream bytes
                # decrypt; drop any garbage table a
                # coincidental inflate might have cached
                self._objstm_cache.clear()
                self._surface_scanned_objstms()

    # -- standard security handler -------------------------------------
    def _init_crypt(self, enc_ref) -> None:
        """Set up decryption from the /Encrypt dictionary (ISO 32000
        standard security handler): RC4 V1/V2 (R2/R3), crypt-filter V4
        with /AESV2 or /V2-RC4 (R4), and AES-256 V5 (R5/R6). Opens
        with the supplied password (user-then-owner ladder) or the
        empty user password — the overwhelmingly common
        owner-password-only protection; anything else refuses as
        password-protected (we cannot and should not guess)."""
        from vectra_py_spark.operators import pdf_crypto as pc

        if isinstance(enc_ref, tuple) and enc_ref[0] == "ref":
            self._encrypt_num = enc_ref[1]
        ed = self.deref(enc_ref)
        if not isinstance(ed, dict):
            raise ValueError("PDF /Encrypt is not a dictionary")
        filt = self.deref(ed.get(b"/Filter"))
        if filt != b"/Standard":
            raise ValueError(
                f"PDF uses a non-Standard security handler {filt!r} — "
                "unsupported"
            )
        v = self.deref(ed.get(b"/V", 0))
        r = self.deref(ed.get(b"/R"))
        o = self.deref(ed.get(b"/O"))
        u = self.deref(ed.get(b"/U"))
        p = self.deref(ed.get(b"/P"))
        length = self.deref(ed.get(b"/Length", 40))
        if not (isinstance(o, bytes) and isinstance(u, bytes)
                and isinstance(p, int) and isinstance(r, int)
                and isinstance(v, int) and isinstance(length, int)):
            raise ValueError("PDF /Encrypt entries have wrong types")
        ids = self.deref(self.trailer.get(b"/ID"))
        id0 = self.deref(ids[0]) if (
            isinstance(ids, list) and ids
        ) else b""
        if not isinstance(id0, bytes):
            raise ValueError("PDF /ID is not a string pair")
        em = self.deref(ed.get(b"/EncryptMetadata", True))
        em = bool(em) if isinstance(em, (bool, int)) else True
        # password ladder (round 9): the supplied password as USER
        # then OWNER, falling back to the empty user password — what a
        # viewer's open dialog effectively does
        pws = [self._password] if self._password else []
        if b"" not in pws:
            pws.append(b"")
        key = None
        if v in (1, 2) and r in (2, 3):
            eff_len = length if v == 2 else 40
            for pw in pws:
                key = pc.verify_user_password(
                    pw, o, u, p, id0, r, eff_len
                ) or (pw and pc.verify_owner_password(
                    pw, o, u, p, id0, r, eff_len
                )) or None
                if key:
                    break
            mode = "rc4"
        elif v == 4 and r == 4:
            mode = self._crypt_filter_mode(ed)
            for pw in pws:
                key = pc.verify_user_password(
                    pw, o, u, p, id0, r, length, em
                ) or (pw and pc.verify_owner_password(
                    pw, o, u, p, id0, r, length, em
                )) or None
                if key:
                    break
        elif v == 5 and r in (5, 6):
            oe = self.deref(ed.get(b"/OE"))
            ue = self.deref(ed.get(b"/UE"))
            if not (isinstance(oe, bytes) and isinstance(ue, bytes)):
                raise ValueError("PDF V5 /OE and /UE records missing")
            for pw in pws:  # 2.A tries user then owner itself
                key = pc.verify_v5_password(pw, o, u, oe, ue, r)
                if key:
                    break
            mode = "aesv3"
        else:
            raise ValueError(
                f"unsupported PDF encryption /V {v} /R {r}"
            )
        if key is None:
            raise ValueError(
                "password-protected PDF — wrong password supplied"
                if self._password else
                "password-protected PDF — cannot decrypt without the "
                "user password"
            )
        self._crypt = (mode, key)

    def _crypt_filter_mode(self, ed: dict) -> str:
        """V4 crypt filters: both /StmF and /StrF must name the same
        /StdCF whose /CFM is /AESV2 or /V2 (RC4) — the only layouts
        real writers emit; split or /Identity layouts refuse."""
        stmf = self.deref(ed.get(b"/StmF", b"/Identity"))
        strf = self.deref(ed.get(b"/StrF", b"/Identity"))
        if stmf != b"/StdCF" or strf != b"/StdCF":
            raise ValueError(
                f"unsupported PDF crypt-filter layout /StmF {stmf!r} "
                f"/StrF {strf!r} — only /StdCF for both is supported"
            )
        cf = self.deref(ed.get(b"/CF"))
        stdcf = self.deref(cf.get(b"/StdCF")) if isinstance(
            cf, dict
        ) else None
        cfm = self.deref(stdcf.get(b"/CFM")) if isinstance(
            stdcf, dict
        ) else None
        if cfm == b"/AESV2":
            return "aesv2"
        if cfm == b"/V2":
            return "rc4"
        raise ValueError(
            f"unsupported PDF crypt-filter method {cfm!r} — only "
            "/AESV2 and /V2 are supported"
        )

    def _decryptor(self, num: int, gen: int):
        """String/stream decrypt callable for object ``num`` — None
        when the document is plaintext or for the /Encrypt dictionary
        itself (its strings are never encrypted, spec §7.6.2)."""
        if self._crypt is None or num == self._encrypt_num:
            return None
        from vectra_py_spark.operators import pdf_crypto as pc

        mode, key = self._crypt
        if mode == "rc4":
            okey = pc.object_key(key, num, gen, aes=False)
            return lambda s: pc.rc4(okey, s)
        if mode == "aesv2":
            okey = pc.object_key(key, num, gen, aes=True)
        else:  # aesv3: the file key is used directly (spec §7.6.4.2)
            okey = key
        return lambda s: pc.aes_cbc_decrypt(okey, s)

    # -- cross-reference chain ---------------------------------------
    def _load_xref_chain(self) -> bool:
        d = self.d
        sx = d.rfind(b"startxref")
        if sx < 0:
            return False
        m = re.match(rb"\s*(\d+)", d[sx + 9 :])
        if not m:
            return False
        objs: dict[int, int] = {}
        compressed: dict[int, tuple[int, int]] = {}
        claimed: set[int] = set()  # incl. free slots — newest wins
        trailers: list[dict] = []
        try:
            ok = self._load_xref_at(
                int(m.group(1)), objs, compressed, claimed, trailers, set()
            )
        except _PARSE_ERRS:
            return False
        if not ok or not trailers or not (objs or compressed):
            return False
        # validate every claimed offset: the declared object must
        # actually sit there (whitespace-tolerant), else the chain lies
        for num in list(objs):
            lex = _Lexer(d, objs[num])
            lex._skip_ws()
            m2 = _OBJ_RE.match(d, lex.pos)
            if not m2 or int(m2.group(1)) != num:
                return False
            objs[num] = lex.pos  # normalized past any leading ws
        self.objs, self.compressed = objs, compressed
        self.trailer = trailers[0]
        return True

    def _load_xref_at(self, off, objs, compressed, claimed, trailers,
                      seen, depth=0) -> bool:
        d = self.d
        if off in seen or not 0 <= off < len(d) or depth > 64:
            return False
        seen.add(off)
        lex = _Lexer(d, off)
        lex._skip_ws()
        local: list[tuple[int, int, bool]] = []
        if d[lex.pos : lex.pos + 4] == b"xref":
            tdict = self._read_xref_table(lex.pos + 4, local)
        else:
            tdict = self._read_xref_stream(
                lex.pos, objs, compressed, claimed
            )
        if tdict is None:
            return False
        trailers.append(tdict)
        # hybrid-reference files: the xref STREAM named by /XRefStm
        # takes precedence over the classic table's own entries (spec
        # §7.5.8.4) — visit it before merging them, then follow /Prev
        x = tdict.get(b"/XRefStm")
        if isinstance(x, int):
            if not self._load_xref_at(
                x, objs, compressed, claimed, trailers, seen, depth + 1
            ):
                return False
        for num, eoff, in_use in local:
            if num in claimed or num == 0:
                continue
            claimed.add(num)  # free slots claim too — deletions shadow
            if in_use:
                objs[num] = eoff
        prev = tdict.get(b"/Prev")
        if isinstance(prev, int):
            if not self._load_xref_at(
                prev, objs, compressed, claimed, trailers, seen, depth + 1
            ):
                return False
        return True

    def _read_xref_table(self, pos, local):
        """Classic table: subsection headers 'start count' then 20-byte
        entries (collected into ``local``), then the trailer dict."""
        d = self.d
        while True:
            m = re.match(rb"\s*(\d+)\s+(\d+)\s*", d[pos:])
            if not m:
                break
            start, count = int(m.group(1)), int(m.group(2))
            if count > 1 << 22:
                return None
            pos += m.end()
            for i in range(count):
                e = d[pos : pos + 20]
                me = re.match(rb"(\d{10})\s+(\d{5})\s+([nf])", e)
                if not me:
                    return None
                local.append(
                    (start + i, int(me.group(1)), me.group(3) == b"n")
                )
                pos += 20
        m = re.match(rb"\s*trailer", d[pos:])
        if not m:
            return None
        tdict = _Lexer(d, pos + m.end()).parse()
        if not isinstance(tdict, dict):
            return None
        return tdict

    def _read_xref_stream(self, pos, objs, compressed, claimed):
        """PDF 1.5 cross-reference stream: /Type/XRef, packed rows of
        /W-sized fields (type, field2, field3), FlateDecode + optional
        predictor. All dict values are direct per spec §7.5.8.2."""
        d = self.d
        m = _OBJ_RE.match(d, pos)
        if not m:
            return None
        lex = _Lexer(d, m.end())
        sd = lex.parse()
        if not isinstance(sd, dict) or sd.get(b"/Type") != b"/XRef":
            return None
        raw = self._raw_stream_after(lex, sd)
        if raw is None:
            return None
        data = self.stream_data(("stream", sd, raw))
        w = sd.get(b"/W")
        size = sd.get(b"/Size")
        if not (
            isinstance(w, list) and len(w) == 3
            and all(isinstance(x, int) and 0 <= x <= 8 for x in w)
            and isinstance(size, int) and size > 0
        ):
            return None
        index = sd.get(b"/Index", [0, size])
        if not (
            isinstance(index, list) and len(index) % 2 == 0
            and all(isinstance(x, int) and x >= 0 for x in index)
        ):
            return None
        rowlen = sum(w)
        if rowlen == 0:
            return None
        k = 0
        for s in range(0, len(index), 2):
            start, count = index[s], index[s + 1]
            if count > 1 << 22:
                return None
            for i in range(count):
                row = data[k : k + rowlen]
                if len(row) < rowlen:
                    return None
                k += rowlen
                p = 0
                f1 = int.from_bytes(row[: w[0]], "big") if w[0] else 1
                p += w[0]
                f2 = int.from_bytes(row[p : p + w[1]], "big")
                p += w[1]
                f3 = int.from_bytes(row[p : p + w[2]], "big")
                num = start + i
                if num in claimed or num == 0:
                    continue
                claimed.add(num)
                if f1 == 1:
                    objs[num] = f2
                elif f1 == 2:
                    compressed[num] = (f2, f3)
                # f1 == 0 (free) and unknown types: slot stays claimed
        return sd

    def _raw_stream_after(self, lex: _Lexer, sd: dict):
        """stream…endstream bytes following a just-parsed dict, or None.
        /Length must be direct here (used before the xref map exists)."""
        lex._skip_ws()
        if self.d[lex.pos : lex.pos + 6] != b"stream":
            return None
        p = lex.pos + 6
        if self.d[p : p + 2] == b"\r\n":
            p += 2
        elif self.d[p : p + 1] in (b"\n", b"\r"):
            p += 1
        length = sd.get(b"/Length")
        if not isinstance(length, int) or length < 0:
            return None
        raw = self.d[p : p + length]
        return raw if len(raw) == length else None

    # -- fallback: full-payload scan ----------------------------------
    def _scan_objects(self) -> None:
        payload = self.d
        for m in _OBJ_RE.finditer(payload):
            # keep the LAST definition (incremental updates append)
            self.objs[int(m.group(1))] = m.start()
        if not self.objs:
            raise ValueError("PDF contains no objects")
        t = payload.rfind(b"trailer")
        if t >= 0:
            lex = _Lexer(payload, t + len(b"trailer"))
            self.trailer = lex.parse()
            if not isinstance(self.trailer, dict):
                raise ValueError("PDF trailer is not a dictionary")
        else:
            # PDF 1.5+: the trailer dict lives in the xref stream —
            # the last /Type/XRef object wins (incremental updates)
            for num in sorted(self.objs, key=self.objs.get):
                try:
                    od = self.obj(num)
                except _PARSE_ERRS:
                    continue
                if (
                    isinstance(od, tuple) and od[0] == "stream"
                    and od[1].get(b"/Type") == b"/XRef"
                ):
                    self.trailer = od[1]
            if self.trailer is None:
                raise ValueError("PDF missing trailer")
        # surface objects packed in object streams the scan can see
        self._surface_scanned_objstms()

    def _surface_scanned_objstms(self) -> None:
        """Register type-2 entries for every ObjStm the scan found.
        On an encrypted document this must run (again) AFTER
        _init_crypt — stream bytes only decrypt once the file key
        exists."""
        for num in list(self.objs):
            try:
                od = self.obj(num)
                if not (
                    isinstance(od, tuple) and od[0] == "stream"
                    and self.deref(od[1].get(b"/Type")) == b"/ObjStm"
                ):
                    continue
                pairs, _data, _first = self._objstm_table(num)
            except _PARSE_ERRS:
                continue
            for idx, (onum, _ooff) in enumerate(pairs):
                if onum not in self.objs and onum not in self.compressed:
                    self.compressed[onum] = (num, idx)

    # -- object access -------------------------------------------------
    def obj(self, num: int):
        off = self.objs.get(num)
        if off is None:
            loc = self.compressed.get(num)
            if loc is None:
                raise ValueError(f"PDF object {num} not found")
            return self._objstm_obj(loc[0], loc[1], num)
        m = _OBJ_RE.match(self.d, off)
        if m is None:
            raise ValueError(f"PDF object {num}: no header at offset {off}")
        dec = self._decryptor(num, int(m.group(2)))
        lex = _Lexer(self.d, m.end(), decrypt=dec)
        val = lex.parse()
        if isinstance(val, dict):
            lex._skip_ws()
            if self.d[lex.pos : lex.pos + 6] == b"stream":
                p = lex.pos + 6
                if self.d[p : p + 2] == b"\r\n":
                    p += 2
                elif self.d[p : p + 1] in (b"\n", b"\r"):
                    p += 1
                length = self.deref(val.get(b"/Length"))
                if not isinstance(length, int) or length < 0:
                    raise ValueError("PDF stream with bad /Length")
                raw = self.d[p : p + length]
                if len(raw) != length:
                    raise ValueError("PDF stream truncated")
                if dec is not None and val.get(b"/Type") != b"/XRef":
                    # stream bytes decrypt with the object's key;
                    # cross-reference streams are never encrypted
                    # (spec §7.5.8.2)
                    raw = dec(raw)
                return ("stream", val, raw)
        return val

    def _objstm_table(self, stm_num: int):
        cached = self._objstm_cache.get(stm_num)
        if cached is not None:
            return cached
        if stm_num in self.compressed:
            raise ValueError("PDF ObjStm nested inside an ObjStm")
        v = self.obj(stm_num)
        if not (isinstance(v, tuple) and v[0] == "stream"):
            raise ValueError(f"PDF object {stm_num} is not an ObjStm")
        sd = v[1]
        if self.deref(sd.get(b"/Type")) != b"/ObjStm":
            raise ValueError(f"PDF object {stm_num} is not an ObjStm")
        data = self.stream_data(v)
        n = self.deref(sd.get(b"/N"))
        first = self.deref(sd.get(b"/First"))
        if not (isinstance(n, int) and isinstance(first, int)
                and 0 <= n <= 1 << 20 and 0 <= first <= len(data)):
            raise ValueError("PDF ObjStm with bad /N or /First")
        lex = _Lexer(data)
        pairs: list[tuple[int, int]] = []
        for _ in range(n):
            a, b = lex.parse(), lex.parse()
            if not (isinstance(a, int) and isinstance(b, int) and b >= 0):
                raise ValueError("PDF ObjStm header pair is not integers")
            pairs.append((a, b))
        out = (pairs, data, first)
        self._objstm_cache[stm_num] = out
        return out

    def _objstm_obj(self, stm_num: int, idx: int, want: int):
        pairs, data, first = self._objstm_table(stm_num)
        if not 0 <= idx < len(pairs) or pairs[idx][0] != want:
            # tolerate a lying index as long as the object IS there
            for onum, ooff in pairs:
                if onum == want:
                    return _Lexer(data, first + ooff).parse()
            raise ValueError(
                f"PDF object {want} not present in ObjStm {stm_num}"
            )
        return _Lexer(data, first + pairs[idx][1]).parse()

    def deref(self, v):
        seen = 0
        while isinstance(v, tuple) and len(v) == 3 and v[0] == "ref":
            v = self.obj(v[1])
            seen += 1
            if seen > 32:
                raise ValueError("PDF reference cycle")
        return v

    def stream_data(self, v) -> bytes:
        v = self.deref(v)
        if not (isinstance(v, tuple) and len(v) == 3 and v[0] == "stream"):
            raise ValueError("PDF stream object expected")
        _tag, sd, raw = v
        filt = self.deref(sd.get(b"/Filter"))
        if filt is None:
            return raw
        filters = filt if isinstance(filt, list) else [filt]
        parms = self.deref(sd.get(b"/DecodeParms", sd.get(b"/DP")))
        parms_list = parms if isinstance(parms, list) else [parms] * len(
            filters
        )
        data = raw
        for i, f in enumerate(filters):
            f = self.deref(f)
            p = self.deref(parms_list[i]) if i < len(parms_list) else None
            p = p if isinstance(p, dict) else {}
            if f in (b"/FlateDecode", b"/Fl"):
                try:
                    data = _inflate_capped(data, DECOMPRESS_CEILING)
                except zlib.error as exc:
                    raise ValueError(
                        f"corrupt PDF Flate stream: {exc}"
                    ) from exc
            elif f in (b"/LZWDecode", b"/LZW"):
                early = self.deref(p.get(b"/EarlyChange", 1))
                if early not in (0, 1):
                    raise ValueError("PDF LZW EarlyChange must be 0 or 1")
                data = _lzw_decode(data, DECOMPRESS_CEILING, early)
            elif f in (b"/ASCIIHexDecode", b"/AHx"):
                data = _asciihex_decode(data)
            elif f in (b"/ASCII85Decode", b"/A85"):
                data = _ascii85_decode(data)
            elif f in (b"/RunLengthDecode", b"/RL"):
                data = _runlength_decode(data, DECOMPRESS_CEILING)
            else:
                raise ValueError(
                    f"unsupported PDF stream filter {f!r} — Flate/LZW/"
                    "ASCIIHex/ASCII85/RunLength or none"
                )
            if f in (b"/FlateDecode", b"/Fl", b"/LZWDecode", b"/LZW") and p:
                pred = self.deref(p.get(b"/Predictor", 1))
                colors = self.deref(p.get(b"/Colors", 1))
                bpc = self.deref(p.get(b"/BitsPerComponent", 8))
                columns = self.deref(p.get(b"/Columns", 1))
                if not all(
                    isinstance(x, int)
                    for x in (pred, colors, bpc, columns)
                ):
                    raise ValueError("PDF DecodeParms must be integers")
                data = _apply_predictor(data, pred, colors, bpc, columns)
        return data

    def pages(self) -> list[dict]:
        root = self.deref(self.trailer.get(b"/Root"))
        if not isinstance(root, dict):
            raise ValueError("PDF trailer /Root missing or not a dict")
        out: list[dict] = []

        def walk(node, depth=0):
            node = self.deref(node)
            if not isinstance(node, dict):
                raise ValueError("PDF page-tree node is not a dict")
            if depth > 64:
                raise ValueError("PDF page tree too deep")
            t = node.get(b"/Type")
            if t == b"/Pages" or (t is None and b"/Kids" in node):
                for kid in self.deref(node.get(b"/Kids")) or []:
                    walk(kid, depth + 1)
            elif t == b"/Page":
                out.append(node)
            else:
                raise ValueError(f"unexpected PDF page-tree type {t!r}")

        walk(root.get(b"/Pages"))
        if not out:
            raise ValueError("PDF has no pages")
        return out


# ---------------------------------------------------------------------------
# Simple-font character decoding: /Encoding (base codecs + /Differences
# glyph names) and /ToUnicode CMaps. Without this, a WinAnsi or
# Differences-encoded font would extract silently wrong characters —
# the one failure mode this module promises not to have.
# ---------------------------------------------------------------------------
def _build_agl() -> dict[str, str]:
    """Compact Adobe-Glyph-List subset: ASCII names, the common
    publishing glyphs, and the accented-Latin family generated from
    Unicode names (AGL composes them as letter+accent, e.g.
    'adieresis')."""
    import unicodedata

    agl = {
        "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
        "dollar": "$", "percent": "%", "ampersand": "&",
        "quotesingle": "'", "parenleft": "(", "parenright": ")",
        "asterisk": "*", "plus": "+", "comma": ",", "hyphen": "-",
        "period": ".", "slash": "/", "colon": ":", "semicolon": ";",
        "less": "<", "equal": "=", "greater": ">", "question": "?",
        "at": "@", "bracketleft": "[", "backslash": "\\",
        "bracketright": "]", "asciicircum": "^", "underscore": "_",
        "grave": "`", "braceleft": "{", "bar": "|", "braceright": "}",
        "asciitilde": "~",
        "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
        "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
        "quoteleft": "‘", "quoteright": "’",
        "quotedblleft": "“", "quotedblright": "”",
        "quotesinglbase": "‚", "quotedblbase": "„",
        "endash": "–", "emdash": "—", "bullet": "•",
        "ellipsis": "…", "dagger": "†", "daggerdbl": "‡",
        "fi": "ﬁ", "fl": "ﬂ", "florin": "ƒ",
        "fraction": "⁄", "guilsinglleft": "‹",
        "guilsinglright": "›", "guillemotleft": "«",
        "guillemotright": "»", "perthousand": "‰",
        "trademark": "™", "copyright": "©",
        "registered": "®", "degree": "°",
        "plusminus": "±", "multiply": "×", "divide": "÷",
        "Euro": "€", "cent": "¢", "sterling": "£",
        "yen": "¥", "currency": "¤", "section": "§",
        "paragraph": "¶", "exclamdown": "¡",
        "questiondown": "¿", "germandbls": "ß",
        "ae": "æ", "AE": "Æ", "oe": "œ", "OE": "Œ",
        "oslash": "ø", "Oslash": "Ø", "thorn": "þ",
        "Thorn": "Þ", "eth": "ð", "Eth": "Ð",
        "mu": "µ", "periodcentered": "·",
        "dotlessi": "ı", "lslash": "ł", "Lslash": "Ł",
        "brokenbar": "¦", "logicalnot": "¬",
        "ordfeminine": "ª", "ordmasculine": "º",
        "onequarter": "¼", "onehalf": "½",
        "threequarters": "¾", "onesuperior": "¹",
        "twosuperior": "²", "threesuperior": "³",
        "minus": "−", "nbspace": " ", "macron": "¯",
        "acute": "´", "cedilla": "¸", "dieresis": "¨",
        "circumflex": "ˆ", "tilde": "˜", "caron": "ˇ",
        "breve": "˘", "dotaccent": "˙", "ring": "˚",
        "ogonek": "˛", "hungarumlaut": "˝",
    }
    for ch in "abcdefghijklmnopqrstuvwxyz":
        agl[ch] = ch
        agl[ch.upper()] = ch.upper()
        for gname, uname in (
            ("grave", "GRAVE"), ("acute", "ACUTE"),
            ("circumflex", "CIRCUMFLEX"), ("tilde", "TILDE"),
            ("dieresis", "DIAERESIS"), ("ring", "RING ABOVE"),
            ("cedilla", "CEDILLA"), ("macron", "MACRON"),
            ("breve", "BREVE"), ("ogonek", "OGONEK"),
            ("caron", "CARON"), ("hungarumlaut", "DOUBLE ACUTE"),
            ("slash", "STROKE"), ("dotaccent", "DOT ABOVE"),
        ):
            for case, cs in ((ch, "SMALL"), (ch.upper(), "CAPITAL")):
                try:
                    agl[f"{case}{gname}"] = unicodedata.lookup(
                        f"LATIN {cs} LETTER {ch.upper()} WITH {uname}"
                    )
                except KeyError:
                    pass
    return agl


_AGL = _build_agl()
_UNI_RE = re.compile(r"uni([0-9A-Fa-f]{4})$")
_U_RE = re.compile(r"u([0-9A-Fa-f]{4,6})$")


def _glyph_to_char(name: bytes) -> str:
    n = name[1:].decode("latin-1")
    hit = _AGL.get(n)
    if hit is not None:
        return hit
    m = _UNI_RE.fullmatch(n) or _U_RE.fullmatch(n)
    if m:
        cp = int(m.group(1), 16)
        if cp <= 0x10FFFF and not 0xD800 <= cp <= 0xDFFF:
            return chr(cp)
    return "�"  # visible unknown beats silently wrong


def _encoding_table(pdf: "_Pdf", fd: dict) -> list[str]:
    """256-entry byte→char table from /Encoding: WinAnsi is cp1252 and
    MacRoman is mac_roman (both stdlib codecs), default latin-1;
    /Differences overrides per code with AGL / uniXXXX glyph names."""
    enc = pdf.deref(fd.get(b"/Encoding"))
    base = enc if isinstance(enc, bytes) else (
        pdf.deref(enc.get(b"/BaseEncoding")) if isinstance(enc, dict)
        else None
    )
    codec = {
        b"/WinAnsiEncoding": "cp1252",
        b"/MacRomanEncoding": "mac_roman",
    }.get(base, "latin-1")
    table = []
    for b in range(256):
        try:
            table.append(bytes([b]).decode(codec))
        except UnicodeDecodeError:  # cp1252 undefined slots
            table.append("�")
    if isinstance(enc, dict):
        diffs = pdf.deref(enc.get(b"/Differences"))
        if isinstance(diffs, list):
            code = -1
            for el in diffs:
                el = pdf.deref(el)
                if isinstance(el, int):
                    code = el
                elif isinstance(el, bytes) and el.startswith(b"/"):
                    if 0 <= code <= 255:
                        table[code] = _glyph_to_char(el)
                    code += 1
    return table


def _parse_tounicode(data: bytes) -> dict[bytes, str]:
    """/ToUnicode CMap → code-bytes→str map, UTF-16BE targets. The
    source hex string's BYTE LENGTH is the code width (spec §9.10.3):
    1 byte for simple fonts, 2 for Type0/Identity CIDs — widths 1–4
    accepted. bfchar pairs and bfrange spans (both the base-increment
    and the array form)."""
    out: dict[bytes, str] = {}

    def utf16(b: bytes) -> str:
        return b.decode("utf-16-be", "replace")

    for sect in re.finditer(rb"beginbfchar(.*?)endbfchar", data, re.S):
        lex = _Lexer(sect.group(1))
        try:
            while True:
                lex._skip_ws()
                if lex.pos >= len(lex.d):
                    break
                src, dst = lex.parse(), lex.parse()
                if (isinstance(src, bytes) and isinstance(dst, bytes)
                        and 1 <= len(src) <= 4):
                    out[src] = utf16(dst)
        except _PARSE_ERRS:
            continue
    for sect in re.finditer(rb"beginbfrange(.*?)endbfrange", data, re.S):
        lex = _Lexer(sect.group(1))
        try:
            while True:
                lex._skip_ws()
                if lex.pos >= len(lex.d):
                    break
                lo, hi, dst = lex.parse(), lex.parse(), lex.parse()
                if not (isinstance(lo, bytes) and isinstance(hi, bytes)
                        and len(lo) == len(hi) and 1 <= len(lo) <= 4):
                    continue
                lo_i = int.from_bytes(lo, "big")
                hi_i = int.from_bytes(hi, "big")
                # cap span size: a crafted <00000000> <FFFFFFFF> range
                # must not allocate 4G entries
                if not lo_i <= hi_i <= lo_i + (1 << 16):
                    continue
                if isinstance(dst, list):
                    for i, d in enumerate(dst):
                        if isinstance(d, bytes) and lo_i + i <= hi_i:
                            out[(lo_i + i).to_bytes(len(lo), "big")] = (
                                utf16(d)
                            )
                elif isinstance(dst, bytes) and dst:
                    start = int.from_bytes(dst, "big")
                    for c in range(lo_i, hi_i + 1):
                        out[c.to_bytes(len(lo), "big")] = utf16(
                            (start + c - lo_i).to_bytes(len(dst), "big")
                        )
        except _PARSE_ERRS:
            continue
    return out


def _font_decoder(pdf: "_Pdf", fd: dict):
    """Font dict → bytes→str decoder. /ToUnicode (the authoritative
    map modern generators write) wins per code; /Encoding fills the
    gaps; latin-1 is the base default."""
    table = _encoding_table(pdf, fd)
    cmap: dict[bytes, str] = {}
    tu = fd.get(b"/ToUnicode")
    if tu is not None:
        try:
            cmap = _parse_tounicode(pdf.stream_data(pdf.deref(tu)))
        except (ValueError, *_PARSE_ERRS):
            cmap = {}
    if cmap:
        return lambda bs: "".join(
            cmap.get(bs[i : i + 1], table[bs[i]]) for i in range(len(bs))
        )
    return lambda bs: "".join(table[b] for b in bs)


def _type0_font_program_cmap(pdf: "_Pdf", fd: dict) -> dict[bytes, str]:
    """Recover a 2-byte-CID → str map from the EMBEDDED FONT PROGRAM
    when the generator omitted /ToUnicode: CID → glyph index via
    /CIDToGIDMap (/Identity or the 2-byte-BE stream form), glyph →
    Unicode by inverting the font's own sfnt ``cmap`` table
    (operators/truetype.py) — exactly what a conforming viewer's
    copy-paste falls back to. Only TrueType programs (/FontFile2)
    carry an sfnt cmap; CFF (/FontFile3) refuses by name."""
    from vectra_py_spark.operators import truetype as tt

    dfs = pdf.deref(fd.get(b"/DescendantFonts"))
    if not (isinstance(dfs, list) and dfs):
        raise ValueError("PDF Type0 font without /DescendantFonts")
    desc = pdf.deref(dfs[0])
    if not isinstance(desc, dict):
        raise ValueError("PDF Type0 descendant font is not a dictionary")
    fdesc = pdf.deref(desc.get(b"/FontDescriptor"))
    ff2 = fdesc.get(b"/FontFile2") if isinstance(fdesc, dict) else None
    ff3 = fdesc.get(b"/FontFile3") if isinstance(fdesc, dict) else None
    if ff2 is not None:
        gid2uni = tt.cmap_gid_to_unicode(pdf.stream_data(pdf.deref(ff2)))
    elif ff3 is not None:
        # /FontFile3: bare CFF (/Type1C — glyph NAMES via the charset,
        # operators/cff.py) or a full sfnt (/OpenType — has a cmap).
        # CID-keyed CFF (/CIDFontType0C) refuses inside the CFF reader.
        prog = pdf.stream_data(pdf.deref(ff3))
        if prog[:4] in (b"\x00\x01\x00\x00", b"OTTO", b"true"):
            gid2uni = tt.cmap_gid_to_unicode(prog)
        else:
            from vectra_py_spark.operators.cff import cff_gid_to_unicode

            gid2uni = cff_gid_to_unicode(prog)
    else:
        raise ValueError(
            "PDF Type0/Identity font without /ToUnicode and without an "
            "embedded font program ("
            + ("Type1 /FontFile carries neither an sfnt cmap nor a CFF "
               "charset" if isinstance(fdesc, dict)
               and b"/FontFile" in fdesc else "no /FontFile2//FontFile3")
            + ") — CIDs are unrecoverable; unsupported"
        )

    c2g_raw = pdf.deref(desc.get(b"/CIDToGIDMap", b"/Identity"))
    if c2g_raw == b"/Identity":
        table = None
    elif isinstance(c2g_raw, tuple) and c2g_raw[0] == "stream":
        table = pdf.stream_data(c2g_raw)
        if len(table) > 2 << 16:
            raise ValueError("PDF CIDToGIDMap stream impossibly large")
    else:
        raise ValueError(
            f"PDF /CIDToGIDMap {c2g_raw!r} is neither /Identity nor a "
            "stream"
        )

    # The decoder sees raw bytes, so materialize the CID→str map up
    # front: for /Identity the CID equals the GID; for the stream form
    # walk the bounded table (CIDs past its end map to glyph 0 per
    # spec — i.e. drop out).
    out: dict[bytes, str] = {}
    if table is None:
        for gid, ch in gid2uni.items():
            if 0 <= gid <= 0xFFFF:
                out[struct.pack(">H", gid)] = ch
    else:
        for cid in range(len(table) // 2):
            gid = (table[2 * cid] << 8) | table[2 * cid + 1]
            ch = gid2uni.get(gid)
            if ch is not None:
                key = struct.pack(">H", cid)
                if key not in out:
                    out[key] = ch
    if not out:
        raise ValueError(
            "embedded font program cmap yields no decodable CIDs"
        )
    return out


def _type0_decoder(pdf: "_Pdf", fd: dict):
    """Composite (Type0) font → bytes→str decoder. Supported regimes:
    /Encoding /Identity-H (or -V) — text bytes are 2-byte big-endian
    CIDs, the shape every modern generator (word processors, browsers,
    TeX engines) emits for embedded font subsets — with the CID→text
    bridge coming from, in priority order:

    1. the /ToUnicode CMap (authoritative when present), or
    2. the embedded TrueType program's own ``cmap`` table via
       /CIDToGIDMap (:func:`_type0_font_program_cmap`) — the common
       CJK-subset shape that omits /ToUnicode (round 9; previously a
       named refusal).

    Predefined CMap encodings (/UniJIS-UCS2-H, /GBK-EUC-H, …) still
    refuse by name: their code→CID tables are published Adobe data
    files, not derivable structure — see the scope note in the module
    docstring."""
    enc = pdf.deref(fd.get(b"/Encoding"))
    if enc not in (b"/Identity-H", b"/Identity-V"):
        raise ValueError(
            f"PDF Type0 font with unsupported /Encoding {enc!r} — only "
            "the Identity-H/V composite encodings are supported"
        )
    tu = fd.get(b"/ToUnicode")
    if tu is None:
        cmap = _type0_font_program_cmap(pdf, fd)
    else:
        cmap = _parse_tounicode(pdf.stream_data(pdf.deref(tu)))

    def dec(bs: bytes) -> str:
        tail = ""
        if len(bs) % 2:  # odd trailing byte: visible unknown
            bs, tail = bs[:-1], "�"
        return "".join(
            cmap.get(bs[i : i + 2], "�") for i in range(0, len(bs), 2)
        ) + tail

    return dec


def _build_decoders(pdf: _Pdf, res: dict) -> dict[bytes, object]:
    """Per-font byte→char decoders for a resource dict. Simple fonts
    decode via /Encoding + /ToUnicode; Type0/Identity composite fonts
    via their 2-byte-CID /ToUnicode map (other composite regimes refuse
    loudly — never mojibake)."""
    fonts = pdf.deref(res.get(b"/Font")) if isinstance(res, dict) else None
    decoders: dict[bytes, object] = {}
    if isinstance(fonts, dict):
        for fname, fobj in fonts.items():
            fd = pdf.deref(fobj)
            if not isinstance(fd, dict):
                continue
            if fd.get(b"/Subtype") == b"/Type0":
                decoders[fname] = _type0_decoder(pdf, fd)
            else:
                decoders[fname] = _font_decoder(pdf, fd)
    return decoders


def _page_text(pdf: _Pdf, page: dict) -> str:
    contents = pdf.deref(page.get(b"/Contents"))
    if contents is None:
        return ""
    parts = contents if isinstance(contents, list) else [contents]
    data = b"".join(pdf.stream_data(c) for c in parts)
    res = pdf.deref(page.get(b"/Resources")) or {}
    lines: list[str] = [""]
    _walk_content(pdf, data, res if isinstance(res, dict) else {}, lines)
    return "\n".join(line for line in lines if line != "") if any(
        lines
    ) else ""


def _walk_content(pdf: _Pdf, data: bytes, res: dict, lines: list[str],
                  depth: int = 0) -> None:
    """Tokenize one content stream into ``lines``, recursing into Form
    XObjects on the ``Do`` operator (real documents — letterheads,
    stamped pages, pdftk output — carry text there; skipping them is
    silent text loss). Fonts resolve against THIS stream's resource
    dict (a form's own /Resources, else the parent's)."""
    if depth > 8:
        raise ValueError("PDF Form XObject nesting too deep")
    decoders = _build_decoders(pdf, res)
    xobjs = pdf.deref(res.get(b"/XObject")) if isinstance(res, dict) else None
    latin1 = (lambda bs: bs.decode("latin-1"))
    lex = _Lexer(data)
    stack: list = []
    cur_decode = [latin1]

    def show(sbytes: bytes) -> None:
        lines[-1] += cur_decode[0](sbytes)

    while True:
        lex._skip_ws()
        if lex.pos >= len(data):
            break
        tok = lex.parse()
        if isinstance(tok, tuple) and tok[0] == "kw":
            op = tok[1]
            if op == b"Tj" and stack:
                show(stack[-1] if isinstance(stack[-1], bytes) else b"")
            elif op in (b"'", b'"') and stack:
                lines.append("")
                show(stack[-1] if isinstance(stack[-1], bytes) else b"")
            elif op == b"TJ" and stack and isinstance(stack[-1], list):
                for el in stack[-1]:
                    if isinstance(el, bytes):
                        show(el)
                    elif isinstance(el, (int, float)) and el <= -180:
                        # kerning-as-space: TeX-style generators split
                        # words across TJ elements and encode the
                        # inter-word gap as a large negative adjustment
                        # (thousandths of an em; one space is ~250).
                        # Without this, "foo bar" extracts as "foobar".
                        if lines[-1] and not lines[-1].endswith(" "):
                            lines[-1] += " "
            elif op in (b"Td", b"TD", b"T"):
                # T* arrives as kw b"T" + a literal '*' byte; Td/TD with
                # a negative y advance also mean "next line"
                if op == b"T" and data[lex.pos : lex.pos + 1] == b"*":
                    lex.pos += 1
                    lines.append("")
                elif op in (b"Td", b"TD") and len(stack) >= 2:
                    try:
                        if float(stack[-1]) < 0:
                            lines.append("")
                    except (TypeError, ValueError):
                        pass
            elif op == b"Tf" and len(stack) >= 2:
                name = stack[-2]
                if isinstance(name, bytes) and name in decoders:
                    cur_decode[0] = decoders[name]
                else:
                    cur_decode[0] = latin1
            elif op == b"Do" and stack:
                name = stack[-1]
                if (isinstance(name, bytes) and isinstance(xobjs, dict)
                        and name in xobjs):
                    xo = pdf.deref(xobjs[name])
                    if (isinstance(xo, tuple) and xo[0] == "stream"
                            and pdf.deref(xo[1].get(b"/Subtype"))
                            == b"/Form"):
                        xres = pdf.deref(xo[1].get(b"/Resources"))
                        _walk_content(
                            pdf, pdf.stream_data(xo),
                            xres if isinstance(xres, dict) else res,
                            lines, depth + 1,
                        )
                    # /Image XObjects carry no text — skipped
            elif op == b"BT":
                if lines[-1]:
                    lines.append("")
            stack.clear()
        else:
            stack.append(tok)


def pdf_extract_text(
    payload: bytes, password: bytes | str = b""
) -> list[str]:
    """PDF bytes → one extracted-text string per page. ``password``
    opens password-protected documents (user-then-owner ladder, empty
    fallback). Unsupported constructs (wrong password, non-Identity
    composite encodings, exotic filters) refuse with a ValueError
    naming the gap."""
    try:
        pdf = _Pdf(payload, password=password)
        return [_page_text(pdf, p) for p in pdf.pages()]
    except (IndexError, KeyError, re.error, UnicodeDecodeError,
            RecursionError, OverflowError,
            AttributeError, TypeError) as exc:
        # AttributeError/TypeError: corrupt files can put ANY object
        # type where a dict/array was expected — found by the extended
        # fuzz pass; structural type confusion is malformed input, not
        # a crash. MemoryError deliberately NOT caught: the capped
        # inflate bounds attacker-driven expansion, so an allocation
        # failure here is genuine executor memory pressure and must
        # not be misreported as data corruption.
        raise ValueError(f"malformed PDF payload: {exc}") from exc


def _docinfo_str(v) -> str | None:
    """/Info values are PDFDocEncoded (≈latin-1) or UTF-16BE with BOM."""
    if not isinstance(v, bytes):
        return None
    if v[:2] == b"\xfe\xff":
        return v[2:].decode("utf-16-be", "replace")
    return v.decode("latin-1", "replace")


def pdf_info(payload: bytes, password: bytes | str = b"") -> dict:
    """Header-level probe: version + page count (no text decode), plus
    the /Info document metadata a corpus curation pass filters on
    (title/author/producer/creator — None when absent). ``password``
    as in :func:`pdf_extract_text`."""
    try:
        pdf = _Pdf(payload, password=password)
        version = payload[5:8].decode("latin-1", "replace")
        meta = {"title": None, "author": None, "producer": None,
                "creator": None}
        info = pdf.trailer.get(b"/Info")
        if info is not None:
            try:
                idict = pdf.deref(info)
            except _PARSE_ERRS:
                idict = None
            if isinstance(idict, dict):
                for key, field in ((b"/Title", "title"),
                                   (b"/Author", "author"),
                                   (b"/Producer", "producer"),
                                   (b"/Creator", "creator")):
                    try:
                        meta[field] = _docinfo_str(pdf.deref(idict.get(key)))
                    except _PARSE_ERRS:
                        pass
        return {"version": version, "n_pages": len(pdf.pages()), **meta}
    except (IndexError, KeyError, re.error, UnicodeDecodeError,
            RecursionError, OverflowError,
            AttributeError, TypeError) as exc:
        raise ValueError(f"malformed PDF payload: {exc}") from exc


def pdf_probe(payload: bytes) -> dict:
    """Header-cheap triage: version, page count and ENCRYPTION FLAVOR
    without password verification or key derivation — the AES-256 R6
    key stretch (~100 ms/hash by spec design) never runs here, so a
    probe-before-decode policy can route or skip encrypted documents
    for free. ``n_pages`` is None when the page tree itself is
    unreachable without decryption (encrypted object streams);
    ``encryption`` is rc4|aesv2|aesv3|unknown, None when plaintext.
    Password-protected documents PROBE fine (that is the point) —
    only text extraction refuses."""
    try:
        pdf = _Pdf(payload, init_crypt=False)
        version = payload[5:8].decode("latin-1", "replace")
        enc_ref = pdf.trailer.get(b"/Encrypt")
        try:
            n_pages = len(pdf.pages())
        except (ValueError, *_PARSE_ERRS):
            if enc_ref is None:
                # a PLAINTEXT document with a broken page tree is
                # malformed, full stop — swallowing it here would turn
                # probe quarantine rows into clean-looking PDFs that
                # pass triage and waste a decode (review); only an
                # ENCRYPTED tree (page dicts inside encrypted ObjStms)
                # legitimately needs the key we did not derive
                raise
            n_pages = None
        method = None
        if enc_ref is not None:
            method = "unknown"
            try:
                ed = pdf.deref(enc_ref)
                if isinstance(ed, dict):
                    v = pdf.deref(ed.get(b"/V", 0))
                    if v in (1, 2):
                        method = "rc4"
                    elif v == 4:
                        try:
                            method = pdf._crypt_filter_mode(ed)
                        except ValueError:
                            method = "unknown"
                    elif v == 5:
                        method = "aesv3"
            except _PARSE_ERRS:
                pass
        return {"version": version, "n_pages": n_pages,
                "encrypted": enc_ref is not None, "encryption": method}
    except (IndexError, KeyError, re.error, UnicodeDecodeError,
            RecursionError, OverflowError,
            AttributeError, TypeError) as exc:
        raise ValueError(f"malformed PDF payload: {exc}") from exc


def extract_pdf_text_df(
    df,
    data_col: str = "data",
    id_col: str = "media_id",
    on_error: str = "fail",
    password: str = "",
):
    """Binary PDF payloads → one row per page: (media_id, page, text
    [, error under quarantine]) — the same contract shape as
    ``extract_features``: 'fail' propagates the first ValueError,
    'quarantine' keeps a single error row per bad payload (page -1,
    NULL text) and the stage flows on. ``password`` applies to every
    payload (the per-corpus password of a protected drop; the empty
    user password remains the fallback per payload). One narrow
    ``map_rows`` pass, no shuffle, payloads stay in the worker."""
    from vectra_py_spark.session import map_rows, quarantine_rows

    def rows(mid, b):
        payload = bytes(b) if b is not None else b""
        return [(str(mid), p, text, None) for p, text in
                enumerate(pdf_extract_text(payload, password=password))]

    return map_rows(
        df, [id_col, data_col], rows,
        "media_id STRING, page INT, text STRING, error STRING",
        on_error=quarantine_rows(
            on_error, lambda v, exc: (str(v[0]), -1, None, str(exc))
        ),
    )


def pdf_triage_lanes(
    df,
    data_col: str = "data",
    id_col: str = "media_id",
    budget_flavors: tuple = ("aesv3",),
):
    """Probe-before-decrypt POLICY stage: one header-cheap
    :func:`pdf_probe` per payload (no password verification, no key
    derivation) → (media_id, lane, encryption, n_pages, error) with

    - lane='fast'       plaintext or cheap crypto (RC4 / AES-128: the
                        per-object key is a single MD5/AES-CBC, ~µs)
    - lane='budgeted'   ``encryption`` ∈ ``budget_flavors`` — AES-256
                        R6 by default, whose Algorithm 2.B key stretch
                        is ~418 ms/doc BY SPEC DESIGN (anti
                        brute-force); a 100 TB crawl routes these to a
                        rate-limited lane or skips them outright
                        instead of letting 1% of documents eat 99% of
                        extraction wall
    - lane='quarantine' probe itself refused (malformed)

    The probe is ~2000× cheaper than an R6 decrypt (BENCH.md), so the
    split costs nothing measurable. Join the winners back to the
    payloads and feed each lane to :func:`extract_pdf_text_df` at its
    own budget. One narrow ``map_rows`` pass, payloads never shuffle."""
    from vectra_py_spark.session import map_rows

    flavors = set(budget_flavors)

    def row(mid, b):
        info = pdf_probe(bytes(b) if b is not None else b"")
        enc = info["encryption"]
        lane = "budgeted" if enc in flavors else "fast"
        return [(str(mid), lane, enc, info["n_pages"], None)]

    return map_rows(
        df, [id_col, data_col], row,
        "media_id STRING, lane STRING, encryption STRING, "
        "n_pages INT, error STRING",
        on_error=lambda v, exc: (
            str(v[0]), "quarantine", None, None, str(exc)
        ),
    )


def read_pdf_documents(
    spark,
    path: str,
    min_chars: int = 1,
):
    """Directory/glob of PDF files → (uri, text, doc_type='pdf') rows
    ready for ``SparkDocumentIndex.upsert_documents_df`` — the drop-of-
    PDFs ingestion shape, symmetric with the WARC glue
    (`sources/warc.py::warc_documents`). Pages join with blank lines;
    unsupported/corrupt files skip quietly (best-effort corpus builder
    — the strict per-page path is :func:`extract_pdf_text_df` with
    ``on_error='quarantine'``). One narrow ``map_rows`` pass over the
    ``binaryFile`` scan: file count is the parallelism unit, payloads
    never shuffle."""
    from vectra_py_spark.sources.documents import _documents_df

    return _documents_df(
        spark.read.format("binaryFile").load(path),
        lambda b: ("pdf", "\n\n".join(pdf_extract_text(b))), min_chars,
    )
