"""Office / e-book document text extraction — pure stdlib, from the
public container specs: DOCX, PPTX and XLSX (OOXML, ECMA-376 — ZIP +
WordprocessingML/PresentationML/SpreadsheetML parts), ODT (OASIS OpenDocument —
ZIP + content.xml), and EPUB (OCF/OPF — ZIP + spine-ordered XHTML
chapters rendered through the same ``html_to_markdown`` the web
fetcher and WARC glue use); ``office_extract_text`` also dispatches
RTF payloads to :mod:`.rtf`. Together with PDF (operators/pdf.py),
HTML (sources/fetchers.py) and WARC (sources/warc.py) this closes the
document-format family a crawl-scale corpus actually contains.

Honest scope: the ZIP-based generations here, plus the FULL legacy
trio via ``office_extract_text`` dispatch over the real [MS-CFB]
container (:mod:`.cfb`): Word .doc piece tables (:mod:`.doc`),
PowerPoint .ppt text atoms (:mod:`.ppt`), Excel .xls BIFF8 SST/cells
(:mod:`.xls`). Password-protected OOXML (OLE-wrapped) and encrypted
legacy files refuse by name; XML parts
carrying a DTD (<!DOCTYPE/<!ENTITY — entity-expansion bombs) refuse
rather than parse; per-member decompression is budget-capped so ZIP
bombs quarantine instead of OOMing the stage (same contract as the
PDF/WARC parsers).

Contract: malformed payloads raise :class:`ValueError` only. Scale
shape: per-payload parse inside the worker (``map_rows``), linear
in member bytes; payloads never shuffle.
"""

from __future__ import annotations

import io
import re
import struct
import zipfile
import zlib
from xml.etree import ElementTree as ET

__all__ = [
    "docx_extract_text",
    "pptx_extract_text",
    "xlsx_extract_text",
    "odt_extract_text",
    "epub_extract_markdown",
    "office_extract_text",
    "encode_docx",
    "encode_pptx",
    "encode_xlsx",
    "encode_odt",
    "encode_epub",
    "extract_office_text_df",
    "read_office_documents",
    "OFFICE_MIME_TYPES",
]

# Per-MEMBER decompressed ceiling: any single XML/XHTML part past this
# is a bomb, not a document (text parts of real files are ≤ a few MB).
MEMBER_CEILING = 64 << 20

_OLE_MAGIC = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
_DTD_RE = re.compile(rb"<!(?:DOCTYPE|ENTITY)", re.I)

# Content-Type → extractor kind (the WARC glue routes on these)
OFFICE_MIME_TYPES = {
    "application/vnd.openxmlformats-officedocument"
    ".wordprocessingml.document": "docx",
    "application/vnd.openxmlformats-officedocument"
    ".presentationml.presentation": "pptx",
    "application/vnd.openxmlformats-officedocument"
    ".spreadsheetml.sheet": "xlsx",
    "application/vnd.oasis.opendocument.text": "odt",
    "application/epub+zip": "epub",
    "application/rtf": "rtf",
    "text/rtf": "rtf",
    "application/msword": "doc",
    "application/vnd.ms-powerpoint": "ppt",
    "application/vnd.ms-excel": "xls",
}


# ---------------------------------------------------------------------------
# Container plumbing
# ---------------------------------------------------------------------------
def _open_zip(payload: bytes) -> zipfile.ZipFile:
    if payload[:8] == _OLE_MAGIC:
        raise ValueError(
            "OLE compound file — legacy binary Office (.doc/.ppt/.xls) "
            "and password-protected OOXML are unsupported"
        )
    if payload[:4] != b"PK\x03\x04":
        raise ValueError(
            f"not a ZIP-based document: {payload[:8]!r}"
        )
    try:
        return zipfile.ZipFile(io.BytesIO(payload))
    except (zipfile.BadZipFile, OSError, struct.error,
            NotImplementedError) as exc:
        # NotImplementedError: the CONSTRUCTOR raises it for mutated
        # ZIP64 central directories ("zip file version N") — found by
        # the fuzz campaign, malformed input here
        raise ValueError(f"corrupt ZIP container: {exc}") from exc


def _read_member(zf: zipfile.ZipFile, name: str) -> bytes:
    """Chunk-read one member against the ceiling — the ZIP directory's
    size field can lie, so count actual bytes produced."""
    try:
        f = zf.open(name)
    except (KeyError, zipfile.BadZipFile, OSError, struct.error,
            zlib.error, NotImplementedError, RuntimeError) as exc:
        # NotImplementedError: mutated compress_type fields hit
        # zipfile's unsupported-method path; RuntimeError: encrypted
        # members — both are malformed input here, found by fuzz
        raise ValueError(f"missing/corrupt ZIP member {name!r}") from exc
    parts: list[bytes] = []
    total = 0
    with f:
        while True:
            try:
                chunk = f.read(1 << 20)
            except (zipfile.BadZipFile, OSError, EOFError, struct.error,
                    zlib.error, NotImplementedError,
                    RuntimeError) as exc:  # zlib.error: corrupt deflate
                # data leaks raw from ZipExtFile.read — found by fuzz
                raise ValueError(
                    f"corrupt ZIP member {name!r}: {exc}"
                ) from exc
            if not chunk:
                return b"".join(parts)
            total += len(chunk)
            if total > MEMBER_CEILING:
                raise ValueError(
                    f"ZIP member {name!r} exceeds {MEMBER_CEILING} "
                    "bytes decompressed (bomb?)"
                )
            parts.append(chunk)


def _parse_xml(data: bytes, what: str) -> ET.Element:
    # scan the WHOLE part, not a prefix: comment padding pushed a
    # DOCTYPE past a 4096-byte window and bypassed the gate (review)
    if _DTD_RE.search(data):
        raise ValueError(
            f"{what} carries a DTD (<!DOCTYPE/<!ENTITY) — refusing to "
            "parse (entity-expansion bomb risk)"
        )
    try:
        return ET.fromstring(data)
    except ET.ParseError as exc:
        raise ValueError(f"malformed {what} XML: {exc}") from exc


def _local(tag) -> str:
    t = tag if isinstance(tag, str) else ""
    return t.rsplit("}", 1)[-1]


# ---------------------------------------------------------------------------
# DOCX (WordprocessingML)
# ---------------------------------------------------------------------------
def _wml_para_text(p: ET.Element) -> str:
    out: list[str] = []
    for el in p.iter():
        ln = _local(el.tag)
        if ln == "t":
            out.append(el.text or "")
        elif ln == "tab":
            out.append("\t")
        elif ln in ("br", "cr"):
            out.append("\n")
    return "".join(out)


def docx_extract_text(payload: bytes) -> str:
    """DOCX bytes → text, one line per paragraph in document order
    (table-cell paragraphs appear where the table sits)."""
    with _open_zip(payload) as zf:
        root = _parse_xml(
            _read_member(zf, "word/document.xml"), "word/document.xml"
        )
    return "\n".join(
        _wml_para_text(p) for p in root.iter() if _local(p.tag) == "p"
    )


# ---------------------------------------------------------------------------
# PPTX (PresentationML)
# ---------------------------------------------------------------------------
_SLIDE_RE = re.compile(r"^ppt/slides/slide(\d+)\.xml$")


def pptx_extract_text(payload: bytes) -> list[str]:
    """PPTX bytes → one text string per slide, slides in deck order,
    one line per a:p paragraph (shape/table text both land here)."""
    with _open_zip(payload) as zf:
        slides = sorted(
            (int(m.group(1)), n)
            for n in zf.namelist()
            if (m := _SLIDE_RE.match(n))
        )
        if not slides:
            raise ValueError("PPTX contains no ppt/slides/slideN.xml")
        out = []
        for _num, name in slides:
            root = _parse_xml(_read_member(zf, name), name)
            paras = []
            for p in root.iter():
                if _local(p.tag) != "p":
                    continue
                paras.append("".join(
                    el.text or "" for el in p.iter()
                    if _local(el.tag) == "t"
                ))
            out.append("\n".join(paras))
    return out


# ---------------------------------------------------------------------------
# ODT (OpenDocument text)
# ---------------------------------------------------------------------------
def _odt_text(el: ET.Element, depth: int = 0) -> str:
    if depth > 256:
        # deep nesting must quarantine (ValueError), not blow the
        # Python stack as RecursionError (review)
        raise ValueError("ODT element nesting too deep")
    ln = _local(el.tag)
    if ln == "tab":
        lead = "\t"
    elif ln == "line-break":
        lead = "\n"
    elif ln == "s":  # text:s — run of spaces, count in text:c
        try:
            lead = " " * max(1, int(el.get(
                "{urn:oasis:names:tc:opendocument:xmlns:text:1.0}c", "1"
            )))
        except ValueError:
            lead = " "
    else:
        lead = ""
    parts = [lead, el.text or ""]
    for ch in el:
        parts.append(_odt_text(ch, depth + 1))
        parts.append(ch.tail or "")
    return "".join(parts)


def odt_extract_text(payload: bytes) -> str:
    """ODT bytes → text, one line per text:p / text:h paragraph.
    Encrypted documents (ODF manifests with encryption-data entries —
    the content is a Blowfish/AES blob, not XML) refuse by name
    instead of surfacing as a confusing XML parse error."""
    with _open_zip(payload) as zf:
        names = zf.namelist()
        if "META-INF/manifest.xml" in names and b"encryption-data" in (
            _read_member(zf, "META-INF/manifest.xml")
        ):
            raise ValueError(
                "encrypted ODT (manifest declares encryption-data) — "
                "unsupported"
            )
        root = _parse_xml(
            _read_member(zf, "content.xml"), "content.xml"
        )
    return "\n".join(
        _odt_text(p) for p in root.iter()
        if _local(p.tag) in ("p", "h")
        and p.tag.startswith(
            "{urn:oasis:names:tc:opendocument:xmlns:text:1.0}"
        )
    )


# ---------------------------------------------------------------------------
# XLSX (SpreadsheetML)
# ---------------------------------------------------------------------------
_SHEET_RE = re.compile(r"^xl/worksheets/sheet(\d+)\.xml$")


def _shared_strings(zf: zipfile.ZipFile) -> list[str]:
    if "xl/sharedStrings.xml" not in zf.namelist():
        return []
    root = _parse_xml(
        _read_member(zf, "xl/sharedStrings.xml"), "xl/sharedStrings.xml"
    )
    out = []
    for si in root:
        if _local(si.tag) != "si":
            continue
        # plain <t> or rich-text runs <r><t>…: concatenating every
        # descendant t covers both
        out.append("".join(
            el.text or "" for el in si.iter() if _local(el.tag) == "t"
        ))
    return out


def xlsx_extract_text(payload: bytes) -> list[str]:
    """XLSX bytes → one text string per worksheet (numeric member
    order — the order every real generator writes), rows as
    tab-joined cell lines. Shared strings (plain and rich-run),
    inline strings, and literal/formula-cached values all land;
    numbers print as stored."""
    with _open_zip(payload) as zf:
        sheets = sorted(
            (int(m.group(1)), n)
            for n in zf.namelist()
            if (m := _SHEET_RE.match(n))
        )
        if not sheets:
            raise ValueError("XLSX contains no xl/worksheets/sheetN.xml")
        sst = _shared_strings(zf)
        out = []
        for _num, name in sheets:
            root = _parse_xml(_read_member(zf, name), name)
            lines = []
            for row in root.iter():
                if _local(row.tag) != "row":
                    continue
                cells = []
                for c in row:
                    if _local(c.tag) != "c":
                        continue
                    ctype = c.get("t", "n")
                    text = ""
                    if ctype == "inlineStr":
                        text = "".join(
                            el.text or "" for el in c.iter()
                            if _local(el.tag) == "t"
                        )
                    else:
                        v = next(
                            (el for el in c if _local(el.tag) == "v"),
                            None,
                        )
                        if v is not None:
                            text = v.text or ""
                            if ctype == "s":
                                try:
                                    text = sst[int(text)]
                                except (ValueError, IndexError):
                                    text = ""  # dangling sst ref
                    cells.append(text)
                lines.append("\t".join(cells))
            out.append("\n".join(lines))
    return out


# ---------------------------------------------------------------------------
# EPUB (OCF container → OPF spine → XHTML chapters → markdown)
# ---------------------------------------------------------------------------
def epub_extract_markdown(payload: bytes) -> list[str]:
    """EPUB bytes → one markdown string per spine chapter, in reading
    order, via the same ``html_to_markdown`` the web fetcher uses.
    Chapter XHTML legitimately carries a DOCTYPE — it routes through
    the regex-based HTML renderer, never through the XML parser, so
    the DTD gate applies only to the container/OPF metadata."""
    from vectra_py_spark.sources.fetchers import html_to_markdown

    with _open_zip(payload) as zf:
        if "META-INF/encryption.xml" in zf.namelist():
            raise ValueError(
                "DRM/encrypted EPUB (META-INF/encryption.xml present) "
                "— unsupported"
            )
        container = _parse_xml(
            _read_member(zf, "META-INF/container.xml"),
            "META-INF/container.xml",
        )
        opf_path = None
        for el in container.iter():
            if _local(el.tag) == "rootfile":
                opf_path = el.get("full-path")
                break
        if not opf_path:
            raise ValueError("EPUB container.xml names no rootfile")
        opf = _parse_xml(_read_member(zf, opf_path), opf_path)
        base = opf_path.rsplit("/", 1)[0] + "/" if "/" in opf_path else ""
        hrefs: dict[str, tuple[str, str]] = {}  # id → (href, media-type)
        spine: list[str] = []
        for el in opf.iter():
            ln = _local(el.tag)
            if ln == "item" and el.get("id") and el.get("href"):
                hrefs[el.get("id")] = (
                    el.get("href"), el.get("media-type") or ""
                )
            elif ln == "itemref" and el.get("idref"):
                spine.append(el.get("idref"))
        chapters = []
        for idref in spine:
            href, mtype = hrefs.get(idref, (None, ""))
            if href is None or "html" not in mtype:
                continue  # images/css in the spine carry no text
            raw = _read_member(zf, base + href)
            chapters.append(
                html_to_markdown(raw.decode("utf-8", "replace"))
            )
        if not chapters:
            raise ValueError("EPUB spine contains no XHTML chapters")
    return chapters


# ---------------------------------------------------------------------------
# Auto-detect
# ---------------------------------------------------------------------------
def office_extract_text(payload: bytes) -> tuple[str, str]:
    """Auto-detect the document kind and extract: returns (doc_type,
    text) with doc_type in docx|pptx|xlsx|odt|epub|rtf.
    EPUB/PPTX/XLSX chapters/slides/sheets join with blank lines."""
    if payload[:5] == b"{\\rtf":
        from vectra_py_spark.operators.rtf import rtf_extract_text

        return "rtf", rtf_extract_text(payload)
    if payload[:8] == _OLE_MAGIC:
        from vectra_py_spark.operators.cfb import CfbReader

        names = set(CfbReader(payload).stream_names())
        if "WordDocument" in names:
            from vectra_py_spark.operators.doc import doc_extract_text

            return "doc", doc_extract_text(payload)
        if "PowerPoint Document" in names:
            from vectra_py_spark.operators.ppt import ppt_extract_text

            return "ppt", ppt_extract_text(payload)
        if "Workbook" in names or "Book" in names:
            from vectra_py_spark.operators.xls import xls_extract_text

            return "xls", "\n\n".join(xls_extract_text(payload))
        if "EncryptedPackage" in names:
            raise ValueError(
                "password-protected OOXML (OLE-wrapped) — unsupported"
            )
        raise ValueError(
            "unrecognized OLE document (no Word/PowerPoint/Excel stream)"
        )
    with _open_zip(payload) as zf:
        names = set(zf.namelist())
    if "word/document.xml" in names:
        return "docx", docx_extract_text(payload)
    if any(_SLIDE_RE.match(n) for n in names):
        return "pptx", "\n\n".join(pptx_extract_text(payload))
    if "xl/workbook.xml" in names:
        return "xlsx", "\n\n".join(xlsx_extract_text(payload))
    if "META-INF/container.xml" in names:
        return "epub", "\n\n".join(epub_extract_markdown(payload))
    if "content.xml" in names:
        return "odt", odt_extract_text(payload)
    raise ValueError(
        "ZIP payload is none of docx/pptx/xlsx/odt/epub (no recognized "
        "marker member)"
    )


# ---------------------------------------------------------------------------
# Writers (spec-valid minimal packages — fixtures for the round-trip
# tests and the cross-format oracles)
# ---------------------------------------------------------------------------
_W_NS = (
    "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
)
_A_NS = "http://schemas.openxmlformats.org/drawingml/2006/main"
_P_NS = (
    "http://schemas.openxmlformats.org/presentationml/2006/main"
)


def _xml_escape(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    )


def _zip_bytes(members: list[tuple[str, bytes]], stored_first=False) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for i, (name, data) in enumerate(members):
            if i == 0 and stored_first:
                # EPUB OCF: the mimetype member must be first and STORED
                zf.writestr(
                    zipfile.ZipInfo(name), data, zipfile.ZIP_STORED
                )
            else:
                zf.writestr(name, data)
    return buf.getvalue()


def encode_docx(paragraphs: list[str]) -> bytes:
    """Paragraph strings → a minimal valid DOCX ('\\t' and '\\n' inside
    a paragraph become w:tab / w:br, round-tripping the reader's
    mapping)."""
    body = []
    for para in paragraphs:
        runs = []
        for piece in re.split(r"([\t\n])", para):
            if piece == "\t":
                runs.append(f'<w:r><w:tab/></w:r>')
            elif piece == "\n":
                runs.append(f'<w:r><w:br/></w:r>')
            elif piece:
                runs.append(
                    f'<w:r><w:t xml:space="preserve">'
                    f'{_xml_escape(piece)}</w:t></w:r>'
                )
        body.append(f"<w:p>{''.join(runs)}</w:p>")
    doc = (
        f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<w:document xmlns:w="{_W_NS}"><w:body>{"".join(body)}'
        f"</w:body></w:document>"
    ).encode()
    ctypes = (
        b'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        b'<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
        b'content-types"><Default Extension="xml" ContentType="applicati'
        b'on/xml"/><Override PartName="/word/document.xml" ContentType='
        b'"application/vnd.openxmlformats-officedocument.wordprocessingm'
        b'l.document.main+xml"/></Types>'
    )
    rels = (
        b'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        b'<Relationships xmlns="http://schemas.openxmlformats.org/packag'
        b'e/2006/relationships"><Relationship Id="rId1" Type="http://sch'
        b'emas.openxmlformats.org/officeDocument/2006/relationships/offi'
        b'ceDocument" Target="word/document.xml"/></Relationships>'
    )
    return _zip_bytes([
        ("[Content_Types].xml", ctypes),
        ("_rels/.rels", rels),
        ("word/document.xml", doc),
    ])


def encode_pptx(slides: list[list[str]]) -> bytes:
    """Per-slide paragraph lists → a minimal valid PPTX."""
    if not slides:
        raise ValueError("encode_pptx needs at least one slide")
    members = []
    overrides = []
    for i, paras in enumerate(slides, 1):
        ptags = "".join(
            f"<a:p><a:r><a:t>{_xml_escape(p)}</a:t></a:r></a:p>"
            for p in paras
        )
        slide = (
            f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<p:sld xmlns:p="{_P_NS}" xmlns:a="{_A_NS}"><p:cSld>'
            f"<p:spTree><p:sp><p:txBody>{ptags}</p:txBody></p:sp>"
            f"</p:spTree></p:cSld></p:sld>"
        ).encode()
        members.append((f"ppt/slides/slide{i}.xml", slide))
        overrides.append(
            f'<Override PartName="/ppt/slides/slide{i}.xml" ContentType'
            f'="application/vnd.openxmlformats-officedocument.presentat'
            f'ionml.slide+xml"/>'
        )
    ctypes = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
        'content-types"><Default Extension="xml" ContentType="applicat'
        'ion/xml"/>' + "".join(overrides) + "</Types>"
    ).encode()
    return _zip_bytes([("[Content_Types].xml", ctypes)] + members)


_S_NS = (
    "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
)


def _col_name(j: int) -> str:
    out = ""
    j += 1
    while j:
        j, rem = divmod(j - 1, 26)
        out = chr(ord("A") + rem) + out
    return out


def encode_xlsx(sheets: list[list[list[str]]]) -> bytes:
    """Per-sheet grids (rows of string cells) → a minimal valid XLSX.
    Numeric-looking cells store literally; strings go through
    sharedStrings, alternating plain <t> and rich-run <r><t> shapes so
    the reader's run concatenation is exercised."""
    if not sheets:
        raise ValueError("encode_xlsx needs at least one sheet")
    strings: list[str] = []
    sidx: dict[str, int] = {}
    members: list[tuple[str, bytes]] = []
    for i, rows in enumerate(sheets, 1):
        rws = []
        for r, row in enumerate(rows, 1):
            cells = []
            for j, val in enumerate(row):
                ref = f"{_col_name(j)}{r}"
                if re.fullmatch(r"-?\d+(\.\d+)?", val):
                    cells.append(f'<c r="{ref}"><v>{val}</v></c>')
                else:
                    if val not in sidx:
                        sidx[val] = len(strings)
                        strings.append(val)
                    cells.append(
                        f'<c r="{ref}" t="s"><v>{sidx[val]}</v></c>'
                    )
            rws.append(f'<row r="{r}">{"".join(cells)}</row>')
        sheet = (
            f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<worksheet xmlns="{_S_NS}"><sheetData>{"".join(rws)}'
            f"</sheetData></worksheet>"
        ).encode()
        members.append((f"xl/worksheets/sheet{i}.xml", sheet))
    sis = []
    for k, s in enumerate(strings):
        t = f'<t xml:space="preserve">{_xml_escape(s)}</t>'
        sis.append(
            f"<si>{t}</si>" if k % 2 == 0 else f"<si><r>{t}</r></si>"
        )
    sst = (
        f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<sst xmlns="{_S_NS}" count="{len(strings)}" '
        f'uniqueCount="{len(strings)}">{"".join(sis)}</sst>'
    ).encode()
    wb_sheets = "".join(
        f'<sheet name="Sheet{i}" sheetId="{i}" r:id="rId{i}"/>'
        for i in range(1, len(sheets) + 1)
    )
    workbook = (
        f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<workbook xmlns="{_S_NS}" xmlns:r="http://schemas.openxmlform'
        f'ats.org/officeDocument/2006/relationships"><sheets>{wb_sheets}'
        f"</sheets></workbook>"
    ).encode()
    overrides = "".join(
        f'<Override PartName="/xl/worksheets/sheet{i}.xml" ContentType='
        f'"application/vnd.openxmlformats-officedocument.spreadsheetml.'
        f'worksheet+xml"/>'
        for i in range(1, len(sheets) + 1)
    )
    ctypes = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
        'content-types"><Default Extension="xml" ContentType="applicat'
        'ion/xml"/><Override PartName="/xl/workbook.xml" ContentType="'
        'application/vnd.openxmlformats-officedocument.spreadsheetml.s'
        'heet.main+xml"/>' + overrides + "</Types>"
    ).encode()
    return _zip_bytes(
        [("[Content_Types].xml", ctypes),
         ("xl/workbook.xml", workbook),
         ("xl/sharedStrings.xml", sst)] + members
    )


def encode_odt(paragraphs: list[str]) -> bytes:
    """Paragraph strings → a minimal valid ODT ('\\t'/'\\n' become
    text:tab / text:line-break)."""
    tns = "urn:oasis:names:tc:opendocument:xmlns:text:1.0"
    ons = "urn:oasis:names:tc:opendocument:xmlns:office:1.0"
    body = []
    for para in paragraphs:
        inner = (
            _xml_escape(para)
            .replace("\t", "<text:tab/>")
            .replace("\n", "<text:line-break/>")
        )
        body.append(f"<text:p>{inner}</text:p>")
    content = (
        f'<?xml version="1.0" encoding="UTF-8"?>'
        f'<office:document-content xmlns:office="{ons}" '
        f'xmlns:text="{tns}"><office:body><office:text>'
        f'{"".join(body)}</office:text></office:body>'
        f"</office:document-content>"
    ).encode()
    return _zip_bytes([
        ("mimetype", b"application/vnd.oasis.opendocument.text"),
        ("content.xml", content),
    ], stored_first=True)


def encode_epub(chapters: list[tuple[str, str]]) -> bytes:
    """(title, body-HTML) chapters → a minimal valid EPUB 3."""
    if not chapters:
        raise ValueError("encode_epub needs at least one chapter")
    members: list[tuple[str, bytes]] = [
        ("mimetype", b"application/epub+zip"),
        ("META-INF/container.xml", (
            b'<?xml version="1.0"?><container version="1.0" xmlns="urn:'
            b'oasis:names:tc:opendocument:xmlns:container"><rootfiles>'
            b'<rootfile full-path="OEBPS/content.opf" media-type="appli'
            b'cation/oebps-package+xml"/></rootfiles></container>'
        )),
    ]
    items, refs = [], []
    for i, (title, html) in enumerate(chapters, 1):
        doc = (
            f"<!DOCTYPE html><html><head><title>{_xml_escape(title)}"
            f"</title></head><body>{html}</body></html>"
        ).encode()
        members.append((f"OEBPS/ch{i}.xhtml", doc))
        items.append(
            f'<item id="ch{i}" href="ch{i}.xhtml" media-type="applicati'
            f'on/xhtml+xml"/>'
        )
        refs.append(f'<itemref idref="ch{i}"/>')
    opf = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<package xmlns="http://www.idpf.org/2007/opf" version="3.0" '
        'unique-identifier="uid"><metadata xmlns:dc="http://purl.org/dc'
        '/elements/1.1/"><dc:identifier id="uid">synth</dc:identifier>'
        "</metadata><manifest>" + "".join(items)
        + "</manifest><spine>" + "".join(refs) + "</spine></package>"
    ).encode()
    members.insert(2, ("OEBPS/content.opf", opf))
    return _zip_bytes(members, stored_first=True)


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------
def extract_office_text_df(
    df,
    data_col: str = "data",
    id_col: str = "media_id",
    on_error: str = "fail",
):
    """Binary office payloads → (media_id, doc_type, text [, error]) —
    the same fail/quarantine contract as ``extract_pdf_text_df``.
    One narrow ``map_rows`` pass, no shuffle."""
    from vectra_py_spark.session import map_rows, quarantine_rows

    def row(mid, b):
        kind, text = office_extract_text(bytes(b) if b is not None else b"")
        return [(str(mid), kind, text, None)]

    return map_rows(
        df, [id_col, data_col], row,
        "media_id STRING, doc_type STRING, text STRING, error STRING",
        on_error=quarantine_rows(
            on_error, lambda v, exc: (str(v[0]), None, None, str(exc))
        ),
    )


def read_office_documents(
    spark,
    path: str,
    min_chars: int = 1,
):
    """Directory/glob of docx/pptx/odt/epub files → (uri, text,
    doc_type) rows ready for
    ``SparkDocumentIndex.upsert_documents_df`` — symmetric with
    ``read_pdf_documents``; unsupported/corrupt files skip quietly.
    One narrow ``map_rows`` pass over the ``binaryFile`` scan."""
    from vectra_py_spark.sources.documents import _documents_df

    return _documents_df(
        spark.read.format("binaryFile").load(path), office_extract_text,
        min_chars,
    )
