"""Office-document text extraction — DOCX (OOXML WordprocessingML),
the second-most-common document format in scraped corpora after PDF,
plus its ZIP-container siblings: ODT (OpenDocument), PPTX
(PresentationML slides), XLSX (SpreadsheetML shared strings) and
EPUB (OPF manifest + XHTML chapters, the book-corpus container).
Stdlib-only, the ``sources/pdf.py`` discipline: the container is a
ZIP archive (``zipfile`` over executor-side bytes), the text lives in
format-specific members (``word/document.xml`` ``<w:t>`` runs,
``ppt/slides/slideN.xml`` ``<a:t>`` runs, ...), and extraction is a
regex walk of that machine-generated XML (real office writers never
pretty-print or split tags across the patterns used here) with hard
caps on the inflated size — a zip bomb yields an error row, never an
OOM.

Spark shape: pure per-row parse inside Arrow-batched ``mapInArrow``
(``functions.rows.map_rows``: :func:`docx_extract_text`,
:func:`office_extract_text`, :func:`epub_extract_chapters`); payload
bytes stay executor-side, no shuffle — the same 100 TB posture as
the PDF/WARC/multimodal decoders. EPUB chapter XHTML is cleaned
JVM-side (``text.html_visible_text`` inside an array ``transform``),
so the HTML hot path never enters Python."""

from __future__ import annotations

import io
import re
import zipfile
from typing import Optional, Tuple

from pyspark.sql import DataFrame

from ..functions.rows import map_rows

MAX_XML_BYTES = 1 << 26

_T_RUN = re.compile(rb"<w:t(?:\s[^>]*)?>(.*?)</w:t>", re.S)
_PARA_SPLIT = re.compile(rb"</w:p>")
_BR = re.compile(rb"<w:(?:br|cr)\s*/>")
_TAB = re.compile(rb"<w:tab\s*/>")
_ENT = {b"&amp;": b"&", b"&lt;": b"<", b"&gt;": b">",
        b"&quot;": b'"', b"&apos;": b"'"}


def _unescape_xml(raw: bytes) -> bytes:
    for ent, rep in _ENT.items():
        raw = raw.replace(ent, rep)
    return re.sub(rb"&#(\d+);",
                  lambda m: chr(int(m.group(1))).encode("utf-8"), raw)


def extract_docx_text(payload, max_xml: int = MAX_XML_BYTES
                      ) -> Tuple[Optional[str], int, Optional[str]]:
    """Extract visible text from one DOCX payload. Returns
    ``(text, n_paragraphs, error)`` — paragraphs join with newlines,
    ``<w:br/>``/``<w:cr/>`` become newlines and ``<w:tab/>`` tabs
    within a paragraph, XML entities (named + decimal numeric)
    unescape; non-ZIP / text-less payloads yield ``(None, 0,
    reason)``. The document part is read through the zip member with
    a hard size cap (central-directory sizes lie in crafted bombs, so
    the cap is enforced on the INFLATED stream, not the header)."""
    if payload is None or len(payload) < 4:
        return (None, 0, "empty/truncated payload")
    p = bytes(payload)
    if p[:2] != b"PK":
        return (None, 0, "not a ZIP container")
    try:
        zf = zipfile.ZipFile(io.BytesIO(p))
    except (zipfile.BadZipFile, OSError) as e:
        return (None, 0, f"corrupt zip: {e}")
    try:
        names = set(zf.namelist())
    except Exception as e:  # crafted central directories raise oddly
        return (None, 0, f"corrupt zip directory: {e}")
    if "word/document.xml" not in names:
        return (None, 0, "no word/document.xml (not a DOCX)")
    try:
        with zf.open("word/document.xml") as fh:
            data = fh.read(max_xml + 1)
    except Exception as e:
        return (None, 0, f"corrupt document part: {e}")
    err = None
    if len(data) > max_xml:
        err = "document.xml inflate cap exceeded"
        data = data[:max_xml]
    paras = []
    for chunk in _PARA_SPLIT.split(data):
        chunk = _BR.sub(b"\n", chunk)
        chunk = _TAB.sub(b"\t", chunk)
        runs = [_unescape_xml(r) for r in _T_RUN.findall(chunk)]
        if runs:
            paras.append(b"".join(runs).decode("utf-8", "replace"))
    if not paras:
        return (None, 0, err or "no text runs")
    return ("\n".join(paras), len(paras), err)


def _with_n_chars(text, n_units, err):
    """``(text, n_chars, n_units, error)`` of one extraction result —
    the row shape of every ``*_extract_text`` operator."""
    return (text, len(text) if text is not None else None, n_units, err)


def docx_extract_text(df: DataFrame, payload_col: str = "payload",
                      id_col: str = "media_id") -> DataFrame:
    """Distributed DOCX text extraction over a binary payload column:
    ``(id, text, n_chars, n_paragraphs, error)``, one row per input
    (failed extractions keep their row with null text). Arrow-batched
    ``mapInArrow``; payload bytes never leave the executor."""
    return map_rows(
        df, lambda p: [_with_n_chars(*extract_docx_text(p))],
        f"{id_col} long, text string, n_chars long, n_paragraphs int, "
        "error string", [payload_col], id_col)


# ---------------------------------------------------------------------------
# test/query fixture generator
# ---------------------------------------------------------------------------

def _esc_xml(s: str) -> str:
    return (s.replace("&", "&amp;").replace("<", "&lt;")
            .replace(">", "&gt;"))


def _zip_bytes(members, compress: bool, stored=()) -> bytes:
    """ZIP the ``(name, text)`` members in order, deflated unless
    ``compress`` is false (names in ``stored`` are always stored).
    Every member carries one fixed timestamp, so the same document
    always gives the same bytes."""
    method = zipfile.ZIP_DEFLATED if compress else zipfile.ZIP_STORED
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for name, data in members:
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            zf.writestr(info, data,
                        zipfile.ZIP_STORED if name in stored else method)
    return buf.getvalue()


def docx_bytes(text: str, compress: bool = True) -> bytes:
    """A minimal structurally-valid DOCX showing ``text`` (one
    ``<w:p>`` per input line, each line split into two ``<w:t>``
    runs so run concatenation is exercised): [Content_Types].xml,
    the package relationship, and word/document.xml, zipped with
    deflate (or stored when ``compress=False``)."""
    paras = []
    for ln in text.split("\n"):
        mid = len(ln) // 2
        runs = (f"<w:r><w:t xml:space=\"preserve\">"
                f"{_esc_xml(ln[:mid])}</w:t></w:r>"
                f"<w:r><w:t xml:space=\"preserve\">"
                f"{_esc_xml(ln[mid:])}</w:t></w:r>")
        paras.append(f"<w:p>{runs}</w:p>")
    doc = ("<?xml version=\"1.0\" encoding=\"UTF-8\"?>"
           "<w:document xmlns:w=\"http://schemas.openxmlformats.org/"
           "wordprocessingml/2006/main\"><w:body>"
           + "".join(paras) + "</w:body></w:document>")
    ctypes = ("<?xml version=\"1.0\"?><Types xmlns=\"http://schemas."
              "openxmlformats.org/package/2006/content-types\">"
              "<Default Extension=\"xml\" ContentType=\"application/"
              "xml\"/><Override PartName=\"/word/document.xml\" "
              "ContentType=\"application/vnd.openxmlformats-"
              "officedocument.wordprocessingml.document.main+xml\"/>"
              "</Types>")
    rels = ("<?xml version=\"1.0\"?><Relationships xmlns=\"http://"
            "schemas.openxmlformats.org/package/2006/relationships\">"
            "<Relationship Id=\"rId1\" Type=\"http://schemas."
            "openxmlformats.org/officeDocument/2006/relationships/"
            "officeDocument\" Target=\"word/document.xml\"/>"
            "</Relationships>")
    return _zip_bytes([("[Content_Types].xml", ctypes),
                       ("_rels/.rels", rels),
                       ("word/document.xml", doc)], compress)


# ---------------------------------------------------------------------------
# ODT (OpenDocument text) — the same ZIP walk, content.xml part
# ---------------------------------------------------------------------------

_ODT_P = re.compile(rb"<text:p(?:\s[^>]*)?>(.*?)</text:p>", re.S)
_ODT_BR = re.compile(rb"<text:line-break\s*/>")
_ODT_TAB = re.compile(rb"<text:tab\s*/>")
_ODT_TAGS = re.compile(rb"<[^>]+>")


def extract_odt_text(payload, max_xml: int = MAX_XML_BYTES
                     ) -> Tuple[Optional[str], int, Optional[str]]:
    """Extract visible text from one ODT payload — the OpenDocument
    twin of :func:`extract_docx_text`: the ZIP member is
    ``content.xml``, paragraphs are ``<text:p>`` elements (inner
    ``<text:span>`` markup stripped, ``<text:line-break/>`` /
    ``<text:tab/>`` honored), entities unescape, the inflate cap is
    enforced on the decompressed part."""
    if payload is None or len(payload) < 4:
        return (None, 0, "empty/truncated payload")
    p = bytes(payload)
    if p[:2] != b"PK":
        return (None, 0, "not a ZIP container")
    try:
        zf = zipfile.ZipFile(io.BytesIO(p))
        names = set(zf.namelist())
    except Exception as e:
        return (None, 0, f"corrupt zip: {e}")
    if "content.xml" not in names:
        return (None, 0, "no content.xml (not an ODT)")
    try:
        with zf.open("content.xml") as fh:
            data = fh.read(max_xml + 1)
    except Exception as e:
        return (None, 0, f"corrupt content part: {e}")
    err = None
    if len(data) > max_xml:
        err = "content.xml inflate cap exceeded"
        data = data[:max_xml]
    paras = []
    for body in _ODT_P.findall(data):
        body = _ODT_BR.sub(b"\n", body)
        body = _ODT_TAB.sub(b"\t", body)
        body = _ODT_TAGS.sub(b"", body)
        paras.append(_unescape_xml(body).decode("utf-8", "replace"))
    if not paras:
        return (None, 0, err or "no text paragraphs")
    return ("\n".join(paras), len(paras), err)


# ---------------------------------------------------------------------------
# PPTX (PresentationML) — ppt/slides/slideN.xml, <a:t> runs
# ---------------------------------------------------------------------------

_SLIDE_NAME = re.compile(r"^ppt/slides/slide(\d+)\.xml$")
_A_PARA = re.compile(rb"<a:p(?:\s[^>]*)?>(.*?)</a:p>", re.S)
_A_RUN = re.compile(rb"<a:t(?:\s[^>]*)?>(.*?)</a:t>", re.S)
_A_BR = re.compile(rb"<a:br\s*/>")


def extract_pptx_text(payload, max_xml: int = MAX_XML_BYTES
                      ) -> Tuple[Optional[str], int, Optional[str]]:
    """Extract visible text from one PPTX payload — the slide-deck
    sibling of :func:`extract_docx_text`: the ZIP members are
    ``ppt/slides/slideN.xml`` walked in slide order (numeric N, the
    presentation's display order), paragraphs are ``<a:p>`` elements
    whose ``<a:t>`` runs concatenate (``<a:br/>`` honored as a
    newline), entities unescape. Returns ``(text, n_slides,
    error)``; the inflate cap applies per slide part AND to the deck
    total."""
    if payload is None or len(payload) < 4:
        return (None, 0, "empty/truncated payload")
    p = bytes(payload)
    if p[:2] != b"PK":
        return (None, 0, "not a ZIP container")
    try:
        zf = zipfile.ZipFile(io.BytesIO(p))
        names = zf.namelist()
    except Exception as e:
        return (None, 0, f"corrupt zip: {e}")
    slides = sorted((int(m.group(1)), n) for n in names
                    if (m := _SLIDE_NAME.match(n)))
    if not slides:
        return (None, 0, "no ppt/slides/*.xml (not a PPTX)")
    err = None
    total = 0
    paras = []
    n_slides = 0
    for _num, member in slides:
        try:
            with zf.open(member) as fh:
                data = fh.read(max_xml + 1)
        except Exception as e:
            err = f"corrupt slide part: {e}"
            continue
        if len(data) > max_xml:
            err = "slide inflate cap exceeded"
            data = data[:max_xml]
        total += len(data)
        if total > 4 * max_xml:
            err = "deck inflate cap exceeded"
            break
        n_slides += 1
        for body in _A_PARA.findall(data):
            body = _A_BR.sub(b"\n", body)
            runs = [_unescape_xml(r) for r in _A_RUN.findall(body)]
            if runs:
                paras.append(b"".join(runs).decode("utf-8",
                                                   "replace"))
    if not paras:
        return (None, n_slides, err or "no text runs")
    return ("\n".join(paras), n_slides, err)


# ---------------------------------------------------------------------------
# XLSX (SpreadsheetML) — xl/sharedStrings.xml, <si><t> items
# ---------------------------------------------------------------------------

_SI_ITEM = re.compile(rb"<si(?:\s[^>]*)?>(.*?)</si>", re.S)
_SS_T = re.compile(rb"<t(?:\s[^>]*)?>(.*?)</t>", re.S)


def extract_xlsx_text(payload, max_xml: int = MAX_XML_BYTES
                      ) -> Tuple[Optional[str], int, Optional[str]]:
    """Extract the shared-string table from one XLSX payload — the
    text a spreadsheet contributes to a corpus (numbers live in the
    sheet cells; distinct strings live once in
    ``xl/sharedStrings.xml``): each ``<si>`` item's ``<t>`` runs
    concatenate (rich-text items carry several), items join with
    newlines in table order (the cell-reference order of first use,
    which is how writers emit them). Returns ``(text, n_strings,
    error)``."""
    if payload is None or len(payload) < 4:
        return (None, 0, "empty/truncated payload")
    p = bytes(payload)
    if p[:2] != b"PK":
        return (None, 0, "not a ZIP container")
    try:
        zf = zipfile.ZipFile(io.BytesIO(p))
        names = set(zf.namelist())
    except Exception as e:
        return (None, 0, f"corrupt zip: {e}")
    if "xl/workbook.xml" not in names:
        return (None, 0, "no xl/workbook.xml (not an XLSX)")
    if "xl/sharedStrings.xml" not in names:
        return (None, 0, "no shared strings (numeric-only workbook)")
    try:
        with zf.open("xl/sharedStrings.xml") as fh:
            data = fh.read(max_xml + 1)
    except Exception as e:
        return (None, 0, f"corrupt sharedStrings part: {e}")
    err = None
    if len(data) > max_xml:
        err = "sharedStrings inflate cap exceeded"
        data = data[:max_xml]
    items = []
    for body in _SI_ITEM.findall(data):
        runs = [_unescape_xml(r) for r in _SS_T.findall(body)]
        items.append(b"".join(runs).decode("utf-8", "replace"))
    if not items:
        return (None, 0, err or "no string items")
    return ("\n".join(items), len(items), err)


def pptx_extract_text(df: DataFrame, payload_col: str = "payload",
                      id_col: str = "media_id") -> DataFrame:
    """Distributed PPTX text extraction over a binary payload column:
    ``(id, text, n_chars, n_slides, error)``, one row per input
    (failed extractions keep their row with null text).
    Arrow-batched ``mapInArrow``; payload bytes never leave the
    executor."""
    return map_rows(
        df, lambda p: [_with_n_chars(*extract_pptx_text(p))],
        f"{id_col} long, text string, n_chars long, n_slides int, "
        "error string", [payload_col], id_col)


def xlsx_extract_text(df: DataFrame, payload_col: str = "payload",
                      id_col: str = "media_id") -> DataFrame:
    """Distributed XLSX shared-string extraction over a binary
    payload column: ``(id, text, n_chars, n_strings, error)``, one
    row per input. Arrow-batched ``mapInArrow``."""
    return map_rows(
        df, lambda p: [_with_n_chars(*extract_xlsx_text(p))],
        f"{id_col} long, text string, n_chars long, n_strings int, "
        "error string", [payload_col], id_col)


def office_extract_text(df: DataFrame, payload_col: str = "payload",
                        id_col: str = "media_id") -> DataFrame:
    """Distributed office-document extraction dispatching on the ZIP
    contents: DOCX (``word/document.xml``), ODT (``content.xml``),
    PPTX (``ppt/slides/``) and XLSX (``xl/workbook.xml``) payloads in
    one column, ``(id, kind, text, n_chars, n_paragraphs, error)``
    out, one row per input (``n_paragraphs`` counts the format's
    natural text unit: paragraphs, slides, string items).
    Arrow-batched ``mapInArrow``."""
    extract = {"docx": extract_docx_text, "pptx": extract_pptx_text,
               "xlsx": extract_xlsx_text, "odt": extract_odt_text}

    def office(p):
        kind = None
        if p is not None and p[:2] == b"PK":
            try:
                names = set(zipfile.ZipFile(io.BytesIO(p)).namelist())
                if "word/document.xml" in names:
                    kind = "docx"
                elif any(_SLIDE_NAME.match(n) for n in names):
                    kind = "pptx"
                elif "xl/workbook.xml" in names:
                    kind = "xlsx"
                elif "content.xml" in names:
                    kind = "odt"
            except Exception:
                pass
        if kind is None:
            return [(None, None, None, 0,
                     "not a DOCX/ODT/PPTX/XLSX container")]
        return [(kind, *_with_n_chars(*extract[kind](p)))]

    return map_rows(
        df, office, f"{id_col} long, kind string, text string, "
        "n_chars long, n_paragraphs int, error string", [payload_col],
        id_col)


def odt_bytes(text: str, compress: bool = True) -> bytes:
    """A minimal structurally-valid ODT showing ``text`` (one
    ``<text:p>`` per line, half of it wrapped in a ``<text:span>`` so
    inner-markup stripping is exercised)."""
    paras = []
    for ln in text.split("\n"):
        mid = len(ln) // 2
        paras.append(f"<text:p>{_esc_xml(ln[:mid])}"
                     f"<text:span>{_esc_xml(ln[mid:])}</text:span>"
                     f"</text:p>")
    doc = ("<?xml version=\"1.0\" encoding=\"UTF-8\"?>"
           "<office:document-content xmlns:office=\"urn:oasis:names:"
           "tc:opendocument:xmlns:office:1.0\" xmlns:text=\"urn:"
           "oasis:names:tc:opendocument:xmlns:text:1.0\">"
           "<office:body><office:text>" + "".join(paras)
           + "</office:text></office:body></office:document-content>")
    return _zip_bytes([("mimetype",
                        "application/vnd.oasis.opendocument.text"),
                       ("content.xml", doc)], compress)


def pptx_bytes(text: str, compress: bool = True,
               lines_per_slide: int = 0) -> bytes:
    """A minimal structurally-valid PPTX showing ``text``: one
    ``<a:p>`` per input line (each split into two ``<a:t>`` runs so
    run concatenation is exercised), ``lines_per_slide`` lines per
    slide (0 = everything on one slide). Slide members are written
    OUT of numeric order so the extractor's slide-order sort is on
    the hot path."""
    lines = text.split("\n")
    per = lines_per_slide if lines_per_slide > 0 else len(lines) or 1
    slides = [lines[i:i + per] for i in range(0, len(lines), per)] \
        or [[""]]

    def slide_xml(lns):
        paras = []
        for ln in lns:
            mid = len(ln) // 2
            paras.append(
                f"<a:p><a:r><a:t>{_esc_xml(ln[:mid])}</a:t></a:r>"
                f"<a:r><a:t>{_esc_xml(ln[mid:])}</a:t></a:r></a:p>")
        return ("<?xml version=\"1.0\"?><p:sld xmlns:p=\"http://"
                "schemas.openxmlformats.org/presentationml/2006/"
                "main\" xmlns:a=\"http://schemas.openxmlformats.org/"
                "drawingml/2006/main\"><p:cSld><p:spTree><p:sp>"
                "<p:txBody>" + "".join(paras)
                + "</p:txBody></p:sp></p:spTree></p:cSld></p:sld>")

    pres = ("<?xml version=\"1.0\"?><p:presentation xmlns:p=\"http://"
            "schemas.openxmlformats.org/presentationml/2006/main\"/>")
    ctypes = ("<?xml version=\"1.0\"?><Types xmlns=\"http://"
              "schemas.openxmlformats.org/package/2006/"
              "content-types\"/>")
    return _zip_bytes(
        [("[Content_Types].xml", ctypes), ("ppt/presentation.xml", pres)]
        + [(f"ppt/slides/slide{num}.xml", slide_xml(slides[num - 1]))
           for num in range(len(slides), 0, -1)],  # reverse member order
        compress)


def xlsx_bytes(strings, compress: bool = True) -> bytes:
    """A minimal structurally-valid XLSX whose shared-string table
    holds ``strings`` in order (every second item written as a
    two-run rich-text ``<si>`` so run concatenation is exercised)."""
    items = []
    for k, s in enumerate(strings):
        s = str(s)
        if k % 2:
            # split BEFORE escaping: splitting an escaped string can
            # cut an entity ("&amp;" -> "&a" + "mp;") which the
            # per-run unescape then cannot reassemble
            mid = len(s) // 2
            items.append(f"<si><r><t>{_esc_xml(s[:mid])}</t></r>"
                         f"<r><t>{_esc_xml(s[mid:])}</t></r></si>")
        else:
            items.append(f"<si><t xml:space=\"preserve\">"
                         f"{_esc_xml(s)}</t></si>")
    sst = ("<?xml version=\"1.0\"?><sst xmlns=\"http://schemas."
           "openxmlformats.org/spreadsheetml/2006/main\" count=\""
           f"{len(items)}\" uniqueCount=\"{len(items)}\">"
           + "".join(items) + "</sst>")
    wb = ("<?xml version=\"1.0\"?><workbook xmlns=\"http://schemas."
          "openxmlformats.org/spreadsheetml/2006/main\"><sheets>"
          "<sheet name=\"S1\" sheetId=\"1\"/></sheets></workbook>")
    return _zip_bytes([("xl/workbook.xml", wb),
                       ("xl/sharedStrings.xml", sst)], compress)


# ---------------------------------------------------------------------------
# EPUB — OPF manifest + spine, XHTML chapters (the book container)
# ---------------------------------------------------------------------------

_ROOTFILE = re.compile(rb"<rootfile\s[^>]*full-path=\"([^\"]+)\"")
_OPF_ITEM = re.compile(rb"<item\s[^>]*/?>")
_OPF_ATTR = re.compile(rb"([a-zA-Z-]+)=\"([^\"]*)\"")
_SPINE_REF = re.compile(rb"<itemref\s[^>]*idref=\"([^\"]+)\"")


def extract_epub_chapters(payload, max_xml: int = MAX_XML_BYTES,
                          max_total: int = 4 * MAX_XML_BYTES):
    """Extract the spine-ordered chapter XHTML from one EPUB payload:
    ``META-INF/container.xml`` names the OPF package file, the OPF
    manifest maps item ids to hrefs, and the spine lists the reading
    order. Returns ``(chapters, hrefs, error)`` where ``chapters``
    is the list of chapter XHTML strings in spine order (``None`` on
    a non-EPUB payload); hrefs resolve relative to the OPF
    directory. Caps apply per chapter and to the book total — a
    crafted bomb yields a partial book plus an error, never an OOM.
    The chapter HTML itself is NOT parsed here: callers clean it
    JVM-side with ``text.html_visible_text`` (see
    ``epub_extract_text``), keeping Python out of the HTML hot
    path."""
    import posixpath

    if payload is None or len(payload) < 4:
        return (None, None, "empty/truncated payload")
    p = bytes(payload)
    if p[:2] != b"PK":
        return (None, None, "not a ZIP container")
    try:
        zf = zipfile.ZipFile(io.BytesIO(p))
        names = set(zf.namelist())
    except Exception as e:
        return (None, None, f"corrupt zip: {e}")
    if "META-INF/container.xml" not in names:
        return (None, None, "no META-INF/container.xml (not an EPUB)")
    try:
        with zf.open("META-INF/container.xml") as fh:
            cont = fh.read(1 << 16)
    except Exception as e:
        return (None, None, f"corrupt container.xml: {e}")
    m = _ROOTFILE.search(cont)
    if m is None:
        return (None, None, "container.xml names no rootfile")
    opf_path = m.group(1).decode("utf-8", "replace")
    if opf_path not in names:
        return (None, None, f"rootfile {opf_path!r} missing")
    try:
        with zf.open(opf_path) as fh:
            opf = fh.read(max_xml + 1)
    except Exception as e:
        return (None, None, f"corrupt OPF: {e}")
    manifest = {}
    for tag in _OPF_ITEM.findall(opf):
        attrs = {k.decode(): v.decode("utf-8", "replace")
                 for k, v in _OPF_ATTR.findall(tag)}
        if "id" in attrs and "href" in attrs:
            manifest[attrs["id"]] = attrs
    opf_dir = posixpath.dirname(opf_path)
    chapters, hrefs = [], []
    err = None
    total = 0
    for idref in _SPINE_REF.findall(opf):
        item = manifest.get(idref.decode("utf-8", "replace"))
        if item is None:
            err = "spine idref missing from manifest"
            continue
        href = item["href"]
        member = posixpath.normpath(
            posixpath.join(opf_dir, href) if opf_dir else href)
        if member not in names:
            err = f"chapter {href!r} missing"
            continue
        try:
            with zf.open(member) as fh:
                data = fh.read(max_xml + 1)
        except Exception as e:
            err = f"corrupt chapter part: {e}"
            continue
        if len(data) > max_xml:
            err = "chapter inflate cap exceeded"
            data = data[:max_xml]
        total += len(data)
        if total > max_total:
            err = "book inflate cap exceeded"
            break
        chapters.append(data.decode("utf-8", "replace"))
        hrefs.append(href)
    if not chapters:
        return (None, None, err or "empty spine")
    return (chapters, hrefs, err)


def epub_extract_chapters(df: DataFrame,
                          payload_col: str = "payload",
                          id_col: str = "media_id") -> DataFrame:
    """Distributed EPUB container walk over a binary payload column:
    ``(id, chapters array<string>, hrefs array<string>, n_chapters,
    error)``, one row per input (failed extractions keep their row
    with null chapters). Arrow-batched ``mapInArrow``; payload
    bytes never leave the executor, and the chapter XHTML stays an
    array column so the HTML cleaning composes JVM-side."""
    def chapters(p):
        ch, hr, err = extract_epub_chapters(p)
        return [(ch, hr, len(ch) if ch is not None else 0, err)]

    return map_rows(
        df, chapters, f"{id_col} long, chapters array<string>, "
        "hrefs array<string>, n_chapters int, error string",
        [payload_col], id_col)


def epub_extract_text(df: DataFrame, payload_col: str = "payload",
                      id_col: str = "media_id") -> DataFrame:
    """Distributed EPUB text extraction: the container walk of
    :func:`epub_extract_chapters` composed with
    ``text.html_visible_text`` applied INSIDE an array ``transform``
    — every chapter's XHTML is cleaned by the same JVM-side
    codegen'd regexp chain the HTML crawl path uses, then chapters
    join with newlines. ``(id, text, n_chars, n_chapters, error)``
    out; no shuffle anywhere (one Arrow-batched container walk, one
    codegen projection)."""
    from pyspark.sql import functions as F

    from ..operators.text import html_visible_text

    ch = epub_extract_chapters(df, payload_col, id_col)
    cleaned = F.transform("chapters", html_visible_text)
    txt = F.when(F.col("chapters").isNotNull(),
                 F.array_join(cleaned, "\n"))
    return ch.select(
        F.col(id_col), txt.alias("text"),
        F.length(txt).cast("long").alias("n_chars"),
        "n_chapters", "error")


def epub_bytes(chapters, compress: bool = True) -> bytes:
    """A minimal structurally-valid EPUB whose spine carries
    ``chapters`` (a list of body-HTML strings) in order: mimetype,
    META-INF/container.xml, an OPF with manifest + spine, and one
    XHTML file per chapter (with a <head> and a <script> that the
    HTML cleaner must drop). Manifest item order is REVERSED from
    spine order so spine-order resolution is exercised."""
    n = len(chapters)
    items = "".join(
        f"<item id=\"c{k}\" href=\"ch{k}.xhtml\" "
        f"media-type=\"application/xhtml+xml\"/>"
        for k in reversed(range(n)))
    spine = "".join(f"<itemref idref=\"c{k}\"/>" for k in range(n))
    opf = ("<?xml version=\"1.0\"?><package xmlns=\"http://www.idpf."
           "org/2007/opf\" version=\"3.0\" unique-identifier=\"id\">"
           "<metadata/><manifest>" + items + "</manifest><spine>"
           + spine + "</spine></package>")
    container = ("<?xml version=\"1.0\"?><container version=\"1.0\" "
                 "xmlns=\"urn:oasis:names:tc:opendocument:xmlns:"
                 "container\"><rootfiles><rootfile full-path=\"OEBPS/"
                 "content.opf\" media-type=\"application/oebps-"
                 "package+xml\"/></rootfiles></container>")
    return _zip_bytes(
        [("mimetype", "application/epub+zip"),
         ("META-INF/container.xml", container),
         ("OEBPS/content.opf", opf)]
        + [(f"OEBPS/ch{k}.xhtml",
            "<?xml version=\"1.0\"?><html xmlns=\"http://www.w3."
            "org/1999/xhtml\"><head><title>skip</title></head>"
            "<body><script>gone()</script>" + body + "</body></html>")
           for k, body in enumerate(chapters)],
        compress, stored=("mimetype",))
