"""PDF text extraction — the one major pretraining text source the
ingest ladder (HTML, WARC, gzip/xz, XML, YAML, CSV, JSON) did not yet
cover. Stdlib-only, same discipline as the other real codecs in this
repo: zlib for FlateDecode (the ``decompress_payloads`` posture),
bomb caps on every inflate, and corrupt-tail salvage like ``warc.py``
— a broken xref or a truncated object must not discard the text that
IS recoverable.

No reference counterpart: structa reads JSON/CSV/YAML only
(``/root/reference/structa/source.py:226-254``); this module exists
because a corpus-curation user of the engine hits PDFs immediately.

Scope (documented, principled): text-showing operators ``Tj`` ``TJ``
``'`` ``"`` inside ``BT``..``ET`` blocks, literal ``(...)`` strings
with the full escape table (ISO 32000-1 §7.3.4.2) and ``<...>`` hex
strings, ``FlateDecode`` content streams, and newline structure from
the text-positioning operators (``Td``/``TD``/``T*``/``Tm`` start a
new line once a run has been shown). String bytes decode as UTF-8
with a Latin-1 fallback — embedded CID fonts with /ToUnicode CMaps
would need the CMap walk and are out of scope (their text extracts,
but in font-encoding bytes).

Spark shape: parsing is a pure per-row function — ``extract_pdf_text``
runs through the Arrow row mapper ``functions.rows.map_rows``, over a
payload column (``pdf_extract_text``) or over the ``binaryFile``
source's ``content`` column (``read_pdf``); payload bytes stay
executor-side and only the extracted text crosses into the plan. No
shuffle: a 100 TB crawl of PDFs maps partition-parallel, exactly like
the WARC/multimodal decoders."""

from __future__ import annotations

import re
import zlib
from typing import Optional, Tuple

from pyspark.sql import DataFrame, SparkSession

from ..functions.rows import map_rows

# per-stream and per-document inflate caps: a 1 KB FlateDecode bomb
# can inflate 1000x; text extraction never needs unbounded output
MAX_STREAM_BYTES = 1 << 24
MAX_DOC_BYTES = 1 << 26

_ESCAPES = {
    ord("n"): b"\n", ord("r"): b"\r", ord("t"): b"\t",
    ord("b"): b"\b", ord("f"): b"\f",
    ord("("): b"(", ord(")"): b")", ord("\\"): b"\\",
}


def _decode_literal(raw: bytes) -> bytes:
    """Unescape a PDF literal-string body (the bytes between the
    outer parens, nesting already handled by the tokenizer):
    backslash escapes incl. \\ddd octal (1-3 digits) and the
    line-continuation backslash-newline (ISO 32000-1 §7.3.4.2)."""
    out = bytearray()
    i, n = 0, len(raw)
    while i < n:
        c = raw[i]
        if c != 0x5C:  # backslash
            out.append(c)
            i += 1
            continue
        i += 1
        if i >= n:
            break
        c = raw[i]
        if c in _ESCAPES:
            out += _ESCAPES[c]
            i += 1
        elif 0x30 <= c <= 0x37:  # octal, up to 3 digits
            j = i
            while j < n and j - i < 3 and 0x30 <= raw[j] <= 0x37:
                j += 1
            out.append(int(raw[i:j], 8) & 0xFF)
            i = j
        elif c in (0x0A, 0x0D):  # backslash-EOL: line continuation
            i += 1
            if c == 0x0D and i < n and raw[i] == 0x0A:
                i += 1
        else:  # unknown escape: the backslash is dropped (spec)
            out.append(c)
            i += 1
    return bytes(out)


def _to_text(raw: bytes) -> str:
    try:
        return raw.decode("utf-8")
    except UnicodeDecodeError:
        return raw.decode("latin-1")


def _tokenize_content(data: bytes):
    """Content-stream tokenizer: yields ``("str", bytes)`` for
    literal/hex strings, ``("arr", [bytes, ...])`` for arrays'
    string elements, and ``("op", name)`` for operators. Numbers,
    names and dicts are consumed but not emitted — text extraction
    only needs strings and the operator structure around them."""
    i, n = 0, len(data)
    arr: Optional[list] = None
    while i < n:
        c = data[i]
        if c == 0x28:  # ( literal string, nesting + escapes
            depth, j = 1, i + 1
            start = j
            while j < n and depth:
                cj = data[j]
                if cj == 0x5C:
                    j += 2
                    continue
                if cj == 0x28:
                    depth += 1
                elif cj == 0x29:
                    depth -= 1
                j += 1
            s = _decode_literal(data[start:j - 1])
            if arr is not None:
                arr.append(s)
            else:
                yield ("str", s)
            i = j
        elif c == 0x3C and i + 1 < n and data[i + 1] == 0x3C:
            i += 2  # << dict start: skip the delimiters, walk inside
        elif c == 0x3E and i + 1 < n and data[i + 1] == 0x3E:
            i += 2
        elif c == 0x3C:  # < hex string >
            j = data.find(b">", i + 1)
            if j < 0:
                j = n
            hx = re.sub(rb"[^0-9A-Fa-f]", b"", data[i + 1:j])
            if len(hx) % 2:
                hx += b"0"
            s = bytes.fromhex(hx.decode("ascii"))
            if arr is not None:
                arr.append(s)
            else:
                yield ("str", s)
            i = j + 1
        elif c == 0x5B:  # [ array
            arr = []
            i += 1
        elif c == 0x5D:  # ]
            if arr is not None:
                yield ("arr", arr)
                arr = None
            i += 1
        elif c == 0x25:  # % comment to EOL
            j = i
            while j < n and data[j] not in (0x0A, 0x0D):
                j += 1
            i = j
        else:
            m = re.match(rb"[A-Za-z'\"*]+", data[i:i + 16])
            if m and not (0x30 <= c <= 0x39 or c in (0x2B, 0x2D,
                                                     0x2E)):
                yield ("op", m.group().decode("latin-1"))
                i += len(m.group())
            else:
                i += 1


def _text_from_content(data: bytes) -> list:
    """Visible text runs from one content stream: inside BT..ET,
    ``Tj``/``'``/``\"`` show the pending string, ``TJ`` shows its
    array's string elements, and ``Td``/``TD``/``T*``/``Tm`` (and the
    ``'``/``\"`` implicit next-line) break lines once something has
    been shown. Returns the stream's lines."""
    lines: list = []
    cur: list = []
    in_text = False
    shown = False
    pending: Optional[bytes] = None
    pending_arr: Optional[list] = None

    def breakline():
        nonlocal shown
        if shown:
            lines.append("".join(cur))
            cur.clear()

    for kind, val in _tokenize_content(data):
        if kind == "str":
            pending = val
        elif kind == "arr":
            pending_arr = val
        else:  # operator
            if val == "BT":
                in_text, shown = True, False
            elif val == "ET":
                if in_text and shown:
                    lines.append("".join(cur))
                    cur.clear()
                in_text = False
            elif not in_text:
                pass
            elif val == "Tj" and pending is not None:
                cur.append(_to_text(pending))
                shown = True
            elif val == "TJ" and pending_arr is not None:
                cur.append("".join(_to_text(s) for s in pending_arr))
                shown = True
            elif val in ("'", '"') and pending is not None:
                breakline()
                cur.append(_to_text(pending))
                shown = True
            elif val in ("Td", "TD", "T*", "Tm"):
                breakline()
            pending = None
            pending_arr = None
    if cur and shown:
        lines.append("".join(cur))
    return lines


_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")
_FLATE_RE = re.compile(rb"/Filter\s*(?:\[\s*)?/FlateDecode\b")


def extract_pdf_text(payload,
                     max_stream: int = MAX_STREAM_BYTES,
                     max_total: int = MAX_DOC_BYTES,
                     ) -> Tuple[Optional[str], int, Optional[str]]:
    """Extract visible text from one PDF payload. Returns
    ``(text, n_text_streams, error)`` — text is the newline-joined
    lines of every content stream that shows text, in file order;
    a non-PDF payload yields ``(None, 0, reason)``.

    The object walk is a linear scan for ``N G obj``..``endobj``
    (repair-mode style) rather than an xref-table walk: real-world
    tails are truncated, xrefs lie after incremental updates, and the
    scan recovers every intact object regardless — the same salvage
    posture as the WARC reader's corrupt-tail handling. The stream
    body is bounded by the declared ``/Length`` when it is a direct
    integer and by the ``endstream`` keyword otherwise; FlateDecode
    inflates through ``zlib.decompressobj`` with hard per-stream and
    per-document caps (inflate bombs yield a partial-text error, not
    an OOM)."""
    if payload is None or len(payload) < 8:
        return (None, 0, "empty/truncated payload")
    p = bytes(payload)
    if not p.startswith(b"%PDF-"):
        return (None, 0, "not a PDF (missing %PDF- header)")
    lines: list = []
    n_streams = 0
    total = 0
    err = None
    pos = 0
    for m in _OBJ_RE.finditer(p):
        if m.start() < pos:
            continue  # a "N G obj" lookalike inside stream bytes
        body_at = m.end()
        end = p.find(b"endobj", body_at)
        if end < 0:
            end = len(p)
        pos = end + 6
        obj = p[body_at:end]
        sm = re.search(rb"\bstream\r?\n", obj)
        if sm is None:
            continue
        head = obj[:sm.start()]
        # Digit boundary (?![0-9]) before the indirect-ref lookahead:
        # without it, "/Length 12 0 R" backtracks \d+ to "1", the
        # lookahead sees "2 0 R" (not \s+\d+\s+R) and a 1-byte slice
        # silently drops the stream. With it, partial-digit matches
        # are impossible and indirect /Length correctly falls through
        # to the endstream scan.
        lm = re.search(rb"/Length\s+(\d+)(?![0-9])(?!\s+\d+\s+R)", head)
        if lm:
            s_lo = sm.end()
            s_hi = min(s_lo + int(lm.group(1)), len(obj))
        else:
            s_lo = sm.end()
            s_hi = obj.find(b"endstream", s_lo)
            if s_hi < 0:
                s_hi = len(obj)
            # trim the EOL the writer puts before endstream
            while s_hi > s_lo and obj[s_hi - 1] in (0x0A, 0x0D):
                s_hi -= 1
        data = obj[s_lo:s_hi]
        if _FLATE_RE.search(head):
            d = zlib.decompressobj()
            try:
                data = d.decompress(data, max_stream + 1)
            except zlib.error as e:
                err = f"corrupt FlateDecode stream: {e}"
                continue
            if len(data) > max_stream:
                err = "stream inflate cap exceeded"
                data = data[:max_stream]
        total += len(data)
        if total > max_total:
            err = "document inflate cap exceeded"
            break
        if b"BT" not in data:
            continue
        got = _text_from_content(data)
        if got:
            n_streams += 1
            lines.extend(got)
    if not lines:
        return (None, 0, err or "no text-showing content stream")
    return ("\n".join(lines), n_streams, err)


_INFO_REF_RE = re.compile(rb"/Info\s+(\d+)\s+(\d+)\s+R")
_PAGE_RE = re.compile(rb"/Type\s*/Page(?![a-zA-Z])")
_INFO_KEYS = ("Title", "Author", "Subject", "Producer",
              "CreationDate")


def _dict_string(body: bytes, key: str) -> Optional[str]:
    """The literal- or hex-string value of ``/key`` in a dict body,
    decoded like content-stream strings; None when absent."""
    m = re.search(rb"/" + key.encode() + rb"\s*([(<])", body)
    if m is None:
        return None
    i = m.end() - 1
    if body[i] == 0x28:  # ( literal with nesting + escapes
        depth, j = 1, i + 1
        start = j
        while j < len(body) and depth:
            c = body[j]
            if c == 0x5C:
                j += 2
                continue
            if c == 0x28:
                depth += 1
            elif c == 0x29:
                depth -= 1
            j += 1
        return _to_text(_decode_literal(body[start:j - 1]))
    j = body.find(b">", i + 1)
    hx = re.sub(rb"[^0-9A-Fa-f]", b"",
                body[i + 1:j if j >= 0 else len(body)])
    if len(hx) % 2:
        hx += b"0"
    return _to_text(bytes.fromhex(hx.decode("ascii")))


def extract_pdf_info(payload) -> Tuple[dict, Optional[str]]:
    """Document-provenance metadata from one PDF payload — the PDF
    twin of the image EXIF walk: the trailer's ``/Info`` dictionary
    (Title/Author/Subject/Producer/CreationDate) plus the page count
    (``/Type /Page`` objects). Returns ``({field: value, "n_pages":
    int}, error)``; absent fields are None. When the trailer is
    missing or truncated, falls back to scanning for a dictionary
    object carrying Info-only keys (the repair-mode posture of
    :func:`extract_pdf_text`)."""
    if payload is None or len(payload) < 8:
        return ({}, "empty/truncated payload")
    p = bytes(payload)
    if not p.startswith(b"%PDF-"):
        return ({}, "not a PDF (missing %PDF- header)")
    out = {k.lower(): None for k in _INFO_KEYS}
    out["n_pages"] = len(_PAGE_RE.findall(p))
    body = None
    # Incrementally-updated PDFs append a new trailer per revision;
    # the LAST /Info reference is the authoritative one. The lookup
    # uses the captured generation number, not a hardcoded 0, so a
    # regenerated Info object (gen > 0) is still found.
    refs = list(_INFO_REF_RE.finditer(p))
    if refs:
        m = refs[-1]
        ref, gen = int(m.group(1)), int(m.group(2))
        om = re.search(rb"(?<![0-9])" + str(ref).encode()
                       + rb"\s+" + str(gen).encode() + rb"\s+obj\b",
                       p)
        if om is not None:
            end = p.find(b"endobj", om.end())
            body = p[om.end():end if end >= 0 else len(p)]
    if body is None:
        # repair mode: any dict object with an Info-ish key and no
        # /Type entry (page/catalog dicts all carry /Type)
        for om in _OBJ_RE.finditer(p):
            end = p.find(b"endobj", om.end())
            cand = p[om.end():end if end >= 0 else len(p)]
            if (re.search(rb"/(Title|Producer|CreationDate)[\s(<]",
                          cand)
                    and not re.search(rb"/Type\s*/", cand)):
                body = cand
                break
    if body is None:
        return (out, "no Info dictionary")
    for k in _INFO_KEYS:
        out[k.lower()] = _dict_string(body, k)
    return (out, None)


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------

# the columns pdf_extract_text and read_pdf emit after their key
_TEXT_COLS = "text string, n_chars long, n_text_streams int, error string"


def _text_row(payload):
    text, ns, err = extract_pdf_text(payload)
    return [(text, len(text) if text is not None else None, ns, err)]


def pdf_extract_text(df: DataFrame, payload_col: str = "payload",
                     id_col: str = "media_id") -> DataFrame:
    """Distributed PDF text extraction over a binary payload column:
    ``(id, text, n_chars, n_text_streams, error)``, one row per input
    row (failed extractions keep their row with null text — the
    decode-degradation convention of the multimodal operators).
    Arrow-batched ``mapInArrow``; payload bytes never leave the
    executor."""
    return map_rows(df, _text_row, f"{id_col} long, {_TEXT_COLS}",
                    [payload_col], id_col)


def pdf_metadata(df: DataFrame, payload_col: str = "payload",
                 id_col: str = "media_id") -> DataFrame:
    """Distributed PDF provenance extraction over a binary payload
    column: ``(id, title, author, subject, producer, creation_date,
    n_pages, error)``, one row per input (the EXIF-walk convention —
    failed parses keep their row with nulls). Arrow-batched
    ``mapInArrow``; payload bytes never leave the executor."""
    def info_row(p):
        info, err = extract_pdf_info(p)
        return [(info.get("title"), info.get("author"),
                 info.get("subject"), info.get("producer"),
                 info.get("creationdate"), info.get("n_pages"), err)]

    return map_rows(
        df, info_row, f"{id_col} long, title string, author string, "
        "subject string, producer string, creation_date string, "
        "n_pages int, error string", [payload_col], id_col)


def read_pdf(spark: SparkSession, path: str) -> DataFrame:
    """Read PDF files into ``(file, text, n_chars, n_text_streams,
    error)`` — one row per file, parallel by file through the
    ``binaryFile`` source (crawl dumps ship many files), extracted by
    the same row function as :func:`pdf_extract_text`. A file scan
    carries a size estimate, so the plan can be sized without running
    it."""
    files = spark.read.format("binaryFile").load(path)
    return map_rows(files, _text_row, f"file string, {_TEXT_COLS}",
                    ["content"], "path")


# ---------------------------------------------------------------------------
# test/query fixture generator (a writer, so the extractor is checked
# against bytes built from the SPEC, not against itself)
# ---------------------------------------------------------------------------

def _esc(line: str) -> bytes:
    raw = line.encode("utf-8")
    return (raw.replace(b"\\", b"\\\\")
            .replace(b"(", b"\\(").replace(b")", b"\\)")
            .replace(b"\r", b"\\r").replace(b"\n", b"\\n"))


def pdf_bytes(text: str, compress: bool = True,
              tj_arrays: bool = False, hex_strings: bool = False,
              indirect_length: bool = False,
              truncate_tail: bool = False,
              pad_objects: int = 0,
              info: Optional[dict] = None) -> bytes:
    """A minimal structurally-valid one-page PDF showing ``text``
    (one ``Td``/``T*`` text line per input line): header, catalog /
    pages / page / font objects, a content stream (Flate-compressed
    unless ``compress=False``), a correct xref table and trailer.
    ``tj_arrays`` renders each line as a kerned ``TJ`` array split
    mid-line, ``hex_strings`` as ``<...>`` hex shows,
    ``indirect_length`` writes ``/Length N 0 R`` (forcing the
    endstream-scan path), ``truncate_tail`` chops the xref/trailer
    off (forcing the repair-mode object scan). ``pad_objects``
    inserts that many dummy objects before the indirect length
    object so its object number gains digits — real PDFs routinely
    reference ``/Length 12 0 R`` and the extractor must not
    backtrack-match a partial digit run."""
    lines = text.split("\n")
    parts = [b"BT /F1 12 Tf 14 TL 72 720 Td"]
    for k, ln in enumerate(lines):
        if k:
            parts.append(b"T*")
        if hex_strings:
            parts.append(b"<" + ln.encode("utf-8").hex().encode()
                         + b"> Tj")
        elif tj_arrays and len(ln) > 1:
            mid = len(ln) // 2
            parts.append(b"[(" + _esc(ln[:mid]) + b") -120 ("
                         + _esc(ln[mid:]) + b")] TJ")
        else:
            parts.append(b"(" + _esc(ln) + b") Tj")
    parts.append(b"ET")
    content = b" ".join(parts)
    if compress:
        content = zlib.compress(content)
        filt = b"/Filter /FlateDecode "
    else:
        filt = b""
    if indirect_length:
        length_entry = (b"/Length " + str(6 + pad_objects).encode()
                        + b" 0 R")
    else:
        length_entry = b"/Length " + str(len(content)).encode()

    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        (b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
         b"/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>"),
        (b"<< " + length_entry + b" " + filt + b">>\nstream\n"
         + content + b"\nendstream"),
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    objs.extend(b"<< /Pad " + str(i).encode() + b" >>"
                for i in range(pad_objects))
    if indirect_length:
        objs.append(str(len(content)).encode())
    info_ref = b""
    if info is not None:
        entries = b" ".join(b"/" + k.encode() + b" ("
                            + _esc(str(v)) + b")"
                            for k, v in info.items())
        objs.append(b"<< " + entries + b" >>")
        info_ref = (b" /Info " + str(len(objs)).encode() + b" 0 R")
    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets = [0]
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += (str(i).encode() + b" 0 obj\n" + body + b"\nendobj\n")
    xref_at = len(out)
    out += b"xref\n0 " + str(len(objs) + 1).encode() + b"\n"
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += ("%010d 00000 n \n" % off).encode()
    out += (b"trailer\n<< /Size " + str(len(objs) + 1).encode()
            + b" /Root 1 0 R" + info_ref + b" >>\nstartxref\n"
            + str(xref_at).encode() + b"\n%%EOF\n")
    if truncate_tail:
        return bytes(out[:xref_at - 3])
    return bytes(out)
