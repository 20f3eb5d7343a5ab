"""WARC (Web ARChive, ISO 28500) ingestion — the container format of
web-crawl corpora (Common-Crawl-style dumps): a file is a sequence of
records, each a ``WARC/1.x`` version line, colon-separated headers, a
blank line and ``Content-Length`` payload bytes; archives usually
store one gzip member per record so readers can split on member
boundaries.

Spark shape: ``binaryFiles`` + executor-side record parse, the same
posture as the XML/YAML readers (``reader.py``) — parallelism is by
FILE, which matches how crawl dumps ship (thousands of ~1 GB
segments). For the few-huge-files shipping shape, ``read_warc``
additionally supports intra-file parallelism over gzip members:
``chunk_bytes=N`` runs a streaming pre-index pass (one task per file,
bounded memory) that records member byte ranges, then parses ~N-byte
runs of members in separate range-reading tasks — the per-record
member layout exists precisely to allow this.
"""

from __future__ import annotations

import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

WARC_SCHEMA = T.StructType([
    T.StructField("file", T.StringType()),
    T.StructField("record_id", T.StringType()),
    T.StructField("warc_type", T.StringType()),
    T.StructField("target_uri", T.StringType()),
    T.StructField("warc_date", T.StringType()),
    T.StructField("content_type", T.StringType()),
    T.StructField("content_length", T.LongType()),
    T.StructField("payload", T.BinaryType()),
    T.StructField("error", T.StringType()),
])


def _gunzip_members_ex(data: bytes, max_bytes: int = 1 << 32):
    """Concatenated-gzip-member inflate returning
    ``(inflated, error_or_None)``. On a truncated member or a
    size-cap hit the members ALREADY inflated are returned with the
    error — a corrupt tail must not silently discard the valid
    records before it. Non-gzip input passes through unchanged. The
    input is walked as a memoryview, so per-member cost is the member
    itself — a 100k-member segment stays linear, not
    O(members x file size) memcpy."""
    if data[:2] != b"\x1f\x8b":
        return data, None
    out = []
    total = 0
    buf = memoryview(data)
    i = 0
    while i < len(data) and bytes(buf[i:i + 2]) == b"\x1f\x8b":
        d = zlib.decompressobj(wbits=47)
        try:
            chunk = d.decompress(buf[i:], max_bytes + 1 - total)
        except zlib.error as e:
            return b"".join(out), f"corrupt gzip member: {e}"
        total += len(chunk)
        if total > max_bytes:
            return b"".join(out), "inflated WARC exceeds max_bytes"
        if not d.eof:
            return b"".join(out), "truncated gzip member"
        out.append(chunk)
        consumed = (len(data) - i) - len(d.unused_data)
        if consumed <= 0:
            break
        i += consumed
    return b"".join(out), None


def index_gzip_members(stream, max_bytes: int = 1 << 32,
                       read_size: int = 1 << 20):
    """Byte ranges ``[(start, end), ...]`` of the gzip members in a
    file-like ``stream`` — the pre-index pass behind ``read_warc``'s
    intra-file parallelism. Streams the file in ``read_size`` input
    chunks and DISCARDS inflated output, so memory stays bounded by
    one input chunk regardless of file or member size (a 1 GB segment
    indexes in ~read_size resident bytes). ``max_bytes`` caps the
    total inflated size, the same bomb guard as the inflate path."""
    offsets = []
    pos = 0              # absolute offset of the next unparsed byte
    start = None
    d = None
    total = 0
    pending = b""
    while True:
        chunk = stream.read(read_size)
        if not chunk:
            break
        data = pending + chunk
        pending = b""
        while data:
            if d is None:
                if data[:2] == b"\x1f\x8b":
                    start = pos
                    d = zlib.decompressobj(wbits=47)
                elif len(data) == 1:
                    # magic split across the chunk boundary
                    pending = data
                    break
                else:
                    return offsets       # trailing garbage ends walk
            base = len(data)
            # inflate-and-discard in read_size output slices so one
            # highly-compressible input chunk can't balloon a single
            # decompress() call
            while True:
                out = d.decompress(data, read_size)
                total += len(out)
                if total > max_bytes:
                    raise ValueError("inflated WARC exceeds max_bytes")
                if d.eof or not d.unconsumed_tail:
                    break
                data = d.unconsumed_tail
            if d.eof:
                # unused_data is a suffix of the original block, so
                # consumed = base - len(unused_data) holds across the
                # unconsumed_tail re-feeds above
                pos += base - len(d.unused_data)
                offsets.append((start, pos))
                data = d.unused_data
                d = None
                start = None
            else:
                pos += base
                data = b""
    if d is not None:
        raise ValueError("truncated gzip member")
    return offsets


def parse_warc_records(data: bytes):
    """Yield ``(headers_dict, payload_bytes)`` per WARC record.
    Header names lowercase; malformed trailing garbage ends the walk
    rather than raising (a crawl segment can be truncated)."""
    i = 0
    while True:
        j = data.find(b"WARC/", i)
        if j < 0:
            return
        he = data.find(b"\r\n\r\n", j)
        if he < 0:
            return
        lines = data[j:he].decode("utf-8", "replace").split("\r\n")
        hdrs = {}
        for line in lines[1:]:
            if ":" in line:
                k, v = line.split(":", 1)
                hdrs[k.strip().lower()] = v.strip()
        try:
            # clamp: a negative Content-Length would walk i backwards
            # and re-yield the same record forever
            n = max(0, int(hdrs.get("content-length", "0")))
        except ValueError:
            n = 0
        if he + 4 + n > len(data):
            # final record cut mid-payload: drop it rather than yield
            # a silently short body as if it were a complete document
            return
        body = data[he + 4:he + 4 + n]
        yield hdrs, body
        i = he + 4 + n


def strip_http_headers(body: bytes) -> bytes:
    """For ``response`` records the payload is an HTTP message;
    return just its entity body (bytes after the header block).
    Falls back to bare-LF header delimiters — non-conformant but
    real servers emit them, and leaving the header block in would
    pollute the extracted text."""
    if body[:5] != b"HTTP/":
        return body
    sep = body.find(b"\r\n\r\n")
    if sep >= 0:
        return body[sep + 4:]
    sep = body.find(b"\n\n")
    return body[sep + 2:] if sep >= 0 else body


def _record_rows(fname: str, raw: bytes, http_body: bool,
                 error: str = None):
    rows = []
    for hdrs, body in parse_warc_records(raw):
        if http_body and hdrs.get("warc-type") == "response":
            body = strip_http_headers(body)
        rows.append((fname,
                     hdrs.get("warc-record-id"),
                     hdrs.get("warc-type"),
                     hdrs.get("warc-target-uri"),
                     hdrs.get("warc-date"),
                     hdrs.get("content-type"),
                     len(body),
                     bytearray(body),
                     None))
    if error is not None:
        # surface the drop: an over-cap or corrupt segment must be
        # distinguishable from an empty archive (all-null record
        # fields + the error message; filter `error IS NULL` for data)
        rows.append((fname, None, None, None, None, None, None,
                     None, error))
    return rows


def _local_path(uri: str) -> str:
    if uri.startswith("file:"):
        uri = uri[5:]
        while uri.startswith("//"):
            uri = uri[1:]
    return uri


def read_warc(spark: SparkSession, path: str,
              http_body: bool = False,
              max_bytes_per_file: int = 1 << 32,
              chunk_bytes: int = None) -> DataFrame:
    """Read WARC file(s) into (file, record_id, warc_type,
    target_uri, warc_date, content_type, content_length, payload,
    error).

    Handles plain and per-record-gzip archives (member-concatenated
    streams inflate with a size cap). A truncated/corrupt/over-cap
    tail degrades: records from the members that DID inflate are
    kept and one all-null row carries the error message, so a bad
    segment is never silently indistinguishable from an empty one.
    With ``http_body=True``, ``response`` payloads are stripped to
    the HTTP entity body — the usual first step before charset
    decode + quality filtering.

    ``chunk_bytes``: intra-file parallelism for giant gzip-member
    segments (local/posix-mounted paths). A streaming pre-index job
    (one task per file, bounded memory) records member byte ranges;
    members are then grouped into ~chunk_bytes compressed runs and
    each run parses in its own range-reading task — a 10 GB segment
    becomes ~10 GB/chunk_bytes tasks instead of one straggler. Falls
    back to whole-file parsing for plain (non-member) archives.

    Payload bytes stay executor-side; compose with
    ``operators.multimodal.decompress_payloads`` /
    ``operators.text`` for the rest of the landing pipeline."""
    if chunk_bytes is not None:
        return _read_warc_chunked(spark, path, http_body,
                                  max_bytes_per_file, chunk_bytes)
    rdd = spark.sparkContext.binaryFiles(path)

    def parse(kv):
        fname, data = kv
        raw, err = _gunzip_members_ex(bytes(data), max_bytes_per_file)
        return _record_rows(fname, raw, http_body, err)

    return spark.createDataFrame(rdd.flatMap(parse), WARC_SCHEMA)


def _read_warc_chunked(spark: SparkSession, path: str,
                       http_body: bool, max_bytes_per_file: int,
                       chunk_bytes: int) -> DataFrame:
    import glob as _glob
    import os

    p = _local_path(path)
    files = sorted(_glob.glob(p)) if _glob.has_magic(p) else (
        sorted(_glob.glob(os.path.join(p, "*")))
        if os.path.isdir(p) else [p])
    files = [f for f in files if os.path.isfile(f)]
    sc = spark.sparkContext

    def index_one(fname):
        with open(fname, "rb") as fh:
            magic = fh.read(2)
            fh.seek(0)
            if magic != b"\x1f\x8b":
                return [(fname, None, None, None)]   # plain: 1 task
            try:
                spans = index_gzip_members(fh, max_bytes_per_file)
            except ValueError as e:
                # salvage: re-index leniently by walking members until
                # the failure — the inflate pass below redoes the same
                # walk, so just mark the file for whole-file salvage
                return [(fname, None, None, str(e))]
        chunks = []
        start, end, size = None, None, 0
        for s, e in spans:
            if start is None:
                start = s
            end = e
            size += e - s
            if size >= chunk_bytes:
                chunks.append((fname, start, end, None))
                start, size = None, 0
        if start is not None:
            chunks.append((fname, start, end, None))
        return chunks or [(fname, None, None, None)]

    # pre-index pass: one lightweight task per file
    chunks = sc.parallelize(files, max(1, len(files))) \
        .flatMap(index_one).collect()

    def parse_chunk(ch):
        fname, start, end, idx_err = ch
        with open(fname, "rb") as fh:
            if start is None:
                data = fh.read()
            else:
                fh.seek(start)
                data = fh.read(end - start)
        raw, err = _gunzip_members_ex(data, max_bytes_per_file)
        return _record_rows(fname, raw, http_body, idx_err or err)

    rdd = sc.parallelize(chunks, max(1, len(chunks))).flatMap(parse_chunk)
    return spark.createDataFrame(rdd, WARC_SCHEMA)


def warc_bytes(records, gzip_members: bool = False) -> bytes:
    """Synthetic WARC writer (the test/round-trip twin of
    :func:`read_warc`): ``records`` is a list of (headers_dict,
    payload_bytes); with ``gzip_members`` each record becomes its own
    gzip member, the real archives' layout."""
    import gzip as _gzip

    out = []
    for hdrs, body in records:
        head = "WARC/1.0\r\n" + "".join(
            f"{k}: {v}\r\n" for k, v in hdrs.items()
            if k.lower() != "content-length")
        head += f"Content-Length: {len(body)}\r\n\r\n"
        rec = head.encode() + body + b"\r\n\r\n"
        out.append(_gzip.compress(rec) if gzip_members else rec)
    return b"".join(out)
