"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata.

The Spark-side contract is real and tested — schemas, Arrow-batched
per-row pipelines (:func:`structa_spark.functions.rows.map_rows`, one
``mapInArrow`` shape for every operator here), partition sizing.
Decode depth by format:

* PNG — REAL pixel decode, stdlib-only (:func:`decode_png_pixels`:
  chunk walk -> zlib inflate -> per-row unfilter, all five filter
  types, gray/RGB/alpha/palette at bit depth 8).
* GIF — REAL pixel decode (:func:`decode_gif_pixels`: block walk +
  pure-Python LZW inflate, interlace, palettes).
* WAV — REAL sample decode (:func:`decode_wav_samples`: linear PCM
  8/16/32-bit and IEEE-float chunks to numpy arrays).
* JPEG — REAL baseline-sequential pixel decode
  (:mod:`structa_spark.operators.jpeg`: Huffman + dequantize +
  8x8 IDCT + chroma upsample + YCbCr->RGB, stdlib+numpy only).
  Progressive/arithmetic JPEG raises ``DecodeUnavailable``.
* MP4 — header metadata is real byte-level box parsing; sample
  decode raises ``DecodeUnavailable`` (inter-frame video genuinely
  needs ffmpeg-class codecs, absent here). Swapping one in later
  changes only the inner function body, not the distributed shape
  of the pipeline.

Batch-shape guidance for 100 TB: binary payloads dominate partition
size, so size ``spark.sql.files.maxPartitionBytes`` for the *decoded*
footprint (decoded RGB is ~10-50x the JPEG bytes), and prefer
``spark.sql.execution.arrow.maxRecordsPerBatch`` around 64-256 for
image batches so a ``mapInArrow`` batch fits executor memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.rows import map_rows, round_half_up

IMAGE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("payload", T.BinaryType()),
    T.StructField("format", T.StringType()),       # jpeg | png | ...
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
])

AUDIO_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("payload", T.BinaryType()),
    T.StructField("codec", T.StringType()),
    T.StructField("sample_rate", T.IntegerType()),
    T.StructField("n_samples", T.LongType()),
])

FEATURE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("feature", T.ArrayType(T.FloatType())),
    T.StructField("feat_dim", T.IntegerType()),
])


class DecodeUnavailable(NotImplementedError):
    """Raised by the real-decode path: codec libraries not present,
    or the payload is malformed/truncated beyond parsing."""


def _decode_errors(fn):
    """Decoders promise to raise ONLY DecodeUnavailable on bad input:
    a malformed payload otherwise surfaces struct.error / ValueError /
    IndexError from deep inside the byte walk, which the per-row
    handlers in media_stats / feature extraction would not catch — one
    corrupt file would then kill a whole 100 TB scan task."""
    import functools
    import struct

    @functools.wraps(fn)
    def wrapped(*args, **kwargs):
        try:
            return fn(*args, **kwargs)
        except DecodeUnavailable:
            raise
        except (struct.error, ValueError, IndexError, TypeError,
                OverflowError) as e:
            raise DecodeUnavailable(
                f"malformed payload: {type(e).__name__}: {e}") from e
    return wrapped


# ---------------------------------------------------------------------------
# real header parsing — no codec libraries needed
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_SOF_MARKERS = {0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF}
# Largest decoded-pixel buffer a single row may allocate (256 MiB ≈ a
# 9000x9000 RGBA frame). Headers DECLARE dimensions; a crafted payload
# can declare anything, and an executor-side OOM kills the whole scan
# task — so every pixel decoder rejects implausible declared dims
# before inflating, mirroring decompress_payloads' inflation cap.
_MAX_PIXEL_BYTES = 256 * 1024 * 1024


def parse_image_header(payload):
    """(format, width, height) from raw image bytes — a REAL decoder
    for the metadata layer: PNG IHDR (bytes 16-24 of the signature
    chunk), JPEG SOFn segment walk (height/width live 5 bytes into
    the first start-of-frame marker), GIF logical screen descriptor.
    Pure byte-slicing, so it runs fine inside Arrow batches with no
    codec libraries; full pixel decode stays behind DecodeUnavailable.
    Returns (None, None, None) for unknown/truncated payloads."""
    if payload is None or len(payload) < 10:
        return (None, None, None)
    p = bytes(payload)
    if p[:8] == _PNG_SIG and p[12:16] == b"IHDR" and len(p) >= 24:
        return ("png", int.from_bytes(p[16:20], "big"),
                int.from_bytes(p[20:24], "big"))
    if p[:2] == b"\xff\xd8":
        i = 2
        while i + 4 <= len(p):
            if p[i] != 0xFF:
                i += 1
                continue
            marker = p[i + 1]
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2          # standalone markers have no length
                continue
            if marker == 0xD9:  # EOI
                break
            seg_len = int.from_bytes(p[i + 2:i + 4], "big")
            if marker in _SOF_MARKERS and i + 9 <= len(p):
                return ("jpeg", int.from_bytes(p[i + 7:i + 9], "big"),
                        int.from_bytes(p[i + 5:i + 7], "big"))
            i += 2 + seg_len
        return ("jpeg", None, None)
    if p[:6] in (b"GIF87a", b"GIF89a"):
        return ("gif", int.from_bytes(p[6:8], "little"),
                int.from_bytes(p[8:10], "little"))
    return (None, None, None)


def parse_jpeg_quant(payload):
    """Quantization-table read-out from raw JPEG bytes — the cheap
    compression-quality screen of an image-curation pipeline (a
    heavily-quantized thumbnail is a different training asset than a
    camera original, and the DQT says which WITHOUT any pixel
    decode): walk the marker segments, parse every table in every
    DQT (8- and 16-bit precisions, multiple tables per segment), and
    return ``(n_tables, q_min, q_max, q_sum, width, height)`` with
    dimensions from the first SOFn. Returns all-None for non-JPEG /
    truncated payloads. Pure byte slicing."""
    if payload is None or len(payload) < 4 or \
            bytes(payload[:2]) != b"\xff\xd8":
        return (None, None, None, None, None, None)
    p = bytes(payload)
    vals = []
    n_tables = 0
    w = h = None
    i = 2
    while i + 4 <= len(p):
        if p[i] != 0xFF:
            i += 1
            continue
        marker = p[i + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        if marker == 0xD9:
            break
        seg_len = int.from_bytes(p[i + 2:i + 4], "big")
        body = p[i + 4:i + 2 + seg_len]
        if marker == 0xDB:
            j = 0
            while j < len(body):
                pq = body[j] >> 4
                n = 64 * (2 if pq else 1)
                raw = body[j + 1:j + 1 + n]
                if len(raw) < n:
                    break  # truncated table: keep what parsed
                if pq:
                    vals.extend(int.from_bytes(raw[k:k + 2], "big")
                                for k in range(0, n, 2))
                else:
                    vals.extend(raw)
                n_tables += 1
                j += 1 + n
        elif marker in _SOF_MARKERS and len(body) >= 5 and w is None:
            h = int.from_bytes(body[1:3], "big")
            w = int.from_bytes(body[3:5], "big")
        elif marker == 0xDA:
            break  # entropy data follows; tables all precede SOS
        i += 2 + seg_len
    if not vals:
        return (0, None, None, None, w, h)
    return (n_tables, min(vals), max(vals), sum(vals), w, h)


def jpeg_quant_stats(df: DataFrame, payload_col: str = "payload",
                     id_col: str = "media_id") -> DataFrame:
    """(id, n_tables, q_min, q_max, q_sum, width, height) parsed FROM
    THE BYTES (:func:`parse_jpeg_quant`) over Arrow batches — the
    no-decode compression-quality screen; payloads never leave the
    executors, non-JPEG rows keep nulls."""

    return map_rows(
        df, lambda p: [parse_jpeg_quant(p)],
        f"{id_col} long, n_tables int, q_min int, q_max int, "
        "q_sum long, width int, height int", [payload_col], id_col)


def png_bytes(width: int, height: int) -> bytes:
    """A minimal structurally-valid PNG prefix (signature + IHDR with
    correct CRC) — enough for any header reader; no pixel data."""
    import struct
    import zlib
    ihdr = struct.pack(">II5B", width, height, 8, 2, 0, 0, 0)
    crc = zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF
    return (_PNG_SIG + struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr
            + struct.pack(">I", crc))


def jpeg_bytes(width: int, height: int) -> bytes:
    """A minimal JPEG prefix: SOI, APP0/JFIF, SOF0 carrying the
    dimensions, EOI — exercises the marker walk incl. segment skip."""
    import struct
    app0 = (b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00"
            + b"\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    sof0 = (b"\xff\xc0" + struct.pack(">HBHHB", 17, 8, height, width, 3)
            + b"\x01\x22\x00\x02\x11\x01\x03\x11\x01")
    return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"


#: IFD0 tags the EXIF layer extracts (the camera-provenance set a
#: training pipeline actually filters/groups on)
_EXIF_TAGS = {0x010F: "make", 0x0110: "model",
              0x0112: "orientation", 0x0132: "datetime"}


def exif_app1_bytes(make: str, model: str, orientation: int,
                    datetime_str: str,
                    byte_order: bytes = b"II") -> bytes:
    """A structurally-valid Exif APP1 segment (TIFF header + IFD0
    with the four classic tags, ASCII values in the data area when
    they exceed the 4-byte inline slot) — the writer twin of
    :func:`parse_exif` for fixtures and oracles. ``byte_order`` is
    ``b"II"`` (little-endian) or ``b"MM"``."""
    import struct
    fmt = "<" if byte_order == b"II" else ">"
    entries: list = []
    data = b""
    data_base = 8 + 2 + 4 * 12 + 4   # header + count + entries + next

    def ascii_entry(tag, s):
        nonlocal data
        v = s.encode("ascii") + b"\x00"
        if len(v) <= 4:
            entries.append(struct.pack(fmt + "HHI", tag, 2, len(v))
                           + v + b"\x00" * (4 - len(v)))
        else:
            off = data_base + len(data)
            entries.append(struct.pack(fmt + "HHII", tag, 2,
                                       len(v), off))
            data += v

    ascii_entry(0x010F, make)
    ascii_entry(0x0110, model)
    entries.append(struct.pack(fmt + "HHIHH", 0x0112, 3, 1,
                               orientation, 0))
    ascii_entry(0x0132, datetime_str)
    tiff = (byte_order + struct.pack(fmt + "H", 42)
            + struct.pack(fmt + "I", 8)
            + struct.pack(fmt + "H", len(entries))
            + b"".join(entries)
            + struct.pack(fmt + "I", 0) + data)
    body = b"Exif\x00\x00" + tiff
    return b"\xff\xe1" + struct.pack(">H", len(body) + 2) + body


def parse_exif(payload):
    """(make, model, orientation, datetime) from a JPEG payload's
    Exif APP1 — a REAL TIFF IFD0 walk supporting both byte orders:
    marker walk to APP1/"Exif\\0\\0", TIFF magic check, bounded
    entry scan (count capped at 256, every read bounds-checked,
    ASCII values capped at 64 KB), inline-vs-offset ASCII handling.
    Missing or corrupt EXIF degrades to all-None — never an
    exception; the reference declines binary media entirely
    (/root/reference/structa/source.py), so this exceeds it."""
    import struct
    none = (None, None, None, None)
    if payload is None:
        return none
    p = bytes(payload)
    if p[:2] != b"\xff\xd8":
        return none
    i = 2
    tiff = None
    while i + 4 <= len(p):
        if p[i] != 0xFF:
            break
        # 0xFF fill bytes are legal padding between segments
        # (ITU-T T.81 B.1.1.2) — valid camera JPEGs pad before APP1,
        # and without this skip their provenance read all-None
        while i + 4 <= len(p) and p[i + 1] == 0xFF:
            i += 1
        if i + 4 > len(p):
            break
        m = p[i + 1]
        if m in (0xD8, 0x01) or 0xD0 <= m <= 0xD7:
            i += 2
            continue
        if m in (0xD9, 0xDA):
            break
        ln = int.from_bytes(p[i + 2:i + 4], "big")
        if ln < 2:
            break
        seg = p[i + 4:i + 2 + ln]
        if m == 0xE1 and seg[:6] == b"Exif\x00\x00":
            tiff = seg[6:]
            break
        i += 2 + ln
    if tiff is None or len(tiff) < 8:
        return none
    bo = tiff[:2]
    if bo == b"II":
        fmt = "<"
    elif bo == b"MM":
        fmt = ">"
    else:
        return none
    try:
        if struct.unpack_from(fmt + "H", tiff, 2)[0] != 42:
            return none
        ifd_off, = struct.unpack_from(fmt + "I", tiff, 4)
        n, = struct.unpack_from(fmt + "H", tiff, ifd_off)
        out = {}
        for k in range(min(n, 256)):
            e = ifd_off + 2 + 12 * k
            if e + 12 > len(tiff):
                break
            tag, typ, cnt = struct.unpack_from(fmt + "HHI", tiff, e)
            name = _EXIF_TAGS.get(tag)
            if name is None:
                continue
            if typ == 2:                        # ASCII
                if cnt <= 4:
                    raw = tiff[e + 8:e + 8 + cnt]
                else:
                    off, = struct.unpack_from(fmt + "I", tiff, e + 8)
                    if cnt > 65536 or off + cnt > len(tiff):
                        continue
                    raw = tiff[off:off + cnt]
                out[name] = raw.split(b"\x00")[0] \
                    .decode("ascii", "replace")
            elif typ == 3 and cnt == 1:         # SHORT
                out[name] = struct.unpack_from(fmt + "H",
                                               tiff, e + 8)[0]
        return (out.get("make"), out.get("model"),
                out.get("orientation"), out.get("datetime"))
    except (struct.error, IndexError):
        return none


EXIF_SCHEMA = ("media_id long, make string, model string, "
               "orientation int, exif_datetime string")


def image_exif_metadata(df: DataFrame, payload_col: str = "payload",
                        id_col: str = "media_id") -> DataFrame:
    """Per-image EXIF provenance columns (make/model/orientation/
    datetime) via :func:`parse_exif` — the metadata a pipeline
    groups camera-sourced imagery by (dedup by device+timestamp,
    orientation-aware preprocessing). Arrow-batched ``mapInArrow``;
    payloads stay executor-side; EXIF-less rows keep their id with
    null fields."""
    return map_rows(df, lambda p: [parse_exif(p)],
                    EXIF_SCHEMA.replace("media_id", id_col),
                    [payload_col], id_col)


# ---------------------------------------------------------------------------
# real pixel/sample decode — stdlib only (zlib + struct + numpy)
# ---------------------------------------------------------------------------

def _paeth(a: int, b: int, c: int) -> int:
    # the PNG Paeth predictor (RFC 2083 §6.6)
    pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


@_decode_errors
def decode_png_pixels(payload):
    """REAL PNG pixel decode, no codec libraries: chunk walk ->
    ``zlib`` inflate of the concatenated IDAT stream -> per-row
    unfilter (all five filter types: None/Sub/Up/Average/Paeth) ->
    ``(h, w, channels)`` uint8 numpy array. Supports bit depth 8,
    color types 0 (gray), 2 (RGB), 3 (palette -> expanded to RGB),
    4 (gray+alpha), 6 (RGBA), non-interlaced — i.e. everything except
    sub-byte depths and Adam7, which raise ``DecodeUnavailable``.

    Row unfiltering is O(pixels) with a per-byte Python loop for the
    left-referencing filters (Sub/Average/Paeth) — fine for the
    thumbnail-scale payloads a feature pipeline decodes per row; a
    production cluster would swap in a C codec at exactly this seam.
    """
    import struct
    import zlib

    import numpy as np

    if payload is None:
        raise DecodeUnavailable("empty payload")
    p = bytes(payload)
    if p[:8] != _PNG_SIG:
        raise DecodeUnavailable("not a PNG stream")
    i, idat, hdr, plte = 8, [], None, None
    while i + 8 <= len(p):
        ln = int.from_bytes(p[i:i + 4], "big")
        ctype = p[i + 4:i + 8]
        body = p[i + 8:i + 8 + ln]
        if ctype == b"IHDR":
            hdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"IDAT":
            idat.append(body)
        elif ctype == b"PLTE":
            plte = body
        elif ctype == b"IEND":
            break
        i += 12 + ln
    if hdr is None or not idat:
        raise DecodeUnavailable("missing IHDR or IDAT")
    w, h, depth, color, comp, filt, interlace = hdr
    if depth != 8 or interlace != 0 or comp != 0 or filt != 0:
        raise DecodeUnavailable(
            f"unsupported PNG variant: depth={depth} "
            f"interlace={interlace}")
    channel_of = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
    if color not in channel_of:
        raise DecodeUnavailable(f"unknown color type {color}")
    channels = channel_of[color]
    stride = w * channels
    expected = h * (stride + 1)
    # Bomb guard: a tiny crafted IDAT can inflate to gigabytes and OOM
    # the executor, killing the whole scan task — the same contract as
    # decompress_payloads' cap. Reject implausible declared dims, then
    # inflate AT MOST the h*(stride+1) bytes the header promises via
    # decompressobj(max_length) instead of an uncapped decompress().
    if w == 0 or h == 0 or expected > _MAX_PIXEL_BYTES:
        raise DecodeUnavailable(
            f"implausible PNG dims {w}x{h}x{channels}")
    try:
        dec = zlib.decompressobj()
        raw = dec.decompress(b"".join(idat), expected)
    except zlib.error as e:
        raise DecodeUnavailable(f"corrupt IDAT: {e}") from e
    if len(raw) < expected:
        raise DecodeUnavailable("truncated pixel data")
    out = np.zeros((h, stride), dtype=np.uint8)
    bpp = channels
    pos = 0
    for y in range(h):
        ftype = raw[pos]
        pos += 1
        row = np.frombuffer(raw, np.uint8, stride, pos).astype(np.int32)
        pos += stride
        prior = (out[y - 1].astype(np.int32) if y
                 else np.zeros(stride, np.int32))
        if ftype == 0:
            rec = row
        elif ftype == 2:                       # Up — vectorizes
            rec = (row + prior) & 255
        elif ftype == 1:                       # Sub
            rec = row
            for x in range(bpp, stride):
                rec[x] = (rec[x] + rec[x - bpp]) & 255
        elif ftype == 3:                       # Average
            rec = row
            for x in range(stride):
                left = rec[x - bpp] if x >= bpp else 0
                rec[x] = (rec[x] + ((left + prior[x]) >> 1)) & 255
        elif ftype == 4:                       # Paeth
            rec = row
            for x in range(stride):
                a = rec[x - bpp] if x >= bpp else 0
                b = prior[x]
                c = prior[x - bpp] if x >= bpp else 0
                rec[x] = (rec[x] + _paeth(a, b, c)) & 255
        else:
            raise DecodeUnavailable(f"unknown row filter {ftype}")
        out[y] = rec
    if color == 3:
        if plte is None:
            raise DecodeUnavailable("palette PNG without PLTE")
        pal = np.frombuffer(plte, np.uint8)
        pal = pal[:3 * (len(pal) // 3)].reshape(-1, 3)
        idx = out.reshape(h, w)
        if int(idx.max(initial=0)) >= len(pal):
            raise DecodeUnavailable("palette index out of range")
        return pal[idx]
    return out.reshape(h, w, channels)


def encode_png(pixels, row_filters=None, palette=None) -> bytes:
    """REAL PNG encoder (the synthetic-data / round-trip twin of
    :func:`decode_png_pixels`): uint8 array ``(h, w)`` gray or
    ``(h, w, c)`` for c in 1/2/3/4, per-row filter types cycling
    through ``row_filters`` (default all 0) so tests exercise every
    unfilter path. With ``palette`` (an ``(n, 3)`` uint8 array) the
    input is an index array and a color-type-3 PNG is written."""
    import struct
    import zlib

    import numpy as np

    arr = np.asarray(pixels, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, channels = arr.shape
    if palette is not None:
        if channels != 1:
            raise ValueError("palette input must be an index array")
        color = 3
    else:
        color = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    flat = arr.reshape(h, w * channels).astype(np.int32)
    bpp = channels
    cycle = list(row_filters or [0])
    lines = []
    for y in range(h):
        ftype = cycle[y % len(cycle)]
        row = flat[y]
        prior = flat[y - 1] if y else np.zeros_like(row)
        if ftype == 0:
            enc = row
        elif ftype == 1:
            left = np.concatenate(
                [np.zeros(bpp, np.int32), row[:-bpp]]) \
                if len(row) > bpp else np.zeros_like(row)
            enc = (row - left) & 255
        elif ftype == 2:
            enc = (row - prior) & 255
        elif ftype == 3:
            left = np.concatenate(
                [np.zeros(bpp, np.int32), row[:-bpp]]) \
                if len(row) > bpp else np.zeros_like(row)
            enc = (row - ((left + prior) >> 1)) & 255
        elif ftype == 4:
            enc = np.empty_like(row)
            for x in range(len(row)):
                a = row[x - bpp] if x >= bpp else 0
                b = prior[x]
                c = prior[x - bpp] if x >= bpp else 0
                enc[x] = (row[x] - _paeth(a, b, c)) & 255
        else:
            raise ValueError(f"unknown row filter {ftype}")
        lines.append(bytes([ftype]) + enc.astype(np.uint8).tobytes())
    raw = zlib.compress(b"".join(lines))

    def chunk(ct: bytes, body: bytes) -> bytes:
        return (struct.pack(">I", len(body)) + ct + body
                + struct.pack(">I", zlib.crc32(ct + body) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    out = _PNG_SIG + chunk(b"IHDR", ihdr)
    if palette is not None:
        pal = np.asarray(palette, dtype=np.uint8)
        out += chunk(b"PLTE", pal.reshape(-1).tobytes())
    return out + chunk(b"IDAT", raw) + chunk(b"IEND", b"")


def _lzw_decode(data: bytes, min_code_size: int,
                max_out: int = None) -> list:
    """GIF-flavor LZW decode (LSB-first bit packing, variable code
    width min+1..12, clear/EOI codes) — pure algorithmic work, no
    codec library involved. ``max_out`` caps the emitted index count
    (the caller passes w*h): LZW expands ~1500:1 at best per table
    cycle, so without it a small crafted stream inflates without
    bound and OOMs the executor task."""
    clear = 1 << min_code_size
    eoi = clear + 1
    width = min_code_size + 1
    table = [(i,) for i in range(clear)] + [(), ()]
    out = []
    prev = None
    acc = nbits = 0
    pos = 0
    while True:
        while nbits < width:
            if pos >= len(data):
                return out          # truncated stream: best effort
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = [(i,) for i in range(clear)] + [(), ()]
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            return out
        if code < len(table):
            entry = table[code]
        elif prev is not None and code == len(table):
            entry = prev + (prev[0],)    # the KwKwK case
        else:
            raise DecodeUnavailable(f"corrupt LZW code {code}")
        out.extend(entry)
        if max_out is not None and len(out) >= max_out:
            # conforming-but-sloppy streams may expand one entry past
            # the pixel count; stop decoding (the caller truncates to
            # w*h) rather than rejecting the frame — the OOM bound is
            # preserved either way
            return out
        if prev is not None and len(table) < 4096:
            table.append(prev + (entry[0],))
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry


def _lzw_encode(indices, min_code_size: int) -> bytes:
    """GIF-flavor LZW encode, the round-trip twin of
    :func:`_lzw_decode` (encoder widens one step later than the
    decoder — the spec's off-by-one — and clears at a full table)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    width = min_code_size + 1
    dict_ = {(i,): i for i in range(clear)}
    next_code = eoi + 1
    codes = [(clear, width)]
    w = ()
    for k in map(int, indices):
        wk = w + (k,)
        if wk in dict_:
            w = wk
            continue
        codes.append((dict_[w], width))
        if next_code < 4096:
            dict_[wk] = next_code
            next_code += 1
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        else:
            codes.append((clear, width))
            dict_ = {(i,): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code_size + 1
        w = (k,)
    if w:
        codes.append((dict_[w], width))
    codes.append((eoi, width))
    acc = nbits = 0
    out = bytearray()
    for code, cw in codes:
        acc |= code << nbits
        nbits += cw
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


_GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


@_decode_errors
def decode_gif_pixels(payload):
    """REAL GIF pixel decode, stdlib-only: logical-screen parse,
    color tables, block walk, LZW inflate of the first image frame
    (variable code width, clear/EOI, the KwKwK case), Adam-style
    4-pass de-interlace -> ``(h, w, 3)`` uint8 RGB via the palette.
    LZW is pure table arithmetic — unlike JPEG's entropy coding it
    needs no codec library, so GIF joins PNG/WAV on the real-decode
    side of the seam."""
    import numpy as np

    if payload is None:
        raise DecodeUnavailable("empty payload")
    p = bytes(payload)
    if p[:6] not in (b"GIF87a", b"GIF89a") or len(p) < 13:
        raise DecodeUnavailable("not a GIF stream")
    packed = p[10]
    i = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(p[i:i + 3 * n], np.uint8).reshape(-1, 3)
        i += 3 * n
    while i < len(p):
        b = p[i]
        if b == 0x3B:                      # trailer
            break
        if b == 0x21:                      # extension: skip sub-blocks
            i += 2
            while i < len(p) and p[i]:
                i += 1 + p[i]
            i += 1
            continue
        if b != 0x2C:
            raise DecodeUnavailable(f"unknown GIF block 0x{b:02x}")
        w = int.from_bytes(p[i + 5:i + 7], "little")
        h = int.from_bytes(p[i + 7:i + 9], "little")
        ipack = p[i + 9]
        i += 10
        pal = gct
        if ipack & 0x80:
            n = 2 << (ipack & 0x07)
            pal = np.frombuffer(p[i:i + 3 * n], np.uint8).reshape(-1, 3)
            i += 3 * n
        if pal is None:
            raise DecodeUnavailable("GIF frame without a color table")
        if w == 0 or h == 0 or w * h * 3 > _MAX_PIXEL_BYTES:
            raise DecodeUnavailable(f"implausible GIF dims {w}x{h}")
        min_code = p[i]
        i += 1
        data = bytearray()
        while i < len(p) and p[i]:
            size = p[i]
            data += p[i + 1:i + 1 + size]
            i += 1 + size
        idx = _lzw_decode(bytes(data), min_code, max_out=w * h)
        if len(idx) < w * h:
            raise DecodeUnavailable("truncated GIF pixel data")
        arr = np.array(idx[:w * h], np.int32).reshape(h, w)
        if ipack & 0x40:                   # de-interlace
            rows = [r for start, step in _GIF_INTERLACE_PASSES
                    for r in range(start, h, step)]
            out = np.empty_like(arr)
            out[rows] = arr
            arr = out
        if int(arr.max(initial=0)) >= len(pal):
            raise DecodeUnavailable("palette index out of range")
        return pal[arr]
    raise DecodeUnavailable("GIF stream holds no image frame")


def encode_gif(indices, palette, interlace: bool = False) -> bytes:
    """REAL GIF encoder (the synthetic/round-trip twin of
    :func:`decode_gif_pixels`): an ``(h, w)`` uint8 index array and
    an ``(n, 3)`` palette become a single-frame GIF89a, optionally
    interlaced so tests exercise the 4-pass reorder."""
    import struct

    import numpy as np

    arr = np.asarray(indices, dtype=np.uint8)
    h, w = arr.shape
    pal = np.asarray(palette, dtype=np.uint8).reshape(-1, 3)
    bits = max(1, (len(pal) - 1).bit_length())
    n = 1 << bits
    pal_full = np.zeros((n, 3), np.uint8)
    pal_full[:len(pal)] = pal
    min_code = max(2, bits)
    body = arr
    if interlace:
        rows = [r for start, step in _GIF_INTERLACE_PASSES
                for r in range(start, h, step)]
        body = arr[rows]
    data = _lzw_encode(body.reshape(-1), min_code)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (bits - 1), 0, 0)
    out += pal_full.tobytes()
    out += struct.pack("<BHHHHB", 0x2C, 0, 0, w, h,
                       0x40 if interlace else 0)
    out.append(min_code)
    for off in range(0, len(data), 255):
        chunk = data[off:off + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3B"
    return bytes(out)


IMAGE_META_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("format", T.StringType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
])


def image_metadata(df: DataFrame, payload_col: str = "payload",
                   id_col: str = "media_id") -> DataFrame:
    """(media_id, format, width, height) parsed FROM THE BYTES with
    :func:`parse_image_header` over Arrow batches — metadata is
    produced, not assumed. Payloads stay executor-side; only the
    4-column metadata comes out of the stage."""

    return map_rows(df, lambda p: [parse_image_header(p)],
                    IMAGE_META_SCHEMA, [payload_col], id_col)


def parse_audio_header(payload):
    """(codec, sample_rate, n_channels, n_samples) from raw audio
    bytes — the audio twin of :func:`parse_image_header`, a REAL
    RIFF/WAVE chunk walk: validate the RIFF..WAVE container, then
    iterate chunks (any order, LIST/JUNK chunks skipped by their
    declared size, odd sizes padded per the RIFF spec) collecting the
    ``fmt `` block (PCM tag, channels, sample rate, bits/sample) and
    the ``data`` size, from which the sample count derives. Returns
    (None, None, None, None) for unknown/truncated payloads."""
    if payload is None or len(payload) < 12:
        return (None, None, None, None)
    p = bytes(payload)
    if p[:4] != b"RIFF" or p[8:12] != b"WAVE":
        return (None, None, None, None)
    i = 12
    tag = rate = channels = bits = data_size = None
    while i + 8 <= len(p):
        cid = p[i:i + 4]
        size = int.from_bytes(p[i + 4:i + 8], "little")
        if cid == b"fmt " and i + 24 <= len(p):
            tag = int.from_bytes(p[i + 8:i + 10], "little")
            channels = int.from_bytes(p[i + 10:i + 12], "little")
            rate = int.from_bytes(p[i + 12:i + 16], "little")
            bits = int.from_bytes(p[i + 22:i + 24], "little")
        elif cid == b"data":
            data_size = size
        i += 8 + size + (size & 1)   # chunks are word-aligned
    if rate is None or not channels or not bits:
        return (None, None, None, None)
    # the format tag decides both the codec label and whether the
    # bytes-per-sample arithmetic is meaningful: only linear PCM (1)
    # and IEEE float (3) store whole bytes per sample; compressed
    # codecs (ADPCM tag 2 declares 4 bits/sample, mu/a-law 6/7 pack
    # 14 bits into one byte) get a labeled codec and no sample count
    codec = {1: "pcm_wav", 3: "float_wav"}.get(tag, f"wav_fmt_{tag}")
    n_samples = None
    if tag in (1, 3) and bits % 8 == 0 and bits >= 8 \
            and data_size is not None:
        n_samples = data_size // (channels * (bits // 8))
    return (codec, rate, channels, n_samples)


def wav_bytes(sample_rate: int, n_channels: int, n_samples: int,
              bits: int = 16, junk_chunk: bool = False,
              fmt_tag: int = 1, samples=None) -> bytes:
    """A minimal structurally-valid PCM WAV: RIFF/WAVE container,
    ``fmt `` block, ``data`` chunk (zero-filled, or the raw
    little-endian ``samples`` bytes when given); ``junk_chunk``
    prepends a LIST chunk so tests exercise the skip-by-size walk;
    ``fmt_tag`` overrides the audio-format tag so tests can exercise
    the non-PCM codec labeling."""
    import struct
    frame = max(1, n_channels * (bits // 8))
    data = bytes(samples) if samples is not None \
        else bytes(n_samples * frame)
    fmt = struct.pack("<HHIIHH", fmt_tag, n_channels, sample_rate,
                      sample_rate * frame, frame, bits)
    chunks = b""
    if junk_chunk:
        meta = b"INFOnote"
        chunks += b"LIST" + struct.pack("<I", len(meta)) + meta
    chunks += b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(data)) + data
    return (b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE"
            + chunks)


AUDIO_META_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("codec", T.StringType()),
    T.StructField("sample_rate", T.IntegerType()),
    T.StructField("n_channels", T.IntegerType()),
    T.StructField("n_samples", T.LongType()),
])


def audio_metadata(df: DataFrame, payload_col: str = "payload",
                   id_col: str = "media_id") -> DataFrame:
    """(media_id, codec, sample_rate, n_channels, n_samples,
    duration_s) parsed FROM THE BYTES over Arrow batches; payloads
    stay executor-side, duration derives as a column expression."""

    out = map_rows(df, lambda p: [parse_audio_header(p)],
                   AUDIO_META_SCHEMA, [payload_col], id_col)
    return out.withColumn(
        "duration_s",
        F.round(F.col("n_samples")
                / F.col("sample_rate").cast("double"), 6))


@_decode_errors
def decode_wav_samples(payload):
    """REAL WAV sample decode, no codec libraries: RIFF chunk walk
    collecting ``fmt `` + ``data``, then a numpy reinterpret of the
    payload bytes. Returns ``(samples, sample_rate)`` where samples
    is an ``(n_frames, n_channels)`` array of the raw stored values:
    int16/int32 for 16/32-bit linear PCM, centered ``value - 128``
    for 8-bit PCM (stored unsigned per the WAV spec), float32/64 for
    IEEE-float (tag 3). Compressed codecs (ADPCM, mu-law, …) raise
    ``DecodeUnavailable`` — those need real codec tables."""
    import numpy as np

    if payload is None or len(payload) < 12:
        raise DecodeUnavailable("empty/truncated payload")
    p = bytes(payload)
    if p[:4] != b"RIFF" or p[8:12] != b"WAVE":
        raise DecodeUnavailable("not a RIFF/WAVE stream")
    i = 12
    tag = rate = channels = bits = None
    data = None
    while i + 8 <= len(p):
        cid = p[i:i + 4]
        size = int.from_bytes(p[i + 4:i + 8], "little")
        if cid == b"fmt " and i + 24 <= len(p):
            tag = int.from_bytes(p[i + 8:i + 10], "little")
            channels = int.from_bytes(p[i + 10:i + 12], "little")
            rate = int.from_bytes(p[i + 12:i + 16], "little")
            bits = int.from_bytes(p[i + 22:i + 24], "little")
        elif cid == b"data":
            data = p[i + 8:i + 8 + size]
        i += 8 + size + (size & 1)
    if tag is None or data is None or not channels:
        raise DecodeUnavailable("missing fmt/data chunk")
    dtypes = {(1, 8): "u1", (1, 16): "<i2", (1, 32): "<i4",
              (3, 32): "<f4", (3, 64): "<f8"}
    if (tag, bits) not in dtypes:
        raise DecodeUnavailable(
            f"no stdlib decoder for fmt tag {tag} / {bits}-bit")
    dt = np.dtype(dtypes[(tag, bits)])
    # a truncated data chunk may end mid-sample: trim the tail bytes
    # rather than failing the whole payload
    arr = np.frombuffer(data[:len(data) // dt.itemsize * dt.itemsize],
                        dtype=dt)
    if tag == 1 and bits == 8:
        arr = arr.astype(np.int16) - 128
    n_frames = len(arr) // channels
    return arr[:n_frames * channels].reshape(n_frames, channels), rate


def audio_resample_index(df: DataFrame, target_rate: int,
                         payload_col: str = "payload",
                         id_col: str = "media_id",
                         every_k: int = 1) -> DataFrame:
    """Sample-rate conversion through the REAL WAV decode — the
    normalization step an audio training pipeline runs before
    feature extraction (every corpus clip to one model rate, e.g.
    16 kHz): linear interpolation of the first channel onto the
    target-rate grid, emitting every ``every_k``-th resampled value
    as ``(id, n_in, n_out, out_idx, value)``. The source position of
    output sample j is ``(j * src_rate) / target_rate`` — ONE double
    division of exact integers, so the interpolation weights are
    bit-reproducible in any engine; values round 6-dp half-up on the
    binary double. ``n_out = (n_in-1)*target // src + 1`` keeps every
    position inside the source (no extrapolation). An undecodable
    payload emits one null row (the decode-degradation convention).

    Scale shape: pure per-row decode + interpolate inside Arrow
    batches, no shuffle; only the sampled index rows cross into the
    plan — never the waveform."""
    import math

    if every_k < 1:
        raise ValueError(f"every_k must be >= 1: {every_k}")
    if target_rate < 1:
        raise ValueError(f"target_rate must be >= 1: {target_rate}")

    def resample(payload):
        try:
            arr, rate = decode_wav_samples(payload)
        except DecodeUnavailable:
            return [(None, None, None, None)]
        s = arr[:, 0]
        n_in = len(s)
        if n_in == 0 or not rate:
            return [(None, None, None, None)]
        n_out = (n_in - 1) * target_rate // rate + 1
        out = []
        for j in range(0, n_out, every_k):
            p = (j * rate) / target_rate
            i0 = math.floor(p)
            frac = p - i0
            s0 = float(s[i0])
            s1 = float(s[min(i0 + 1, n_in - 1)])
            out.append((n_in, n_out, j,
                        round_half_up(s0 + (s1 - s0) * frac, 6)))
        return out

    return map_rows(
        df, resample, f"{id_col} long, n_in int, n_out int, "
        "out_idx int, value double", [payload_col], id_col)


def _fake_decode_feature(payload: bytes, dim: int) -> list:
    """Deterministic stand-in for decode+embed: a dim-length feature
    derived from payload bytes (stable across runs/engines). Marks the
    seam where PIL/torchvision would produce real features."""
    if payload is None:
        return [0.0] * dim
    acc = 2166136261
    out = []
    for i in range(dim):
        b = payload[i % len(payload)] if payload else 0
        acc = (acc ^ (b + i)) * 16777619 % (1 << 32)
        out.append(((acc % 2000003) / 1000001.5) - 1.0)
    return out


def _real_decode_feature(payload, dim: int) -> list:
    """REAL decode+featurize: PNG pixels / WAV samples -> a
    dim-length [stats, histogram] vector over values normalized to
    [0, 1] (pixels / 255; audio peak-normalized then shifted). The
    first four slots are mean/std/min/max; the rest a density
    histogram. Formats without a stdlib decoder (progressive JPEG,
    MP4, compressed WAV) raise ``DecodeUnavailable``."""
    import numpy as np

    p = bytes(payload) if payload is not None else b""
    kind = _sniff_kind(p)
    if kind == "wav":
        s, _rate = decode_wav_samples(p)
        s = s.astype(np.float64).ravel()
        if s.size == 0:
            vals = s
        else:
            peak = float(np.max(np.abs(s))) or 1.0
            vals = (s / peak + 1.0) / 2.0
    elif kind is not None:
        _k, arr = _decode_image(p)
        vals = arr.astype(np.float64).ravel() / 255.0
    else:
        raise DecodeUnavailable(
            "no stdlib decoder for this format (JPEG/MP4 entropy "
            "coding needs external codec libraries)")
    if vals.size == 0:
        return [0.0] * dim
    feat = [float(vals.mean()), float(vals.std()),
            float(vals.min()), float(vals.max())][:dim]
    n_bins = dim - len(feat)
    if n_bins > 0:
        hist = np.histogram(vals, bins=n_bins, range=(0.0, 1.0))[0]
        feat += (hist / vals.size).tolist()
    return [float(v) for v in feat]


def extract_features(df: DataFrame, dim: int = 16,
                     payload_col: str = "payload",
                     id_col: str = "media_id",
                     real_decode: bool = False,
                     precision: str = "float32") -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    ``mapInArrow`` keeps the binary data executor-side in Arrow
    batches; only the (id, feature) pairs come out — the pattern for
    any decode/resize/frame-sample stage.

    ``real_decode=True`` runs the REAL stdlib decoders
    (:func:`decode_png_pixels` / :func:`decode_gif_pixels` /
    :func:`decode_wav_samples`) and features from actual
    pixel/sample values; formats that need an external codec
    (JPEG, MP4) raise ``DecodeUnavailable``.
    The default fake path stays for engine tests that only exercise
    the distributed plumbing.

    ``precision`` picks the feature element type: float32 (the ML
    storage default) or float64 (lossless — used when downstream
    value-compares against an exact replay of the decode, where the
    float32 round-trip could flip a rounding boundary).
    """
    if precision not in ("float32", "float64"):
        raise ValueError(f"precision must be float32|float64: {precision}")
    if precision == "float32":
        schema = FEATURE_SCHEMA
    else:
        schema = T.StructType([
            T.StructField("media_id", T.LongType()),
            T.StructField("feature", T.ArrayType(T.DoubleType())),
            T.StructField("feat_dim", T.IntegerType()),
        ])

    def feature(p):
        if not real_decode:
            return [(_fake_decode_feature(p, dim), dim)]
        # degrade-to-null contract shared with media_stats /
        # resize_images: ONE malformed or codec-less payload in an
        # Arrow batch must not fail the whole job
        try:
            return [(_real_decode_feature(p, dim), dim)]
        except DecodeUnavailable:
            return [(None, dim)]

    return map_rows(df, feature, schema, [payload_col], id_col)


MEDIA_STATS_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("kind", T.StringType()),
    T.StructField("n_values", T.LongType()),
    T.StructField("v_mean", T.DoubleType()),
    T.StructField("v_min", T.DoubleType()),
    T.StructField("v_max", T.DoubleType()),
])


def media_stats(df: DataFrame, payload_col: str = "payload",
                id_col: str = "media_id") -> DataFrame:
    """Value-level stats from REAL decodes over Arrow batches: PNG
    payloads through :func:`decode_png_pixels` (raw 0-255 channel
    values), WAV through :func:`decode_wav_samples` (raw PCM sample
    values). Formats without a stdlib decoder yield a null-stats row
    (kind=None) rather than failing the batch, so one bad payload
    can't kill a 100 TB scan. Only the 6-column stat rows leave the
    stage — payload bytes stay executor-side."""
    import numpy as np

    def stats(payload):
        kind, vals = None, None
        p = payload or b""
        try:
            sniffed = _sniff_kind(p)
            if sniffed == "wav":
                s, _rate = decode_wav_samples(p)
                vals = s.astype(np.float64).ravel()
                kind = "wav"
            elif sniffed is not None:
                kind, arr = _decode_image(p)
                vals = arr.astype(np.float64).ravel()
        except DecodeUnavailable:
            kind, vals = None, None
        if vals is None or vals.size == 0:
            return [(kind, None, None, None, None)]
        return [(kind, int(vals.size), round(float(vals.mean()), 6),
                 float(vals.min()), float(vals.max()))]

    return map_rows(df, stats, MEDIA_STATS_SCHEMA, [payload_col], id_col)


def _sniff_kind(p: bytes):
    """Magic-byte format sniff shared by every decode dispatch —
    ONE place to extend when a format gains a stdlib decoder."""
    if p[:8] == _PNG_SIG:
        return "png"
    if p[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    if p[:4] == b"RIFF":
        return "wav"
    if p[:2] == b"\xff\xd8":
        return "jpeg"
    return None


@_decode_errors
def decode_jpeg_pixels(payload):
    """Baseline-JPEG pixel decode -> (h, w, 1|3) uint8; see
    :mod:`structa_spark.operators.jpeg` for the full codec.
    Progressive/arithmetic streams raise DecodeUnavailable (their
    JpegError is a ValueError, mapped by the decorator)."""
    from . import jpeg
    return jpeg.decode_jpeg_pixels(payload)


def _decode_image(p: bytes):
    """(kind, (h, w, c) array) for PNG/GIF/baseline-JPEG payloads;
    raises DecodeUnavailable for other formats, malformed streams,
    and zero-dimension images (a crafted IHDR can declare height=0 —
    an empty array must not reach resampling index math)."""
    kind = _sniff_kind(p)
    if kind == "png":
        arr = decode_png_pixels(p)
    elif kind == "gif":
        arr = decode_gif_pixels(p)
    elif kind == "jpeg":
        arr = decode_jpeg_pixels(p)
    else:
        raise DecodeUnavailable("no stdlib image decoder")
    if arr.size == 0:
        raise DecodeUnavailable("zero-dimension image")
    return kind, arr


def _resize_nearest(arr, out_h: int, out_w: int):
    """Nearest-neighbor resample of an ``(h, w, c)`` array — index
    arithmetic only, so the result is bit-deterministic across
    platforms (no interpolation rounding to disagree about)."""
    import numpy as np

    h, w = arr.shape[:2]
    ys = np.minimum((np.arange(out_h) * h) // out_h, h - 1)
    xs = np.minimum((np.arange(out_w) * w) // out_w, w - 1)
    return arr[ys][:, xs]


RESIZED_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("payload", T.BinaryType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
])


def resize_images(df: DataFrame, target_w: int, target_h: int,
                  payload_col: str = "payload",
                  id_col: str = "media_id") -> DataFrame:
    """REAL image resize over Arrow batches: decode (PNG/GIF via the
    stdlib decoders), nearest-neighbor resample to ``target_w`` x
    ``target_h``, re-encode as PNG (filter 0). The standard
    normalize-thumbnails stage of a multimodal training pipeline —
    payload bytes stay executor-side end to end; undecodable rows
    come back with a null payload (kept, so join cardinality is
    stable). Output PNGs always parse: ``parse_image_header`` and
    :func:`decode_png_pixels` round-trip them."""
    def resize(payload):
        try:
            _kind, arr = _decode_image(payload or b"")
        except DecodeUnavailable:
            return [(None, None, None)]
        small = _resize_nearest(arr, target_h, target_w)
        return [(encode_png(small), target_w, target_h)]

    return map_rows(df, resize, RESIZED_SCHEMA, [payload_col], id_col)


DECOMPRESSED_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("codec", T.StringType()),
    T.StructField("text", T.StringType()),
])


def decompress_payloads(df: DataFrame, payload_col: str = "payload",
                        id_col: str = "media_id",
                        encoding: str = "utf-8",
                        max_bytes: int = 1 << 26) -> DataFrame:
    """(media_id, codec, text) from COMPRESSED binary payloads —
    the landing-zone reality of web corpora (gzip'd HTML bodies,
    zlib-wrapped API blobs, bz2/xz archive members). Codec is
    sniffed from magic bytes and inflated with the stdlib codecs
    inside Arrow batches; rows that fail to inflate or decode come
    back with codec/text null rather than failing the scan.

    ``max_bytes`` caps the inflated size per payload (decompression-
    bomb guard): inflation runs through STREAMING decompressors with
    a length limit, so a 42 KB zip-bomb-style stream allocates at
    most ``max_bytes`` before being rejected — it never materializes
    the full inflated payload first. Over-limit and truncated rows
    degrade to null like malformed ones."""
    import bz2
    import lzma
    import zlib

    def inflate(p: bytes):
        if p[:2] == b"\x1f\x8b":
            codec = "gzip"
            make = lambda: zlib.decompressobj(wbits=47)  # noqa: E731
        elif p[:3] == b"BZh":
            codec, make = "bz2", bz2.BZ2Decompressor
        elif p[:6] == b"\xfd7zXZ\x00":
            codec, make = "xz", lzma.LZMADecompressor
        elif (len(p) >= 2 and (p[0] & 0x0F) == 8 and (p[0] >> 4) <= 7
              and ((p[0] << 8 | p[1]) % 31) == 0):
            # any valid zlib CMF/FLG (deflate method, window <= 32K,
            # header checksum) — not just the default-window 0x78
            codec, make = "zlib", zlib.decompressobj
        else:
            raise DecodeUnavailable("unknown compression magic")
        # stream with a size cap, and LOOP over concatenated
        # members/streams (gzip WARC-style member layout, multi-
        # stream bz2/xz) — a single decompressobj stops at the first
        # member boundary and would silently truncate the payload
        out = []
        total = 0
        buf = memoryview(p)
        i = 0
        while i < len(p):
            d = make()
            chunk = d.decompress(buf[i:], max_bytes + 1 - total)
            total += len(chunk)
            if total > max_bytes:
                raise DecodeUnavailable("inflated size cap")
            if not d.eof:
                raise DecodeUnavailable("truncated stream")
            out.append(chunk)
            rem = len(d.unused_data)
            consumed = (len(p) - i) - rem
            if consumed <= 0 or rem == 0:
                break
            i += consumed
            if codec == "zlib":
                # concatenated zlib streams are not a standard
                # container; trailing bytes after a complete stream
                # are junk, not another member
                raise DecodeUnavailable("trailing bytes after stream")
        return codec, b"".join(out)

    def decompress(payload):
        try:
            codec, raw = inflate(payload or b"")
            return [(codec, raw.decode(encoding))]
        except (DecodeUnavailable, OSError, EOFError, ValueError,
                lzma.LZMAError, zlib.error, UnicodeDecodeError):
            return [(None, None)]

    return map_rows(df, decompress, DECOMPRESSED_SCHEMA, [payload_col],
                    id_col)


def sample_frames(df: DataFrame, every_n: int = 10,
                  id_col: str = "media_id",
                  n_frames_col: str = "n_frames") -> DataFrame:
    """Frame-sampling plumbing for video rows: emits (media_id,
    frame_idx) for every n-th frame — pure column ops (sequence +
    explode), the decode itself happens downstream per frame."""
    return (df.select(
        F.col(id_col),
        F.explode(F.sequence(
            F.lit(0),
            F.greatest(F.col(n_frames_col) - 1, F.lit(0)),
            F.lit(every_n))).alias("frame_idx")))


def synthetic_media(spark, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic fake media table for tests: payloads are REAL
    minimal PNG/JPEG byte streams (alternating), so header parsing
    yields the declared dimensions; trailing filler bytes vary the
    payload sizes the way real files would."""
    rows = []
    for i in range(n):
        w, h = 64 + i % 32, 48 + i % 24
        if i % 2 == 0:
            payload, fmt = png_bytes(w, h), "png"
        else:
            payload, fmt = jpeg_bytes(w, h), "jpeg"
        filler = bytes([(i * 31 + j * 7 + seed) % 256
                        for j in range(i % 64)])
        rows.append((i, payload + filler, fmt, w, h))
    return spark.createDataFrame(rows, IMAGE_SCHEMA)


# ---------------------------------------------------------------------------
# video: ISO-BMFF (MP4/MOV) container headers
# ---------------------------------------------------------------------------

def _bmff_boxes(p: bytes, lo: int, hi: int):
    """``(type, body_start, end)`` of each ISO-BMFF box in ``p[lo:hi]``:
    32-bit sizes, 64-bit ``largesize`` when size==1, size==0 meaning
    to-EOF; the walk stops at the first box that overruns ``hi``."""
    i = lo
    while i + 8 <= hi:
        size = int.from_bytes(p[i:i + 4], "big")
        btype = p[i + 4:i + 8]
        body = i + 8
        if size == 1:
            if body + 8 > hi:
                return
            size = int.from_bytes(p[body:body + 8], "big")
            body += 8
        elif size == 0:
            size = hi - i
        if size < 8 or i + size > hi:
            return
        yield btype, body, i + size
        i += size


def parse_video_header(payload):
    """(container, duration_s_raw, width, height, n_tracks) from raw
    ISO-BMFF bytes — a REAL box walk, no codec libraries: iterate
    top-level boxes (32-bit sizes, 64-bit ``largesize`` when size==1,
    size==0 meaning to-EOF, unknown boxes skipped by declared size),
    read the brand from ``ftyp``, then inside ``moov`` take
    timescale/duration from ``mvhd`` (both version 0 with 32-bit
    fields and version 1 with 64-bit times) and the 16.16
    fixed-point display width/height from each ``trak``/``tkhd``
    (the maximum across tracks — audio tracks carry 0x0).
    ``duration_s_raw`` is the unrounded duration/timescale ratio.
    Returns (None, None, None, None, None) for unknown/truncated
    payloads."""
    if payload is None or len(payload) < 8:
        return (None, None, None, None, None)
    p = bytes(payload)

    container = None
    timescale = duration = None
    width = height = n_tracks = None
    for btype, lo, hi in _bmff_boxes(p, 0, len(p)):
        if btype == b"ftyp" and hi - lo >= 4:
            brand = p[lo:lo + 4].decode("ascii", "replace").strip()
            container = f"mp4_{brand}"
        elif btype == b"moov":
            n_tracks = 0
            width = height = 0
            for ctype, clo, chi in _bmff_boxes(p, lo, hi):
                if ctype == b"mvhd" and chi - clo >= 4:
                    ver = p[clo]
                    if ver == 1 and chi - clo >= 4 + 28:
                        timescale = int.from_bytes(
                            p[clo + 20:clo + 24], "big")
                        duration = int.from_bytes(
                            p[clo + 24:clo + 32], "big")
                    elif ver == 0 and chi - clo >= 4 + 16:
                        timescale = int.from_bytes(
                            p[clo + 12:clo + 16], "big")
                        duration = int.from_bytes(
                            p[clo + 16:clo + 20], "big")
                elif ctype == b"trak":
                    n_tracks += 1
                    for t, tlo, thi in _bmff_boxes(p, clo, chi):
                        if t != b"tkhd" or thi - tlo < 4:
                            continue
                        off = 88 if p[tlo] == 1 else 76
                        if thi - tlo >= off + 8:
                            w = int.from_bytes(
                                p[tlo + off:tlo + off + 4],
                                "big") >> 16
                            h = int.from_bytes(
                                p[tlo + off + 4:tlo + off + 8],
                                "big") >> 16
                            width = max(width, w)
                            height = max(height, h)
    if container is None and timescale is None:
        return (None, None, None, None, None)
    dur_s = (duration / timescale
             if duration is not None and timescale else None)
    return (container, dur_s, width or None, height or None, n_tracks)


def _bmff_box(btype: bytes, body: bytes) -> bytes:
    import struct
    return struct.pack(">I", 8 + len(body)) + btype + body


def mp4_bytes(width: int, height: int, duration: int,
              timescale: int = 1000, n_tracks: int = 1,
              mvhd_v1: bool = False, free_box: bool = False) -> bytes:
    """A minimal structurally-valid ISO-BMFF stream: ``ftyp`` (brand
    isom) + ``moov`` holding one ``mvhd`` (v0 32-bit or v1 64-bit
    fields) and ``n_tracks`` ``trak``/``tkhd`` boxes — the first at
    the given display size, the rest dimensionless like audio tracks.
    ``free_box`` prepends a ``free`` box so tests exercise
    skip-by-declared-size."""
    import struct
    ftyp = _bmff_box(b"ftyp", b"isom" + struct.pack(">I", 512)
                     + b"isomiso2mp41")
    if mvhd_v1:
        mvhd_body = (bytes([1, 0, 0, 0])
                     + struct.pack(">QQIQ", 0, 0, timescale, duration)
                     + bytes(80))
    else:
        mvhd_body = (bytes(4)
                     + struct.pack(">IIII", 0, 0, timescale, duration)
                     + bytes(80))
    traks = b""
    for t in range(n_tracks):
        w, h = (width, height) if t == 0 else (0, 0)
        tkhd_body = (bytes(4) + struct.pack(">IIII", 0, 0, t + 1, 0)
                     + struct.pack(">I", duration) + bytes(8)
                     + bytes(8) + bytes(36)
                     + struct.pack(">II", w << 16, h << 16))
        traks += _bmff_box(b"trak", _bmff_box(b"tkhd", tkhd_body))
    moov = _bmff_box(b"moov", _bmff_box(b"mvhd", mvhd_body) + traks)
    out = ftyp
    if free_box:
        out += _bmff_box(b"free", b"\x00" * 12)
    return out + moov


def mp4_frame_index_bytes(width: int, height: int,
                          media_timescale: int,
                          stts_entries,
                          sample_sizes=None,
                          uniform_size: int = 0,
                          n_samples: int | None = None,
                          samples_per_chunk: int = 1,
                          base_offset: int = 4096,
                          movie_timescale: int = 1000,
                          stsc_runs=None,
                          chunk_offsets=None,
                          mdhd_v1: bool = False,
                          co64: bool = False) -> bytes:
    """A structurally-valid ISO-BMFF stream WITH a full sample table:
    ``ftyp`` + ``moov``(``mvhd`` + ``trak``(``tkhd`` +
    ``mdia``(``mdhd`` + ``minf``(``stbl``(``stts`` ``stsz`` ``stsc``
    ``stco``))))) — the four boxes a real player walks to locate
    frames. ``stts_entries`` is the run-length (count, delta) list in
    media-timescale ticks; sizes come either per-sample
    (``sample_sizes``) or via ``stsz``'s uniform-size field
    (``uniform_size`` + ``n_samples``); ``samples_per_chunk`` lays
    samples into chunks through a single constant ``stsc`` run with
    chunk offsets packed contiguously from ``base_offset``.
    ``mdhd_v1`` emits the 64-bit-time mdhd variant (timescale at
    body+20) and ``co64`` swaps stco for 64-bit chunk offsets, so
    tests can pin both parse branches."""
    import struct

    if sample_sizes is not None:
        sizes = list(sample_sizes)
        n = len(sizes)
    else:
        n = int(n_samples)
        sizes = [uniform_size] * n
    total_dur = sum(c * d for c, d in stts_entries)

    ftyp = _bmff_box(b"ftyp", b"isom" + struct.pack(">I", 512)
                     + b"isomiso2mp41")
    mvhd_body = (bytes(4)
                 + struct.pack(">IIII", 0, 0, movie_timescale, 0)
                 + bytes(80))
    tkhd_body = (bytes(4) + struct.pack(">IIII", 0, 0, 1, 0)
                 + struct.pack(">I", 0) + bytes(8)
                 + bytes(8) + bytes(36)
                 + struct.pack(">II", width << 16, height << 16))
    if mdhd_v1:
        mdhd_body = (b"\x01" + bytes(3)
                     + struct.pack(">QQIQ", 0, 0, media_timescale,
                                   total_dur)
                     + bytes(4))
    else:
        mdhd_body = (bytes(4)
                     + struct.pack(">IIII", 0, 0, media_timescale,
                                   total_dur)
                     + bytes(4))
    stts_body = (bytes(4) + struct.pack(">I", len(stts_entries))
                 + b"".join(struct.pack(">II", c, d)
                            for c, d in stts_entries))
    if sample_sizes is not None:
        stsz_body = (bytes(4) + struct.pack(">II", 0, n)
                     + b"".join(struct.pack(">I", s) for s in sizes))
    else:
        stsz_body = bytes(4) + struct.pack(">II", uniform_size, n)
    runs = (list(stsc_runs) if stsc_runs is not None
            else [(1, samples_per_chunk)])
    stsc_body = (bytes(4) + struct.pack(">I", len(runs))
                 + b"".join(struct.pack(">III", fc, per, 1)
                            for fc, per in runs))
    if chunk_offsets is not None:
        offsets = list(chunk_offsets)
    else:
        offsets = []
        pos = base_offset
        for c0 in range(0, n, samples_per_chunk):
            offsets.append(pos)
            pos += sum(sizes[c0:c0 + samples_per_chunk])
    if co64:
        stco_box = _bmff_box(
            b"co64", bytes(4) + struct.pack(">I", len(offsets))
            + b"".join(struct.pack(">Q", o) for o in offsets))
    else:
        stco_box = _bmff_box(
            b"stco", bytes(4) + struct.pack(">I", len(offsets))
            + b"".join(struct.pack(">I", o) for o in offsets))
    stbl = _bmff_box(
        b"stbl",
        _bmff_box(b"stts", stts_body) + _bmff_box(b"stsz", stsz_body)
        + _bmff_box(b"stsc", stsc_body) + stco_box)
    mdia = _bmff_box(b"mdia", _bmff_box(b"mdhd", mdhd_body)
                     + _bmff_box(b"minf", stbl))
    trak = _bmff_box(b"trak", _bmff_box(b"tkhd", tkhd_body) + mdia)
    moov = _bmff_box(b"moov", _bmff_box(b"mvhd", mvhd_body) + trak)
    return ftyp + moov


def parse_sample_table(payload):
    """REAL ISO-BMFF sample-table walk, no codec libraries: find the
    first ``trak`` whose ``mdia/minf/stbl`` holds a sample table,
    then decode

    * ``mdhd`` — the MEDIA timescale frame timestamps tick in (the
      movie-level ``mvhd`` timescale does not apply to samples),
    * ``stts`` — run-length (count, delta) decoding times,
    * ``stsz`` — per-sample byte sizes (uniform-size field honored),
    * ``stsc``/``stco`` — the sample→chunk→file-offset mapping: each
      ``stsc`` run (first_chunk, samples_per_chunk) applies until the
      next run's first chunk; a sample's offset is its chunk's
      ``stco`` entry plus the sizes of the samples before it in the
      same chunk (ISO/IEC 14496-12 §8.7).

    Returns ``(media_timescale, frames)`` where ``frames`` is a list
    of ``(ts_ticks, byte_offset, n_bytes)`` in sample order, or
    ``(None, None)`` for payloads without a walkable sample table."""
    if payload is None or len(payload) < 8:
        return (None, None)
    p = bytes(payload)

    def find(btype, lo, hi):
        for t, blo, bhi in _bmff_boxes(p, lo, hi):
            if t == btype:
                return blo, bhi
        return None

    def u32(at):
        return int.from_bytes(p[at:at + 4], "big")

    for btype, lo, hi in _bmff_boxes(p, 0, len(p)):
        if btype != b"moov":
            continue
        for ctype, clo, chi in _bmff_boxes(p, lo, hi):
            if ctype != b"trak":
                continue
            mdia = find(b"mdia", clo, chi)
            if mdia is None:
                continue
            mdhd = find(b"mdhd", *mdia)
            minf = find(b"minf", *mdia)
            if mdhd is None or minf is None:
                continue
            stbl = find(b"stbl", *minf)
            if stbl is None:
                continue
            # mdhd v1 carries 64-bit creation/modification times, so
            # the timescale moves from body+12 to body+20 (ISO/IEC
            # 14496-12 §8.4.2) — same branching as the mvhd parser
            mdhd_ver = p[mdhd[0]] if mdhd[0] < len(p) else 0
            timescale = u32(mdhd[0] + (20 if mdhd_ver == 1 else 12))
            stts = find(b"stts", *stbl)
            stsz = find(b"stsz", *stbl)
            stsc = find(b"stsc", *stbl)
            stco = find(b"stco", *stbl)
            off_w = 4
            if stco is None:
                stco = find(b"co64", *stbl)
                off_w = 8
            if None in (stts, stsz, stsc, stco) or not timescale:
                continue
            # stts -> per-sample decode timestamps
            n_runs = u32(stts[0] + 4)
            ts, t = [], 0
            for k in range(n_runs):
                at = stts[0] + 8 + 8 * k
                if at + 8 > stts[1]:
                    break
                cnt, delta = u32(at), u32(at + 4)
                for _ in range(cnt):
                    ts.append(t)
                    t += delta
            # stsz -> per-sample sizes
            fixed = u32(stsz[0] + 4)
            n = u32(stsz[0] + 8)
            if fixed:
                sizes = [fixed] * n
            else:
                sizes = [u32(stsz[0] + 12 + 4 * k) for k in range(n)
                         if stsz[0] + 16 + 4 * k <= stsz[1]]
            # stco chunk offsets
            n_chunks = u32(stco[0] + 4)
            chunk_off = [int.from_bytes(
                             p[stco[0] + 8 + off_w * k:
                               stco[0] + 8 + off_w * (k + 1)], "big")
                         for k in range(n_chunks)
                         if stco[0] + 8 + off_w * (k + 1) <= stco[1]]
            # stsc runs -> samples-per-chunk for every chunk
            n_sc = u32(stsc[0] + 4)
            runs = []
            for k in range(n_sc):
                at = stsc[0] + 8 + 12 * k
                if at + 12 > stsc[1]:
                    break
                runs.append((u32(at), u32(at + 4)))
            spc = []
            for k, (fc, per) in enumerate(runs):
                last = (runs[k + 1][0] - 1 if k + 1 < len(runs)
                        else len(chunk_off))
                spc.extend(per for _ in range(fc, last + 1))
            # walk samples through chunks
            frames = []
            s = 0
            for c, off in enumerate(chunk_off):
                within = 0
                per = spc[c] if c < len(spc) else 0
                for _ in range(per):
                    if s >= len(sizes) or s >= len(ts):
                        break
                    frames.append((ts[s], off + within, sizes[s]))
                    within += sizes[s]
                    s += 1
            if frames:
                return (timescale, frames)
    return (None, None)


def video_frame_index(df: DataFrame, payload_col: str = "payload",
                      id_col: str = "media_id",
                      every_k: int = 1) -> DataFrame:
    """Frame index + frame sampling over ISO-BMFF payloads: walk the
    REAL sample table (:func:`parse_sample_table` — ``mdhd`` media
    timescale, ``stts`` run-length timestamps, ``stsz`` sizes, the
    ``stsc``/``stco`` sample→chunk→offset mapping) and emit one row
    per kept frame: ``(id, frame_idx, ts_s, byte_offset, n_bytes)``,
    keeping every ``every_k``-th frame — the frame-sampling plumbing
    of a video training pipeline, which selects WHICH frames to
    decode and the exact byte ranges to fetch before any codec runs
    (the codec itself stays a declared ``DecodeUnavailable`` in this
    container-free environment). ``ts_s`` is the decode timestamp in
    seconds, rounded half-up to 6 dp on the binary double
    (``floor(ticks / timescale * 1e6 + 0.5) / 1e6`` — exact-integer
    operands, so any SQL engine replays it verbatim).

    Payloads without a walkable sample table emit a single null-frame
    row (cardinality stays stable, the decode-degradation
    convention). Arrow-batched; payload bytes stay executor-side, and
    only the kept frames' index rows cross into the plan."""
    if every_k < 1:
        raise ValueError(f"every_k must be >= 1: {every_k}")

    def frame_rows(payload):
        timescale, frames = parse_sample_table(payload)
        if not frames:
            return [(None, None, None, None)]
        return [(idx, round_half_up(ticks / timescale, 6), off, nb)
                for idx, (ticks, off, nb) in enumerate(frames)
                if idx % every_k == 0]

    return map_rows(
        df, frame_rows, f"{id_col} long, frame_idx int, ts_s double, "
        "byte_offset long, n_bytes long", [payload_col], id_col)


def mjpeg_bytes(frames, media_timescale: int = 1000,
                delta: int = 40, quant: int = 1) -> bytes:
    """A structurally-valid Motion-JPEG ISO-BMFF stream: each frame
    (a uint8 ``(h, w)`` or ``(h, w, 3)`` array) is encoded as a
    complete baseline JPEG by :func:`structa_spark.operators.jpeg.
    encode_jpeg`, the JPEGs are laid contiguously in an ``mdat`` box,
    and the ``moov`` sample table (``stts``/``stsz``/``stsc``/
    ``stco``) points at each frame's real byte range — the MJPG-track
    layout (QuickTime/AVI captures, many scientific cameras). With
    ``quant=1`` and flat 8x8 blocks the JPEG round trip is exact, so
    oracles can predict decoded frame pixels arithmetically."""
    from .jpeg import encode_jpeg

    payloads = [encode_jpeg(f, quant=quant) for f in frames]
    sizes = [len(p) for p in payloads]
    h, w = frames[0].shape[:2]
    # the header length depends only on the frame COUNT (fixed-width
    # stco/stsz entries), so build once with dummy offsets to size
    # it, then rebuild with the real mdat-relative offsets
    hdr = mp4_frame_index_bytes(
        w, h, media_timescale, [(len(frames), delta)],
        sample_sizes=sizes, chunk_offsets=[0] * len(frames))
    base = len(hdr) + 8  # mdat box header
    offs, pos = [], base
    for s in sizes:
        offs.append(pos)
        pos += s
    hdr = mp4_frame_index_bytes(
        w, h, media_timescale, [(len(frames), delta)],
        sample_sizes=sizes, chunk_offsets=offs)
    return hdr + _bmff_box(b"mdat", b"".join(payloads))


def video_frame_dhash(df: DataFrame, payload_col: str = "payload",
                      id_col: str = "media_id", every_k: int = 1,
                      bits: int = 48) -> DataFrame:
    """Frame-level perceptual hashing of Motion-JPEG video payloads —
    the composition that turns the sample-table walk into video
    dedup: :func:`parse_sample_table` locates every kept frame's
    byte range, the range decodes as a complete baseline JPEG
    (``operators/jpeg.py`` — MJPG tracks store exactly that), and
    each decoded frame runs the shared dHash core (:func:`_dhash_of`,
    the same signature family as :func:`image_dhash`, so frame
    hashes drop straight into the pigeonhole machinery). Emits
    ``(id, frame_idx, ts_s, dhash)`` per kept frame; payloads
    without a walkable sample table emit one null-frame row, and an
    undecodable individual frame keeps its row with a null hash (the
    decode-degradation convention). Non-MJPEG codecs (H.264 …) are a
    principled ``DecodeUnavailable`` — their frame bytes are not
    standalone images.

    Scale shape: pure per-row parse + decode inside Arrow batches,
    no shuffle; only ``(id, idx, ts, hash)`` rows cross into the
    plan — never pixels."""
    if every_k < 1:
        raise ValueError(f"every_k must be >= 1: {every_k}")
    rows_n = 8
    if bits % rows_n:
        raise ValueError(f"bits must be a multiple of {rows_n}: {bits}")
    if not 0 < bits <= 56:
        raise ValueError(f"bits must be in [8, 56]: {bits}")
    cols = bits // rows_n + 1

    def frame_hashes(payload):
        p = payload or b""
        timescale, frames = parse_sample_table(p)
        if not frames:
            return [(None, None, None)]
        out = []
        for idx in range(0, len(frames), every_k):
            ticks, off, nb = frames[idx]
            try:
                _kind, arr = _decode_image(p[off:off + nb])
                h = _dhash_of(arr, rows_n, cols)
            except DecodeUnavailable:
                h = None
            out.append((idx, round_half_up(ticks / timescale, 6), h))
        return out

    return map_rows(
        df, frame_hashes, f"{id_col} long, frame_idx int, "
        "ts_s double, dhash long", [payload_col], id_col)


def video_scene_cuts(df: DataFrame, payload_col: str = "payload",
                     id_col: str = "media_id", threshold: int = 10,
                     bits: int = 48) -> DataFrame:
    """Scene-cut detection over Motion-JPEG payloads: every frame
    decodes through the sample-table walk + baseline-JPEG path and
    hashes with the shared dHash core, and a cut is flagged wherever
    the hamming distance between CONSECUTIVE frames exceeds
    ``threshold`` — the shot-boundary step a video training pipeline
    runs before per-scene sampling or captioning. Emits one row per
    frame WITH a predecessor: ``(id, frame_idx, hamming, is_cut)``;
    an undecodable frame breaks the chain (no row for it or its
    successor — a defect is not a cut).

    Scale shape: all frames of one video live in ONE row's payload,
    so the consecutive-frame fold is local to the decode batch — no
    window, no shuffle, pixels and hashes never leave the executor;
    only the per-boundary verdict rows enter the plan. Contrast
    :func:`video_near_duplicates`, whose CROSS-video comparison
    genuinely needs the frame-keyed bucket exchange."""
    rows_n = 8
    if bits % rows_n:
        raise ValueError(f"bits must be a multiple of {rows_n}: {bits}")
    if not 0 < bits <= 56:
        raise ValueError(f"bits must be in [8, 56]: {bits}")
    if threshold < 0:
        raise ValueError(f"threshold must be >= 0: {threshold}")
    cols = bits // rows_n + 1

    def cuts(payload):
        p = payload or b""
        _timescale, frames = parse_sample_table(p)
        prev = None
        for idx, (_ticks, off, nb) in enumerate(frames or ()):
            try:
                _kind, arr = _decode_image(p[off:off + nb])
                h = _dhash_of(arr, rows_n, cols)
            except DecodeUnavailable:
                h = None
            if prev is not None and h is not None:
                ham = bin(prev ^ h).count("1")
                yield (idx, ham, ham > threshold)
            prev = h

    return map_rows(
        df, cuts, f"{id_col} long, frame_idx int, hamming int, "
        "is_cut boolean", [payload_col], id_col)


def video_near_duplicates(df: DataFrame, payload_col: str = "payload",
                          id_col: str = "media_id", every_k: int = 1,
                          max_hamming: int = 3, bits: int = 48,
                          max_bucket: int = 10_000) -> DataFrame:
    """Near-duplicate VIDEO pairs by frame-aligned dHash distance:
    hash every ``every_k``-th MJPEG frame
    (:func:`video_frame_dhash`), find frame-level candidate pairs
    through the frame-aware pigeonhole
    (:func:`structa_spark.operators.dedup.framewise_hamming_pairs` —
    full recall per frame, ONE bucket shuffle, never all-pairs), and
    keep a video pair iff EVERY sampled frame of both sides matched
    within ``max_hamming`` (frame counts must agree — a trailer is
    not a near-dup of its film). Returns
    ``(id_a, id_b, n_frames, max_frame_hamming)``.

    Scale shape: the decode stays partition-parallel; the only
    shuffles are the bucket exchange (keyed by frame + signature
    block, so buckets stay small even when every video shares a
    popular frame hash at SOME index) and two id-keyed aggs of
    id/count rows. Pixels and payloads never shuffle."""
    from .dedup import framewise_hamming_pairs

    sig = (video_frame_dhash(df, payload_col, id_col,
                             every_k=every_k, bits=bits)
           .where(F.col("dhash").isNotNull()
                  & F.col("frame_idx").isNotNull())
           # the per-frame hash relation feeds BOTH the frame-count
           # agg and the pigeonhole pairs; uncached, each consumer
           # re-ran the whole sample-table walk + per-frame JPEG
           # decode — checkpoint the byte-small (id, frame, ts,
           # hash) rows so the decode runs once
           .localCheckpoint(eager=False))
    n_frames = (sig.groupBy(id_col)
                .agg(F.countDistinct("frame_idx").alias("n")))
    pairs_f = framewise_hamming_pairs(
        sig, id_col=id_col, frame_col="frame_idx", sig_col="dhash",
        max_hamming=max_hamming, bits=bits, max_bucket=max_bucket)
    agg = (pairs_f.groupBy("id_a", "id_b")
           .agg(F.countDistinct("frame_idx").alias("n_frames"),
                F.max("hamming").alias("max_frame_hamming")))
    na = n_frames.select(F.col(id_col).alias("id_a"),
                         F.col("n").alias("n_a"))
    nb = n_frames.select(F.col(id_col).alias("id_b"),
                         F.col("n").alias("n_b"))
    return (agg.join(na, "id_a").join(nb, "id_b")
            .where((F.col("n_frames") == F.col("n_a"))
                   & (F.col("n_frames") == F.col("n_b")))
            .select("id_a", "id_b", "n_frames", "max_frame_hamming"))


VIDEO_META_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("container", T.StringType()),
    T.StructField("duration_s", T.DoubleType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("n_tracks", T.IntegerType()),
])


def video_metadata(df: DataFrame, payload_col: str = "payload",
                   id_col: str = "media_id") -> DataFrame:
    """(media_id, container, duration_s, width, height, n_tracks)
    parsed FROM THE BYTES over Arrow batches; payloads never leave
    the executors, duration rounds to 6 decimals."""

    def meta(payload):
        container, dur, w, h, n_tracks = parse_video_header(payload)
        if dur is not None:
            dur = round(dur, 6)
        return [(container, dur, w, h, n_tracks)]

    return map_rows(df, meta, VIDEO_META_SCHEMA, [payload_col], id_col)


def _gray(arr):
    """Integer grayscale mixdown (``sum // channels``) of an
    ``(h, w, c)`` image; a 2-D array is already gray."""
    import numpy as np

    if arr.ndim == 3:
        arr = arr.astype(np.int64).sum(axis=2) // arr.shape[2]
    return arr


def _dhash_of(arr, rows: int, cols: int) -> int:
    """The dHash core shared by image and video-frame hashing:
    integer grayscale mixdown (:func:`_gray`), nearest-neighbor
    resize to ``rows x cols``, one bit per horizontal neighbor pair
    (``1`` iff the right pixel is brighter). Integer arithmetic end
    to end, bit-deterministic across platforms."""
    import numpy as np

    small = _resize_nearest(_gray(arr), rows, cols).astype(np.int64)
    diff = (small[:, 1:] > small[:, :-1]).flatten()
    h = 0
    for b in np.nonzero(diff)[0]:
        h |= 1 << int(b)
    return h


def image_dhash(df: DataFrame, payload_col: str = "payload",
                id_col: str = "media_id", bits: int = 48) -> DataFrame:
    """Perceptual difference-hash of image payloads: decode (PNG/GIF/
    baseline-JPEG via the stdlib decoders), integer grayscale,
    nearest-neighbor resize to 8 rows x (bits/8 + 1) columns, then one
    bit per horizontal neighbor pair (``1`` iff the right pixel is
    brighter) — the classic dHash, robust to re-encoding, scaling and
    small edits. ``bits`` defaults to 48 so the signature drops
    straight into the simhash pigeonhole machinery
    (:func:`structa_spark.operators.dedup.hamming_near_duplicates`).

    Integer arithmetic end to end (sum//channels grayscale, index-map
    resize, strict > compare), so the hash is bit-deterministic
    across platforms and exactly replayable by an oracle that knows
    the pixel formula. Undecodable payloads yield a null hash (rows
    kept, join cardinality stable). Arrow-batched; payload bytes stay
    executor-side.
    """
    rows = 8
    if bits % rows:
        raise ValueError(f"bits must be a multiple of {rows}: {bits}")
    if not 0 < bits <= 56:
        # bit index bits-1 must stay below 63: the hash column is a
        # signed int64, so bits=64 would overflow at the Arrow
        # long conversion on ~half of all inputs. 56 is the largest
        # multiple of 8 that fits.
        raise ValueError(f"bits must be in [8, 56]: {bits}")
    cols = bits // rows + 1

    def dhash(payload):
        try:
            _kind, arr = _decode_image(payload or b"")
        except DecodeUnavailable:
            return [(None,)]
        return [(_dhash_of(arr, rows, cols),)]

    return map_rows(df, dhash, f"{id_col} long, dhash long",
                    [payload_col], id_col)


def image_phash(df: DataFrame, payload_col: str = "payload",
                id_col: str = "media_id", n: int = 16,
                block: int = 8) -> DataFrame:
    """Perceptual DCT hash (pHash) of image payloads: decode,
    integer grayscale, nearest-neighbor resize to ``n x n``, 2-D
    DCT-II, keep the ``block x block`` low-frequency corner, and set
    one bit per non-DC coefficient above the median of the 63
    non-DC coefficients — the classic pHash (as popularized by the
    ImageHash library and used in LAION-scale image dedup), which
    survives brightness/scale/re-encode edits that flip dHash bits.
    63 bits pack into a signed int64.

    Cross-engine determinism: every DCT coefficient is rounded to 4
    decimals as ``floor(x * 10000 + 0.5) / 10000`` — half-up toward
    +infinity, computed on the BINARY double with three IEEE ops that
    any SQL engine replays verbatim (no shortest-repr detour, which
    can round a boundary-straddling sum differently from the binary
    value) — before the median pick and the strict > compare. libm
    cos differences between engines sit at ~1e-12 after the 256-term
    sums, so the rounded coefficients (and hence the median, an exact
    order statistic of rounded values, and every bit) replay
    identically in an external SQL oracle.
    Undecodable payloads yield a null hash (rows kept).
    Arrow-batched; payload bytes stay executor-side."""
    import numpy as np

    y = np.arange(n)
    u = np.arange(block)
    # M[u, y] = cos(pi * (2y + 1) * u / (2n)); coeffs = M p M^T
    M = np.cos(np.pi * (2 * y[None, :] + 1) * u[:, None] / (2 * n))

    def phash(payload):
        try:
            _kind, arr = _decode_image(payload or b"")
        except DecodeUnavailable:
            return [(None,)]
        small = _resize_nearest(_gray(arr), n, n).astype(np.float64)
        co = M @ small @ M.T
        flat = (np.floor(co.flatten()[1:] * 10000.0 + 0.5)
                / 10000.0).tolist()
        med = sorted(flat)[(len(flat) - 1) // 2]
        h = 0
        for b, v in enumerate(flat):
            if v > med:
                h |= 1 << b
        return [(h,)]

    return map_rows(df, phash, f"{id_col} long, phash long",
                    [payload_col], id_col)


def image_near_duplicates(df: DataFrame, payload_col: str = "payload",
                          id_col: str = "media_id",
                          max_hamming: int = 3, bits: int = 48,
                          max_bucket: int = 10_000) -> DataFrame:
    """Near-duplicate IMAGE pairs by dHash Hamming distance — the
    image twin of text simhash dedup, sharing the full-recall
    pigeonhole bucketing: signatures within ``max_hamming`` agree on
    at least one of ``max_hamming + 1`` blocks, so candidates come
    from ONE bucket shuffle (never an all-pairs join) and verify with
    the exact popcount. Undecodable payloads drop (a null hash can
    match nothing)."""
    from .dedup import hamming_near_duplicates

    sig = image_dhash(df, payload_col, id_col, bits) \
        .where(F.col("dhash").isNotNull())
    return hamming_near_duplicates(
        sig, id_col=id_col, sig_col="dhash",
        max_hamming=max_hamming, bits=bits, max_bucket=max_bucket)


def audio_envelope_hash(df: DataFrame, payload_col: str = "payload",
                        id_col: str = "media_id",
                        bits: int = 48) -> DataFrame:
    """Energy-envelope difference-hash of audio payloads: REAL WAV
    decode, integer mono mixdown (``sum // channels``; float samples
    truncate toward zero first), the |sample| stream split into
    ``bits + 1`` windows by the same index map the image resampler
    uses (sample ``t`` lands in window ``t*(bits+1)//n``), one bit
    per neighboring window pair (``1`` iff the right window carries
    more energy) — the audio twin of :func:`image_dhash`, robust to
    level-preserving re-encoding and padding-free trims. Empty
    windows (clips shorter than ``bits + 1`` samples) count zero
    energy, so short clips hash deterministically too. ``bits``
    defaults to 48 so signatures drop straight into
    :func:`structa_spark.operators.dedup.hamming_near_duplicates`.
    Integer arithmetic end to end; undecodable payloads yield a null
    hash (rows kept)."""
    import numpy as np

    if not 0 < bits <= 63:
        # highest diff bit is bits-1; the env_hash column is a signed
        # int64, so bits=64 would set bit 63 and overflow at the
        # Arrow long conversion on ~half of all inputs
        raise ValueError(f"bits must be in [1, 63]: {bits}")
    windows = bits + 1

    def env_hash(payload):
        try:
            samples, _rate = decode_wav_samples(payload or b"")
        except DecodeUnavailable:
            return [(None,)]
        s = np.asarray(samples).astype(np.int64)
        if s.ndim == 2:
            s = s.sum(axis=1) // s.shape[1]
        n = len(s)
        if n == 0:
            return [(None,)]
        idx = (np.arange(n) * windows) // n
        e = np.zeros(windows, dtype=np.int64)
        np.add.at(e, idx, np.abs(s))
        h = 0
        for b in np.nonzero(e[1:] > e[:-1])[0]:
            h |= 1 << int(b)
        return [(h,)]

    return map_rows(df, env_hash, f"{id_col} long, env_hash long",
                    [payload_col], id_col)


def _mono_samples(payload):
    """``(mono samples, sample_rate)`` of a WAV payload through the
    REAL decoder: integer PCM mixes down in exact int64 (``sum //
    channels``), IEEE-float WAVs to the float64 channel mean. Raises
    ``DecodeUnavailable`` for undecodable payloads and empty clips."""
    import numpy as np

    samples, rate = decode_wav_samples(payload or b"")
    s = np.asarray(samples)
    if np.issubdtype(s.dtype, np.floating):
        s = s.astype(np.float64)
        if s.ndim == 2:
            s = s.sum(axis=1) / s.shape[1]
    else:
        s = s.astype(np.int64)
        if s.ndim == 2:
            s = s.sum(axis=1) // s.shape[1]
    if len(s) == 0:
        raise DecodeUnavailable("no samples")
    return s, rate


def audio_zero_crossings(df: DataFrame,
                         payload_col: str = "payload",
                         id_col: str = "media_id") -> DataFrame:
    """Zero-crossing rate of audio payloads through the REAL WAV
    decoder: mono mixdown, then a crossing wherever two consecutive
    samples have strictly opposite signs (``s[t] * s[t+1] < 0`` —
    zeros never cross, so the count is exact and replayable). ZCR is
    the classic cheap voiced/unvoiced/noise discriminator a
    speech-data curation pipeline screens with before any model runs:
    silence and hum sit near 0, white noise near 0.5.

    Integer PCM mixes down in exact int64 (``sum // channels``);
    IEEE-float WAVs (fmt tag 3, samples in [-1, 1)) mix down and
    sign-test on the RAW float values — casting them to int64 first
    would truncate every sample to 0 and report silence for loud
    noise. The sign test itself is exact in either domain.

    Returns ``(id, n_samples, n_crossings, zcr)`` with
    ``zcr = crossings / (n_samples - 1)`` (single-sample clips rate
    0). Undecodable payloads yield null features (rows kept).
    Arrow-batched; payload bytes stay executor-side."""
    import numpy as np

    def zero_crossings(payload):
        try:
            s, _rate = _mono_samples(payload)
        except DecodeUnavailable:
            return [(None, None, None)]
        n = len(s)
        k = int(np.count_nonzero(s[:-1] * s[1:] < 0))
        return [(n, k, round(k / (n - 1), 6) if n > 1 else 0.0)]

    return map_rows(
        df, zero_crossings, f"{id_col} long, n_samples long, "
        "n_crossings long, zcr double", [payload_col], id_col)


def audio_clipping_stats(df: DataFrame,
                         payload_col: str = "payload",
                         id_col: str = "media_id",
                         full_scale: float | None = None,
                         silence_eps: float = 0.0) -> DataFrame:
    """Clipping / silence / level screen of audio payloads through
    the REAL WAV decoder — the recording-defect battery a speech
    curation pipeline runs beside :func:`audio_zero_crossings`
    before any model: a clipped microphone saturates at digital
    full scale (distortion no downstream filter recovers from), a
    dead channel shows as a long all-zero run, and a mis-gained
    capture shows in the RMS level.

    Per clip (mono mixdown first — exact ``sum // channels`` for
    integer PCM, raw-float mean for IEEE-float WAVs, the
    :func:`audio_zero_crossings` convention):

    * ``peak`` — max absolute sample (exact for integer PCM; floats
      rounded half-up to 6 dp on the binary double),
    * ``rms`` — ``sqrt(sum(s^2) / n)`` rounded half-up to 4 dp; the
      square sum is integer-exact for PCM and IEEE sqrt is a
      correctly-rounded op, so the value replays bit-for-bit in any
      SQL engine from the same samples,
    * ``clipped_frac`` — fraction of samples with ``|s| >=
      full_scale``, rounded half-up to 6 dp (``>=`` so the int16
      minimum -32768 counts as clipped against full scale 32767),
    * ``max_silence_run`` — longest run of consecutive samples with
      ``|s| <= silence_eps`` (exact integer; the default 0 counts
      exact zeros only, keeping the run replayable without a float
      tolerance).

    ``full_scale`` defaults by decoded dtype: 32767 for 16-bit PCM,
    2^31 - 1 for 32-bit, 1.0 for IEEE-float. CAVEAT: the decoder
    surfaces 8-bit PCM as int16 in [-128, 127], so 8-bit sources
    need an explicit ``full_scale=127``.

    All rounding is ``floor(x * 10^d + 0.5) / 10^d`` on the binary
    double — the pHash discipline — so a SQL oracle replays it
    verbatim. Undecodable payloads yield null features (rows kept).
    Arrow-batched; payload bytes stay executor-side."""
    import math
    from itertools import groupby

    import numpy as np

    def clipping(payload):
        try:
            samples, _rate = decode_wav_samples(payload or b"")
        except DecodeUnavailable:
            return [(None,) * 5]
        s = np.asarray(samples)
        if np.issubdtype(s.dtype, np.floating):
            fs = 1.0 if full_scale is None else full_scale
            s = s.astype(np.float64)
            if s.ndim == 2:
                s = s.sum(axis=1) / s.shape[1]
        else:
            if full_scale is None:
                fs = (2147483647.0
                      if s.dtype.itemsize >= 4 else 32767.0)
            else:
                fs = full_scale
            s = s.astype(np.int64)
            if s.ndim == 2:
                s = s.sum(axis=1) // s.shape[1]
        n = len(s)
        if n == 0:
            return [(None,) * 5]
        a = np.abs(s)
        peak = float(a.max())
        if not np.issubdtype(np.asarray(samples).dtype, np.integer):
            peak = round_half_up(peak, 6)
        if (np.issubdtype(s.dtype, np.integer)
                and n * float(a.max()) ** 2 < 2 ** 62):
            # exact int64 square sum, guarded by the worst-case total
            # n*peak^2 (16-bit PCM always passes; near-full-scale
            # 32-bit PCM falls to the float path, where int64 np.dot
            # would silently wrap)
            ss = float(int(np.dot(s, s)))
        else:
            sf64 = s.astype(np.float64)
            ss = float(np.dot(sf64, sf64))
        clipped = int(np.count_nonzero(a >= fs))
        run = max((sum(1 for _ in g)
                   for z, g in groupby(a <= silence_eps) if z),
                  default=0)
        return [(n, peak, round_half_up(math.sqrt(ss / n), 4),
                 round_half_up(clipped / n, 6), run)]

    return map_rows(
        df, clipping, f"{id_col} long, n_samples long, peak double, "
        "rms double, clipped_frac double, max_silence_run long",
        [payload_col], id_col)


def audio_vad_segments(df: DataFrame, payload_col: str = "payload",
                       id_col: str = "media_id",
                       frame_len: int = 200,
                       energy_threshold: int = 1000,
                       min_frames: int = 1) -> DataFrame:
    """Energy-gated voice-activity segmentation through the REAL WAV
    decoder — the pre-transcription step a speech pipeline runs after
    the clipping/silence screen (:func:`audio_clipping_stats`): chop
    the clip into non-overlapping ``frame_len``-sample frames
    (trailing partial frame included), gate each frame on its mean
    absolute amplitude, and emit the maximal runs of consecutive
    voiced frames as segments. This is the audio twin of sentence
    chunking: downstream ASR consumes ``(id, seg_idx, start_s,
    end_s)`` work items, not whole recordings.

    The gate is INTEGER-EXACT for PCM: frame ``f`` is voiced iff
    ``sum(|s|) > energy_threshold * n_frame_samples`` (strictly
    greater, so an all-zero frame never passes at any threshold) —
    mean-energy semantics without a division, replayable verbatim by
    a SQL oracle. IEEE-float WAVs compare on the raw float sum (the
    :func:`audio_zero_crossings` convention). Mono mixdown first
    (``sum // channels`` integer, mean for floats).

    Output: one row per kept segment (runs shorter than
    ``min_frames`` drop) — ``(id, seg_idx, start_frame, end_frame,
    start_s, end_s)`` with ``seg_idx`` 0-based per clip in time
    order, ``start_s = round(start_frame * frame_len / rate, 6)``
    and ``end_s = round(min((end_frame + 1) * frame_len, n_samples)
    / rate, 6)`` (the trailing partial frame ends at the clip edge,
    not past it). Undecodable or all-silent clips emit no rows (a
    segment table, not a per-clip report — join back to the corpus
    for coverage accounting). Arrow-batched ``mapInArrow``; samples
    stay executor-side, no shuffle."""
    import numpy as np

    if frame_len < 1:
        raise ValueError(f"frame_len must be >= 1: {frame_len}")

    def segments(payload):
        try:
            s, rate = _mono_samples(payload)
        except DecodeUnavailable:
            return
        n = len(s)
        a = np.abs(s)
        n_frames = (n + frame_len - 1) // frame_len
        starts = np.arange(n_frames) * frame_len
        sums = np.add.reduceat(a, starts)
        sizes = np.minimum(starts + frame_len, n) - starts
        voiced = sums > energy_threshold * sizes
        seg_idx = 0
        f = 0
        while f < n_frames:
            if not voiced[f]:
                f += 1
                continue
            g = f
            while g + 1 < n_frames and voiced[g + 1]:
                g += 1
            if g - f + 1 >= min_frames:
                end_sample = min((g + 1) * frame_len, n)
                yield (seg_idx, f, g,
                       round_half_up(f * frame_len / rate, 6),
                       round_half_up(end_sample / rate, 6))
                seg_idx += 1
            f = g + 1

    return map_rows(
        df, segments, f"{id_col} long, seg_idx int, start_frame int, "
        "end_frame int, start_s double, end_s double", [payload_col],
        id_col)


def image_pixel_stats(df: DataFrame, payload_col: str = "payload",
                      id_col: str = "media_id",
                      bins: int = 16) -> DataFrame:
    """Pixel-distribution quality screen of image payloads through
    the REAL decoder: grayscale histogram entropy, dominant-bucket
    fraction and mean level — the cheap flat/synthetic-image filter
    an image-curation pipeline runs before any model (a solid-color
    card or a two-tone chart has near-zero entropy; a natural photo
    fills the histogram).

    Per image: integer grayscale (``sum // channels``, the dHash
    mixdown), ``bins`` equal-width buckets (``v * bins // 256``),
    then

    * ``entropy`` — Shannon entropy of the bucket distribution in
      nats; each ``-p * ln(p)`` term is rounded to 6 dp on the
      binary double and the term sum to 4 dp (the pHash discipline:
      ln drift dies in the per-term rounding, summation-order ulps
      in the final one),
    * ``dominant_frac`` — heaviest bucket's pixel share (4 dp),
    * ``mean_gray`` — mean level (4 dp; the pixel sum is
      integer-exact in any engine),
    * ``n_buckets_used`` — nonzero buckets.

    Undecodable payloads yield null features (rows kept).
    Arrow-batched; payload bytes stay executor-side."""
    import math

    import numpy as np

    def pixel_stats(payload):
        try:
            _kind, arr = _decode_image(payload or b"")
        except DecodeUnavailable:
            return [(None,) * 5]
        flat = _gray(arr).astype(np.int64).ravel()
        n = int(flat.size)
        if n == 0:
            return [(None,) * 5]
        counts = np.bincount((flat * bins) // 256, minlength=bins)
        counts = counts[counts > 0]
        terms = 0.0
        for c in counts.tolist():
            pr = c / n
            terms += round_half_up(-pr * math.log(pr), 6)
        return [(n, round_half_up(int(flat.sum()) / n, 4),
                 round_half_up(terms, 4),
                 round_half_up(int(counts.max()) / n, 4),
                 int(counts.size))]

    return map_rows(
        df, pixel_stats, f"{id_col} long, n_pixels long, "
        "mean_gray double, entropy double, dominant_frac double, "
        "n_buckets_used int", [payload_col], id_col)


def audio_spectral_features(df: DataFrame,
                            payload_col: str = "payload",
                            id_col: str = "media_id",
                            frame: int = 64,
                            rolloff_frac: float = 0.85) -> DataFrame:
    """Frequency-domain screen of audio payloads through the REAL
    WAV decoder: spectral centroid and rolloff over a DFT of the
    first ``frame`` samples — the natural next rung after the
    time-domain ZCR screen (:func:`audio_zero_crossings`) on the
    speech-curation ladder: hum and rumble sit at a low centroid,
    hiss and noise high; rolloff separates band-limited speech from
    full-band noise before any model runs.

    Per clip: mono mixdown (int64-exact for PCM, raw floats for
    IEEE-float WAVs — the ZCR discipline), the first
    ``m = min(n, frame)`` samples, magnitude per DFT bin
    ``k = 1..m//2`` (DC skipped), each magnitude rounded
    ``floor(x * 10000 + 0.5) / 10000`` BEFORE any ratio — the pHash
    rounding discipline, so an external SQL oracle replaying the
    cosine/sine sums lands on the identical doubles. Centroid is the
    magnitude-weighted mean bin (4-dp rounded); ``rolloff_bin`` the
    smallest bin whose cumulative magnitude reaches
    ``rolloff_frac`` of the total. Silent frames (zero total)
    report centroid 0.0, rolloff 0. Returns ``(id, n_samples,
    frame_len, centroid, rolloff_bin)``; undecodable payloads yield
    null features (rows kept). Arrow-batched; payload bytes stay
    executor-side."""
    import numpy as np

    def spectral(payload):
        try:
            s, _rate = _mono_samples(payload)
        except DecodeUnavailable:
            return [(None,) * 4]
        n = len(s)
        m = min(n, frame)
        x = s[:m].astype(np.float64)
        kk = np.arange(1, m // 2 + 1, dtype=np.float64)
        centroid, roll = 0.0, 0
        if kk.size:
            t = np.arange(m, dtype=np.float64)
            # angle = ((2*pi) * (k*t)) / m — the exact op order the
            # SQL twin uses, so the doubles entering cos/sin are
            # bit-identical
            ang = (2.0 * np.pi) * (kk[:, None] * t[None, :]) / m
            re = (np.cos(ang) * x[None, :]).sum(axis=1)
            im = (np.sin(ang) * x[None, :]).sum(axis=1)
            mag = np.floor(np.sqrt(re * re + im * im) * 10000.0
                           + 0.5) / 10000.0
            total = float(mag.sum())
            if total > 0:
                centroid = round_half_up(
                    float((kk * mag).sum()) / total, 4)
                idx = int(np.searchsorted(
                    np.cumsum(mag), rolloff_frac * total, side="left"))
                roll = int(kk[min(idx, kk.size - 1)])
        return [(n, m, centroid, roll)]

    return map_rows(
        df, spectral, f"{id_col} long, n_samples long, frame_len int, "
        "centroid double, rolloff_bin int", [payload_col], id_col)


def audio_mfcc_features(df: DataFrame, payload_col: str = "payload",
                        id_col: str = "media_id", frame: int = 64,
                        n_mels: int = 12,
                        n_mfcc: int = 4) -> DataFrame:
    """Mel-filterbank cepstral coefficients (MFCC) of audio payloads
    through the REAL WAV decoder — the standard next rung above the
    spectral centroid/rolloff screen for speech-corpus clustering and
    dedup: mel warping matches perceptual pitch spacing, the log
    compresses dynamics, and the DCT decorrelates neighboring bands
    into a compact timbre signature.

    Per clip, over the first ``m = min(n, frame)`` mono samples:

    * DFT magnitudes for bins ``k = 1..m//2``, each rounded 4-dp on
      the binary double (identical to :func:`audio_spectral_features`
      — same op order ``2*pi*(k*t)/m``, so one SQL twin serves both),
    * ``n_mels`` triangular mel filters: band edges are ``n_mels+2``
      equally spaced points on the mel axis (``2595*log10(1+f/700)``)
      from 0 to rate/2, mapped back to fractional DFT bins; each
      weight is rounded 6-dp BEFORE use (log10/pow differ by ~1 ulp
      across libms — rounding makes both engines consume identical
      weights),
    * filter (power) energies ``E_j = sum_k w_jk * mag_k^2`` are NOT
      rounded: the following ``ln(E_j + 1)`` compresses the
      summation-order ulps (relative ~1e-15) far below the 4-dp
      rounding of the log energy, where rounding E itself at any
      fixed decimal would sit boundary-close at this magnitude,
    * DCT-II over the ``n_mels`` rounded log-energies gives
      ``mfcc_i = sum_j l_j * cos(pi*i*(2j+1)/(2*n_mels))``, each
      rounded 4-dp.

    Returns ``(id, n_samples, frame_len, mfcc0..mfcc{n_mfcc-1})``;
    clips too short for any DFT bin (m < 2) and undecodable payloads
    yield null coefficients (rows kept). Arrow-batched; samples stay
    executor-side."""
    import math

    import numpy as np

    def mfcc(payload):
        try:
            s, rate = _mono_samples(payload)
        except DecodeUnavailable:
            return [(None, None) + (None,) * n_mfcc]
        n = len(s)
        m = min(n, frame)
        K = m // 2
        if K < 1 or not rate:
            return [(n, m) + (None,) * n_mfcc]
        x = s[:m].astype(np.float64)
        kk = np.arange(1, K + 1, dtype=np.float64)
        t = np.arange(m, dtype=np.float64)
        ang = (2.0 * np.pi) * (kk[:, None] * t[None, :]) / m
        re = (np.cos(ang) * x[None, :]).sum(axis=1)
        im = (np.sin(ang) * x[None, :]).sum(axis=1)
        mag = np.floor(np.sqrt(re * re + im * im) * 10000.0
                       + 0.5) / 10000.0
        power = mag * mag
        # mel band edges as fractional DFT bins
        mel_hi = 2595.0 * math.log10(1.0 + (rate / 2.0) / 700.0)
        b = [700.0 * (10.0 ** ((j * mel_hi / (n_mels + 1)) / 2595.0)
                      - 1.0) * m / rate
             for j in range(n_mels + 2)]
        logs = []
        for j in range(1, n_mels + 1):
            w = np.minimum((kk - b[j - 1]) / (b[j] - b[j - 1]),
                           (b[j + 1] - kk) / (b[j + 1] - b[j]))
            w = np.maximum(0.0, w)
            w = np.floor(w * 1000000.0 + 0.5) / 1000000.0
            e = float((w * power).sum())
            logs.append(round_half_up(math.log(e + 1.0), 4))
        mf = tuple(
            round_half_up(sum(logs[j] * math.cos(
                math.pi * i * (2 * j + 1) / (2.0 * n_mels))
                for j in range(n_mels)), 4)
            for i in range(n_mfcc))
        return [(n, m) + mf]

    cols = ", ".join(f"mfcc{i} double" for i in range(n_mfcc))
    return map_rows(
        df, mfcc, f"{id_col} long, n_samples long, frame_len int, "
        f"{cols}", [payload_col], id_col)


def audio_near_duplicates(df: DataFrame, payload_col: str = "payload",
                          id_col: str = "media_id",
                          max_hamming: int = 3, bits: int = 48,
                          max_bucket: int = 10_000) -> DataFrame:
    """Near-duplicate AUDIO pairs by envelope-hash Hamming distance,
    via the shared pigeonhole machinery — see
    :func:`image_near_duplicates` for the shape."""
    from .dedup import hamming_near_duplicates

    sig = audio_envelope_hash(df, payload_col, id_col, bits) \
        .where(F.col("env_hash").isNotNull())
    return hamming_near_duplicates(
        sig, id_col=id_col, sig_col="env_hash",
        max_hamming=max_hamming, bits=bits, max_bucket=max_bucket)
