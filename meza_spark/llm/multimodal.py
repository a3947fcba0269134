"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed row-local through
:func:`meza_spark.util.payload_rows` (``spread`` plus one Arrow-batched
``mapInPandas``; no operator here writes its own).

Every operator is a per-payload function plus a DDL field list. The
three with an ``unsupported=`` argument (``decode_image``,
``decode_audio``, ``decode_video``) share one policy,
:func:`_unsupported_rows`, with one catch tuple (``NotImplementedError``,
``ValueError``): ``'error'`` fails the job, ``'skip'`` drops the
payload, ``'stub'`` (``decode_image`` only) emits the deterministic fake
stats, and any other value raises when the frame is built.
``image_features``, ``frame_sample`` and ``resize_image`` always fall
back to their stub inside their own function, and
``parse_media_headers`` needs no policy: a container it does not
parse gives format ``'unknown'``.

Decode is REAL for every format stdlib+numpy can handle (r2 verdict
#4): BMP (24-bit BI_RGB), netpbm PPM/P6 + PGM/P5, 8/16-bit PNG both
non-interlaced and Adam7 (zlib inflate + all 5 scanline filters,
gray/gray-alpha/RGB/RGBA/palette), GIF87a/89a (variable-width LZW +
palette, 4-pass interlace), baseline sequential AND progressive
(SOF2) JPEG (canonical Huffman, restart markers, multi-scan spectral
selection + successive approximation per T.81 §G, orthonormal-basis
IDCT, 4:2:0 chroma upsample, YCbCr→RGB), and WAV 16/8-bit PCM sample
stats. Only hierarchical/arithmetic JPEG stays behind an honest
``NotImplementedError`` (or the opt-in deterministic stub used by
the plumbing tests); a cluster that wants those adds a decoder to
``decode_pixels``' dispatch and nothing else changes.

Scale notes: binary payloads ride in Arrow record batches; keep
``spark.sql.execution.arrow.maxRecordsPerBatch`` low (e.g. 64) for
multi-MB blobs so a batch fits in worker memory. Feature extraction is
one mapInPandas pass; ``spread`` round-robins a frame with fewer
partitions than cores (a no-op at scale), and only the optional
group-bys shuffle fixed-width features.
"""

from __future__ import annotations

import hashlib
import operator
import re
import struct
import zlib
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType, IntegerType, LongType, StringType, StructField, StructType,
)

from ..util import payload_rows

__all__ = ["media_schema", "attach_media_meta", "decode_image",
           "decode_audio", "decode_video", "decode_pixels",
           "resize_image", "image_features", "frame_sample",
           "parse_media_headers", "MAX_DECODE_PIXELS",
           "MAX_AUDIO_BYTES"]

# Decode budgets, validated BEFORE any header-driven allocation: a
# hostile 200-byte payload declaring 65535x65535 pixels (or a zlib
# bomb inflating 1000:1) must raise a skippable ValueError instead of
# OOM-killing the executor — at 100-TB crawl scale one such payload
# per shard would take down the whole stage, and MemoryError is NOT
# caught by decode_image(unsupported='skip'). Every _decode_* checks
# declared dims against MAX_DECODE_PIXELS before allocating, and PNG
# inflates through a max_length-bounded decompressobj.
MAX_DECODE_PIXELS = 64_000_000
MAX_AUDIO_BYTES = 256_000_000


def _check_pixels(h: int, w: int, fmt: str) -> None:
    """Shared pre-allocation budget gate for the image decoders."""
    if h <= 0 or w <= 0:
        raise ValueError(f"{fmt} frame with non-positive dimension")
    if h * w > MAX_DECODE_PIXELS:
        raise ValueError(f"{fmt} dimensions {w}x{h} exceed the "
                         f"{MAX_DECODE_PIXELS}-pixel decode budget")

# canonical media metadata struct carried alongside the binary payload
MEDIA_META_FIELDS = [
    StructField("media_type", StringType()),    # image|audio|video
    StructField("format", StringType()),        # png|jpeg|wav|mp4|...
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("n_frames", IntegerType()),
    StructField("sample_rate", IntegerType()),
    StructField("duration_ms", LongType()),
]


def media_schema(payload_col: str = "payload") -> StructType:
    """Canonical multimodal row schema: id + binary payload + metadata."""
    return StructType([
        StructField("media_id", LongType()),
        StructField(payload_col, BinaryType()),
        StructField("meta", StructType(MEDIA_META_FIELDS)),
    ])


# Every container signature, in sniff precedence (first match wins).
# A row is (format, clauses); a clause is (offset, alternatives) and
# holds when one alternative starts at that offset; a row matches when
# all its clauses hold. ``None`` clauses mark the two predicate rows a
# prefix cannot express, written once per engine: the SVG prolog
# window (_svg_prolog / _jvm_svg_prolog) and bare MPEG audio sync
# (_mpeg_sync / _jvm_mpeg_sync). netpbm precedes the offset-4 ftyp
# rows, and mp4 is the catch-all after the brand-split ISO-BMFF rows.
# wbmp is absent on purpose: its two-zero-byte "magic" also prefixes
# MPEG-PS/ES and JP2, so a sniff stays honest and says 'unknown';
# decode_pixels still tries WBMP as its last resort.
_MAGICS = (
    ("png", ((0, (b"\x89PNG\r\n\x1a\n",)),)),
    ("jpeg", ((0, (b"\xff\xd8\xff",)),)),
    ("gif", ((0, (b"GIF87a", b"GIF89a")),)),
    ("bmp", ((0, (b"BM",)),)),
    ("tiff", ((0, (b"II*\x00", b"MM\x00*")),)),
    ("wav", ((0, (b"RIFF",)), (8, (b"WAVE",)))),
    ("avi", ((0, (b"RIFF",)), (8, (b"AVI ",)))),
    ("webp", ((0, (b"RIFF",)), (8, (b"WEBP",)))),
    ("aiff", ((0, (b"FORM",)), (8, (b"AIFF", b"AIFC")))),
    ("au", ((0, (b".snd",)),)),
    ("netpbm", ((0, (b"P5", b"P6")),)),
    ("pdf", ((0, (b"%PDF-",)),)),
    ("rtf", ((0, (b"{\\rtf",)),)),
    ("svg", ((0, (b"<svg",)),)),
    ("svg", None),
    # ISO-BMFF split by major brand: AVIF/HEIC are the modern-crawl
    # image containers, mif1/msf1 brand-agnostic HEIF shells
    ("avif", ((4, (b"ftyp",)), (8, (b"avif", b"avis")))),
    ("heic", ((4, (b"ftyp",)), (8, (b"heic", b"heix", b"hevc", b"hevx")))),
    ("heif", ((4, (b"ftyp",)), (8, (b"mif1", b"msf1")))),
    ("mp4", ((4, (b"ftyp",)),)),
    ("flac", ((0, (b"fLaC",)),)),
    ("mp3", ((0, (b"ID3",)),)),
    ("ogg", ((0, (b"OggS",)),)),
    # docx/pptx/odt/epub refinement is a member walk (office.py's
    # sniff_zip_doc); doctext.py gunzips and re-sniffs; mkv-vs-webm is
    # an EBML DocType parse (_ebml_headers) — none is a magic
    ("zip", ((0, (b"PK\x03\x04",)),)),
    ("gzip", ((0, (b"\x1f\x8b",)),)),
    ("ebml", ((0, (b"\x1aE\xdf\xa3",)),)),
    ("ico", ((0, (b"\x00\x00\x01\x00", b"\x00\x00\x02\x00")),)),
    ("mp3", None),
)
_ISOBMFF = ("avif", "heic", "heif", "mp4")
_SVG_PROLOGS = (b"<?xml", b"<!--", b"<!DOCTYPE svg")


def _svg_prolog(b: bytes) -> bool:
    """XML prolog / leading comment / SVG doctype whose <svg root opens
    within the first 1 KiB; plain XML and HTML stay 'unknown'."""
    return b.startswith(_SVG_PROLOGS) and b.find(b"<svg", 0, 1024) >= 0


def _mpeg_sync(b: bytes) -> bool:
    """Bare MPEG audio sync: 11 set bits plus non-reserved
    version/layer/bitrate/samplerate fields (the standard `file`-style
    validity screen — a lone 0xFF byte is common junk, a fully valid
    frame header is not)."""
    return len(b) >= 3 and b[0] == 0xFF and (b[1] & 0xE0) == 0xE0 \
        and (b[1] & 0x18) != 0x08 and (b[1] & 0x06) != 0 \
        and (b[2] & 0xF0) != 0xF0 and (b[2] & 0x0C) != 0x0C


_PREDICATES = {"svg": _svg_prolog, "mp3": _mpeg_sync}


def _sniff_format(b: bytes) -> str:
    """Container format of ``b`` by the first matching ``_MAGICS`` row
    ('unknown' if none)."""
    for fmt, clauses in _MAGICS:
        if clauses is None:
            if _PREDICATES[fmt](b):
                return fmt
            continue
        for off, alts in clauses:      # a plain loop: 4x faster than
            if not b.startswith(alts, off):   # all() over a generator
                break
        else:
            return fmt
    return "unknown"


def _jvm_clause(p, off: int, alts):
    """Column twin of ``b.startswith(alts, off)`` on a binary column."""
    return reduce(operator.or_, (
        F.substring(p, off + 1, n).isin(
            *[bytearray(a) for a in alts if len(a) == n])
        for n in sorted({len(a) for a in alts})))


def _jvm_svg_prolog(p):
    return _jvm_clause(p, 0, _SVG_PROLOGS) & (
        F.instr(F.substring(p, 1, 1024).cast("string"), "<svg") > 0)


def _jvm_mpeg_sync(p):
    # bytes 2 and 3 as ints for the bit tests (codegen'd)
    b2 = F.conv(F.hex(F.substring(p, 2, 1)), 16, 10).cast("int")
    b3 = F.conv(F.hex(F.substring(p, 3, 1)), 16, 10).cast("int")
    return ((F.hex(F.substring(p, 1, 1)) == "FF")
            & (b2.bitwiseAND(F.lit(0xE0)) == 0xE0)
            & (b2.bitwiseAND(F.lit(0x18)) != 0x08)
            & (b2.bitwiseAND(F.lit(0x06)) != 0)
            & (b3.bitwiseAND(F.lit(0xF0)) != 0xF0)
            & (b3.bitwiseAND(F.lit(0x0C)) != 0x0C))


_JVM_PREDICATES = {"svg": _jvm_svg_prolog, "mp3": _jvm_mpeg_sync}


def attach_media_meta(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Sniff container format + size from magic bytes — pure JVM-side
    expressions over the binary column, no decode: ``_MAGICS`` folded
    into one CASE chain, so it agrees with :func:`_sniff_format` by
    construction."""
    p = F.col(payload_col)
    fmt = F
    for name, clauses in _MAGICS:
        fmt = fmt.when(_JVM_PREDICATES[name](p) if clauses is None else
                       reduce(operator.and_, (_jvm_clause(p, *c)
                                              for c in clauses)), name)
    return df.withColumn("format", fmt.otherwise("unknown")) \
             .withColumn("n_bytes", F.length(p)) \
             .withColumn("payload_sha", F.sha2(p, 256))


def _bmp_rle8(data: bytes, w: int, h: int):
    """BI_RLE8 → (h, w) palette indices, bottom-up rows as stored.
    Escape codes per the Windows GDI spec: 00 00 end-of-line, 00 01
    end-of-bitmap, 00 02 dx dy delta, 00 n absolute run (word-padded),
    else count×value run. Skipped pixels stay index 0."""
    import numpy as np

    out = np.zeros((h, w), dtype=np.uint8)
    x = y = pos = 0
    n = len(data)
    while pos + 1 < n:
        c0, c1 = data[pos], data[pos + 1]
        pos += 2
        if c0:                                    # encoded run
            end = min(x + c0, w)
            if y < h:
                out[y, x:end] = c1
            x = end
        elif c1 == 0:                             # end of line
            x, y = 0, y + 1
            if y > h:
                raise ValueError("RLE8 rows exceed BMP height")
        elif c1 == 1:                             # end of bitmap
            return out
        elif c1 == 2:                             # delta
            if pos + 2 > n:
                raise ValueError("truncated RLE8 delta")
            x = min(w, x + data[pos])
            y += data[pos + 1]
            if y > h:
                raise ValueError("RLE8 delta exceeds BMP height")
            pos += 2
        else:                                     # absolute run
            if pos + c1 > n:
                raise ValueError("truncated RLE8 absolute run")
            end = min(x + c1, w)
            if y < h:
                out[y, x:end] = np.frombuffer(
                    data, np.uint8, count=end - x, offset=pos)
            x = end
            pos += c1 + (c1 & 1)                  # runs pad to words
    return out


def _bmp_rle4(data: bytes, w: int, h: int):
    """BI_RLE4 → (h, w) palette indices, bottom-up rows as stored:
    encoded runs alternate the byte's high/low nibbles, absolute runs
    carry packed nibbles padded to word boundaries; same escape codes
    as RLE8."""
    import numpy as np

    out = np.zeros((h, w), dtype=np.uint8)
    x = y = pos = 0
    n = len(data)
    while pos + 1 < n:
        c0, c1 = data[pos], data[pos + 1]
        pos += 2
        if c0:                                    # encoded run
            hi, lo = c1 >> 4, c1 & 0x0F
            for k in range(c0):
                if x >= w:
                    break
                if y < h:
                    out[y, x] = hi if k % 2 == 0 else lo
                x += 1
        elif c1 == 0:                             # end of line
            x, y = 0, y + 1
            if y > h:
                raise ValueError("RLE4 rows exceed BMP height")
        elif c1 == 1:                             # end of bitmap
            return out
        elif c1 == 2:                             # delta
            if pos + 2 > n:
                raise ValueError("truncated RLE4 delta")
            x = min(w, x + data[pos])
            y += data[pos + 1]
            if y > h:
                raise ValueError("RLE4 delta exceeds BMP height")
            pos += 2
        else:                                     # absolute run
            nbytes = (c1 + 1) // 2
            nbytes += nbytes & 1                  # pad to word
            if pos + nbytes > n:
                raise ValueError("truncated RLE4 absolute run")
            for k in range(c1):
                if x >= w:
                    break
                byte = data[pos + k // 2]
                if y < h:
                    out[y, x] = (byte >> 4) if k % 2 == 0 else (byte & 0x0F)
                x += 1
            pos += nbytes
    return out


def _mask_channel(vals, mask):
    """Extract one BI_BITFIELDS channel and scale to 8 bits by bit
    replication (the GDI convention; exact for 5-bit, standard for
    6-bit)."""
    import numpy as np

    if not mask:
        return np.zeros(vals.shape, dtype=np.uint8)
    shift = (mask & -mask).bit_length() - 1
    width = int(mask >> shift).bit_length()
    ch = (vals >> shift) & ((1 << width) - 1)
    if width >= 8:
        return (ch >> (width - 8)).astype(np.uint8)
    up = ch.astype(np.uint32) << (8 - width)
    # repeat the replication until the byte is saturated — one round
    # only reaches full scale for widths >= 4 (a 2-bit mask's max
    # value 3 must map to 255, not 240)
    fill = width
    while fill < 8:
        up |= up >> fill
        fill *= 2
    return (up & 0xFF).astype(np.uint8)


def _decode_bmp(b: bytes):
    """BMP → (h, w, 3) uint8 RGB array — the classic Windows DIB
    matrix: 24-bit and 32-bit BI_RGB, 16-bit BI_RGB (5-5-5), 16/32-bit
    BI_BITFIELDS (arbitrary masks, e.g. 5-6-5, scaled by bit
    replication), 1/4/8-bit palette, and BI_RLE8 / BI_RLE4 runs —
    BITMAPINFOHEADER dims, bottom-up or top-down row order, 4-byte
    row padding, BGRA quads, BGR→RGB swap. OS/2 BITMAPCOREHEADER
    (12-byte header, unsigned WORD dims, 3-byte BGR palette triples,
    always bottom-up, 1/4/8/24-bit) decodes too — the last DIB-matrix
    gate, lifted in round 8."""
    import numpy as np

    if b[:2] != b"BM" or len(b) < 30:
        raise ValueError("not a BMP")
    data_off = struct.unpack("<I", b[10:14])[0]
    hdr_size = struct.unpack("<I", b[14:18])[0]
    core = hdr_size == 12
    if core:                                      # OS/2 BITMAPCOREHEADER
        w, h_raw, planes, bpp = struct.unpack("<HHHH", b[18:26])
        compression, clr_used = 0, 0              # core has neither field
        if bpp not in (1, 4, 8, 24):
            raise ValueError(f"bad OS/2 BMP bit depth {bpp}")
    elif hdr_size < 40:
        raise ValueError(f"unsupported BMP header size {hdr_size}")
    else:
        if len(b) < 54:
            raise ValueError("truncated BMP header")
        w, h_raw = struct.unpack("<ii", b[18:26])
        planes, bpp = struct.unpack("<HH", b[26:30])
        compression = struct.unpack("<I", b[30:34])[0]
        clr_used = struct.unpack("<I", b[46:50])[0] if len(b) >= 50 else 0
    h = abs(h_raw)
    if w <= 0 or h == 0:
        raise ValueError("bad BMP dimensions")
    _check_pixels(h, w, "BMP")

    def finish(rows_rgb):
        if h_raw > 0:                             # bottom-up storage
            rows_rgb = rows_rgb[::-1]
        return np.ascontiguousarray(rows_rgb)

    def read_palette():
        nent = clr_used or (1 << bpp)
        if nent > 1 << bpp:
            raise ValueError("BMP palette larger than bit depth allows")
        unit = 3 if core else 4                   # core: BGR triples
        pal_off = 14 + hdr_size
        raw = b[pal_off:pal_off + unit * nent]
        if len(raw) < unit * nent:
            raise ValueError("truncated BMP palette")
        ents = np.frombuffer(raw, np.uint8).reshape(nent, unit)
        pal = np.zeros((256, 3), dtype=np.uint8)
        pal[:nent] = ents[:, 2::-1]               # BGR(x) → RGB
        return pal

    if compression == 1:                          # BI_RLE8
        if bpp != 8:
            raise ValueError("BI_RLE8 requires 8-bit pixels")
        idx = _bmp_rle8(b[data_off:], w, h)
        return finish(read_palette()[idx])
    if compression == 2:                          # BI_RLE4
        if bpp != 4:
            raise ValueError("BI_RLE4 requires 4-bit pixels")
        idx = _bmp_rle4(b[data_off:], w, h)
        return finish(read_palette()[idx])
    if compression not in (0, 3):
        raise ValueError(f"unsupported BMP compression {compression}")

    if bpp in (16, 32):
        unit = bpp // 8
        row_sz = (w * unit + 3) & ~3
        if len(b) < data_off + row_sz * h:
            raise ValueError("truncated BMP pixel data")
        raw = np.frombuffer(b, np.uint8, count=row_sz * h,
                            offset=data_off).reshape(h, row_sz)
        vals = raw[:, :w * unit].reshape(h, w, unit)
        vals = vals.astype(np.uint32)
        word = vals[..., 0] | (vals[..., 1] << 8)
        if unit == 4:
            word |= (vals[..., 2] << 16) | (vals[..., 3] << 24)
        if compression == 3:
            # masks sit at byte 54 both for BITMAPINFOHEADER (appended)
            # and V4/V5 headers (the RedMask field lands there)
            if len(b) < 66:
                raise ValueError("BI_BITFIELDS without masks")
            rm, gm, bm = struct.unpack("<III", b[54:66])
        elif unit == 2:
            rm, gm, bm = 0x7C00, 0x03E0, 0x001F   # BI_RGB 16 = 5-5-5
        else:
            rm, gm, bm = 0xFF0000, 0x00FF00, 0x0000FF
        rgb = np.stack([_mask_channel(word, rm), _mask_channel(word, gm),
                        _mask_channel(word, bm)], axis=2)
        return finish(rgb)

    if bpp == 24:
        row_sz = (w * 3 + 3) & ~3                 # rows pad to 4 bytes
        if len(b) < data_off + row_sz * h:
            raise ValueError("truncated BMP pixel data")
        raw = np.frombuffer(b, np.uint8, count=row_sz * h,
                            offset=data_off)
        rows = raw.reshape(h, row_sz)[:, :w * 3].reshape(h, w, 3)
        return finish(rows[:, :, ::-1])           # BGR → RGB

    if bpp in (1, 4, 8):
        pal = read_palette()
        row_bits = w * bpp
        row_sz = ((row_bits + 31) // 32) * 4
        if len(b) < data_off + row_sz * h:
            raise ValueError("truncated BMP pixel data")
        raw = np.frombuffer(b, np.uint8, count=row_sz * h,
                            offset=data_off).reshape(h, row_sz)
        if bpp == 8:
            idx = raw[:, :w]
        elif bpp == 4:
            nib = np.empty((h, row_sz * 2), dtype=np.uint8)
            nib[:, 0::2] = raw >> 4
            nib[:, 1::2] = raw & 0x0F
            idx = nib[:, :w]
        else:
            bits = np.unpackbits(raw, axis=1)
            idx = bits[:, :w]
        return finish(pal[idx])

    raise ValueError(f"unsupported BMP bit depth {bpp}")


def _encode_bmp(px, os2: bool = False) -> bytes:
    """(h, w, 3) uint8 RGB → 24-bit BMP bytes (round-trips through
    :func:`_decode_bmp`): Windows BITMAPINFOHEADER by default, OS/2
    BITMAPCOREHEADER (12-byte, WORD dims) with ``os2=True``."""
    import numpy as np

    px = np.asarray(px, dtype=np.uint8)
    h, w, _ = px.shape
    row_sz = (w * 3 + 3) & ~3
    body = np.zeros((h, row_sz), dtype=np.uint8)
    body[:, :w * 3] = px[::-1, :, ::-1].reshape(h, w * 3)  # RGB->BGR, bottom-up
    data = body.tobytes()
    if os2:
        if w > 0xFFFF or h > 0xFFFF:
            raise ValueError("OS/2 core BMP dims exceed WORD range")
        file_hdr = b"BM" + struct.pack("<IHHI", 26 + len(data), 0, 0, 26)
        return file_hdr + struct.pack("<IHHHH", 12, w, h, 1, 24) + data
    file_hdr = b"BM" + struct.pack("<IHHI", 54 + len(data), 0, 0, 54)
    info_hdr = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                           len(data), 2835, 2835, 0, 0)
    return file_hdr + info_hdr + data


def _decode_ico(b: bytes):
    """ICO/CUR container → pixels of the LARGEST entry (then deepest
    bpp): ICONDIR + ICONDIRENTRY walk; an entry is either an embedded
    PNG (Vista+ icons, full signature) or a headerless DIB whose
    biHeight counts the XOR **and** AND masks (doubled) — re-wrapped
    as a BMP (height halved, data offset computed from the header +
    palette extents) and decoded through the full DIB matrix. The
    trailing 1-bit AND mask is ignored (32-bpp icons carry real alpha
    in the reserved byte; the uint8 RGB contract drops it)."""
    import numpy as np  # noqa: F401  (parity with sibling decoders)

    if len(b) < 6 or b[:2] != b"\x00\x00" or b[2] not in (1, 2) \
            or b[3] != 0:
        raise ValueError("not an ICO/CUR payload")
    n = struct.unpack("<H", b[4:6])[0]
    if not n or 6 + 16 * n > len(b):
        raise ValueError("bad ICO directory")
    best = None
    for i in range(n):
        e = b[6 + 16 * i:6 + 16 * (i + 1)]
        w, h = e[0] or 256, e[1] or 256
        # bytes 4-7 are planes/bitcount only for icons (type 1); for
        # cursors (type 2) they hold the hotspot X/Y, so a bpp
        # tie-break would compare hotspot coordinates — key cursors
        # on area alone
        bpp = struct.unpack("<H", e[6:8])[0] if b[2] == 1 else 0
        size, off = struct.unpack("<II", e[8:16])
        if off + size > len(b) or size < 8:
            continue                     # corrupt entry: try the rest
        key = (w * h, bpp)
        if best is None or key > best[0]:
            best = (key, w, h, b[off:off + size])
    if best is None:
        raise ValueError("ICO has no decodable entries")
    _, w, h, payload = best
    if _sniff_format(payload) == "png":
        return _decode_png(payload)
    if len(payload) < 40:
        raise ValueError("truncated ICO DIB")
    hdr_size = struct.unpack("<I", payload[:4])[0]
    if hdr_size < 40:
        raise ValueError(f"unsupported ICO DIB header size {hdr_size}")
    bpp = struct.unpack("<H", payload[14:16])[0]
    dib_comp = struct.unpack("<I", payload[16:20])[0]
    clr_used = struct.unpack("<I", payload[32:36])[0]
    pal_entries = clr_used or ((1 << bpp) if bpp <= 8 else 0)
    data_off = 14 + hdr_size + 4 * pal_entries
    if dib_comp == 3 and hdr_size == 40:
        data_off += 12          # BI_BITFIELDS masks follow the header
    # biHeight counts XOR+AND masks doubled; Windows trusts the DIB,
    # not the 1-byte directory entry (buggy muxers disagree), so the
    # real height is biHeight // 2 with the sign (row order) kept
    dib_h = struct.unpack("<i", payload[8:12])[0]
    real_h = dib_h // 2 if dib_h > 0 else -((-dib_h) // 2)
    if real_h == 0:
        real_h = h              # degenerate DIB: directory fallback
    if data_off >= 14 + len(payload):
        # hostile header/palette counts can push the computed offset
        # past the payload (or past uint32, overflowing the pack
        # below — hypothesis find, r8 close): no pixel data could
        # ever live there
        raise ValueError("ICO DIB data offset beyond the payload")
    fixed = bytearray(payload)
    fixed[8:12] = struct.pack("<i", real_h)
    bmp = (b"BM" + struct.pack("<IHHI", 14 + len(fixed), 0, 0, data_off)
           + bytes(fixed))
    return _decode_bmp(bmp)


def _wbmp_vlq(b: bytes, pos: int):
    """WBMP multi-byte integer: 7 value bits per byte, high bit set
    means another byte follows (WAP-237 §4.1)."""
    val = 0
    while True:
        if pos >= len(b):
            raise ValueError("truncated WBMP integer")
        byte = b[pos]
        pos += 1
        val = (val << 7) | (byte & 0x7F)
        if val > (1 << 28):
            raise ValueError("WBMP dimension out of range")
        if not byte & 0x80:
            return val, pos


def _decode_wbmp(b: bytes):
    """WBMP (WAP-237 wireless bitmap, type 0) → (h, w, 1) uint8:
    multi-byte width/height then 1-bit rows MSB-first, byte-padded;
    1 = white (255). The JDK reads and writes this format, so both
    directions sit under the cross-implementation parity suite."""
    import numpy as np

    if len(b) < 4 or b[0] != 0 or b[1] != 0:
        raise ValueError("not a WBMP payload")
    w, pos = _wbmp_vlq(b, 2)
    h, pos = _wbmp_vlq(b, pos)
    if not w or not h:
        raise ValueError("bad WBMP dimensions")
    _check_pixels(h, w, "WBMP")
    stride = (w + 7) // 8
    need = stride * h
    data = b[pos:pos + need]
    if len(data) < need:
        raise ValueError("truncated WBMP rows")
    bits = np.unpackbits(
        np.frombuffer(data, np.uint8).reshape(h, stride), axis=1)[:, :w]
    return (bits * 255).astype(np.uint8)[:, :, None]


def _encode_wbmp(px) -> bytes:
    """(h, w, 1)/(h, w) uint8 → WBMP bytes (≥128 → white bit).
    Round-trips through :func:`_decode_wbmp`."""
    import numpy as np

    px = np.asarray(px, dtype=np.uint8)
    if px.ndim == 3:
        px = px[:, :, 0]
    h, w = px.shape

    def vlq(v):
        out = [v & 0x7F]
        v >>= 7
        while v:
            out.append((v & 0x7F) | 0x80)
            v >>= 7
        return bytes(reversed(out))

    rows = np.packbits((px >= 128).astype(np.uint8), axis=1)
    return b"\x00\x00" + vlq(w) + vlq(h) + rows.tobytes()


def _decode_netpbm(b: bytes):
    """Binary netpbm → uint8 array: P5 (PGM, grayscale → (h, w, 1)) and
    P6 (PPM, RGB → (h, w, 3)); maxval ≤ 255 only."""
    import numpy as np

    if b[:2] not in (b"P5", b"P6"):
        raise ValueError("not a binary netpbm payload")
    # header = magic, width, height, maxval separated by whitespace
    # (comment lines starting with '#' allowed), then ONE whitespace
    # byte before raster data
    fields, i = [], 2
    while len(fields) < 3:
        while i < len(b) and b[i:i + 1].isspace():
            i += 1
        if b[i:i + 1] == b"#":
            while i < len(b) and b[i] not in (10, 13):
                i += 1
            continue
        j = i
        while j < len(b) and not b[j:j + 1].isspace():
            j += 1
        fields.append(int(b[i:j]))
        i = j
    i += 1  # the single whitespace after maxval
    w, h, maxval = fields
    _check_pixels(h, w, "netpbm")
    if maxval > 255:
        raise ValueError("16-bit netpbm not supported")
    ch = 3 if b[:2] == b"P6" else 1
    need = w * h * ch
    raw = np.frombuffer(b, dtype=np.uint8, count=need, offset=i)
    return raw.reshape(h, w, ch).copy()


def _png_paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _decode_png(b: bytes):
    """8/16-bit PNG → (h, w, c) uint8 — pure stdlib (zlib inflate +
    the 5 scanline filters per the public PNG spec, RFC 2083 §6),
    both non-interlaced and Adam7 interlaced; 16-bit samples decode
    through the same byte-level filter walk and scale to 8 bits.
    Color types: 0 grayscale → (h,w,1), 2 RGB, 3 palette (PLTE
    lookup → (h,w,3)), 4 gray+alpha, 6 RGBA; sub-byte 1/2/4-bit
    gray+palette decode through the same filter walk. Every legal
    (depth, color-type) pair per PNG §11.2.2 decodes — illegal pairs
    raise ValueError (corrupt file)."""
    import zlib

    import numpy as np

    if b[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    try:
        return _decode_png_inner(b)
    except (zlib.error, struct.error, IndexError) as e:
        # malformed payloads must surface as ValueError so the
        # unsupported='skip'/'stub' pipelines treat them like any
        # other corrupt image instead of crashing the job
        raise ValueError(f"corrupt PNG payload: {e}") from e


def _decode_png_inner(b: bytes):
    import zlib

    import numpy as np

    pos, idat, plte = 8, [], None
    w = h = depth = ctype = interlace = None
    while pos + 8 <= len(b):
        ln = int.from_bytes(b[pos:pos + 4], "big")
        typ = b[pos + 4:pos + 8]
        chunk = b[pos + 8:pos + 8 + ln]
        pos += 12 + ln                      # 4 len + 4 type + data + 4 crc
        if typ == b"IHDR":
            w, h, depth, ctype, comp, filt, interlace = \
                struct.unpack(">IIBBBBB", chunk)
            if comp != 0 or filt != 0:
                raise ValueError("invalid PNG compression/filter method")
        elif typ == b"PLTE":
            plte = np.frombuffer(chunk, np.uint8).reshape(-1, 3)
        elif typ == b"IDAT":
            idat.append(chunk)
        elif typ == b"IEND":
            break
    if w is None:
        raise ValueError("PNG without IHDR")
    # PNG §11.2.2 legal (depth, color-type) combinations: every one
    # of them decodes here — an illegal pair is a corrupt file, not a
    # capability gap
    legal = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8),
             4: (8, 16), 6: (8, 16)}
    if ctype in legal and depth not in legal[ctype]:
        raise ValueError(
            f"illegal PNG depth {depth} for color type {ctype}")
    if interlace not in (0, 1):
        raise ValueError(f"unknown PNG interlace method {interlace}")
    if ctype not in _PNG_CHANNELS:
        raise ValueError(f"unknown PNG color type {ctype}")
    _check_pixels(h, w, "PNG")
    c = _PNG_CHANNELS[ctype]
    if depth in (1, 2, 4):
        # sub-byte gray/palette: filters still operate on BYTES
        # (bpp=1), so unfilter packed rows of ceil(w*depth/8) bytes,
        # then unpack MSB-first bit groups into samples (PNG §7.2)
        raw = _inflate_bounded(idat, _png_expected(
            w, h, interlace, lambda wp: (wp * depth + 7) // 8))

        def read_pass(p, hp, wp):
            rb = (wp * depth + 7) // 8
            sub, p = _png_unfilter(raw, p, hp, rb, 1)
            bits = np.unpackbits(sub[:, :, 0], axis=1)
            if depth == 1:
                s = bits
            else:
                s = (bits.reshape(hp, -1, depth)
                     * (1 << np.arange(depth - 1, -1, -1))).sum(axis=2)
            return s[:, :wp].astype(np.uint8), p

        if interlace == 0:
            px, _ = read_pass(0, h, w)
        else:
            px = np.zeros((h, w), dtype=np.uint8)
            p = 0
            for x0, y0, dx, dy in _ADAM7:
                wp = (w - x0 + dx - 1) // dx
                hp = (h - y0 + dy - 1) // dy
                if wp <= 0 or hp <= 0:
                    continue
                sub, p = read_pass(p, hp, wp)
                px[y0::dy, x0::dx] = sub
        if ctype == 3:
            if plte is None:
                raise ValueError("palette PNG without PLTE chunk")
            if int(px.max()) >= len(plte):
                raise ValueError("PNG palette index out of range")
            return plte[px].copy()
        # gray: scale to 8 bits (255/(2^d-1) is an integer for 1/2/4)
        return (px * (255 // ((1 << depth) - 1)))[:, :, None]
    # filters operate on BYTES at a bpp stride: 16-bit samples make
    # each pixel 2c filter-bytes wide, so the unfilter runs on a
    # (h, w, 2c) BYTE image that folds back to samples afterwards
    sb = depth // 8                        # bytes per sample
    raw = _inflate_bounded(idat, _png_expected(
        w, h, interlace, lambda wp: wp * c * sb))
    if interlace == 0:
        px, p = _png_unfilter(raw, 0, h, w, c * sb)
    else:
        # Adam7: seven independently-filtered sub-images back-to-back
        # in the stream, scattered onto the (x0 + j*dx, y0 + i*dy)
        # grid per the public PNG spec; empty passes emit no bytes
        px = np.zeros((h, w, c * sb), dtype=np.uint8)
        p = 0
        for x0, y0, dx, dy in _ADAM7:
            wp = (w - x0 + dx - 1) // dx
            hp = (h - y0 + dy - 1) // dy
            if wp <= 0 or hp <= 0:
                continue
            sub, p = _png_unfilter(raw, p, hp, wp, c * sb)
            px[y0::dy, x0::dx] = sub
    if sb == 2:
        # big-endian sample pairs → uint8 by the high byte (the
        # standard 16→8 downconversion; the pixel-stat consumers in
        # this module are uint8-contracted)
        px = px.reshape(h, w, c, 2)[:, :, :, 0]
    if ctype == 3:
        if plte is None:
            raise ValueError("palette PNG without PLTE chunk")
        px = plte[px[:, :, 0]]
    return px.copy()


# Adam7 pass geometry (PNG spec §8.2): (x_start, y_start, x_step, y_step)
_ADAM7 = [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2)]


def _png_expected(w: int, h: int, interlace: int, rowbytes) -> int:
    """Exact inflated-stream size for a PNG image: per pass, one
    filter byte plus ``rowbytes(pass_width)`` per scanline."""
    if interlace == 0:
        return h * (1 + rowbytes(w))
    total = 0
    for x0, y0, dx, dy in _ADAM7:
        wp = (w - x0 + dx - 1) // dx
        hp = (h - y0 + dy - 1) // dy
        if wp > 0 and hp > 0:
            total += hp * (1 + rowbytes(wp))
    return total


def _inflate_bounded(idat: list, expected: int) -> bytes:
    """Inflate the IDAT stream, emitting at most ``expected`` bytes —
    a zlib bomb past the image's true size never materializes (the
    budget half of the r5 hostile-bytes fix; the dimension half is
    :func:`_check_pixels`)."""
    import zlib

    return zlib.decompressobj().decompress(b"".join(idat), expected)


def _png_chunk(typ: bytes, data: bytes) -> bytes:
    """One PNG chunk: length + type + data + CRC32 — shared by the
    PNG encoder, the APNG frame rewrapper, and the APNG encoder."""
    import zlib

    return struct.pack(">I", len(data)) + typ + data \
        + struct.pack(">I", zlib.crc32(typ + data))


def _png_unfilter(raw: bytes, p: int, h: int, w: int, c: int):
    """Reconstruct one filtered image (filter byte + scanline, h rows
    of w pixels × c channels) starting at offset ``p`` in the inflated
    stream; returns ``((h, w, c) uint8, next_offset)``."""
    import numpy as np

    stride = w * c
    if len(raw) - p < h * (1 + stride):
        raise ValueError("truncated PNG pixel data")
    out = np.zeros((h, stride), dtype=np.uint8)
    for y in range(h):
        ft = raw[p]
        p += 1
        row = np.frombuffer(raw, np.uint8, stride, p)
        p += stride
        prev = out[y - 1] if y else np.zeros(stride, np.uint8)
        if ft == 0:
            out[y] = row
        elif ft == 2:                      # Up — vectorized wrap-add
            out[y] = row + prev
        elif ft == 1:                      # Sub — per-phase cumsum
            for ph in range(c):
                out[y, ph::c] = np.cumsum(
                    row[ph::c].astype(np.int64)) & 0xFF
        elif ft == 3:                      # Average — sequential left dep
            # plain-list arithmetic: the loop is inherently serial,
            # and list indexing avoids boxing a numpy scalar per pixel
            rl, pl = row.tolist(), prev.tolist()
            cur = [0] * stride
            for x in range(stride):
                left = cur[x - c] if x >= c else 0
                cur[x] = (rl[x] + ((left + pl[x]) >> 1)) & 0xFF
            out[y] = cur
        elif ft == 4:                      # Paeth — sequential left dep
            rl, pl = row.tolist(), prev.tolist()
            cur = [0] * stride
            for x in range(stride):
                a = cur[x - c] if x >= c else 0
                up = pl[x]
                ul = pl[x - c] if x >= c else 0
                p_ = a + up - ul
                pa, pb, pc_ = abs(p_ - a), abs(p_ - up), abs(p_ - ul)
                if pa <= pb and pa <= pc_:
                    pred = a
                elif pb <= pc_:
                    pred = up
                else:
                    pred = ul
                cur[x] = (rl[x] + pred) & 0xFF
            out[y] = cur
        else:
            raise ValueError(f"unknown PNG filter type {ft}")
    return out.reshape(h, w, c), p


def _encode_png(px, filter_type: int | None = None,
                interlace: bool = False) -> bytes:
    """(h, w, c) uint8 → 8-bit PNG bytes (c = 1, 2, 3 or 4 → gray /
    gray+alpha / RGB / RGBA). ``filter_type`` forces one scanline
    filter; default cycles y % 5 so a roundtrip exercises all five
    unfilter paths. ``interlace=True`` emits Adam7 (seven
    independently-filtered sub-images). Round-trips through
    :func:`_decode_png`."""
    import zlib

    import numpy as np

    px = np.asarray(px, dtype=np.uint8)
    if px.ndim == 2:
        px = px[:, :, None]
    h, w, c = px.shape
    ctype = {1: 0, 2: 4, 3: 2, 4: 6}[c]

    def filt_image(img) -> bytearray:
        hh, ww = img.shape[:2]
        flat = img.reshape(hh, ww * c).astype(np.int16)
        zeros = np.zeros(ww * c, dtype=np.int16)
        body = bytearray()
        for y in range(hh):
            ft = (y % 5) if filter_type is None else filter_type
            row, prev = flat[y], (flat[y - 1] if y else zeros)
            left = np.concatenate([np.zeros(c, np.int16), row[:-c]]) \
                if ww * c > c else np.zeros_like(row)
            upleft = np.concatenate(
                [np.zeros(c, np.int16), prev[:-c]]) \
                if ww * c > c else np.zeros_like(prev)
            if ft == 0:
                enc = row
            elif ft == 1:
                enc = row - left
            elif ft == 2:
                enc = row - prev
            elif ft == 3:
                enc = row - ((left + prev) >> 1)
            else:
                pred = np.array(
                    [_png_paeth(int(a), int(b_), int(cc))
                     for a, b_, cc in zip(left, prev, upleft)],
                    dtype=np.int16)
                enc = row - pred
            body.append(ft)
            body += (enc & 0xFF).astype(np.uint8).tobytes()
        return body

    if not interlace:
        body = filt_image(px)
    else:
        body = bytearray()
        for x0, y0, dx, dy in _ADAM7:
            sub = px[y0::dy, x0::dx]
            if sub.shape[0] and sub.shape[1]:
                body += filt_image(sub)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0,
                       1 if interlace else 0)
    return _PNG_SIG + _png_chunk(b"IHDR", ihdr) + \
        _png_chunk(b"IDAT", zlib.compress(bytes(body))) + \
        _png_chunk(b"IEND", b"")


def _lzw_decode(data: bytes, min_code_size: int, max_out: int,
                msb_first: bool, early_change: bool) -> bytearray:
    """Shared variable-width LZW walker serving BOTH dialects: GIF
    (LSB-first bit packing, width grows at table size 2^w) and TIFF
    (MSB-first, the spec's EARLY-CHANGE off-by-one — width grows one
    entry sooner, at 2^w - 1). Handles mid-stream clears, the KwKwK
    code, and the 12-bit width cap; stops at ``max_out`` bytes or the
    end-of-information code."""
    clear = 1 << min_code_size
    eoi = clear + 1
    width = min_code_size + 1
    table = [bytes([i]) for i in range(clear)] + [b"", b""]
    out = bytearray()
    acc = nbits = 0
    prev = None
    grow_at = -1 if early_change else 0
    for byte in data:
        if msb_first:
            acc = (acc << 8) | byte
        else:
            acc |= byte << nbits
        nbits += 8
        while nbits >= width:
            if msb_first:
                code = (acc >> (nbits - width)) & ((1 << width) - 1)
                nbits -= width
                acc &= (1 << nbits) - 1
            else:
                code = acc & ((1 << width) - 1)
                acc >>= width
                nbits -= width
            if code == clear:
                table = table[:eoi + 1]
                width = min_code_size + 1
                prev = None
                continue
            if code == eoi:
                return out
            if prev is None:
                if code >= len(table):
                    raise ValueError("corrupt LZW stream")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):     # the KwKwK case
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError("corrupt LZW stream")
            out += entry
            prev = entry
            if len(table) == (1 << width) + grow_at and width < 12:
                width += 1
            if len(out) >= max_out:
                return out
    return out


def _gif_lzw(data: bytes, min_code_size: int, max_pixels: int):
    """GIF LZW decompress (the public GIF89a spec's variable-width
    code scheme): returns palette indices, stopping at ``max_pixels``
    or the end-of-information code."""
    return _lzw_decode(data, min_code_size, max_pixels,
                       msb_first=False, early_change=False)


def _decode_gif(b: bytes):
    """GIF87a/89a → (h, w, 3) uint8 RGB — pure stdlib LZW + palette
    lookup per the public GIF spec: logical screen descriptor,
    global/local color tables, sub-block reassembly, variable-width
    LZW codes (incl. the KwKwK case and mid-stream clears), and the
    4-pass row interlace. First image frame only (an animated GIF
    decodes to its first frame), composited onto the logical screen
    at its declared left/top offset over the background color — so
    the decoded dims agree with :func:`_parse_headers`' LSD dims;
    transparency index is ignored (output is RGB)."""
    if b[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    try:
        return _decode_gif_inner(b)
    except (struct.error, IndexError) as e:
        # malformed payloads must surface as ValueError so the
        # unsupported='skip'/'stub' pipelines treat them like any
        # other corrupt image instead of crashing the job
        raise ValueError(f"corrupt GIF payload: {e}") from e


def _gif_header(b: bytes):
    """Parse the logical screen descriptor + global color table;
    returns ``(sw, sh, bg, gct, pos)`` with the pixel budget applied."""
    import numpy as np

    sw, sh, flags, bg = struct.unpack("<HHBB", b[6:12])
    if sw * sh > MAX_DECODE_PIXELS:
        raise ValueError(f"GIF logical screen {sw}x{sh} exceeds the "
                         f"{MAX_DECODE_PIXELS}-pixel decode budget")
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = np.frombuffer(b, np.uint8, n * 3, pos).reshape(n, 3)
        pos += n * 3
    return sw, sh, bg, gct, pos


def _gif_image_block(b: bytes, pos: int, gct):
    """Decode one image descriptor starting at ``b[pos]`` (the 0x2C
    byte): local color table, sub-block reassembly, variable-width
    LZW, 4-pass interlace de-scatter, palette bounds check. Returns
    ``(grid, ct, left, top, w, h, next_pos)`` — shared by the
    first-frame decoder and the animation walker so both run the
    identical byte-level path."""
    import numpy as np

    left, top, w, h, iflags = struct.unpack(
        "<HHHHB", b[pos + 1:pos + 10])
    pos += 10
    _check_pixels(h, w, "GIF")
    ct = gct
    if iflags & 0x80:
        n = 2 << (iflags & 0x07)
        ct = np.frombuffer(b, np.uint8, n * 3, pos).reshape(n, 3)
        pos += n * 3
    if ct is None:
        raise ValueError("GIF image without a color table")
    mcs = b[pos]
    pos += 1
    data = bytearray()                    # reassemble the sub-blocks
    while pos < len(b) and b[pos] != 0:
        ln = b[pos]
        data += b[pos + 1:pos + 1 + ln]
        pos += 1 + ln
    pos += 1                              # block terminator
    idx = _gif_lzw(bytes(data), mcs, w * h)
    if len(idx) < w * h:
        raise ValueError("truncated GIF pixel data")
    grid = np.frombuffer(bytes(idx), np.uint8, w * h).reshape(h, w)
    if iflags & 0x40:                     # 4-pass row interlace
        de = np.zeros_like(grid)
        rows = [r for start, step in
                ((0, 8), (4, 8), (2, 4), (1, 2))
                for r in range(start, h, step)]
        de[rows] = grid
        grid = de
    if int(grid.max()) >= len(ct):
        raise ValueError("GIF palette index out of range")
    return grid, ct, left, top, w, h, pos


def _decode_gif_inner(b: bytes):
    import numpy as np

    sw, sh, bg, gct, pos = _gif_header(b)
    while pos < len(b):
        block = b[pos]
        if block == 0x21:                 # extension: skip sub-blocks
            pos += 2
            while pos < len(b) and b[pos] != 0:
                pos += 1 + b[pos]
            pos += 1
        elif block == 0x2C:               # image descriptor
            grid, ct, left, top, w, h, pos = \
                _gif_image_block(b, pos, gct)
            frame = ct[grid]
            if ((left, top) == (0, 0) and (w, h) == (sw, sh)) \
                    or sw == 0 or sh == 0:
                return frame.copy()
            if left + w > sw or top + h > sh:
                raise ValueError("GIF frame exceeds logical screen")
            bg_rgb = (gct[bg] if gct is not None and bg < len(gct)
                      else np.zeros(3, np.uint8))
            canvas = np.empty((sh, sw, 3), np.uint8)
            canvas[:] = bg_rgb
            canvas[top:top + h, left:left + w] = frame
            return canvas
        elif block == 0x3B:               # trailer
            break
        else:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
    raise ValueError("GIF without an image frame")


def _decode_gif_frames(b: bytes):
    """FULL animated-GIF walk (GIF89a): every frame composited onto
    the logical screen honoring the Graphic Control Extension —
    transparency index (transparent pixels leave the canvas
    unchanged), per-frame delay, and disposal methods 0/1 (leave in
    place), 2 (restore region to background), 3 (restore to
    previous). Returns ``(frames, delays_ms)`` where each frame is an
    (sh, sw, 3) canvas snapshot. :func:`_decode_gif` keeps its
    first-frame contract; this is the :func:`decode_video` path."""
    import numpy as np

    if b[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    try:
        sw, sh, bg, gct, pos = _gif_header(b)
        bg_rgb = (gct[bg] if gct is not None and bg < len(gct)
                  else np.zeros(3, np.uint8))
        canvas = None                     # allocated at first frame
        frames, delays = [], []
        disposal, transparent, delay = 0, None, 0
        while pos < len(b):
            block = b[pos]
            if block == 0x21:
                label = b[pos + 1]
                pos += 2
                if label == 0xF9 and pos < len(b) and b[pos] >= 4:
                    gflags = b[pos + 1]
                    delay = struct.unpack(
                        "<H", b[pos + 2:pos + 4])[0] * 10   # 1/100 s
                    transparent = b[pos + 4] if gflags & 1 else None
                    disposal = (gflags >> 2) & 0x07
                while pos < len(b) and b[pos] != 0:
                    pos += 1 + b[pos]
                pos += 1
            elif block == 0x2C:
                grid, ct, left, top, w, h, pos = \
                    _gif_image_block(b, pos, gct)
                if sw == 0 or sh == 0:
                    sw, sh = w, h
                if left + w > sw or top + h > sh:
                    raise ValueError("GIF frame exceeds logical screen")
                if canvas is None:
                    canvas = np.empty((sh, sw, 3), np.uint8)
                    canvas[:] = bg_rgb
                if (len(frames) + 1) * sw * sh > MAX_DECODE_PIXELS:
                    raise ValueError("animated GIF exceeds the "
                                     "total-pixel decode budget")
                # pre-draw snapshot only when disposal 3 will need it
                base = canvas.copy() if disposal == 3 else None
                region = canvas[top:top + h, left:left + w]
                if transparent is not None:
                    mask = grid != transparent
                    region[mask] = ct[grid][mask]
                else:
                    region[:] = ct[grid]
                frames.append(canvas.copy())
                delays.append(delay)
                if disposal == 2:         # restore region to background
                    canvas[top:top + h, left:left + w] = bg_rgb
                elif disposal == 3:       # restore to previous
                    canvas = base
                disposal, transparent, delay = 0, None, 0
            elif block == 0x3B:
                break
            else:
                raise ValueError(f"unknown GIF block 0x{block:02x}")
        if not frames:
            raise ValueError("GIF without an image frame")
        return frames, delays
    except (struct.error, IndexError) as e:
        raise ValueError(f"corrupt GIF payload: {e}") from e


def _gif_lzw_encode(idx_flat, mcs: int) -> bytes:
    """Variable-width GIF LZW over a flat index sequence — the
    early-change-free width growth my decoder mirrors, a table reset
    at the 4096-code cap."""
    clear = 1 << mcs
    eoi = clear + 1
    out = bytearray()
    acc = nacc = 0
    width = mcs + 1

    def emit(code):
        nonlocal acc, nacc
        acc |= code << nacc
        nacc += width

    def drain():
        nonlocal acc, nacc
        while nacc >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nacc -= 8

    def reset():
        nonlocal width
        width = mcs + 1
        return {bytes([i]): i for i in range(clear)}, eoi + 1

    table, next_code = reset()
    emit(clear)
    cur = b""
    for k in idx_flat:
        nxt = cur + bytes([k])
        if nxt in table:
            cur = nxt
            continue
        emit(table[cur])
        drain()
        if next_code < 4096:
            table[nxt] = next_code
            next_code += 1
            # decoder grows its width when ITS table (one entry
            # behind this one) reaches 2^width — mirror that point
            if next_code - 1 == (1 << width) and width < 12:
                width += 1
        else:                              # table full: clear + restart
            emit(clear)
            drain()
            table, next_code = reset()
        cur = bytes([k])
    if cur:
        emit(table[cur])
    emit(eoi)
    drain()
    if nacc:
        out.append(acc & 0xFF)
    return bytes(out)


def _gif_subblocks(data: bytes) -> bytes:
    """Pack an LZW stream into ≤255-byte GIF sub-blocks + terminator."""
    body = bytearray()
    for i in range(0, len(data), 255):
        chunk = data[i:i + 255]
        body.append(len(chunk))
        body += chunk
    body.append(0)
    return bytes(body)


def _gif_palette(pxs):
    """Shared palette over one or more RGB frames: unique colors
    (≤256 or raise), power-of-two padded; returns (pal, bits, index
    maps per frame)."""
    import numpy as np

    stacked = np.concatenate([p.reshape(-1, 3) for p in pxs])
    colors, inverse = np.unique(stacked, axis=0, return_inverse=True)
    if len(colors) > 256:
        raise ValueError("GIF needs <= 256 unique colors")
    bits = max(1, (max(len(colors) - 1, 1)).bit_length())
    psize = 1 << bits
    pal = np.zeros((psize, 3), np.uint8)
    pal[:len(colors)] = colors
    idxs, at = [], 0
    for p in pxs:
        n = p.shape[0] * p.shape[1]
        idxs.append(inverse[at:at + n].reshape(p.shape[:2]))
        at += n
    return pal, bits, idxs


def _encode_gif(px, interlace: bool = False) -> bytes:
    """(h, w, 3|1) uint8 → GIF89a bytes (fixture encoder for the
    decoder's gates): palette from the unique colors (≤256 or raise),
    real variable-width LZW with the width growth my decoder mirrors,
    a table reset at the 4096-code cap, optional 4-pass interlace.
    Round-trips through :func:`_decode_gif`."""
    import numpy as np

    px = np.asarray(px, dtype=np.uint8)
    if px.ndim == 2:
        px = px[:, :, None]
    if px.shape[2] == 1:
        px = np.repeat(px, 3, axis=2)
    h, w, _ = px.shape
    pal, bits, (idx,) = _gif_palette([px])
    if interlace:
        rows = [r for start, step in ((0, 8), (4, 8), (2, 4), (1, 2))
                for r in range(start, h, step)]
        idx = idx[rows]
    mcs = max(2, bits)
    out = _gif_lzw_encode(idx.flatten().tolist(), mcs)
    lsd_flags = 0x80 | (bits - 1)          # GCT present, 2^bits entries
    head = b"GIF89a" + struct.pack("<HHBBB", w, h, lsd_flags, 0, 0) \
        + pal.tobytes()
    desc = b"\x2C" + struct.pack("<HHHHB", 0, 0, w, h,
                                 0x40 if interlace else 0) \
        + bytes([mcs])
    return head + desc + _gif_subblocks(out) + b"\x3B"


def _encode_gif_anim(frames, delays_ms=None, disposals=None,
                     offsets=None, transparent=None,
                     bg_index: int = 0) -> bytes:
    """Animated GIF89a fixture encoder: N frames sharing one global
    palette, each preceded by a Graphic Control Extension carrying
    its delay (ms, stored in 1/100 s), disposal method, and optional
    transparency index; frames may be sub-rectangles at (left, top)
    offsets. Round-trips through :func:`_decode_gif_frames`."""
    import numpy as np

    frames = [np.asarray(f, dtype=np.uint8) for f in frames]
    n = len(frames)
    delays_ms = delays_ms or [0] * n
    disposals = disposals or [0] * n
    offsets = offsets or [(0, 0)] * n
    transparent = transparent if transparent is not None else [None] * n
    pal, bits, idxs = _gif_palette(frames)
    mcs = max(2, bits)
    sw = max(left + f.shape[1] for (left, top), f in zip(offsets, frames))
    sh = max(top + f.shape[0] for (left, top), f in zip(offsets, frames))
    lsd_flags = 0x80 | (bits - 1)
    out = bytearray(b"GIF89a"
                    + struct.pack("<HHBBB", sw, sh, lsd_flags,
                                  bg_index, 0) + pal.tobytes())
    # Netscape looping extension (application extension, public format)
    out += (b"\x21\xFF\x0BNETSCAPE2.0\x03\x01\x00\x00\x00")
    for f, idx, d_ms, disp, (left, top), tr in zip(
            frames, idxs, delays_ms, disposals, offsets, transparent):
        h, w = f.shape[:2]
        gflags = (disp & 0x07) << 2 | (1 if tr is not None else 0)
        out += (b"\x21\xF9\x04" + bytes([gflags])
                + struct.pack("<H", d_ms // 10)
                + bytes([tr or 0]) + b"\x00")
        out += b"\x2C" + struct.pack("<HHHHB", left, top, w, h, 0) \
            + bytes([mcs])
        out += _gif_subblocks(_gif_lzw_encode(idx.flatten().tolist(),
                                              mcs))
    out += b"\x3B"
    return bytes(out)


# --- APNG (animated PNG, the public PNG-extension spec) ------------
def _png_chunks(b: bytes):
    """Iterate PNG chunks → (type, data); bounds-checked."""
    pos = 8
    while pos + 8 <= len(b):
        ln = int.from_bytes(b[pos:pos + 4], "big")
        typ = b[pos + 4:pos + 8]
        data = b[pos + 8:pos + 8 + ln]
        if len(data) < ln:
            raise ValueError("truncated PNG chunk")
        yield typ, data
        pos += 12 + ln
        if typ == b"IEND":
            break


def _decode_apng_frames(b: bytes):
    """FULL animated-PNG walk: acTL/fcTL/fdAT chunks per the public
    APNG spec. Each frame's compressed data is rewrapped as a
    standalone PNG (same depth/color type/palette) and decoded by the
    battle-tested :func:`_decode_png` machinery, then composited onto
    an RGBA canvas honoring blend_op (0 source, 1 over — straight
    alpha compositing) and dispose_op (0 none, 1 background = clear
    region to transparent black, 2 previous = revert region).
    Returns ``(frames, delays_ms)`` with frames as (h, w, 4) RGBA
    canvas snapshots. A PNG without acTL raises ValueError (still
    image — not a video container). Note: palette frames composite
    with alpha 255 (the stdlib PNG decoder ignores tRNS), matching
    :func:`_decode_png`'s RGB contract."""
    import numpy as np

    if b[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    try:
        ihdr = None
        actl = None
        aux = []                           # PLTE/tRNS pass-through
        fctls = []                         # (fctl_fields, [data...])
        idat = []
        idat_is_frame = False
        for typ, data in _png_chunks(b):
            if typ == b"IHDR":
                ihdr = data
            elif typ == b"acTL":
                actl = struct.unpack(">II", data[:8])
            elif typ in (b"PLTE", b"tRNS"):
                aux.append((typ, data))
            elif typ == b"fcTL":
                f = struct.unpack(">IIIIIHHBB", data[:26])
                fctls.append((f, []))
                if not idat:
                    idat_is_frame = True
            elif typ == b"IDAT":
                idat.append(data)
            elif typ == b"fdAT":
                if not fctls:
                    raise ValueError("APNG fdAT before any fcTL")
                fctls[-1][1].append(data[4:])   # drop sequence number
        if ihdr is None:
            raise ValueError("PNG without IHDR")
        if actl is None:
            raise ValueError("PNG without acTL (still image, not "
                             "animated)")
        w, h, depth, ctype, comp_m, filt_m, interlace = \
            struct.unpack(">IIBBBBB", ihdr)
        _check_pixels(h, w, "APNG")
        if idat_is_frame and fctls:
            fctls[0][1].extend(idat)       # default image IS frame 1
        if not fctls or not fctls[0][1]:
            raise ValueError("APNG without frame data")

        def to_rgba(px):
            c = px.shape[2]
            if c == 1:
                px = np.repeat(px, 3, axis=2)
                c = 3
            if c == 2:
                out = np.empty((*px.shape[:2], 4), np.uint8)
                out[:, :, 0] = out[:, :, 1] = out[:, :, 2] = px[:, :, 0]
                out[:, :, 3] = px[:, :, 1]
                return out
            if c == 3:
                out = np.empty((*px.shape[:2], 4), np.uint8)
                out[:, :, :3] = px
                out[:, :, 3] = 255
                return out
            return px

        canvas = np.zeros((h, w, 4), np.uint8)   # transparent black
        frames, delays = [], []
        for fi, (f, datas) in enumerate(fctls):
            _seq, fw, fh, x0, y0, dnum, dden, dispose, blend = f
            if fw == 0 or fh == 0 or x0 + fw > w or y0 + fh > h:
                raise ValueError("APNG frame exceeds the canvas")
            if (len(frames) + 1) * w * h > MAX_DECODE_PIXELS:
                raise ValueError("APNG exceeds the total-pixel "
                                 "decode budget")
            mini = _PNG_SIG + _png_chunk(b"IHDR", struct.pack(
                ">IIBBBBB", fw, fh, depth, ctype, comp_m, filt_m,
                interlace))
            for typ, data in aux:
                mini += _png_chunk(typ, data)
            mini += _png_chunk(b"IDAT", b"".join(datas)) \
                + _png_chunk(b"IEND", b"")
            rgba = to_rgba(_decode_png(mini))
            if fi == 0:
                blend = 0                   # spec: first frame = source
                if dispose == 2:
                    dispose = 1
            base = canvas[y0:y0 + fh, x0:x0 + fw].copy() \
                if dispose == 2 else None
            region = canvas[y0:y0 + fh, x0:x0 + fw]
            if blend == 0:                  # SOURCE: replace
                region[:] = rgba
            else:                           # OVER: straight alpha
                fa = rgba[:, :, 3:4].astype(np.float64) / 255.0
                ba = region[:, :, 3:4].astype(np.float64) / 255.0
                oa = fa + ba * (1 - fa)
                safe = np.where(oa == 0, 1.0, oa)
                orgb = (rgba[:, :, :3] * fa
                        + region[:, :, :3] * ba * (1 - fa)) / safe
                region[:, :, :3] = np.clip(
                    np.round(orgb), 0, 255).astype(np.uint8)
                region[:, :, 3] = np.clip(
                    np.round(oa[:, :, 0] * 255), 0, 255).astype(np.uint8)
            frames.append(canvas.copy())
            delays.append(dnum * 1000 // (dden or 100))
            if dispose == 1:                # region → transparent black
                canvas[y0:y0 + fh, x0:x0 + fw] = 0
            elif dispose == 2:
                canvas[y0:y0 + fh, x0:x0 + fw] = base
        return frames, delays
    except (struct.error, IndexError) as e:
        raise ValueError(f"corrupt APNG payload: {e}") from e


def _encode_apng(frames, delays_ms=None, disposes=None, blends=None,
                 offsets=None) -> bytes:
    """RGBA frames → APNG bytes (fixture encoder for
    :func:`_decode_apng_frames`): IHDR + acTL, frame 1 as the default
    image (fcTL before IDAT), subsequent frames as fcTL+fdAT;
    8-bit RGBA, filter-0 scanlines."""
    import zlib as _z

    import numpy as np

    frames = [np.asarray(f, dtype=np.uint8) for f in frames]
    n = len(frames)
    delays_ms = delays_ms or [0] * n
    disposes = disposes or [0] * n
    blends = blends or [0] * n
    offsets = offsets or [(0, 0)] * n
    h, w = frames[0].shape[:2]

    def scanlines(px):
        body = bytearray()
        for y in range(px.shape[0]):
            body.append(0)
            body += px[y].tobytes()
        return _z.compress(bytes(body))

    out = bytearray(_PNG_SIG)
    out += _png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 6, 0, 0, 0))
    out += _png_chunk(b"acTL", struct.pack(">II", n, 0))
    seq = 0
    for k, (f, d_ms, disp, bl, (x0, y0)) in enumerate(
            zip(frames, delays_ms, disposes, blends, offsets)):
        fh, fw = f.shape[:2]
        out += _png_chunk(b"fcTL", struct.pack(
            ">IIIIIHHBB", seq, fw, fh, x0, y0, d_ms, 1000, disp, bl))
        seq += 1
        data = scanlines(f)
        if k == 0:
            out += _png_chunk(b"IDAT", data)
        else:
            out += _png_chunk(b"fdAT", struct.pack(">I", seq) + data)
            seq += 1
    out += _png_chunk(b"IEND", b"")
    return bytes(out)


# --- TIFF 6.0 (baseline + LZW/PackBits) — pure stdlib + numpy ---
def _tiff_lzw(data: bytes, max_bytes: int) -> bytearray:
    """TIFF-variant LZW (spec §13): MSB-first variable-width codes,
    fixed 256-entry root + CLEAR/EOI, and the EARLY-CHANGE width
    growth (one code earlier than GIF's) — all via the shared
    :func:`_lzw_decode` walker."""
    return _lzw_decode(data, 8, max_bytes,
                       msb_first=True, early_change=True)


def _tiff_lzw_encode(data: bytes) -> bytes:
    """TIFF LZW compressor mirroring :func:`_tiff_lzw`'s early-change
    width growth; clears the table before the 12-bit cap."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    acc = nbits = 0

    def emit(code, width):
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            nbits -= 8
            out.append((acc >> nbits) & 0xFF)
            acc &= (1 << nbits) - 1

    width = 9
    table = {bytes([i]): i for i in range(256)}
    next_code = 258
    emit(CLEAR, width)
    cur = b""
    for byte in bytes(data):
        nxt = cur + bytes([byte])
        if nxt in table:
            cur = nxt
            continue
        emit(table[cur], width)
        table[nxt] = next_code
        next_code += 1
        # early change (TIFF 6.0 off-by-one): switch after ADDING the
        # code whose value is 2^width - 1 — the decoder, one entry
        # behind, mirrors this at table size 2^width - 1
        if next_code == (1 << width) and width < 12:
            width += 1
        if next_code >= 4093:                  # clear before the cap
            emit(CLEAR, width)
            width = 9
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
        cur = bytes([byte])
    if cur:
        emit(table[cur], width)
    emit(EOI, width)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _packbits(data: bytes, max_bytes: int) -> bytearray:
    """Apple PackBits decompression (TIFF §9)."""
    out = bytearray()
    i = 0
    while i < len(data) and len(out) < max_bytes:
        n = data[i]
        i += 1
        if n < 128:
            out += data[i:i + n + 1]
            i += n + 1
        elif n > 128:
            if i >= len(data):
                raise ValueError("truncated PackBits run")
            out += bytes([data[i]]) * (257 - n)
            i += 1
    return out


def _packbits_encode(data: bytes) -> bytes:
    """PackBits compressor: repeat runs ≥3 as replicate runs, the
    rest as literal runs of ≤128."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 3:
            out += bytes([257 - run, data[i]])
            i += run
            continue
        lit = i
        while i < n and i - lit < 128:
            run = 1
            while i + run < n and run < 3 and data[i + run] == data[i]:
                run += 1
            if run >= 3 and i + run <= n:
                break
            i += 1
        out += bytes([i - lit - 1]) + data[lit:i]
    return bytes(out)


def _decode_tiff(b: bytes):
    """Baseline TIFF 6.0 → (h, w, c) uint8 — pure stdlib + numpy:
    both byte orders, first IFD, strip AND tile organization (§15 —
    the common GeoTIFF layout, r8), Compression 1/5/32773/8 (none /
    TIFF-LZW with early change / PackBits / Adobe Deflate incl. the
    legacy 32946 code, bounded inflate), horizontal-differencing
    Predictor 2 (per-tile reset in tiled files), Photometric 0/1/2/3
    (white-is-zero, black-is-zero, RGB, palette via the 16-bit
    ColorMap). 8/16-bit samples, chunky or planar config; other
    layouts raise NotImplementedError (honest gates), corrupt files
    ValueError."""
    if b[:4] not in (b"II*\x00", b"MM\x00*"):
        raise ValueError("not a TIFF")
    try:
        return _decode_tiff_inner(b)
    except (struct.error, IndexError) as e:
        raise ValueError(f"corrupt TIFF payload: {e}") from e


def _decode_tiff_inner(b: bytes):
    import numpy as np

    en = "<" if b[:2] == b"II" else ">"
    ifd_off = struct.unpack(en + "I", b[4:8])[0]
    n_ent = struct.unpack(en + "H", b[ifd_off:ifd_off + 2])[0]
    type_size = {1: 1, 2: 1, 3: 2, 4: 4}
    tags = {}
    for i in range(n_ent):
        e0 = ifd_off + 2 + i * 12
        tag, typ = struct.unpack(en + "HH", b[e0:e0 + 4])
        count = struct.unpack(en + "I", b[e0 + 4:e0 + 8])[0]
        if typ not in type_size:
            continue                           # RATIONAL etc: unused
        total = type_size[typ] * count
        raw = b[e0 + 8:e0 + 12] if total <= 4 else None
        if raw is None:
            voff = struct.unpack(en + "I", b[e0 + 8:e0 + 12])[0]
            raw = b[voff:voff + total]
        if len(raw) < total:
            raise ValueError("truncated TIFF tag data")
        if count > 64:
            # big vectors (a 16-bit ColorMap is 3*2^16 entries; long
            # strip tables): np.frombuffer reads the same unsigned
            # values without building a count-long format string.
            # The ColorMap stays an ndarray — its only consumer
            # (_tiff_finish) indexes it wholesale — while everything
            # else converts back to the exact Python ints
            # struct.unpack produced (offset arithmetic must not
            # wrap like numpy scalars would).
            dt_ = np.dtype(en + {1: "u1", 2: "u1", 3: "u2",
                                 4: "u4"}[typ])
            arr = np.frombuffer(raw, dt_, count)
            tags[tag] = arr if tag == 320 else arr.tolist()
        else:
            fmt = {1: "B", 2: "B", 3: "H", 4: "I"}[typ]
            tags[tag] = list(struct.unpack(en + fmt * count,
                                           raw[:total]))
    try:
        w = tags[256][0]
        h = tags[257][0]
        if 322 not in tags:               # tile layout has no strips
            offsets = tags[273]
            counts = tags[279]
    except KeyError as e:
        raise ValueError(f"TIFF missing required tag {e}")
    _check_pixels(h, w, "TIFF")
    spp = tags.get(277, [1])[0]
    bits = tags.get(258, [1] * spp)
    comp = tags.get(259, [1])[0]
    photo = tags.get(262, [1])[0]
    rps = tags.get(278, [h])[0] or h
    planar = tags.get(284, [1])[0]
    predictor = tags.get(317, [1])[0]
    if any(bd not in (8, 16) for bd in bits) \
            or len(set(bits)) != 1:
        raise NotImplementedError(
            "TIFF samples must be uniformly 8- or 16-bit")
    ssz = bits[0] // 8                        # bytes per sample
    if planar not in (1, 2):
        raise ValueError(f"bad TIFF planar configuration {planar}")
    if comp not in (1, 5, 32773, 8, 32946):
        raise NotImplementedError(
            f"TIFF compression {comp} not supported "
            "(none/LZW/PackBits/Deflate are)")
    if spp not in (1, 3):
        raise NotImplementedError("TIFF samples-per-pixel must be 1 or 3")
    if photo not in (0, 1, 2, 3):
        raise NotImplementedError(f"TIFF photometric {photo} not supported")
    def unpack(raw: bytes, need: int) -> bytes:
        if comp == 1:
            dec = raw[:need]
        elif comp == 5:
            dec = _tiff_lzw(raw, need)
        elif comp in (8, 32946):         # Adobe Deflate + legacy code
            # bounded inflate, like the PNG path: a zlib bomb can
            # never materialize past the segment's true size
            try:
                dec = zlib.decompressobj().decompress(raw, need)
            except zlib.error as e:
                raise ValueError(f"bad TIFF deflate data: {e}")
        else:
            dec = _packbits(raw, need)
        if len(dec) < need:
            raise ValueError("short TIFF segment data")
        return bytes(dec[:need])

    # planar=2 stores each sample plane as its own strip/tile sequence
    # (all plane-0 segments, then plane-1, ... — TIFF 6.0 §14); chunky
    # interleaves spp samples per pixel within one segment sequence
    n_planes = spp if planar == 2 else 1
    dt = np.uint8 if ssz == 1 else np.dtype(en + "u2")
    mask = (1 << bits[0]) - 1
    if predictor not in (1, 2):
        raise NotImplementedError(f"TIFF predictor {predictor}")

    if 322 in tags:                      # tile organization (§15) —
        # the common GeoTIFF layout; predictor 2 resets at each
        # tile's row start, so differencing undoes WITHIN each tile
        # before the canvas paste (edge tiles pad to full size)
        tw_, tl_ = tags[322][0], tags[323][0]
        toffs, tcnts = tags.get(324), tags.get(325)
        if not tw_ or not tl_ or toffs is None or tcnts is None:
            raise ValueError("bad TIFF tile tags")
        across, down = -(-w // tw_), -(-h // tl_)
        # budget the PADDED tile grid, not just the declared image —
        # a hostile 8x8 image declaring 16384x16384 tiles would
        # otherwise inflate need-sized buffers past the pixel budget
        # (review find, r8)
        _check_pixels(tl_ * down, tw_ * across, "TIFF tile grid")
        per_plane = across * down
        if len(toffs) < per_plane * n_planes \
                or len(tcnts) < per_plane * n_planes:
            raise ValueError("TIFF tiles cover fewer pixels than "
                             "declared")
        tile_c = spp if planar == 1 else 1
        planes = [np.zeros((h, w, tile_c), dt) for _ in range(n_planes)]
        for p in range(n_planes):
            for ti in range(per_plane):
                off, cnt = toffs[p * per_plane + ti], \
                    tcnts[p * per_plane + ti]
                raw = b[off:off + cnt]
                if len(raw) < cnt:
                    raise ValueError("truncated TIFF tile")
                need = tl_ * tw_ * tile_c * ssz
                arr = np.frombuffer(unpack(raw, need), dt) \
                    .reshape(tl_, tw_, tile_c)
                if predictor == 2:
                    arr = (np.cumsum(arr.astype(np.int64), axis=1)
                           & mask).astype(dt)
                y0, x0 = (ti // across) * tl_, (ti % across) * tw_
                ph_, pw_ = min(tl_, h - y0), min(tw_, w - x0)
                planes[p][y0:y0 + ph_, x0:x0 + pw_] = \
                    arr[:ph_, :pw_]
        px = planes[0] if planar == 1 else np.concatenate(planes,
                                                          axis=2)
        return _tiff_finish(px, photo, tags, bits, en)

    row_samples = w if planar == 2 else w * spp
    strips_per_plane = -(-h // rps)
    if len(offsets) < strips_per_plane * n_planes \
            or len(counts) < strips_per_plane * n_planes:
        raise ValueError("TIFF strips cover fewer rows than declared")
    plane_bodies = []
    for p in range(n_planes):
        rows_done = 0
        body = bytearray()
        for s in range(strips_per_plane):
            off = offsets[p * strips_per_plane + s]
            cnt = counts[p * strips_per_plane + s]
            strip_rows = min(rps, h - rows_done)
            need = strip_rows * row_samples * ssz
            raw = b[off:off + cnt]
            if len(raw) < cnt:
                raise ValueError("truncated TIFF strip")
            body += unpack(raw, need)
            rows_done += strip_rows
        plane_bodies.append(bytes(body))
    if planar == 1:
        px = np.frombuffer(plane_bodies[0], dt).reshape(h, w, spp)
    else:
        px = np.stack([np.frombuffer(pb, dt).reshape(h, w)
                       for pb in plane_bodies], axis=2)
    if predictor == 2:                        # horizontal differencing
        px = (np.cumsum(px.astype(np.int64), axis=1) & mask).astype(dt)
    return _tiff_finish(px, photo, tags, bits, en)


def _tiff_finish(px, photo: int, tags: dict, bits, en: str):
    """Shared post-assembly tail for strip- and tile-organized TIFFs:
    palette lookup on the RAW indices, 16→8 high-byte downconversion,
    white-is-zero inversion."""
    import numpy as np

    spp = px.shape[2]
    if photo == 3:
        # palette lookup happens on the RAW indices (before any 16→8
        # downconversion — TIFF 6.0 §23 ColorMap is indexed by the
        # full sample value, so 16-bit palette images need all
        # 2^16 entries)
        nent = 1 << bits[0]
        cmap = tags.get(320)
        if cmap is None or len(cmap) < 3 * nent or spp != 1:
            raise ValueError("palette TIFF without a usable ColorMap")
        pal = (np.asarray(cmap[:3 * nent], np.uint16)
               .reshape(3, nent).T >> 8).astype(np.uint8)
        return pal[px[:, :, 0]].copy()
    if bits[0] == 16:
        # 16 -> 8 by the high byte — the same downconversion the PNG
        # decoder applies (pixel-stat consumers are uint8-contracted)
        px = (px >> 8).astype(np.uint8)
    if photo == 0:                            # white-is-zero
        px = 255 - px
    return px.copy()


def _encode_tiff(px, compression: int = 1, predictor: int = 1,
                 rows_per_strip: int | None = None,
                 big_endian: bool = False,
                 palette=None, planar: int = 1) -> bytes:
    """(h, w, 3|1) uint8 — or uint16 for 16-bit samples — → TIFF
    bytes (fixture encoder for the decoder's gates): strip
    organization, None/LZW/PackBits compression, optional
    horizontal-differencing predictor, gray / RGB / palette
    photometrics, either byte order, chunky or planar
    (PlanarConfiguration=2) layout. Round-trips through
    :func:`_decode_tiff` (16-bit via the high-byte downconversion)."""
    import numpy as np

    en = ">" if big_endian else "<"
    px = np.asarray(px)
    bits16 = px.dtype == np.uint16
    px = px.astype(np.uint16 if bits16 else np.uint8)
    if px.ndim == 2:
        px = px[:, :, None]
    h, w, spp = px.shape
    rps = rows_per_strip or h
    photo = 2 if spp == 3 else (3 if palette is not None else 1)
    src = px
    if predictor == 2:
        diff = px.astype(np.int64)
        diff[:, 1:] = diff[:, 1:] - diff[:, :-1]
        mask = 0xFFFF if bits16 else 0xFF
        src = (diff & mask).astype(px.dtype)
    sdt = np.dtype(en + "u2") if bits16 else np.uint8

    def pack_strip(raw: bytes) -> bytes:
        if compression == 5:
            return _tiff_lzw_encode(raw)
        if compression == 32773:
            return _packbits_encode(raw)
        if compression in (8, 32946):
            return zlib.compress(raw)
        return raw

    strips = []
    if planar == 2:
        for p in range(spp):
            for y0 in range(0, h, rps):
                strips.append(pack_strip(
                    src[y0:y0 + rps, :, p].astype(sdt).tobytes()))
    else:
        for y0 in range(0, h, rps):
            strips.append(pack_strip(src[y0:y0 + rps].astype(sdt)
                                     .tobytes()))
    n_strips = len(strips)

    entries = []                               # (tag, typ, count, values)
    entries.append((256, 4, 1, [w]))
    entries.append((257, 4, 1, [h]))
    entries.append((258, 3, spp, [16 if bits16 else 8] * spp))
    entries.append((259, 3, 1, [compression]))
    entries.append((262, 3, 1, [photo]))
    entries.append((273, 4, n_strips, None))   # offsets patched below
    entries.append((277, 3, 1, [spp]))
    entries.append((278, 4, 1, [rps]))
    entries.append((279, 4, n_strips, [len(s) for s in strips]))
    if planar == 2:
        entries.append((284, 3, 1, [2]))
    if predictor == 2:
        entries.append((317, 3, 1, [2]))
    if photo == 3:
        cm = (np.asarray(palette, np.uint16) << 8)
        cmap = list(cm[:, 0]) + list(cm[:, 1]) + list(cm[:, 2])
        entries.append((320, 3, len(cmap), cmap))
    entries.sort(key=lambda e: e[0])

    type_size = {3: 2, 4: 4}
    fmt_of = {3: "H", 4: "I"}
    header = struct.pack(en + "2sHI", b"II" if en == "<" else b"MM",
                         42, 8)
    ifd_size = 2 + len(entries) * 12 + 4
    # layout: header | IFD | overflow tag data | strips
    over_off = 8 + ifd_size
    overflow = bytearray()
    strip_off0 = None
    packed = []
    for tag, typ, count, vals in entries:
        if tag == 273:
            vals = [0] * count                 # patched after layout
        total = type_size[typ] * count
        if total <= 4:
            raw = struct.pack(en + fmt_of[typ] * count, *vals)
            raw += b"\x00" * (4 - total)
            packed.append([tag, typ, count, raw, None])
        else:
            packed.append([tag, typ, count, None, vals])
    for p in packed:
        if p[3] is None:
            tag, typ, count, _, vals = p
            p[3] = struct.pack(en + "I", over_off + len(overflow))
            overflow += struct.pack(en + fmt_of[typ] * count, *vals)
    data_off = over_off + len(overflow)
    offsets = []
    pos = data_off
    for s in strips:
        offsets.append(pos)
        pos += len(s)
    # patch strip offsets into their slot (entry or overflow)
    for p in packed:
        if p[0] == 273:
            if p[2] * 4 <= 4:
                p[3] = struct.pack(en + "I" * p[2], *offsets) \
                    + b"\x00" * (4 - 4 * p[2])
            else:
                voff = struct.unpack(en + "I", p[3])[0] - over_off
                overflow[voff:voff + 4 * p[2]] = struct.pack(
                    en + "I" * p[2], *offsets)
    ifd = struct.pack(en + "H", len(packed))
    for tag, typ, count, raw, _ in packed:
        ifd += struct.pack(en + "HHI", tag, typ, count) + raw
    ifd += struct.pack(en + "I", 0)            # no next IFD
    return header + ifd + bytes(overflow) + b"".join(strips)


# --- baseline JPEG (ISO/IEC 10918-1, JFIF) — pure stdlib + numpy ---
# Annex K.1 example quantization tables (raster order)
_JPEG_LUM_QT = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99]
_JPEG_CHROM_QT = [
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99]
# zig-zag scan: _JPEG_ZZ[k] = raster index of the k-th coefficient
_JPEG_ZZ = [
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63]
# Annex K.3 typical Huffman tables: (BITS for code lengths 1..16,
# HUFFVAL). Class 0 = DC, 1 = AC; id 0 = luma, 1 = chroma.
_HUFF_DC_LUM = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
                list(range(12)))
_HUFF_DC_CHROM = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
                  list(range(12)))
_HUFF_AC_LUM = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
     0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
     0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
     0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
     0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
     0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
     0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
     0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
     0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
     0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
     0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
     0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
     0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
     0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
     0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
     0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
     0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
     0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
     0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
     0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
     0xF9, 0xFA])
_HUFF_AC_CHROM = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
     0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
     0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
     0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
     0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
     0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
     0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
     0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
     0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
     0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
     0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
     0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
     0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
     0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
     0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
     0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
     0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
     0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
     0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
     0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
     0xF9, 0xFA])

_JPEG_NP = None

# Orthonormal 8-point DCT-II basis A (DCT C = A B Aᵀ, IDCT
# B = Aᵀ C A) as shortest-roundtrip double LITERALS rather than a
# runtime cos() call: libm's cos differs in the last ulp across
# host images, and one ulp in the basis flips isolated IDCT
# round-to-uint8 decisions — which broke the "bit-deterministic
# across environments" pin contract when the round-7 container's
# libm changed 18/500 grayscale means by a single pixel step.
# Values = cos((2j+1)·iπ/16)/2, row 0 further /√2.
_DCT_BASIS = [
    [0.35355339059327373, 0.35355339059327373, 0.35355339059327373,
     0.35355339059327373, 0.35355339059327373, 0.35355339059327373,
     0.35355339059327373, 0.35355339059327373],
    [0.4903926402016152, 0.4157348061512726, 0.27778511650980114,
     0.09754516100806417, -0.0975451610080641, -0.277785116509801,
     -0.4157348061512727, -0.4903926402016152],
    [0.46193976625564337, 0.19134171618254492, -0.19134171618254486,
     -0.46193976625564337, -0.4619397662556434, -0.19134171618254517,
     0.191341716182545, 0.46193976625564326],
    [0.4157348061512726, -0.0975451610080641, -0.4903926402016152,
     -0.2777851165098011, 0.2777851165098009, 0.4903926402016152,
     0.09754516100806439, -0.41573480615127256],
    [0.3535533905932738, -0.35355339059327373, -0.35355339059327384,
     0.3535533905932737, 0.35355339059327384, -0.35355339059327334,
     -0.35355339059327356, 0.3535533905932733],
    [0.27778511650980114, -0.4903926402016152, 0.09754516100806415,
     0.41573480615127273, -0.41573480615127256, -0.09754516100806401,
     0.4903926402016153, -0.27778511650980076],
    [0.19134171618254492, -0.4619397662556434, 0.46193976625564326,
     -0.19134171618254495, -0.19134171618254528, 0.46193976625564337,
     -0.4619397662556432, 0.19134171618254478],
    [0.09754516100806417, -0.2777851165098011, 0.41573480615127273,
     -0.4903926402016153, 0.4903926402016152, -0.4157348061512725,
     0.27778511650980076, -0.09754516100806429],
]


def _jpeg_np():
    """Lazily-built numpy constants: zig-zag index vector and the
    literal DCT basis (see _DCT_BASIS)."""
    global _JPEG_NP
    if _JPEG_NP is None:
        import numpy as np

        _JPEG_NP = {"zz": np.array(_JPEG_ZZ, dtype=np.int64),
                    "A": np.array(_DCT_BASIS, dtype=np.float64)}
    return _JPEG_NP


def _huff_codes(bits, vals):
    """Canonical Huffman assignment (10918-1 C.2): {value: (code,
    length)} for the encoder."""
    out = {}
    code = k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[vals[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return out


def _huff_decode_table(bits, vals):
    """``(lut, map)`` decoder table: an 8-bit LUT of ``(value, len)``
    for codes of ≤8 bits (MSB-first, so each code owns a contiguous
    slot range) plus the ``{(length, code): value}`` map the bit-walk
    fallback uses for the 9-16-bit tail."""
    out = {}
    lut = [None] * 256
    code = k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[(ln, code)] = vals[k]
            if ln <= 8:
                base = code << (8 - ln)
                cnt = 1 << (8 - ln)
                lut[base:base + cnt] = [(vals[k], ln)] * cnt
            code += 1
            k += 1
        code <<= 1
    return (lut, out)


class _JpegBitReader:
    """MSB-first reader over entropy-coded data: 0xFF00 unstuffing;
    at a restart marker or segment end it pads with 1-bits (F.2.2.5)
    until the caller resynchronizes via :meth:`align_restart`."""

    def __init__(self, data: bytes, pos: int):
        self.d = data
        self.pos = pos
        self.acc = 0
        self.n = 0

    def _fill(self):
        while self.n <= 24:
            if self.pos >= len(self.d):
                self.acc = (self.acc << 8) | 0xFF
                self.n += 8
                continue
            byte = self.d[self.pos]
            if byte == 0xFF:
                nxt = (self.d[self.pos + 1]
                       if self.pos + 1 < len(self.d) else 0xD9)
                if nxt == 0x00:                # stuffed literal FF
                    self.pos += 2
                else:                          # RSTn / EOI: pad, hold
                    self.acc = (self.acc << 8) | 0xFF
                    self.n += 8
                    continue
            else:
                self.pos += 1
            self.acc = (self.acc << 8) | byte
            self.n += 8

    def read(self, k: int) -> int:
        if k == 0:
            return 0
        if self.n < k:
            self._fill()
        self.n -= k
        v = (self.acc >> self.n) & ((1 << k) - 1)
        self.acc &= (1 << self.n) - 1
        return v

    def huff(self, table) -> int:
        # Peek 8 bits and resolve ≤8-bit codes in one LUT hit; the
        # peek consumes nothing, so a miss falls through to the exact
        # bit-walk. _fill() tops up to ≥25 bits (1-padding at markers
        # and EOF exactly as the per-bit reads would), so the peek
        # sees the same bits sequential read(1) calls would return.
        lut, tmap = table
        if self.n < 8:
            self._fill()
        e = lut[(self.acc >> (self.n - 8)) & 0xFF]
        if e is not None:
            v, ln = e
            self.n -= ln
            self.acc &= (1 << self.n) - 1
            return v
        code = 0
        for ln in range(1, 17):
            code = (code << 1) | self.read(1)
            v = tmap.get((ln, code))
            if v is not None:
                return v
        raise ValueError("invalid JPEG Huffman code")

    def align_restart(self):
        """Drop buffered bits and skip just past the next RSTn."""
        self.acc = 0
        self.n = 0
        d, p = self.d, self.pos
        while p + 1 < len(d):
            if d[p] == 0xFF and 0xD0 <= d[p + 1] <= 0xD7:
                self.pos = p + 2
                return
            p += 1
        raise ValueError("missing JPEG restart marker")


def _jpeg_extend(v: int, s: int) -> int:
    """F.2.2.1 EXTEND: map an s-bit magnitude to its signed value."""
    return v - (1 << s) + 1 if s and v < (1 << (s - 1)) else v


def _decode_jpeg(b: bytes):
    """Baseline sequential AND progressive (SOF2) JFIF → (h, w, c)
    uint8, c = 3 (RGB) or 1.

    REAL decode, pure stdlib + numpy: marker walk (DQT incl. 16-bit
    tables, SOF0/1/2, DHT, DRI, SOS), canonical Huffman with byte
    unstuffing and restart-marker resync, multi-scan coefficient
    accumulation — spectral selection + successive approximation per
    ITU T.81 §G (DC first/refine, AC first with EOB runs, AC
    refinement with correction bits) — then dequantize + dezigzag,
    exact IDCT via the orthonormal DCT-II basis matrix, nearest
    chroma upsample, YCbCr→RGB per the JFIF formulas. Baseline
    non-interleaved multi-scan files decode through the same
    framework. Hierarchical, arithmetic-coded, and 12-bit codestreams
    raise NotImplementedError (honest gates); corrupt streams raise
    ValueError (skippable rows)."""
    if b[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    try:
        return _decode_jpeg_inner(b)
    except (struct.error, IndexError) as e:
        # malformed payloads must surface as ValueError so the
        # unsupported='skip'/'stub' pipelines treat them like any
        # other corrupt image instead of crashing the job
        raise ValueError(f"corrupt JPEG payload: {e}") from e


def _decode_jpeg_inner(b: bytes):
    import numpy as np

    np_c = _jpeg_np()
    zz = np_c["zz"]
    qt, huff, comps = {}, {}, None
    h = w = 0
    restart = 0
    progressive = False
    scanned = False
    pos = 2
    while pos + 2 <= len(b):
        if b[pos] != 0xFF:
            raise ValueError("bad JPEG marker stream")
        # fill bytes: a run of 0xFF before the marker is legal padding
        while pos + 1 < len(b) and b[pos + 1] == 0xFF:
            pos += 1
        marker = b[pos + 1]
        if marker == 0xD9:
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            pos += 2                         # TEM / stray RSTn: no body
            continue
        if pos + 4 > len(b):
            raise ValueError("truncated JPEG segment header")
        seg_len = struct.unpack(">H", b[pos + 2:pos + 4])[0]
        seg = b[pos + 4:pos + 2 + seg_len]
        pos += 2 + seg_len
        if marker == 0xDB:                       # DQT
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 15
                i += 1
                if pq:
                    tab = np.frombuffer(seg, ">u2", 64, i).astype(np.int64)
                    i += 128
                else:
                    tab = np.frombuffer(seg, np.uint8, 64, i).astype(np.int64)
                    i += 64
                q = np.zeros(64, np.int64)
                q[zz] = tab
                qt[tq] = q.reshape(8, 8).astype(np.float64)
        elif marker in (0xC0, 0xC1, 0xC2):       # SOF0/1 + SOF2
            prec = seg[0]
            h, w = struct.unpack(">HH", seg[1:5])
            nc = seg[5]
            if prec != 8:
                raise NotImplementedError("only 8-bit JPEG supported")
            _check_pixels(h, w, "JPEG")
            progressive = marker == 0xC2
            comps = []
            for ci in range(nc):
                cid, hv, tq = seg[6 + ci * 3:9 + ci * 3]
                ch, cv = hv >> 4, hv & 15
                if ch not in (1, 2, 4) or cv not in (1, 2, 4):
                    raise ValueError("bad JPEG sampling factors")
                comps.append({"id": cid, "h": ch, "v": cv, "tq": tq})
            hmax = max(c["h"] for c in comps)
            vmax = max(c["v"] for c in comps)
            mcux = -(-w // (8 * hmax))
            mcuy = -(-h // (8 * vmax))
            for c in comps:
                # MCU-padded coefficient grid (interleaved scans code
                # the padding blocks) + the component's OWN block grid
                # (non-interleaved scans code only that, T.81 A.2.2)
                c["bw_mcu"] = mcux * c["h"]
                c["bh_mcu"] = mcuy * c["v"]
                c["bw"] = (-(-w * c["h"] // hmax) + 7) // 8
                c["bh"] = (-(-h * c["v"] // vmax) + 7) // 8
                c["coef"] = np.zeros(
                    (c["bh_mcu"], c["bw_mcu"], 64), np.int32)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "hierarchical/arithmetic JPEG not supported (baseline "
                "sequential and progressive decode for real)")
        elif marker == 0xC4:                     # DHT
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 15
                bits = list(seg[i + 1:i + 17])
                nv = sum(bits)
                vals = list(seg[i + 17:i + 17 + nv])
                huff[(tc, th)] = _huff_decode_table(bits, vals)
                i += 17 + nv
        elif marker == 0xDD:                     # DRI
            restart = struct.unpack(">H", seg[:2])[0]
        elif marker == 0xDA:                     # SOS
            if comps is None:
                raise ValueError("JPEG SOS before SOF")
            ns = seg[0]
            if len(seg) < 1 + 2 * ns + 3:
                raise ValueError("truncated JPEG SOS header")
            ss_, se_ = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ah_, al_ = seg[3 + 2 * ns] >> 4, seg[3 + 2 * ns] & 15
            if progressive:
                if ss_ == 0 and se_ != 0:
                    raise ValueError("progressive DC scan with Se != 0")
                if ss_ > 0 and ns != 1:
                    raise ValueError("progressive AC scans are "
                                     "single-component")
                if se_ > 63 or ss_ > se_:
                    raise ValueError("bad JPEG spectral selection")
            elif (ss_, se_, ah_, al_) != (0, 63, 0, 0):
                raise ValueError("bad baseline JPEG scan header")
            scan = []
            for si in range(ns):
                cs, tt = seg[1 + si * 2], seg[2 + si * 2]
                comp = next((c for c in comps if c["id"] == cs), None)
                if comp is None:
                    raise ValueError("JPEG scan references missing "
                                     "component")
                need_dc = ss_ == 0 and ah_ == 0
                need_ac = (not progressive) or ss_ > 0
                if (need_dc and (0, tt >> 4) not in huff) or \
                        (need_ac and (1, tt & 15) not in huff):
                    raise ValueError("JPEG scan references missing "
                                     "Huffman table")
                comp["dc"] = huff.get((0, tt >> 4))
                comp["ac"] = huff.get((1, tt & 15))
                scan.append(comp)
            pos = _jpeg_decode_scan(b, pos, scan, restart, mcux, mcuy,
                                    progressive, ss_, se_, ah_, al_, zz)
            scanned = True
    if not scanned:
        raise ValueError("JPEG without SOS scan")
    return _jpeg_reconstruct(comps, qt, h, w, hmax, vmax)


def _jpeg_next_marker(d: bytes, pos: int) -> int:
    """Position of the next real marker (not a stuffed 0x00, not an
    RSTn) at or after ``pos`` — where the post-scan walk resumes."""
    p = pos
    while p + 1 < len(d):
        if d[p] == 0xFF and d[p + 1] != 0x00 and d[p + 1] != 0xFF \
                and not (0xD0 <= d[p + 1] <= 0xD7):
            return p
        p += 1
    return len(d)


def _jpeg_decode_scan(b, pos, scan, restart, mcux, mcuy,
                      progressive, ss_, se_, ah_, al_, zz):
    """Decode one entropy-coded scan into the components' coefficient
    arrays (T.81 §F baseline, §G progressive) and return the stream
    position of the next marker. Interleaved scans (ns > 1) iterate
    MCUs; single-component scans iterate the component's own block
    grid. Restart markers reset DC predictors AND the EOB run."""
    r = _JpegBitReader(b, pos)
    eobrun = 0
    for c in scan:
        c["pred"] = 0
    interleaved = len(scan) > 1
    if interleaved:
        units = [None] * (mcux * mcuy)          # unit = one MCU
    else:
        c0 = scan[0]
        units = [None] * (c0["bw"] * c0["bh"])  # unit = one block
    for m in range(len(units)):
        if restart and m and m % restart == 0:
            r.align_restart()
            eobrun = 0
            for c in scan:
                c["pred"] = 0
        if interleaved:
            my, mx = divmod(m, mcux)
            for c in scan:
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        eobrun = _jpeg_decode_block(
                            r, c, c["coef"][my * c["v"] + by,
                                            mx * c["h"] + bx],
                            progressive, ss_, se_, ah_, al_, zz,
                            eobrun)
        else:
            by, bx = divmod(m, c0["bw"])
            eobrun = _jpeg_decode_block(
                r, c0, c0["coef"][by, bx], progressive,
                ss_, se_, ah_, al_, zz, eobrun)
    return _jpeg_next_marker(b, r.pos)


def _jpeg_decode_block(r, c, coef, progressive, ss_, se_, ah_, al_,
                       zz, eobrun):
    """Decode one 8x8 block's contribution for the current scan into
    ``coef`` (natural-order int32[64]); returns the updated EOB run."""
    if not progressive:                         # full baseline block
        s = r.huff(c["dc"])
        c["pred"] += _jpeg_extend(r.read(s), s)
        coef[0] = c["pred"]
        k = 1
        while k < 64:
            rs = r.huff(c["ac"])
            rr, sv = rs >> 4, rs & 15
            if rs == 0:                          # EOB
                break
            if rs == 0xF0:                       # ZRL
                k += 16
                continue
            k += rr
            if k > 63:
                raise ValueError("JPEG AC run past block")
            coef[zz[k]] = _jpeg_extend(r.read(sv), sv)
            k += 1
        return 0
    if ss_ == 0:                                # DC scan
        if ah_ == 0:                            # first
            s = r.huff(c["dc"])
            c["pred"] += _jpeg_extend(r.read(s), s)
            coef[0] = c["pred"] << al_
        elif r.read(1):                         # refinement: one bit
            coef[0] |= 1 << al_
        return eobrun
    if ah_ == 0:                                # AC first scan (G.1.2.2)
        if eobrun > 0:
            return eobrun - 1
        k = ss_
        while k <= se_:
            rs = r.huff(c["ac"])
            rr, sv = rs >> 4, rs & 15
            if sv == 0:
                if rr == 15:                     # ZRL
                    k += 16
                    continue
                eobrun = (1 << rr) - 1           # EOBn: this block ends
                if rr:
                    eobrun += r.read(rr)
                return eobrun
            k += rr
            if k > se_:
                raise ValueError("JPEG AC run past band")
            coef[zz[k]] = _jpeg_extend(r.read(sv), sv) << al_
            k += 1
        return 0
    # AC refinement scan (G.1.2.3): correction bits on nonzero-history
    # coefficients, ±1<<Al insertions at zero-history positions
    p1 = 1 << al_
    m1 = -1 << al_
    k = ss_
    if eobrun == 0:
        while k <= se_:
            rs = r.huff(c["ac"])
            rr, sv = rs >> 4, rs & 15
            val = 0
            if sv == 0:
                if rr < 15:                      # EOBn
                    eobrun = 1 << rr
                    if rr:
                        eobrun += r.read(rr)
                    break
                # rr == 15: run of 16 zero-history coefficients
            else:
                if sv != 1:
                    raise ValueError("bad JPEG AC refinement magnitude")
                val = p1 if r.read(1) else m1
            while k <= se_:
                z = zz[k]
                if coef[z] != 0:
                    if r.read(1) and (coef[z] & p1) == 0:
                        coef[z] += p1 if coef[z] > 0 else m1
                else:
                    if rr == 0:
                        break
                    rr -= 1
                k += 1
            if val:
                if k > se_:
                    raise ValueError("JPEG refinement run past band")
                coef[zz[k]] = val
            k += 1
    if eobrun > 0:
        while k <= se_:
            z = zz[k]
            if coef[z] != 0:
                if r.read(1) and (coef[z] & p1) == 0:
                    coef[z] += p1 if coef[z] > 0 else m1
            k += 1
        eobrun -= 1
    return eobrun


def _jpeg_reconstruct(comps, qt, h, w, hmax, vmax):
    """Dequantize + IDCT every component's coefficient grid, upsample
    chroma, and color-convert — shared by the baseline and progressive
    paths (the per-block ``a.T @ (coef * q) @ a`` arithmetic is the
    round-5 baseline's exactly, so pinned gates are unchanged)."""
    import numpy as np

    np_c = _jpeg_np()
    a = np_c["A"]
    planes = []
    for c in comps:
        if c["tq"] not in qt:
            raise ValueError("JPEG component references missing DQT")
        q = qt[c["tq"]]
        plane = np.zeros((c["bh_mcu"] * 8, c["bw_mcu"] * 8), np.float64)
        coef = c["coef"]
        for by in range(c["bh_mcu"]):
            for bx in range(c["bw_mcu"]):
                block = a.T @ (coef[by, bx].astype(np.float64)
                               .reshape(8, 8) * q) @ a
                plane[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] = block + 128
        if c["h"] != hmax:
            plane = np.repeat(plane, hmax // c["h"], axis=1)
        if c["v"] != vmax:
            plane = np.repeat(plane, vmax // c["v"], axis=0)
        planes.append(plane[:h, :w])
    if len(planes) == 1:
        return np.clip(np.round(planes[0]), 0, 255) \
            .astype(np.uint8)[:, :, None]
    if len(planes) != 3:
        raise ValueError("unsupported JPEG component count")
    y, cb, cr = planes
    rgb = np.stack([y + 1.402 * (cr - 128),
                    y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128),
                    y + 1.772 * (cb - 128)], axis=2)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


class _JpegBitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int):
        self.acc = (self.acc << length) | code
        self.n += length
        while self.n >= 8:
            self.n -= 8
            byte = (self.acc >> self.n) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)           # byte stuffing
            self.acc &= (1 << self.n) - 1

    def flush(self):
        if self.n:
            pad = 8 - self.n
            self.write((1 << pad) - 1, pad)


def _jpeg_quality_scale(qtab, quality: int):
    """libjpeg's linear quality→table scaling (public formula)."""
    import numpy as np

    quality = min(100, max(1, quality))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = np.asarray(qtab, dtype=np.int64)
    return np.clip((q * scale + 50) // 100, 1, 255)


def _jpeg_forward_setup(px, quality: int, subsample: bool):
    """Shared forward path for both JPEG fixture encoders: RGB→YCbCr,
    optional 4:2:0 box-average chroma subsample, edge padding to MCU
    multiples, quality-scaled Annex K quant tables. Returns
    ``(comp, qlum, qchr, gray, h, w, mcux, mcuy, sub)``."""
    import numpy as np

    px = np.asarray(px)
    if px.ndim == 2:
        px = px[:, :, None]
    h, w, nc = px.shape
    gray = nc == 1
    f = px.astype(np.float64)
    if gray:
        planes = [f[:, :, 0]]
    else:
        r_, g_, b_ = f[:, :, 0], f[:, :, 1], f[:, :, 2]
        planes = [0.299 * r_ + 0.587 * g_ + 0.114 * b_,
                  128 - 0.168736 * r_ - 0.331264 * g_ + 0.5 * b_,
                  128 + 0.5 * r_ - 0.418688 * g_ - 0.081312 * b_]
    qlum = _jpeg_quality_scale(_JPEG_LUM_QT, quality) \
        .reshape(8, 8).astype(np.float64)
    qchr = _jpeg_quality_scale(_JPEG_CHROM_QT, quality) \
        .reshape(8, 8).astype(np.float64)
    sub = 2 if (subsample and not gray) else 1
    mcu = 8 * sub
    mcux = -(-w // mcu)
    mcuy = -(-h // mcu)

    def pad_to(p, ph, pw):
        return np.pad(p, ((0, ph - p.shape[0]), (0, pw - p.shape[1])),
                      mode="edge")

    comp = []
    for i, p in enumerate(planes):
        if i > 0 and sub == 2:                  # box-average 2x2 chroma
            p2 = pad_to(p, mcuy * mcu, mcux * mcu)
            plane = (p2[0::2, 0::2] + p2[0::2, 1::2]
                     + p2[1::2, 0::2] + p2[1::2, 1::2]) / 4
            ch = cv = 1
        else:
            ch = cv = sub if i == 0 else 1
            plane = pad_to(p, mcuy * 8 * cv, mcux * 8 * ch)
        comp.append({
            "plane": plane, "h": ch, "v": cv,
            "q": qlum if i == 0 else qchr,
            "dc": _huff_codes(*(_HUFF_DC_LUM if i == 0
                                else _HUFF_DC_CHROM)),
            "ac": _huff_codes(*(_HUFF_AC_LUM if i == 0
                                else _HUFF_AC_CHROM)),
            "pred": 0})
    return comp, qlum, qchr, gray, h, w, mcux, mcuy, sub


def _encode_jpeg(px, quality: int = 90, subsample: bool = False,
                 restart_interval: int = 0) -> bytes:
    """(h, w, 3|1) uint8 → baseline JFIF bytes (fixture encoder for
    the decoder's gates): quality-scaled Annex K quant tables,
    standard Annex K Huffman tables, 4:4:4 (or 4:2:0 with
    ``subsample=True``) sampling, optional restart intervals. Lossy —
    round-trips through :func:`_decode_jpeg` within a quantization
    tolerance, and exactly for uniform blocks."""
    import numpy as np

    np_c = _jpeg_np()
    a, zz = np_c["A"], np_c["zz"]
    comp, qlum, qchr, gray, h, w, mcux, mcuy, sub = \
        _jpeg_forward_setup(px, quality, subsample)
    wtr = _JpegBitWriter()

    def emit_block(c, y0, x0):
        block = c["plane"][y0:y0 + 8, x0:x0 + 8] - 128
        qc = np.round((a @ block @ a.T) / c["q"]).astype(np.int64)
        z = qc.flatten()[zz]
        diff = int(z[0]) - c["pred"]
        c["pred"] = int(z[0])
        s = abs(diff).bit_length()
        code, ln = c["dc"][s]
        wtr.write(code, ln)
        if s:
            v = diff if diff >= 0 else diff + (1 << s) - 1
            wtr.write(v & ((1 << s) - 1), s)
        run = 0
        nz = np.nonzero(z[1:])[0]
        last_nz = int(nz[-1]) + 1 if len(nz) else 0
        for k in range(1, last_nz + 1):
            v = int(z[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, ln = c["ac"][0xF0]
                wtr.write(code, ln)
                run -= 16
            s = abs(v).bit_length()
            code, ln = c["ac"][(run << 4) | s]
            wtr.write(code, ln)
            vv = v if v >= 0 else v + (1 << s) - 1
            wtr.write(vv & ((1 << s) - 1), s)
            run = 0
        if last_nz < 63:
            code, ln = c["ac"][0x00]            # EOB
            wtr.write(code, ln)

    n_rst = 0
    for m in range(mcux * mcuy):
        if restart_interval and m and m % restart_interval == 0:
            wtr.flush()
            wtr.out += bytes([0xFF, 0xD0 + (n_rst % 8)])
            n_rst += 1
            for c in comp:
                c["pred"] = 0
        my, mx = divmod(m, mcux)
        for c in comp:
            for by in range(c["v"]):
                for bx in range(c["h"]):
                    emit_block(c, (my * c["v"] + by) * 8,
                               (mx * c["h"] + bx) * 8)
    wtr.flush()

    def seg(marker, body):
        return bytes([0xFF, marker]) \
            + struct.pack(">H", len(body) + 2) + body

    def dqt(tid, q):
        zvals = q.astype(np.int64).flatten()[zz]
        return seg(0xDB, bytes([tid]) + bytes(int(x) for x in zvals))

    def dht(tc, th, table):
        bits, vals = table
        return seg(0xC4, bytes([(tc << 4) | th]) + bytes(bits)
                   + bytes(vals))

    out = bytearray(b"\xff\xd8")
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += dqt(0, qlum)
    if not gray:
        out += dqt(1, qchr)
    ncomp = 1 if gray else 3
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([ncomp])
    for i in range(ncomp):
        sof += bytes([i + 1, (comp[i]["h"] << 4) | comp[i]["v"],
                      0 if i == 0 else 1])
    out += seg(0xC0, sof)
    out += dht(0, 0, _HUFF_DC_LUM)
    out += dht(1, 0, _HUFF_AC_LUM)
    if not gray:
        out += dht(0, 1, _HUFF_DC_CHROM)
        out += dht(1, 1, _HUFF_AC_CHROM)
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([ncomp])
    for i in range(ncomp):
        sos += bytes([i + 1, 0x00 if i == 0 else 0x11])
    sos += bytes([0, 63, 0])
    out += seg(0xDA, sos)
    out += wtr.out + b"\xff\xd9"
    return bytes(out)


# Progressive fixture encoder's AC Huffman table: a near-flat
# canonical code covering ALL 256 symbol values (254 at 8 bits, 2 at
# 9), because progressive scans emit EOBn symbols ((r<<4)|0 for
# r 1..14) that the Annex K baseline tables don't define. The all-1s
# codeword stays unused as T.81 requires.
_HUFF_AC_FLAT = ([0, 0, 0, 0, 0, 0, 0, 254, 2, 0, 0, 0, 0, 0, 0, 0],
                 list(range(256)))

# libjpeg-style default progression: exercises DC first (Al=1), DC
# refine, AC first with spectral bands + EOB runs, and AC refinement
# with correction bits — every §G decoder path.
_PROG_SCANS_COLOR = [
    ((0, 1, 2), 0, 0, 0, 1),
    ((0,), 1, 5, 0, 2),
    ((2,), 1, 63, 0, 1),
    ((1,), 1, 63, 0, 1),
    ((0,), 6, 63, 0, 2),
    ((0,), 1, 63, 2, 1),
    ((0, 1, 2), 0, 0, 1, 0),
    ((2,), 1, 63, 1, 0),
    ((1,), 1, 63, 1, 0),
    ((0,), 1, 63, 1, 0),
]
_PROG_SCANS_GRAY = [
    ((0,), 0, 0, 0, 1),
    ((0,), 1, 5, 0, 2),
    ((0,), 6, 63, 0, 2),
    ((0,), 1, 63, 2, 1),
    ((0,), 0, 0, 1, 0),
    ((0,), 1, 63, 1, 0),
]


def _encode_jpeg_progressive(px, quality: int = 90,
                             subsample: bool = False,
                             restart_interval: int = 0,
                             scans=None) -> bytes:
    """(h, w, 3|1) uint8 → progressive (SOF2) JFIF bytes — the fixture
    encoder for the progressive decoder's gates. Identical forward
    path to :func:`_encode_jpeg` (same quant tables, same coefficient
    values), so decoding a progressive stream must reproduce the
    baseline decode bit-for-bit on the cropped image; the scan script
    (default: the public libjpeg progression) spreads those
    coefficients across DC/AC first + refinement scans per T.81 §G."""
    import numpy as np

    np_c = _jpeg_np()
    a, zz = np_c["A"], np_c["zz"]
    comp, qlum, qchr, gray, h, w, mcux, mcuy, sub = \
        _jpeg_forward_setup(px, quality, subsample)
    hmax = max(c["h"] for c in comp)
    vmax = max(c["v"] for c in comp)
    # quantize every block up front, zigzag-ordered
    for c in comp:
        bh_m = c["plane"].shape[0] // 8
        bw_m = c["plane"].shape[1] // 8
        zc = np.zeros((bh_m, bw_m, 64), np.int64)
        for by in range(bh_m):
            for bx in range(bw_m):
                block = c["plane"][by * 8:by * 8 + 8,
                                   bx * 8:bx * 8 + 8] - 128
                zc[by, bx] = np.round((a @ block @ a.T) / c["q"]) \
                    .astype(np.int64).flatten()[zz]
        c["zc"] = zc
        c["bw_mcu"], c["bh_mcu"] = bw_m, bh_m
        c["bw"] = (-(-w * c["h"] // hmax) + 7) // 8
        c["bh"] = (-(-h * c["v"] // vmax) + 7) // 8
        c["acp"] = _huff_codes(*_HUFF_AC_FLAT)
    for ci, c in enumerate(comp):
        c["ci"] = ci
    if scans is None:
        scans = _PROG_SCANS_GRAY if gray else _PROG_SCANS_COLOR

    body = bytearray()
    n_rst = 0
    for comp_ids, ss_, se_, ah_, al_ in scans:
        scan = [comp[i] for i in comp_ids]
        wtr = _JpegBitWriter()
        eobrun = 0
        ebuf = []                               # deferred correction bits
        for c in scan:
            c["pred"] = 0

        def emit_sym(c, table_key, v):
            code, ln = c[table_key][v]
            wtr.write(code, ln)

        def flush_eob(c):
            nonlocal eobrun, ebuf
            if eobrun > 0:
                rr = eobrun.bit_length() - 1
                emit_sym(c, "acp", rr << 4)
                if rr:
                    wtr.write(eobrun - (1 << rr), rr)
                eobrun = 0
                for bit in ebuf:
                    wtr.write(bit, 1)
                ebuf = []

        def block_dc_first(c, by, bx):
            dcv = int(c["zc"][by, bx, 0]) >> al_
            diff = dcv - c["pred"]
            c["pred"] = dcv
            s = abs(diff).bit_length()
            emit_sym(c, "dc", s)
            if s:
                v = diff if diff >= 0 else diff + (1 << s) - 1
                wtr.write(v & ((1 << s) - 1), s)

        def block_dc_refine(c, by, bx):
            wtr.write((int(c["zc"][by, bx, 0]) >> al_) & 1, 1)

        def block_ac_first(c, by, bx):
            nonlocal eobrun
            z = c["zc"][by, bx]
            r = 0
            any_sym = False
            for k in range(ss_, se_ + 1):
                v = int(z[k])
                t = abs(v) >> al_
                if t == 0:
                    r += 1
                    continue
                if eobrun > 0:
                    flush_eob(c)
                while r > 15:
                    emit_sym(c, "acp", 0xF0)
                    r -= 16
                s = t.bit_length()
                emit_sym(c, "acp", (r << 4) | s)
                tv = t if v >= 0 else -t
                vv = tv if tv >= 0 else tv + (1 << s) - 1
                wtr.write(vv & ((1 << s) - 1), s)
                r = 0
                any_sym = True
            if r > 0 or not any_sym:
                eobrun += 1
                if eobrun == 0x7FFF:
                    flush_eob(c)

        def block_ac_refine(c, by, bx):
            nonlocal eobrun, ebuf
            z = c["zc"][by, bx]
            absv = [abs(int(z[k])) >> al_ for k in range(ss_, se_ + 1)]
            eob_rel = -1
            for i, t in enumerate(absv):
                if t == 1:
                    eob_rel = i
            r = 0
            br = []
            for i, t in enumerate(absv):
                if t == 0:
                    r += 1
                    continue
                while r > 15 and i <= eob_rel:
                    flush_eob(c)
                    emit_sym(c, "acp", 0xF0)
                    r -= 16
                    for bit in br:
                        wtr.write(bit, 1)
                    br = []
                if t > 1:                       # already significant
                    br.append(t & 1)
                    continue
                flush_eob(c)
                emit_sym(c, "acp", (r << 4) | 1)
                wtr.write(1 if int(z[ss_ + i]) >= 0 else 0, 1)
                for bit in br:
                    wtr.write(bit, 1)
                br = []
                r = 0
            if r > 0 or br:
                eobrun += 1
                ebuf += br
                if eobrun == 0x7FFF:
                    flush_eob(c)

        if ss_ == 0:
            block = block_dc_first if ah_ == 0 else block_dc_refine
        else:
            if len(scan) != 1:
                raise ValueError("progressive AC scans are "
                                 "single-component")
            block = block_ac_first if ah_ == 0 else block_ac_refine
        interleaved = len(scan) > 1
        n_units = mcux * mcuy if interleaved \
            else scan[0]["bw"] * scan[0]["bh"]
        for m in range(n_units):
            if restart_interval and m and m % restart_interval == 0:
                flush_eob(scan[0])
                wtr.flush()
                wtr.out += bytes([0xFF, 0xD0 + (n_rst % 8)])
                n_rst += 1
                for c in scan:
                    c["pred"] = 0
            if interleaved:
                my, mx = divmod(m, mcux)
                for c in scan:
                    for by in range(c["v"]):
                        for bx in range(c["h"]):
                            block(c, my * c["v"] + by, mx * c["h"] + bx)
            else:
                by, bx = divmod(m, scan[0]["bw"])
                block(scan[0], by, bx)
        flush_eob(scan[0])
        wtr.flush()

        sos = bytes([len(scan)])
        for c in scan:
            td = 0 if c["ci"] == 0 else 1
            sos += bytes([c["ci"] + 1, (td << 4) | 0])  # AC tbl 0 = flat
        sos += bytes([ss_, se_, (ah_ << 4) | al_])
        body += _jpeg_seg(0xDA, sos) + wtr.out

    out = bytearray(b"\xff\xd8")
    out += _jpeg_seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += _jpeg_dqt(0, qlum, zz)
    if not gray:
        out += _jpeg_dqt(1, qchr, zz)
    ncomp = 1 if gray else 3
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([ncomp])
    for i in range(ncomp):
        sof += bytes([i + 1, (comp[i]["h"] << 4) | comp[i]["v"],
                      0 if i == 0 else 1])
    out += _jpeg_seg(0xC2, sof)
    out += _jpeg_dht(0, 0, _HUFF_DC_LUM)
    out += _jpeg_dht(1, 0, _HUFF_AC_FLAT)
    if not gray:
        out += _jpeg_dht(0, 1, _HUFF_DC_CHROM)
    if restart_interval:
        out += _jpeg_seg(0xDD, struct.pack(">H", restart_interval))
    out += body + b"\xff\xd9"
    return bytes(out)


def _jpeg_seg(marker: int, body: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body


def _jpeg_dqt(tid: int, q, zz) -> bytes:
    zvals = q.astype("int64").flatten()[zz]
    return _jpeg_seg(0xDB, bytes([tid]) + bytes(int(x) for x in zvals))


def _jpeg_dht(tc: int, th: int, table) -> bytes:
    bits, vals = table
    return _jpeg_seg(0xC4, bytes([(tc << 4) | th]) + bytes(bits)
                     + bytes(vals))


# --- MJPEG-in-AVI (RIFF) — real video FRAME decode in pure-public
# formats: the RIFF walk is BMP-walk complexity and every frame is a
# JPEG the codec above already decodes. H.264-in-MP4 stays honestly
# metadata-only (_parse_mp4).
def _riff_chunks(b: bytes, start: int, end: int):
    """Iterate RIFF chunks in b[start:end] → (fourcc, body_start,
    body_end); chunk bodies are word-aligned."""
    pos = start
    while pos + 8 <= end:
        cid = b[pos:pos + 4]
        sz = struct.unpack("<I", b[pos + 4:pos + 8])[0]
        body = pos + 8
        if body + sz > end:
            raise ValueError("truncated RIFF chunk")
        yield cid, body, body + sz
        pos = body + sz + (sz & 1)


def _decode_avi_frames(b: bytes):
    """MJPEG-in-AVI → ``(frames, timestamps_ms)``: RIFF walk to the
    ``hdrl``/``avih`` header (frame duration) and the ``movi`` list,
    then every ``##dc``/``##db`` chunk decodes through the real JPEG
    codec. Non-MJPEG payloads surface as ValueError from the JPEG
    layer; each frame rides the per-image pixel budget and the frame
    total rides the shared budget too."""
    if b[:4] != b"RIFF" or b[8:12] != b"AVI ":
        raise ValueError("not an AVI payload")
    try:
        us_per_frame = None
        frames, ts = [], []
        total_px = 0
        for cid, s, e in _riff_chunks(b, 12, len(b)):
            if cid != b"LIST":
                continue
            ltype = b[s:s + 4]
            if ltype == b"hdrl":
                for c2, s2, e2 in _riff_chunks(b, s + 4, e):
                    if c2 == b"avih" and e2 - s2 >= 4:
                        us_per_frame = struct.unpack(
                            "<I", b[s2:s2 + 4])[0]
            elif ltype == b"movi":
                # interleaved muxers wrap frame chunks in LIST 'rec '
                # groupings inside movi — walk one level down too
                def movi_chunks(s0, e0):
                    for c2, s2, e2 in _riff_chunks(b, s0, e0):
                        if c2 == b"LIST" and b[s2:s2 + 4] == b"rec ":
                            yield from _riff_chunks(b, s2 + 4, e2)
                        else:
                            yield c2, s2, e2
                for c2, s2, e2 in movi_chunks(s + 4, e):
                    if c2[2:4] in (b"dc", b"db") and e2 > s2:
                        px = _decode_jpeg(b[s2:e2])
                        total_px += px.shape[0] * px.shape[1]
                        if total_px > MAX_DECODE_PIXELS:
                            raise ValueError(
                                "AVI exceeds the total-pixel decode "
                                "budget")
                        dur = us_per_frame or 33333
                        ts.append(len(frames) * dur // 1000)
                        frames.append(px)
        if not frames:
            raise ValueError("AVI without decodable video frames")
        return frames, ts
    except (struct.error, IndexError) as e:
        raise ValueError(f"corrupt AVI payload: {e}") from e


def _decode_mp4_frames(b: bytes):
    """MJPEG-in-MP4 → ``(frames, timestamps_ms)``: ISO-BMFF walk to
    the video track's sample tables (stsd codec check, stsz sizes,
    stsc sample-to-chunk runs, stco/co64 chunk offsets, stts deltas
    against the mdhd timescale), then every sample decodes through
    the real JPEG codec. Tracks with compressed codecs (avc1/hev1/…)
    raise ValueError — H.264 stays honestly out of stdlib scope, so
    those files remain metadata-only via :func:`_parse_mp4`."""
    import numpy as np  # noqa: F401  (parity with sibling decoders)

    if b[4:8] != b"ftyp":
        raise ValueError("not an MP4 payload")

    def walk(path, s, e):
        """Descend a box path; returns (body_start, body_end) or None."""
        if not path:
            return s, e
        for typ, s2, e2 in _mp4_boxes(b, s, e):
            if typ == path[0]:
                return walk(path[1:], s2, e2)
        return None

    try:
        codecs_seen = []
        for typ, s, e in _mp4_boxes(b, 0, len(b)):
            if typ != b"moov":
                continue
            for t2, s2, e2 in _mp4_boxes(b, s, e):
                if t2 != b"trak":
                    continue
                mdia = walk([b"mdia"], s2, e2)
                if mdia is None:
                    continue
                timescale = 1000
                for t3, s3, e3 in _mp4_boxes(b, *mdia):
                    if t3 == b"mdhd" and e3 - s3 >= 16:
                        ver = b[s3]
                        at = s3 + (20 if ver == 1 else 12)
                        timescale = int.from_bytes(b[at:at + 4],
                                                   "big") or 1000
                stbl = walk([b"minf", b"stbl"], *mdia)
                if stbl is None:
                    continue
                tabs = {}
                for t3, s3, e3 in _mp4_boxes(b, *stbl):
                    tabs[t3] = (s3, e3)
                if b"stsd" not in tabs:
                    continue
                s3, e3 = tabs[b"stsd"]
                if e3 - s3 < 16:
                    continue
                codec = b[s3 + 12:s3 + 16]
                codecs_seen.append(codec)
                if codec != b"jpeg":
                    continue

                def full(tag, skip=4):
                    ts, te = tabs[tag]
                    return ts + skip, te

                # Every declared count below is UNTRUSTED input: clamp
                # to what the table's actual byte extent can hold and
                # to a sample budget, so a 200-byte bomb declaring
                # 2^32 samples raises/truncates instead of allocating
                # gigabyte lists the skip path can't catch (r6
                # review #1 — the MAX_DECODE_PIXELS posture).
                max_samples = MAX_DECODE_PIXELS // 64
                # sample sizes
                ss, se_ = full(b"stsz")
                uniform = int.from_bytes(b[ss:ss + 4], "big")
                n_samples = int.from_bytes(b[ss + 4:ss + 8], "big")
                if n_samples > max_samples:
                    raise ValueError("MP4 declares more samples than "
                                     "the decode budget allows")
                if uniform:
                    sizes = [uniform] * n_samples
                else:
                    n_samples = min(n_samples,
                                    max(0, se_ - ss - 8) // 4)
                    sizes = [int.from_bytes(
                        b[ss + 8 + 4 * i:ss + 12 + 4 * i], "big")
                        for i in range(n_samples)]
                # chunk offsets (stco 32-bit or co64)
                if b"stco" in tabs:
                    cs, ce = full(b"stco")
                    nch = min(int.from_bytes(b[cs:cs + 4], "big"),
                              max(0, ce - cs - 4) // 4)
                    chunk_off = [int.from_bytes(
                        b[cs + 4 + 4 * i:cs + 8 + 4 * i], "big")
                        for i in range(nch)]
                else:
                    cs, ce = full(b"co64")
                    nch = min(int.from_bytes(b[cs:cs + 4], "big"),
                              max(0, ce - cs - 4) // 8)
                    chunk_off = [int.from_bytes(
                        b[cs + 4 + 8 * i:cs + 12 + 8 * i], "big")
                        for i in range(nch)]
                # sample-to-chunk runs
                scs, sce = full(b"stsc")
                nrun = min(int.from_bytes(b[scs:scs + 4], "big"),
                           max(0, sce - scs - 4) // 12)
                runs = [(int.from_bytes(b[scs + 4 + 12 * i:
                                          scs + 8 + 12 * i], "big"),
                         int.from_bytes(b[scs + 8 + 12 * i:
                                          scs + 12 + 12 * i], "big"))
                        for i in range(nrun)]
                # ISO 14496-12 §8.7.4: runs start at chunk 1 with
                # strictly increasing first_chunk; a violating table
                # would silently mis-assign samples to chunks below
                # (ADVICE r6 #3) — reject it as corrupt instead
                if runs and (runs[0][0] != 1 or any(
                        runs[i][0] >= runs[i + 1][0]
                        for i in range(len(runs) - 1))):
                    raise ValueError("invalid stsc first_chunk sequence")
                # per-chunk sample counts expanded over all chunks
                per_chunk = []
                for ri, (first, spc) in enumerate(runs):
                    last = runs[ri + 1][0] - 1 if ri + 1 < nrun else nch
                    per_chunk += [min(spc, n_samples)] * \
                        max(0, min(last - first + 1, nch))
                # decode timestamps from stts
                tts, tte = full(b"stts")
                ntt = min(int.from_bytes(b[tts:tts + 4], "big"),
                          max(0, tte - tts - 4) // 8)
                deltas = []
                for i in range(ntt):
                    cnt = int.from_bytes(
                        b[tts + 4 + 8 * i:tts + 8 + 8 * i], "big")
                    dlt = int.from_bytes(
                        b[tts + 8 + 8 * i:tts + 12 + 8 * i], "big")
                    deltas += [dlt] * min(cnt,
                                          n_samples - len(deltas))
                frames, ts = [], []
                total_px = 0
                t_acc = 0
                si = 0
                for ci, coff in enumerate(chunk_off):
                    at = coff
                    for _ in range(per_chunk[ci]
                                   if ci < len(per_chunk) else 0):
                        if si >= n_samples:
                            break
                        sz = sizes[si]
                        px = _decode_jpeg(b[at:at + sz])
                        total_px += px.shape[0] * px.shape[1]
                        if total_px > MAX_DECODE_PIXELS:
                            raise ValueError(
                                "MP4 exceeds the total-pixel decode "
                                "budget")
                        frames.append(px)
                        ts.append(t_acc * 1000 // timescale)
                        t_acc += deltas[si] if si < len(deltas) else 0
                        at += sz
                        si += 1
                if frames:
                    return frames, ts
        if codecs_seen:
            raise ValueError(
                f"MP4 video codec {codecs_seen[0]!r} is not "
                "frame-decodable (MJPEG 'jpeg' tracks are; "
                "H.264/HEVC stay metadata-only)")
        raise ValueError("MP4 without a video sample table")
    except (struct.error, IndexError, KeyError) as e:
        raise ValueError(f"corrupt MP4 payload: {e}") from e


def _encode_mp4_mjpeg(frames, timescale: int = 1000,
                      frame_dur: int = 40, quality: int = 90) -> bytes:
    """Frames → minimal MJPEG-in-MP4 bytes (fixture encoder for
    :func:`_decode_mp4_frames`): ftyp + mdat (concatenated JPEGs) +
    moov with a full video sample table (stsd 'jpeg' VisualSampleEntry,
    stts/stsc/stsz/stco), two samples per chunk to exercise the
    sample-to-chunk walk."""
    import numpy as np

    frames = [np.asarray(f, dtype=np.uint8) for f in frames]
    jpgs = [_encode_jpeg(f, quality=quality) for f in frames]
    h, w = frames[0].shape[:2]
    n = len(jpgs)

    def box(typ, body):
        return struct.pack(">I", 8 + len(body)) + typ + body

    ftyp = box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
    mdat_start = len(ftyp) + 8
    mdat = box(b"mdat", b"".join(jpgs))
    # chunks of 2 samples each
    chunk_offs, at, i = [], mdat_start, 0
    while i < n:
        chunk_offs.append(at)
        at += sum(len(j) for j in jpgs[i:i + 2])
        i += 2
    mdhd = box(b"mdhd", struct.pack(">B3xIIIIHH", 0, 0, 0, timescale,
                                    n * frame_dur, 0x55C4, 0))
    hdlr = box(b"hdlr", struct.pack(">B3xI4s12x", 0, 0, b"vide")
               + b"mjpeg\x00")
    entry = (struct.pack(">I4s6xH", 86, b"jpeg", 1)
             + struct.pack(">HHI8x", 0, 0, 0)
             + struct.pack(">HHIIIH", w, h, 0x00480000, 0x00480000,
                           0, 1)
             + b"\x00" * 32 + struct.pack(">Hh", 24, -1))
    stsd = box(b"stsd", struct.pack(">B3xI", 0, 1) + entry)
    stts = box(b"stts", struct.pack(">B3xIII", 0, 1, n, frame_dur))
    stsc = box(b"stsc", struct.pack(">B3xIIII", 0, 1, 1, 2, 1))
    stsz = box(b"stsz", struct.pack(">B3xII", 0, 0, n)
               + b"".join(struct.pack(">I", len(j)) for j in jpgs))
    stco = box(b"stco", struct.pack(">B3xI", 0, len(chunk_offs))
               + b"".join(struct.pack(">I", o) for o in chunk_offs))
    stbl = box(b"stbl", stsd + stts + stsc + stsz + stco)
    minf = box(b"minf", stbl)
    mdia = box(b"mdia", mdhd + hdlr + minf)
    tkhd = box(b"tkhd", struct.pack(">B3x", 0) + b"\x00" * 72
               + struct.pack(">II", w << 16, h << 16))
    mvhd = box(b"mvhd", struct.pack(">B3xIIII", 0, 0, 0, timescale,
                                    n * frame_dur) + b"\x00" * 80)
    moov = box(b"moov", mvhd + box(b"trak", tkhd + mdia))
    return ftyp + mdat + moov


def _encode_avi_mjpeg(frames, us_per_frame: int = 40000,
                      quality: int = 90,
                      rec_groups: bool = False) -> bytes:
    """Frames → MJPEG-in-AVI bytes (fixture encoder for
    :func:`_decode_avi_frames`): standard RIFF layout — hdrl(avih +
    strl(strh'vids'/'MJPG' + strf BITMAPINFOHEADER)) + movi with one
    ``00dc`` JPEG chunk per frame; ``rec_groups`` wraps each frame
    chunk in a LIST ``rec `` grouping (the interleaved-muxer layout
    the decoder must also walk)."""
    import numpy as np

    frames = [np.asarray(f, dtype=np.uint8) for f in frames]
    h, w = frames[0].shape[:2]
    n = len(frames)

    def chunk(cid: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) & 1 else b""
        return cid + struct.pack("<I", len(body)) + body + pad

    def lst(ltype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", ltype + body)

    avih = struct.pack("<14I", us_per_frame, 0, 0, 0x10, n, 0, 1,
                       0, w, h, 0, 0, 0, 0)
    strh = (b"vidsMJPG" + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0,
                                      1, 1_000_000 // max(us_per_frame, 1),
                                      0, n, 0, 0, 0)
            + struct.pack("<4H", 0, 0, w, h))
    strf = struct.pack("<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG",
                       w * h * 3, 0, 0, 0, 0)
    hdrl = lst(b"hdrl", chunk(b"avih", avih)
               + lst(b"strl", chunk(b"strh", strh)
                     + chunk(b"strf", strf)))
    if rec_groups:
        movi_body = b"".join(
            lst(b"rec ", chunk(b"00dc", _encode_jpeg(f, quality=quality)))
            for f in frames)
    else:
        movi_body = b"".join(
            chunk(b"00dc", _encode_jpeg(f, quality=quality))
            for f in frames)
    movi = lst(b"movi", movi_body)
    riff_body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def decode_pixels(b: bytes):
    """Dispatch real pixel decode by :func:`_sniff_format` → (h, w, c)
    uint8.

    BMP (full DIB matrix: 24/32-bit, 16-bit 555/bitfields, 1/4/8-bit
    palette, RLE8 and RLE4) / PPM / PGM / PNG (all 5 filters, Adam7,
    8/16-bit) / GIF (LZW + palette, interlace) / baseline AND
    progressive JPEG (Huffman + IDCT + YCbCr, 4:2:0, T.81 §G
    multi-scan) / TIFF (none/LZW/PackBits/Deflate) / ICO and CUR
    (largest entry, DIB or PNG-in-ICO) / WBMP / lossless WebP (full
    VP8L: all four transforms, meta-Huffman, LZ77 + color cache —
    libwebp-parity-tested) decode for real — stdlib struct + zlib +
    numpy. Hierarchical/arithmetic JPEG raises
    ``NotImplementedError``; unknown payloads raise ``ValueError``.
    """
    fmt = _sniff_format(b)
    if fmt == "webp":
        from meza_spark.llm.webp import decode_webp
        return decode_webp(b)            # VP8L real; lossy VP8 gated
    decoder = {"bmp": _decode_bmp, "netpbm": _decode_netpbm,
               "png": _decode_png, "gif": _decode_gif,
               "jpeg": _decode_jpeg, "tiff": _decode_tiff,
               "ico": _decode_ico}.get(fmt)
    if decoder is not None:
        return decoder(b)
    if b[:2] == b"\x00\x00":
        # WBMP type 0 has no magic beyond the two zero bytes; checked
        # LAST so every real signature wins, and bad dims still raise
        return _decode_wbmp(b)
    raise ValueError("unknown image container")


_G711_TABLES = None


def _g711_tables():
    """256-entry µ-law / A-law → 16-bit linear decode tables per the
    public ITU-T G.711 reference arithmetic (the CCITT expansion
    formulas: biased mantissa-shift for µ-law, segment unfold for
    A-law)."""
    global _G711_TABLES
    if _G711_TABLES is None:
        import numpy as np

        ulaw = np.empty(256, np.int16)
        for byte in range(256):
            u = ~byte & 0xFF
            t = (((u & 0x0F) << 3) + 0x84) << ((u & 0x70) >> 4)
            ulaw[byte] = (0x84 - t) if (u & 0x80) else (t - 0x84)
        alaw = np.empty(256, np.int16)
        for byte in range(256):
            a = byte ^ 0x55
            t = (a & 0x0F) << 4
            seg = (a & 0x70) >> 4
            if seg == 0:
                t += 8
            elif seg == 1:
                t += 0x108
            else:
                t = (t + 0x108) << (seg - 1)
            alaw[byte] = t if (a & 0x80) else -t
        _G711_TABLES = {"ulaw": ulaw, "alaw": alaw}
    return _G711_TABLES


_IMA_STEPS = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34,
    37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
    157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494,
    544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552,
    1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428,
    4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487,
    12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623, 27086,
    29794, 32767]
_IMA_INDEX = [-1, -1, -1, -1, 2, 4, 6, 8]


def _ima_step(nib: int, pred: int, index: int):
    """One IMA nibble expansion (shared by the WAV 0x11 walk, the
    QuickTime ima4 walk, and the ima4 fixture encoder's mirrored
    state): step-scaled delta accumulation, int16 clamp, index-table
    update. A single definition keeps the encoder/decoder mirror
    contract un-forkable."""
    step = _IMA_STEPS[index]
    diff = step >> 3
    if nib & 1:
        diff += step >> 2
    if nib & 2:
        diff += step >> 1
    if nib & 4:
        diff += step
    pred = pred - diff if nib & 8 else pred + diff
    pred = min(32767, max(-32768, pred))
    return pred, min(88, max(0, index + _IMA_INDEX[nib & 7]))


def _ima_adpcm_decode(data: bytes, block_align: int, channels: int = 1):
    """IMA/DVI ADPCM (WAV format 0x11) → interleaved int16 samples —
    the public IMA reference algorithm: per block, a 4-byte header
    per channel (int16 predictor + step index, emitted as that
    channel's first sample), then 4-bit codes low-nibble first;
    step-scaled delta accumulation with predictor clamp and
    index-table walk. Multi-channel blocks interleave the code
    stream in 4-byte (8-nibble) sub-blocks per channel, per the
    Microsoft WAVE layout."""
    import numpy as np

    if len(data) > 4_000_000:
        # ~8M samples of pure-Python nibble loop; cap like the image
        # decoders' MAX_DECODE_PIXELS bound so one blob can't stall a
        # task
        raise ValueError("IMA ADPCM payload exceeds decode cap")
    if channels < 1:
        raise ValueError("bad channel count for IMA ADPCM")

    def walk(nibbles, pred, index, sink):
        for nib in nibbles:
            pred, index = _ima_step(nib, pred, index)
            sink.append(pred)
        return pred, index

    chans = [[] for _ in range(channels)]
    for bstart in range(0, len(data), block_align):
        block = data[bstart:bstart + block_align]
        if len(block) < 4 * channels:
            break
        state = []
        for ch in range(channels):
            pred = int.from_bytes(block[4 * ch:4 * ch + 2],
                                  "little", signed=True)
            index = min(88, max(0, block[4 * ch + 2]))
            chans[ch].append(pred)
            state.append((pred, index))
        body = block[4 * channels:]
        if channels == 1:
            # byte-wise (any body length), matching the historical
            # mono behavior for fixtures with non-4-multiple bodies
            nibs = [n for byte in body for n in (byte & 0x0F, byte >> 4)]
            state[0] = walk(nibs, *state[0], chans[0])
        else:
            group = 4 * channels
            for g in range(0, len(body) - len(body) % group, group):
                for ch in range(channels):
                    sub = body[g + 4 * ch:g + 4 * ch + 4]
                    nibs = [n for byte in sub
                            for n in (byte & 0x0F, byte >> 4)]
                    state[ch] = walk(nibs, *state[ch], chans[ch])
    n = min(len(c) for c in chans)
    out = np.empty(n * channels, dtype=np.int16)
    for ch in range(channels):
        out[ch::channels] = chans[ch][:n]
    return out


def _pcm24(data: bytes, en: str):
    """3-byte packed signed PCM → float64 sample values (not yet
    normalized). ``en`` '<' for WAV little-endian, '>' for AIFF/.au
    big-endian."""
    import numpy as np

    usable = len(data) - len(data) % 3
    b3 = np.frombuffer(data[:usable], np.uint8).reshape(-1, 3) \
        .astype(np.int64)
    if en == "<":
        v = b3[:, 0] | (b3[:, 1] << 8) | (b3[:, 2] << 16)
    else:
        v = b3[:, 2] | (b3[:, 1] << 8) | (b3[:, 0] << 16)
    return np.where(v >= 1 << 23, v - (1 << 24), v).astype(np.float64)


# Microsoft ADPCM constants (public, from the WAVE format spec /
# Multimedia Programming Interface and Data Specifications)
_MS_ADAPT = (230, 230, 230, 230, 307, 409, 512, 614,
             768, 614, 512, 409, 307, 230, 230, 230)
_MS_COEF1 = (256, 512, 0, 192, 240, 460, 392)
_MS_COEF2 = (0, -256, 0, 64, 0, -208, -232)


def _ms_adpcm_decode(data: bytes, block_align: int, channels: int):
    """Microsoft ADPCM (WAV format code 2) → interleaved int16
    samples. Per block, per channel: coefficient index byte, int16
    initial delta, int16 sample1 (newer), int16 sample2 (older);
    then 4-bit codes, one nibble per channel alternating, high
    nibble first. The two header samples are emitted oldest-first."""
    import numpy as np

    if len(data) > 4_000_000:
        raise ValueError("MS ADPCM payload exceeds decode cap")
    head = 7 * channels
    chans = [[] for _ in range(channels)]
    for bstart in range(0, len(data), block_align):
        block = data[bstart:bstart + block_align]
        if len(block) < head:
            break
        coef1, coef2, delta, s1, s2 = [], [], [], [], []
        for ch in range(channels):
            ci = block[ch]
            if ci >= len(_MS_COEF1):
                raise ValueError(f"bad MS ADPCM coefficient index {ci}")
            coef1.append(_MS_COEF1[ci])
            coef2.append(_MS_COEF2[ci])
        off = channels
        for target in (delta, s1, s2):
            for ch in range(channels):
                target.append(int.from_bytes(
                    block[off:off + 2], "little", signed=True))
                off += 2
        for ch in range(channels):
            chans[ch].append(s2[ch])
            chans[ch].append(s1[ch])
        nib_ch = 0
        for byte in block[head:]:
            for nib in (byte >> 4, byte & 0x0F):
                ch = nib_ch % channels
                nib_ch += 1
                signed = nib - 16 if nib >= 8 else nib
                # spec semantics: the coefficient product divides by
                # 256 TRUNCATING TOWARD ZERO (FFmpeg/GDI agree); a
                # floor shift diverges whenever the product is
                # negative and the error compounds within the block
                t = s1[ch] * coef1[ch] + s2[ch] * coef2[ch]
                pred = -((-t) >> 8) if t < 0 else t >> 8
                pred += signed * delta[ch]
                pred = min(32767, max(-32768, pred))
                s2[ch], s1[ch] = s1[ch], pred
                delta[ch] = max(16, (_MS_ADAPT[nib] * delta[ch]) >> 8)
                chans[ch].append(pred)
    n = min(len(c) for c in chans)
    out = np.empty(n * channels, dtype=np.int16)
    for ch in range(channels):
        out[ch::channels] = chans[ch][:n]
    return out


def _ima4_decode(data: bytes, channels: int):
    """Apple QuickTime IMA4 (AIFF-C compression type ``'ima4'``) →
    interleaved int16 samples. Public format (QuickTime File Format
    spec; same step/index tables as the IMA reference algorithm the
    WAV 0x11 path uses): 34-byte packets of 64 samples each — a
    2-byte big-endian state preamble (top 9 bits = predictor, low
    7 bits = step index) then 32 code bytes, low nibble first —
    interleaved one packet per channel per 64-frame block. Unlike
    WAV IMA, the preamble seeds state only; it is not emitted as a
    sample."""
    import numpy as np

    if len(data) > 4_000_000:
        # same pure-Python nibble-loop cap as _ima_adpcm_decode
        raise ValueError("IMA4 payload exceeds decode cap")
    if channels < 1:
        raise ValueError("bad channel count for IMA4")
    blocks = len(data) // (34 * channels)
    if blocks == 0:
        raise ValueError("IMA4 payload shorter than one packet")
    out = np.empty((blocks * 64, channels), dtype=np.int16)
    pos = 0
    for blk in range(blocks):
        row = blk * 64
        for ch in range(channels):
            pkt = data[pos:pos + 34]
            pos += 34
            pre = int.from_bytes(pkt[:2], "big")
            pred = pre & 0xFF80
            if pred >= 0x8000:
                pred -= 0x10000
            index = min(88, pre & 0x7F)
            k = 0
            for byte in pkt[2:]:
                for nib in (byte & 0x0F, byte >> 4):
                    pred, index = _ima_step(nib, pred, index)
                    out[row + k, ch] = pred
                    k += 1
    return out.reshape(-1)


def _encode_ima4(samples, channels: int = 1) -> bytes:
    """Interleaved int16 → Apple IMA4 packets (fixture encoder for
    :func:`_ima4_decode`'s gates): per channel per 64-frame block,
    write the running decoder state into the preamble and quantize
    with the standard IMA nibble search; frames are zero-padded to a
    64-multiple as real QuickTime muxers do."""
    import numpy as np

    s = np.asarray(samples, dtype=np.int64).reshape(-1, channels)
    nframes = s.shape[0]
    pad = (-nframes) % 64
    if pad:
        s = np.vstack([s, np.zeros((pad, channels), dtype=np.int64)])
    out = bytearray()
    pred = [0] * channels
    index = [0] * channels
    for blk in range(s.shape[0] // 64):
        for ch in range(channels):
            out += struct.pack(
                ">H", (pred[ch] & 0xFF80) | index[ch])
            # re-sync to the 9-bit preamble precision the decoder
            # will seed from, so both sides track identically and
            # the only error left is nibble quantization
            m = pred[ch] & 0xFF80
            p = m - 0x10000 if m >= 0x8000 else m
            ix = index[ch]
            nibs = []
            for v in s[blk * 64:(blk + 1) * 64, ch]:
                step = _IMA_STEPS[ix]
                diff = int(v) - p
                nib = 0
                if diff < 0:
                    nib = 8
                    diff = -diff
                if diff >= step:
                    nib |= 4
                    diff -= step
                if diff >= step >> 1:
                    nib |= 2
                    diff -= step >> 1
                if diff >= step >> 2:
                    nib |= 1
                # decoder-mirrored state update keeps the packet
                # preambles equal to what the decoder will carry
                p, ix = _ima_step(nib, p, ix)
                nibs.append(nib)
            pred[ch], index[ch] = p, ix
            for lo, hi in zip(nibs[::2], nibs[1::2]):
                out.append(lo | (hi << 4))
    return bytes(out)


def _decode_wav(b: bytes) -> dict:
    """WAV sample statistics — real RIFF chunk walk + numpy over the
    sample words: mean / RMS / peak (normalized to [-1, 1]), sample
    count, duration. Formats: linear PCM 8/16/24/32-bit (24-bit =
    3-byte packed studio audio), IEEE float32 (code 3), Microsoft
    ADPCM (code 2, per-channel coefficient headers + alternating
    nibbles), ITU-T G.711 A-law (6) / µ-law (7) via the real
    expansion tables — telephony WAVs previously would have
    misdecoded as linear — and mono or multi-channel IMA/DVI ADPCM
    (0x11) via the reference step-table walk with the Microsoft
    4-byte-sub-block channel interleave."""
    import numpy as np

    if not (b[:4] == b"RIFF" and b[8:12] == b"WAVE"):
        raise ValueError("not a WAV payload")
    pos, fmt, bits, channels, rate, data = 12, None, None, None, None, None
    block_align = None
    fact_frames = 0
    while pos + 8 <= len(b):
        cid = b[pos:pos + 4]
        sz = struct.unpack("<I", b[pos + 4:pos + 8])[0]
        if cid == b"fmt " and pos + 24 <= len(b):
            fmt = struct.unpack("<H", b[pos + 8:pos + 10])[0]
            channels = struct.unpack("<H", b[pos + 10:pos + 12])[0]
            rate = struct.unpack("<I", b[pos + 12:pos + 16])[0]
            block_align = struct.unpack("<H", b[pos + 20:pos + 22])[0]
            bits = struct.unpack("<H", b[pos + 22:pos + 24])[0]
        elif cid == b"fact" and sz >= 4 and pos + 12 <= len(b):
            # dwSampleLength: frames per channel — authoritative for
            # compressed formats whose final block is zero-padded
            fact_frames = struct.unpack("<I", b[pos + 8:pos + 12])[0]
        elif cid == b"data":
            if sz > MAX_AUDIO_BYTES:
                # chunk-declared size is untrusted input: gate before
                # slicing so the 8x float64 sample expansion below can
                # never materialize gigabytes from one hostile blob
                raise ValueError(
                    f"WAV data chunk {sz} bytes exceeds the "
                    f"{MAX_AUDIO_BYTES}-byte decode budget")
            data = b[pos + 8:pos + 8 + sz]
        pos += 8 + sz + (sz & 1)
    if data is None or not rate:
        raise ValueError("unsupported WAV (needs fmt + data chunks)")
    if fmt in (6, 7):                       # G.711 A-law / µ-law
        tab = _g711_tables()["alaw" if fmt == 6 else "ulaw"]
        s = tab[np.frombuffer(data, dtype=np.uint8)] \
            .astype(np.float64) / 32768.0
    elif fmt == 1 and bits == 16:
        s = np.frombuffer(data[:len(data) & ~1], dtype="<i2").astype(
            np.float64) / 32768.0
    elif fmt == 1 and bits == 8:
        s = (np.frombuffer(data, dtype=np.uint8).astype(np.float64)
             - 128.0) / 128.0
    elif fmt == 1 and bits == 24:           # studio PCM, 3-byte LE
        s = _pcm24(data, "<") / 8388608.0
    elif fmt == 1 and bits == 32:           # 32-bit int PCM
        s = np.frombuffer(data[:len(data) & ~3], dtype="<i4") \
            .astype(np.float64) / 2147483648.0
    elif fmt == 2:                          # Microsoft ADPCM
        if not block_align or block_align < 7 * channels \
                or channels < 1:
            raise ValueError("MS ADPCM needs a sane block align")
        raw = _ms_adpcm_decode(data, block_align, channels)
        if fact_frames and fact_frames * channels < raw.size:
            # the final block zero-pads to block_align; the fact
            # chunk says how many frames are real
            raw = raw[:fact_frames * channels]
        s = raw.astype(np.float64) / 32768.0
    elif fmt == 3 and bits == 32:           # IEEE float WAV
        s = np.frombuffer(data[:len(data) & ~3], dtype="<f4") \
            .astype(np.float64)
    elif fmt == 0x11 and bits == 4:         # IMA/DVI ADPCM
        if not block_align or block_align < 4 * channels:
            raise ValueError("IMA ADPCM needs a sane block align")
        raw = _ima_adpcm_decode(data, block_align, channels)
        if fact_frames and fact_frames * channels < raw.size:
            raw = raw[:fact_frames * channels]
        s = raw.astype(np.float64) / 32768.0
    else:
        raise ValueError("unsupported WAV (PCM 8/16/24/32-bit, IEEE "
                         "float, G.711 A-law/µ-law, IMA ADPCM, or "
                         "Microsoft ADPCM)")
    return _audio_stats(s, rate, channels)


def _audio_stats(s, rate: int, channels: int) -> dict:
    """Shared stats tail for every audio decoder: mean / RMS / peak
    over normalized samples + duration bookkeeping."""
    import numpy as np

    n = int(s.size // channels) if channels else 0
    return {
        "sample_rate": int(rate), "channels": int(channels),
        "n_samples": n,
        "duration_ms": int(n * 1000 // rate) if rate else 0,
        "mean": float(s.mean()) if s.size else 0.0,
        "rms": float(np.sqrt((s * s).mean())) if s.size else 0.0,
        "peak": float(np.abs(s).max()) if s.size else 0.0,
    }


def _parse_f80(b: bytes) -> int:
    """80-bit IEEE 754 extended float → int (AIFF sample rates are
    small integers; sign(1) exp(15) explicit-integer-bit mantissa(64))."""
    if len(b) < 10:
        raise ValueError("truncated 80-bit float")
    sign = -1 if b[0] & 0x80 else 1
    exp = ((b[0] & 0x7F) << 8) | b[1]
    mant = int.from_bytes(b[2:10], "big")
    if exp == 0 and mant == 0:
        return 0
    if not 16383 - 40 <= exp <= 16383 + 40:
        # sane sample rates are a few-digit integers; an extreme
        # exponent would overflow the 2.0** below into OverflowError,
        # which the skip paths can't catch (r6 review #2)
        raise ValueError("implausible 80-bit float exponent")
    val = sign * mant * 2.0 ** (exp - 16383 - 63)
    rate = int(round(val))
    if rate <= 0:
        # a corrupt COMM with the sign bit set would otherwise flow a
        # negative sample rate into duration math (ADVICE r6 #2)
        raise ValueError("non-positive 80-bit sample rate")
    return rate


def _decode_aiff(b: bytes) -> dict:
    """AIFF / AIFF-C sample statistics — the big-endian IFF sibling of
    the WAV walk: FORM/AIFF(-C) container, COMM chunk (channels,
    frame count, bit depth, 80-bit extended-float sample rate,
    AIFF-C compression fourcc), SSND chunk (offset+blocksize header
    then big-endian PCM). PCM 8/16-bit, the AIFF-C pass-throughs
    ('NONE'/'sowt' little-endian 16-bit), Apple QuickTime 'ima4'
    ADPCM (:func:`_ima4_decode`), G.711 'ulaw'/'ALAW' (the shared,
    JDK-cross-validated expansion tables) and IEEE 'fl32'/'fl64'
    floats decode; other compressed AIFF-C (GSM, MACE…) raises
    ValueError (skippable)."""
    import numpy as np

    if b[:4] != b"FORM" or b[8:12] not in (b"AIFF", b"AIFC"):
        raise ValueError("not an AIFF payload")
    aifc = b[8:12] == b"AIFC"
    pos = 12
    channels = bits = rate = None
    nframes = 0
    comp = b"NONE"
    data = None
    while pos + 8 <= len(b):
        cid = b[pos:pos + 4]
        sz = struct.unpack(">I", b[pos + 4:pos + 8])[0]
        body = b[pos + 8:pos + 8 + sz]
        if cid == b"COMM" and len(body) >= 18:
            channels, nframes, bits = struct.unpack(">HIH", body[:8])
            rate = _parse_f80(body[8:18])
            if aifc and len(body) >= 22:
                comp = body[18:22]
        elif cid == b"SSND" and len(body) >= 8:
            if sz > MAX_AUDIO_BYTES:
                raise ValueError(
                    f"AIFF SSND chunk {sz} bytes exceeds the "
                    f"{MAX_AUDIO_BYTES}-byte decode budget")
            off, _blk = struct.unpack(">II", body[:8])
            data = body[8 + off:]
        pos += 8 + sz + (sz & 1)          # chunks are word-aligned
    if data is None or not rate or not channels:
        raise ValueError("unsupported AIFF (needs COMM + SSND chunks)")
    known = (b"NONE", b"sowt", b"ima4", b"ulaw", b"ULAW", b"alaw",
             b"ALAW", b"fl32", b"FL32", b"fl64", b"FL64")
    if comp not in known:
        raise ValueError(f"unsupported AIFF-C compression "
                         f"{comp!r} (PCM, ima4, G.711, or float)")
    if comp == b"ima4":
        raw = _ima4_decode(data, channels)
        if nframes and nframes * channels < raw.size:
            # packets pad up to 64-frame blocks; COMM numSampleFrames
            # says how many are real (QuickTime/CoreAudio trim too)
            raw = raw[:nframes * channels]
        s = raw.astype(np.float64) / 32768.0
        return _audio_stats(s, rate, channels)
    if comp in (b"ulaw", b"ULAW", b"alaw", b"ALAW"):
        # SGI writes lowercase, Apple uppercase; same G.711 bytes
        tab = _g711_tables()["ulaw" if comp.lower() == b"ulaw"
                             else "alaw"]
        s = tab[np.frombuffer(data, dtype=np.uint8)] \
            .astype(np.float64) / 32768.0
        return _audio_stats(s, rate, channels)
    if comp in (b"fl32", b"FL32"):
        s = np.frombuffer(data[:len(data) & ~3], dtype=">f4") \
            .astype(np.float64)
        return _audio_stats(s, rate, channels)
    if comp in (b"fl64", b"FL64"):
        s = np.frombuffer(data[:len(data) & ~7], dtype=">f8") \
            .astype(np.float64)
        return _audio_stats(s, rate, channels)
    if bits == 16:
        dt = "<i2" if comp == b"sowt" else ">i2"
        s = np.frombuffer(data[:len(data) & ~1], dtype=dt) \
            .astype(np.float64) / 32768.0
    elif bits == 8:                        # AIFF 8-bit PCM is SIGNED
        s = np.frombuffer(data, dtype=np.int8) \
            .astype(np.float64) / 128.0
    elif bits == 24 and comp == b"NONE":   # studio PCM, 3-byte BE
        s = _pcm24(data, ">") / 8388608.0
    elif bits == 32 and comp == b"NONE":   # 32-bit int PCM BE
        s = np.frombuffer(data[:len(data) & ~3], dtype=">i4") \
            .astype(np.float64) / 2147483648.0
    else:
        raise ValueError("unsupported AIFF bit depth "
                         "(8/16/24/32 PCM)")
    return _audio_stats(s, rate, channels)


def _decode_au(b: bytes) -> dict:
    """Sun/NeXT .au (.snd) sample statistics — the 24-byte big-endian
    header (magic, data offset, size, encoding, rate, channels) then
    samples: encoding 1 = G.711 µ-law and 27 = A-law (the same ITU-T
    expansion tables the WAV path uses), 2/3 = 8/16-bit linear PCM
    (big-endian), 6/7 = IEEE float32/float64 (big-endian)."""
    import numpy as np

    if b[:4] != b".snd":
        raise ValueError("not a Sun .au payload")
    if len(b) < 24:
        raise ValueError("truncated .au header")
    off, size, enc, rate, channels = struct.unpack(">IIIII", b[4:24])
    if off < 24 or off > len(b):
        raise ValueError("bad .au data offset")
    end = len(b) if size in (0, 0xFFFFFFFF) else min(len(b), off + size)
    if end - off > MAX_AUDIO_BYTES:
        raise ValueError(f".au data exceeds the {MAX_AUDIO_BYTES}-byte "
                         "decode budget")
    data = b[off:end]
    if enc in (1, 27):                     # µ-law / A-law
        tab = _g711_tables()["ulaw" if enc == 1 else "alaw"]
        s = tab[np.frombuffer(data, dtype=np.uint8)] \
            .astype(np.float64) / 32768.0
    elif enc == 2:                         # 8-bit linear (signed)
        s = np.frombuffer(data, dtype=np.int8) \
            .astype(np.float64) / 128.0
    elif enc == 3:                         # 16-bit linear big-endian
        s = np.frombuffer(data[:len(data) & ~1], dtype=">i2") \
            .astype(np.float64) / 32768.0
    elif enc == 4:                         # 24-bit linear big-endian
        s = _pcm24(data, ">") / 8388608.0
    elif enc == 5:                         # 32-bit linear big-endian
        s = np.frombuffer(data[:len(data) & ~3], dtype=">i4") \
            .astype(np.float64) / 2147483648.0
    elif enc == 6:                         # IEEE float32 big-endian
        s = np.frombuffer(data[:len(data) & ~3], dtype=">f4") \
            .astype(np.float64)
    elif enc == 7:                         # IEEE float64 big-endian
        s = np.frombuffer(data[:len(data) & ~7], dtype=">f8") \
            .astype(np.float64)
    else:
        raise ValueError(f"unsupported .au encoding {enc}")
    if not rate or not channels:
        raise ValueError("bad .au rate/channels")
    return _audio_stats(s, rate, channels)


def _decode_audio_bytes(b: bytes) -> dict:
    """Dispatch audio stat decode by :func:`_sniff_format`: RIFF/WAVE,
    FORM/AIFF(-C), Sun .au, FLAC."""
    fmt = _sniff_format(b)
    if fmt == "flac":
        from meza_spark.llm.flac import decode_flac
        return decode_flac(b)        # full decode, CRC+MD5 verified
    decoder = {"wav": _decode_wav, "aiff": _decode_aiff,
               "au": _decode_au}.get(fmt)
    if decoder is not None:
        return decoder(b)
    if fmt in ("mp3", "ogg"):
        raise NotImplementedError(
            f"{fmt} carries perceptual codecs outside the "
            "pure-stdlib charter (headers/duration parse via "
            "parse_media_headers); route to a decoder= plugin")
    raise ValueError("unknown audio container (WAV/AIFF/.au/FLAC)")


def _decode_image_stub(payload: bytes) -> dict:
    """Deterministic fake decode. A real deployment replaces this with
    Pillow/libvips; the surrounding Spark plumbing is identical.

    Produces stable pseudo-pixel statistics derived from the payload
    bytes so tests can assert exact values.
    """
    if payload is None:
        raise NotImplementedError("real image decode requires Pillow; "
                                  "null payload has nothing to fake")
    h = hashlib.sha256(payload).digest()
    width = 16 + h[0] % 64
    height = 16 + h[1] % 64
    mean_px = sum(payload[:256]) / max(1, min(len(payload), 256))
    return {"width": width, "height": height, "mean_pixel": mean_px,
            "crc": zlib.crc32(payload)}


# What a decoder raises for a payload it cannot decode: the one catch
# of the ``unsupported=`` policy (MemoryError and decoder bugs still
# fail the job)
_UNDECODABLE = (NotImplementedError, ValueError)


def _unsupported_rows(unsupported: str, decode, stub=None):
    """The ``payload_rows`` fn of an ``unsupported=`` operator.
    ``decode(b)`` returns one payload's rows; when it raises
    ``_UNDECODABLE``, ``'error'`` re-raises (the job fails), ``'skip'``
    gives no row and ``'stub'`` — offered only with a ``stub`` — gives
    ``stub(b)``'s rows. Any other ``unsupported`` raises ``ValueError``
    here, while the frame is built."""
    modes = ("error", "skip", "stub") if stub else ("error", "skip")
    if unsupported not in modes:
        raise ValueError(f"unsupported={unsupported!r}: expected one of "
                         f"{', '.join(modes)}")

    def rows(_key, b):
        try:
            return decode(b)
        except _UNDECODABLE:
            if unsupported == "error":
                raise
            return stub(b) if unsupported == "stub" else []

    return rows


def decode_image(df: DataFrame, payload_col: str = "payload",
                 id_col: str = "media_id",
                 unsupported: str = "error") -> DataFrame:
    """Decode images → per-image pixel stats, row-local
    (:func:`meza_spark.util.payload_rows`).

    REAL decode for BMP/PPM/PGM/PNG/GIF/TIFF and baseline+progressive
    JPEG (see :func:`decode_pixels`): width/height/channels from the
    actual pixel array, ``mean_pixel`` the true mean over every sample
    byte, ``crc`` of the payload. Undecodable payloads follow
    ``unsupported``: ``'error'`` (default — honest gate), ``'skip'``
    (drop the row; a curation pipeline's usual choice), or ``'stub'``
    (deterministic fake stats — plumbing tests only).
    """
    def decode(b):
        px = decode_pixels(b)
        return [(int(px.shape[1]), int(px.shape[0]), int(px.shape[2]),
                 float(px.mean()), zlib.crc32(b))]

    def stub(b):
        d = _decode_image_stub(b)
        return [(d["width"], d["height"], None, d["mean_pixel"], d["crc"])]

    return payload_rows(df, _unsupported_rows(unsupported, decode, stub),
                        "width int, height int, channels int, "
                        "mean_pixel double, crc bigint", payload_col, id_col)


def decode_audio(df: DataFrame, payload_col: str = "payload",
                 id_col: str = "media_id",
                 unsupported: str = "error") -> DataFrame:
    """Audio decode → per-clip sample statistics (REAL: container
    walk + numpy over the sample words). Containers: RIFF/WAV (PCM
    8/16/24/32-bit, IEEE float, G.711, IMA + Microsoft ADPCM —
    :func:`_decode_wav`),
    AIFF/AIFF-C (big-endian PCM incl. 'sowt' and QuickTime 'ima4'
    ADPCM — :func:`_decode_aiff`), Sun .au (µ/A-law via the shared
    G.711 tables, linear PCM, float — :func:`_decode_au`), and FLAC
    (all subframe types, Rice residuals, stereo decorrelation,
    CRC-8/CRC-16/MD5 verified — :func:`meza_spark.llm.flac
    .decode_flac`). MP3 and Ogg stay an honest ``NotImplementedError``
    (perceptual codecs — headers/duration via parse_media_headers).
    Unknown or still-compressed audio follows ``unsupported``
    ('error' | 'skip')."""
    def decode(b):
        d = _decode_audio_bytes(b)
        return [(d["sample_rate"], d["channels"], d["n_samples"],
                 d["duration_ms"], d["mean"], d["rms"], d["peak"])]

    return payload_rows(df, _unsupported_rows(unsupported, decode),
                        "sample_rate int, channels int, n_samples bigint, "
                        "duration_ms bigint, mean_amp double, rms double, "
                        "peak double", payload_col, id_col)


def _video_frames_bytes(b: bytes):
    """Dispatch full-frame video decode by :func:`_sniff_format` →
    ``(frames, start_timestamps_ms)``: animated GIF, APNG (delay lists
    become cumulative start times), animated WebP (VP8L frames), MJPEG
    AVI, MJPEG MP4 (any ISO-BMFF brand)."""
    fmt = _sniff_format(b)
    if fmt == "gif":
        frames, delays = _decode_gif_frames(b)
    elif fmt == "png":
        frames, delays = _decode_apng_frames(b)
    elif fmt == "avi":
        return _decode_avi_frames(b)
    elif fmt == "webp":
        from meza_spark.llm.webp import decode_webp_frames
        return decode_webp_frames(b)
    elif fmt in _ISOBMFF:
        return _decode_mp4_frames(b)
    else:
        raise ValueError("not a frame-decodable video container "
                         "(animated GIF / APNG / animated WebP / "
                         "MJPEG AVI / MJPEG MP4)")
    ts, t = [], 0
    for d in delays:
        ts.append(t)
        t += d
    return frames, ts


def _frames_with_decoder(b: bytes, decoder):
    """Stdlib container walk first; ``decoder`` — the external-codec
    plugin point (e.g. a PyAV/ffmpeg wrapper on a cluster that has
    one) — only for payloads the stdlib tier gates on (H.264/HEVC
    tracks, unknown containers). The external output passes the SAME
    per-payload pixel budget and shape checks as the built-in codecs,
    so a hostile payload can't route around the budgets via the hook.

    ``decoder(payload: bytes) -> (frames, ts_ms)`` with ``frames`` an
    iterable of HxWxC uint8 arrays (C in 1/3/4) and ``ts_ms`` the
    per-frame start timestamps. Raise ValueError for payloads it
    can't decode (kept skippable under ``unsupported='skip'``)."""
    try:
        return _video_frames_bytes(b)
    except (NotImplementedError, ValueError):
        if decoder is None:
            raise
    import numpy as np

    frames, ts = decoder(b)
    out, total = [], 0
    for px in frames:
        px = np.asarray(px)
        if px.ndim != 3 or px.shape[2] not in (1, 3, 4):
            raise ValueError("external decoder returned a non-HxWxC "
                             "frame")
        total += px.shape[0] * px.shape[1]
        if total > MAX_DECODE_PIXELS:
            raise ValueError("external decoder output exceeds the "
                             "total-pixel decode budget")
        out.append(px)
    ts = [int(t) for t in ts]
    if len(ts) != len(out):
        raise ValueError("external decoder frame/timestamp length "
                         "mismatch")
    return out, ts


def decode_video(df: DataFrame, payload_col: str = "payload",
                 id_col: str = "media_id",
                 unsupported: str = "error", decoder=None) -> DataFrame:
    """REAL per-frame video decode, row-local
    (:func:`meza_spark.util.payload_rows`):
    one output row per frame with true pixel statistics. Containers:
    animated GIF (full GCE walk — transparency, delays, disposal
    methods 0-3), APNG (acTL/fcTL/fdAT walk — blend source/over,
    dispose none/background/previous, RGBA canvas), MJPEG-in-AVI
    (RIFF walk incl. LIST 'rec ' groupings) and MJPEG-in-MP4 (stbl
    sample-table walk; ``ts_ms`` from stts/mdhd) — every frame
    through the real JPEG codec; for GIF/APNG ``ts_ms`` is the
    frame's cumulative start time, for AVI it comes from the avih
    frame duration. Other containers follow ``unsupported``
    ('error' | 'skip'). Row-local, zero shuffle — the 100-TB shape.

    ``decoder``: optional external-codec fallback for containers the
    stdlib tier gates on (H.264/HEVC) — see
    :func:`_frames_with_decoder` for the contract; budgets and the
    row-per-frame shape are enforced on its output too. Without it,
    compressed video keeps the honest ValueError gate."""
    def decode(b):
        frames, ts = _frames_with_decoder(b, decoder)
        return [(i, int(t), int(px.shape[1]), int(px.shape[0]),
                 float(px.mean()))
                for i, (px, t) in enumerate(zip(frames, ts))]

    return payload_rows(df, _unsupported_rows(unsupported, decode),
                        "frame_idx int, ts_ms bigint, width int, "
                        "height int, mean_pixel double", payload_col, id_col)


def image_features(df: DataFrame, payload_col: str = "payload",
                   id_col: str = "media_id", resize_to: int = 32) -> DataFrame:
    """Fixed-width float vector per image — the shape a CLIP-style
    embedder would produce. REAL for decodable formats: grayscale
    (channel mean) → nearest-neighbor sample onto a ``resize_to``-long
    grid → [0, 1]. Undecodable payloads fall back to the deterministic
    sha256-chain stub (plumbing shape preserved either way)."""
    import numpy as np

    dim = resize_to

    def rows(_key, b):
        try:
            px = decode_pixels(b)
            gray = px.mean(axis=2).ravel()
            idx = (np.arange(dim) * gray.size) // dim
            vec = (gray[idx] / 255.0).astype(float).tolist()
        except _UNDECODABLE:
            buf, h = b"", b
            while len(buf) < dim:
                h = hashlib.sha256(h).digest()
                buf += h
            vec = [c / 255.0 for c in buf[:dim]]
        return [(vec,)]

    return payload_rows(df, rows, "features array<float>", payload_col,
                        id_col)


def frame_sample(df: DataFrame, payload_col: str = "payload",
                 id_col: str = "media_id", every_ms: int = 1000,
                 decoder=None) -> DataFrame:
    """Video frame sampling: one output row per ``every_ms`` tick.
    ``decoder`` is the same external-codec plugin point as
    :func:`decode_video` (budget-enforced fallback for H.264/HEVC).

    REAL for the frame-decodable containers (animated GIF, APNG,
    MJPEG AVI/MP4 — :func:`_video_frames_bytes`): each tick emits the
    frame on screen at that instant, re-encoded as a 24-bit BMP
    payload (RGBA canvases drop alpha), with ``frame_idx`` the source
    frame's index and ``ts_ms`` the tick. Undecodable payloads keep
    the legacy deterministic sha256 stub (5 fake frames, each seeded
    by the payload and its ``id_col``) so the plumbing shape is
    exercised even where no codec applies."""
    def rows(mid, b):
        try:
            frames, ts = _frames_with_decoder(b, decoder)
        except _UNDECODABLE:
            # stub: pretend 5 frames, sample every `every_ms`
            return [(i, t, hashlib.sha256(
                        b + struct.pack("<qi", mid, i)).digest())
                    for i, t in enumerate(range(0, 5000, every_ms))]
        out = []
        last = ts[-1] if ts else 0
        fi = 0
        enc_fi, enc = -1, None      # encode each frame ONCE
        for t in range(0, last + 1, every_ms):
            while fi + 1 < len(ts) and ts[fi + 1] <= t:
                fi += 1
            if fi != enc_fi:
                px = frames[fi][:, :, :3]  # RGBA→RGB for BMP
                if px.shape[2] == 1:
                    import numpy as np
                    px = np.repeat(px, 3, axis=2)
                enc_fi, enc = fi, _encode_bmp(px)
            out.append((fi, t, enc))
        return out

    return payload_rows(df, rows, "frame_idx int, ts_ms bigint, "
                        "frame binary", payload_col, id_col)


def resize_image(df: DataFrame, width: int, height: int,
                 payload_col: str = "payload",
                 id_col: str = "media_id") -> DataFrame:
    """Resize: payload → resized payload + dims, row-local
    (:func:`meza_spark.util.payload_rows`: Arrow batches,
    executor-local, no shuffle).

    REAL nearest-neighbor resample for decodable formats (BMP/PPM/PGM
    → decode, index-sample the pixel grid, re-encode as 24-bit BMP);
    undecodable payloads get the deterministic sha256-chain stub
    payload so the batch shape/schema plumbing still exercises
    end-to-end (swap in a Pillow branch on a real cluster).
    """
    import numpy as np

    nominal = max(16, (width * height) // 64)

    def _fake_resize(b: bytes) -> bytes:
        buf, h = b"", b + struct.pack("<ii", width, height)
        while len(buf) < nominal:
            h = hashlib.sha256(h).digest()
            buf += h
        return buf[:nominal]

    def _resize(b: bytes) -> bytes:
        try:
            px = decode_pixels(b)
        except _UNDECODABLE:
            return _fake_resize(b)
        ys = (np.arange(height) * px.shape[0]) // height
        xs = (np.arange(width) * px.shape[1]) // width
        small = px[ys][:, xs]
        if small.shape[2] == 1:  # gray -> RGB for the BMP container
            small = np.repeat(small, 3, axis=2)
        elif small.shape[2] == 2:  # gray+alpha PNG (color type 4):
            small = np.repeat(small[:, :, :1], 3, axis=2)
        elif small.shape[2] == 4:  # RGBA (PNG/WebP) -> drop alpha:
            small = small[:, :, :3]  # the 24-bit BMP container can't
            #                          carry it (was a reshape crash)
        return _encode_bmp(small)

    return payload_rows(df, lambda _key, b: [(_resize(b), width, height)],
                        "payload binary, width int, height int",
                        payload_col, id_col)


# MPEG audio frame-header tables (ISO/IEC 11172-3 / 13818-3): bitrate
# kbps by (version-group, layer) and sample rate by version bits
_MP3_BITRATES = {
    (1, 1): (0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352,
             384, 416, 448),
    (1, 2): (0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256,
             320, 384),
    (1, 3): (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224,
             256, 320),
    (2, 1): (0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192,
             224, 256),
    (2, 2): (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144,
             160),
    (2, 3): (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144,
             160),
}
_MP3_RATES = {3: (44100, 48000, 32000), 2: (22050, 24000, 16000),
              0: (11025, 12000, 8000)}


def _mp3_frame(b: bytes, pos: int):
    """Validate + measure one MPEG audio frame header at ``pos`` →
    (frame_bytes, samples_per_frame, sample_rate, channels) or None."""
    if pos + 4 > len(b) or b[pos] != 0xFF or (b[pos + 1] & 0xE0) != 0xE0:
        return None
    ver = (b[pos + 1] >> 3) & 3          # 3=MPEG1 2=MPEG2 0=MPEG2.5
    layer = (b[pos + 1] >> 1) & 3        # 3=I 2=II 1=III
    br_idx = (b[pos + 2] >> 4) & 15
    sr_idx = (b[pos + 2] >> 2) & 3
    pad = (b[pos + 2] >> 1) & 1
    if ver == 1 or layer == 0 or br_idx in (0, 15) or sr_idx == 3:
        return None                      # reserved fields / free form
    vgroup = 1 if ver == 3 else 2
    lnum = 4 - layer                     # bits→layer number
    bitrate = _MP3_BITRATES[(vgroup, lnum)][br_idx] * 1000
    rate = _MP3_RATES[ver][sr_idx]
    channels = 1 if ((b[pos + 3] >> 6) & 3) == 3 else 2
    if lnum == 1:
        samples = 384
        frame = (12 * bitrate // rate + pad) * 4
    else:
        samples = 576 if (lnum == 3 and ver != 3) else 1152
        frame = samples // 8 * bitrate // rate + pad
    if frame <= 4:
        return None
    return frame, samples, rate, channels


def _mp3_headers(b: bytes, out: dict) -> None:
    """MP3 metadata without decode: skip an ID3v2 tag (syncsafe
    length), resync to the first valid frame within a 4 KiB window,
    then WALK every frame — exact duration for CBR and VBR alike
    (no Xing-header trust needed); stops at trailing ID3v1/APE tags."""
    pos = 0
    if b[:3] == b"ID3" and len(b) >= 10:
        pos = 10 + ((b[6] << 21) | (b[7] << 14) | (b[8] << 7) | b[9])
    start = pos
    while pos < min(len(b), start + 4096):
        if _mp3_frame(b, pos):
            break
        pos += 1
    total = 0
    frames = 0
    while True:
        f = _mp3_frame(b, pos)
        if f is None:
            break
        frame, samples, rate, channels = f
        if frames == 0:
            out["sample_rate"], out["channels"] = rate, channels
            # a LAME/Fraunhofer VBR header frame is spec-valid but
            # carries no audio — counting it overstates every VBR
            # duration by one frame (review find, r8).  The Xing/Info
            # tag sits at a spec-defined offset: 4-byte header +
            # 2-byte CRC when the protection bit is 0 + the Layer III
            # side info (MPEG1: 17 mono / 32 stereo; MPEG2/2.5:
            # 9 / 17); VBRI is always exactly 32 bytes after the
            # header.  Checking only those offsets (advice fix, r9)
            # keeps a CBR frame whose compressed audio coincidentally
            # contains the ASCII bytes 'Info' from losing a frame.
            mpeg1 = ((b[pos + 1] >> 3) & 3) == 3
            crc = 0 if (b[pos + 1] & 1) else 2
            side = (17 if channels == 1 else 32) if mpeg1 \
                else (9 if channels == 1 else 17)
            tag = pos + 4 + crc + side
            if b[tag:tag + 4] in (b"Xing", b"Info") \
                    or b[pos + 36:pos + 40] == b"VBRI":
                samples = 0
        total += samples
        frames += 1
        pos += frame
    if frames and out["sample_rate"]:
        out["duration_ms"] = total * 1000 // out["sample_rate"]


def _exif_orientation(t: bytes):
    """EXIF APP1 payload (after the 'Exif\\0\\0' prefix) → the IFD0
    Orientation tag (0x0112) value 1-8, or None — the field a crawl
    pipeline must honor before any pixel-space geometry (phones
    store sensor-native pixels + this tag)."""
    if t[:4] not in (b"II*\x00", b"MM\x00*"):
        raise ValueError("bad EXIF TIFF header")
    en = "<" if t[:2] == b"II" else ">"
    off = struct.unpack(en + "I", t[4:8])[0]
    n = struct.unpack(en + "H", t[off:off + 2])[0]
    if n > 512:
        raise ValueError("implausible EXIF IFD size")
    for i in range(n):
        e0 = off + 2 + i * 12
        tag, typ = struct.unpack(en + "HH", t[e0:e0 + 4])
        if tag == 0x0112 and typ == 3:
            v = struct.unpack(en + "H", t[e0 + 8:e0 + 10])[0]
            return v if 1 <= v <= 8 else None
    return None


def _ogg_headers(b: bytes, out: dict) -> None:
    """Ogg (RFC 3533) page walk: codec id from the first BOS packet
    (Vorbis ident header / OpusHead / FLAC-in-Ogg / Theora), duration
    from the LAST page's granule position — Vorbis granules count PCM
    samples at the declared rate; Opus granules always count 48 kHz
    samples minus the pre-skip."""
    pos = 0
    last_granule = None
    codec = None
    preskip = 0
    first = True
    while pos + 27 <= len(b) and b[pos:pos + 4] == b"OggS" \
            and b[pos + 4] == 0:
        granule = int.from_bytes(b[pos + 6:pos + 14], "little",
                                 signed=True)
        nsegs = b[pos + 26]
        seg_table = b[pos + 27:pos + 27 + nsegs]
        if len(seg_table) < nsegs:
            break
        body = pos + 27 + nsegs
        size = sum(seg_table)
        if body + size > len(b):
            break
        if first:
            pk = b[body:body + 64]
            if pk[:7] == b"\x01vorbis" and len(pk) >= 16:
                codec = "vorbis"
                out["channels"] = pk[11]
                out["sample_rate"] = int.from_bytes(pk[12:16], "little")
            elif pk[:8] == b"OpusHead" and len(pk) >= 12:
                codec = "opus"
                out["channels"] = pk[9]
                preskip = int.from_bytes(pk[10:12], "little")
                out["sample_rate"] = 48000     # Opus always decodes @48k
            elif pk[:5] == b"\x7fFLAC":
                codec = "flac"
            elif pk[:7] == b"\x80theora":
                codec = "theora"
            first = False
        if granule >= 0:
            last_granule = granule
        pos = body + size
    if last_granule is not None:
        if codec == "vorbis" and out.get("sample_rate"):
            out["duration_ms"] = last_granule * 1000 \
                // out["sample_rate"]
        elif codec == "opus":
            out["duration_ms"] = max(0, last_granule - preskip) \
                * 1000 // 48000


def _ebml_headers(b: bytes, out: dict) -> None:
    """Minimal EBML header walk: refine the container family to
    matroska/webm by the DocType string (a bounded scan over the
    EBML header element's children — vint ids/sizes per RFC 8794)."""
    def vint(pos, keep_marker):
        if pos >= len(b):
            raise ValueError("truncated EBML vint")
        lead = b[pos]
        if lead == 0:
            raise ValueError("invalid EBML vint")
        ln = 1
        while not (lead >> (8 - ln)) & 1:
            ln += 1
        if pos + ln > len(b):
            raise ValueError("truncated EBML vint")
        v = int.from_bytes(b[pos:pos + ln], "big")
        if not keep_marker:
            v &= (1 << (7 * ln)) - 1
        return v, pos + ln
    _, pos = vint(0, True)                         # 0x1A45DFA3 id
    hdr_size, pos = vint(pos, False)
    end = min(pos + hdr_size, len(b))
    while pos < end:
        eid, pos = vint(pos, True)
        esize, pos = vint(pos, False)
        if eid == 0x4282:                          # DocType
            doctype = b[pos:pos + esize].decode("ascii", "replace")
            if doctype in ("matroska", "webm"):
                out["format"] = "webm" if doctype == "webm" else "mkv"
            return
        pos += esize


def _flac_headers(b: bytes, out: dict) -> None:
    """FLAC STREAMINFO (the mandatory first metadata block): sample
    rate (20 bits), channels-1 (3), bits-1 (5), total samples (36)
    packed big-endian at byte 10 of the block."""
    pos = 4
    while pos + 4 <= len(b):
        last, typ = b[pos] & 0x80, b[pos] & 0x7F
        ln = int.from_bytes(b[pos + 1:pos + 4], "big")
        if typ == 0 and ln >= 34 and pos + 4 + 18 <= len(b):
            packed = int.from_bytes(b[pos + 14:pos + 22], "big")
            rate = packed >> 44
            out["channels"] = ((packed >> 41) & 7) + 1
            if rate:
                out["sample_rate"] = rate
                out["duration_ms"] = \
                    (packed & ((1 << 36) - 1)) * 1000 // rate
            return
        if last:
            return
        pos += 4 + ln


def _parse_headers(b: bytes) -> dict:
    """REAL (stdlib-only) container-header parse — no decode, no
    Pillow: PNG IHDR, JPEG SOF marker walk, GIF logical screen
    descriptor, BMP info header, TIFF first-IFD dims, WAV RIFF
    fmt/data chunks, MP4 box walk, MP3 frame walk (exact VBR-safe
    duration), FLAC STREAMINFO, dispatched by :func:`_sniff_format`.
    Returns whatever the container declares; containers it does not
    parse (or too short to) → format 'unknown' only.

    This is the filter-stage metadata a pipeline needs (drop tiny
    images, cap durations) without touching pixel/sample data.
    """
    out = {"format": "unknown", "width": None, "height": None,
           "channels": None, "sample_rate": None, "duration_ms": None,
           "orientation": None}
    if len(b) < 12:
        return out
    fmt = _sniff_format(b)
    if fmt == "png" and len(b) >= 24:
        out["format"] = "png"
        w, h = struct.unpack(">II", b[16:24])
        out["width"], out["height"] = int(w), int(h)
    elif fmt == "jpeg":
        out["format"] = "jpeg"
        i = 2
        while i + 9 < len(b):
            if b[i] != 0xFF:
                break
            marker = b[i + 1]
            if marker == 0xFF:  # fill/padding byte before a marker
                i += 1
                continue
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2
                continue
            seglen = struct.unpack(">H", b[i + 2:i + 4])[0]
            if marker == 0xE1 and b[i + 4:i + 10] == b"Exif\x00\x00":
                try:
                    out["orientation"] = _exif_orientation(
                        b[i + 10:i + 2 + seglen])
                except (ValueError, struct.error, IndexError):
                    pass               # header-only parse stays lenient
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                h, w = struct.unpack(">HH", b[i + 5:i + 9])
                out["width"], out["height"] = int(w), int(h)
                out["channels"] = b[i + 9] if i + 9 < len(b) else None
                break
            i += 2 + seglen
    elif fmt == "gif":
        out["format"] = "gif"
        w, h = struct.unpack("<HH", b[6:10])
        out["width"], out["height"] = int(w), int(h)
    elif fmt == "bmp" and len(b) >= 26:
        out["format"] = "bmp"
        if struct.unpack("<I", b[14:18])[0] == 12:   # OS/2 core header
            w, h = struct.unpack("<HH", b[18:22])
        else:
            w, h = struct.unpack("<ii", b[18:26])
        out["width"], out["height"] = int(w), abs(int(h))
    elif fmt == "avi":
        out["format"] = "avi"
        try:
            for cid, s, e in _riff_chunks(b, 12, len(b)):
                if cid == b"LIST" and b[s:s + 4] == b"hdrl":
                    for c2, s2, e2 in _riff_chunks(b, s + 4, e):
                        if c2 == b"avih" and e2 - s2 >= 40:
                            usf, = struct.unpack("<I", b[s2:s2 + 4])
                            nfr, = struct.unpack(
                                "<I", b[s2 + 16:s2 + 20])
                            out["width"], out["height"] = struct.unpack(
                                "<II", b[s2 + 32:s2 + 40])
                            if usf:
                                out["duration_ms"] = nfr * usf // 1000
                    break
        except (ValueError, struct.error, IndexError):
            pass                       # header-only parse stays lenient
    elif fmt == "webp":
        from meza_spark.llm.webp import webp_headers
        out.update(webp_headers(b))
    elif fmt == "wav":
        out["format"] = "wav"
        pos, byte_rate, data_sz = 12, None, None
        while pos + 8 <= len(b):
            cid = b[pos:pos + 4]
            sz = struct.unpack("<I", b[pos + 4:pos + 8])[0]
            if cid == b"fmt " and pos + 24 <= len(b):
                out["channels"] = struct.unpack(
                    "<H", b[pos + 10:pos + 12])[0]
                out["sample_rate"] = struct.unpack(
                    "<I", b[pos + 12:pos + 16])[0]
                byte_rate = struct.unpack("<I", b[pos + 16:pos + 20])[0]
            elif cid == b"data":
                data_sz = sz
            pos += 8 + sz + (sz & 1)  # chunks are word-aligned
        if byte_rate and data_sz is not None:
            out["duration_ms"] = int(data_sz * 1000 // byte_rate)
    elif fmt == "aiff":
        out["format"] = "aiff"
        try:
            pos = 12
            while pos + 8 <= len(b):
                cid = b[pos:pos + 4]
                sz = struct.unpack(">I", b[pos + 4:pos + 8])[0]
                if cid == b"COMM" and pos + 26 <= len(b):
                    ch, nframes, _bits = struct.unpack(
                        ">HIH", b[pos + 8:pos + 16])
                    rate = _parse_f80(b[pos + 16:pos + 26])
                    out["channels"] = ch
                    if rate:
                        out["sample_rate"] = rate
                        out["duration_ms"] = int(nframes * 1000 // rate)
                    break
                pos += 8 + sz + (sz & 1)
        except (ValueError, struct.error, IndexError):
            pass                       # header-only parse stays lenient
    elif fmt == "au" and len(b) >= 24:
        out["format"] = "au"
        try:
            off, size, enc, rate, ch = struct.unpack(">IIIII", b[4:24])
            out["channels"] = ch
            bps = {1: 1, 27: 1, 2: 1, 3: 2, 6: 4}.get(enc)
            if rate:
                out["sample_rate"] = rate
                if bps and size not in (0, 0xFFFFFFFF) and ch:
                    out["duration_ms"] = int(
                        size // (bps * ch) * 1000 // rate)
        except struct.error:
            pass
    elif fmt == "tiff":
        out["format"] = "tiff"
        try:
            en = "<" if b[:2] == b"II" else ">"
            off = struct.unpack(en + "I", b[4:8])[0]
            n = struct.unpack(en + "H", b[off:off + 2])[0]
            for i in range(n):
                e0 = off + 2 + i * 12
                tag, typ = struct.unpack(en + "HH", b[e0:e0 + 4])
                if tag in (256, 257):
                    v = struct.unpack(
                        en + ("H" if typ == 3 else "I"),
                        b[e0 + 8:e0 + 10 if typ == 3 else e0 + 12])[0]
                    out["width" if tag == 256 else "height"] = int(v)
        except (struct.error, IndexError):
            pass                       # header-only parse stays lenient
    elif fmt in _ISOBMFF:
        out["format"] = fmt
        if fmt == "mp4":
            out.update({k: v for k, v in _parse_mp4(b).items()
                        if v is not None})
        else:
            try:
                _heif_headers(b, out)
            except (ValueError, struct.error, IndexError):
                pass                       # header-only parse stays lenient
    elif fmt == "pdf":
        from meza_spark.llm.pdf import pdf_headers
        out.update(pdf_headers(b))
    elif fmt == "svg":
        out["format"] = "svg"
        try:
            _svg_headers(b, out)
        except (ValueError, IndexError):
            pass                           # header-only parse stays lenient
    elif fmt == "flac":
        out["format"] = "flac"
        try:
            _flac_headers(b, out)
        except (ValueError, IndexError):
            pass                       # header-only parse stays lenient
    elif fmt == "ogg":
        out["format"] = "ogg"
        try:
            _ogg_headers(b, out)
        except (ValueError, IndexError):
            pass                       # header-only parse stays lenient
    elif fmt == "ebml":
        out["format"] = "ebml"
        try:
            _ebml_headers(b, out)      # refine to mkv/webm by DocType
        except (ValueError, IndexError):
            pass                       # header-only parse stays lenient
    elif fmt == "mp3":
        out["format"] = "mp3"
        try:
            _mp3_headers(b, out)
        except (ValueError, IndexError):
            pass                       # header-only parse stays lenient
    return out


# irot (anti-clockwise quarter turns) × imir (axis: 0 = vertical
# axis / horizontal flip, 1 = horizontal axis / vertical flip) →
# EXIF orientation, assuming the ISO 23008-12-prescribed application
# order rotation-then-mirroring; derived by matrix composition
# (tests/test_pdf_heif_svg.py re-derives it with numpy)
_HEIF_ORIENT = {(0, None): 1, (0, 0): 2, (0, 1): 4,
                (1, None): 8, (1, 0): 7, (1, 1): 5,
                (2, None): 3, (2, 0): 4, (2, 1): 2,
                (3, None): 6, (3, 0): 5, (3, 1): 7}


def _heif_headers(b: bytes, out: dict) -> None:
    """AVIF/HEIC header metadata (r8 verdict task #4): reuse the
    ISO-BMFF box walk — meta (a FULL box: 4 version/flags bytes) →
    iprp → ipco, reading ispe (spatial extents) and irot/imir
    (orientation, surfaced as the EXIF-equivalent code so pipelines
    handle phone photos and AVIF crawls through one column). Decode
    stays plugin-gated (AV1/HEVC are perceptual codecs)."""
    rot, mir, seen = 0, None, False
    for typ, s, e in _mp4_boxes(b, 0, len(b)):
        if typ != b"meta":
            continue
        for t2, s2, e2 in _mp4_boxes(b, s + 4, e):
            if t2 != b"iprp":
                continue
            for t3, s3, e3 in _mp4_boxes(b, s2, e2):
                if t3 != b"ipco":
                    continue
                for t4, s4, e4 in _mp4_boxes(b, s3, e3):
                    if t4 == b"ispe" and e4 - s4 >= 12:
                        w, h = struct.unpack(">II", b[s4 + 4:s4 + 12])
                        if out["width"] is None:
                            out["width"], out["height"] = int(w), int(h)
                    elif t4 == b"irot" and e4 > s4:
                        rot, seen = b[s4] & 3, True
                    elif t4 == b"imir" and e4 > s4:
                        mir, seen = b[s4] & 1, True
    if seen:                  # no transform boxes → None, like a
        #                       JPEG without an EXIF orientation tag
        out["orientation"] = _HEIF_ORIENT[(rot, mir)]


_SVG_DIM_RE = re.compile(
    # left boundary: 'stroke-width="2"' on the root tag must not
    # clobber the real width (review find, r9 — Feather-style icons)
    rb'(?<![-\w])(width|height)\s*=\s*["\']\s*([0-9.]+)\s*'
    rb'(px|pt|mm|cm|in|pc|%)?\s*["\']', re.I)
_SVG_VIEWBOX_RE = re.compile(
    rb'viewBox\s*=\s*["\']\s*[0-9.+-]+[,\s]+[0-9.+-]+[,\s]+'
    rb'([0-9.]+)[,\s]+([0-9.]+)\s*["\']', re.I)
# CSS absolute-unit → px at the spec's 96 dpi reference
_SVG_UNIT_PX = {b"px": 1.0, b"pt": 96 / 72, b"pc": 16.0,
                b"in": 96.0, b"mm": 96 / 25.4, b"cm": 96 / 2.54}


def _svg_headers(b: bytes, out: dict) -> None:
    """SVG dims (r8 verdict task #5): width/height attributes off the
    root <svg> tag (unit suffixes converted to px at 96 dpi; %
    ignored), viewBox as the fallback. Pure regex over the first tag
    — no XML parse of untrusted bytes."""
    start = b.find(b"<svg")
    if start < 0:
        return
    tag_end = b.find(b">", start)
    tag = b[start:tag_end if tag_end > 0 else start + 4096]
    dims = {}
    for m in _SVG_DIM_RE.finditer(tag):
        unit = m.group(3) or b"px"
        if unit.lower() == b"%":
            continue
        try:
            px = float(m.group(2)) * _SVG_UNIT_PX[unit.lower()]
        except (ValueError, KeyError):
            continue
        dims[m.group(1).lower()] = int(px + 0.5)   # half-up, not
        #                                            banker's rounding
    if b"width" in dims and b"height" in dims:
        out["width"], out["height"] = dims[b"width"], dims[b"height"]
        return
    m = _SVG_VIEWBOX_RE.search(tag)
    if m:
        try:
            out["width"] = int(float(m.group(1)) + 0.5)
            out["height"] = int(float(m.group(2)) + 0.5)
        except ValueError:
            pass


def _mp4_boxes(b: bytes, start: int, end: int):
    """Iterate ISO-BMFF boxes in b[start:end] → (type, body_start,
    box_end); handles 64-bit largesize and size-0 (to-end) boxes."""
    pos = start
    while pos + 8 <= end:
        sz = int.from_bytes(b[pos:pos + 4], "big")
        typ = b[pos + 4:pos + 8]
        hdr = 8
        if sz == 1 and pos + 16 <= end:
            sz = int.from_bytes(b[pos + 8:pos + 16], "big")
            hdr = 16
        elif sz == 0:
            sz = end - pos
        if sz < hdr or pos + sz > end:
            break
        yield typ, pos + hdr, pos + sz
        pos += sz


def _parse_mp4(b: bytes) -> dict:
    """REAL MP4/ISO-BMFF metadata — pure stdlib box walk, no codec:
    ``mvhd`` timescale+duration → duration_ms, first video ``tkhd``
    with non-zero dimensions → width/height (stored 16.16 fixed
    point). Both box versions (32/64-bit times) handled."""
    out = {"width": None, "height": None, "duration_ms": None}
    for typ, s, e in _mp4_boxes(b, 0, len(b)):
        if typ != b"moov":
            continue
        for t2, s2, e2 in _mp4_boxes(b, s, e):
            if t2 == b"mvhd" and e2 - s2 >= 20:
                ver = b[s2]
                if ver == 1:
                    # v1 layout needs 1+3 ver/flags + 8+8 times +
                    # 4 timescale + 8 duration = 32 bytes; a shorter
                    # box is corrupt — skip rather than misread
                    if e2 - s2 < 32:
                        continue
                    ts = int.from_bytes(b[s2 + 20:s2 + 24], "big")
                    dur = int.from_bytes(b[s2 + 24:s2 + 32], "big")
                else:
                    ts = int.from_bytes(b[s2 + 12:s2 + 16], "big")
                    dur = int.from_bytes(b[s2 + 16:s2 + 20], "big")
                if ts:
                    out["duration_ms"] = int(dur * 1000 // ts)
            elif t2 == b"trak":
                for t3, s3, e3 in _mp4_boxes(b, s2, e2):
                    if t3 != b"tkhd":
                        continue
                    off = s3 + (88 if b[s3] == 1 else 76)
                    if e3 - off < 8:
                        continue
                    w = int.from_bytes(b[off:off + 4], "big") >> 16
                    h = int.from_bytes(b[off + 4:off + 8], "big") >> 16
                    if w and h and out["width"] is None:
                        out["width"], out["height"] = w, h
    return out


def parse_media_headers(df: DataFrame, payload_col: str = "payload",
                        id_col: str = "media_id") -> DataFrame:
    """Container-header metadata for every payload, row-local
    (:func:`meza_spark.util.payload_rows`) — the real (non-stub)
    sibling of ``decode_image``:
    width/height/channels for PNG/JPEG/GIF/BMP, sample rate/channels/
    duration for WAV, format sniff for MP4, EXIF ``orientation`` 1-8.
    One pass, no shuffle;
    only headers are touched, so throughput is I/O-bound on the blob
    column, not CPU-bound on decode."""
    keys = ("format", "width", "height", "channels", "sample_rate",
            "duration_ms", "orientation")

    def rows(_key, b):
        d = _parse_headers(b)
        return [tuple(d[k] for k in keys)]

    return payload_rows(df, rows, "format string, width int, height int, "
                        "channels int, sample_rate int, duration_ms bigint, "
                        "orientation int", payload_col, id_col)
