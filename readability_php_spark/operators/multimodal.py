"""Multimodal column operators (image/audio/video as opaque binary).

The Spark-side plumbing is real and tested — schemas, partitioning, Arrow
batch shapes, ``mapInPandas`` signatures.  PNG, GIF, and baseline JPEG —
the dominant web image formats — decode for REAL via stdlib-only decoders
(``decode_png``: chunk walk, zlib inflate, scanline unfilter;
``decode_gif``: color tables, LZW, deinterlace; ``jpeg.decode_jpeg``:
Huffman entropy decode — baseline AND progressive/SOF2 scan
accumulation — dequant, IDCT, chroma upsample).  Image RESIZE is real
too (``resize_image``: decode → numpy half-pixel-center bilinear →
PNG re-encode).  Video is header-only: ``avi_video_metadata``,
``mp4_video_metadata`` and ``webm_video_metadata`` walk the RIFF,
ISO-BMFF and EBML chunk trees for width, height and duration; frame and
pixel decode need a full codec stack (ffmpeg), so a parsed video row
carries ``pixels_unavailable``.

Pattern (north rule §multimodal): binary payload column + typed metadata
struct; heavy per-item work in Arrow-batched ``mapInPandas`` with
size-bounded batches, exactly like the HTML extractor.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from typing import Iterator

import pandas as pd

try:  # numpy is environment-standard here; guarded like image_dedup's
    import numpy as _np
except ImportError:  # pragma: no cover
    _np = None
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("kind", StringType(), False),        # image | audio | video
    StructField("payload", BinaryType(), True),
])

FEATURE_SCHEMA = StructType([
    StructField("media_id", LongType(), True),
    StructField("kind", StringType(), True),
    StructField("n_bytes", LongType(), True),
    StructField("fingerprint", StringType(), True),  # md5 — DuckDB-reproducible
    StructField("features", ArrayType(FloatType()), True),
    StructField("width", IntegerType(), True),
    StructField("height", IntegerType(), True),
    #: sum of the DECODED pixel buffer's bytes (None when no decode ran) —
    #: an exact integer the oracle gate can recompute, proving the values
    #: came out of the real decoders rather than header arithmetic
    StructField("pixel_sum", LongType(), True),
    #: container-declared duration (video: mvhd/EBML/avih) — None elsewhere
    StructField("duration_s", FloatType(), True),
    StructField("error", StringType(), True),
])


def synthetic_media_df(spark, documents: DataFrame) -> DataFrame:
    """Deterministic fake media table: payload = UTF-8 bytes of the doc text
    (opaque binary as far as the pipeline is concerned)."""
    return documents.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )


PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

#: PNG color type → samples per pixel (8-bit depth only)
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def decode_png(payload: bytes, max_pixels: "int | None" = None) -> tuple[int, int, bytes]:
    """Real PNG decode with nothing but the stdlib: chunk walk → IHDR
    parse → concatenated-IDAT ``zlib`` inflate → per-scanline unfilter
    (all five filter types).  Supports the web-dominant shapes — 8-bit
    grayscale / gray+alpha / RGB / RGBA, non-interlaced — and raises
    ``ValueError`` on anything else (palette, 16-bit, Adam7).  Returns
    ``(width, height, raw_pixels)`` where raw_pixels is the unfiltered
    scanline data (height × width × channels bytes, row-major)."""
    if payload[:8] != PNG_MAGIC:
        raise ValueError("not a PNG: bad signature")
    pos = 8
    width = height = None
    channels = 0
    idat = bytearray()
    while pos + 8 <= len(payload):
        length = int.from_bytes(payload[pos : pos + 4], "big")
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if ctype == b"IHDR":
            if length < 13:
                raise ValueError("truncated IHDR")
            width = int.from_bytes(data[0:4], "big")
            height = int.from_bytes(data[4:8], "big")
            bit_depth, color_type, _comp, _filt, interlace = data[8:13]
            if bit_depth != 8:
                raise ValueError(f"unsupported PNG bit depth {bit_depth}")
            if color_type not in _PNG_CHANNELS:
                raise ValueError(f"unsupported PNG color type {color_type}")
            if interlace != 0:
                raise ValueError("interlaced PNG unsupported")
            if max_pixels is not None and width * height > max_pixels:
                raise ValueError(
                    f"image exceeds pixel budget ({width}x{height} > "
                    f"{max_pixels}px)"
                )
            channels = _PNG_CHANNELS[color_type]
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + data + crc
    if width is None:
        raise ValueError("no IHDR chunk")
    raw = zlib.decompress(bytes(idat))
    stride = width * channels
    if len(raw) != height * (stride + 1):
        raise ValueError("IDAT length does not match dimensions")
    bpp = channels  # bytes per pixel at depth 8
    out = bytearray(height * stride)
    prev_start = -1
    for y in range(height):
        fbyte = raw[y * (stride + 1)]
        line = bytearray(raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)])
        if fbyte == 1:  # Sub
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif fbyte == 2:  # Up
            if prev_start >= 0:
                for i in range(stride):
                    line[i] = (line[i] + out[prev_start + i]) & 0xFF
        elif fbyte == 3:  # Average
            for i in range(stride):
                left = line[i - bpp] if i >= bpp else 0
                up = out[prev_start + i] if prev_start >= 0 else 0
                line[i] = (line[i] + ((left + up) >> 1)) & 0xFF
        elif fbyte == 4:  # Paeth
            for i in range(stride):
                left = line[i - bpp] if i >= bpp else 0
                up = out[prev_start + i] if prev_start >= 0 else 0
                ul = out[prev_start + i - bpp] if (prev_start >= 0 and i >= bpp) else 0
                line[i] = (line[i] + _paeth(left, up, ul)) & 0xFF
        elif fbyte != 0:
            raise ValueError(f"bad PNG filter byte {fbyte}")
        start = y * stride
        out[start : start + stride] = line
        prev_start = start
    return width, height, bytes(out)


def encode_png(width: int, height: int, pixels: bytes, color_type: int = 2) -> bytes:
    """Minimal PNG writer (filter-0 scanlines, one IDAT) — the fixture-
    builder twin of :func:`decode_png`, same role :func:`pcm16_wav_bytes`
    plays for WAV: gates synthesize REAL payloads with it and prove the
    decoder recovers the exact pixels."""
    import struct

    channels = _PNG_CHANNELS[color_type]
    stride = width * channels
    if len(pixels) != height * stride:
        raise ValueError("pixel buffer size mismatch")
    raw = bytearray()
    for y in range(height):
        raw.append(0)
        raw += pixels[y * stride : (y + 1) * stride]

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (
        PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


GIF_MAGICS = (b"GIF87a", b"GIF89a")


def encode_gif(width: int, height: int, palette: bytes, indices: bytes,
               min_code: int = 2) -> bytes:
    """Minimal GIF89a writer (all-literal LZW codes, global color table) —
    fixture-builder twin of :func:`decode_gif`.  ``palette`` is RGB
    triplets (padded to a power-of-two entry count), ``indices`` one byte
    per pixel."""
    if len(indices) != width * height:
        raise ValueError("index buffer size mismatch")
    clear, end = 1 << min_code, (1 << min_code) + 1
    codes = [clear] + list(indices) + [end]
    # emit codes at the decoder's variable width schedule (dictionary
    # grows even though we never reference compound entries)
    bits: list = []
    size = min_code + 1
    next_code = end + 1
    had_prev = False
    for c in codes:
        bits.extend((c >> b) & 1 for b in range(size))
        if c == clear:
            size, next_code, had_prev = min_code + 1, end + 1, False
        elif c != end:
            if had_prev and next_code < 4096:
                next_code += 1
                if next_code == (1 << size) and size < 12:
                    size += 1
            had_prev = True
    data = bytearray()
    for i in range(0, len(bits), 8):
        data.append(sum(b << j for j, b in enumerate(bits[i : i + 8])))
    n_entries = len(palette) // 3
    k = max(1, (n_entries - 1).bit_length()) - 1  # table holds 2^(k+1)
    full = bytearray(palette)
    full += bytes(3 * ((1 << (k + 1)) - n_entries))
    gif = bytearray(b"GIF89a")
    gif += width.to_bytes(2, "little") + height.to_bytes(2, "little")
    gif += bytes([0x80 | k, 0, 0]) + bytes(full)
    gif += b"\x2c" + b"\x00" * 4
    gif += width.to_bytes(2, "little") + height.to_bytes(2, "little")
    gif += bytes([0, min_code])
    for i in range(0, len(data), 255):
        blk = data[i : i + 255]
        gif += bytes([len(blk)]) + blk
    gif += b"\x00\x3b"
    return bytes(gif)


JPEG_MAGIC = b"\xff\xd8\xff"

#: JPEG start-of-frame markers that carry dimensions (baseline through
#: progressive/lossless variants); excludes DHT/DAC/RST which share the
#: 0xC0 high nibble but are not frames.
_JPEG_SOF = {0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
             0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF}


def jpeg_dimensions(payload: bytes) -> tuple[int, int]:
    """(width, height) from the first JPEG start-of-frame segment — a pure
    marker-segment walk, no entropy decode.  Dimensions are the metadata a
    curation filter needs (aspect/size gates) without paying the
    pure-Python entropy decode; also the only dimension source for the
    SOF variants (arithmetic, 12-bit) the full decoder declines."""
    if payload[:3] != JPEG_MAGIC:
        raise ValueError("not a JPEG: bad signature")
    pos = 2
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("JPEG marker desync")
        # JPEG permits any number of 0xFF fill bytes before a marker;
        # skip them so the padding byte isn't misread as the marker and
        # the following bytes as a bogus segment length
        while pos + 4 <= len(payload) and payload[pos + 1] == 0xFF:
            pos += 1
        marker = payload[pos + 1]
        if marker == 0xFF:  # trailing fill bytes ran off the buffer
            break
        if marker == 0xD8 or 0xD0 <= marker <= 0xD7 or marker == 0x01:
            pos += 2  # bare markers, no length field
            continue
        if marker == 0xD9:  # EOI before any frame
            break
        seg_len = int.from_bytes(payload[pos + 2 : pos + 4], "big")
        if seg_len < 2:
            raise ValueError("bad JPEG segment length")
        if marker in _JPEG_SOF:
            if pos + 9 > len(payload):
                raise ValueError("truncated SOF segment")
            height = int.from_bytes(payload[pos + 5 : pos + 7], "big")
            width = int.from_bytes(payload[pos + 7 : pos + 9], "big")
            return width, height
        if marker == 0xDA:  # entropy-coded data follows; no SOF seen
            break
        pos += 2 + seg_len
    raise ValueError("JPEG has no SOF segment")


def _gif_lzw_decode(data: bytes, min_code_size: int, expected: int) -> bytes:
    """GIF-flavor LZW: variable-width codes (LSB-first bit packing),
    CLEAR/END control codes, dictionary capped at 12 bits."""
    clear = 1 << min_code_size
    end = clear + 1
    code_size = min_code_size + 1
    table = {i: bytes([i]) for i in range(clear)}
    next_code = end + 1
    out = bytearray()
    prev = None
    bitpos = 0
    total_bits = len(data) * 8
    while bitpos + code_size <= total_bits and len(out) < expected:
        byte_i = bitpos >> 3
        chunk = int.from_bytes(data[byte_i : byte_i + 3], "little")
        code = (chunk >> (bitpos & 7)) & ((1 << code_size) - 1)
        bitpos += code_size
        if code == clear:
            code_size = min_code_size + 1
            table = {i: bytes([i]) for i in range(clear)}
            next_code = end + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            entry = table.get(code)
            if entry is None:
                raise ValueError(f"bad first LZW code {code}")
        elif code in table:
            entry = table[code]
        elif code == next_code:  # the KwKwK special case
            entry = prev + prev[:1]
        else:
            raise ValueError(f"bad LZW code {code}")
        if prev is not None and next_code < 4096:
            table[next_code] = prev + entry[:1]
            next_code += 1
            if next_code == (1 << code_size) and code_size < 12:
                code_size += 1
        out += entry
        prev = entry
    if len(out) < expected:
        raise ValueError("LZW stream ended short of the pixel count")
    return bytes(out[:expected])


#: row order of the 4 GIF interlace passes for a given height
def _gif_interlace_rows(height: int) -> list[int]:
    return (
        list(range(0, height, 8))
        + list(range(4, height, 8))
        + list(range(2, height, 4))
        + list(range(1, height, 2))
    )


def decode_gif(payload: bytes, max_pixels: "int | None" = None) -> tuple[int, int, bytes]:
    """Real GIF decode with nothing but the stdlib: logical-screen parse →
    global/local color table → sub-block reassembly → LZW inflate →
    palette lookup (+ Adam-style 4-pass deinterlace).  FIRST frame only
    (animation = more frames of the same machinery); returns ``(width,
    height, rgb_pixels)`` with 3 bytes/pixel, row-major.  Raises
    ``ValueError`` on structural corruption."""
    if payload[:6] not in GIF_MAGICS:
        raise ValueError("not a GIF: bad signature")
    if len(payload) < 13:
        raise ValueError("truncated GIF header")
    packed = payload[10]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 ** ((packed & 0x07) + 1)
        gct = payload[pos : pos + 3 * n]
        pos += 3 * n
    while pos < len(payload):
        block = payload[pos]
        if block == 0x21:  # extension: label + len-prefixed sub-blocks
            pos += 2
            while pos < len(payload) and payload[pos] != 0:
                pos += 1 + payload[pos]
            pos += 1
        elif block == 0x2C:  # image descriptor
            if pos + 10 > len(payload):
                raise ValueError("truncated image descriptor")
            w = int.from_bytes(payload[pos + 5 : pos + 7], "little")
            h = int.from_bytes(payload[pos + 7 : pos + 9], "little")
            if max_pixels is not None and w * h > max_pixels:
                raise ValueError(
                    f"image exceeds pixel budget ({w}x{h} > {max_pixels}px)"
                )
            ipacked = payload[pos + 9]
            pos += 10
            palette = gct
            if ipacked & 0x80:
                n = 2 ** ((ipacked & 0x07) + 1)
                palette = payload[pos : pos + 3 * n]
                pos += 3 * n
            if palette is None:
                raise ValueError("GIF frame has no color table")
            if pos >= len(payload):
                raise ValueError("truncated LZW header")
            min_code = payload[pos]
            pos += 1
            if not 2 <= min_code <= 8:
                raise ValueError(f"bad LZW min code size {min_code}")
            data = bytearray()
            while pos < len(payload) and payload[pos] != 0:
                ln = payload[pos]
                data += payload[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            indices = _gif_lzw_decode(bytes(data), min_code, w * h)
            if ipacked & 0x40:  # interlaced: reorder decoded rows
                rows = _gif_interlace_rows(h)
                ordered = bytearray(w * h)
                for src, dst in enumerate(rows):
                    ordered[dst * w : (dst + 1) * w] = indices[
                        src * w : (src + 1) * w
                    ]
                indices = bytes(ordered)
            npal = len(palette) // 3
            out = bytearray(w * h * 3)
            for i, idx in enumerate(indices):
                if idx >= npal:
                    raise ValueError(f"palette index {idx} out of range")
                out[3 * i : 3 * i + 3] = palette[3 * idx : 3 * idx + 3]
            return w, h, bytes(out)
        elif block == 0x3B:  # trailer
            break
        else:
            raise ValueError(f"bad GIF block 0x{block:02x}")
    raise ValueError("GIF has no image data")


#: default per-image pixel budget for the pure-Python decoders: a
#: 12-megapixel photo through a Python Huffman/IDCT/LZW path costs minutes
#: of executor CPU — over budget, PNG/GIF raise ValueError (→ decode_error
#: column) and JPEG falls back to header-only dimensions, so a single
#: pathological image can never stall a task.  Raise or pass None when the
#: corpus is trusted.
DEFAULT_MAX_PIXELS = 4_000_000


def decode_image(
    payload: bytes,
    *,
    fake: bool = False,
    max_pixels: "int | None" = DEFAULT_MAX_PIXELS,
) -> tuple[int, int, bytes]:
    """PNG, GIF, and baseline JPEG payloads decode for REAL (stdlib-only —
    see ``decode_png`` / ``decode_gif`` / ``jpeg.decode_jpeg``); other
    formats need an image library this container doesn't ship, so they
    raise ``NotImplementedError`` unless ``fake=True`` requests the
    deterministic pseudo-decode (dimensions derived from byte length) that
    the plumbing tests use.  In fake mode JPEG also takes the cheap fake
    path — the pure-Python entropy decode is a real-decode opt-in, not a
    plumbing-test cost.  Baseline AND progressive (SOF2) JPEG decode;
    arithmetic/12-bit/over-budget JPEG raises ``JpegPixelsUnavailable`` (a ``NotImplementedError``) so callers can
    fall back to header-only dimensions; over-budget PNG/GIF raise
    ``ValueError`` (see ``DEFAULT_MAX_PIXELS``)."""
    if payload[:8] == PNG_MAGIC:
        return decode_png(payload, max_pixels=max_pixels)
    if payload[:6] in GIF_MAGICS:
        return decode_gif(payload, max_pixels=max_pixels)
    if not fake and payload[:3] == JPEG_MAGIC:
        from .jpeg import decode_jpeg

        return decode_jpeg(payload, max_pixels=max_pixels)
    if not fake:
        raise NotImplementedError(
            "non-PNG/GIF/JPEG image decode requires PIL/libvips; not available in this environment"
        )
    n = len(payload)
    width = (n % 640) + 16
    height = (n % 480) + 16
    return width, height, payload


def _byte_histogram_features(payload: bytes, dims: int = 8) -> list[float]:
    """Deterministic fake feature extractor: normalized byte histogram."""
    if not payload:
        return [0.0] * dims
    buckets = [0] * dims
    for b in payload:
        buckets[b * dims // 256] += 1
    total = len(payload)
    return [round(c / total, 6) for c in buckets]


def resize_pixels(
    width: int, height: int, pixels: bytes, new_width: int, new_height: int
) -> bytes:
    """Bilinear resample of a decoded pixel buffer (channel count inferred
    from the buffer length, the same 1/2/3/4 convention as ``phash64``) —
    vectorized numpy, half-pixel sample centers (the PIL/OpenCV convention,
    so down- and up-scales stay centered), ``rint`` rounding for
    determinism.  Returns ``new_height × new_width × channels`` bytes."""
    if _np is None:  # pragma: no cover
        raise NotImplementedError("resize_pixels requires numpy")
    if min(width, height, new_width, new_height) <= 0:
        raise ValueError("dimensions must be positive")
    n = width * height
    if len(pixels) % n != 0 or len(pixels) // n not in (1, 2, 3, 4):
        raise ValueError(
            f"pixel buffer ({len(pixels)} B) is not 1-4 channels of {width}x{height}"
        )
    ch = len(pixels) // n
    src = _np.frombuffer(bytes(pixels), dtype=_np.uint8).astype(_np.float64)
    src = src.reshape(height, width, ch)
    # half-pixel centers: output pixel i samples input coord (i+.5)*scale-.5
    xs = _np.clip((_np.arange(new_width) + 0.5) * (width / new_width) - 0.5, 0, width - 1)
    ys = _np.clip((_np.arange(new_height) + 0.5) * (height / new_height) - 0.5, 0, height - 1)
    x0 = _np.floor(xs).astype(_np.int64)
    y0 = _np.floor(ys).astype(_np.int64)
    x1 = _np.minimum(x0 + 1, width - 1)
    y1 = _np.minimum(y0 + 1, height - 1)
    fx = (xs - x0)[None, :, None]
    fy = (ys - y0)[:, None, None]
    top = src[y0][:, x0] * (1 - fx) + src[y0][:, x1] * fx
    bot = src[y1][:, x0] * (1 - fx) + src[y1][:, x1] * fx
    out = top * (1 - fy) + bot * fy
    return _np.clip(_np.rint(out), 0, 255).astype(_np.uint8).tobytes()


#: channels → the PNG color type that round-trips them (gray, gray+alpha,
#: RGB, RGBA) — the inverse of _PNG_CHANNELS.
_PNG_COLOR_TYPE = {1: 0, 2: 4, 3: 2, 4: 6}


def resize_image(
    payload: bytes,
    width: int,
    height: int,
    *,
    fake: bool = False,
    max_pixels: "int | None" = None,
) -> bytes:
    """REAL image resize, no PIL: decode (PNG/GIF/JPEG via the in-repo
    stdlib decoders) → :func:`resize_pixels` bilinear → lossless PNG
    re-encode preserving the channel shape.  Deterministic end-to-end
    (fixed sample grid, ``rint``, filter-0 PNG), so resized payloads are
    stable keys for downstream dedup.  ``fake=True`` keeps the legacy
    plumbing-test byte-padding path."""
    if fake:
        need = width * height
        return (payload * (need // max(len(payload), 1) + 1))[:need]
    w0, h0, pix = decode_image(payload, max_pixels=max_pixels)
    ch = len(pix) // (w0 * h0)
    resized = resize_pixels(w0, h0, pix, width, height)
    return encode_png(width, height, resized, color_type=_PNG_COLOR_TYPE[ch])


# --- video containers ---------------------------------------------------------
# Header-only metadata walks for AVI, MP4 and WebM; frame decode needs an
# inter-frame codec stack and stays ffmpeg-gated.


def encode_avi_mjpeg(
    width: int, height: int, frames: "list[bytes]", fps: int = 25
) -> bytes:
    """Minimal spec-valid MJPEG AVI writer — the fixture-builder twin of
    :func:`avi_video_metadata` (the role ``encode_png`` / ``pcm16_wav_bytes``
    play for images/audio): tests synthesize REAL video containers whose
    frames are in-repo ``encode_jpeg`` streams."""

    def chunk(cid: bytes, data: bytes) -> bytes:
        return cid + struct.pack("<I", len(data)) + data + (b"\x00" if len(data) & 1 else b"")

    def lst(ltype: bytes, data: bytes) -> bytes:
        return chunk(b"LIST", ltype + data)

    bufsize = max((len(f) for f in frames), default=0)
    avih = struct.pack(
        "<14I", 1_000_000 // fps, bufsize * fps, 0, 0, len(frames), 0, 1,
        bufsize, width, height, 0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"MJPG"
        # flags, priority, language, initial, scale, rate (fps = rate/scale),
        # start, length, bufsize, quality (-1 = default), samplesize (0 = video)
        + struct.pack("<IHHIIIIIIiI", 0, 0, 0, 0, 1, fps, 0, len(frames), bufsize, -1, 0)
        + struct.pack("<4H", 0, 0, width, height)
    )
    strf = struct.pack(
        "<IiiHH4sIiiII", 40, width, height, 1, 24, b"MJPG",
        width * height * 3, 0, 0, 0, 0,
    )
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi = lst(b"movi", b"".join(chunk(b"00dc", f) for f in frames))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def avi_video_metadata(payload: bytes) -> "tuple[int, int, float | None]":
    """(width, height, duration_s) from an AVI main header (``avih``,
    inside the ``hdrl`` LIST: dwMicroSecPerFrame × dwTotalFrames, dwWidth,
    dwHeight) — header-only, no frame decode.  ``ValueError`` on non-AVI
    or truncated payloads."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI file")
    stack: list = []
    pos = 12
    end = min(len(payload), 8 + struct.unpack("<I", payload[4:8])[0])
    while True:
        while pos + 8 <= end:
            cid = payload[pos : pos + 4]
            (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
            body = pos + 8
            nxt = body + size + (size & 1)
            if cid == b"LIST" and size >= 4:
                stack.append((nxt, end))
                pos, end = body + 4, min(body + size, end)
                continue
            if cid == b"avih":
                if size < 40 or body + 40 > len(payload):
                    # declared-but-truncated header: documented ValueError,
                    # never a struct.error leaking a different type
                    raise ValueError("truncated avih header")
                usec_pf, = struct.unpack("<I", payload[body : body + 4])
                n_frames, = struct.unpack("<I", payload[body + 16 : body + 20])
                w, h = struct.unpack("<II", payload[body + 32 : body + 40])
                dur = (
                    round(usec_pf * n_frames / 1e6, 3)
                    if usec_pf and n_frames
                    else None
                )
                return w, h, dur
            pos = nxt
        if not stack:
            raise ValueError("AVI missing avih header")
        pos, end = stack.pop()


#: ISO-BMFF container boxes worth descending into for moov metadata
_BMFF_CONTAINERS = frozenset((b"moov", b"trak", b"mdia", b"minf", b"stbl"))


def mp4_video_metadata(payload: bytes) -> "tuple[int | None, int | None, float | None]":
    """Header-only MP4/ISO-BMFF metadata: ``(width, height, duration_s)``
    from the ``moov`` box tree — ``tkhd``'s 16.16 fixed-point presentation
    size (first track with a nonzero size wins, i.e. the video track) and
    ``mvhd``'s timescale/duration, both version 0 and 1 layouts.  The same
    honest tier as ``jpeg_dimensions``: the curation-relevant metadata
    without the codec stack frame DECODE would need (that stays
    ffmpeg-gated).  Raises ``ValueError`` on non-BMFF payloads."""
    if len(payload) < 12 or payload[4:8] != b"ftyp":
        raise ValueError("not an ISO-BMFF (MP4) file")
    width = height = None
    duration = None
    stack: list = [(0, len(payload))]
    while stack:
        pos, end = stack.pop()
        while pos + 8 <= end:
            size = int.from_bytes(payload[pos : pos + 4], "big")
            btype = payload[pos + 4 : pos + 8]
            body = pos + 8
            if size == 1:  # 64-bit largesize
                if pos + 16 > end:
                    break
                size = int.from_bytes(payload[pos + 8 : pos + 16], "big")
                body = pos + 16
                if size < 16:  # a largesize below its own header length
                    break      # would desynchronize the walk — stop span
            elif size == 0:  # box runs to end of enclosing span
                size = end - pos
            if size < 8:
                break  # corrupt size: stop this span, keep what we have
            bend = min(pos + size, end)
            if btype in _BMFF_CONTAINERS:
                stack.append((body, bend))
            elif btype == b"mvhd" and bend - body >= 20:
                ver = payload[body]
                if ver == 1 and bend - body >= 32:
                    ts = int.from_bytes(payload[body + 20 : body + 24], "big")
                    d = int.from_bytes(payload[body + 24 : body + 32], "big")
                else:
                    ts = int.from_bytes(payload[body + 12 : body + 16], "big")
                    d = int.from_bytes(payload[body + 16 : body + 20], "big")
                if ts:
                    duration = round(d / ts, 3)
            elif btype == b"tkhd" and width is None:
                ver = payload[body] if bend > body else 0
                off = 88 if ver == 1 else 76  # width offset in box body
                if bend - body >= off + 8:
                    w = int.from_bytes(payload[body + off : body + off + 4], "big") >> 16
                    h = int.from_bytes(payload[body + off + 4 : body + off + 8], "big") >> 16
                    if w and h:
                        width, height = w, h
            pos += size
    return width, height, duration


def _ebml_varint(buf: bytes, pos: int, keep_marker: bool) -> tuple[int, int, bool]:
    """(value, next_pos, is_unknown) of the EBML varint at ``pos`` —
    element IDs keep the length-marker bit (Matroska convention), sizes
    strip it; an all-ones size payload means 'unknown, extends to the
    parent's end' (streamed Segments use it)."""
    if pos >= len(buf) or buf[pos] == 0:
        raise ValueError("bad EBML varint")
    length = 9 - buf[pos].bit_length()
    if pos + length > len(buf):
        raise ValueError("truncated EBML varint")
    val = buf[pos] if keep_marker else buf[pos] & (0xFF >> length)
    for i in range(1, length):
        val = (val << 8) | buf[pos + i]
    unknown = not keep_marker and val == (1 << (7 * length)) - 1
    return val, pos + length, unknown


#: Matroska/WebM container elements worth descending into for metadata
_EBML_CONTAINERS = frozenset((
    0x18538067,  # Segment
    0x1549A966,  # Info
    0x1654AE6B,  # Tracks
    0xAE,        # TrackEntry
    0xE0,        # Video
))


def webm_video_metadata(payload: bytes) -> "tuple[int | None, int | None, float | None]":
    """Header-only WebM/Matroska metadata: ``(width, height, duration_s)``
    from the EBML element tree — Tracks→TrackEntry→Video PixelWidth/
    PixelHeight and Info's Duration × TimestampScale.  Same honest tier as
    :func:`mp4_video_metadata` (frame decode needs VP8/VP9/AV1 — stays
    ffmpeg-gated).  Raises ``ValueError`` on non-EBML payloads."""
    if payload[:4] != b"\x1a\x45\xdf\xa3":
        raise ValueError("not an EBML (WebM/Matroska) file")
    width = height = None
    dur_raw = None
    tscale = 1_000_000  # Matroska default: ns per timestamp unit
    # document-order walk (descend into a container immediately, resume
    # after it later): with multiple video tracks the FIRST one wins,
    # matching mp4_video_metadata's first-track law
    stack: list = []
    pos, end = 0, len(payload)
    while True:
        while pos < end:
            try:
                eid, p1, _ = _ebml_varint(payload, pos, keep_marker=True)
                size, body, unknown = _ebml_varint(payload, p1, keep_marker=False)
            except ValueError:
                break  # corrupt tail: keep what we have
            bend = end if unknown else min(body + size, end)
            if eid in _EBML_CONTAINERS:
                stack.append((bend if not unknown else end, end))
                pos, end = body, bend
                continue
            if eid == 0x2AD7B1 and bend > body:          # TimestampScale
                tscale = int.from_bytes(payload[body:bend], "big")
            elif eid == 0x4489 and bend - body in (4, 8):  # Duration (float)
                dur_raw = struct.unpack(
                    ">f" if bend - body == 4 else ">d", payload[body:bend]
                )[0]
            elif eid == 0xB0 and bend > body and width is None:   # PixelWidth
                w = int.from_bytes(payload[body:bend], "big")
                if w:  # a corrupt zero must not latch and mask later tracks
                    width = w
            elif eid == 0xBA and bend > body and height is None:  # PixelHeight
                h = int.from_bytes(payload[body:bend], "big")
                if h:
                    height = h
            pos = bend if not unknown else end
        if not stack:
            break
        pos, end = stack.pop()
    duration = round(dur_raw * tscale / 1e9, 3) if dur_raw is not None else None
    return width, height, duration


def encode_webm_stub(
    width: int, height: int, duration_s: float, timescale_ns: int = 1_000_000
) -> bytes:
    """Minimal spec-valid WebM/EBML skeleton (EBML header + Segment(Info,
    Tracks(TrackEntry(Video)))) — the fixture-builder twin of
    :func:`webm_video_metadata`, no media data."""

    def el(eid: int, data: bytes) -> bytes:
        idb = eid.to_bytes((eid.bit_length() + 7) // 8, "big")
        if len(data) > 126:
            sz = b"\x40" + bytes([len(data)])  # 2-byte size, plenty here
        else:
            sz = bytes([0x80 | len(data)])
        return idb + sz + data

    def uint(v: int) -> bytes:
        return v.to_bytes(max(1, (v.bit_length() + 7) // 8), "big")

    ebml = el(0x1A45DFA3, el(0x4282, b"webm") + el(0x4287, uint(4)))
    info = el(
        0x1549A966,
        el(0x2AD7B1, uint(timescale_ns))
        + el(0x4489, struct.pack(">d", duration_s * 1e9 / timescale_ns)),
    )
    video = el(0xE0, el(0xB0, uint(width)) + el(0xBA, uint(height)))
    tracks = el(0x1654AE6B, el(0xAE, el(0xD7, uint(1)) + video))
    return ebml + el(0x18538067, info + tracks)


def encode_mp4_stub(
    width: int, height: int, duration_s: float, timescale: int = 1000
) -> bytes:
    """Minimal spec-valid ISO-BMFF skeleton (ftyp + moov(mvhd, trak(tkhd)))
    — the fixture-builder twin of :func:`mp4_video_metadata`, carrying no
    media data (tests prove the box walk recovers the exact metadata)."""

    def box(btype: bytes, data: bytes) -> bytes:
        return struct.pack(">I", 8 + len(data)) + btype + data

    d = int(round(duration_s * timescale))
    mvhd = box(
        b"mvhd",
        b"\x00\x00\x00\x00"                     # version 0 + flags
        + struct.pack(">IIII", 0, 0, timescale, d)
        + b"\x00" * 80,                         # rate..next_track_id
    )
    tkhd = box(
        b"tkhd",
        b"\x00\x00\x00\x07"                     # version 0, enabled flags
        + struct.pack(">IIIII", 0, 0, 1, 0, d)  # ids + duration
        + b"\x00" * 52                          # reserved/layer/matrix
        + struct.pack(">II", width << 16, height << 16),
    )
    return box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2") + box(
        b"moov", mvhd + box(b"trak", tkhd)
    )


RESIZE_SCHEMA = StructType([
    StructField("media_id", LongType(), True),
    StructField("payload", BinaryType(), True),     # resized, PNG-encoded
    StructField("width", IntegerType(), True),
    StructField("height", IntegerType(), True),
    StructField("error", StringType(), True),
])


def resize_images(
    media: DataFrame,
    width: int,
    height: int,
    *,
    max_pixels: "int | None" = DEFAULT_MAX_PIXELS,
) -> DataFrame:
    """image rows → (media_id, payload=resized PNG, width, height, error):
    one Arrow-batched ``mapInPandas`` pass over the binary column, real
    decode → bilinear → PNG re-encode per row, failures as an ``error``
    column (never a task kill) — the thumbnail/normalize stage a training
    pipeline runs before batching images to a vision encoder.  One output
    row per input image row; non-image rows are filtered scan-side."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {f.name: [] for f in RESIZE_SCHEMA.fields}
            for i in range(len(pdf)):
                raw = pdf["payload"].iat[i]
                raw = bytes(raw) if raw is not None else b""
                err = resized = None
                try:
                    resized = resize_image(
                        raw, width, height, max_pixels=max_pixels
                    )
                except NotImplementedError:
                    err = "decoder_unavailable"
                except Exception as e:  # noqa: BLE001 — error-column contract
                    err = f"resize_error: {e}"
                out["media_id"].append(pdf["media_id"].iat[i])
                out["payload"].append(resized)
                out["width"].append(width if resized is not None else None)
                out["height"].append(height if resized is not None else None)
                out["error"].append(err)
            yield pd.DataFrame(out)

    return (
        media.filter(F.col("kind") == "image")
        .select("media_id", "payload")
        .mapInPandas(batches, schema=RESIZE_SCHEMA)
    )


def extract_media_features(
    media: DataFrame,
    *,
    fake_decode: bool = True,
    max_pixels: "int | None" = DEFAULT_MAX_PIXELS,
) -> DataFrame:
    """media(media_id, kind, payload:binary) → features frame via Arrow
    batches.  Mirrors the HTML extractor's batch discipline: one output row
    per input row, failures as an ``error`` column."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {f.name: [] for f in FEATURE_SCHEMA.fields}
            for i in range(len(pdf)):
                mid = pdf["media_id"].iat[i]
                kind = pdf["kind"].iat[i]
                raw = pdf["payload"].iat[i]
                raw = bytes(raw) if raw is not None else b""
                err = None
                width = height = pixel_sum = duration_s = None
                try:
                    if kind == "image":
                        width, height, pix = decode_image(
                            raw, fake=fake_decode, max_pixels=max_pixels
                        )
                        pixel_sum = sum(pix)
                    elif kind == "video":
                        # header-only dims/duration for the three dominant
                        # web containers (same tier as the progressive-JPEG
                        # dims fallback); pixel/frame decode stays ffmpeg-
                        # gated, so EVERY video row carries
                        # pixels_unavailable — unknown containers raise and
                        # surface decoder_unavailable like images do, so
                        # `error IS NULL` never reads garbage as cleaner
                        # than parsed metadata
                        if raw[4:8] == b"ftyp":
                            width, height, dur = mp4_video_metadata(raw)
                        elif raw[:4] == b"\x1a\x45\xdf\xa3":
                            width, height, dur = webm_video_metadata(raw)
                        elif raw[:4] == b"RIFF" and raw[8:12] == b"AVI ":
                            width, height, dur = avi_video_metadata(raw)
                        else:
                            raise NotImplementedError(
                                "unknown video container (MP4/WebM/AVI headers supported)"
                            )
                        duration_s = dur
                        err = "pixels_unavailable"
                except NotImplementedError:
                    err = "decoder_unavailable"
                    if raw[:3] == JPEG_MAGIC:
                        # pixels need a real JPEG decoder, but the frame
                        # header still yields the curation-relevant dims
                        try:
                            width, height = jpeg_dimensions(raw)
                            err = "pixels_unavailable"
                        except Exception as e:  # noqa: BLE001 — same
                            # error-column contract as the outer handler
                            err = f"decode_error: {e}"
                except Exception as e:  # noqa: BLE001 — contract: ANY
                    # decode failure becomes the row's error column, never
                    # a task kill (zlib.error from a corrupt IDAT and
                    # IndexError from truncated segments are not
                    # ValueError subclasses)
                    err = f"decode_error: {e}"
                out["media_id"].append(mid)
                out["kind"].append(kind)
                out["n_bytes"].append(len(raw))
                out["fingerprint"].append(hashlib.md5(raw).hexdigest())
                out["features"].append(_byte_histogram_features(raw))
                out["width"].append(width)
                out["height"].append(height)
                out["pixel_sum"].append(pixel_sum)
                out["duration_s"].append(duration_s)
                out["error"].append(err)
            yield pd.DataFrame(out)

    return media.select("media_id", "kind", "payload").mapInPandas(
        batches, schema=FEATURE_SCHEMA
    )


# --- audio: RIFF/WAVE (the one audio container the stdlib can do) ---------

WAV_MAGIC = b"RIFF"


def pcm16_wav_bytes(samples, sample_rate: int = 16000, channels: int = 1) -> bytes:
    """Minimal RIFF/WAVE writer: 16-bit little-endian PCM.  The encode
    half of the audio round trip (the gate query synthesizes payloads with
    it; swapping in real recordings changes nothing downstream)."""
    import struct

    data = b"".join(
        struct.pack("<h", max(-32768, min(32767, int(s)))) for s in samples
    )
    fmt = struct.pack("<HHIIHH", 1, channels, sample_rate,
                      sample_rate * channels * 2, channels * 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt \
        + b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def wav_pcm16_chunks(payload: bytes) -> tuple[int, int, bytes]:
    """The shared RIFF/WAVE chunk walk: ``(sample_rate, channels,
    pcm_data_bytes)`` of a 16-bit PCM WAV.  Both :func:`decode_wav` (stats)
    and the audio fingerprinter (samples) parse through here, so format
    guards and recovery live in ONE place.  Raises ``ValueError`` on
    non-PCM, non-16-bit, or structural corruption."""
    import struct

    if payload[:4] != WAV_MAGIC or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos = 12
    sample_rate = channels = None
    data = None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        chunk = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            if size < 16:
                raise ValueError("truncated fmt chunk")
            audio_format, channels, sample_rate, _, _, bits = struct.unpack(
                "<HHIIHH", chunk[:16]
            )
            if audio_format != 1:
                raise ValueError(f"unsupported WAV format {audio_format} (PCM only)")
            if bits != 16:
                raise ValueError(f"unsupported WAV bit depth {bits}")
        elif cid == b"data":
            data = chunk
        pos += 8 + size + (size & 1)  # RIFF chunks pad to even
    if sample_rate is None or data is None:
        raise ValueError("WAV missing fmt or data chunk")
    if len(data) % 2:
        raise ValueError("odd PCM data length")
    return sample_rate, channels, data


def decode_wav(payload: bytes) -> tuple[int, int, int, float]:
    """Real WAV parse with nothing but the stdlib: RIFF chunk walk →
    ``fmt `` (PCM, 16-bit only) → ``data`` → ``(sample_rate, channels,
    n_samples, rms)`` where rms = sqrt(mean(sample²)) rounded to 4
    decimals (n_samples counts frames across channels).  Raises
    ``ValueError`` on non-PCM, non-16-bit, or structural corruption."""
    import math

    sample_rate, channels, data = wav_pcm16_chunks(payload)
    n = len(data) // 2
    if n == 0:
        return sample_rate, channels, 0, 0.0
    acc = 0
    for i in range(0, len(data), 2):
        s = int.from_bytes(data[i : i + 2], "little", signed=True)
        acc += s * s
    return sample_rate, channels, n, round(math.sqrt(acc / n), 4)
