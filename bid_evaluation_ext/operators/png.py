"""Minimal pure-stdlib PNG codec (zlib + struct) for the multimodal image
kernel.

The container ships no image library, so the real decode path implements the
PNG spec (RFC 2083 / W3C PNG) directly: chunk parsing, IDAT inflate, and the
five scanline filters. Supported: 8-bit depth, color types 0 (gray),
2 (RGB), 3 (palette), 4 (gray+alpha), 6 (RGBA), non-interlaced — the common
case for ML training corpora; anything else raises ``ValueError`` with the
unsupported feature named.

This is deliberately NOT a general image library: it exists so
``extract_image_features`` has a real decode kernel (width/height/luma from
actual pixels) with zero non-stdlib dependencies. Swap in Pillow at
deployment by replacing :func:`decode_png` only.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"

#: samples per pixel by PNG color type
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def is_png(data: bytes) -> bool:
    return bool(data) and data[:8] == PNG_SIGNATURE


def _chunks(data: bytes):
    pos = 8
    n = len(data)
    while pos + 8 <= n:
        (length,) = struct.unpack(">I", data[pos:pos + 4])
        ctype = data[pos + 4:pos + 8]
        body = data[pos + 8:pos + 8 + length]
        yield ctype, body
        pos += 12 + length  # length + type + body + crc
        if ctype == b"IEND":
            break


def _unfilter(raw: bytes, height: int, stride: int, bpp: int) -> np.ndarray:
    """Reverse the per-scanline filters → (height, stride) uint8 matrix.

    Up/None/Sub vectorize (Sub is a per-pixel running sum along x, done with
    a small python loop over the row's strided view); Average and Paeth are
    inherently sequential per pixel — plain loops, acceptable because rows
    are short relative to the zlib/numpy work around them.
    """
    out = np.zeros((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    pos = 0
    for y in range(height):
        ftype = raw[pos]
        row = np.frombuffer(raw, dtype=np.uint8, count=stride,
                            offset=pos + 1).copy()
        pos += 1 + stride
        if ftype == 0:          # None
            pass
        elif ftype == 1:        # Sub
            for x in range(bpp, stride):
                row[x] = (int(row[x]) + int(row[x - bpp])) & 0xFF
        elif ftype == 2:        # Up
            row += prev
        elif ftype == 3:        # Average
            for x in range(stride):
                left = int(row[x - bpp]) if x >= bpp else 0
                row[x] = (int(row[x]) + ((left + int(prev[x])) >> 1)) & 0xFF
        elif ftype == 4:        # Paeth
            for x in range(stride):
                a = int(row[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                if pa <= pb and pa <= pc:
                    pred = a
                elif pb <= pc:
                    pred = b
                else:
                    pred = c
                row[x] = (int(row[x]) + pred) & 0xFF
        else:
            raise ValueError(f"unsupported PNG filter type {ftype}")
        out[y] = row
        prev = row
    return out


def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes → (height, width, channels) uint8 array.

    Channels: 1 gray, 2 gray+alpha, 3 RGB, 4 RGBA (palette expands to RGB).
    Malformed/corrupt input always raises ``ValueError`` (never a raw
    zlib.error/struct.error/IndexError — corrupt media must be a catchable
    decode failure inside a corpus scan).
    """
    try:
        return _decode_png(data)
    except ValueError:
        raise
    except (zlib.error, struct.error, IndexError, OverflowError,
            MemoryError) as exc:
        raise ValueError(f"corrupt PNG: {type(exc).__name__}: {exc}") from exc


def _decode_png(data: bytes) -> np.ndarray:
    if not is_png(data):
        raise ValueError("not a PNG (bad signature)")
    width = height = None
    bit_depth = color_type = interlace = None
    idat = bytearray()
    palette = None
    for ctype, body in _chunks(data):
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, _comp, _filt, interlace = (
                struct.unpack(">IIBBBBB", body))
        elif ctype == b"PLTE":
            palette = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.extend(body)
    if width is None:
        raise ValueError("PNG missing IHDR")
    if bit_depth != 8:
        raise ValueError(f"unsupported PNG bit depth {bit_depth} (only 8)")
    if color_type not in _CHANNELS:
        raise ValueError(f"unsupported PNG color type {color_type}")
    if interlace:
        raise ValueError("interlaced PNG not supported")
    channels = _CHANNELS[color_type]
    if width == 0 or height == 0 or width * height > 64_000_000:
        # corrupt IHDR dims must not become a multi-GB allocation mid-scan
        raise ValueError(f"implausible PNG dimensions {width}x{height}")
    stride = width * channels
    expected = height * (stride + 1)
    # cap inflation at the expected raster size (+1 to detect overruns) so
    # a crafted IDAT zip bomb cannot expand unboundedly
    raw = zlib.decompressobj().decompress(bytes(idat), expected + 1)
    if len(raw) != expected:
        raise ValueError("PNG data length mismatch")
    mat = _unfilter(raw, height, stride, channels)
    img = mat.reshape(height, width, channels)
    if color_type == 3:
        if palette is None:
            raise ValueError("palette PNG missing PLTE")
        img = palette[img[:, :, 0]]
    return img


def encode_png(img: np.ndarray) -> bytes:
    """(height, width[, channels]) uint8 array → PNG bytes (filter 0 rows)."""
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim == 2:
        img = img[:, :, None]
    height, width, channels = img.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    raw = bytearray()
    for y in range(height):
        raw.append(0)
        raw.extend(img[y].tobytes())

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (PNG_SIGNATURE + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b""))


def luma(img: np.ndarray) -> np.ndarray:
    """(h, w, c) uint8 → (h, w) float64 luma (Rec. 601 for color)."""
    c = img.shape[2]
    if c >= 3:
        rgb = img[:, :, :3].astype(np.float64)
        return rgb @ np.array([0.299, 0.587, 0.114])
    return img[:, :, 0].astype(np.float64)


def grid_embedding(lum: np.ndarray, rows: int = 2, cols: int = 4) -> np.ndarray:
    """Mean-luma grid embedding in [0, 1] — a (rows·cols)-dim float32 vector
    from block means; blocks cover the image even when dims don't divide."""
    h, w = lum.shape
    out = np.empty(rows * cols, dtype=np.float32)
    for r in range(rows):
        for c in range(cols):
            y0 = (h * r) // rows
            y1 = max((h * (r + 1)) // rows, y0 + 1)
            x0 = (w * c) // cols
            x1 = max((w * (c + 1)) // cols, x0 + 1)
            out[r * cols + c] = lum[y0:y1, x0:x1].mean() / 255.0
    return out


def pool_grid(lum: np.ndarray, rows: int, cols: int) -> np.ndarray:
    """Block-mean pool luma to ``rows × cols`` float64 (same block
    coverage rule as :func:`grid_embedding`, arbitrary target shape)."""
    h, w = lum.shape
    out = np.empty((rows, cols), dtype=np.float64)
    for r in range(rows):
        y0 = (h * r) // rows
        y1 = max((h * (r + 1)) // rows, y0 + 1)
        for c in range(cols):
            x0 = (w * c) // cols
            x1 = max((w * (c + 1)) // cols, x0 + 1)
            out[r, c] = lum[y0:y1, x0:x1].mean()
    return out


def dhash64(lum: np.ndarray) -> int:
    """64-bit perceptual difference hash (dHash): pool to 8×9, emit one
    bit per horizontally adjacent cell pair (``left < right``), MSB
    first. Returned as a SIGNED 64-bit integer (two's complement) so it
    stores losslessly in a Spark ``long`` column. Robust to rescaling
    and small luma shifts; near-duplicate images differ in few bits."""
    g = pool_grid(lum, 8, 9)
    v = 0
    for r in range(8):
        for c in range(8):
            v = (v << 1) | (1 if g[r, c] < g[r, c + 1] else 0)
    return v - (1 << 64) if v >= (1 << 63) else v
