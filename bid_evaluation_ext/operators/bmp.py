"""BMP (Windows DIB) decode — the last common uncompressed image
container next to PNG/JPEG/GIF/Netpbm/TIFF: screenshots and legacy
document scans ship as BMP, and a crawl-scale image pipeline must at
least decode-or-count them.

Pure stdlib ``struct`` + numpy. Covered (the profile that dominates
real BMP files): BITMAPINFOHEADER (40-byte) DIBs, bottom-up or
top-down rows, BI_RGB (uncompressed) at 24-bit BGR and 8-bit paletted,
4-byte row padding. 32-bit BGRA is accepted (alpha dropped). V4/V5
headers (108/124 bytes) decode when BI_RGB — the palette offset is
computed from the header size, so the larger header is handled
correctly. RLE/BITFIELDS compression raises cleanly — corrupt/exotic
files must be countable, never silently wrong.
"""

from __future__ import annotations

import struct

import numpy as np


def is_bmp(data: bytes) -> bool:
    return len(data) >= 54 and data[:2] == b"BM"


def decode_bmp(data: bytes) -> np.ndarray:
    """BMP → ``(h, w, 3)`` RGB uint8 (palette expanded, BGR swapped,
    row order normalized to top-down)."""
    if not is_bmp(data):
        raise ValueError("not a BMP payload")
    (pix_off,) = struct.unpack_from("<I", data, 10)
    (hdr_size,) = struct.unpack_from("<I", data, 14)
    if hdr_size < 40:
        raise ValueError(f"unsupported BMP header size {hdr_size}")
    w, h_raw = struct.unpack_from("<ii", data, 18)
    planes, bpp = struct.unpack_from("<HH", data, 26)
    (compression,) = struct.unpack_from("<I", data, 30)
    if compression != 0:
        raise ValueError(f"unsupported BMP compression {compression}")
    if bpp not in (8, 24, 32):
        raise ValueError(f"unsupported BMP bit depth {bpp}")
    if w <= 0 or h_raw == 0 or planes != 1:
        raise ValueError("bad BMP dimensions")
    top_down = h_raw < 0
    h = abs(h_raw)
    row_bytes = (w * bpp // 8 + 3) & ~3
    need = pix_off + row_bytes * h
    if need > len(data):
        raise ValueError("truncated BMP pixel data")
    raw = np.frombuffer(data, dtype=np.uint8,
                        count=row_bytes * h, offset=pix_off)
    rows = raw.reshape(h, row_bytes)
    if not top_down:
        rows = rows[::-1]
    if bpp == 8:
        (n_colors,) = struct.unpack_from("<I", data, 46)
        n_colors = n_colors or 256
        pal_off = 14 + hdr_size
        pal = np.frombuffer(data, dtype=np.uint8, count=4 * n_colors,
                            offset=pal_off).reshape(n_colors, 4)
        idx = rows[:, :w]
        if int(idx.max()) >= n_colors:
            raise ValueError("BMP palette index out of range")
        return pal[idx][:, :, [2, 1, 0]].copy()      # BGRA → RGB
    step = bpp // 8
    px = rows[:, : w * step].reshape(h, w, step)
    return px[:, :, [2, 1, 0]].copy()                # BGR(A) → RGB


def encode_bmp(img: np.ndarray, *, top_down: bool = False,
               paletted: bool = False) -> bytes:
    """Encode RGB/gray uint8 → BMP (test/fixture aid). Gray input with
    ``paletted=True`` writes an 8-bit paletted file (identity gray
    palette); otherwise 24-bit BI_RGB."""
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim == 2:
        gray = img
        img3 = np.stack([img] * 3, axis=2)
    elif img.ndim == 3 and img.shape[2] == 3:
        gray = None
        img3 = img
    else:
        raise ValueError("need (h,w) gray or (h,w,3) RGB uint8")
    h, w = img3.shape[:2]
    if paletted:
        if gray is None:
            raise ValueError("paletted encode needs a gray image")
        row_bytes = (w + 3) & ~3
        pal = b"".join(bytes([v, v, v, 0]) for v in range(256))
        pix_off = 14 + 40 + len(pal)
        body = bytearray()
        rows = gray if top_down else gray[::-1]
        for r in rows:
            body += r.tobytes().ljust(row_bytes, b"\x00")
        bpp, extra = 8, pal
    else:
        row_bytes = (w * 3 + 3) & ~3
        pix_off = 14 + 40
        body = bytearray()
        rows = img3 if top_down else img3[::-1]
        for r in rows:
            body += r[:, [2, 1, 0]].tobytes().ljust(row_bytes, b"\x00")
        bpp, extra = 24, b""
    h_field = -h if top_down else h
    header = (b"BM"
              + struct.pack("<IHHI", pix_off + len(body), 0, 0, pix_off)
              + struct.pack("<IiiHHIIiiII", 40, w, h_field, 1, bpp,
                            0, len(body), 2835, 2835,
                            256 if paletted else 0, 0))
    return header + extra + bytes(body)
