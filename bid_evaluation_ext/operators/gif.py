"""Pure-stdlib GIF codec (87a/89a, first image frame).

GIF is the entropy-coded counterpart to :mod:`.netpbm` in the
multimodal seam: a REAL compression algorithm (variable-width LZW over
palette indices, LSB-first bit packing, 255-byte sub-block framing)
with none of PNG's filter machinery, so the decoder exercises the full
"container → bitstream → samples" path in ~150 lines of auditable
stdlib code. Reference: the GIF89a specification (public,
w3.org/Graphics/GIF/spec-gif89a.txt) and the LZW variable-code rules it
defines (clear/end codes, width growth at ``next_code == 2^width``,
12-bit cap, the KwKwK ``code == next_code`` case).

The encoder emits LITERAL codes only (every index is a root code), with
the code width tracked by the same closed-form schedule the decoder
follows — so fixture payloads are analyzable end-to-end (the DuckDB
oracle reproduces every pixel from the generating formula), while the
decoder implements the full dictionary algorithm and is additionally
pinned by a hand-packed KwKwK stream in tests. Malformed input raises
loudly (strict-decode contract shared with :mod:`.netpbm`); the
``multimodal`` dispatch catches per-payload and yields nulls unless
``strict=True``.
"""

from __future__ import annotations

import numpy as np

__all__ = ["is_gif", "decode_gif", "encode_gif"]

_MAX_WIDTH = 12  # LZW codes are capped at 12 bits (table size 4096)


def is_gif(data: bytes) -> bool:
    return len(data) >= 6 and data[:6] in (b"GIF87a", b"GIF89a")


# ---------------------------------------------------------------------------
# LZW decode (full dictionary algorithm)
# ---------------------------------------------------------------------------

def _lzw_decode(data: bytes, min_code_size: int, n_pixels: int) -> list:
    """Variable-width LZW over the de-framed byte stream → index list."""
    if not 2 <= min_code_size <= 8:
        raise ValueError(f"gif: bad LZW minimum code size {min_code_size}")
    clear = 1 << min_code_size
    end = clear + 1
    n_bits = len(data) * 8
    pos = 0
    width = min_code_size + 1
    table: list = []
    next_code = 0
    prev = None
    out: list = []

    def reset():
        nonlocal table, next_code, width, prev
        table = [(i,) for i in range(clear)] + [None, None]
        next_code = end + 1
        width = min_code_size + 1
        prev = None

    reset()
    while len(out) < n_pixels:
        if pos + width > n_bits:
            raise ValueError("gif: LZW stream truncated")
        code = 0
        for b in range(width):  # LSB-first
            i = pos + b
            if data[i >> 3] & (1 << (i & 7)):
                code |= 1 << b
        pos += width
        if code == clear:
            reset()
            continue
        if code == end:
            break
        if prev is None:
            if code >= clear:
                raise ValueError(f"gif: first code {code} is not a root")
            out.extend(table[code])
            prev = code
            continue
        if code < next_code:
            entry = table[code]
        elif code == next_code:
            entry = table[prev] + (table[prev][0],)  # the KwKwK case
        else:
            raise ValueError(f"gif: code {code} beyond table ({next_code})")
        out.extend(entry)
        if next_code < (1 << _MAX_WIDTH):
            table.append(table[prev] + (entry[0],))
            next_code += 1
            if next_code == (1 << width) and width < _MAX_WIDTH:
                width += 1
        prev = code
    if len(out) < n_pixels:
        raise ValueError(f"gif: {len(out)} pixels decoded, "
                         f"{n_pixels} expected")
    return out[:n_pixels]


# ---------------------------------------------------------------------------
# container decode
# ---------------------------------------------------------------------------

def decode_gif(data: bytes) -> np.ndarray:
    """GIF bytes → (h, w, 3) uint8 RGB of the FIRST image frame."""
    if not is_gif(data):
        raise ValueError("not a GIF payload")
    if len(data) < 13:
        raise ValueError("gif: truncated logical screen descriptor")
    packed = data[10]
    pos = 13
    gct = None
    if packed >> 7:
        n = 2 << (packed & 7)
        gct = np.frombuffer(data[pos:pos + 3 * n], dtype=np.uint8)
        if gct.size < 3 * n:
            raise ValueError("gif: truncated global color table")
        gct = gct.reshape(n, 3)
        pos += 3 * n
    while pos < len(data):
        block = data[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: label + sub-blocks
            pos += 1
            while True:
                if pos >= len(data):
                    raise ValueError("gif: truncated extension")
                size = data[pos]
                pos += 1
                if size == 0:
                    break
                pos += size
            continue
        if block != 0x2C:
            raise ValueError(f"gif: unexpected block 0x{block:02x}")
        if pos + 9 > len(data):
            raise ValueError("gif: truncated image descriptor")
        iw = int.from_bytes(data[pos + 4:pos + 6], "little")
        ih = int.from_bytes(data[pos + 6:pos + 8], "little")
        ipacked = data[pos + 8]
        pos += 9
        if iw <= 0 or ih <= 0:
            raise ValueError(f"gif: bad image dimensions {iw}x{ih}")
        palette = gct
        if ipacked >> 7:
            n = 2 << (ipacked & 7)
            palette = np.frombuffer(data[pos:pos + 3 * n], dtype=np.uint8)
            if palette.size < 3 * n:
                raise ValueError("gif: truncated local color table")
            palette = palette.reshape(n, 3)
            pos += 3 * n
        if palette is None:
            raise ValueError("gif: image has no color table")
        interlace = (ipacked >> 6) & 1
        if pos >= len(data):
            raise ValueError("gif: missing LZW minimum code size")
        mcs = data[pos]
        pos += 1
        chunks = []
        while True:
            if pos >= len(data):
                raise ValueError("gif: truncated image data")
            size = data[pos]
            pos += 1
            if size == 0:
                break
            chunks.append(data[pos:pos + size])
            if len(chunks[-1]) < size:
                raise ValueError("gif: truncated image sub-block")
            pos += size
        idx = np.array(_lzw_decode(b"".join(chunks), mcs, iw * ih),
                       dtype=np.int64)
        if int(idx.max(initial=0)) >= len(palette):
            raise ValueError("gif: pixel index beyond color table")
        img = palette[idx].reshape(ih, iw, 3)
        if interlace:
            rows = ([r for r in range(0, ih, 8)]
                    + [r for r in range(4, ih, 8)]
                    + [r for r in range(2, ih, 4)]
                    + [r for r in range(1, ih, 2)])
            out = np.empty_like(img)
            out[rows] = img
            img = out
        return img
    raise ValueError("gif: no image block before trailer")


# ---------------------------------------------------------------------------
# encode (literal codes; fixture generator with closed-form widths)
# ---------------------------------------------------------------------------

def _literal_width(k: int, first_free: int, init_width: int) -> int:
    """Code width the decoder uses to READ the k-th data code since the
    last clear: its ``next_code`` before that read is ``first_free +
    max(0, k-2)`` (one table entry per received data code from the
    second onward), and width follows that count's bit length, clamped
    to [init_width, 12]."""
    nc = min(first_free + max(0, k - 2), 1 << _MAX_WIDTH)
    return min(max(init_width, nc.bit_length()), _MAX_WIDTH)


def encode_gif(img: np.ndarray, clear_every: int = 0) -> bytes:
    """(h, w, 3) uint8 RGB → single-frame GIF89a. The palette is the
    image's unique colors (≤256 required). Emits LITERAL LZW codes with
    the decoder-mirrored width schedule; ``clear_every > 0`` re-emits a
    CLEAR every that many data codes (exercises decoder resets)."""
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim != 3 or img.shape[2] != 3:
        raise ValueError("encode_gif expects (h, w, 3) uint8")
    h, w = img.shape[:2]
    flat = img.reshape(-1, 3)
    palette, idx = np.unique(flat, axis=0, return_inverse=True)
    if len(palette) > 256:
        raise ValueError(f"encode_gif: {len(palette)} colors > 256")
    mcs = max(2, int(len(palette) - 1).bit_length())
    clear, end = 1 << mcs, (1 << mcs) + 1
    first_free = end + 1
    init_width = mcs + 1

    bits = bytearray()
    acc = 0
    nacc = 0

    def put(code: int, width: int):
        nonlocal acc, nacc
        acc |= code << nacc
        nacc += width
        while nacc >= 8:
            bits.append(acc & 0xFF)
            acc >>= 8
            nacc -= 8

    put(clear, init_width)
    k = 0  # data codes since last clear
    for v in idx.tolist():
        if clear_every and k >= clear_every:
            put(clear, _literal_width(k + 1, first_free, init_width))
            k = 0
        k += 1
        put(int(v), _literal_width(k, first_free, init_width))
    put(end, _literal_width(k + 1, first_free, init_width))
    if nacc:
        bits.append(acc & 0xFF)

    gct_bits = max(1, mcs)  # table size 2^(gct_bits) >= palette size
    table = np.zeros((2 << (gct_bits - 1), 3), dtype=np.uint8)
    table[:len(palette)] = palette
    out = bytearray(b"GIF89a")
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out.append(0x80 | (gct_bits - 1))  # GCT present, size bits
    out += b"\x00\x00"                 # background, aspect
    out += table.tobytes()
    out += b"\x2c" + b"\x00" * 4       # image descriptor at (0, 0)
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out.append(0)                      # no LCT, not interlaced
    out.append(mcs)
    for i in range(0, len(bits), 255):
        chunk = bits[i:i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"
    return bytes(out)
