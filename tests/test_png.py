"""Pure-python tests for the stdlib PNG codec (no Spark session needed)."""

import struct
import zlib

import numpy as np
import pytest

from bid_evaluation_ext.operators import png as P


def _rand_img(h, w, c, seed=0):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(h, w, c), dtype=np.uint8)


@pytest.mark.parametrize("channels", [1, 2, 3, 4])
def test_roundtrip_color_types(channels):
    img = _rand_img(7, 5, channels, seed=channels)
    out = P.decode_png(P.encode_png(img))
    assert out.shape == img.shape
    assert np.array_equal(out, img)


def test_roundtrip_grayscale_2d_input():
    img = _rand_img(4, 6, 1, seed=9)
    out = P.decode_png(P.encode_png(img[:, :, 0]))
    assert np.array_equal(out[:, :, 0], img[:, :, 0])


def _filter_scanlines(img, ftype):
    """Forward-apply one PNG filter to every scanline (spec definitions)."""
    h, w, c = img.shape
    bpp = c
    raw = bytearray()
    prev = np.zeros(w * c, dtype=np.int64)
    for y in range(h):
        row = img[y].reshape(-1).astype(np.int64)
        filt = np.zeros_like(row)
        for x in range(len(row)):
            a = row[x - bpp] if x >= bpp else 0
            b = prev[x]
            cc = prev[x - bpp] if x >= bpp else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) >> 1
            else:  # Paeth
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
            filt[x] = (row[x] - pred) & 0xFF
        raw.append(ftype)
        raw.extend(bytes(filt.astype(np.uint8)))
        prev = row
    return bytes(raw)


def _build_png(img, raw):
    h, w, c = img.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[c]

    def chunk(ctype, body):
        return (struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (P.PNG_SIGNATURE + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))


@pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
def test_decode_each_filter_type(ftype):
    img = _rand_img(6, 4, 3, seed=ftype + 10)
    data = _build_png(img, _filter_scanlines(img, ftype))
    assert np.array_equal(P.decode_png(data), img)


def test_palette_png():
    pal = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255]], dtype=np.uint8)
    idx = np.array([[0, 1], [2, 0]], dtype=np.uint8)
    raw = bytearray()
    for y in range(2):
        raw.append(0)
        raw.extend(idx[y].tobytes())

    def chunk(ctype, body):
        return (struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF))

    data = (P.PNG_SIGNATURE
            + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0))
            + chunk(b"PLTE", pal.tobytes())
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b""))
    out = P.decode_png(data)
    assert out.shape == (2, 2, 3)
    assert np.array_equal(out[0, 0], [255, 0, 0])
    assert np.array_equal(out[1, 0], [0, 0, 255])


def test_error_paths():
    assert not P.is_png(b"")
    with pytest.raises(ValueError, match="signature"):
        P.decode_png(b"JFIF....")
    img = _rand_img(2, 2, 3)
    # 16-bit depth rejected
    data = bytearray(P.encode_png(img))
    data[24] = 16  # IHDR bit-depth byte
    with pytest.raises(ValueError, match="bit depth"):
        P.decode_png(bytes(data))


def test_luma_and_grid_embedding():
    img = np.zeros((4, 8, 3), dtype=np.uint8)
    img[:, 4:, :] = 255  # left half black, right half white
    lum = P.luma(img)
    assert lum.min() == 0.0 and lum.max() == pytest.approx(255.0, abs=0.5)
    emb = P.grid_embedding(lum, rows=2, cols=4)
    assert emb.shape == (8,)
    assert emb[0] == pytest.approx(0.0) and emb[3] == pytest.approx(1.0, abs=0.01)
    # single-channel luma is identity
    g = _rand_img(3, 3, 1)
    assert np.array_equal(P.luma(g), g[:, :, 0].astype(np.float64))


def test_dhash64_properties():
    import numpy as np

    from bid_evaluation_ext.operators.png import dhash64, pool_grid

    rng = np.random.default_rng(3)
    # dims divisible by the 8x9 grid so 2x-upscaled blocks nest exactly
    lum = rng.integers(0, 256, (64, 72)).astype(np.float64)
    h = dhash64(lum)
    assert -(1 << 63) <= h < (1 << 63)
    assert dhash64(lum) == h
    up = np.kron(lum, np.ones((2, 2)))
    assert dhash64(up) == h
    # global luma shift leaves gradients (and the hash) unchanged
    assert dhash64(np.clip(lum + 0.25, 0, 255.25)) == h
    # a forced local gradient flip changes the hash, and only locally
    lo, hi = lum.copy(), lum.copy()
    lo[:8, :8], lo[:8, 8:16] = 0.0, 255.0     # g00 < g01 -> bit 1
    hi[:8, :8], hi[:8, 8:16] = 255.0, 0.0     # g00 > g01 -> bit 0
    d = bin((dhash64(lo) ^ dhash64(hi)) & ((1 << 64) - 1)).count("1")
    assert 0 < d <= 4
    g = pool_grid(lum, 8, 9)
    assert g.shape == (8, 9)
