"""GIF codec: round-trip through the literal encoder (incl. width
growth and clear resets), the hand-packed KwKwK stream, interlace row
reordering, extension skipping, and strict-decode error paths."""

import numpy as np
import pytest

from bid_evaluation_ext.operators.gif import (decode_gif, encode_gif,
                                                is_gif)


def _raster(w, h, d=0, colors=4):
    x = np.arange(w)[None, :]
    y = np.arange(h)[:, None]
    idx = (x + 2 * y + d) % colors
    palette = np.array([[(16 * i + d) % 256, (32 * i + 2 * d) % 256,
                         (48 * i + d) % 256] for i in range(colors)],
                       dtype=np.uint8)
    return palette[idx]


@pytest.mark.parametrize("w,h,colors", [(3, 2, 2), (6, 5, 4), (40, 30, 4),
                                        (17, 13, 200)])
def test_roundtrip(w, h, colors):
    img = _raster(w, h, d=3, colors=colors)
    out = decode_gif(encode_gif(img))
    assert out.shape == (h, w, 3)
    assert np.array_equal(out, img)


def test_roundtrip_crosses_width_boundaries():
    # 4 colors → mcs=2, first_free=6, boundaries at 8/16/32/... — a
    # 40x30=1200-pixel literal stream crosses several; and with 200
    # colors → mcs=8, 70x40=2800 crosses the 512 boundary into 10 bits
    for colors, (w, h) in ((4, (40, 30)), (200, (70, 40))):
        img = _raster(w, h, d=7, colors=colors)
        assert np.array_equal(decode_gif(encode_gif(img)), img)


def test_roundtrip_with_clear_floods():
    img = _raster(25, 20, d=1, colors=4)
    assert np.array_equal(decode_gif(encode_gif(img, clear_every=3)), img)
    assert np.array_equal(decode_gif(encode_gif(img, clear_every=100)), img)


def _pack_codes(codes_widths):
    acc = n = 0
    out = bytearray()
    for code, width in codes_widths:
        acc |= code << n
        n += width
        while n >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            n -= 8
    if n:
        out.append(acc & 0xFF)
    return bytes(out)


def test_kwkwk_case_hand_packed():
    """codes [clear=4, 1, 6, end=5] at width 3 with mcs=2: code 6 ==
    next_code → entry = table[1]+table[1][0] = (1, 1); pixels [1, 1, 1]."""
    lzw = _pack_codes([(4, 3), (1, 3), (6, 3), (5, 3)])
    palette = bytes([0, 0, 0, 10, 20, 30, 0, 0, 0, 0, 0, 0])
    gif = (b"GIF89a" + (3).to_bytes(2, "little") + (1).to_bytes(2, "little")
           + bytes([0x81, 0, 0])         # GCT, 4 entries
           + palette
           + b"\x2c" + b"\x00" * 4
           + (3).to_bytes(2, "little") + (1).to_bytes(2, "little")
           + bytes([0, 2, len(lzw)]) + lzw + b"\x00\x3b")
    out = decode_gif(gif)
    assert np.array_equal(out, np.tile([10, 20, 30], (1, 3, 1)))


def test_interlace_rows_are_reordered():
    img = _raster(5, 11, d=2, colors=4)
    order = ([r for r in range(0, 11, 8)] + [r for r in range(4, 11, 8)]
             + [r for r in range(2, 11, 4)] + [r for r in range(1, 11, 2)])
    data = bytearray(encode_gif(img[order]))  # stored in interlace order
    gct_entries = 2 << (data[10] & 7)
    desc = 13 + 3 * gct_entries
    assert data[desc] == 0x2C
    data[desc + 9] |= 0x40                    # set the interlace flag
    assert np.array_equal(decode_gif(bytes(data)), img)


def test_extensions_are_skipped():
    img = _raster(4, 3, d=5, colors=4)
    data = bytearray(encode_gif(img))
    gct_entries = 2 << (data[10] & 7)
    desc = 13 + 3 * gct_entries
    gce = bytes([0x21, 0xF9, 4, 0, 0, 0, 0, 0])  # graphic control ext
    comment = bytes([0x21, 0xFE, 3]) + b"hey" + b"\x00"
    patched = bytes(data[:desc]) + gce + comment + bytes(data[desc:])
    assert np.array_equal(decode_gif(patched), img)


def test_strict_errors():
    img = _raster(4, 3, colors=4)
    data = encode_gif(img)
    assert is_gif(data) and not is_gif(b"PNG")
    with pytest.raises(ValueError, match="not a GIF"):
        decode_gif(b"nope")
    with pytest.raises(ValueError, match="truncated|trailer|no image"):
        decode_gif(data[:20])
    with pytest.raises(ValueError, match="no image"):
        decode_gif(data[:13 + 3 * (2 << (data[10] & 7))] + b"\x3b")
    with pytest.raises(ValueError):
        decode_gif(data[:-10])  # inside the LZW sub-blocks


def test_too_many_colors_rejected():
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(20, 20, 3), dtype=np.uint8)
    assert len(np.unique(img.reshape(-1, 3), axis=0)) > 256
    with pytest.raises(ValueError, match="> 256"):
        encode_gif(img)
