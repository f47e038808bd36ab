"""BMP codec: 24-bit/paletted round-trips, row order, padding,
dispatch integration, error paths."""

from __future__ import annotations

import numpy as np
import pytest

from bid_evaluation_ext.operators.bmp import decode_bmp, encode_bmp, is_bmp


def _rgb(h=7, w=5, seed=0):
    return np.random.default_rng(seed).integers(
        0, 256, (h, w, 3), dtype=np.uint8)


def test_rgb24_roundtrip_both_row_orders():
    img = _rgb()
    for td in (False, True):
        data = encode_bmp(img, top_down=td)
        assert is_bmp(data)
        assert np.array_equal(decode_bmp(data), img)


def test_paletted_gray_roundtrip():
    gray = np.random.default_rng(1).integers(0, 256, (6, 9),
                                             dtype=np.uint8)
    data = encode_bmp(gray, paletted=True)
    out = decode_bmp(data)
    assert out.shape == (6, 9, 3)
    assert np.array_equal(out[:, :, 0], gray)
    assert np.array_equal(out[:, :, 1], gray)


def test_row_padding_alignment():
    # w=5 → 15-byte rows pad to 16; w=3 paletted → 3 pads to 4
    for w in (3, 5, 6):
        img = _rgb(4, w, seed=w)
        assert np.array_equal(decode_bmp(encode_bmp(img)), img)


def test_error_paths():
    with pytest.raises(ValueError):
        decode_bmp(b"not a bmp")
    data = bytearray(encode_bmp(_rgb()))
    import struct
    struct.pack_into("<I", data, 30, 1)       # RLE8 compression
    with pytest.raises(ValueError):
        decode_bmp(bytes(data))
    with pytest.raises(ValueError):
        decode_bmp(encode_bmp(_rgb())[:60])   # truncated


def test_probe_and_feature_dispatch(spark):
    from bid_evaluation_ext.operators.multimodal import (
        extract_image_features)
    from bid_evaluation_ext.operators.probe import probe_payload
    img = _rgb(8, 11)
    data = encode_bmp(img)
    got = probe_payload(data)
    assert got["format"] == "bmp" and got["width"] == 11 \
        and got["height"] == 8
    df = spark.createDataFrame([(1, data)],
                               "media_id long, payload binary")
    r = extract_image_features(df, strict=True).collect()[0]
    assert r["width"] == 11 and r["height"] == 8
