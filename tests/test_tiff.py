"""Baseline TIFF: byte orders, PackBits, stripping, photometric
inversion, multi-page chain walk, corrupt-input error paths."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from bid_evaluation_ext.operators.tiff import (
    decode_tiff,
    encode_tiff,
    is_tiff,
    packbits_decode,
    packbits_encode,
    tiff_page_count,
)


def _gray(h=24, w=32, seed=0):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, (h, w), dtype=np.uint8)


def _rgb(h=16, w=20, seed=1):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, (h, w, 3), dtype=np.uint8)


def test_packbits_roundtrip_exhaustive_shapes():
    cases = [b"", b"A", b"AAAA", b"ABCDEF", b"AABBBBBBCD" * 7,
             bytes(range(256)), b"\x00" * 400,
             bytes([i % 3 for i in range(301)])]
    for raw in cases:
        enc = packbits_encode(raw)
        assert packbits_decode(enc, len(raw)) == raw
    # long runs split at 128
    raw = b"Z" * 1000
    assert packbits_decode(packbits_encode(raw), 1000) == raw


def test_gray_roundtrip_both_endians():
    img = _gray()
    for be in (False, True):
        data = encode_tiff(img, big_endian=be)
        assert is_tiff(data)
        assert np.array_equal(decode_tiff(data), img)


def test_rgb_roundtrip_with_strips_and_packbits():
    img = _rgb()
    for pb in (False, True):
        for rps in (0, 5, 16):
            data = encode_tiff(img, packbits=pb, rows_per_strip=rps)
            assert np.array_equal(decode_tiff(data), img), (pb, rps)


def test_white_is_zero_inverted():
    img = _gray(8, 8)
    data = bytearray(encode_tiff(img))
    # patch PhotometricInterpretation (tag 262) value 1 -> 0
    i = data.find(struct.pack("<HH", 262, 3))
    assert i > 0
    struct.pack_into("<H", data, i + 8, 0)
    assert np.array_equal(decode_tiff(bytes(data)), 255 - img)


def test_multi_page_count_and_first_page_decode():
    a, b = _gray(6, 7, 2), _gray(6, 7, 3)
    pa, pb = encode_tiff(a), encode_tiff(b)
    # stitch: append b's content and patch a's next-IFD pointer
    base = len(pa)
    joined = bytearray(pa + pb)
    # a's IFD at offset 8 with 9 tags -> next-IFD field position
    nxt_pos = 8 + 2 + 12 * 9
    # b's IFD offset within b is 8; its internal offsets need shifting —
    # instead just repoint to a SECOND copy of a's IFD (same absolute
    # offsets, so page 2 decodes to the same pixels — chain walk is
    # what's under test)
    second_ifd = len(joined)
    joined += pa[8:8 + 2 + 12 * 9] + struct.pack("<I", 0)
    struct.pack_into("<I", joined, nxt_pos, second_ifd)
    assert tiff_page_count(bytes(joined)) == 2
    assert np.array_equal(decode_tiff(bytes(joined)), a)


def test_corrupt_inputs_raise():
    img = _gray(8, 8)
    data = encode_tiff(img)
    with pytest.raises(ValueError):
        decode_tiff(b"not a tiff")
    with pytest.raises(ValueError):
        decode_tiff(data[:40])                  # truncated strips
    bad = bytearray(data)
    i = bad.find(struct.pack("<HH", 259, 3))    # Compression -> LZW(5)
    struct.pack_into("<H", bad, i + 8, 5)
    with pytest.raises(ValueError):
        decode_tiff(bytes(bad))


def test_is_tiff_rejects_other_magics():
    assert not is_tiff(b"\x89PNG\r\n\x1a\n")
    assert not is_tiff(b"II")
    assert is_tiff(encode_tiff(_gray(2, 2)))


def test_probe_and_image_feature_dispatch(spark):
    from bid_evaluation_ext.operators.probe import probe_payload
    from bid_evaluation_ext.operators.multimodal import (
        extract_image_features)
    gray = encode_tiff(_gray(12, 18), packbits=True)
    got = probe_payload(gray)
    assert got["format"] == "tiff" and got["width"] == 18 \
        and got["height"] == 12 and got["n_units"] == 1
    rgb = encode_tiff(_rgb(10, 14), big_endian=True)
    df = spark.createDataFrame([(1, gray), (2, rgb)],
                               "media_id long, payload binary")
    feats = {r["media_id"]: r
             for r in extract_image_features(df, strict=True).collect()}
    assert feats[1]["width"] == 18 and feats[1]["height"] == 12
    assert feats[2]["width"] == 14 and feats[2]["height"] == 10
    assert feats[1]["mean_luma"] is not None


def test_orientation_tag_roundtrip_and_ifd0():
    from bid_evaluation_ext.operators.tiff import (
        T_ORIENTATION, tiff_ifd0)
    img = _gray(6, 9)
    data = encode_tiff(img, orientation=6, packbits=True)
    ifd = tiff_ifd0(data)
    assert ifd[T_ORIENTATION] == [6]
    assert np.array_equal(decode_tiff(data), img)   # pixels unrotated
    # tags stay ascending (spec requirement)
    import struct
    (n,) = struct.unpack_from("<H", data, 8)
    tags = [struct.unpack_from("<H", data, 10 + 12 * i)[0]
            for i in range(n)]
    assert tags == sorted(tags)
    assert T_ORIENTATION not in tiff_ifd0(encode_tiff(img))
