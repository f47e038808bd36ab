"""VP8L lossless WebP codec: bit-exact round-trips across every
transform/option, the 2-D distance-plane map (hand-pinned decode),
palette bundling tiers, corruption contracts, dispatch wiring."""

from __future__ import annotations

import numpy as np
import pytest

from bid_evaluation_ext.operators.vp8l import (
    _DIST_MAP,
    _BitWriter,
    _emit,
    _write_prefix_code,
    decode_vp8l,
    decode_webp_lossless,
    encode_webp_lossless,
)
from bid_evaluation_ext.operators.webp import build_webp


def _expand(e):
    if e.ndim == 2:
        e = e[:, :, None]
    if e.shape[2] == 1:
        e = np.repeat(e, 3, axis=2)
    if e.shape[2] == 3:
        e = np.dstack([e, np.full(e.shape[:2], 255, np.uint8)])
    return e


def _grad():
    return ((np.add.outer(np.arange(12) * 23, np.arange(16) * 41)
             * 7) % 211).astype(np.uint8)


def test_roundtrip_plain_and_options():
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (13, 17, 4), dtype=np.uint8)
    for kw in ({}, {"use_lz77": False}, {"cache_bits": 4},
               {"subtract_green": True},
               {"color_transform": (25, -30, 12)},
               {"subtract_green": True, "predictor": 7,
                "cache_bits": 3}):
        out = decode_webp_lossless(encode_webp_lossless(img, **kw))
        assert np.array_equal(out, img), kw


@pytest.mark.parametrize("mode", range(14))
def test_roundtrip_every_predictor_mode(mode):
    rng = np.random.default_rng(mode)
    img = rng.integers(0, 256, (9, 11, 4), dtype=np.uint8)
    out = decode_webp_lossless(
        encode_webp_lossless(img, predictor=mode))
    assert np.array_equal(out, img)


def test_roundtrip_fuzz_shapes():
    rng = np.random.default_rng(3)
    for shape in [(1, 1), (1, 9), (9, 1), (2, 2, 3), (31, 5, 4)]:
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        out = decode_webp_lossless(encode_webp_lossless(img))
        assert np.array_equal(out, _expand(img)), shape


def test_alpha_preserved():
    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, (6, 7, 4), dtype=np.uint8)
    img[..., 3] = rng.integers(0, 255, (6, 7), dtype=np.uint8)
    out = decode_webp_lossless(encode_webp_lossless(img))
    assert np.array_equal(out[..., 3], img[..., 3])


def test_palette_bundling_tiers():
    rng = np.random.default_rng(9)
    for k in (2, 4, 16, 17, 256):
        vals = rng.permutation(256)[:k].astype(np.uint8)
        idx = rng.integers(0, k, (13, 19))
        img = np.stack([vals[idx], (vals[idx] * 3) % 256,
                        (vals[idx] * 7) % 256], axis=2).astype(np.uint8)
        out = decode_webp_lossless(
            encode_webp_lossless(img, palette=True))
        assert np.array_equal(out, _expand(img)), k


def test_transform_coded_variant_is_pixel_identical_and_smaller():
    grad = _grad()
    plain = encode_webp_lossless(grad)
    coded = encode_webp_lossless(grad, subtract_green=True,
                                 predictor=11, cache_bits=4)
    assert len(coded) < len(plain) / 3    # the transforms earn keep
    assert np.array_equal(decode_webp_lossless(plain),
                          decode_webp_lossless(coded))


def test_rle_backrefs_compress_constant_rows():
    # 12 distinct constant rows: literals cost ~4 bits each, so the
    # distance-1 runs must win (a fully-constant image would NOT — its
    # single-symbol codes make literals free)
    rows = np.repeat((np.arange(12) * 20 % 256)[:, None], 16,
                     axis=1).astype(np.uint8)
    with_lz = encode_webp_lossless(rows)
    without = encode_webp_lossless(rows, use_lz77=False)
    assert len(with_lz) < len(without)
    assert np.array_equal(decode_webp_lossless(with_lz),
                          _expand(rows))


def test_distance_plane_map_hand_pinned():
    # plane code 1 = _DIST_MAP[0] = (0, 1) -> distance = xsize: a
    # length-4 copy after one full 4-pixel row must duplicate the row.
    # Built by hand so the decoder's table is checked against the
    # spec's (x, y) semantics, not against the encoder.
    assert _DIST_MAP[0] == (0, 1) and _DIST_MAP[1] == (1, 0)
    bw = _BitWriter()
    bw.write(3, 14)                       # w-1
    bw.write(1, 14)                       # h-1
    bw.write(0, 1)                        # alpha hint
    bw.write(0, 3)                        # version
    bw.write(0, 1)                        # no transforms
    bw.write(0, 1)                        # no color cache
    bw.write(0, 1)                        # no meta prefix
    lits = [(10, 1, 5), (20, 2, 6), (30, 3, 7), (40, 4, 8)]
    cg = _write_prefix_code(
        bw, {g: 1 for g, _, _ in lits} | {256 + 3: 1}, 280)
    cr = _write_prefix_code(bw, {r: 1 for _, r, _ in lits}, 256)
    cb = _write_prefix_code(bw, {b: 1 for _, _, b in lits}, 256)
    ca = _write_prefix_code(bw, {255: 4}, 256)
    cd = _write_prefix_code(bw, {0: 1}, 40)
    for g, r, b in lits:
        _emit(bw, cg, g)
        _emit(bw, cr, r)
        _emit(bw, cb, b)
        _emit(bw, ca, 255)
    _emit(bw, cg, 256 + 3)                # length prefix 3 -> 4 pixels
    _emit(bw, cd, 0)                      # distance prefix 0 -> plane 1
    img = decode_vp8l(b"\x2f" + bw.bytes())
    assert img.shape == (2, 4, 4)
    assert np.array_equal(img[1], img[0])
    assert list(img[0, 2, :3]) == [3, 30, 7]   # RGB of third literal


def test_meta_prefix_groups_hand_pinned():
    # 8x4 image, huffman_bits=2 -> 2x1 meta image: the left 4x4 block
    # decodes with group 0's codes, the right with group 1's. Built by
    # hand (the encoder writes a single group), so the decoder's
    # spatially-varying code-group dispatch is exercised directly.
    bw = _BitWriter()
    bw.write(7, 14)
    bw.write(3, 14)
    bw.write(0, 1)
    bw.write(0, 3)
    bw.write(0, 1)                        # no transforms
    bw.write(0, 1)                        # no color cache
    bw.write(1, 1)                        # meta prefix present
    bw.write(0, 3)                        # huffman_bits = 2
    bw.write(0, 1)                        # meta image: no cache
    mg = _write_prefix_code(bw, {0: 1, 1: 1}, 280)
    mo = [_write_prefix_code(bw, {0: 2}, 256) for _ in range(3)]
    _write_prefix_code(bw, {0: 1}, 40)
    for gidx in (0, 1):                   # group index in green
        _emit(bw, mg, gidx)
        for c in mo:
            _emit(bw, c, 0)
    groups = []
    for g, r, b in ((10, 20, 30), (77, 88, 99)):
        groups.append((
            _write_prefix_code(bw, {g: 1}, 280),
            _write_prefix_code(bw, {r: 1}, 256),
            _write_prefix_code(bw, {b: 1}, 256),
            _write_prefix_code(bw, {255: 1}, 256),
            _write_prefix_code(bw, {0: 1}, 40), (g, r, b)))
    for _y in range(4):
        for x in range(8):
            cg, cr, cb, ca, _, (g, r, b) = groups[0 if x < 4 else 1]
            _emit(bw, cg, g)
            _emit(bw, cr, r)
            _emit(bw, cb, b)
            _emit(bw, ca, 255)
    img = decode_vp8l(b"\x2f" + bw.bytes())
    assert img.shape == (4, 8, 4)
    assert (img[:, :4] == [20, 10, 30, 255]).all()
    assert (img[:, 4:] == [88, 77, 99, 255]).all()


def test_corruption_and_lossy_contracts():
    grad = _grad()
    good = encode_webp_lossless(grad)
    with pytest.raises(ValueError):
        decode_webp_lossless(good[:24])   # truncated bitstream
    with pytest.raises(ValueError):
        decode_webp_lossless(build_webp("lossy", width=8, height=8))
    with pytest.raises(ValueError):
        decode_vp8l(b"\x00junk")          # bad signature


def test_image_dispatch_lights_up_for_webp(spark):
    from bid_evaluation_ext.operators.multimodal import image_dhash
    from bid_evaluation_ext.operators.png import encode_png

    grad = _grad()
    df = spark.createDataFrame(
        [(0, encode_png(grad)),
         (1, encode_webp_lossless(grad, subtract_green=True,
                                  predictor=11)),
         (2, build_webp("lossy", width=8, height=8))],
        "media_id long, payload binary")
    rows = {r["media_id"]: r["dhash"] for r in
            image_dhash(df).collect()}
    assert rows[0] == rows[1]             # cross-codec identical hash
    assert rows[2] is None                # lossy -> null, never raises
