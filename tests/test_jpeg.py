"""Baseline JPEG codec: exact blockwise-constant round trips, lossy-bound
round trips across quality/subsampling/restart settings, error paths, and
the Spark feature kernel's magic-byte dispatch."""

import numpy as np
import pytest

from bid_evaluation_ext.operators.jpeg import (
    ZIGZAG, decode_jpeg, encode_jpeg, is_jpeg, quality_qtables,
)


def _gradient(h, w, a=7, b=3):
    return ((np.arange(w)[None, :] * a + np.arange(h)[:, None] * b)
            % 256).astype(np.uint8)


def test_zigzag_is_a_permutation_with_known_prefix():
    assert sorted(ZIGZAG) == list(range(64))
    assert ZIGZAG[:8] == [0, 1, 8, 16, 9, 2, 3, 10]
    assert ZIGZAG[-3:] == [47, 55, 62, 63][-3:]


def test_blockwise_constant_gray_roundtrip_is_exact():
    # constant 8x8 blocks have pure-DC DCTs; with a flat q=1 table the DC
    # survives quantization untouched, so decode == input bit-for-bit
    rng = np.random.default_rng(11)
    for hb, wb in [(1, 1), (2, 3), (3, 2)]:
        blocks = rng.integers(0, 256, size=(hb, wb))
        img = np.repeat(np.repeat(blocks, 8, 0), 8, 1).astype(np.uint8)
        dec = decode_jpeg(encode_jpeg(img, qtable=1))
        assert dec.shape == (hb * 8, wb * 8, 1)
        assert np.array_equal(dec[:, :, 0], img)


def test_gradient_gray_q1_is_near_exact_and_crops_non_multiple_dims():
    img = _gradient(10, 13, a=11, b=5)
    dec = decode_jpeg(encode_jpeg(img, qtable=1))
    assert dec.shape == (10, 13, 1)
    assert np.abs(dec[:, :, 0].astype(int) - img.astype(int)).max() <= 4


def test_color_roundtrip_within_lossy_bounds():
    img = np.stack([_gradient(12, 20, a=9 + c, b=4) for c in range(3)],
                   axis=2).astype(np.uint8)
    for subsample in (False, True):
        dec = decode_jpeg(encode_jpeg(img, quality=92, subsample=subsample))
        assert dec.shape == img.shape
        err = np.abs(dec.astype(int) - img.astype(int)).mean()
        assert err < (12 if subsample else 6), (subsample, err)


def test_higher_quality_decodes_closer():
    x = np.arange(32)[None, :] / 8.0
    y = np.arange(24)[:, None] / 6.0
    smooth = np.stack(
        [(128 + 60 * np.sin(x + c) + 40 * np.cos(y)).clip(0, 255)
         for c in range(3)], axis=2).astype(np.uint8)
    errs = [np.abs(decode_jpeg(encode_jpeg(smooth, quality=q,
                                           subsample=True)).astype(int)
                   - smooth.astype(int)).mean()
            for q in (30, 60, 95)]
    assert errs[0] >= errs[1] >= errs[2]


def test_restart_markers_roundtrip():
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(24, 40)).astype(np.uint8)
    plain = decode_jpeg(encode_jpeg(img, qtable=1))
    for ri in (1, 2, 5):
        dec = decode_jpeg(encode_jpeg(img, qtable=1, restart_interval=ri))
        # restart markers change framing, not content
        assert np.array_equal(dec, plain)
    col = rng.integers(0, 256, size=(18, 20, 3)).astype(np.uint8)
    a = decode_jpeg(encode_jpeg(col, quality=85, subsample=True))
    b = decode_jpeg(encode_jpeg(col, quality=85, subsample=True,
                                restart_interval=2))
    assert np.array_equal(a, b)


def test_quality_qtable_scaling_monotone():
    l50, _ = quality_qtables(50)
    l90, _ = quality_qtables(90)
    l10, _ = quality_qtables(10)
    assert (l90 <= l50).all() and (l50 <= l10).all()
    assert (quality_qtables(100)[0] == 1).all()


def test_error_paths():
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"\x00\x01\x02")
    full = encode_jpeg(_gradient(8, 8))
    with pytest.raises(ValueError):
        decode_jpeg(full[:40])          # truncated inside DQT
    with pytest.raises(ValueError):
        decode_jpeg(full[:-300])        # truncated entropy data
    assert is_jpeg(full) and not is_jpeg(b"\x89PNG")


def test_feature_kernel_dispatches_png_and_jpeg(spark):
    from bid_evaluation_ext.operators.multimodal import (
        extract_image_features,
    )
    from bid_evaluation_ext.operators.png import encode_png

    # same blockwise-constant pixels shipped once as PNG, once as JPEG
    # (q=1 flat table -> exact), so decoded features must agree exactly
    blocks = np.array([[10, 200, 55], [128, 0, 255]])
    img = np.repeat(np.repeat(blocks, 8, 0), 8, 1).astype(np.uint8)
    rows = [(0, bytearray(encode_png(img))),
            (1, bytearray(encode_jpeg(img, qtable=1)))]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: r for r in
           extract_image_features(df, strict=True).collect()}
    assert got[0]["width"] == got[1]["width"] == 24
    assert got[0]["height"] == got[1]["height"] == 16
    assert got[0]["mean_luma"] == pytest.approx(got[1]["mean_luma"])
    assert got[0]["embedding"] == pytest.approx(got[1]["embedding"])


def test_decoder_fuzz_always_raises_value_error():
    # corrupt media in a 100-TB scan must be a CATCHABLE decode failure:
    # every truncation and random byte corruption raises ValueError, never
    # IndexError/KeyError/struct.error, and never a giant allocation
    rng = np.random.default_rng(0)
    base = encode_jpeg(rng.integers(0, 256, size=(16, 16)).astype(np.uint8),
                       qtable=1)
    for cut in range(2, len(base), 3):
        try:
            decode_jpeg(base[:cut])
        except ValueError:
            pass
    for _ in range(150):
        b = bytearray(base)
        for _ in range(rng.integers(1, 8)):
            b[rng.integers(2, len(b))] = rng.integers(0, 256)
        try:
            decode_jpeg(bytes(b))
        except ValueError:
            pass


def test_implausible_dimensions_rejected():
    # hand-build an SOF claiming a 65535x65535 frame: must fail fast as a
    # decode error, not allocate 4 GB of planes
    img = _gradient(8, 8)
    data = bytearray(encode_jpeg(img))
    sof = data.find(b"\xff\xc0")
    assert sof > 0
    data[sof + 5:sof + 9] = (65535).to_bytes(2, "big") * 2
    with pytest.raises(ValueError, match="implausible"):
        decode_jpeg(bytes(data))
