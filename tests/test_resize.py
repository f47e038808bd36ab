"""Bilinear resize + letterbox: exactness on affine fields, the
half-pixel convention, clamped-edge upscaling, letterbox geometry,
kernel dispatch + null paths."""

import numpy as np
import pytest

from bid_evaluation_ext.operators.resize import (
    bilinear_resize,
    letterbox,
    resize_bilinear_features,
)


def _affine(w, h, base=0):
    return (base + np.arange(w)[None, :] + 2 * np.arange(h)[:, None]) \
        .astype(np.float64)


def test_exact_on_affine_fields():
    img = _affine(10, 8, base=3)
    out = bilinear_resize(img, 5, 4)
    # bilinear of a linear field is the field at the sample positions
    px = (np.arange(5) + 0.5) * (10 / 5) - 0.5
    py = (np.arange(4) + 0.5) * (8 / 4) - 0.5
    ref = 3 + px[None, :] + 2 * py[:, None]
    assert np.allclose(out, ref, atol=1e-12)
    # mean preservation on affine fields
    assert out.mean() == pytest.approx(img.mean())


def test_half_pixel_convention_and_clamping():
    # 1-D ramp doubled: align_corners=False gives edge replication at
    # the borders and midpoints inside — pin the exact known values
    row = np.array([[0.0, 10.0]])
    out = bilinear_resize(row, 4, 1)[0]
    assert np.allclose(out, [0.0, 2.5, 7.5, 10.0])  # clamped ends
    # align_corners=True would give [0, 10/3, 20/3, 10] — must NOT match
    assert not np.allclose(out, [0, 10 / 3, 20 / 3, 10])
    with pytest.raises(ValueError):
        bilinear_resize(row, 0, 1)


def test_letterbox_geometry_and_fill():
    img = np.full((10, 20), 50.0)  # 2:1 wide
    canvas, sw, sh, px, py = letterbox(img, 8, 8, fill=114.0)
    assert (sw, sh, px, py) == (8, 4, 0, 2)
    assert canvas.shape == (8, 8)
    assert np.all(canvas[2:6, :] == 50.0)           # content band
    assert np.all(canvas[:2, :] == 114.0) and np.all(canvas[6:, :] == 114.0)
    # tall input pads horizontally
    _, sw2, sh2, px2, py2 = letterbox(img.T, 8, 8)
    assert (sw2, sh2, px2, py2) == (4, 8, 2, 0)


def test_kernel_dispatch_and_nulls(spark):
    from bid_evaluation_ext.operators.jpeg import encode_jpeg
    from bid_evaluation_ext.operators.png import encode_png

    img = _affine(16, 8, base=5).astype(np.uint8)
    df = spark.createDataFrame(
        [(1, bytearray(encode_png(img[:, :, None]))),
         (2, bytearray(encode_jpeg(img, qtable=1))),
         (3, bytearray(b"junk"))],
        "media_id long, payload binary")
    got = {r["media_id"]: r for r in
           resize_bilinear_features(df, 5, 4).collect()}
    assert got[1]["resized_mean"] == pytest.approx(got[2]["resized_mean"])
    assert got[1]["resized_mean"] == pytest.approx(img.mean(), abs=1e-9)
    assert got[3]["resized_mean"] is None
    with pytest.raises(Exception):
        resize_bilinear_features(df, 5, 4, strict=True).collect()
