"""Netpbm (P5/P6) codec: round-trip, header parsing, dispatch seam."""

from __future__ import annotations

import numpy as np
import pytest

from bid_evaluation_ext.operators.netpbm import (decode_netpbm, encode_pgm,
                                                   encode_ppm, is_netpbm)


def test_pgm_roundtrip_and_header_variants():
    img = (np.arange(24).reshape(4, 6) * 10 % 256).astype(np.uint8)
    data = encode_pgm(img)
    out = decode_netpbm(data)
    assert out.shape == (4, 6, 1)
    assert (out[:, :, 0] == img).all()
    # comments and mixed whitespace in the header are legal
    wonky = b"P5\n# a comment\n 6\t4 # inline? no - own token\n255\n" + \
        img.tobytes()
    # '#' after a token starts a comment to EOL per spec; craft carefully:
    wonky = b"P5\n# full line comment\n6 4\n# another\n255\n" + img.tobytes()
    out2 = decode_netpbm(wonky)
    assert (out2[:, :, 0] == img).all()


def test_ppm_roundtrip_and_luma_shape():
    img = np.zeros((3, 5, 3), dtype=np.uint8)
    img[:, :, 0] = 200
    data = encode_ppm(img)
    assert is_netpbm(data)
    out = decode_netpbm(data)
    assert out.shape == (3, 5, 3)
    assert (out == img).all()


def test_error_paths():
    with pytest.raises(ValueError):
        decode_netpbm(b"P3 1 1 255\n0 0 0")  # ASCII variant unsupported
    with pytest.raises(ValueError):
        decode_netpbm(b"P5 2 2 65535\n" + b"\x00" * 8)  # 16-bit maxval
    with pytest.raises(ValueError):
        decode_netpbm(b"P5 2 2 255\n\x00\x00")  # truncated raster
    with pytest.raises(ValueError):
        encode_ppm(np.zeros((2, 2), dtype=np.uint8))
    # comment between maxval and raster must raise, not decode as pixels
    with pytest.raises(ValueError, match="after raster"):
        decode_netpbm(b"P5 2 2 255\n# sneaky\n" + b"\x00" * 4)
    # trailing junk after the raster also violates strict decode
    with pytest.raises(ValueError, match="after raster"):
        decode_netpbm(b"P5 2 2 255\n" + b"\x00" * 5)
    # a legitimate first pixel of 0x23 ('#') with exact length still decodes
    ok = decode_netpbm(b"P5 2 2 255\n" + b"#\x01\x02\x03")
    assert ok[0, 0, 0] == 0x23


def test_trailing_whitespace_and_concat_streams():
    # benign trailing newline (many writers emit one) decodes (ADVICE r8)
    img = decode_netpbm(b"P5 2 2 255\n\x01\x02\x03\x04\n")
    assert img.shape == (2, 2, 1) and img[1, 1, 0] == 4
    img = decode_netpbm(b"P6 1 1 255\n\x09\x08\x07 \r\n")
    assert img.shape == (1, 1, 3)
    # concatenated multi-image PNM stream: first frame decodes, rest ignored
    two = b"P5 2 2 255\n\x01\x02\x03\x04" + b"P5 1 1 255\n\xff"
    assert decode_netpbm(two)[0, 1, 0] == 2
    # non-whitespace, non-magic trailing bytes still violate strict decode
    with pytest.raises(ValueError, match="after raster"):
        decode_netpbm(b"P5 2 2 255\n\x01\x02\x03\x04junk")


def test_dispatch_seam_and_rec601(spark):
    from bid_evaluation_ext.operators.multimodal import (
        extract_image_features)

    img = np.zeros((2, 2, 3), dtype=np.uint8)
    img[:, :, 1] = 100  # pure green -> luma = 58.7
    rows = [(1, bytearray(encode_ppm(img))),
            (2, bytearray(encode_pgm(np.full((3, 3), 7, dtype=np.uint8))))]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r["media_id"]: r for r in
           extract_image_features(df, strict=True).collect()}
    assert out[1]["width"] == 2 and out[1]["height"] == 2
    assert out[1]["mean_luma"] == pytest.approx(58.7, abs=1e-9)
    assert out[2]["mean_luma"] == pytest.approx(7.0, abs=1e-9)
