"""Media quality gates: hand-computable feature values, gate semantics
(blank/clipped/silent media score as expected), dispatch + null paths."""

import numpy as np
import pytest

from bid_evaluation_ext.operators.mediaquality import (
    audio_quality,
    audio_quality_features,
    image_quality,
    image_quality_features,
)


def test_image_features_hand_values():
    # 2x2 gray: [[0, 255], [0, 255]] → contrast = 127.5 (population),
    # horizontal grads |255| ×2, vertical 0 → sharpness 255
    img = np.array([[0, 255], [0, 255]], dtype=np.uint8)[:, :, None]
    f = image_quality_features(img)
    assert f["contrast"] == pytest.approx(127.5)
    assert f["sharpness"] == pytest.approx(255.0)
    assert f["dark_frac"] == pytest.approx(0.5)
    assert f["bright_frac"] == pytest.approx(0.5)
    # a blank (single-color) image gates out: zero contrast + sharpness
    blank = np.full((8, 8, 1), 128, dtype=np.uint8)
    f = image_quality_features(blank)
    assert f["contrast"] == 0.0 and f["sharpness"] == 0.0
    assert f["dark_frac"] == 0.0 and f["bright_frac"] == 0.0


def test_audio_features_hand_values():
    # half silence, half full-scale clipping
    s = np.concatenate([np.zeros(100), np.full(100, 32767 / 32768)])
    f = audio_quality_features(s)
    assert f["silence_ratio"] == pytest.approx(0.5)
    assert f["clip_ratio"] == pytest.approx(0.5)
    assert f["peak"] == pytest.approx(32767 / 32768)
    # constant-magnitude signal → crest factor exactly 0 dB
    sq = np.tile([0.5, -0.5], 200)
    f = audio_quality_features(sq)
    assert f["crest_db"] == 0.0 and f["dc_offset"] == 0.0
    assert audio_quality_features(np.empty(0))["silence_ratio"] == 1.0


def test_kernels_dispatch_and_nulls(spark):
    from bid_evaluation_ext.operators.g711 import encode_wav_g711
    from bid_evaluation_ext.operators.jpeg import encode_jpeg
    from bid_evaluation_ext.operators.png import encode_png
    from bid_evaluation_ext.operators.wav import encode_wav

    img = ((np.arange(16)[None, :] + 7 * np.arange(8)[:, None]) % 256) \
        .astype(np.uint8)
    idf = spark.createDataFrame(
        [(1, bytearray(encode_png(img[:, :, None]))),
         (2, bytearray(encode_jpeg(img, qtable=1))),
         (3, bytearray(b"junk"))],
        "media_id long, payload binary")
    got = {r["media_id"]: r for r in image_quality(idf).collect()}
    # identical pixels through PNG and (flat-q1) JPEG → identical features
    assert got[1]["contrast"] == got[2]["contrast"] > 0
    assert got[1]["sharpness"] == got[2]["sharpness"] > 0
    assert got[3]["contrast"] is None
    with pytest.raises(Exception):
        image_quality(idf, strict=True).collect()

    sq = np.tile([0.5, -0.5], 400)
    adf = spark.createDataFrame(
        [(1, bytearray(encode_wav(sq, rate=8000))),
         (2, bytearray(encode_wav_g711(sq, rate=8000, law="alaw"))),
         (3, bytearray(b"junk"))],
        "media_id long, payload binary")
    got = {r["media_id"]: r for r in audio_quality(adf).collect()}
    assert got[1]["crest_db"] == 0.0 and got[1]["clip_ratio"] == 0.0
    assert got[2]["peak"] == pytest.approx(16128 / 32768)  # A-law level
    assert got[3]["peak"] is None