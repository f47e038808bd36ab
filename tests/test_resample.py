"""Polyphase windowed-sinc resampler: tone fidelity, DC gain,
anti-alias suppression (the property naive decimation lacks), length
convention, dispatch + null paths."""

import numpy as np
import pytest

from bid_evaluation_ext.operators.resample import (
    resample_audio,
    resample_poly,
)


def test_tone_fidelity_and_length():
    t = np.arange(4000) / 8000.0
    x = 0.5 * np.sin(2 * np.pi * 440 * t)
    y = resample_poly(x, 16000, 8000)
    assert len(y) == 8000
    ref = 0.5 * np.sin(2 * np.pi * 440 * np.arange(len(y)) / 16000.0)
    assert np.abs(y[200:-200] - ref[200:-200]).max() < 5e-3
    # rational ratio + ceil length convention
    assert len(resample_poly(x, 3, 8)) == -(-4000 * 3 // 8)
    assert len(resample_poly(np.empty(0), 2, 1)) == 0
    assert np.array_equal(resample_poly(x, 5, 5), x)  # identity ratio
    with pytest.raises(ValueError):
        resample_poly(x, 0, 2)


def test_dc_gain_and_alias_suppression():
    dc = resample_poly(np.ones(2000), 3, 2)
    assert abs(dc[len(dc) // 2] - 1.0) < 5e-3
    # 3.5 kHz tone at 8 kHz downsampled to 4 kHz (Nyquist 2 kHz): the
    # anti-alias filter must crush it; naive x[::2] keeps rms ~0.35
    t = np.arange(4000) / 8000.0
    hi = 0.5 * np.sin(2 * np.pi * 3500 * t)
    z = resample_poly(hi, 1, 2)
    assert float(np.sqrt(np.mean(z[200:-200] ** 2))) < 1e-3
    naive = hi[::2]
    assert float(np.sqrt(np.mean(naive ** 2))) > 0.3


def test_resample_audio_kernel(spark):
    from bid_evaluation_ext.operators.flac import encode_flac
    from bid_evaluation_ext.operators.wav import encode_wav

    t = np.arange(2000) / 8000.0
    x = 0.5 * np.sin(2 * np.pi * 200 * t)
    df = spark.createDataFrame(
        [(1, bytearray(encode_wav(x, rate=8000))),
         (2, bytearray(encode_flac(x, rate=8000))),
         (3, bytearray(b"junk"))],
        "media_id long, payload binary")
    got = {r["media_id"]: r for r in
           resample_audio(df, out_rate=12000).collect()}
    assert got[1]["n_out"] == 3000 and got[1]["out_rate"] == 12000
    # lossless containers → identical samples → identical resampled rms
    assert got[1]["rms"] == got[2]["rms"]
    assert got[1]["rms"] == pytest.approx(0.5 / np.sqrt(2), rel=2e-2)
    assert got[3]["rms"] is None
    with pytest.raises(Exception):
        resample_audio(df, out_rate=12000, strict=True).collect()
    with pytest.raises(ValueError):
        resample_audio(df, out_rate=0)
