"""Gated loudness: block math, analytic tone values, both gates,
silence handling, normalization, Spark kernel."""

from __future__ import annotations

import math

import numpy as np
import pytest

from bid_evaluation_ext.operators.loudness import (
    block_loudness,
    clip_loudness,
    integrated_loudness,
    normalize_gain,
)
from bid_evaluation_ext.operators.wav import encode_wav

RATE = 8000


def _tone(n, amp, freq=400):
    # 400 Hz at 8 kHz: exactly 20 cycles per 400 ms block, so every
    # block's mean square is the analytic amp^2/2
    return amp * np.sin(2 * np.pi * freq * np.arange(n) / RATE)


def _lufs_of(amp):
    return -0.691 + 10 * math.log10(amp * amp / 2.0)


def test_constant_tone_matches_analytic_value():
    x = _tone(4 * RATE, 0.5)
    got = integrated_loudness(x, RATE)
    assert abs(got - _lufs_of(0.5)) < 0.01
    L = block_loudness(x, RATE)
    assert len(L) == 1 + (4 * RATE - 3200) // 800
    assert np.abs(L - _lufs_of(0.5)).max() < 0.01


def test_absolute_gate_ignores_silence_padding():
    # loudness must NOT change when silence is appended (the property
    # the gate exists for)
    x = _tone(2 * RATE, 0.4)
    padded = np.concatenate([x, np.zeros(4 * RATE)])
    a = integrated_loudness(x, RATE)
    b = integrated_loudness(padded, RATE)
    # boundary blocks straddling the tone->silence edge legitimately
    # survive the relative gate (correct BS.1770 behavior), shifting
    # the value by a fraction of an LU — NOT by the -300 LUFS the
    # ungated mean would move
    assert abs(a - b) < 0.5
    assert integrated_loudness(np.zeros(2 * RATE), RATE) is None


def test_relative_gate_drops_quiet_tail():
    # loud tone + very quiet tone (-40 dB below): relative gate (-10
    # LU) drops the quiet blocks, so integrated ~ loud-only value
    loud = _tone(2 * RATE, 0.5)
    quiet = _tone(2 * RATE, 0.005)
    both = np.concatenate([loud, quiet])
    got = integrated_loudness(both, RATE)
    assert abs(got - _lufs_of(0.5)) < 0.6
    # without the quiet part being droppable (amp within 10 LU) the
    # value shifts toward the mixture
    mid = np.concatenate([loud, _tone(2 * RATE, 0.3)])
    assert integrated_loudness(mid, RATE) < _lufs_of(0.5) - 0.5


def test_normalize_gain_hits_target():
    x = _tone(2 * RATE, 0.2)
    y = normalize_gain(x, RATE, target_lufs=-23.0)
    assert abs(integrated_loudness(y, RATE) + 23.0) < 0.05
    assert np.array_equal(normalize_gain(np.zeros(RATE), RATE),
                          np.zeros(RATE))


def test_spark_kernel(spark):
    rows = [(0, encode_wav(_tone(2 * RATE, 0.5), rate=RATE)),
            (1, encode_wav(np.zeros(2 * RATE), rate=RATE)),
            (2, b"junk")]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: r for r in clip_loudness(df).collect()}
    assert abs(got[0]["integrated_lufs"] - _lufs_of(0.5)) < 0.05
    assert got[0]["n_gated_blocks"] == got[0]["n_blocks"]
    assert got[1]["integrated_lufs"] is None and got[1]["n_blocks"] > 0
    assert got[2]["integrated_lufs"] is None


def test_registry_goldens_track_analytic_within_straddle_margin():
    """The frozen mm_loudness goldens sit a deterministic ~0.34 LU
    below the ungated analytic tone value (the tone->silence straddle
    blocks) — pin that relationship so a silent regression in either
    the fixture or the gate can't hide inside the golden table."""
    goldens = {0: -24.0424, 1: -18.0207, 2: -14.4986,
               3: -11.9994, 4: -10.0612, 5: -8.4775}
    for c, lufs in goldens.items():
        a = (1 + c) / 10.0
        analytic = -0.691 + 10 * math.log10(a * a / 2)
        assert 0.25 < analytic - lufs < 0.45, (c, analytic, lufs)


# ---------------------------------------------------------------- K-weighting

def test_k_coeffs_reproduce_bs1770_48k_tables():
    """The closed forms must reproduce the ITU-R BS.1770-4 Table 1/2
    coefficients at 48 kHz (the only published rate)."""
    from bid_evaluation_ext.operators.loudness import k_weighting_coeffs
    (bs, as_), (bh, ah) = k_weighting_coeffs(48000)
    ref_bs = (1.53512485958697, -2.69169618940638, 1.19839281085285)
    ref_as = (1.0, -1.69065929318241, 0.73248077421585)
    ref_ah = (1.0, -1.99004745483398, 0.99007225036621)
    for got, ref in ((bs, ref_bs), (as_, ref_as),
                     (bh, (1.0, -2.0, 1.0)), (ah, ref_ah)):
        assert np.abs(np.array(got) - np.array(ref)).max() < 1e-9


def test_k_weight_equals_sequential_biquads():
    """The FFT/IR fast path must equal the exact sequential cascade."""
    from bid_evaluation_ext.operators.loudness import (
        biquad, k_weight, k_weighting_coeffs)
    rng = np.random.default_rng(7)
    x = rng.standard_normal(6000)
    (bs, as_), (bh, ah) = k_weighting_coeffs(RATE)
    exact = biquad(biquad(x, bs, as_), bh, ah)
    assert np.abs(k_weight(x, RATE) - exact).max() < 1e-9


def test_k_weighted_997hz_calibration_tone():
    """BS.1770's calibration property: a full-scale 997 Hz sine at
    48 kHz measures -3.01 LUFS (that is what the -0.691 offset is
    FOR). Run at 48 kHz where the spec tables apply verbatim."""
    t = np.arange(5 * 48000)
    x = np.sin(2 * np.pi * 997.0 * t / 48000.0)
    got = integrated_loudness(x, 48000, weighting="k")
    assert abs(got - (-3.01)) < 0.05


def test_k_weighting_gain_matches_analytic_frequency_response():
    """A steady tone's K-weighted LUFS minus unweighted LUFS must be
    the cascade's analytic |H|^2 gain at that frequency."""
    from bid_evaluation_ext.operators.loudness import k_weighting_coeffs

    def h2_db(f, rate):
        w = 2 * np.pi * f / rate
        z = np.exp(-1j * w)
        g = 1.0
        for b, a in k_weighting_coeffs(rate):
            g *= abs((b[0] + b[1] * z + b[2] * z * z)
                     / (a[0] + a[1] * z + a[2] * z * z))
        return 20 * math.log10(g)

    for freq in (100.0, 500.0, 3000.0):
        x = _tone(4 * RATE, 0.5, freq=freq)
        # skip the filter's startup transient: measure steady blocks only
        un = integrated_loudness(x, RATE)
        kw = integrated_loudness(x, RATE, weighting="k")
        assert abs((kw - un) - h2_db(freq, RATE)) < 0.12, freq
    # the shelf boosts HF: 3 kHz must read ~+3..5 dB over unweighted
    hf = h2_db(3000.0, RATE)
    assert 2.0 < hf < 6.0


def test_k_weighted_gate_still_drops_silence():
    x = np.concatenate([_tone(2 * RATE, 0.4), np.zeros(RATE)])
    kw = integrated_loudness(x, RATE, weighting="k")
    full = integrated_loudness(_tone(2 * RATE, 0.4), RATE, weighting="k")
    # silence blocks (-300 LUFS) are gated OUT; only the tone→silence
    # straddle blocks legitimately remain (±0.5 dB), never the 1/3 of
    # the clip that is digital silence (which would read ~-1.8 dB off)
    assert abs(kw - full) < 0.5
    assert integrated_loudness(np.zeros(3 * RATE), RATE,
                               weighting="k") is None


def test_weighting_rejects_unknown():
    with pytest.raises(ValueError):
        block_loudness(np.zeros(8000), RATE, weighting="a")
    # clip_loudness validates eagerly on the driver
    with pytest.raises(ValueError):
        clip_loudness(None, weighting="z")


def test_clip_loudness_k_weighted_kernel(spark):
    rows = []
    for i in range(4):
        amp = 0.2 + 0.2 * i
        x = np.concatenate([_tone(2 * RATE, amp, freq=500 * (i + 1)),
                            np.zeros(RATE)])
        rows.append((i, encode_wav(x, rate=RATE)))
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: r
           for r in clip_loudness(df, weighting="k").collect()}
    for i in range(4):
        amp, freq = 0.2 + 0.2 * i, 500 * (i + 1)
        x = np.concatenate([_tone(2 * RATE, amp, freq=freq),
                            np.zeros(RATE)])
        # encode_wav quantizes to int16 — decode round-trip via the local path
        from bid_evaluation_ext.operators.multimodal import decode_audio
        rate, s = decode_audio(encode_wav(x, rate=RATE))
        want = integrated_loudness(s, rate, weighting="k")
        assert abs(got[i]["integrated_lufs"] - want) < 1e-9


# ---------------------------------------------------------------- true peak

def test_true_peak_recovers_intersample_crest():
    from bid_evaluation_ext.operators.loudness import true_peak
    t = np.arange(2 * RATE)
    # rate/4 sine at phase pi/4: every sample is 0.707*A, crest between
    x = 0.5 * np.sin(2 * np.pi * (RATE / 4) * t / RATE + np.pi / 4)
    assert abs(np.abs(x).max() - 0.5 / math.sqrt(2)) < 1e-9
    assert abs(true_peak(x) - 0.5) < 1e-6
    # low-frequency sine: sample peak IS the true peak
    y = 0.5 * np.sin(2 * np.pi * 100 * t / RATE)
    assert abs(true_peak(y) - 0.5) < 1e-6
    assert true_peak(np.zeros(100)) == 0.0
    assert true_peak(np.empty(0)) == 0.0


def test_clip_true_peak_kernel_flags_intersample_overs(spark):
    from bid_evaluation_ext.operators.loudness import clip_true_peak
    from bid_evaluation_ext.operators.wav import encode_wav
    t = np.arange(RATE)
    rows = [
        (0, encode_wav(0.5 * np.sin(2 * np.pi * 100 * t / RATE),
                       rate=RATE)),
        (1, encode_wav(1.05 * np.sin(2 * np.pi * 2000 * t / RATE
                                     + np.pi / 4), rate=RATE)),
        (2, encode_wav(np.zeros(RATE), rate=RATE)),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: r for r in clip_true_peak(df).collect()}
    assert not got[0]["intersample_over"]
    assert abs(got[0]["true_peak_dbtp"] - got[0]["sample_peak_db"]) < 0.01
    # every stored sample legal, true peak over full scale
    assert got[1]["sample_peak_db"] < 0 < got[1]["true_peak_dbtp"]
    assert got[1]["intersample_over"]
    assert got[2]["true_peak_dbtp"] is None
