"""Designed 512-tap near-PR pseudo-QMF (VERDICT r9 task 4): prototype
shape invariants, measured PR bound, codec integration, and the
cross-filterbank interop error bound recorded in NOTES.md."""

from __future__ import annotations

import math

import numpy as np
import pytest

from bid_evaluation_ext.operators import mp2, mp2_proto


def test_prototype_shape_and_symmetry():
    p = mp2_proto.design_prototype()
    assert p.shape == (512,)
    assert np.abs(p - p[::-1]).max() == 0.0            # exact symmetry
    # a lowpass: energy concentrated in the middle, tails tiny
    assert np.abs(p[:32]).max() < 0.05 * np.abs(p).max()


def test_reconstruction_snr_pinned():
    snr, mx = mp2_proto.reconstruction_snr()
    assert snr >= 74.0, snr            # measured ~76.4 dB at design time
    assert mx <= 3.5e-4, mx
    # a second seed agrees (the bound is not one lucky draw)
    snr2, _ = mp2_proto.reconstruction_snr(seed=1)
    assert snr2 >= 74.0, snr2


def test_exact_design_delay():
    x = np.zeros(2048)
    x[900] = 1.0
    y = mp2_proto.synthesize_pqmf(mp2_proto.analyze_pqmf(x))
    assert int(np.argmax(np.abs(y))) == 900
    assert abs(y[900] - 1.0) < 1e-3


def test_analysis_bounded_for_unit_input():
    rng = np.random.default_rng(5)
    worst = 0.0
    for _ in range(20):
        x = np.sign(rng.normal(size=4096))
        worst = max(worst, np.abs(mp2_proto.analyze_pqmf(x)).max())
    assert worst <= 1.0 + 1e-12        # under the 2.0 scalefactor ceiling


def _tone(freq, n=6400, rate=32000, amp=0.6):
    return amp * np.sin(2 * np.pi * freq * np.arange(n) / rate)


def test_codec_roundtrip_with_pqmf_bank():
    x = _tone(440)
    enc = mp2.encode_mp2(x, rate=32000, filterbank="pqmf512")
    rate, d = mp2.decode_mp2(enc, filterbank="pqmf512")
    assert rate == 32000
    err = ((x - d[: len(x)]) ** 2).sum()
    snr = 10 * math.log10((x ** 2).sum() / err)
    assert snr >= 50.0, snr            # quantization + ~-76 dB PR error
    # the bitstream layout is bank-independent: header parses, and the
    # MDCT decode of a pqmf stream still runs (approximately)
    assert mp2.is_mp2(enc)
    rate2, d2 = mp2.decode_mp2(enc)
    assert rate2 == 32000 and len(d2) >= len(x)


def test_unknown_filterbank_rejected():
    with pytest.raises(ValueError):
        mp2.encode_mp2(_tone(300, n=1152), filterbank="iso")
    enc = mp2.encode_mp2(_tone(300, n=1152))
    with pytest.raises(ValueError):
        mp2.decode_mp2(enc, filterbank="iso")


def test_cross_filterbank_error_bounds():
    """The committed interop measurements (NOTES.md; this test keeps
    them honest):

    1. MDCT-encoded streams read by the 512-tap bank (and vice versa)
       are only ROUGHLY recognizable — gain-aligned SNR ~11 dB on a
       tone — because the two banks tile time-frequency differently.
    2. Streams encoded with the DESIGNED 512-tap window and decoded
       with a DIFFERENT near-PR prototype of the same family (the
       un-POCS'd Kaiser seed — the in-repo proxy for a third-party
       ISO synthesis window) reconstruct at ≥60 dB: the pqmf512 bank
       is the interop path, and window mismatch within the family is
       benign.
    """
    x = _tone(1000)
    n = len(x)

    def gain_aligned_snr(d, ref):
        a = np.dot(d, ref) / np.dot(d, d)
        err = ((ref - a * d) ** 2).sum()
        return 10 * math.log10((ref ** 2).sum() / err)

    enc = mp2.encode_mp2(x, rate=32000, filterbank="mdct")
    _, d = mp2.decode_mp2(enc, filterbank="pqmf512")
    cross = gain_aligned_snr(d[:n], x)
    assert 5.0 <= cross <= 25.0, cross   # rough, as measured (~11 dB)

    # family-mismatch decode: POCS analysis, Kaiser-seed synthesis
    p = np.arange(mp2_proto.TAPS) - mp2_proto.DELAY / 2.0
    seed = (np.sinc(mp2_proto._SEED_CUTOFF * p / np.pi)
            * mp2_proto._SEED_CUTOFF / np.pi
            * np.kaiser(mp2_proto.TAPS, mp2_proto._SEED_BETA))
    seed = seed / np.sqrt(mp2_proto._system_gain(seed))
    _, f_seed = mp2_proto._modulation(seed)
    _, _, fwd = mp2_proto._banks()

    rng = np.random.default_rng(0)
    xx = rng.uniform(-1, 1, 6400)
    S = mp2_proto.analyze_pqmf(xx) / fwd
    nb = len(S)
    chunks = S @ f_seed
    y = np.zeros(nb * mp2_proto.M + mp2_proto.TAPS)
    for t in range(nb):
        y[t * mp2_proto.M:t * mp2_proto.M + mp2_proto.TAPS] += chunks[t]
    y = y[mp2_proto.DELAY:nb * mp2_proto.M]
    lo, hi = mp2_proto.TAPS, len(xx) - mp2_proto.TAPS
    fam = gain_aligned_snr(y[lo:hi], xx[lo:hi])
    assert fam >= 60.0, fam              # measured ~67 dB on noise
