"""Pure-stdlib FLAC codec: lossless roundtrips (MD5-verified), stereo
decorrelation modes, coded-number coding, fuzz hardening, and kernel
dispatch parity with WAV inside extract_audio_features."""

from __future__ import annotations

import numpy as np
import pytest

from bid_evaluation_ext.operators import flac


RNG = np.random.default_rng(7)


@pytest.mark.parametrize("strategy", ["verbatim", "fixed", "auto"])
def test_mono_roundtrip_md5_verified(strategy):
    s = RNG.integers(-3000, 3000, size=5000).astype(np.int64)
    p = flac.encode_flac(s, rate=8000, strategy=strategy)
    rate, pcm = flac.decode_flac_pcm(p, verify_md5=True)
    assert rate == 8000
    assert np.array_equal(pcm[:, 0], s)


def test_constant_subframe_roundtrip():
    c = np.full(1000, -123, dtype=np.int64)
    p = flac.encode_flac(c, strategy="auto")
    _, pcm = flac.decode_flac_pcm(p, verify_md5=True)
    assert np.array_equal(pcm[:, 0], c)


@pytest.mark.parametrize("mode", ["independent", "mid_side"])
def test_stereo_roundtrip(mode):
    st = RNG.integers(-20000, 20000, size=(3000, 2)).astype(np.int64)
    p = flac.encode_flac(st, rate=44100, strategy="fixed", stereo_mode=mode)
    rate, pcm = flac.decode_flac_pcm(p, verify_md5=True)
    assert rate == 44100
    assert np.array_equal(pcm, st)


def test_multiframe_and_short_last_frame():
    s = RNG.integers(-100, 100, size=9000).astype(np.int64)
    p = flac.encode_flac(s, block_size=4096, strategy="fixed")
    _, pcm = flac.decode_flac_pcm(p, verify_md5=True)
    assert np.array_equal(pcm[:, 0], s)


def test_24bit_depth_roundtrip():
    s = RNG.integers(-(1 << 22), 1 << 22, size=2000).astype(np.int64)
    p = flac.encode_flac(s, bps=24, strategy="verbatim")
    _, pcm = flac.decode_flac_pcm(p, verify_md5=True)
    assert np.array_equal(pcm[:, 0], s)


def test_float_contract_matches_wav_scaling():
    w = 0.5 * np.sin(np.arange(4000) * 0.05)
    p = flac.encode_flac(w, rate=16000)
    rate, mono = flac.decode_flac(p)
    assert rate == 16000
    assert float(np.sqrt((mono ** 2).mean())) == pytest.approx(
        0.5 / np.sqrt(2), abs=1e-3)
    assert np.abs(mono).max() <= 1.0


def test_coded_number_roundtrip_full_range():
    for val in (0, 127, 128, 2047, 2048, 65535, 65536, 1 << 20,
                (1 << 31) + 5, (1 << 36) - 1):
        bw = flac._BitWriter()
        flac._write_coded_number(bw, val)
        assert flac._read_coded_number(flac._BitReader(bw.bytes())) == val


def test_crc_catches_corruption():
    s = RNG.integers(-500, 500, size=2000).astype(np.int64)
    p = bytearray(flac.encode_flac(s, strategy="fixed"))
    p[-10] ^= 0x40  # flip a bit inside the last frame's payload
    with pytest.raises(ValueError):
        flac.decode_flac_pcm(bytes(p))


def test_fuzz_maps_to_valueerror():
    s = RNG.integers(-500, 500, size=600).astype(np.int64)
    good = flac.encode_flac(s, strategy="fixed")
    cases = [b"", b"fLaX123", good[:4], good[:20], good[:60],
             good[:len(good) // 2]]
    rng = np.random.default_rng(13)
    for _ in range(200):
        cases.append(b"fLaC" + bytes(rng.integers(0, 256, size=int(
            rng.integers(0, 80)), dtype=np.uint8)))
    for _ in range(100):
        b = bytearray(good)
        i = int(rng.integers(4, len(b)))
        b[i] = int(rng.integers(0, 256))
        cases.append(bytes(b))
    for payload in cases:
        try:
            rate, pcm = flac.decode_flac_pcm(payload, verify_md5=True)
        except ValueError:
            continue  # the one allowed failure type
        # a mutation that survives CRCs must still decode something sane
        assert rate > 0 and pcm.ndim == 2


def test_kernel_dispatch_flac_equals_wav(spark):
    """The audio kernel's features for the same waveform must agree across
    containers (both decode to the identical quantized samples)."""
    from bid_evaluation_ext.operators.multimodal import (
        extract_audio_features,
    )
    from bid_evaluation_ext.operators.wav import encode_wav

    n, h = 1600, 12
    sgn = 1 - 2 * ((np.arange(n) // h) % 2)
    wave_f = 0.5 * sgn
    rows = [(0, bytearray(encode_wav(wave_f, rate=8000))),
            (1, bytearray(flac.encode_flac(wave_f, rate=8000, bps=16)))]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: r for r in
           extract_audio_features(media, strict=True).collect()}
    assert got[0]["sample_rate"] == got[1]["sample_rate"] == 8000
    assert got[0]["duration_ms"] == got[1]["duration_ms"]
    assert got[0]["rms"] == pytest.approx(got[1]["rms"], abs=1e-12)
    assert got[0]["zero_crossings"] == got[1]["zero_crossings"]
    assert np.allclose(got[0]["mfcc_like"], got[1]["mfcc_like"], atol=1e-9)
