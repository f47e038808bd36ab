"""G.711 (μ-law/A-law) + IMA-ADPCM lossy audio codecs: bit-exactness
against CPython's audioop (the Sun g711.c / IMA reference, present
through 3.12), container roundtrips, quantization-error bounds, the
multimodal dispatch seam, and error paths."""

import numpy as np
import pytest

from bid_evaluation_ext.operators.adpcm import (
    decode_wav_adpcm,
    encode_wav_adpcm,
)
from bid_evaluation_ext.operators.g711 import (
    alaw_decode,
    alaw_encode,
    decode_wav_g711,
    encode_wav_g711,
    ulaw_decode,
    ulaw_encode,
    wav_format_tag,
)

import warnings

with warnings.catch_warnings():
    warnings.simplefilter("ignore", DeprecationWarning)
    try:  # stdlib until 3.12; the codecs must outlive its removal
        import audioop
    except ImportError:  # pragma: no cover
        audioop = None


@pytest.mark.skipif(audioop is None, reason="audioop removed (3.13+)")
def test_g711_bit_exact_vs_audioop():
    pcm = np.arange(-32768, 32768, dtype=np.int16)
    raw = pcm.tobytes()
    assert ulaw_encode(pcm).tobytes() == audioop.lin2ulaw(raw, 2)
    assert alaw_encode(pcm).tobytes() == audioop.lin2alaw(raw, 2)
    codes = np.arange(256, dtype=np.uint8)
    assert ulaw_decode(codes).tobytes() == audioop.ulaw2lin(codes.tobytes(), 2)
    assert alaw_decode(codes).tobytes() == audioop.alaw2lin(codes.tobytes(), 2)


@pytest.mark.skipif(audioop is None, reason="audioop removed (3.13+)")
def test_adpcm_nibbles_match_audioop():
    t = np.arange(401)
    sig = 0.6 * np.sin(2 * np.pi * t / 50) + 0.2 * np.sin(2 * np.pi * t / 13)
    pcm = (np.clip(sig, -1, 1) * 32767).astype(np.int16)
    # one 401-sample block so the whole stream shares one state chain
    payload = encode_wav_adpcm(sig, rate=8000, block_align=204)
    from bid_evaluation_ext.operators.g711 import parse_wav_chunks
    _, data, _ = parse_wav_chunks(payload)
    ours = []
    for b in data[4:]:
        ours += [b & 0x0F, b >> 4]          # WAV packs LOW nibble first
    ref, _ = audioop.lin2adpcm(pcm[1:].tobytes(), 2, (int(pcm[0]), 0))
    refn = []
    for b in ref:
        refn += [b >> 4, b & 0x0F]          # audioop packs HIGH first
    assert ours[:len(refn)] == refn


def test_g711_known_codes():
    # silence: μ-law 0xFF, A-law 0xD5 (ITU tables)
    assert ulaw_encode(np.array([0], dtype=np.int16))[0] == 0xFF
    assert alaw_encode(np.array([0], dtype=np.int16))[0] == 0xD5
    assert ulaw_decode(np.array([0xFF], dtype=np.uint8))[0] == 0
    # square-wave fixture levels pinned by the registry oracle
    assert ulaw_decode(ulaw_encode(np.array([16383], dtype=np.int16)))[0] \
        == 16764
    assert alaw_decode(alaw_encode(np.array([16383], dtype=np.int16)))[0] \
        == 16128


def test_g711_quantization_error_bounded():
    # companding error grows with the segment: |err| <= step/2, step
    # doubles per segment, worst ~1024 for μ-law / ~1024 for A-law at
    # full scale → bound relative error on large-magnitude samples
    pcm = np.arange(-32635, 32636, 17, dtype=np.int16)
    for enc, dec, bound in ((ulaw_encode, ulaw_decode, 516),
                            (alaw_encode, alaw_decode, 1040)):
        err = np.abs(dec(enc(pcm)).astype(np.int64) - pcm)
        assert err.max() <= bound, (enc.__name__, err.max())


def test_g711_wav_container_roundtrip_and_tags():
    n, h = 800, 10
    sgn = 1 - 2 * ((np.arange(n) // h) % 2)
    for law, tag, level in (("ulaw", 0x07, 16764), ("alaw", 0x06, 16128)):
        payload = encode_wav_g711(0.5 * sgn, rate=8000, law=law)
        assert wav_format_tag(payload) == tag
        rate, out = decode_wav_g711(payload)
        assert rate == 8000 and len(out) == n
        assert np.unique(np.abs(out * 32768.0)) == [level]
    with pytest.raises(ValueError):
        encode_wav_g711(sgn, law="g728")
    with pytest.raises(ValueError):
        decode_wav_g711(b"RIFF\x04\x00\x00\x00WAVE")
    with pytest.raises(ValueError):
        decode_wav_g711(b"not audio at all")
    assert wav_format_tag(b"too short") is None


def test_adpcm_container_roundtrip_snr_and_errors():
    t = np.arange(4000)
    sig = 0.6 * np.sin(2 * np.pi * t / 50) + 0.2 * np.sin(2 * np.pi * t / 13)
    payload = encode_wav_adpcm(sig, rate=16000)
    assert wav_format_tag(payload) == 0x11
    rate, out = decode_wav_adpcm(payload)
    assert rate == 16000 and len(out) == 4000  # fact chunk trims padding
    snr = 10 * np.log10(np.mean(sig ** 2) / np.mean((out - sig) ** 2))
    assert snr > 20.0  # 4-bit ADPCM keeps ~25+ dB on smooth signals
    # multi-block state: block 2's header re-anchors, stream still tracks
    assert np.abs(out[505:] - sig[505:]).max() < 0.1
    with pytest.raises(ValueError):
        encode_wav_adpcm(sig, block_align=6)
    with pytest.raises(ValueError):
        decode_wav_adpcm(encode_wav_g711(sig[:10]))  # wrong format tag
    # truncated block header
    from bid_evaluation_ext.operators.g711 import parse_wav_chunks
    with pytest.raises(ValueError):
        decode_wav_adpcm(payload[:50])


def test_audio_dispatch_seam(spark):
    """All four WAV-family containers + FLAC flow through ONE kernel and
    land the right per-codec features."""
    from bid_evaluation_ext.operators.flac import encode_flac
    from bid_evaluation_ext.operators.multimodal import (
        extract_audio_features,
    )
    from bid_evaluation_ext.operators.wav import encode_wav

    n, h = 800, 10
    sgn = 1 - 2 * ((np.arange(n) // h) % 2)
    rows = [
        (1, bytearray(encode_wav(0.5 * sgn, rate=8000))),
        (2, bytearray(encode_wav_g711(0.5 * sgn, rate=8000, law="ulaw"))),
        (3, bytearray(encode_wav_g711(0.5 * sgn, rate=8000, law="alaw"))),
        (4, bytearray(encode_wav_adpcm(0.5 * sgn, rate=8000))),
        (5, bytearray(encode_flac(0.5 * sgn, rate=8000))),
        (6, bytearray(b"garbage payload")),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: r for r in
           extract_audio_features(df).collect()}
    assert all(got[i]["sample_rate"] == 8000 for i in (1, 2, 3, 4, 5))
    assert got[1]["rms"] == pytest.approx(16383 / 32768)
    assert got[2]["rms"] == pytest.approx(16764 / 32768)
    assert got[3]["rms"] == pytest.approx(16128 / 32768)
    assert got[4]["rms"] == pytest.approx(0.4805, abs=1e-4)
    assert got[5]["rms"] == got[1]["rms"]  # FLAC is lossless
    # every codec preserves the square wave's crossing count
    assert {got[i]["zero_crossings"] for i in (1, 2, 3, 4, 5)} \
        == {(n - 1) // h}
    assert got[6]["rms"] is None  # corrupt → nulls, scan survives
