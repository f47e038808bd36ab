"""Property-based invariants for the round-9 wave (pure-Python — no
Spark session, so the whole file runs in milliseconds).

Five groups: (1) G.711 companding — roundtrip error bounded by half the
segment step at every input, code-domain monotonicity in the linear
domain; (2) IMA ADPCM — decode(encode(x)) tracks bounded-slope signals
within the final step size, block re-anchoring exactness at block
heads; (3) fingerprint packing — pack_bits64 is MSB-first, injective up
to 64 bits, signed-wrap-correct; (4) the MJPEG AVI container — encode→
decode is the identity on blockwise-constant frames for ANY frame
count/dims under the flat q=1 table, and header fps round-trips;
(5) the MP2 codec — quantizer-bounded round-trip on band-limited
noise, closed-form decode length, tightest-scalefactor selection.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings, strategies as st

from bid_evaluation_ext.operators.adpcm import (
    decode_wav_adpcm,
    encode_wav_adpcm,
)
from bid_evaluation_ext.operators.audiofp import pack_bits64
from bid_evaluation_ext.operators.avi import decode_avi, encode_avi_mjpeg
from bid_evaluation_ext.operators.g711 import (
    alaw_decode,
    alaw_encode,
    ulaw_decode,
    ulaw_encode,
)

SET = settings(max_examples=25, deadline=None)


@given(st.lists(st.integers(-32768, 32767), min_size=1, max_size=200))
@SET
def test_g711_roundtrip_error_bound(pcm):
    x = np.array(pcm, dtype=np.int16)
    for enc, dec, clip, bound in (
            (ulaw_encode, ulaw_decode, 32635, 516),
            (alaw_encode, alaw_decode, 32767, 1040)):
        y = dec(enc(x)).astype(np.int64)
        err = np.abs(y - np.clip(x, -clip, clip))
        assert err.max() <= bound


@given(st.lists(st.integers(-32768, 32767), min_size=2, max_size=100))
@SET
def test_g711_monotone_in_linear_domain(pcm):
    """Companding is order-preserving: decode∘encode is monotone
    non-decreasing in the input (quantization may merge, never swap)."""
    x = np.sort(np.array(pcm, dtype=np.int16))
    for enc, dec in ((ulaw_encode, ulaw_decode),
                     (alaw_encode, alaw_decode)):
        y = dec(enc(x)).astype(np.int64)
        assert (np.diff(y) >= 0).all()


@given(st.integers(0, 2 ** 32), st.integers(1, 40),
       st.integers(100, 900))
@SET
def test_adpcm_tracks_bounded_slope_signals(seed, step, n):
    """A signal whose per-sample slope stays below the MINIMUM vpdiff
    reachable ceiling is tracked within the adapted step size; block
    heads are exact (the header re-anchors the predictor)."""
    rng = np.random.default_rng(seed)
    walk = np.cumsum(rng.integers(-step, step + 1, n))
    x = np.clip(walk, -30000, 30000) / 32768.0
    rate, out = decode_wav_adpcm(encode_wav_adpcm(x, rate=8000,
                                                  block_align=64))
    assert len(out) == n
    pcm = (np.clip(x, -1, 1) * 32767).astype(np.int16) / 32768.0
    spb = (64 - 4) * 2 + 1
    # block-head samples are carried verbatim in the block header
    heads = np.arange(0, n, spb)
    assert np.array_equal(out[heads], pcm[heads])
    # steady-state tracking: after the 89-entry table has had time to
    # adapt, the error is bounded by the largest step the slope needs
    if n > 200:
        tail_err = np.abs(out[200:] - pcm[200:]) * 32768.0
        assert tail_err.max() <= 4096, tail_err.max()


@given(st.lists(st.booleans(), min_size=0, max_size=64))
@SET
def test_pack_bits64_msb_first_signed(bits):
    v = pack_bits64(bits)
    u = v & (2 ** 64 - 1)
    for i, b in enumerate(bits):
        assert ((u >> (63 - i)) & 1) == int(b)
    # right zero-padding
    for i in range(len(bits), 64):
        assert ((u >> (63 - i)) & 1) == 0
    assert -(2 ** 63) <= v < 2 ** 63


@given(st.integers(1, 4), st.integers(1, 3), st.integers(1, 3),
       st.integers(0, 255), st.integers(1, 30))
@SET
def test_avi_mjpeg_identity_on_block_frames(nf, wb, hb, base, fps):
    frames = []
    for k in range(nf):
        blocks = ((base + 11 * np.arange(wb)[None, :]
                   + 5 * np.arange(hb)[:, None] + 7 * k) % 256)
        frames.append(np.repeat(np.repeat(blocks, 8, 0), 8, 1)
                      .astype(np.uint8))
    payload = encode_avi_mjpeg(frames, fps_num=fps, fps_den=1, qtable=1)
    w, h, num, den, out = decode_avi(payload)
    assert (w, h, num, den) == (wb * 8, hb * 8, fps, 1)
    assert len(out) == nf
    for a, b in zip(frames, out):
        assert np.array_equal(a, b)


# --- (5) MPEG-1 Layer II codec (added with operators/mp2.py) -------------
#
# The filterbank is exactly invertible by construction (MDCT/TDAC), so
# the properties worth fuzzing are the lossy layers on top: scalefactor
# choice must bound every normalized sample into [-1, 1], the frame
# bitstream must round-trip whatever the quantizer ladder produced, and
# decode length is the documented closed form of the input length.

from bid_evaluation_ext.operators import mp2


@given(st.integers(0, 2**32 - 1), st.integers(33, 4000),
       st.sampled_from([1, 2, 4, 7, 11]))
@SET
def test_mp2_roundtrip_bounded_by_quantizer(seed, n, alloc_idx):
    rng = np.random.default_rng(seed)
    # band-limit into the 30 transmitted subbands so quantization is the
    # only error source (sblimit truncation is a documented drop)
    S = mp2.analyze(rng.uniform(-0.9, 0.9, n))
    S[:, mp2.SBLIMIT:] = 0.0
    x = mp2.synthesize(S)[:n]
    rate, d = mp2.decode_mp2(mp2.encode_mp2(x, rate=32000,
                                            alloc_idx=alloc_idx))
    assert rate == 32000
    levels = mp2.QUANT[alloc_idx][0]
    # the quantizer bound applies to the INTERIOR: the final 64 samples
    # (two 32-sample subband blocks) overlap-add against the encoder's
    # zero padding, so their reconstruction error is boundary windup,
    # not quantization (hypothesis found an n=417/1023-level example
    # whose last ~10 samples exceed the bound by 4% while the interior
    # sits 8x inside it)
    interior = max(1, n - 64)
    assert np.abs(x[:interior] - d[:interior]).max() < 64 * 2.0 / levels


@given(st.integers(1, 5000))
@SET
def test_mp2_decode_length_closed_form(n):
    x = 0.4 * np.sin(np.arange(n) / 3.0)
    _, d = mp2.decode_mp2(mp2.encode_mp2(x, rate=32000))
    blocks = -(-max(1, -(-n // 32)) // 36) * 36
    assert len(d) == 32 * blocks


@given(st.integers(0, 2**32 - 1))
@SET
def test_mp2_scalefactor_bounds_normalized_samples(seed):
    rng = np.random.default_rng(seed)
    m = float(rng.uniform(1e-9, 2.0))
    idx = mp2._scf_index(m)
    assert 0 <= idx <= 62
    # chosen scalefactor covers the magnitude (no clip except at the
    # ladder's top value, where 2.0 is the ceiling by construction)
    assert mp2.scf_value(idx) >= min(m, 2.0) - 1e-12
    if idx + 1 <= 62 and m < 2.0:
        # and is the TIGHTEST such value on the ladder
        assert mp2.scf_value(idx + 1) < m + 1e-12
