"""Designed 512-tap near-PR pseudo-QMF filterbank for the MP2 codec —
the interop-leaning alternative to :mod:`.mp2`'s exact-PR MDCT bank.

The ISO 11172-3 analysis/synthesis windows are 512 tabulated constants
(Tables C.1/D.1) with no closed form and no transcribable source in
this environment. :mod:`.mp2` therefore substitutes an exact-PR 64-tap
MDCT — bit-exact round-trips, but a third-party ISO decoder (which
always applies the ISO 512-tap synthesis window) sees a structurally
different subband decomposition. This module closes most of that gap
with a DESIGNED 512-tap prototype in the same cosine-modulated
pseudo-QMF family as the standard's window:

1. seed: Kaiser(β=9) windowed-sinc lowpass, cutoff golden-section
   optimized for reconstruction SNR (lands at ≈1.13·π/64 — slightly
   wider than the naive π/64 because the power-complementarity
   condition wants half-amplitude at the band edge, not full cutoff);
2. refinement: 40 alternating-projection (POCS) rounds — impose
   2M-alias power complementarity on an 8192-point FFT grid, then
   re-impose symmetric 512-tap support, renormalizing the end-to-end
   gain each round via a measured impulse response.

Measured result (pinned by ``tests/test_mp2_proto.py``): white-noise
reconstruction SNR ≈ 76 dB, max per-sample error ≈ 2.5e-4, exact
511-sample delay. That bounds the filterbank's contribution well below
audibility but NOT below the bit-exactness the frozen MP2 oracles
gate — so the codec's DEFAULT bank stays the exact-PR MDCT and this
bank is opt-in (``encode_mp2(..., filterbank="pqmf512")``). The
measured cross-filterbank error (encode with one bank, decode with the
other) is recorded in NOTES.md as the committed interop bound.

All design math is deterministic numpy (no randomness beyond a seeded
generator in the measurement helpers) and cached after first use.
"""

from __future__ import annotations

from functools import lru_cache
from typing import Tuple

import numpy as np

M = 32
TAPS = 512
DELAY = TAPS - 1                       # end-to-end samples of latency
_BLOCKS_PER_FRAME = 36                 # Layer II framing, as in .mp2

#: Kaiser seed parameters found by golden-section search (see module
#: docstring); frozen so the design is reproducible without re-search.
_SEED_CUTOFF = 0.055570
_SEED_BETA = 9.0
_POCS_ROUNDS = 40
_POCS_GRID = 8192


def _modulation(p: np.ndarray) -> Tuple[np.ndarray, np.ndarray]:
    """Analysis/synthesis banks ``(h, f)`` — (32, 512) each — for a
    prototype ``p`` (classic cosine modulation with the ±π/4 phase
    that cancels adjacent-band aliasing)."""
    n = np.arange(TAPS)
    k = np.arange(M)[:, None]
    ph = (np.pi / M) * (k + 0.5) * (n[None, :] - DELAY / 2.0)
    sgn = ((-1.0) ** np.arange(M))[:, None] * (np.pi / 4)
    return 2 * p[None, :] * np.cos(ph + sgn), \
        2 * p[None, :] * np.cos(ph - sgn)


def _system_gain(p: np.ndarray) -> float:
    """End-to-end impulse gain of the analysis→synthesis chain at the
    design delay (used to renormalize each POCS round)."""
    h, f = _modulation(p)
    L = 2048
    x = np.zeros(L)
    x[600] = 1.0
    y = np.zeros(L + 2 * TAPS)
    for k in range(M):
        sub = np.convolve(x, h[k])[::M]
        up = np.zeros(len(sub) * M)
        up[::M] = sub
        yk = np.convolve(up, f[k])
        y[:len(yk)] += yk
    return float(y[600 + DELAY])


@lru_cache(maxsize=1)
def design_prototype() -> np.ndarray:
    """The designed 512-tap prototype (unit end-to-end gain,
    symmetric). Deterministic; cached after the first call."""
    n = np.arange(TAPS) - DELAY / 2.0
    p = (np.sinc(_SEED_CUTOFF * n / np.pi) * _SEED_CUTOFF / np.pi
         * np.kaiser(TAPS, _SEED_BETA))
    p = p / np.sqrt(_system_gain(p))
    step = _POCS_GRID // (2 * M)
    for _ in range(_POCS_ROUNDS):
        P = np.fft.fft(p, _POCS_GRID)
        A = np.abs(P) ** 2
        S = np.zeros(step)
        for l in range(2 * M):
            S += A[l * step:(l + 1) * step]
        scale = np.tile(np.sqrt(S.mean() / np.maximum(S, 1e-30)), 2 * M)
        pn = np.real(np.fft.ifft(P * scale))[:TAPS]
        pn = 0.5 * (pn + pn[::-1])
        p = pn / np.sqrt(_system_gain(pn))
    return p


@lru_cache(maxsize=1)
def _banks() -> Tuple[np.ndarray, np.ndarray, float]:
    """(analysis 32×512 REVERSED for frame dot-products, synthesis
    32×512, forward scale keeping |s| <= 1 < the 2.0 scalefactor
    ceiling for |x| <= 1)."""
    h, f = _modulation(design_prototype())
    fwd = 1.0 / max(np.abs(h).sum(axis=1).max(), 1.0)
    return h[:, ::-1].copy(), f, fwd


def analyze_pqmf(x: np.ndarray) -> np.ndarray:
    """float samples → (n_blocks, 32) subband array — the same contract
    as :func:`.mp2.analyze` (blocks a multiple of 36; enough tail
    blocks to flush the 511-sample filter delay)."""
    hr, _, fwd = _banks()
    x = np.asarray(x, dtype=np.float64)
    nb = max(1, -(-(len(x) + DELAY) // M))
    nb = -(-nb // _BLOCKS_PER_FRAME) * _BLOCKS_PER_FRAME
    buf = np.zeros(DELAY + nb * M)
    buf[DELAY:DELAY + len(x)] = x
    frames = np.lib.stride_tricks.sliding_window_view(buf, TAPS)[::M]
    return frames[:nb] @ hr.T * fwd


def synthesize_pqmf(S: np.ndarray) -> np.ndarray:
    """(n_blocks, 32) subbands → float samples, inverse of
    :func:`analyze_pqmf` up to the measured ~-76 dB near-PR error
    (the 511-sample design delay is trimmed)."""
    _, f, fwd = _banks()
    S = np.asarray(S, dtype=np.float64) / fwd
    nb = len(S)
    chunks = S @ f                                     # (nb, 512)
    y = np.zeros(nb * M + TAPS)
    for t in range(nb):
        y[t * M:t * M + TAPS] += chunks[t]
    return y[DELAY:nb * M]


def reconstruction_snr(n: int = 4096, seed: int = 0) -> Tuple[float, float]:
    """Measured near-PR quality on white noise: ``(snr_db, max_abs_err)``
    over the fully-covered interior (design-delay edges excluded)."""
    rng = np.random.default_rng(seed)
    x = rng.uniform(-1, 1, n)
    y = synthesize_pqmf(analyze_pqmf(x))
    lo, hi = TAPS, n - TAPS
    err = y[lo:hi] - x[lo:hi]
    snr = 10 * np.log10(np.mean(x[lo:hi] ** 2) / np.mean(err ** 2))
    return float(snr), float(np.abs(err).max())
