"""Gated integrated loudness (ITU-R BS.1770 structure) — the loudness
normalization pass an ASR/audio training corpus runs so the model never
learns gain as a feature: clips are measured, then scaled to a target
(e.g. -23 LUFS), and out-of-range clips are flagged.

Implemented here: the BS.1770 MEASUREMENT pipeline with its two-stage
gate, over mono in [-1, 1]:

1. 400 ms momentary blocks with 75 % overlap (100 ms hop);
2. block loudness ``L_j = -0.691 + 10·log10(z_j)`` with ``z_j`` the
   block mean square;
3. ABSOLUTE gate: drop blocks below -70 LUFS;
4. RELATIVE gate: compute the mean of surviving blocks' ``z``, then
   drop blocks below that mean's loudness - 10 LU;
5. integrated loudness = ``-0.691 + 10·log10(mean z of final set)``.

K-WEIGHTING (``weighting="k"``): the standard's two-stage prefilter —
a high-frequency shelf (head-diffraction model, ~+4 dB above
~1.7 kHz) cascaded with the RLB high-pass (f0 ≈ 38 Hz). BS.1770-4
publishes the biquad tables only at 48 kHz; here the coefficients are
computed at ANY rate from the published continuous prototype
(bilinear transform with the De Man parameterisation — f0/Q/gain
fitted so the 48 kHz closed forms reproduce the spec tables to
~1e-11, asserted in tests), so the 8 kHz fixtures get a true
K-weighted measurement. The default stays UNWEIGHTED
(``weighting="none"``) to preserve the frozen r10 goldens; the
``_kw`` registry twin measures with the weighting on.

Filtering shape: an IIR is sequential per sample, so the kernel
filters via a CACHED truncated impulse response of the cascade (tail
below 1e-15 of peak, error ≪ the 1e-4 golden rounding) and one FFT
convolution per clip — numpy-vectorized, no per-sample Python in the
hot path; :func:`biquad` keeps the exact sequential recursion as the
test reference.

Spark shape: one Arrow kernel per clip (decode → [K-weight] → blocks
→ gates), constant work per row; normalization is a map of the
payload.
"""

from __future__ import annotations

import math
from functools import lru_cache
from typing import Iterator, Optional, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .multimodal import decode_audio

_OFFSET = -0.691
_ABS_GATE = -70.0
_REL_GATE = -10.0

#: BS.1770 prototype parameters (public: ITU-R BS.1770-4 specifies the
#: 48 kHz tables; these continuous-domain parameters are the published
#: re-derivation that reproduces them bit-near at 48 kHz and evaluates
#: at any rate).
_SHELF_F0, _SHELF_G, _SHELF_Q = 1681.9744509555319, 3.99984385397, 0.7071752369554196
_HP_F0, _HP_Q = 38.13547087602444, 0.5003270373238773


def k_weighting_coeffs(rate: int) -> Tuple[Tuple[tuple, tuple],
                                           Tuple[tuple, tuple]]:
    """``((b_shelf, a_shelf), (b_hp, a_hp))`` — the two K-weighting
    biquads at ``rate`` via bilinear transform of the BS.1770
    prototype. At 48 kHz this reproduces the BS.1770-4 Table 1/2
    coefficients to ~1e-11 (pinned by test)."""
    # stage 1: high-frequency shelf
    K = math.tan(math.pi * _SHELF_F0 / rate)
    Vh = 10.0 ** (_SHELF_G / 20.0)
    Vb = Vh ** 0.499666774155                  # fitted band gain exponent
    a0 = 1.0 + K / _SHELF_Q + K * K
    shelf = (((Vh + Vb * K / _SHELF_Q + K * K) / a0,
              2.0 * (K * K - Vh) / a0,
              (Vh - Vb * K / _SHELF_Q + K * K) / a0),
             (1.0,
              2.0 * (K * K - 1.0) / a0,
              (1.0 - K / _SHELF_Q + K * K) / a0))
    # stage 2: RLB high-pass (spec pins b to exactly [1, -2, 1])
    K = math.tan(math.pi * _HP_F0 / rate)
    a0 = 1.0 + K / _HP_Q + K * K
    hp = ((1.0, -2.0, 1.0),
          (1.0,
           2.0 * (K * K - 1.0) / a0,
           (1.0 - K / _HP_Q + K * K) / a0))
    return shelf, hp


def biquad(x: np.ndarray, b: tuple, a: tuple) -> np.ndarray:
    """Exact direct-form-II-transposed biquad (sequential — the test
    reference; the kernel path uses the cached-IR convolution)."""
    x = np.asarray(x, dtype=np.float64)
    y = np.empty_like(x)
    b0, b1, b2 = b
    _, a1, a2 = a
    z1 = z2 = 0.0
    for i in range(len(x)):
        xi = x[i]
        yi = b0 * xi + z1
        z1 = b1 * xi - a1 * yi + z2
        z2 = b2 * xi - a2 * yi
        y[i] = yi
    return y


@lru_cache(maxsize=8)
def _k_impulse_response(rate: int) -> np.ndarray:
    """Truncated impulse response of the K-weighting cascade at
    ``rate`` (tail cut where it falls below 1e-15 of the peak — far
    under the 1e-4 golden rounding; cap 1<<16 taps)."""
    (bs, as_), (bh, ah) = k_weighting_coeffs(rate)
    n = 1 << 16
    imp = np.zeros(n)
    imp[0] = 1.0
    ir = biquad(biquad(imp, bs, as_), bh, ah)
    peak = np.abs(ir).max()
    keep = np.nonzero(np.abs(ir) > 1e-15 * peak)[0]
    return ir[:int(keep[-1]) + 1] if len(keep) else ir[:1]


def k_weight(samples: np.ndarray, rate: int) -> np.ndarray:
    """K-weighted signal (shelf then high-pass), zero initial state —
    FFT convolution with the cached cascade IR (vectorized; equals the
    sequential biquad cascade to ~1e-12, pinned by test)."""
    x = np.asarray(samples, dtype=np.float64)
    if not len(x):
        return x
    ir = _k_impulse_response(rate)
    n = len(x) + len(ir) - 1
    nfft = 1 << (n - 1).bit_length()
    y = np.fft.irfft(np.fft.rfft(x, nfft) * np.fft.rfft(ir, nfft),
                     nfft)[:len(x)]
    return y


def block_loudness(samples: np.ndarray, rate: int, *,
                   weighting: str = "none") -> np.ndarray:
    """Per-block loudness (LUFS) for 400 ms blocks at 100 ms hop.
    ``weighting="k"`` applies the BS.1770 K-weighting prefilter."""
    if weighting not in ("none", "k"):
        raise ValueError(f"unknown weighting {weighting!r}")
    x = np.asarray(samples, dtype=np.float64)
    if weighting == "k":
        x = k_weight(x, rate)
    blk = max(1, int(round(0.4 * rate)))
    hop = max(1, int(round(0.1 * rate)))
    if len(x) < blk:
        return np.empty(0)
    n = 1 + (len(x) - blk) // hop
    idx = np.arange(blk)[None, :] + hop * np.arange(n)[:, None]
    z = np.mean(x[idx] ** 2, axis=1)
    return _OFFSET + 10 * np.log10(np.maximum(z, 1e-30))


def _gate_blocks(L: np.ndarray) -> Optional[float]:
    """Two-stage gate over per-block loudness → integrated LUFS."""
    if not len(L):
        return None
    z = 10 ** ((L - _OFFSET) / 10.0)
    keep = L > _ABS_GATE
    if not keep.any():
        return None
    rel_thresh = (_OFFSET + 10 * math.log10(float(z[keep].mean()))
                  + _REL_GATE)
    final = keep & (L > rel_thresh)
    if not final.any():
        return None
    return _OFFSET + 10 * math.log10(float(z[final].mean()))


def integrated_loudness(samples: np.ndarray, rate: int, *,
                        weighting: str = "none") -> Optional[float]:
    """Two-stage-gated integrated loudness in LUFS (None when no block
    survives the absolute gate — i.e. digital silence).
    ``weighting="k"`` = full BS.1770 measurement."""
    return _gate_blocks(block_loudness(samples, rate,
                                       weighting=weighting))


def clip_loudness(df: DataFrame, payload_col: str = "payload",
                  id_col: str = "media_id", *, strict: bool = False,
                  weighting: str = "none") -> DataFrame:
    """Per-clip loudness manifest: ``(media_id, n_blocks,
    n_gated_blocks, integrated_lufs)`` (nulls for silence or, unless
    ``strict``, undecodable payloads). ``weighting="k"`` measures
    K-weighted (full BS.1770)."""
    if weighting not in ("none", "k"):
        raise ValueError(f"unknown weighting {weighting!r}")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, p in zip(pdf[id_col], pdf[payload_col]):
                try:
                    rate, samples = decode_audio(bytes(p or b""))
                    L = block_loudness(samples, rate,
                                       weighting=weighting)
                    lufs = _gate_blocks(L)       # one filter pass
                    n_gated = int((L > _ABS_GATE).sum()) if len(L) else 0
                except Exception:
                    if strict:
                        raise
                    L, lufs, n_gated = np.empty(0), None, 0
                rows.append({"media_id": int(mid),
                             "n_blocks": len(L),
                             "n_gated_blocks": n_gated,
                             "integrated_lufs": lufs})
            yield pd.DataFrame(rows, columns=[
                "media_id", "n_blocks", "n_gated_blocks",
                "integrated_lufs"])

    return df.select(id_col, payload_col).mapInPandas(
        kernel, "media_id long, n_blocks long, n_gated_blocks long, "
                "integrated_lufs double")


def normalize_gain(samples: np.ndarray, rate: int,
                   target_lufs: float = -23.0, *,
                   weighting: str = "none") -> np.ndarray:
    """Scale a clip to the target integrated loudness (unchanged when
    unmeasurable); output clipped to [-1, 1] like any real normalizer.
    The gain is measured on the (optionally K-weighted) signal but
    applied to the RAW samples — weighting is a measurement filter,
    never an audible one."""
    lufs = integrated_loudness(samples, rate, weighting=weighting)
    if lufs is None:
        return np.asarray(samples, dtype=np.float64)
    gain = 10 ** ((target_lufs - lufs) / 20.0)
    return np.clip(np.asarray(samples, dtype=np.float64) * gain,
                   -1.0, 1.0)


# ---------------------------------------------------------------- true peak

def true_peak(samples: np.ndarray, oversample: int = 4) -> float:
    """BS.1770-4 Annex-2-style TRUE PEAK: the max absolute value of
    the bandlimited-interpolated signal, linear scale. The spec
    oversamples ≥4× with an interpolation FIR (any filter meeting the
    attenuation template is allowed); here the oversampling is IDEAL
    bandlimited interpolation via rfft zero-padding — deterministic,
    vectorized, and at least as accurate as the example FIR. A sine
    whose crest falls between samples (e.g. rate/4 at phase π/4 —
    sample peak 0.707·A) reads its full amplitude A (pinned by test).
    Empty input → 0.0."""
    x = np.asarray(samples, dtype=np.float64)
    n = len(x)
    if not n:
        return 0.0
    X = np.fft.rfft(x)
    Y = np.zeros(oversample * n // 2 + 1, dtype=complex)
    Y[:len(X)] = X
    if n % 2 == 0:
        # the original Nyquist bin represents a cosine split between
        # ±f_N; after padding it becomes an interior bin and must carry
        # half the weight or the interpolation overshoots
        Y[n // 2] *= 0.5
    y = np.fft.irfft(Y, oversample * n) * oversample
    return float(np.abs(y).max())


def clip_true_peak(df: DataFrame, payload_col: str = "payload",
                   id_col: str = "media_id", *, oversample: int = 4,
                   strict: bool = False) -> DataFrame:
    """Per-clip peak manifest: ``(media_id, sample_peak_db,
    true_peak_dbtp, intersample_over)`` — ``intersample_over`` flags
    clips whose TRUE peak exceeds full scale while every SAMPLE is in
    range (the clipping a resampler or DAC will introduce even though
    the stored samples look legal — the standard mastering gate).
    Digital silence → nulls. One Arrow kernel, constant work/row."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, p in zip(pdf[id_col], pdf[payload_col]):
                try:
                    rate, samples = decode_audio(bytes(p or b""))
                    sp = float(np.abs(np.asarray(samples)).max()) \
                        if len(samples) else 0.0
                    tp = true_peak(samples, oversample)
                except Exception:
                    if strict:
                        raise
                    sp = tp = 0.0
                if tp <= 0.0 or sp <= 0.0:
                    rows.append({"media_id": int(mid),
                                 "sample_peak_db": None,
                                 "true_peak_dbtp": None,
                                 "intersample_over": None})
                    continue
                rows.append({
                    "media_id": int(mid),
                    "sample_peak_db": 20 * math.log10(sp),
                    "true_peak_dbtp": 20 * math.log10(tp),
                    "intersample_over": bool(tp > 1.0 >= sp),
                })
            yield pd.DataFrame(rows, columns=[
                "media_id", "sample_peak_db", "true_peak_dbtp",
                "intersample_over"])

    return df.select(id_col, payload_col).mapInPandas(
        kernel, "media_id long, sample_peak_db double, "
                "true_peak_dbtp double, intersample_over boolean")
