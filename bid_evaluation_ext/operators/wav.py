"""Pure-stdlib WAV (PCM) codec + spectral features for the audio kernel.

Same role as :mod:`.png` for images: a real, dependency-free decode path so
the multimodal audio kernel operates on actual samples, not payload hashes.
Covers the overwhelmingly common containers (8/16/32-bit integer PCM, mono
or multichannel — downmixed to mono); compressed codecs (mp3/aac/...) need a
real audio library swapped into the same seam.

All functions are driver/executor-side helpers for Arrow-batched kernels —
they never touch Spark themselves.
"""

from __future__ import annotations

import io
import struct
import wave

import numpy as np

_PCM_DTYPES = {1: np.uint8, 2: np.int16, 4: np.int32}


def decode_wav(payload: bytes) -> tuple[int, np.ndarray]:
    """Decode a PCM WAV payload → ``(sample_rate, mono float64 samples)``.

    Samples are scaled to [-1, 1]; multichannel audio is mean-downmixed.
    Raises ``ValueError`` on non-WAV or non-PCM payloads — every malformed
    input maps to the one catchable decode-failure type (corrupt media
    must not kill a scan).
    """
    try:
        with wave.open(io.BytesIO(payload), "rb") as w:
            width = w.getsampwidth()
            rate = w.getframerate()
            n_channels = w.getnchannels()
            n_frames = w.getnframes()
            raw = w.readframes(n_frames)
    except (wave.Error, EOFError, struct.error, RuntimeError) as exc:
        raise ValueError(f"corrupt WAV: {type(exc).__name__}: {exc}") from exc
    if width not in _PCM_DTYPES:
        raise ValueError(f"unsupported PCM sample width: {width}")
    data = np.frombuffer(raw, dtype=_PCM_DTYPES[width]).astype(np.float64)
    if width == 1:  # 8-bit WAV is unsigned
        data = data - 128.0
        data /= 128.0
    else:
        data /= float(2 ** (8 * width - 1))
    if n_channels > 1:
        usable = (len(data) // n_channels) * n_channels
        data = data[:usable].reshape(-1, n_channels).mean(axis=1)
    return rate, data


def encode_wav(samples: np.ndarray, rate: int = 16000,
               width: int = 2) -> bytes:
    """Encode mono float samples in [-1, 1] as a PCM WAV payload (test aid)."""
    if width != 2:
        raise ValueError("encode_wav writes 16-bit PCM only")
    clipped = np.clip(np.asarray(samples, dtype=np.float64), -1.0, 1.0)
    pcm = (clipped * 32767.0).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(pcm.tobytes())
    return buf.getvalue()


def band_energies(samples: np.ndarray, rate: int, n_bands: int = 13,
                  frame: int = 512) -> np.ndarray:
    """13 log-band spectral energies (the ``mfcc_like`` feature vector).

    Mean |FFT| magnitude over non-overlapping frames, pooled into
    ``n_bands`` log-spaced frequency bands, log-compressed — the shape and
    discriminative role of MFCCs without the mel/DCT machinery. Returns
    float32 ``n_bands`` values; silent/short audio yields the log-floor.
    """
    if len(samples) < frame:
        samples = np.pad(samples, (0, frame - len(samples)))
    usable = (len(samples) // frame) * frame
    frames = samples[:usable].reshape(-1, frame)
    mag = np.abs(np.fft.rfft(frames, axis=1)).mean(axis=0)  # (frame//2+1,)
    n_bins = len(mag)
    # log-spaced band edges over [1, n_bins)
    edges = np.unique(np.round(
        np.logspace(0, np.log10(n_bins - 1), n_bands + 1)
    ).astype(int))
    while len(edges) < n_bands + 1:  # tiny frames: pad linear edges
        edges = np.unique(np.append(edges, edges[-1] + 1))
    out = np.empty(n_bands, dtype=np.float64)
    for i in range(n_bands):
        lo, hi = edges[i], max(edges[i + 1], edges[i] + 1)
        out[i] = mag[lo:hi].mean() if lo < n_bins else 0.0
    return np.log1p(out).astype(np.float32)
