"""Log-mel spectrogram features — the standard acoustic front-end for
ASR/audio-classification training data. A 100-TB audio pipeline
computes these once at ingest (they are ~30× smaller than samples) and
trains/filters on the features, so the extraction kernel's shape IS
the pipeline's cost model.

Convention pinned here (HTK-style, the common public definition):

- Hann-windowed magnitude rFFT, frame/hop shared with the VAD and
  landmark kernels (256/128 at 8 kHz fixtures);
- mel scale ``m = 2595 * log10(1 + f/700)`` (HTK), ``n_mels``
  triangular filters with equal-mel-spaced centers from 0 Hz to
  Nyquist, applied to the POWER spectrum;
- ``log10`` with a 1e-10 floor (dB-like, no NaN on silence);
- per-clip summary = per-band MEAN over frames (the clip embedding a
  curation filter or a cheap k-NN runs on) plus per-band STD (the
  temporal-variation signal that separates speech from steady tones).

Spark shape: decode → frame → FFT → filterbank → per-band moments all
inside ONE Arrow kernel per clip (numpy-vectorized, constant work per
row); output is ``(media_id, band, mel_mean, mel_std)`` rows — plain
columns, so downstream filters are native DataFrame predicates.
"""

from __future__ import annotations

from functools import lru_cache
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .multimodal import decode_audio

_LOG_FLOOR = 1e-10


@lru_cache(maxsize=32)
def mel_filterbank(n_fft: int, rate: int, n_mels: int) -> np.ndarray:
    """(n_mels, n_fft//2 + 1) triangular HTK-mel filters. Cached —
    (n_fft, rate, n_mels) are constant per job, and the nested-loop
    construction would otherwise run per clip inside the Arrow
    kernel. Callers must not mutate the returned array."""

    def to_mel(f):
        return 2595.0 * np.log10(1.0 + np.asarray(f, dtype=np.float64)
                                 / 700.0)

    def from_mel(m):
        return 700.0 * (10.0 ** (np.asarray(m, dtype=np.float64)
                                 / 2595.0) - 1.0)

    n_bins = n_fft // 2 + 1
    mel_pts = np.linspace(0.0, float(to_mel(rate / 2.0)), n_mels + 2)
    hz_pts = from_mel(mel_pts)
    bins = np.floor((n_fft + 1) * hz_pts / rate).astype(int)
    fb = np.zeros((n_mels, n_bins))
    for m in range(n_mels):
        lo, c, hi = bins[m], bins[m + 1], bins[m + 2]
        for k in range(lo, c):
            if c > lo:
                fb[m, k] = (k - lo) / (c - lo)
        for k in range(c, hi):
            if hi > c:
                fb[m, k] = (hi - k) / (hi - c)
    return fb


def log_mel_spectrogram(samples: np.ndarray, rate: int, *,
                        n_mels: int = 8, frame: int = 256,
                        hop: int = 128) -> np.ndarray:
    """(n_frames, n_mels) log10 mel-power frames (empty for clips
    shorter than one frame)."""
    x = np.asarray(samples, dtype=np.float64)
    if len(x) < frame:
        return np.empty((0, n_mels))
    n_fr = 1 + (len(x) - frame) // hop
    idx = np.arange(frame)[None, :] + hop * np.arange(n_fr)[:, None]
    win = np.hanning(frame)
    spec = np.abs(np.fft.rfft(x[idx] * win, axis=1)) ** 2
    fb = mel_filterbank(frame, rate, n_mels)
    return np.log10(np.maximum(spec @ fb.T, _LOG_FLOOR))


def mel_features(df: DataFrame, payload_col: str = "payload",
                 id_col: str = "media_id", *, n_mels: int = 8,
                 frame: int = 256, hop: int = 128,
                 strict: bool = False) -> DataFrame:
    """Per-(clip, band) moments: ``(media_id, band, mel_mean,
    mel_std)``. Undecodable/too-short clips yield one null-band row."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, p in zip(pdf[id_col], pdf[payload_col]):
                try:
                    rate, samples = decode_audio(bytes(p or b""))
                    lm = log_mel_spectrogram(samples, rate,
                                             n_mels=n_mels,
                                             frame=frame, hop=hop)
                except Exception:
                    if strict:
                        raise
                    lm = np.empty((0, n_mels))
                if not len(lm):
                    rows.append({"media_id": int(mid), "band": None,
                                 "mel_mean": None, "mel_std": None})
                    continue
                mean = lm.mean(axis=0)
                std = lm.std(axis=0)
                for b in range(n_mels):
                    rows.append({"media_id": int(mid), "band": b,
                                 "mel_mean": float(mean[b]),
                                 "mel_std": float(std[b])})
            yield pd.DataFrame(rows, columns=[
                "media_id", "band", "mel_mean", "mel_std"])

    return df.select(id_col, payload_col).mapInPandas(
        kernel, "media_id long, band long, mel_mean double, "
                "mel_std double")
