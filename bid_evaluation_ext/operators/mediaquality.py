"""Media quality gates: the multimodal counterpart of text quality
scoring (:mod:`.quality`'s Gopher/C4-style filters).

A 100-TB multimodal corpus is full of garbage media — black/blank
frames, clipped or silent audio, single-color thumbnails — and the
curation pipeline needs cheap decode-side scores to gate on before any
expensive model sees the payload. Per modality:

- :func:`image_quality` — contrast (population std of luma), sharpness
  (mean absolute horizontal+vertical gradient — the first-order
  stand-in for Laplacian blur metrics), dark/bright pixel fractions.
- :func:`audio_quality` — silence ratio (|x| below a floor), clipping
  ratio (|x| at the rail), DC offset, peak and crest factor.

All features are exact arithmetic over decoded samples/pixels (no
windowed transforms), so fixtures with closed-form content give
closed-form oracle values. Kernels follow the house media shape:
Arrow-batched ``mapInPandas`` over (id, payload), payload dropped at
the kernel boundary, nulls for undecodable media unless ``strict``.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

IMAGE_QUALITY_SCHEMA = (
    "media_id long, width long, height long, contrast double, "
    "sharpness double, dark_frac double, bright_frac double"
)

AUDIO_QUALITY_SCHEMA = (
    "media_id long, n_samples long, silence_ratio double, "
    "clip_ratio double, dc_offset double, peak double, crest_db double"
)


def image_quality_features(img: np.ndarray) -> dict:
    """Quality features from a decoded ``(h, w, c)`` uint8 image."""
    from . import png as _png

    lum = _png.luma(img)
    h, w = lum.shape
    grad_h = float(np.abs(np.diff(lum, axis=1)).mean()) if w > 1 else 0.0
    grad_v = float(np.abs(np.diff(lum, axis=0)).mean()) if h > 1 else 0.0
    return {
        "width": w, "height": h,
        "contrast": float(lum.std()),          # population std
        "sharpness": grad_h + grad_v,
        "dark_frac": float((lum < 16.0).mean()),
        "bright_frac": float((lum >= 240.0).mean()),
    }


def audio_quality_features(samples: np.ndarray, *,
                           silence_floor: float = 1e-3,
                           clip_level: float = 0.99) -> dict:
    """Quality features from decoded mono samples in [-1, 1]."""
    n = len(samples)
    if n == 0:
        return {"n_samples": 0, "silence_ratio": 1.0, "clip_ratio": 0.0,
                "dc_offset": 0.0, "peak": 0.0, "crest_db": 0.0}
    mag = np.abs(samples)
    peak = float(mag.max())
    rms = float(np.sqrt(np.mean(samples ** 2)))
    return {
        "n_samples": n,
        "silence_ratio": float((mag < silence_floor).mean()),
        "clip_ratio": float((mag >= clip_level).mean()),
        "dc_offset": float(samples.mean()),
        "peak": peak,
        "crest_db": float(20.0 * np.log10(peak / rms)) if rms > 0 else 0.0,
    }


def image_quality(df: DataFrame, payload_col: str = "payload",
                  id_col: str = "media_id", *,
                  strict: bool = False) -> DataFrame:
    """Image quality gate features via the PNG/JPEG/Netpbm/GIF dispatch."""
    from . import gif as _gif
    from . import jpeg as _jpeg
    from . import netpbm as _netpbm
    from . import png as _png

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, p in zip(pdf[id_col], pdf[payload_col]):
                base = {"media_id": int(mid)}
                try:
                    p = p or b""
                    if _jpeg.is_jpeg(p):
                        img = _jpeg.decode_jpeg(p)
                    elif _netpbm.is_netpbm(p):
                        img = _netpbm.decode_netpbm(p)
                    elif _gif.is_gif(p):
                        img = _gif.decode_gif(p)
                    else:
                        img = _png.decode_png(p)
                    rows.append({**base, **image_quality_features(img)})
                except Exception:
                    if strict:
                        raise
                    rows.append({**base, "width": None, "height": None,
                                 "contrast": None, "sharpness": None,
                                 "dark_frac": None, "bright_frac": None})
            yield pd.DataFrame(rows, columns=[
                "media_id", "width", "height", "contrast", "sharpness",
                "dark_frac", "bright_frac"])

    return (df.select(id_col, payload_col)
            .mapInPandas(kernel, IMAGE_QUALITY_SCHEMA))


def audio_quality(df: DataFrame, payload_col: str = "payload",
                  id_col: str = "media_id", *,
                  silence_floor: float = 1e-3, clip_level: float = 0.99,
                  strict: bool = False) -> DataFrame:
    """Audio quality gate features via the full audio decode dispatch
    (PCM / G.711 / ADPCM / FLAC)."""
    from .multimodal import decode_audio

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, p in zip(pdf[id_col], pdf[payload_col]):
                base = {"media_id": int(mid)}
                try:
                    _, samples = decode_audio(p or b"")
                    rows.append({**base, **audio_quality_features(
                        samples, silence_floor=silence_floor,
                        clip_level=clip_level)})
                except Exception:
                    if strict:
                        raise
                    rows.append({**base, "n_samples": None,
                                 "silence_ratio": None, "clip_ratio": None,
                                 "dc_offset": None, "peak": None,
                                 "crest_db": None})
            yield pd.DataFrame(rows, columns=[
                "media_id", "n_samples", "silence_ratio", "clip_ratio",
                "dc_offset", "peak", "crest_db"])

    return (df.select(id_col, payload_col)
            .mapInPandas(kernel, AUDIO_QUALITY_SCHEMA))
