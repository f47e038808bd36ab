"""Bilinear resize + letterbox: the model-front-end image geometry ops.

:func:`.multimodal.resize_image_features` is nearest-neighbor (integer-
exact, thumbnail-grade); model front-ends standardize on BILINEAR with
the half-pixel-center convention (``align_corners=False`` — the default
in torchvision/TF/OpenCV) and on LETTERBOXING (fit-preserving-aspect +
pad) when aspect ratios must survive. Both in pure numpy:

- :func:`bilinear_resize` — output pixel ``x'`` samples source
  coordinate ``(x' + 0.5) * w/out_w - 0.5`` clamped to the edge
  (replicate padding), separably in x then y. On an affine image
  ``f(x, y) = ax + by + c`` away from clamped edges this interpolation
  is EXACT (linear interpolation of a linear function), which is what
  makes closed-form oracles possible.
- :func:`letterbox` — scale to fit, bilinear, center on a constant
  canvas; returns the geometry (scale, offsets) every detector needs
  to map boxes back.

Kernel :func:`resize_bilinear_features` mirrors the NN kernel's shape
and output contract (features only; the raster never leaves the task).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

RESIZE_BILINEAR_SCHEMA = (
    "media_id long, width long, height long, out_w long, out_h long, "
    "resized_mean double"
)

LETTERBOX_SCHEMA = (
    "media_id long, width long, height long, canvas_w long, canvas_h long, "
    "scaled_w long, scaled_h long, pad_x long, pad_y long, "
    "canvas_mean double"
)


def _axis_weights(n_in: int, n_out: int):
    """Half-pixel-center source positions for one axis → (lo, hi, frac)."""
    pos = (np.arange(n_out, dtype=np.float64) + 0.5) * (n_in / n_out) - 0.5
    lo = np.clip(np.floor(pos), 0, n_in - 1).astype(np.int64)
    hi = np.minimum(lo + 1, n_in - 1)
    frac = np.clip(pos - lo, 0.0, 1.0)
    return lo, hi, frac


def bilinear_resize(lum: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """``(h, w)`` float → ``(out_h, out_w)`` float, align_corners=False,
    edge-replicate clamping, separable x-then-y."""
    if out_w < 1 or out_h < 1:
        raise ValueError(f"need positive output dims, got {out_w}x{out_h}")
    h, w = lum.shape
    xlo, xhi, xf = _axis_weights(w, out_w)
    ylo, yhi, yf = _axis_weights(h, out_h)
    rowmix = lum[:, xlo] * (1.0 - xf) + lum[:, xhi] * xf
    return (rowmix[ylo, :] * (1.0 - yf)[:, None]
            + rowmix[yhi, :] * yf[:, None])


def letterbox(lum: np.ndarray, canvas_w: int, canvas_h: int,
              fill: float = 114.0):
    """Fit-preserving-aspect resize onto a constant canvas →
    ``(canvas, scaled_w, scaled_h, pad_x, pad_y)``. The fill value 114
    is the detection-pipeline convention (YOLO-style gray)."""
    h, w = lum.shape
    scale = min(canvas_w / w, canvas_h / h)
    sw = max(1, int(round(w * scale)))
    sh = max(1, int(round(h * scale)))
    resized = bilinear_resize(lum, sw, sh)
    canvas = np.full((canvas_h, canvas_w), float(fill))
    px = (canvas_w - sw) // 2
    py = (canvas_h - sh) // 2
    canvas[py:py + sh, px:px + sw] = resized
    return canvas, sw, sh, px, py


def resize_bilinear_features(df: DataFrame, out_w: int, out_h: int,
                             payload_col: str = "payload",
                             id_col: str = "media_id", *,
                             strict: bool = False) -> DataFrame:
    """Decode (PNG/JPEG/Netpbm/GIF dispatch) + bilinear resize +
    re-featurize in one Arrow kernel; features only leave the task."""
    from . import gif as _gif
    from . import jpeg as _jpeg
    from . import netpbm as _netpbm
    from . import png as _png

    if out_w < 1 or out_h < 1:
        raise ValueError(f"need positive output dims, got {out_w}x{out_h}")

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
                    lum = _png.luma(img)
                    out = bilinear_resize(lum, out_w, out_h)
                    rows.append({**base, "width": lum.shape[1],
                                 "height": lum.shape[0],
                                 "out_w": out_w, "out_h": out_h,
                                 "resized_mean": float(out.mean())})
                except Exception:
                    if strict:
                        raise
                    rows.append({**base, "width": None, "height": None,
                                 "out_w": None, "out_h": None,
                                 "resized_mean": None})
            yield pd.DataFrame(rows, columns=[
                "media_id", "width", "height", "out_w", "out_h",
                "resized_mean"])

    return (df.select(id_col, payload_col)
            .mapInPandas(kernel, RESIZE_BILINEAR_SCHEMA))
