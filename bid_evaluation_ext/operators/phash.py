"""DCT perceptual image hash (pHash) — the low-frequency complement of
:func:`~.png.dhash64`'s gradient hash, completing the standard image
near-dup pair (dHash survives local edits, pHash survives global
luminance/scale changes; real pipelines run both and union candidates).

Convention pinned here (public pHash family, exact variant documented):

1. decode → luma → bilinear resize to 32×32 (the repo's half-pixel
   :func:`~.resize.bilinear_resize`, so scaling convention is shared
   with the model-front-end ops);
2. 2-D DCT-II (orthonormal, computed with an explicit 32×32 cosine
   matrix — ``D @ img @ D.T``);
3. keep the top-left 8×8 low-frequency block;
4. threshold every one of the 64 coefficients against the MEDIAN of
   the 63 AC coefficients (DC excluded from the median so a uniform
   brightness shift cannot flip the split; DC itself still yields a
   bit — against the AC median — preserving 64-bit width);
5. pack row-major, MSB first, two's-complement signed 64-bit (the
   repo-wide hash convention, so :func:`~.multimodal
   .dhash_neardup_pairs` banding works unchanged on a ``phash``
   column).

Scale shape: identical to ``image_dhash`` — one Arrow kernel over
(id, payload), payload dropped immediately after; near-dup pairs via
the shared banded-Hamming equi-join kernel.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .resize import bilinear_resize

_N = 32
_K = 8


def _dct_matrix(n: int = _N) -> np.ndarray:
    k = np.arange(n)[:, None]
    x = np.arange(n)[None, :]
    D = np.cos(np.pi * (2 * x + 1) * k / (2 * n)) * np.sqrt(2.0 / n)
    D[0] /= np.sqrt(2.0)
    return D


_D = _dct_matrix()


def phash64(lum: np.ndarray) -> int:
    """Luma array (any dims ≥ 2×2) → signed 64-bit perceptual hash."""
    small = bilinear_resize(np.asarray(lum, dtype=np.float64), _N, _N)
    coeffs = (_D @ small @ _D.T)[:_K, :_K]
    flat = coeffs.reshape(-1)
    med = np.median(flat[1:])                 # AC median, DC excluded
    bits = flat > med
    v = 0
    for b in bits:
        v = (v << 1) | int(b)
    return v - (1 << 64) if v >= (1 << 63) else v


def image_phash(df: DataFrame, payload_col: str = "payload",
                id_col: str = "media_id", *,
                fake: bool = False, strict: bool = False) -> DataFrame:
    """Perceptual DCT hash per image → ``(media_id, phash)`` (signed
    64-bit; null for undecodable payloads unless ``strict``). Same
    dispatch and kernel shape as :func:`~.multimodal.image_dhash`."""
    from . import jpeg as _jpeg
    from . import png as _png
    from . import vp8l as _vp8l
    from . import webp as _webp

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hashes = []
            for p in pdf[payload_col]:
                try:
                    if fake:
                        h = int.from_bytes(
                            hashlib.sha256(p or b"").digest()[:8],
                            "big", signed=True)
                    else:
                        if _jpeg.is_jpeg(p or b""):
                            img = _jpeg.decode_jpeg(p)
                        elif _webp.is_webp(p or b""):
                            img = _vp8l.decode_webp_lossless(p)
                        else:
                            img = _png.decode_png(p or b"")
                        h = phash64(_png.luma(img))
                    hashes.append(h)
                except Exception:
                    if strict:
                        raise
                    hashes.append(None)
            yield pd.DataFrame({
                "media_id": pdf[id_col].astype("int64"),
                "phash": pd.array(hashes, dtype="Int64"),
            })

    return (df.select(id_col, payload_col)
            .mapInPandas(kernel, "media_id long, phash long"))


def phash_neardup_pairs(hashes: DataFrame, max_hamming: int = 6,
                        id_col: str = "media_id", *,
                        band_bits: int = 8) -> DataFrame:
    """Banded-Hamming candidate pairs over a ``phash`` column — the
    SAME kernel as every other 64-bit modality hash. ``band_bits=16``
    (with ``max_hamming <= 3``) is the corpus-scale bucket layout."""
    from .multimodal import dhash_neardup_pairs

    return dhash_neardup_pairs(hashes, max_hamming=max_hamming,
                               id_col=id_col, hash_col="phash",
                               band_bits=band_bits)
