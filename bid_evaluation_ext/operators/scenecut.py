"""Video scene-cut detection — the shot-segmentation pass a video
curation pipeline runs before sampling frames for training (one frame
per SHOT beats one frame per second: periodic sampling over-represents
long static shots and misses brief ones).

Method (the classic histogram-difference detector, exact arithmetic so
the oracle can be closed-form on constructed clips):

- per frame: a 16-bin luma histogram, L1-normalized (bin = luma // 16,
  values clamped to [0, 255]);
- adjacent-frame distance: half the L1 distance between normalized
  histograms — in [0, 1], 0 for identical framing, 1 for disjoint
  luma content;
- a CUT is every frame whose distance from its predecessor exceeds
  ``threshold`` (default 0.5: a genuine shot change replaces most of
  the luma mass; motion within a shot moves little of it);
- shots = cut positions + the implicit shot start at frame 0.

Output of :func:`scene_cuts`: one row per clip with the frame count,
cut count, the cut frame indices, and per-shot lengths — the compact
manifest a sampler joins against. Decode dispatches Y4M / MJPEG-AVI by
magic bytes like every other video kernel; undecodable payloads yield
a null row (visible, not fatal) unless ``strict``.
"""

from __future__ import annotations

from typing import Iterator, List

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

_BINS = 16


def frame_histogram(y: np.ndarray) -> np.ndarray:
    """L1-normalized 16-bin luma histogram of one frame."""
    lum = np.clip(np.asarray(y, dtype=np.float64), 0, 255)
    h = np.bincount((lum // _BINS).astype(np.int64).reshape(-1),
                    minlength=_BINS)[:_BINS].astype(np.float64)
    s = h.sum()
    if s == 0:                       # zero-pixel frame: public API guard
        raise ValueError("frame_histogram: empty frame")
    return h / s


def cut_positions(frames: List[np.ndarray], *,
                  threshold: float = 0.5) -> List[int]:
    """Frame indices whose histogram distance from the previous frame
    exceeds ``threshold`` (never index 0 — a clip's first frame starts
    a shot, it doesn't cut)."""
    cuts = []
    prev = None
    for k, y in enumerate(frames):
        h = frame_histogram(y)
        if prev is not None and 0.5 * np.abs(h - prev).sum() > threshold:
            cuts.append(k)
        prev = h
    return cuts


def scene_cuts(df: DataFrame, payload_col: str = "payload",
               id_col: str = "media_id", *, threshold: float = 0.5,
               strict: bool = False) -> DataFrame:
    """Per-clip shot manifest: ``(media_id, n_frames, n_cuts,
    cut_frames, shot_lengths)``."""
    from . import avi as _avi
    from . import y4m as _y4m

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, p in zip(pdf[id_col], pdf[payload_col]):
                payload = p or b""
                try:
                    if _avi.is_avi(payload):
                        _, _, _, _, frames = _avi.decode_avi(payload)
                    else:
                        _, _, _, _, frames = _y4m.decode_y4m(payload)
                    cuts = cut_positions(frames, threshold=threshold)
                except Exception:
                    if strict:
                        raise
                    rows.append({"media_id": int(mid), "n_frames": None,
                                 "n_cuts": None, "cut_frames": None,
                                 "shot_lengths": None})
                    continue
                bounds = [0] + cuts + [len(frames)]
                rows.append({
                    "media_id": int(mid), "n_frames": len(frames),
                    "n_cuts": len(cuts), "cut_frames": cuts,
                    "shot_lengths": [b - a for a, b in
                                     zip(bounds, bounds[1:])],
                })
            yield pd.DataFrame(rows, columns=[
                "media_id", "n_frames", "n_cuts", "cut_frames",
                "shot_lengths"])

    return df.select(id_col, payload_col).mapInPandas(
        kernel,
        "media_id long, n_frames long, n_cuts long, "
        "cut_frames array<int>, shot_lengths array<int>")
