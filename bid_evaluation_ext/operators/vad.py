"""Energy-based voice activity detection (VAD) and speech-segment
manifests — the first pass of every ASR training-data pipeline: raw
audio is mostly silence/noise, and the corpus that reaches
transcription/training is the SEGMENTED speech, so segmentation decides
both cost and quality at 100 TB.

Algorithm (classic energy VAD with hangover):

1. frame the clip (default 256/128 like the landmark/mel kernels),
   per-frame RMS in dBFS relative to full scale;
2. a frame is ACTIVE when its RMS exceeds ``threshold_db``;
3. morphological cleanup: active runs shorter than ``min_speech``
   frames are dropped (clicks), inactive gaps shorter than
   ``min_gap`` frames between active runs are bridged (intra-word
   pauses — the "hangover" of classic VADs);
4. each surviving run is one segment: start/end frame, duration, and
   its own mean RMS (the per-segment loudness a curation filter keys
   on).

Spark shape: decode + VAD runs in ONE Arrow kernel per clip
(constant work per row, the map-only media shape); the output manifest
is rows of ``(media_id, seg_index, start_frame, n_frames, rms_db)`` —
two orders of magnitude smaller than samples — and everything
downstream (duration histograms, speech-ratio filters) is plain
DataFrame aggregation.

Reference parity note: no audio path exists in the reference; this is
beyond-reference training-data mandate work beside
``operators/audiomatch.py`` / ``audiofp.py``.
"""

from __future__ import annotations

import math
from typing import Iterator, List, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .multimodal import decode_audio

_FLOOR_DB = -120.0


def _frame_power(samples: np.ndarray, frame: int,
                 hop: int) -> np.ndarray:
    x = np.asarray(samples, dtype=np.float64)
    if len(x) < frame:
        return np.empty(0)
    n_fr = 1 + (len(x) - frame) // hop
    idx = np.arange(frame)[None, :] + hop * np.arange(n_fr)[:, None]
    return np.mean(x[idx] ** 2, axis=1)


def frame_rms_db(samples: np.ndarray, *, frame: int = 256,
                 hop: int = 128) -> np.ndarray:
    """Per-frame RMS in dB re full scale (|x|=1 → 0 dB); silent frames
    clamp to the -120 dB floor instead of -inf."""
    p = _frame_power(samples, frame, hop)
    return (10 * np.log10(np.maximum(p, 1e-24))).clip(_FLOOR_DB)


def vad_segments(samples: np.ndarray, *, frame: int = 256,
                 hop: int = 128, threshold_db: float = -40.0,
                 min_speech: int = 3,
                 min_gap: int = 2) -> List[Tuple[int, int, float]]:
    """``[(start_frame, n_frames, seg_rms_db)]`` active segments."""
    power = _frame_power(samples, frame, hop)
    db = (10 * np.log10(np.maximum(power, 1e-24))).clip(_FLOOR_DB)
    active = db > threshold_db
    # bridge short gaps first (hangover), then drop short runs —
    # bridging first lets two half-length bursts merge into one
    # segment that survives the min_speech cut, which is the intent
    runs: List[List[int]] = []                    # [start, end) active
    i, n = 0, len(active)
    while i < n:
        if active[i]:
            j = i
            while j < n and active[j]:
                j += 1
            runs.append([i, j])
            i = j
        else:
            i += 1
    merged: List[List[int]] = []
    for r in runs:
        if merged and r[0] - merged[-1][1] < min_gap:
            merged[-1][1] = r[1]
        else:
            merged.append(r)
    out = []
    for a, b in merged:
        if b - a >= min_speech:
            seg_db = 10 * math.log10(max(float(np.mean(power[a:b])),
                                         1e-24))
            out.append((a, b - a, seg_db))
    return out


def speech_segments(df: DataFrame, payload_col: str = "payload",
                    id_col: str = "media_id", *, frame: int = 256,
                    hop: int = 128, threshold_db: float = -40.0,
                    min_speech: int = 3, min_gap: int = 2,
                    strict: bool = False) -> DataFrame:
    """Per-clip VAD manifest: ``(media_id, seg_index, start_frame,
    n_frames, start_ms, dur_ms, rms_db)``. Clips with NO active
    segment (or undecodable payloads, unless ``strict``) yield one
    null-manifest row so silence/corruption stays countable."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, p in zip(pdf[id_col], pdf[payload_col]):
                try:
                    rate, samples = decode_audio(bytes(p or b""))
                    segs = vad_segments(
                        samples, frame=frame, hop=hop,
                        threshold_db=threshold_db,
                        min_speech=min_speech, min_gap=min_gap)
                except Exception:
                    if strict:
                        raise
                    segs, rate = [], 0
                if not segs:
                    rows.append({"media_id": int(mid), "seg_index": None,
                                 "start_frame": None, "n_frames": None,
                                 "start_ms": None, "dur_ms": None,
                                 "rms_db": None})
                    continue
                for k, (a, nf, db) in enumerate(segs):
                    rows.append({
                        "media_id": int(mid), "seg_index": k,
                        "start_frame": a, "n_frames": nf,
                        "start_ms": a * hop * 1000 // rate,
                        "dur_ms": nf * hop * 1000 // rate,
                        "rms_db": db,
                    })
            yield pd.DataFrame(rows, columns=[
                "media_id", "seg_index", "start_frame", "n_frames",
                "start_ms", "dur_ms", "rms_db"])

    return df.select(id_col, payload_col).mapInPandas(
        kernel,
        "media_id long, seg_index long, start_frame long, "
        "n_frames long, start_ms long, dur_ms long, rms_db double")


def speech_ratio(segments: DataFrame,
                 clip_ms: DataFrame = None) -> DataFrame:
    """Per-clip speech totals from a manifest: ``(media_id, n_segments,
    speech_ms)`` — the curation filter's input (plain aggregation).
    When ``clip_ms`` (a ``(media_id, clip_ms)`` DataFrame of clip
    durations) is given, adds ``speech_ratio`` = speech_ms / clip_ms
    (null where the duration is missing or zero), left-joined so every
    manifested clip keeps its row."""
    from pyspark.sql import functions as F

    totals = (segments.groupBy("media_id")
              .agg(F.count(F.col("seg_index")).alias("n_segments"),
                   F.coalesce(F.sum("dur_ms"), F.lit(0))
                   .alias("speech_ms")))
    if clip_ms is None:
        return totals
    return (totals.join(clip_ms.select("media_id", "clip_ms"),
                        "media_id", "left")
            .withColumn("speech_ratio",
                        F.try_divide(F.col("speech_ms"),
                                     F.col("clip_ms"))))
