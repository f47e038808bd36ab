"""Spectral-landmark audio matching — constellation fingerprinting in
the Wang/Shazam shape, the RETRIEVAL complement to
:mod:`.audiofp`'s near-dup hashing.

Where the energy-gradient fingerprint answers "are these two clips the
same recording?", landmark matching answers "does this SNIPPET occur
inside any indexed recording, and at what offset?" — the query a
100-TB audio corpus runs for clip-level decontamination (did a training
clip leak into an eval set?) and provenance lookup.

Algorithm (public constellation scheme):

1. frame each decoded clip (Hann window), magnitude rFFT;
2. pick the top-k spectral peaks per frame (no two peaks within
   ``min_sep`` bins — k strongest after suppression);
3. pair each anchor peak with the peaks of the next ``dt_max`` frames
   (``fanout`` strongest pairs): landmark hash =
   ``f_anchor << 20 | f_other << 8 | dt`` — frequencies quantized to
   bins, dt in frames;
4. matching is ONE equi-join on the landmark hash followed by a vote
   on the TIME OFFSET ``t_index - t_query``: a true containment match
   concentrates its votes on a single offset, random hash collisions
   scatter — the offset histogram is the significance test.

Spark shape: steps 1-3 are per-clip numpy inside one Arrow kernel
(landmark tables are ~two orders of magnitude smaller than samples);
step 4 is an equi-join + groupBy — no pairwise scan of clips anywhere,
and the hash join prunes to colliding landmarks only. Amplitude
scaling cancels in peak RANKS, so matching is gain-invariant; lossy
re-encodes (G.711/ADPCM/MP2) move weak peaks but the vote threshold
absorbs them.
"""

from __future__ import annotations

from typing import Iterator, List, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .multimodal import decode_audio

_FMASK = (1 << 12) - 1          # frequency bins fit 12 bits (frame<=8192)
_DTMASK = (1 << 8) - 1


def clip_landmarks(samples: np.ndarray, *, frame: int = 256,
                   hop: int = 128, n_peaks: int = 4, min_sep: int = 4,
                   fanout: int = 3, dt_min: int = 1,
                   dt_max: int = 16) -> List[Tuple[int, int]]:
    """``[(hash, t_anchor)]`` landmark list for one decoded clip."""
    x = np.asarray(samples, dtype=np.float64)
    if len(x) < frame:
        return []
    n_fr = 1 + (len(x) - frame) // hop
    idx = np.arange(frame)[None, :] + hop * np.arange(n_fr)[:, None]
    win = np.hanning(frame)
    mag = np.abs(np.fft.rfft(x[idx] * win, axis=1))
    mag[:, 0] = 0.0                                  # ignore DC
    peaks: List[List[int]] = []
    for t in range(n_fr):
        row = mag[t].copy()
        sel = []
        for _ in range(n_peaks):
            b = int(np.argmax(row))
            if row[b] <= 0.0:
                break
            sel.append(b)
            lo, hi = max(0, b - min_sep), b + min_sep + 1
            row[lo:hi] = 0.0
        peaks.append(sorted(sel))
    out: List[Tuple[int, int]] = []
    for t, anchors in enumerate(peaks):
        for fa in anchors:
            n_paired = 0
            for dt in range(dt_min, dt_max + 1):
                if t + dt >= n_fr or n_paired >= fanout:
                    break
                for fb in peaks[t + dt]:
                    if n_paired >= fanout:
                        break
                    h = ((fa & _FMASK) << 20) | ((fb & _FMASK) << 8) \
                        | (dt & _DTMASK)
                    out.append((h, t))
                    n_paired += 1
    return out


def audio_landmarks(df: DataFrame, payload_col: str = "payload",
                    id_col: str = "media_id", *, frame: int = 256,
                    hop: int = 128, n_peaks: int = 4, fanout: int = 3,
                    dt_max: int = 16,
                    strict: bool = False) -> DataFrame:
    """One row per landmark: ``(media_id, lm_hash, t)``. Undecodable
    payloads contribute zero rows unless ``strict``."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, p in zip(pdf[id_col], pdf[payload_col]):
                try:
                    _, samples = decode_audio(p or b"")
                    lms = clip_landmarks(samples, frame=frame, hop=hop,
                                         n_peaks=n_peaks, fanout=fanout,
                                         dt_max=dt_max)
                except Exception:
                    if strict:
                        raise
                    continue
                for h, t in lms:
                    rows.append({"media_id": int(mid), "lm_hash": int(h),
                                 "t": int(t)})
            yield pd.DataFrame(rows,
                               columns=["media_id", "lm_hash", "t"])

    return df.select(id_col, payload_col).mapInPandas(
        kernel, "media_id long, lm_hash long, t int")


def match_clips(index_lms: DataFrame, query_lms: DataFrame, *,
                min_votes: int = 5) -> DataFrame:
    """Offset-histogram containment matching: one hash equi-join, one
    (query, index, offset) vote count, threshold, then the best offset
    per (query, index) pair.

    Returns ``(query_id, index_id, offset, votes)`` — offset is in
    FRAMES (``t_index - t_query``; a query snippet cut from the middle
    of an indexed clip votes its cut position). ``min_votes`` is the
    collision floor: random landmark collisions scatter across offsets
    and never concentrate ``min_votes`` on one.
    """
    q = query_lms.select(F.col("media_id").alias("query_id"),
                         "lm_hash", F.col("t").alias("tq"))
    i = index_lms.select(F.col("media_id").alias("index_id"),
                         "lm_hash", F.col("t").alias("ti"))
    votes = (q.join(i, "lm_hash")
             .withColumn("offset", F.col("ti") - F.col("tq"))
             .groupBy("query_id", "index_id", "offset")
             .agg(F.count(F.lit(1)).alias("votes"))
             .filter(F.col("votes") >= min_votes))
    from pyspark.sql import Window
    w = Window.partitionBy("query_id", "index_id").orderBy(
        F.desc("votes"), F.asc("offset"))
    return (votes.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("query_id", "index_id", "offset", "votes"))
