"""Audio-corpus CURATION composition — the per-clip keep/drop gate a
100-TB ASR/audio training pipeline runs at ingest, chaining the audio
kit end to end (the audio twin of :mod:`.videodedup`'s composition):

1. decode (``multimodal.decode_audio`` — WAV/FLAC/MP2/G.711/ADPCM via
   the dispatch seam),
2. energy VAD speech segments (:mod:`.vad`),
3. gated integrated loudness, K-weighted BS.1770 (:mod:`.loudness`),
4. log-mel temporal moments (:mod:`.melspec`),
5. spectral-landmark duplicate detection (:mod:`.audiomatch`),

with ONE Arrow decode kernel per clip producing a small feature
manifest (+ a landmark array column), so samples are decoded exactly
once and never shuffled. Everything downstream is native DataFrame
work:

- the content gates (speech present, speech ratio, loudness window)
  are plain Column predicates over the manifest;
- dedup runs ONLY on content-passing clips (the standard cost order:
  cheap per-clip gates shrink the set before the pairwise-risk stage)
  as a landmark-hash EQUI-JOIN with an offset-vote histogram — never
  clip×clip — and the canonical keep-lowest-id rule is one
  partial-aggregated ``min``;
- the verdict is a single precedence CASE (undecodable → no_speech →
  low_speech_ratio → loudness → duplicate → keep).

At 100 TB: the decode kernel is map-only constant work per clip and
the manifest is orders of magnitude smaller than samples; the only
shuffles are the landmark equi-join (bounded by landmark count, with
hot-hash skew handled the same way the minhash band join is) and two
small aggregations. No stage widens beyond the matched-pair set.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from math import gcd, log10

from .audiomatch import clip_landmarks
from .cache import track_cached as _track_cached
from .loudness import _gate_blocks, block_loudness, true_peak
from .melspec import log_mel_spectrogram
from .multimodal import decode_audio
from .resample import resample_poly
from .vad import vad_segments

#: landmark packing: hash (32 bits used) << 16 | anchor frame (< 2^16)
_T_BITS = 16
_T_MASK = (1 << _T_BITS) - 1


def curation_features(df: DataFrame, payload_col: str = "payload",
                      id_col: str = "media_id", *,
                      weighting: str = "k", frame: int = 256,
                      hop: int = 128, threshold_db: float = -40.0,
                      min_speech: int = 3, min_gap: int = 2,
                      n_mels: int = 8,
                      target_rate: int = None) -> DataFrame:
    """ONE decode pass → per-clip curation manifest:

    ``(media_id, decode_ok, duration_ms, true_peak_dbtp, n_segments,
    speech_ms, integrated_lufs, mel_std_mean, landmarks array<long>)``

    ``mel_std_mean`` is the mean over bands of the per-band temporal
    std — the cheap speech-vs-steady-tone signal. ``landmarks`` packs
    ``(hash << 16) | anchor_frame`` per landmark (anchor frame counts
    are < 2^16 for any clip the kernel should see).
    ``true_peak_dbtp`` is the BS.1770-4 bandlimited-interpolated peak
    (:func:`.loudness.true_peak`) of the STORED waveform — measured
    before any resampling, because inter-sample overs are a property
    of the original samples (null for digital silence). When
    ``target_rate`` is set, clips at any other rate are rate-normalized
    through the anti-aliased polyphase resampler
    (:func:`.resample.resample_poly`) before VAD/loudness/mel/
    landmarks, so landmark dedup catches the SAME recording stored at
    different rates (duration_ms stays the original clip's).
    Undecodable payloads get ``decode_ok=false`` and null features —
    corruption must stay countable, never fail the scan."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, p in zip(pdf[id_col], pdf[payload_col]):
                try:
                    rate, samples = decode_audio(bytes(p or b""))
                except Exception:
                    rows.append({"media_id": int(mid), "decode_ok": False,
                                 "duration_ms": None,
                                 "true_peak_dbtp": None,
                                 "n_segments": None,
                                 "speech_ms": None,
                                 "integrated_lufs": None,
                                 "mel_std_mean": None, "landmarks": []})
                    continue
                duration_ms = len(samples) * 1000 // rate
                tp = true_peak(samples)
                if target_rate and rate != target_rate:
                    g = gcd(int(target_rate), int(rate))
                    samples = resample_poly(samples, target_rate // g,
                                            rate // g)
                    rate = target_rate
                segs = vad_segments(samples, frame=frame, hop=hop,
                                    threshold_db=threshold_db,
                                    min_speech=min_speech,
                                    min_gap=min_gap)
                L = block_loudness(samples, rate, weighting=weighting)
                lm = log_mel_spectrogram(samples, rate, n_mels=n_mels,
                                         frame=frame, hop=hop)
                marks = clip_landmarks(samples, frame=frame, hop=hop)
                rows.append({
                    "media_id": int(mid), "decode_ok": True,
                    "duration_ms": duration_ms,
                    "true_peak_dbtp": (20 * log10(tp) if tp > 0.0
                                       else None),
                    "n_segments": len(segs),
                    "speech_ms": sum(nf for _, nf, _ in segs)
                    * hop * 1000 // rate,
                    "integrated_lufs": _gate_blocks(L),
                    "mel_std_mean": (float(lm.std(axis=0).mean())
                                     if len(lm) else None),
                    "landmarks": [int((h << _T_BITS) | (t & _T_MASK))
                                  for h, t in marks],
                })
            yield pd.DataFrame(rows, columns=[
                "media_id", "decode_ok", "duration_ms",
                "true_peak_dbtp", "n_segments",
                "speech_ms", "integrated_lufs", "mel_std_mean",
                "landmarks"])

    return df.select(id_col, payload_col).mapInPandas(
        kernel,
        "media_id long, decode_ok boolean, duration_ms long, "
        "true_peak_dbtp double, "
        "n_segments long, speech_ms long, integrated_lufs double, "
        "mel_std_mean double, landmarks array<long>")


def landmark_dedup(feats: DataFrame, *,
                   min_votes: int = 50) -> DataFrame:
    """Self-dedup over the manifest's landmark arrays: hash equi-join
    with the lower-id side as index, offset-histogram vote per
    (dup, original, offset), and the canonical verdict
    ``dup_of = min(original)`` per duplicate. Returns
    ``(media_id, dup_of, dup_votes)`` — one row per detected
    duplicate. The join never widens beyond hash-colliding landmark
    pairs (the Shazam-join shape, same as :func:`.audiomatch
    .match_clips`)."""
    lm = (feats.select("media_id",
                       F.explode("landmarks").alias("packed"))
          .select("media_id",
                  F.shiftright("packed", _T_BITS).alias("lm_hash"),
                  F.col("packed").bitwiseAND(_T_MASK).alias("t")))
    a = lm.select(F.col("media_id").alias("orig_id"), "lm_hash",
                  F.col("t").alias("ta"))
    b = lm.select(F.col("media_id").alias("dup_id"), "lm_hash",
                  F.col("t").alias("tb"))
    votes = (a.join(b, "lm_hash")
             .filter(F.col("orig_id") < F.col("dup_id"))
             .withColumn("offset", F.col("tb") - F.col("ta"))
             .groupBy("dup_id", "orig_id", "offset")
             .agg(F.count(F.lit(1)).alias("votes"))
             .filter(F.col("votes") >= min_votes))
    return (votes.groupBy("dup_id")
            .agg(F.min("orig_id").alias("dup_of"),
                 F.max("votes").alias("dup_votes"))
            .select(F.col("dup_id").alias("media_id"), "dup_of",
                    "dup_votes"))


def audio_curation(df: DataFrame, payload_col: str = "payload",
                   id_col: str = "media_id", *,
                   min_speech_ratio: float = 0.2,
                   min_lufs: float = -35.0, max_lufs: float = -5.0,
                   max_true_peak_dbtp: float = -1.0,
                   min_votes: int = 50,
                   weighting: str = "k",
                   target_rate: int = None) -> DataFrame:
    """The full curation gate: per clip one row

    ``(media_id, decode_ok, duration_ms, true_peak_dbtp, n_segments,
    speech_ms, speech_ratio, integrated_lufs, mel_std_mean, dup_of,
    keep, drop_reason)``

    with ``drop_reason`` ∈ (undecodable, no_speech, low_speech_ratio,
    loudness, true_peak_over, duplicate) by precedence, null when
    kept. ``true_peak_over`` is the EBU R128-style clipping-risk gate
    (default ceiling −1 dBTP): a clip whose bandlimited-interpolated
    peak exceeds the ceiling will clip in any downstream resample/DAC
    even when every stored sample is legal, so it is dropped BEFORE
    the pairwise dedup stage (null true peak = digital silence, which
    no_speech already owns — not a gate trip). ``target_rate``
    rate-normalizes clips before the landmark stage so the dedup
    catches cross-rate copies of the same recording. Dedup runs only
    over clips that pass the content gates, and the content gates are
    native Column predicates — Catalyst sees all of it."""
    feats = (curation_features(df, payload_col, id_col,
                               weighting=weighting,
                               target_rate=target_rate)
             .withColumn("speech_ratio",
                         F.try_divide("speech_ms", "duration_ms")))
    content_ok = (F.col("decode_ok")
                  & (F.col("n_segments") > 0)
                  & (F.col("speech_ratio") >= min_speech_ratio)
                  & F.col("integrated_lufs").between(min_lufs,
                                                     max_lufs)
                  & ~F.coalesce(
                      F.col("true_peak_dbtp") > max_true_peak_dbtp,
                      F.lit(False)))
    # persist the manifest: it feeds BOTH the dedup branch and the
    # final verdict join, and without the cache Spark would run the
    # decode kernel twice — the one pass is the composition's whole
    # cost story. The manifest is tiny next to samples; callers sweep
    # it with cache.release()/release_all() (the dedup.py discipline).
    feats = (feats.withColumn("_content_ok", content_ok)
             .persist())
    dups = landmark_dedup(feats.filter("_content_ok"),
                          min_votes=min_votes)
    out = feats.join(dups.select("media_id", "dup_of"), "media_id",
                     "left")
    reason = (F.when(~F.col("decode_ok"), F.lit("undecodable"))
              .when(F.col("n_segments") == 0, F.lit("no_speech"))
              .when(F.col("speech_ratio") < min_speech_ratio,
                    F.lit("low_speech_ratio"))
              # null lufs = unmeasurable (clip shorter than one 400 ms
              # block, or fully gated) — that is a loudness drop, not
              # a keep-by-null
              .when(F.col("integrated_lufs").isNull()
                    | ~F.col("integrated_lufs").between(min_lufs,
                                                        max_lufs),
                    F.lit("loudness"))
              .when(F.col("true_peak_dbtp") > max_true_peak_dbtp,
                    F.lit("true_peak_over"))
              .when(F.col("dup_of").isNotNull(), F.lit("duplicate")))
    result = (out.withColumn("drop_reason", reason)
              .withColumn("keep", F.col("drop_reason").isNull())
              .select("media_id", "decode_ok", "duration_ms",
                      "true_peak_dbtp",
                      "n_segments", "speech_ms", "speech_ratio",
                      "integrated_lufs", "mel_std_mean", "dup_of",
                      "keep", "drop_reason"))
    return _track_cached(result, [feats])
