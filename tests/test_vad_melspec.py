"""VAD segmentation (hangover/min-speech morphology, dB math) and
log-mel features (filterbank shape, tone localization, kernels)."""

from __future__ import annotations

import numpy as np
import pytest

from bid_evaluation_ext.operators.melspec import (
    log_mel_spectrogram,
    mel_features,
    mel_filterbank,
)
from bid_evaluation_ext.operators.vad import (
    frame_rms_db,
    speech_segments,
    speech_ratio,
    vad_segments,
)
from bid_evaluation_ext.operators.wav import encode_wav

RATE = 8000


def _tone(n, amp=0.5, freq=440):
    return amp * np.sin(2 * np.pi * freq * np.arange(n) / RATE)


def _clip(pattern):
    """pattern: list of (kind, n_frames) with kind 'tone'/'silence';
    frame geometry 256/128 → n samples = 128*total + 128."""
    parts = []
    for kind, nf in pattern:
        n = 128 * nf
        parts.append(_tone(n) if kind == "t" else np.zeros(n))
    parts.append(np.zeros(128))                  # flush final frame
    return np.concatenate(parts)


def test_frame_rms_db_levels():
    db = frame_rms_db(_tone(2048, amp=1.0))
    # full-scale sine RMS = 1/sqrt(2) → ~-3.01 dB
    assert abs(db.mean() + 3.01) < 0.2
    silent = frame_rms_db(np.zeros(2048))
    assert (silent == -120.0).all()


def test_vad_basic_segments_and_morphology():
    x = _clip([("t", 8), ("s", 10), ("t", 6)])
    segs = vad_segments(x)
    assert len(segs) == 2
    (a0, n0, db0), (a1, n1, _) = segs
    assert a0 == 0 and abs(n0 - 8) <= 1
    assert abs(a1 - 18) <= 1 and abs(n1 - 6) <= 1
    assert -10 < db0 < 0
    # a 1-frame gap inside speech is bridged (hangover)
    merged = vad_segments(_clip([("t", 4), ("s", 1), ("t", 4)]))
    assert len(merged) == 1 and merged[0][1] >= 8
    # a 1-frame click is dropped (min_speech=3; note 256/128 frames
    # straddle boundaries, so a k-frame burst activates up to k+1)
    assert vad_segments(_clip([("s", 6), ("t", 1), ("s", 6)])) == []


def test_vad_all_silence_and_threshold():
    assert vad_segments(np.zeros(4096)) == []
    quiet = 0.001 * _tone(2048, amp=1.0)        # ~-63 dB < -40 default
    assert vad_segments(quiet) == []
    assert len(vad_segments(quiet, threshold_db=-80.0)) == 1


def test_mel_filterbank_shape_and_coverage():
    fb = mel_filterbank(256, RATE, 8)
    assert fb.shape == (8, 129)
    assert (fb >= 0).all()
    # every filter has mass; centers increase
    assert (fb.sum(axis=1) > 0).all()
    centers = fb.argmax(axis=1)
    assert (np.diff(centers) > 0).all()


def test_log_mel_localizes_tone():
    # a 3 kHz tone at 8 kHz lands in a HIGH band, 300 Hz in a LOW band
    hi = log_mel_spectrogram(_tone(4096, freq=3000), RATE).mean(axis=0)
    lo = log_mel_spectrogram(_tone(4096, freq=300), RATE).mean(axis=0)
    assert hi.argmax() > lo.argmax()
    assert lo.argmax() <= 2 and hi.argmax() >= 5


def test_spark_kernels(spark):
    rows = []
    for i in range(4):
        x = _clip([("t", 4 + i), ("s", 5), ("t", 3)])
        rows.append((i, encode_wav((np.clip(x, -1, 1) * 32000)
                                   .astype(np.int16), rate=RATE)))
    rows.append((9, b"junk"))
    df = spark.createDataFrame(rows, "media_id long, payload binary")

    segs = speech_segments(df)
    by_id = {}
    for r in segs.collect():
        by_id.setdefault(r["media_id"], []).append(r)
    assert len(by_id[0]) == 2
    assert by_id[0][0]["start_frame"] == 0
    assert by_id[9][0]["seg_index"] is None      # corrupt row visible
    ratio = {r["media_id"]: r for r in speech_ratio(segs).collect()}
    assert ratio[1]["n_segments"] == 2 and ratio[1]["speech_ms"] > 0
    assert ratio[9]["n_segments"] == 0 and ratio[9]["speech_ms"] == 0

    # clip_ms join path: ratio normalized by clip duration
    durs = spark.createDataFrame(
        [(i, 2000) for i in range(4)], "media_id long, clip_ms long")
    rat2 = {r["media_id"]: r
            for r in speech_ratio(segs, durs).collect()}
    assert abs(rat2[1]["speech_ratio"]
               - rat2[1]["speech_ms"] / 2000.0) < 1e-12
    assert 0 < rat2[1]["speech_ratio"] <= 1
    assert rat2[9]["speech_ratio"] is None       # no duration row

    mel = mel_features(df)
    got = {}
    for r in mel.collect():
        got.setdefault(r["media_id"], []).append(r)
    assert len(got[0]) == 8
    assert all(r["mel_std"] is not None for r in got[0])
    assert got[9][0]["band"] is None
