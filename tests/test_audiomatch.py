"""Spectral-landmark audio matching: constellation determinism, gain
invariance, snippet containment with the offset-histogram vote, lossy
(G.711) snippet robustness, and non-match rejection."""

from __future__ import annotations

import numpy as np
import pytest

from bid_evaluation_ext.operators.audiomatch import (
    audio_landmarks,
    clip_landmarks,
    match_clips,
)
from bid_evaluation_ext.operators.g711 import encode_wav_g711
from bid_evaluation_ext.operators.wav import encode_wav

RATE = 8000
SEG = 1024
HOP = 128

MELODY_A = [400, 700, 550, 900, 620, 480, 820, 760]
MELODY_B = [300, 950, 500, 730, 380, 1100, 640, 870]


def melody(freqs, amp=0.5):
    t = np.arange(SEG)
    return np.concatenate(
        [amp * np.sin(2 * np.pi * f * t / RATE) for f in freqs])


def _wav(x):
    return encode_wav((np.clip(x, -1, 1) * 32000).astype(np.int16),
                      rate=RATE)


def test_landmarks_deterministic_and_short_clip_empty():
    x = melody(MELODY_A)
    assert clip_landmarks(x) == clip_landmarks(x)
    assert len(clip_landmarks(x)) > 100
    assert clip_landmarks(np.zeros(100)) == []     # shorter than a frame


def test_landmarks_gain_invariant():
    x = melody(MELODY_A)
    assert clip_landmarks(x) == clip_landmarks(0.05 * x)


def test_snippet_containment_and_rejection(spark):
    a, b = melody(MELODY_A), melody(MELODY_B)
    snippet = 0.3 * a[2048:2048 + 3072]
    index = spark.createDataFrame(
        [(1, _wav(a)), (2, _wav(b))], "media_id long, payload binary")
    query = spark.createDataFrame(
        [(10, _wav(snippet))], "media_id long, payload binary")
    got = match_clips(audio_landmarks(index), audio_landmarks(query),
                      min_votes=100).collect()
    # pure-tone fixtures are collision-heavy (few distinct bins), so the
    # vote threshold carries the rejection: the true match concentrates
    # >200 votes on ONE offset, the distractor scatters <50 per offset
    assert [(r["query_id"], r["index_id"], r["offset"]) for r in got] \
        == [(10, 1, 2048 // HOP)]
    assert got[0]["votes"] > 200


def test_lossy_g711_snippet_still_matches(spark):
    a = melody(MELODY_A)
    snippet = 0.6 * a[2048:2048 + 3072]
    index = spark.createDataFrame(
        [(1, _wav(a))], "media_id long, payload binary")
    query = spark.createDataFrame(
        [(10, encode_wav_g711(snippet, rate=RATE))],
        "media_id long, payload binary")
    got = match_clips(audio_landmarks(index), audio_landmarks(query),
                      min_votes=20).collect()
    assert [(r["query_id"], r["index_id"], r["offset"]) for r in got] \
        == [(10, 1, 2048 // HOP)]


def test_disjoint_hashes_no_match(spark):
    a, b = melody(MELODY_A), melody(MELODY_B)
    index = spark.createDataFrame(
        [(1, _wav(a))], "media_id long, payload binary")
    query = spark.createDataFrame(
        [(10, _wav(b))], "media_id long, payload binary")
    got = match_clips(audio_landmarks(index), audio_landmarks(query),
                      min_votes=100).collect()
    assert got == []


def test_undecodable_payload_skipped_unless_strict(spark):
    df = spark.createDataFrame(
        [(1, b"not audio at all")], "media_id long, payload binary")
    assert audio_landmarks(df).count() == 0
    with pytest.raises(Exception):
        audio_landmarks(df, strict=True).count()
