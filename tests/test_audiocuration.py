"""Audio-curation composition: one-pass feature kernel, landmark
self-dedup, verdict precedence (incl. the null-LUFS edge), gate
parameters."""

from __future__ import annotations

import numpy as np
import pytest

from bid_evaluation_ext.operators.audiocuration import (
    audio_curation,
    curation_features,
    landmark_dedup,
)
from bid_evaluation_ext.operators.wav import encode_wav

RATE = 8000


def _tone(n, amp, f):
    return amp * np.sin(2 * np.pi * f * np.arange(n) / RATE)


def _bursts(on, off, reps, amp, f):
    return np.concatenate(sum(
        [[_tone(on, amp, f), np.zeros(off)] for _ in range(reps)], []))


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (0, encode_wav(_bursts(4000, 2000, 3, 0.3, 500), rate=RATE)),
        (1, encode_wav(_bursts(4000, 2000, 3, 0.3, 500), rate=RATE)),  # dup of 0
        (2, encode_wav(np.zeros(16000), rate=RATE)),                   # silence
        (3, encode_wav(_tone(16000, 0.9, 2500), rate=RATE)),           # too loud
        (4, b"not audio"),                                             # corrupt
        (5, encode_wav(np.concatenate([_tone(2800, 0.3, 500),
                                       np.zeros(20000)]), rate=RATE)), # low ratio
        (6, encode_wav(_bursts(3200, 1600, 4, 0.45, 1000), rate=RATE)),  # keep
        (7, encode_wav(_tone(1600, 0.3, 500), rate=RATE)),             # < 1 block
    ]
    return spark.createDataFrame(rows, "media_id long, payload binary")


def test_feature_kernel_one_pass(corpus):
    got = {r["media_id"]: r for r in curation_features(corpus).collect()}
    assert got[0]["decode_ok"] and got[0]["n_segments"] == 3
    assert got[0]["duration_ms"] == 2250
    assert got[0]["landmarks"] and len(got[0]["landmarks"]) > 500
    assert got[2]["n_segments"] == 0 and got[2]["integrated_lufs"] is None
    assert got[4]["decode_ok"] is False and got[4]["duration_ms"] is None
    assert got[4]["landmarks"] == []
    # identical clips → identical landmark arrays
    assert got[0]["landmarks"] == got[1]["landmarks"]
    # mel moments: bursty speech-like clip has temporal variation,
    # steady tone has ~none
    assert got[0]["mel_std_mean"] > 1.0
    assert got[3]["mel_std_mean"] < 0.1


def test_landmark_dedup_canonical_lowest_id(corpus):
    feats = curation_features(corpus)
    dups = {r["media_id"]: r for r in
            landmark_dedup(feats, min_votes=50).collect()}
    # 1 is an exact duplicate of 0; 5 and 7 are 500 Hz snippets
    # CONTAINED in 0's bursts — landmark matching is containment
    # matching by design (the composition gates them out BEFORE dedup)
    assert set(dups) == {1, 5, 7}
    assert dups[1]["dup_of"] == 0 and dups[1]["dup_votes"] >= 500
    assert dups[5]["dup_of"] == 0 and dups[7]["dup_of"] == 0
    # the different-frequency keeper (1 kHz) matches nothing
    assert 6 not in dups


def test_verdict_precedence(corpus):
    out = {r["media_id"]: r for r in audio_curation(corpus).collect()}
    assert out[0]["keep"] and out[0]["drop_reason"] is None
    assert out[1]["drop_reason"] == "duplicate" and out[1]["dup_of"] == 0
    assert out[2]["drop_reason"] == "no_speech"
    assert out[3]["drop_reason"] == "loudness"
    assert out[4]["drop_reason"] == "undecodable"
    assert out[5]["drop_reason"] == "low_speech_ratio"
    assert out[6]["keep"] and out[6]["dup_of"] is None
    # clip 7: VAD finds speech but the clip is shorter than one 400 ms
    # block → LUFS unmeasurable → loudness drop, NEVER a keep-by-null
    assert out[7]["drop_reason"] == "loudness"
    assert out[7]["integrated_lufs"] is None
    assert all(not out[i]["keep"] for i in (1, 2, 3, 4, 5, 7))


def test_gate_parameters_move_the_line(corpus):
    # loosen the loudness window: the hot tone (amp 0.9 → −0.91 dBTP)
    # now falls through to the r12 true-peak gate instead
    out = {r["media_id"]: r
           for r in audio_curation(corpus, max_lufs=0.0).collect()}
    assert out[3]["drop_reason"] == "true_peak_over"
    # loosen the true-peak ceiling too: NOW it survives
    out_tp = {r["media_id"]: r
              for r in audio_curation(corpus, max_lufs=0.0,
                                      max_true_peak_dbtp=0.0).collect()}
    assert out_tp[3]["keep"]
    # tighten speech ratio: the bursty keeps fail
    out2 = {r["media_id"]: r
            for r in audio_curation(corpus,
                                    min_speech_ratio=0.95).collect()}
    assert out2[0]["drop_reason"] == "low_speech_ratio"


def test_true_peak_gate_intersample_over(spark):
    # r11 verdict task 7: a clip whose SAMPLES are all legal but whose
    # bandlimited-interpolated peak exceeds −1 dBTP must drop as
    # true_peak_over AFTER loudness and BEFORE dedup. Construction:
    # class-0-style 500 Hz bursts (in the loudness window) plus a
    # rate/4 sine at phase π/4 in the first gap — samples ±A/√2=0.78,
    # true peak A=1.1 (+0.83 dBTP).
    base = _bursts(4000, 2000, 3, 0.3, 500)
    over = base.copy()
    k = np.arange(800)
    over[4100:4900] = 1.1 * np.sin(2 * np.pi * (RATE / 4) * k / RATE
                                   + np.pi / 4)
    assert np.abs(over).max() <= 0.79           # every sample legal
    rows = [(0, encode_wav(base, rate=RATE)),
            (1, encode_wav(over, rate=RATE))]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r["media_id"]: r for r in audio_curation(df).collect()}
    assert out[0]["keep"]
    assert out[1]["drop_reason"] == "true_peak_over"
    assert out[1]["true_peak_dbtp"] > -1.0 > out[0]["true_peak_dbtp"]
    # gated before dedup: the over clip shares 500 Hz bursts with
    # clip 0 but must NOT surface as its duplicate
    assert out[1]["dup_of"] is None


def test_cross_rate_duplicate_detected_after_resample(spark):
    # r11 verdict task 7: the same recording stored at 16 kHz must
    # dedup against its 8 kHz twin once target_rate normalizes the
    # landmark stage; without target_rate the rates differ and the
    # landmark frames don't align.
    def sig(rate):
        t = np.arange(int(0.5 * rate))
        on = 0.45 * np.sin(2 * np.pi * 1000 * t / rate)
        return np.concatenate(sum([[on, np.zeros(int(0.25 * rate))]
                                   for _ in range(4)], []))

    rows = [(0, encode_wav(sig(8000), rate=8000)),
            (1, encode_wav(sig(16000), rate=16000))]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r["media_id"]: r
           for r in audio_curation(df, target_rate=8000).collect()}
    assert out[0]["keep"] and out[0]["dup_of"] is None
    assert out[1]["drop_reason"] == "duplicate" and out[1]["dup_of"] == 0
    # duration reports the ORIGINAL clip's length at ITS stored rate
    assert out[0]["duration_ms"] == out[1]["duration_ms"] == 3000
