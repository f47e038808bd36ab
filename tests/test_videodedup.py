"""Video near-dup composition: one-pass shot-hash kernel, corrupt-row
visibility, banded cross-video verdicts, same-video exclusion."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from bid_evaluation_ext.operators.avi import encode_avi_mjpeg
from bid_evaluation_ext.operators.phash import phash64
from bid_evaluation_ext.operators.videodedup import (
    shot_phashes,
    video_neardup,
)
from bid_evaluation_ext.operators.y4m import encode_y4m


def _textured(bin_idx: int, k: int) -> np.ndarray:
    """Flat-bin frame with a ±7 cosine texture (stays inside the
    16-wide histogram bin, so shot boundaries are full-mass jumps)."""
    y, x = np.mgrid[0:24, 0:32]
    p = np.round(7 * np.cos(2 * np.pi * x * (1 + k) / 32)
                 * np.cos(2 * np.pi * y / 24))
    return (16 * bin_idx + 8 + p).astype(np.uint8)


def _clip(shot_bins, repeats=2, codec="avi", tex=0):
    frames = []
    for k, b in enumerate(shot_bins):
        frames += [_textured(b, k + tex)] * repeats
    if codec == "avi":
        return encode_avi_mjpeg(frames, quality=90)
    return encode_y4m(frames)


def test_shot_phashes_manifest_and_hashes(spark):
    payload = _clip([2, 8, 13], repeats=3)
    df = spark.createDataFrame([(7, payload)],
                               "media_id long, payload binary")
    rows = {r["shot_index"]: r
            for r in shot_phashes(df, strict=True).collect()}
    assert sorted(rows) == [0, 1, 2]
    assert all(rows[i]["shot_start"] == 3 * i for i in range(3))
    assert all(rows[i]["shot_len"] == 3 for i in range(3))
    # hash equals phash64 of the shot's first DECODED frame — recompute
    # through the same codec chain
    from bid_evaluation_ext.operators.avi import decode_avi
    _, _, _, _, frames = decode_avi(payload)
    for i in range(3):
        assert rows[i]["phash"] == phash64(frames[3 * i])


def test_shot_phashes_y4m_and_corrupt_row(spark):
    df = spark.createDataFrame(
        [(1, _clip([3, 9], codec="y4m")), (2, b"not a video")],
        "media_id long, payload binary")
    got = shot_phashes(df).collect()
    by_id = {}
    for r in got:
        by_id.setdefault(r["media_id"], []).append(r)
    assert len(by_id[1]) == 2
    assert all(r["phash"] is not None for r in by_id[1])
    # corrupt payload stays VISIBLE as one null-manifest row
    assert len(by_id[2]) == 1 and by_id[2][0]["shot_index"] is None
    with pytest.raises(Exception):
        shot_phashes(df, strict=True).collect()


def test_video_neardup_same_class_pairs_only(spark):
    # videos 0/1 share both shots; 2 differs in TEXTURE (pHash is
    # luminance-invariant, so a luma-only change is not enough to
    # separate videos — that's the operator working as designed);
    # 3 == 0 exactly
    rows = [(0, _clip([2, 8])), (1, _clip([2, 8])),
            (2, _clip([5, 12], tex=4)), (3, _clip([2, 8]))]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {(r["media_id_a"], r["media_id_b"]): r["n_shared_shots"]
           for r in video_neardup(shot_phashes(df, strict=True)).collect()}
    assert got == {(0, 1): 2, (0, 3): 2, (1, 3): 2}


def test_video_neardup_excludes_same_video_matches(spark):
    # one video whose two shots are IDENTICAL content: no self pair
    payload = encode_avi_mjpeg(
        [_textured(2, 0)] * 2 + [_textured(9, 1)] * 2
        + [_textured(2, 0)] * 2, quality=90)
    df = spark.createDataFrame([(5, payload)],
                               "media_id long, payload binary")
    shots = shot_phashes(df, strict=True)
    assert shots.count() == 3
    assert video_neardup(shots).count() == 0


def test_video_neardup_min_shared_threshold(spark):
    # share shot 0 only; video 1's second shot differs in texture
    other = encode_avi_mjpeg(
        [_textured(2, 0)] * 2 + [_textured(13, 5)] * 2, quality=90)
    rows = [(0, _clip([2, 8])), (1, other)]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    shots = shot_phashes(df, strict=True)
    assert video_neardup(shots, min_shared=1).count() == 1
    assert video_neardup(shots, min_shared=2).count() == 0


def test_streaming_shot_dedup_composition(spark, tmp_path):
    """Shot-level video dedup ON INGEST: per-batch shot_phashes feed
    the persisted band-bucket state (StreamingHashNearDup) keyed by
    shot_uid — re-ingesting a clip whose shots were already seen flags
    every shot as a duplicate, across batch (and restart) boundaries."""
    from bid_evaluation_ext.streaming.hashdup import StreamingHashNearDup

    state = StreamingHashNearDup(spark, str(tmp_path / "state"),
                                 id_col="shot_uid", hash_col="phash")

    def ingest(rows, batch_id):
        df = spark.createDataFrame(rows, "media_id long, payload binary")
        shots = shot_phashes(df, strict=True).select(
            (F.shiftleft(F.col("media_id"), 20)
             + F.col("shot_index")).alias("shot_uid"), "phash")
        state.process_batch(shots, batch_id=batch_id)

    ingest([(1, _clip([2, 8])), (2, _clip([5, 12], tex=4))], 0)
    ingest([(3, _clip([2, 8]))], 1)          # same content as clip 1
    flags = {r["shot_uid"]: r["is_near_dup"]
             for r in state.flags().collect()}
    v = 1 << 20
    assert flags[1 * v + 0] is False and flags[1 * v + 1] is False
    assert flags[3 * v + 0] is True and flags[3 * v + 1] is True
    assert flags[2 * v + 0] is False

    # restart from disk: state survives, replayed batch is idempotent
    re = StreamingHashNearDup(spark, str(tmp_path / "state"),
                              id_col="shot_uid", hash_col="phash")
    n_before = re.n_docs
    ingest_rows = [(3, _clip([2, 8]))]
    df = spark.createDataFrame(ingest_rows, "media_id long, payload binary")
    shots = shot_phashes(df, strict=True).select(
        (F.shiftleft(F.col("media_id"), 20)
         + F.col("shot_index")).alias("shot_uid"), "phash")
    re.process_batch(shots, batch_id=1)      # replay of batch 1
    assert re.n_docs == n_before
