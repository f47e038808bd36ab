"""Scene-cut detection: histogram arithmetic, within-shot motion
tolerance, cut localization, shot-length bookkeeping, null visibility
for corrupt clips."""

from __future__ import annotations

import numpy as np
import pytest

from bid_evaluation_ext.operators.scenecut import (
    cut_positions,
    frame_histogram,
    scene_cuts,
)
from bid_evaluation_ext.operators.y4m import encode_y4m


def _flat(v, w=32, h=24):
    return np.full((h, w), v, dtype=np.uint8)


def test_histogram_normalized_and_binned():
    h = frame_histogram(_flat(40))          # 40 // 16 = bin 2
    assert h[2] == 1.0 and h.sum() == 1.0
    # an even split across two bins
    half = np.concatenate([_flat(0, h=12), _flat(255, h=12)])
    hh = frame_histogram(half)
    assert hh[0] == 0.5 and hh[15] == 0.5


def test_cut_positions_on_shot_boundaries():
    shots = [_flat(30)] * 4 + [_flat(200)] * 3 + [_flat(90)] * 5
    assert cut_positions(shots) == [4, 7]
    # first frame never cuts
    assert cut_positions([_flat(30)]) == []


def test_within_shot_motion_not_a_cut():
    rng = np.random.default_rng(0)
    frames = []
    for k in range(8):
        f = _flat(100).astype(np.int16)
        # a small moving bright square: shifts ~4% of the luma mass
        f[4 + k:10 + k, 4:10] = 220
        frames.append(np.clip(f, 0, 255).astype(np.uint8))
    assert cut_positions(frames) == []
    # but a real shot change after the pan still cuts
    assert cut_positions(frames + [_flat(10)]) == [8]


def test_scene_cuts_kernel(spark):
    clip = [_flat(30)] * 3 + [_flat(200)] * 2 + [_flat(90)] * 4
    rows = [(1, encode_y4m(clip)), (2, encode_y4m([_flat(50)] * 5)),
            (3, b"junk")]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: r for r in scene_cuts(df).collect()}
    assert got[1]["n_frames"] == 9 and got[1]["n_cuts"] == 2
    assert got[1]["cut_frames"] == [3, 5]
    assert got[1]["shot_lengths"] == [3, 2, 4]
    assert got[2]["n_cuts"] == 0 and got[2]["shot_lengths"] == [5]
    assert got[3]["n_frames"] is None       # corrupt stays visible
    with pytest.raises(Exception):
        scene_cuts(df, strict=True).collect()


def test_frame_histogram_rejects_empty_frame():
    import numpy as np
    import pytest
    from bid_evaluation_ext.operators.scenecut import frame_histogram
    with pytest.raises(ValueError):
        frame_histogram(np.zeros((0, 0)))
