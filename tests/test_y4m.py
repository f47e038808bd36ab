"""Unit tests for the pure-stdlib Y4M codec (no Spark)."""

import numpy as np
import pytest

from bid_evaluation_ext.operators import y4m as Y


def _frames(n=4, w=8, h=6):
    return [((np.arange(w)[None, :] + 2 * np.arange(h)[:, None] + 9 * k)
             % 256).astype(np.uint8) for k in range(n)]


def test_roundtrip_c420():
    frames = _frames()
    w, h, num, den, back = Y.decode_y4m(Y.encode_y4m(frames, 25, 1))
    assert (w, h, num, den) == (8, 6, 25, 1)
    assert len(back) == 4
    for a, b in zip(frames, back):
        assert np.array_equal(a, b)


def test_roundtrip_mono_odd_dims():
    frames = [f[:5, :7] for f in _frames()]  # odd dims only legal as mono
    w, h, num, den, back = Y.decode_y4m(
        Y.encode_y4m(frames, 30000, 1001, mono=True))
    assert (w, h, num, den) == (7, 5, 30000, 1001)
    assert all(np.array_equal(a, b) for a, b in zip(frames, back))
    with pytest.raises(ValueError, match="even"):
        Y.encode_y4m(frames)


def test_default_colorspace_is_c420():
    # a header with no C tag must still skip 4:2:0 chroma correctly
    payload = Y.encode_y4m(_frames(2), 10, 1)
    stripped = payload.replace(b" C420jpeg", b"", 1)
    assert Y.decode_y4m(stripped)[4][1].shape == (6, 8)


def test_frame_params_tolerated():
    payload = Y.encode_y4m(_frames(2), 10, 1)
    tweaked = payload.replace(b"FRAME\n", b"FRAME Xsome=param\n", 1)
    assert len(Y.decode_y4m(tweaked)[4]) == 2


def test_rejects_garbage_and_truncation():
    with pytest.raises(ValueError, match="YUV4MPEG2"):
        Y.decode_y4m(b"RIFF....not video")
    payload = Y.encode_y4m(_frames(3), 10, 1)
    with pytest.raises(ValueError, match="truncated"):
        Y.decode_y4m(payload[:-5])
    with pytest.raises(ValueError, match="W, H or F"):
        Y.decode_y4m(b"YUV4MPEG2 W0 H6 F10:1\n")
    with pytest.raises(ValueError, match="colorspace"):
        Y.decode_y4m(b"YUV4MPEG2 W8 H6 F10:1 C999\nFRAME\n" + b"\0" * 48)
