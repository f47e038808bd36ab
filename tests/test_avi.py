"""MJPEG-in-AVI lossy video: container roundtrip (bit-exact under the
flat-q=1 table), header parsing, the frame-sampling dispatch seam next
to Y4M, and error paths."""

import numpy as np
import pytest

from bid_evaluation_ext.operators.avi import (
    decode_avi,
    encode_avi_mjpeg,
    is_avi,
)


def _block_frames(nf, wb=2, hb=3, stride=7):
    frames = []
    for k in range(nf):
        blocks = ((11 * np.arange(wb)[None, :] + 5 * np.arange(hb)[:, None]
                   + stride * k) % 256)
        frames.append(np.repeat(np.repeat(blocks, 8, 0), 8, 1)
                      .astype(np.uint8))
    return frames


def test_roundtrip_bit_exact_q1():
    frames = _block_frames(4)
    payload = encode_avi_mjpeg(frames, fps_num=5, fps_den=1, qtable=1)
    assert is_avi(payload) and not is_avi(payload[4:])
    w, h, num, den, out = decode_avi(payload)
    assert (w, h, num, den, len(out)) == (16, 24, 5, 1, 4)
    for a, b in zip(frames, out):
        assert np.array_equal(a, b)


def test_color_and_default_quality():
    frames = _block_frames(2)
    color = [np.dstack([f, f, f]) for f in frames]
    payload = encode_avi_mjpeg(color, fps_num=4, fps_den=1, qtable=1)
    _, _, num, den, out = decode_avi(payload)
    assert (num, den) == (4, 1)
    # gray RGB → Rec.601 luma == the gray value, bit-exact at q=1
    assert np.array_equal(out[0], frames[0])
    # real lossy quality: blockwise-constant images still decode exactly
    # (quantized DC round-trips), arbitrary content stays close
    rng = np.random.default_rng(7)
    noisy = [rng.integers(0, 256, (16, 16), dtype=np.uint8)]
    _, _, _, _, dec = decode_avi(encode_avi_mjpeg(noisy, quality=90))
    assert np.abs(dec[0].astype(int) - noisy[0].astype(int)).mean() < 16


def test_error_paths():
    frames = _block_frames(1)
    payload = encode_avi_mjpeg(frames, qtable=1)
    with pytest.raises(ValueError):
        decode_avi(payload[:40])            # truncated chunk
    with pytest.raises(ValueError):
        decode_avi(b"RIFF\x04\x00\x00\x00AVI ")  # no headers/frames
    with pytest.raises(ValueError):
        decode_avi(b"plainly not a container")
    with pytest.raises(ValueError):
        encode_avi_mjpeg([])


def test_sample_frames_dispatch_seam(spark):
    """AVI and Y4M payloads flow through the SAME frame-sampling kernel;
    corrupt payloads vanish instead of failing the scan."""
    from bid_evaluation_ext.operators.multimodal import sample_frames
    from bid_evaluation_ext.operators.y4m import encode_y4m

    frames = _block_frames(3)
    avi = encode_avi_mjpeg(frames, fps_num=5, fps_den=1, qtable=1)
    y4m = encode_y4m(frames, fps_num=5, fps_den=1)
    rows = [(1, bytearray(avi), None), (2, bytearray(y4m), None),
            (3, bytearray(b"junk"), None)]
    df = spark.createDataFrame(
        rows, "media_id long, payload binary, duration_ms long")
    out = sample_frames(df, every_ms=200).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r["media_id"], []).append(r)
    assert 3 not in by_id and len(by_id[1]) == 3 and len(by_id[2]) == 3
    # identical pixels → identical per-frame luma digests across codecs
    avi_sha = [r["frame_sha256"] for r in
               sorted(by_id[1], key=lambda r: r["frame_index"])]
    y4m_sha = [r["frame_sha256"] for r in
               sorted(by_id[2], key=lambda r: r["frame_index"])]
    assert avi_sha == y4m_sha
    assert all(r["width"] == 16 and r["height"] == 24 for r in out)
