"""Header-only media probe: every container the codec modules speak,
no-decode guarantee (truncated bodies still probe), corrupt→null."""

import numpy as np
import pytest

from bid_evaluation_ext.operators.probe import probe_media, probe_payload


def _img(w=12, h=8):
    return ((np.arange(w)[None, :] + 7 * np.arange(h)[:, None]) % 256) \
        .astype(np.uint8)


def test_probe_all_containers():
    from bid_evaluation_ext.operators.adpcm import encode_wav_adpcm
    from bid_evaluation_ext.operators.avi import encode_avi_mjpeg
    from bid_evaluation_ext.operators.flac import encode_flac
    from bid_evaluation_ext.operators.g711 import encode_wav_g711
    from bid_evaluation_ext.operators.gif import encode_gif
    from bid_evaluation_ext.operators.jpeg import encode_jpeg
    from bid_evaluation_ext.operators.netpbm import encode_pgm, encode_ppm
    from bid_evaluation_ext.operators.png import encode_png
    from bid_evaluation_ext.operators.wav import encode_wav
    from bid_evaluation_ext.operators.y4m import encode_y4m
    from bid_evaluation_ext.sources.webdataset import encode_tar_shard

    img = _img()
    sq = np.tile([0.5, -0.5], 400)
    frames = [img[:8, :8]] * 3
    cases = {
        "png": encode_png(img[:, :, None]),
        "jpeg": encode_jpeg(img, qtable=1),
        "gif": encode_gif(np.dstack([img] * 3)),
        "pgm": encode_pgm(img),
        "ppm": encode_ppm(np.dstack([img] * 3)),
        "wav-pcm": encode_wav(sq, rate=8000),
        "wav-ulaw": encode_wav_g711(sq, rate=8000, law="ulaw"),
        "wav-alaw": encode_wav_g711(sq, rate=8000, law="alaw"),
        "wav-adpcm": encode_wav_adpcm(sq, rate=8000),
        "flac": encode_flac(sq, rate=8000),
        "y4m": encode_y4m(frames, fps_num=5, fps_den=1, mono=True),
        "avi-mjpeg": encode_avi_mjpeg(frames, fps_num=5, fps_den=1,
                                      qtable=1),
        "tar": encode_tar_shard([{"__key__": "a", "txt": b"x"},
                                 {"__key__": "b", "txt": b"y"}]),
    }
    for want, payload in cases.items():
        got = probe_payload(payload)
        assert got["format"] == want, (want, got)
    for name in ("png", "jpeg", "gif", "pgm", "ppm"):
        got = probe_payload(cases[name])
        assert (got["width"], got["height"]) == (12, 8), name
    for name in ("wav-pcm", "wav-ulaw", "wav-alaw", "wav-adpcm", "flac"):
        got = probe_payload(cases[name])
        assert got["sample_rate"] == 8000 and got["n_units"] == 800 \
            and got["duration_ms"] == 100, name
    for name in ("y4m", "avi-mjpeg"):
        got = probe_payload(cases[name])
        assert got["n_units"] == 3 and got["duration_ms"] == 600, name
    assert probe_payload(cases["tar"])["n_units"] == 2
    assert probe_payload(b"random junk")["format"] is None
    assert probe_payload(b"")["format"] is None


def _mp3_frame(ver_bits, br_idx, sr_idx):
    """One MPEG Layer-III frame with a valid header and zeroed payload
    (header-only fixture: the probe never reads audio data)."""
    hdr = bytes([0xFF, 0xE0 | (ver_bits << 3) | (1 << 1),
                 (br_idx << 4) | (sr_idx << 2), 0])
    spf = 1152 if ver_bits == 3 else 576
    rates = {3: (44100, 48000, 32000), 2: (22050, 24000, 16000),
             0: (11025, 12000, 8000)}[ver_bits]
    brs = {3: (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224,
               256, 320),
           2: (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144,
               160)}[3 if ver_bits == 3 else 2]
    flen = spf // 8 * (brs[br_idx] * 1000) // rates[sr_idx]
    return hdr + b"\x00" * (flen - 4)


def test_probe_mp3_headers():
    # MPEG-1 Layer III, 128 kbps, 44.1 kHz, 38 frames ≈ 992 ms
    stream = b"".join(_mp3_frame(3, 9, 0) for _ in range(38))
    got = probe_payload(stream)
    assert got["format"] == "mp3" and got["sample_rate"] == 44100
    assert got["n_units"] == 38 * 1152
    assert got["duration_ms"] == 38 * 1152 * 1000 // 44100
    # ID3v2 tag is skipped (synchsafe size), single frame then suffices
    id3 = b"ID3\x04\x00\x00\x00\x00\x00\x0a" + b"\x00" * 10
    got = probe_payload(id3 + _mp3_frame(2, 5, 2))
    assert got["format"] == "mp3" and got["sample_rate"] == 16000
    # one lone sync byte in junk must NOT classify (needs 2 frames)
    assert probe_payload(b"\xff\xfb\x90\x00" + b"junk" * 10)["format"] \
        is None


def test_probe_is_header_only():
    """Truncating the BODY must not break the probe — that's the whole
    point: dims/rates come from headers, not decodes."""
    from bid_evaluation_ext.operators.png import encode_png
    from bid_evaluation_ext.operators.y4m import encode_y4m

    png = encode_png(_img()[:, :, None])
    got = probe_payload(png[:40])  # magic + IHDR only
    assert got["format"] == "png" and got["width"] == 12
    y4m = encode_y4m([_img()[:8, :8]] * 4, fps_num=5, fps_den=1,
                     mono=True)
    got = probe_payload(y4m[:len(y4m) - 30])  # last frame truncated
    assert got["format"] == "y4m" and got["n_units"] == 3


def test_probe_media_kernel(spark):
    from bid_evaluation_ext.operators.wav import encode_wav

    df = spark.createDataFrame(
        [(1, bytearray(encode_wav(np.zeros(800), rate=16000))),
         (2, bytearray(b"junk")), (3, None)],
        "media_id long, payload binary")
    got = {r["media_id"]: r for r in probe_media(df).collect()}
    assert got[1]["format"] == "wav-pcm" and got[1]["sample_rate"] == 16000
    assert got[2]["format"] is None and got[3]["format"] is None
