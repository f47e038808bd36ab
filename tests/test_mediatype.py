"""Media-type census: every route of the magic-byte sniffer, the
tricky splits (RIFF form, offset-4 ftyp, validated MPEG sync), kernel
+ counts aggregation."""

from __future__ import annotations

import numpy as np

from bid_evaluation_ext.operators.mediatype import (
    census_counts,
    media_census,
    sniff_media_type,
)


def test_riff_form_type_splits_wav_from_avi():
    from bid_evaluation_ext.operators.avi import encode_avi_mjpeg
    from bid_evaluation_ext.operators.wav import encode_wav
    img = np.full((8, 8), 90, dtype=np.uint8)
    x = 0.1 * np.sin(np.arange(2000))
    assert sniff_media_type(encode_wav(x, rate=8000))[:2] \
        == ("audio", "wav")
    assert sniff_media_type(encode_avi_mjpeg([img]))[:2] \
        == ("video", "avi")
    # unknown RIFF form is reported, not guessed
    weird = b"RIFF\x04\x00\x00\x00ACON"
    assert sniff_media_type(weird) == ("unknown", "riff", "ACON")


def test_mpeg_sync_is_table_validated():
    from bid_evaluation_ext.operators.mp3 import build_mp3
    assert sniff_media_type(build_mp3([9] * 2)) \
        == ("audio", "mpeg", "layer3")
    # a bare 0xFF byte with an invalid header is NOT an mp3
    assert sniff_media_type(b"\xff\xff\xff\xff junk")[1] != "mpeg"
    assert sniff_media_type(build_mp3([9], id3v2_bytes=64))[2] == "id3"


def test_mp4_magic_at_offset_four():
    from bid_evaluation_ext.operators.mp4 import build_mp4
    assert sniff_media_type(build_mp4(duration=0)) \
        == ("video", "mp4", "isom")


def test_text_tiers_and_unknown():
    assert sniff_media_type(b"<html><p>x</p></html>")[1] == "html"
    assert sniff_media_type(b"<!DOCTYPE HTML><html>")[1] == "html"
    assert sniff_media_type(b"<?xml version='1.0'?><a/>")[1] == "xml"
    assert sniff_media_type("plain prose".encode())[1] == "plain"
    assert sniff_media_type(b"\x00\x80\xfe binary")[1] == "binary"
    assert sniff_media_type(b"")[1] == "empty"


def test_kernel_and_counts(spark):
    from bid_evaluation_ext.operators.png import encode_png
    img = np.full((4, 4), 10, dtype=np.uint8)
    rows = [(0, encode_png(img)), (1, encode_png(img)),
            (2, b"plain words"), (3, None)]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    man = media_census(df)
    got = {r["media_id"]: r for r in man.collect()}
    assert got[0]["container"] == "png" and got[3]["container"] == "empty"
    counts = {(r["media_type"], r["container"]): r["n_files"]
              for r in census_counts(man).collect()}
    assert counts[("image", "png")] == 2
    assert counts[("text", "plain")] == 1
