"""MP4 inventory: box walk, mvhd v0/v1, track census, salvage, kernel."""

from __future__ import annotations

from bid_evaluation_ext.operators.mp4 import (
    build_mp4,
    mp4_inventory,
    parse_mp4_inventory,
)


def test_av_file_full_inventory():
    b = build_mp4(brand="mp42", timescale=1000, duration=90500,
                  tracks=[("vide", "avc1", 640, 360),
                          ("soun", "mp4a", 0, 0)])
    inv = parse_mp4_inventory(b)
    assert inv["is_mp4"] and inv["major_brand"] == "mp42"
    assert inv["duration_ms"] == 90500 and inv["n_tracks"] == 2
    assert inv["video_codec"] == "avc1" and inv["audio_codec"] == "mp4a"
    assert (inv["width"], inv["height"]) == (640.0, 360.0)
    assert inv["track_types"] == "vide,soun" and inv["clean"]


def test_mvhd_version1_sixtyfour_bit_duration():
    b = build_mp4(timescale=90000, duration=90000 * 7200,
                  mvhd_version=1)
    assert parse_mp4_inventory(b)["duration_ms"] == 7200 * 1000


def test_junk_and_mid_moov_truncation():
    assert parse_mp4_inventory(b"random bytes")["is_mp4"] is False
    full = build_mp4(brand="mp42", duration=5000,
                     tracks=[("vide", "avc1", 320, 240)])
    t = parse_mp4_inventory(full[:28])   # ftyp + 4 bytes of moov header
    assert t["is_mp4"] and t["major_brand"] == "mp42"
    assert t["clean"] is False and t["n_tracks"] == 0
    assert t["duration_ms"] is None


def test_three_track_census():
    b = build_mp4(duration=60000,
                  tracks=[("vide", "avc1", 1280, 720),
                          ("soun", "mp4a", 0, 0),
                          ("text", "tx3g", 0, 0)])
    inv = parse_mp4_inventory(b)
    assert inv["n_tracks"] == 3
    assert inv["track_types"] == "vide,soun,text"
    assert inv["video_codec"] == "avc1"


def test_kernel(spark):
    rows = [(0, build_mp4(duration=1000,
                          tracks=[("vide", "avc1", 64, 48)])),
            (1, b"junk"), (2, None)]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: r for r in mp4_inventory(df).collect()}
    assert got[0]["is_mp4"] and got[0]["video_codec"] == "avc1"
    assert got[1]["is_mp4"] is False
    assert got[2]["is_mp4"] is False


def test_malformed_tiny_tkhd_degrades_to_null_dims():
    # ADVICE r11: a tkhd box shorter than 8 bytes must yield null
    # width/height, never the previous box's bytes as 16.16 dims.
    import struct

    from bid_evaluation_ext.operators.mp4 import _box

    hdlr = _box(b"hdlr", b"\x00" * 8 + b"vide" + b"\x00" * 12)
    entry = _box(b"avc1", b"\x00" * 70)
    stsd = _box(b"stsd", b"\x00" * 4 + struct.pack(">I", 1) + entry)
    mdia = _box(b"mdia", hdlr + _box(b"minf", _box(b"stbl", stsd)))
    tiny_tkhd = _box(b"tkhd", b"\x00" * 4)          # 4-byte body
    trak = _box(b"trak", tiny_tkhd + mdia)
    mvhd = _box(b"mvhd", b"\x00" * 12 + struct.pack(">II", 1000, 0)
                + b"\x00" * 80)
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0) + b"isomiso2")
    inv = parse_mp4_inventory(ftyp + _box(b"moov", mvhd + trak))
    assert inv["is_mp4"] and inv["video_codec"] == "avc1"
    assert inv["width"] is None and inv["height"] is None
    assert inv["clean"]
