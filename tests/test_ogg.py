"""Ogg inventory: page walk, Opus/Vorbis granule timescales, FLAC id,
damage tolerance, kernel."""

from __future__ import annotations

from bid_evaluation_ext.operators.ogg import (
    build_ogg,
    ogg_inventory,
    parse_ogg_inventory,
)


def test_opus_granule_is_48k_minus_preskip():
    b = build_ogg("opus", rate=16000, channels=2, pre_skip=312,
                  final_granule=48000 * 10 + 312, n_audio_pages=3)
    inv = parse_ogg_inventory(b)
    assert inv["codec"] == "opus" and inv["channels"] == 2
    assert inv["sample_rate"] == 16000       # id-header rate reported
    assert inv["duration_ms"] == 10000       # ...but granules at 48 kHz
    assert inv["n_pages"] == 5 and inv["clean"]


def test_vorbis_granule_is_stream_rate():
    inv = parse_ogg_inventory(
        build_ogg("vorbis", rate=44100, channels=1,
                  final_granule=44100 * 3))
    assert inv["codec"] == "vorbis" and inv["duration_ms"] == 3000


def test_flac_in_ogg_has_no_page_duration():
    inv = parse_ogg_inventory(build_ogg("flac", final_granule=1000))
    assert inv["codec"] == "flac" and inv["duration_ms"] is None


def test_junk_and_truncation():
    assert parse_ogg_inventory(b"nope")["is_ogg"] is False
    assert parse_ogg_inventory(b"")["is_ogg"] is False
    full = build_ogg("opus", rate=48000, pre_skip=312,
                     final_granule=48000)
    t = parse_ogg_inventory(full[:-5])
    assert t["is_ogg"] and not t["clean"]
    # duration falls back to the last INTACT page's granule
    assert t["duration_ms"] == (24000 - 312) * 1000 // 48000


def test_kernel(spark):
    rows = [(0, build_ogg("opus", final_granule=48000 + 312)),
            (1, b"junk"), (2, None)]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: r for r in ogg_inventory(df).collect()}
    assert got[0]["codec"] == "opus" and got[0]["duration_ms"] == 1000
    assert got[1]["is_ogg"] is False
    assert got[2]["is_ogg"] is False


def test_bos_sniff_is_constant_work():
    # ADVICE r11: the census sniff must read only the BOS page, never
    # walk all pages — codec survives a payload cut mid-stream.
    from bid_evaluation_ext.operators.ogg import sniff_ogg_codec
    full = build_ogg("vorbis", rate=44100, n_audio_pages=4)
    assert sniff_ogg_codec(full) == "vorbis"
    assert sniff_ogg_codec(full[:120]) == "vorbis"   # tail gone
    assert sniff_ogg_codec(b"OggS") is None
    assert sniff_ogg_codec(b"junk") is None
