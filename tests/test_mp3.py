"""MP3 inventory: header tables, ID3 handling, Xing, desync, kernel."""

from __future__ import annotations

import pytest

from bid_evaluation_ext.operators.mp3 import (
    build_mp3,
    mp3_inventory,
    parse_mp3_inventory,
)


def test_cbr_mpeg1_layer3_with_id3():
    b = build_mp3([9] * 10, id3v2_bytes=200, id3v1=True)
    inv = parse_mp3_inventory(b)
    assert inv["n_frames"] == 10 and inv["is_cbr"]
    assert inv["version"] == "MPEG1" and inv["layer"] == 3
    assert inv["sample_rate"] == 44100
    assert inv["bitrate_kbps_min"] == inv["bitrate_kbps_max"] == 128
    assert inv["duration_ms"] == 10 * 1152 * 1000 // 44100
    assert inv["has_id3v2"] and inv["has_id3v1"] and inv["clean"]


def test_vbr_with_xing_tag():
    inv = parse_mp3_inventory(build_mp3([9, 11] * 3, xing_frames=6))
    assert not inv["is_cbr"] and inv["xing_frames"] == 6
    assert (inv["bitrate_kbps_min"], inv["bitrate_kbps_max"]) == (128, 192)


def test_every_version_and_layer_branch():
    # MPEG2.5 L3 @ 8 kHz: 576 samples/frame
    inv = parse_mp3_inventory(build_mp3([3] * 4, version=0, sr_idx=2))
    assert inv["version"] == "MPEG2.5" and inv["sample_rate"] == 8000
    assert inv["duration_ms"] == 4 * 576 * 1000 // 8000
    assert inv["bitrate_kbps_min"] == 24
    # Layer II / Layer I frame sizing
    assert parse_mp3_inventory(build_mp3([6] * 5, layer=2))["layer"] == 2
    inv1 = parse_mp3_inventory(build_mp3([9] * 10, layer=1))
    assert inv1["layer"] == 1
    assert inv1["duration_ms"] == 10 * 384 * 1000 // 44100
    # MPEG2 stereo Xing offset (side-info 17, not 32)
    inv2 = parse_mp3_inventory(build_mp3([8] * 7, version=2, sr_idx=1,
                                         mode=0, xing_frames=7))
    assert inv2["version"] == "MPEG2" and inv2["xing_frames"] == 7


def test_desync_and_junk():
    inv = parse_mp3_inventory(build_mp3([9] * 3) + b"junktail")
    assert inv["n_frames"] == 3 and not inv["clean"]
    assert parse_mp3_inventory(b"not audio")["n_frames"] == 0
    assert parse_mp3_inventory(b"")["n_frames"] == 0


def test_kernel(spark):
    rows = [(0, build_mp3([9] * 5)), (1, b"junk"), (2, None)]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: r for r in mp3_inventory(df).collect()}
    assert got[0]["n_frames"] == 5 and got[0]["clean"]
    assert got[1]["n_frames"] == 0 and not got[1]["clean"]
    assert got[2]["n_frames"] == 0


def test_crc_protected_xing_offset_and_truncated_magic():
    # ADVICE r11: protection bit 0 inserts a 2-byte CRC-16 before the
    # side info — the Xing tag shifts by 2 and must still be found.
    inv = parse_mp3_inventory(build_mp3([9] * 4, crc=True,
                                        xing_frames=4))
    assert inv["xing_frames"] == 4 and inv["n_frames"] == 4
    # A CRC-marked frame WITHOUT the shift (tag written at the
    # unprotected offset) must NOT be misread as a Xing tag.
    unshifted = bytearray(build_mp3([9] * 4, xing_frames=4))
    unshifted[1] &= 0xFE                  # clear protection bit only
    assert parse_mp3_inventory(bytes(unshifted))["xing_frames"] is None
    # Truncation right past the 'Xing' magic degrades to None, not a
    # struct.error escaping the 'never raised' contract.
    from bid_evaluation_ext.operators.mp3 import (
        _frame_info, _xing_frames)
    import struct
    whole = build_mp3([9], xing_frames=1)
    info = _frame_info(struct.unpack_from(">I", whole, 0)[0])
    cut = whole[:4 + 17 + 4 + 2]          # mono side 17, magic + 2
    assert _xing_frames(cut, 0, info) is None
    assert parse_mp3_inventory(cut)["xing_frames"] is None
