"""EXIF: APP1 build/parse round-trip, JPEG pipeline compatibility,
GPS scrub completeness (no coordinate byte survives), Spark kernels."""

from __future__ import annotations

import numpy as np
import pytest

from bid_evaluation_ext.operators.exif import (
    build_exif_app1,
    exif_metadata,
    exif_scrub_gps,
    insert_app1,
    parse_exif,
    scrub_gps,
)
from bid_evaluation_ext.operators.jpeg import decode_jpeg, encode_jpeg


def _jpeg_with(meta_kw):
    img = np.tile(np.arange(0, 240, 10, dtype=np.uint8), (16, 1))
    return insert_app1(encode_jpeg(img), build_exif_app1(**meta_kw))


def test_build_parse_roundtrip_full():
    j = _jpeg_with(dict(make="ACME", model="Cam 9", orientation=6,
                        datetime="2026:08:16 12:00:00",
                        gps=(48.85837, 2.294481)))
    m = parse_exif(j)
    assert m["has_exif"] and m["make"] == "ACME" and m["model"] == "Cam 9"
    assert m["orientation"] == 6
    assert m["datetime"] == "2026:08:16 12:00:00"
    assert m["has_gps"]
    assert abs(m["lat"] - 48.85837) < 1e-4
    assert abs(m["lon"] - 2.294481) < 1e-4


def test_southern_western_hemispheres():
    m = parse_exif(_jpeg_with(dict(gps=(-33.8688, -71.55))))
    assert m["lat"] < 0 and m["lon"] < 0
    assert abs(m["lat"] + 33.8688) < 1e-4
    assert abs(m["lon"] + 71.55) < 1e-4


def test_no_exif_and_corrupt_block():
    img = np.full((8, 8), 100, dtype=np.uint8)
    plain = encode_jpeg(img)
    assert parse_exif(plain) == {
        "has_exif": False, "make": None, "model": None,
        "orientation": None, "datetime": None, "has_gps": False,
        "lat": None, "lon": None}
    # APP1 with garbage TIFF block degrades, never raises
    import struct
    bad = plain[:2] + b"\xff\xe1" + struct.pack(">H", 12) \
        + b"Exif\x00\x00GARB" + plain[2:]
    assert parse_exif(bad)["has_exif"] is False


def test_jpeg_still_decodes_with_app1():
    img = np.tile(np.arange(0, 240, 10, dtype=np.uint8), (16, 1))
    plain = encode_jpeg(img)
    tagged = insert_app1(plain, build_exif_app1(make="X", gps=(1.5, 2.5)))
    assert np.array_equal(decode_jpeg(tagged), decode_jpeg(plain))


def test_scrub_gps_removes_every_coordinate_byte():
    j = _jpeg_with(dict(make="ACME", orientation=3, gps=(48.85837, 2.294481)))
    s = scrub_gps(j)
    assert len(s) == len(j)                       # no re-layout
    m = parse_exif(s)
    assert m["has_gps"] is False and m["lat"] is None
    # non-GPS metadata survives byte-exact behavior
    assert m["make"] == "ACME" and m["orientation"] == 3
    # pixels untouched
    assert np.array_equal(decode_jpeg(s), decode_jpeg(j))
    # NO byte of the DMS rationals survives anywhere in the file: the
    # seconds numerator 10000-denominator pairs are distinctive
    import struct
    for v in (48, 2):                             # degree numerators
        pat = struct.pack("<II", v, 1)
        assert pat in j and pat not in s
    assert struct.pack("<I", 10000) not in s


def _app1_gps_altitude_only():
    """APP1 whose GPS IFD carries ONLY GPSAltitude (tag 6) — no
    lat/lon, so coordinate decode reports has_gps False, but it is
    still location data the scrub must remove."""
    import struct
    ifd0_off = 8
    gps_off = ifd0_off + 2 + 12 + 4
    alt_off = gps_off + 2 + 12 + 4
    tiff = bytearray(b"II*\x00" + struct.pack("<I", ifd0_off))
    tiff += struct.pack("<H", 1)
    tiff += struct.pack("<HHII", 34853, 4, 1, gps_off)   # GPSInfo ptr
    tiff += struct.pack("<I", 0)
    tiff += struct.pack("<H", 1)
    tiff += struct.pack("<HHII", 6, 5, 1, alt_off)       # GPSAltitude
    tiff += struct.pack("<I", 0)
    tiff += struct.pack("<II", 1234, 10)                 # 123.4 m
    body = b"Exif\x00\x00" + bytes(tiff)
    return b"\xff\xe1" + struct.pack(">H", len(body) + 2) + body


def test_scrub_gps_ifd_without_coordinates():
    import struct
    from bid_evaluation_ext.operators.exif import scrub_gps_report
    plain = encode_jpeg(np.full((8, 8), 7, dtype=np.uint8))
    j = insert_app1(plain, _app1_gps_altitude_only())
    assert parse_exif(j)["has_gps"] is False      # no lat/lon decodes
    s, had = scrub_gps_report(j)
    assert had is True                            # ...but it IS GPS data
    assert len(s) == len(j)
    assert struct.pack("<II", 1234, 10) in j
    assert struct.pack("<II", 1234, 10) not in s  # altitude bytes gone
    assert np.array_equal(decode_jpeg(s), decode_jpeg(j))


def test_scrub_second_app1_segment():
    import struct
    from bid_evaluation_ext.operators.exif import scrub_gps_report
    plain = encode_jpeg(np.full((8, 8), 7, dtype=np.uint8))
    # two APP1 Exif segments, each with its own GPS IFD
    j = insert_app1(insert_app1(plain, build_exif_app1(gps=(11.0, 22.0))),
                    build_exif_app1(gps=(33.0, 44.0)))
    s, had = scrub_gps_report(j)
    assert had is True and len(s) == len(j)
    for deg in (11, 22, 33, 44):
        assert struct.pack("<II", deg, 1) not in s
    assert parse_exif(s)["has_gps"] is False
    assert np.array_equal(decode_jpeg(s), decode_jpeg(j))


def test_scrub_is_noop_without_gps():
    j = _jpeg_with(dict(make="ACME"))
    assert scrub_gps(j) == j
    plain = encode_jpeg(np.full((8, 8), 7, dtype=np.uint8))
    assert scrub_gps(plain) == plain


def test_spark_kernels(spark):
    rows = []
    for i in range(6):
        gps = (10.0 + i, -20.0 - i) if i % 2 == 0 else None
        rows.append((i, _jpeg_with(dict(make=f"M{i % 3}", orientation=1 + i % 8,
                                        gps=gps))))
    rows.append((6, b"not a jpeg"))
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    meta = {r["media_id"]: r for r in exif_metadata(df).collect()}
    assert meta[0]["has_gps"] and abs(meta[0]["lat"] - 10.0) < 1e-4
    assert not meta[1]["has_gps"]
    assert meta[2]["make"] == "M2"
    assert meta[6]["has_exif"] is False

    scrubbed = exif_scrub_gps(df)
    got = {r["media_id"]: r for r in scrubbed.collect()}
    assert got[0]["had_gps"] and not got[1]["had_gps"]
    # re-extract: nothing has GPS afterwards
    meta2 = {r["media_id"]: r
             for r in exif_metadata(scrubbed).collect()}
    assert all(not m["has_gps"] for m in meta2.values())
    assert meta2[2]["make"] == "M2"               # metadata preserved


def test_apply_orientation_all_eight():
    import numpy as np
    from bid_evaluation_ext.operators.exif import apply_orientation
    a = np.arange(6).reshape(2, 3)
    assert np.array_equal(apply_orientation(a, 1), a)
    assert np.array_equal(apply_orientation(a, 2), a[:, ::-1])
    assert np.array_equal(apply_orientation(a, 3), np.rot90(a, 2))
    assert np.array_equal(apply_orientation(a, 4), a[::-1, :])
    assert np.array_equal(apply_orientation(a, 5), a.T)
    assert np.array_equal(apply_orientation(a, 6), np.rot90(a, -1))
    assert np.array_equal(apply_orientation(a, 7), np.rot90(a.T, 2))
    assert np.array_equal(apply_orientation(a, 8), np.rot90(a, 1))
    assert np.array_equal(apply_orientation(a, None), a)
    # rgb keeps channels
    rgb = np.arange(24).reshape(2, 4, 3)
    assert apply_orientation(rgb, 6).shape == (4, 2, 3)


def test_exif_metadata_passthrough_columns(spark):
    """r12 optimization: passthrough columns ride through the metadata
    kernel row-aligned (lets scrub -> re-extract stay one lineage
    instead of a re-association join)."""
    import numpy as np
    from bid_evaluation_ext.operators.exif import (
        build_exif_app1, exif_metadata, exif_scrub_gps, insert_app1)
    from bid_evaluation_ext.operators.jpeg import encode_jpeg
    img = np.tile(np.arange(0, 240, 16, dtype=np.uint8), (8, 1))
    plain = encode_jpeg(img)
    rows = [(i, insert_app1(plain, build_exif_app1(
        make=f"M{i}", orientation=1 + i % 8,
        gps=(10.0 + i, -20.0) if i % 2 == 0 else None)))
        for i in range(7)]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    scrubbed = exif_scrub_gps(df)
    meta = exif_metadata(scrubbed, passthrough=["had_gps"])
    assert meta.columns[-1] == "had_gps"
    got = {r["media_id"]: r for r in meta.collect()}
    assert len(got) == 7
    for i in range(7):
        assert got[i]["had_gps"] == (i % 2 == 0)
        assert got[i]["make"] == f"M{i}"          # row alignment held
        assert not got[i]["has_gps"]
