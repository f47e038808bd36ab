"""WebP inventory: VP8/VP8L/VP8X headers, flags, padding, salvage,
census route, kernel."""

from __future__ import annotations

from bid_evaluation_ext.operators.webp import (
    build_webp,
    parse_webp_inventory,
    webp_inventory,
)


def test_lossy_dims_behind_start_code():
    inv = parse_webp_inventory(build_webp("lossy", width=640, height=480))
    assert inv["is_webp"] and inv["format"] == "lossy"
    assert (inv["width"], inv["height"]) == (640, 480)
    assert not inv["has_alpha"] and inv["clean"]


def test_lossless_bitfield_and_alpha():
    inv = parse_webp_inventory(
        build_webp("lossless", width=100, height=50, alpha=True))
    assert inv["format"] == "lossless" and inv["has_alpha"]
    assert (inv["width"], inv["height"]) == (100, 50)


def test_extended_flags_and_canvas():
    inv = parse_webp_inventory(
        build_webp("extended", width=1920, height=1080,
                   animated=True, exif=True))
    assert inv["format"] == "extended"
    assert inv["is_animated"] and inv["has_exif"] and not inv["has_xmp"]
    assert (inv["width"], inv["height"]) == (1920, 1080)
    assert inv["n_chunks"] == 3


def test_junk_and_truncation():
    assert parse_webp_inventory(b"junk")["is_webp"] is False
    t = parse_webp_inventory(build_webp("lossy")[:20])
    assert t["is_webp"] and not t["clean"] and t["format"] is None


def test_sniffer_routes_webp():
    from bid_evaluation_ext.operators.mediatype import sniff_media_type
    assert sniff_media_type(build_webp("lossy")) \
        == ("image", "webp", "lossy")
    assert sniff_media_type(build_webp("extended")) \
        == ("image", "webp", "extended")


def test_kernel(spark):
    rows = [(0, build_webp("lossless", width=8, height=8)),
            (1, b"junk"), (2, None)]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: r for r in webp_inventory(df).collect()}
    assert got[0]["format"] == "lossless"
    assert got[1]["is_webp"] is False and got[2]["is_webp"] is False


def test_first_chunk_sniff_is_constant_work():
    # ADVICE r11: the census sniff reads only the first chunk fourcc;
    # a truncated chunk body no longer hides the format tier.
    from bid_evaluation_ext.operators.webp import sniff_webp_format
    assert sniff_webp_format(build_webp("lossless")) == "lossless"
    assert sniff_webp_format(build_webp("lossy")[:20]) == "lossy"
    assert sniff_webp_format(b"RIFF\x00\x00\x00\x00WEBPJUNK") is None
    assert sniff_webp_format(b"junk") is None


def test_animation_timeline_walk():
    from bid_evaluation_ext.operators.webp import (
        build_webp_animation, parse_webp_animation)

    p = build_webp_animation(
        [(0, 0, 24, 16, 40), (8, 4, 24, 16, 60), (16, 8, 24, 16, 80)],
        canvas_w=64, canvas_h=32, loop_count=5)
    inv = parse_webp_animation(p)
    assert inv["is_animated"] and inv["n_frames"] == 3
    assert inv["total_duration_ms"] == 180
    assert inv["loop_count"] == 5
    assert (inv["canvas_w"], inv["canvas_h"]) == (64, 32)
    assert inv["clean"]
    # truncation mid-ANMF: frames before the cut counted, clean false
    cut = parse_webp_animation(p[:-10])
    assert cut["n_frames"] == 2 and cut["total_duration_ms"] == 100
    assert not cut["clean"]
    # a static file is not animated, and junk is not a webp
    static = parse_webp_animation(build_webp("lossy"))
    assert static["is_webp"] and not static["is_animated"]
    assert static["n_frames"] == 0 and static["clean"]
    assert not parse_webp_animation(b"junk")["is_webp"]


def test_animation_kernel(spark):
    from bid_evaluation_ext.operators.webp import (
        build_webp_animation, webp_animation_inventory)

    rows = [(0, build_webp_animation([(0, 0, 8, 8, 100)] * 2,
                                     canvas_w=8, canvas_h=8)),
            (1, b"junk"), (2, None)]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: r for r in
           webp_animation_inventory(df).collect()}
    assert got[0]["n_frames"] == 2
    assert got[0]["total_duration_ms"] == 200
    assert got[1]["is_webp"] is False and got[2]["is_webp"] is False
