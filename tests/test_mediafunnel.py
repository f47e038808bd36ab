"""Census-routed media funnel: one-pass route+feature kernel, linear
exact-dHash image dedup, verdict precedence across all routes."""

from __future__ import annotations

import numpy as np
import pytest

from bid_evaluation_ext.operators.bmp import encode_bmp
from bid_evaluation_ext.operators.gif import encode_gif
from bid_evaluation_ext.operators.jpeg import encode_jpeg
from bid_evaluation_ext.operators.mediafunnel import (
    _route_row,
    funnel_manifest,
    media_funnel,
)
from bid_evaluation_ext.operators.mp4 import build_mp4
from bid_evaluation_ext.operators.ogg import build_ogg
from bid_evaluation_ext.operators.png import encode_png
from bid_evaluation_ext.operators.wav import encode_wav
from bid_evaluation_ext.operators.y4m import encode_y4m

RATE = 8000


def _grad():
    return ((np.add.outer(np.arange(12) * 23, np.arange(16) * 41)
             * 7) % 211).astype(np.uint8)


def _speech():
    t = np.arange(int(RATE * 1.2)) / RATE
    return (0.1 * np.sin(2 * np.pi * 300 * t)
            * ((t % 0.6) < 0.4).astype(float))


_KW = dict(frame=256, hop=128, threshold_db=-40.0, weighting="k")


def test_route_row_covers_every_route():
    mp4_full = build_mp4(duration=2000, tracks=[("vide", "avc1", 32, 24)])
    cases = [
        (encode_png(_grad()), "image", "png"),
        (encode_bmp(np.repeat(_grad()[:, :, None], 3, axis=2)),
         "image", "bmp"),
        (encode_wav(_speech(), rate=RATE), "audio", "wav"),
        (build_ogg("opus", final_granule=48312), "audio", "ogg"),
        (mp4_full, "video", "mp4"),
        (encode_y4m([np.zeros((16, 16), dtype=np.uint8)]),
         "video", "y4m"),
        (b"plain prose with several tokens here", "text", "plain"),
        (b"<html><body>page body text here</body></html>",
         "text", "html"),
        (b"\x00\xff\x81 junk", "unknown", "binary"),
    ]
    for payload, mt, cont in cases:
        row = _route_row(payload, **_KW)
        assert (row["media_type"], row["container"]) == (mt, cont)
        assert row["decode_ok"] == (mt != "unknown")


def test_route_row_cross_container_dhash_and_corruption():
    a = _route_row(encode_png(_grad()), **_KW)
    b = _route_row(encode_bmp(np.repeat(_grad()[:, :, None], 3,
                                        axis=2)), **_KW)
    assert a["dhash"] == b["dhash"] is not None
    assert a["contrast"] == pytest.approx(b["contrast"])
    # truncated PNG: routed image, decode fails, never raises
    bad = _route_row(encode_png(_grad())[:20], **_KW)
    assert bad["media_type"] == "image" and not bad["decode_ok"]


@pytest.fixture(scope="module")
def corpus(spark):
    mp4_full = build_mp4(duration=2000, tracks=[("vide", "avc1", 32, 24)])
    rows = [
        (0, encode_png(_grad())),                       # canonical image
        (1, encode_bmp(np.repeat(_grad()[:, :, None], 3, axis=2))),
        (2, encode_jpeg(np.full((16, 16), 128, dtype=np.uint8))),
        (3, encode_gif(np.full((4, 4, 3), 200, dtype=np.uint8))),
        (4, encode_wav(_speech(), rate=RATE)),          # keep
        (5, encode_wav(np.zeros(RATE), rate=RATE)),     # no_speech
        (6, b"ok"),                                     # short_text
        (7, mp4_full[:len(mp4_full) // 2]),             # damaged
        (8, b"\x00\xff\x81 junk"),                      # unknown_route
        (9, encode_png(_grad())),                       # second dup
    ]
    return spark.createDataFrame(rows, "media_id long, payload binary")


def test_funnel_verdicts_and_dedup(corpus):
    out = {r["media_id"]: r for r in media_funnel(corpus).collect()}
    assert out[0]["keep"] and out[0]["drop_reason"] is None
    for dup in (1, 9):
        assert out[dup]["drop_reason"] == "duplicate"
        assert out[dup]["dup_of"] == 0
    assert out[2]["drop_reason"] == "low_contrast"
    assert out[3]["drop_reason"] == "too_small"
    assert out[4]["keep"]
    assert out[5]["drop_reason"] == "no_speech"
    assert out[6]["drop_reason"] == "short_text"
    assert out[7]["drop_reason"] == "damaged"
    assert out[8]["drop_reason"] == "unknown_route"


def test_lossless_webp_joins_image_dedup(spark):
    # r12: a VP8L-coded copy of the PNG canonical dedups against it
    # through the funnel's webp pixel path; a LOSSY webp stays on the
    # inventory route (null dHash, dedup-exempt)
    from bid_evaluation_ext.operators.vp8l import encode_webp_lossless
    from bid_evaluation_ext.operators.webp import build_webp

    df = spark.createDataFrame(
        [(0, encode_png(_grad())),
         (1, encode_webp_lossless(_grad(), subtract_green=True,
                                  predictor=11)),
         (2, build_webp("lossy", width=64, height=48))],
        "media_id long, payload binary")
    out = {r["media_id"]: r for r in media_funnel(df).collect()}
    assert out[0]["keep"]
    assert out[1]["drop_reason"] == "duplicate"
    assert out[1]["dup_of"] == 0
    assert out[2]["keep"] and out[2]["dup_of"] is None


def test_gated_images_never_reach_dedup(spark):
    # two identical FLAT images share dhash 0 — the hot key — but the
    # contrast gate drops them before the grouping stage, so neither
    # is marked duplicate
    flat = encode_jpeg(np.full((16, 16), 128, dtype=np.uint8))
    df = spark.createDataFrame([(0, flat), (1, flat)],
                               "media_id long, payload binary")
    out = {r["media_id"]: r for r in media_funnel(df).collect()}
    for i in (0, 1):
        assert out[i]["drop_reason"] == "low_contrast"
        assert out[i]["dup_of"] is None


def test_manifest_schema_and_one_arrow_pass(corpus):
    res = media_funnel(corpus)
    assert [f.name for f in res.schema.fields] == [
        "media_id", "media_type", "container", "width", "height",
        "contrast", "duration_ms", "speech_ratio", "integrated_lufs",
        "n_tokens", "alpha_ratio", "dup_of", "keep", "drop_reason"]
    plan = res._jdf.queryExecution().executedPlan().toString()
    # exactly ONE python kernel over the payload (decode runs once;
    # the dedup branch reuses the persisted manifest)
    assert plan.count("mediafunnel") <= 1
    # dedup is a partial-aggregated groupBy, not a pairwise join
    assert "CartesianProduct" not in plan
    assert "partial_min" in plan or "HashAggregate" in plan


def test_funnel_manifest_null_contract(spark):
    df = spark.createDataFrame([(0, None), (1, b"")],
                               "media_id long, payload binary")
    rows = {r["media_id"]: r for r in funnel_manifest(df).collect()}
    for i in (0, 1):
        assert rows[i]["media_type"] == "unknown"
        assert not rows[i]["decode_ok"]
