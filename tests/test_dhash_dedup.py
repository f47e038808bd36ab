"""Perceptual dHash image near-dup: kernel + banded blocking vs a
brute-force hamming oracle on synthesized PNGs."""

import numpy as np
import pytest

from bid_evaluation_ext.operators.multimodal import (dhash_neardup_pairs,
                                                       image_dhash)
from bid_evaluation_ext.operators.png import dhash64, encode_png, luma


def _png_bytes(arr2d):
    return encode_png(arr2d.astype(np.uint8)[:, :, None])


@pytest.fixture
def media(spark):
    rng = np.random.default_rng(11)
    imgs = {}
    base = rng.integers(0, 256, (32, 32))
    imgs[0] = base
    near = base.copy()
    near[0:4, 0:4] = 255          # small edit -> near-dup of 0
    imgs[1] = near
    imgs[2] = rng.integers(0, 256, (32, 32))   # unrelated
    imgs[3] = base.copy()          # exact dup of 0
    rows = [(i, _png_bytes(a)) for i, a in imgs.items()]
    rows.append((4, b"not a png"))
    return (spark.createDataFrame(rows, "media_id long, payload binary"),
            imgs)


def test_image_dhash_matches_pure_kernel(media):
    df, imgs = media
    out = {r["media_id"]: r["dhash"] for r in image_dhash(df).collect()}
    for i, arr in imgs.items():
        expect = dhash64(luma(arr.astype(np.uint8)[:, :, None]))
        assert out[i] == expect
    assert out[4] is None          # corrupt payload -> null, not a crash


def test_neardup_pairs_vs_bruteforce(media):
    df, imgs = media
    hashes = image_dhash(df)
    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in dhash_neardup_pairs(hashes, max_hamming=7).collect()}
    hs = {i: dhash64(luma(a.astype(np.uint8)[:, :, None]))
          for i, a in imgs.items()}
    expect = {}
    ids = sorted(hs)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            d = bin((hs[a] ^ hs[b]) & ((1 << 64) - 1)).count("1")
            if d <= 7:
                expect[(a, b)] = d
    assert got == expect
    assert (0, 3) in got and got[(0, 3)] == 0    # exact dup found


def test_strict_reraises(spark):
    df = spark.createDataFrame([(1, b"junk")],
                               "media_id long, payload binary")
    with pytest.raises(Exception):
        image_dhash(df, strict=True).collect()


def test_max_hamming_validation(media):
    df, _ = media
    with pytest.raises(ValueError):
        dhash_neardup_pairs(image_dhash(df), max_hamming=8)
