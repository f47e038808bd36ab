"""DCT perceptual hash: brightness/scale invariance, discrimination,
container (PNG vs JPEG) robustness, the Spark kernel's null path, and
near-dup pairing through the shared banded-Hamming kernel."""

from __future__ import annotations

import numpy as np
import pytest

from bid_evaluation_ext.operators.jpeg import encode_jpeg
from bid_evaluation_ext.operators.phash import (
    image_phash,
    phash64,
    phash_neardup_pairs,
)
from bid_evaluation_ext.operators.png import encode_png


def _ham(a, b):
    return bin((a ^ b) & (2 ** 64 - 1)).count("1")


def _smooth(seed=0, w=48, h=64):
    rng = np.random.default_rng(seed)
    y, x = np.mgrid[0:h, 0:w]
    cx, cy = rng.uniform(10, w - 10), rng.uniform(10, h - 10)
    return (90 + x * rng.uniform(0.5, 2.0)
            + 50 * np.exp(-((x - cx) ** 2 + (y - cy) ** 2) / 250))


def test_brightness_shift_invariant():
    s = _smooth(1)
    assert _ham(phash64(s), phash64(s + 25)) == 0


def test_rescale_robust():
    s = _smooth(2)
    assert _ham(phash64(s), phash64(np.kron(s, np.ones((2, 2))))) <= 4


def test_distinct_images_far():
    hams = [_ham(phash64(_smooth(a)), phash64(_smooth(b)))
            for a, b in [(3, 4), (5, 6), (7, 8)]]
    assert min(hams) > 12, hams


def test_deterministic_and_signed_range():
    s = _smooth(9)
    h = phash64(s)
    assert h == phash64(s.copy())
    assert -(2 ** 63) <= h < 2 ** 63


def test_png_jpeg_reencode_near():
    s = _smooth(10)
    img = np.clip(s, 0, 255).astype(np.uint8)
    from bid_evaluation_ext.operators.jpeg import decode_jpeg
    from bid_evaluation_ext.operators.png import decode_png, luma
    hp = phash64(luma(decode_png(encode_png(img))))
    hj = phash64(luma(decode_jpeg(encode_jpeg(
        np.stack([img] * 3, axis=-1), quality=90))))
    assert _ham(hp, hj) <= 6


def test_kernel_and_neardup_pairs(spark):
    base = np.clip(_smooth(11), 0, 255).astype(np.uint8)
    brighter = np.clip(base.astype(np.int16) + 20, 0, 255).astype(np.uint8)
    other = np.clip(_smooth(12), 0, 255).astype(np.uint8)
    rows = [(1, encode_png(base)), (2, encode_png(brighter)),
            (3, encode_png(other)), (4, b"not an image")]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    hashes = image_phash(df)
    got = {r["media_id"]: r["phash"] for r in hashes.collect()}
    assert got[4] is None                      # undecodable -> null
    assert _ham(got[1], got[2]) <= 2
    pairs = {(r["id_a"], r["id_b"])
             for r in phash_neardup_pairs(
                 hashes.filter("phash is not null"),
                 max_hamming=6).collect()}
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)
    with pytest.raises(Exception):
        image_phash(df, strict=True).collect()


def test_wide_band_pairs_match_narrow_within_radius(spark):
    # 16-bit bands (corpus-scale layout): exact recall for hamming<=3 —
    # pairs must equal the 8-bit-band result filtered to that radius
    import random
    rng = random.Random(7)
    base = [rng.getrandbits(63) for _ in range(40)]
    rows = []
    for i, h in enumerate(base):
        rows.append((2 * i, h))
        flip = h ^ (1 << rng.randrange(64)) ^ (1 << rng.randrange(64))
        rows.append((2 * i + 1, flip - (1 << 64) if flip >= (1 << 63)
                     else flip))
    df = spark.createDataFrame(rows, "media_id long, phash long")
    from bid_evaluation_ext.operators.phash import phash_neardup_pairs
    narrow = {(r["id_a"], r["id_b"], r["hamming"])
              for r in phash_neardup_pairs(df, max_hamming=3).collect()}
    wide = {(r["id_a"], r["id_b"], r["hamming"])
            for r in phash_neardup_pairs(df, max_hamming=3,
                                         band_bits=16).collect()}
    assert wide == narrow and len(wide) >= 40

    import pytest
    with pytest.raises(ValueError):
        phash_neardup_pairs(df, max_hamming=4, band_bits=16)
    with pytest.raises(ValueError):
        phash_neardup_pairs(df, max_hamming=8)
