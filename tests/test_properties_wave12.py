"""Property-based invariants for the round-12 wave: VP8L round-trips
over arbitrary images × option combos, MP3 side-info bit-layout
round-trips over arbitrary legal field values, and the funnel
manifest's Int64 column discipline (the float64-hash-corruption
regression harness)."""

from __future__ import annotations

import numpy as np

from hypothesis import HealthCheck, given, settings, strategies as st

SET = settings(
    max_examples=12, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@SET
@given(
    h=st.integers(min_value=1, max_value=20),
    w=st.integers(min_value=1, max_value=20),
    ch=st.sampled_from([1, 3, 4]),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    subtract_green=st.booleans(),
    predictor=st.one_of(st.none(),
                        st.integers(min_value=0, max_value=13)),
    cache_bits=st.sampled_from([0, 0, 2, 5, 8]),
    use_lz77=st.booleans(),
)
def test_vp8l_roundtrip_is_bit_exact(h, w, ch, seed, subtract_green,
                                     predictor, cache_bits, use_lz77):
    from bid_evaluation_ext.operators.vp8l import (
        decode_webp_lossless, encode_webp_lossless)

    rng = np.random.default_rng(seed)
    shape = (h, w) if ch == 1 else (h, w, ch)
    img = rng.integers(0, 256, shape, dtype=np.uint8)
    out = decode_webp_lossless(encode_webp_lossless(
        img, subtract_green=subtract_green, predictor=predictor,
        cache_bits=cache_bits, use_lz77=use_lz77))
    e = img if img.ndim == 3 else img[:, :, None]
    if e.shape[2] == 1:
        e = np.repeat(e, 3, axis=2)
    if e.shape[2] == 3:
        e = np.dstack([e, np.full(e.shape[:2], 255, np.uint8)])
    assert np.array_equal(out, e)


@SET
@given(
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    n_colors=st.integers(min_value=1, max_value=20),
)
def test_vp8l_palette_roundtrip(seed, n_colors):
    from bid_evaluation_ext.operators.vp8l import (
        decode_webp_lossless, encode_webp_lossless)

    rng = np.random.default_rng(seed)
    vals = rng.permutation(256)[:n_colors].astype(np.uint8)
    idx = rng.integers(0, n_colors, (11, 13))
    img = np.stack([vals[idx], (vals[idx] * 5) % 256,
                    (vals[idx] * 11) % 256], axis=2).astype(np.uint8)
    out = decode_webp_lossless(encode_webp_lossless(img, palette=True))
    e = np.dstack([img, np.full(img.shape[:2], 255, np.uint8)])
    assert np.array_equal(out, e)


_GRANULE = st.fixed_dictionaries({
    "part2_3_length": st.integers(0, 4095),
    "big_values": st.integers(0, 288),
    "global_gain": st.integers(0, 255),
    "scalefac_compress": st.integers(0, 15),
    "window_switching": st.just(0),
    "block_type": st.just(0),
    "mixed_block_flag": st.just(0),
    "table_select": st.lists(st.integers(0, 31), min_size=3,
                             max_size=3),
    "subblock_gain": st.just([0, 0, 0]),
    "region0_count": st.integers(0, 15),
    "region1_count": st.integers(0, 7),
    "preflag": st.integers(0, 1),
    "scalefac_scale": st.integers(0, 1),
    "count1table_select": st.integers(0, 1),
})

_SWITCHED = st.fixed_dictionaries({
    "part2_3_length": st.integers(0, 4095),
    "big_values": st.integers(0, 288),
    "global_gain": st.integers(0, 255),
    "scalefac_compress": st.integers(0, 15),
    "window_switching": st.just(1),
    "block_type": st.integers(1, 3),
    "mixed_block_flag": st.integers(0, 1),
    "table_select": st.lists(st.integers(0, 31), min_size=2,
                             max_size=2),
    "subblock_gain": st.lists(st.integers(0, 7), min_size=3,
                              max_size=3),
    "region0_count": st.just(0),       # parser recomputes per spec
    "region1_count": st.just(0),
    "preflag": st.integers(0, 1),
    "scalefac_scale": st.integers(0, 1),
    "count1table_select": st.integers(0, 1),
})


@SET
@given(
    nch=st.integers(min_value=1, max_value=2),
    mdb=st.integers(min_value=0, max_value=511),
    scfsi=st.lists(st.lists(st.integers(0, 1), min_size=4,
                            max_size=4), min_size=2, max_size=2),
    grs=st.lists(st.lists(st.one_of(_GRANULE, _SWITCHED),
                          min_size=2, max_size=2),
                 min_size=2, max_size=2),
)
def test_mp3_side_info_roundtrips_every_field(nch, mdb, scfsi, grs):
    from bid_evaluation_ext.operators.mp3dec import (
        build_side_info, parse_side_info)

    info = {"main_data_begin": mdb, "private_bits": 0,
            "scfsi": scfsi[:nch],
            "granules": [[grs[g][c] for c in range(nch)]
                         for g in range(2)]}
    out = parse_side_info(build_side_info(info, nch), nch)
    assert out["main_data_begin"] == mdb
    assert out["scfsi"] == scfsi[:nch]
    for g in range(2):
        for c in range(nch):
            src, got = grs[g][c], out["granules"][g][c]
            for f in ("part2_3_length", "big_values", "global_gain",
                      "scalefac_compress", "block_type",
                      "mixed_block_flag", "preflag",
                      "scalefac_scale", "count1table_select"):
                assert got[f] == src[f], f
            n_sel = 2 if src["window_switching"] else 3
            assert got["table_select"][:n_sel] \
                == src["table_select"][:n_sel]
            if src["window_switching"]:
                assert got["subblock_gain"] == src["subblock_gain"]
                want_r0 = (8 if src["block_type"] == 2
                           and not src["mixed_block_flag"] else 7)
                assert got["region0_count"] == want_r0
            else:
                assert got["region0_count"] == src["region0_count"]
                assert got["region1_count"] == src["region1_count"]


def test_funnel_manifest_int_columns_never_float(spark):
    # the r12 regression class: a mixed None+int Arrow batch must not
    # coerce hash/feature columns to float64 (which corrupts 64-bit
    # dhashes) — decode one real image alongside nulls and assert the
    # exact hash survives
    from bid_evaluation_ext.operators.mediafunnel import (
        _route_row, funnel_manifest)
    from bid_evaluation_ext.operators.png import encode_png

    grad = ((np.add.outer(np.arange(12) * 23, np.arange(16) * 41)
             * 7) % 211).astype(np.uint8)
    p = encode_png(grad)
    expect = _route_row(p, frame=256, hop=128, threshold_db=-40.0,
                        weighting="k")["dhash"]
    rows = [(0, p)] + [(i, b"junk") for i in range(1, 9)]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: r["dhash"]
           for r in funnel_manifest(df).collect()}
    assert got[0] == expect
    assert all(got[i] is None for i in range(1, 9))
