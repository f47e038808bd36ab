"""MP3 Layer III decode tier (operators/mp3dec.py): exactly what
decodes — side info, bit reservoir, scalefactors, requantization,
MS stereo, alias reduction, hybrid IMDCT/windows, spectral PLUMBING
with self-built tables. The ISO Annex-B spectral Huffman TABLES are
the documented r13 seam; decode_spectrum raises until supplied."""

from __future__ import annotations

import numpy as np
import pytest

from bid_evaluation_ext.operators.mp2 import _BitReader, _BitWriter
from bid_evaluation_ext.operators.mp3dec import (
    PRETAB,
    SLEN,
    alias_butterfly_forward,
    alias_reduce,
    assemble_main_data,
    block_window,
    build_side_info,
    decode_scalefactors,
    decode_spectrum,
    hybrid_synthesis,
    imdct_subband,
    mdct_forward,
    ms_stereo,
    parse_side_info,
    reorder_short,
    requantize_long,
    requantize_short,
)

SFB_LONG_TEST = tuple(range(0, 576 + 1, 576 // 22)) + (576,)


def _granule(**kw):
    g = {"part2_3_length": 1000, "big_values": 100,
         "global_gain": 210, "scalefac_compress": 5,
         "window_switching": 0, "block_type": 0,
         "mixed_block_flag": 0, "table_select": [7, 9, 11],
         "subblock_gain": [0, 0, 0], "region0_count": 4,
         "region1_count": 3, "preflag": 0, "scalefac_scale": 0,
         "count1table_select": 0}
    g.update(kw)
    return g


# ---------------------------------------------------------- side info

def test_side_info_roundtrip_stereo_with_window_switching():
    info = {
        "main_data_begin": 287, "private_bits": 5,
        "scfsi": [[1, 0, 1, 1], [0, 1, 0, 0]],
        "granules": [
            [_granule(part2_3_length=2345, big_values=211,
                      global_gain=197, scalefac_compress=9),
             _granule(window_switching=1, block_type=2,
                      mixed_block_flag=1, table_select=[13, 24],
                      subblock_gain=[1, 7, 3])],
            [_granule(preflag=1, scalefac_scale=1,
                      count1table_select=1),
             _granule(window_switching=1, block_type=1,
                      table_select=[30, 2],
                      subblock_gain=[0, 2, 5])],
        ],
    }
    blob = build_side_info(info, nch=2)
    assert len(blob) == 32
    out = parse_side_info(blob, nch=2)
    assert out["main_data_begin"] == 287
    assert out["scfsi"] == info["scfsi"]
    g = out["granules"][0][1]
    assert (g["block_type"], g["mixed_block_flag"]) == (2, 1)
    assert g["table_select"][:2] == [13, 24]
    assert g["subblock_gain"] == [1, 7, 3]
    # spec-fixed region counts under window switching: 8 only for
    # UNMIXED short blocks; this granule is mixed -> 7
    assert (g["region0_count"], g["region1_count"]) == (7, 13)
    g11 = out["granules"][1][1]
    assert (g11["region0_count"], g11["region1_count"]) == (7, 13)
    g10 = out["granules"][1][0]
    assert (g10["preflag"], g10["scalefac_scale"],
            g10["count1table_select"]) == (1, 1, 1)


def test_side_info_mono_is_17_bytes_and_roundtrips():
    info = {"main_data_begin": 0, "private_bits": 0,
            "scfsi": [[0, 0, 0, 0]],
            "granules": [[_granule()], [_granule(global_gain=255)]]}
    blob = build_side_info(info, nch=1)
    assert len(blob) == 17
    out = parse_side_info(blob, nch=1)
    assert out["granules"][1][0]["global_gain"] == 255


def test_side_info_rejects_forbidden_block_type_zero_switch():
    info = {"main_data_begin": 0, "private_bits": 0,
            "scfsi": [[0, 0, 0, 0]],
            "granules": [[_granule(window_switching=1, block_type=0,
                                   table_select=[1, 2])],
                         [_granule()]]}
    with pytest.raises(ValueError):
        parse_side_info(build_side_info(info, nch=1), nch=1)


# ------------------------------------------------------ bit reservoir

def test_bit_reservoir_backpointer():
    frames = [b"AAAA", b"BBBBBB", b"CC", b"DDDD"]
    # frame 3 with main_data_begin 5 starts 5 bytes back: "BB" + "CC"
    assert assemble_main_data(frames, 5, 3) == b"BBBCCDDDD"
    assert assemble_main_data(frames, 0, 3) == b"DDDD"
    assert assemble_main_data(frames, 2, 1) == b"AABBBBBB"
    with pytest.raises(ValueError):
        assemble_main_data(frames, 5, 0)


# ------------------------------------------------------- scalefactors

def test_scalefactor_slen_layout_and_bit_count():
    # scalefac_compress 9 -> slen (2, 2): long = 11*2 + 10*2 = 42 bits
    assert SLEN[9] == (2, 2)
    bw = _BitWriter()
    vals = [(i * 3) % 4 for i in range(21)]
    for v in vals:
        bw.write(v, 2)
    if bw.nbits:
        bw.write(0, 8 - bw.nbits)
    br = _BitReader(bytes(bw.out))
    g = _granule(scalefac_compress=9)
    long_sf, short_sf, bits = decode_scalefactors(
        br, g, gr=0, scfsi=[0, 0, 0, 0])
    assert short_sf is None and bits == 42
    assert long_sf == vals


def test_scalefactor_scfsi_sharing_reads_fewer_bits():
    prev = list(range(21))
    bw = _BitWriter()
    for _ in range(21):
        bw.write(1, 2)
    bw.write(0, 6)
    br = _BitReader(bytes(bw.out))
    g = _granule(scalefac_compress=9)
    long_sf, _, bits = decode_scalefactors(
        br, g, gr=1, scfsi=[1, 0, 1, 0], prev_long=prev)
    # groups 0 (sfb 0-5) and 2 (sfb 11-15) shared, not read
    assert long_sf[:6] == prev[:6]
    assert long_sf[11:16] == prev[11:16]
    assert bits == 2 * (5 + 5)            # only groups 1 and 3 read


def test_scalefactor_short_blocks():
    bw = _BitWriter()
    vals = [(i * 5) % 8 for i in range(36)]
    for v in vals:
        bw.write(v, 3)
    if bw.nbits:
        bw.write(0, 8 - bw.nbits)
    br = _BitReader(bytes(bw.out))
    g = _granule(scalefac_compress=13, window_switching=1,
                 block_type=2)          # slen (3, 3)
    long_sf, short_sf, bits = decode_scalefactors(
        br, g, gr=0, scfsi=[0, 0, 0, 0])
    assert long_sf is None and bits == 36 * 3
    flat = [short_sf[sfb][w] for sfb in range(12) for w in range(3)]
    assert flat == vals


# ----------------------------------------------------- requantization

def test_requantize_long_spot_values():
    # global_gain 214 -> 2^1; is=8 -> 8^{4/3}=16; sf=2 at mult 0.5 ->
    # 2^-1: xr = 16 * 2 * 0.5 = 16
    g = _granule(global_gain=214, scalefac_scale=0)
    is_values = [0] * 576
    is_values[0] = 8
    is_values[1] = -8
    sf = [2] + [0] * 20
    xr = requantize_long(is_values, g, sf, SFB_LONG_TEST)
    assert xr[0] == pytest.approx(16.0)
    assert xr[1] == pytest.approx(-16.0)
    # scalefac_scale=1 doubles the multiplier: 16*2*2^-2 = 8
    g2 = _granule(global_gain=214, scalefac_scale=1)
    xr2 = requantize_long(is_values, g2, sf, SFB_LONG_TEST)
    assert xr2[0] == pytest.approx(8.0)


def test_requantize_long_preflag_pretab():
    g = _granule(global_gain=210, preflag=1, scalefac_scale=1)
    is_values = [0] * 576
    sfb = 17                              # PRETAB[17] == 3
    assert PRETAB[17] == 3
    lo = SFB_LONG_TEST[sfb]
    is_values[lo] = 1
    xr = requantize_long(is_values, g, [0] * 21, SFB_LONG_TEST)
    assert xr[lo] == pytest.approx(2.0 ** -3)


def test_requantize_short_subblock_gain():
    sfb_short = tuple(range(0, 577, 48))[:13] + (576,)
    g = _granule(global_gain=210, window_switching=1, block_type=2,
                 subblock_gain=[0, 1, 0])
    is_values = [0] * 576
    is_values[0] = 1                      # band 0 window 0
    is_values[64] = 1                     # band 0 window 1 (pos 48-95)
    short_sf = [[0] * 3 for _ in range(12)]
    # reordered layout: each 48-wide band spans 3x48 positions w-major
    xr = requantize_short(is_values, g, short_sf, sfb_short)
    assert xr[0] == pytest.approx(1.0)    # sbg[0]=0 -> 2^0
    assert xr[64] == pytest.approx(0.25)  # sbg[1]=1 -> 2^{-8/4}
    g2 = _granule(global_gain=210, window_switching=1, block_type=2,
                  subblock_gain=[2, 0, 0])
    xr2 = requantize_short(is_values, g2, short_sf, sfb_short)
    assert xr2[0] == pytest.approx(2.0 ** -4)  # 8*2 quarter-steps


def test_reorder_short_inverts_interleave():
    sfb_short = (0, 4, 8, 12, 16, 22, 30, 40, 52, 66, 84, 106, 136,
                 192)
    # encoder order: per band, freq-major across windows
    raw = [0] * 576
    pos = 0
    expect = [0] * 576
    val = 1
    for sfb in range(13):
        lo, hi = sfb_short[sfb], sfb_short[sfb + 1]
        width = hi - lo
        for f in range(width):
            for w in range(3):
                raw[pos] = val
                expect[lo * 3 + w * width + f] = val
                pos += 1
                val += 1
    assert reorder_short(raw, sfb_short) == expect


# ------------------------------------------------------------- stereo

def test_intensity_stereo_positions():
    from bid_evaluation_ext.operators.mp3dec import (
        intensity_ratio, intensity_stereo)

    xr = np.array([3.0, -6.0])
    # is_pos 3: ratio = tan(pi/4) = 1 -> equal split
    l, r = intensity_stereo(xr, 3)
    np.testing.assert_allclose(l, xr / 2, atol=1e-12)
    np.testing.assert_allclose(r, xr / 2, atol=1e-12)
    # L + R always reconstructs the transmitted sum
    for pos in range(7):
        l, r = intensity_stereo(xr, pos)
        np.testing.assert_allclose(l + r, xr, atol=1e-9)
    # is_pos 0: everything right
    l, r = intensity_stereo(xr, 0)
    np.testing.assert_allclose(l, 0.0, atol=1e-12)
    np.testing.assert_allclose(r, xr, atol=1e-12)
    assert intensity_ratio(2) == pytest.approx(np.tan(np.pi / 6))
    with pytest.raises(ValueError):
        intensity_ratio(7)                # the spec's illegal marker


def test_ms_stereo_roundtrip():
    rng = np.random.default_rng(2)
    left = rng.standard_normal(576)
    right = rng.standard_normal(576)
    mid = (left + right) / np.sqrt(2.0)
    side = (left - right) / np.sqrt(2.0)
    outl, outr = ms_stereo(mid, side)
    np.testing.assert_allclose(outl, left, atol=1e-12)
    np.testing.assert_allclose(outr, right, atol=1e-12)


# ---------------------------------------------------- alias reduction

def test_alias_reduction_inverts_encoder_butterflies():
    rng = np.random.default_rng(3)
    x = rng.standard_normal(576)
    np.testing.assert_allclose(
        alias_reduce(alias_butterfly_forward(x)), x, atol=1e-12)
    # each line is an orthogonal rotation: energy preserved
    assert np.sum(alias_reduce(x) ** 2) == pytest.approx(
        np.sum(x ** 2))


# ------------------------------------------------------ hybrid IMDCT

def test_long_block_tdac_exact():
    rng = np.random.default_rng(4)
    sig = rng.standard_normal(18 * 6)
    w = block_window(0)
    prev = np.zeros(18)
    overlap = np.zeros(18)
    rec = []
    for f in range(6):
        cur = sig[f * 18:(f + 1) * 18]
        X = mdct_forward(np.concatenate([prev, cur]) * w, 36)
        chunk = imdct_subband(X, 0)
        rec.append(chunk[:18] + overlap)
        overlap = chunk[18:]
        prev = cur
    rec = np.concatenate(rec)
    np.testing.assert_allclose(rec[18:], sig[:18 * 5], atol=1e-12)


def test_tdac_exact_through_block_type_transitions():
    rng = np.random.default_rng(5)
    sig = rng.standard_normal(18 * 8)
    seq = [0, 1, 2, 2, 3, 0, 1, 3]       # every window type + joins
    prev = np.zeros(18)
    overlap = np.zeros(18)
    rec = []
    for f, bt in enumerate(seq):
        cur = sig[f * 18:(f + 1) * 18]
        z36 = np.concatenate([prev, cur])
        if bt == 2:
            w12 = block_window(2)
            X = np.zeros(18)
            for win in range(3):
                X[win * 6:(win + 1) * 6] = mdct_forward(
                    z36[6 + 6 * win:18 + 6 * win] * w12, 12)
        else:
            X = mdct_forward(z36 * block_window(bt), 36)
        chunk = imdct_subband(X, bt)
        rec.append(chunk[:18] + overlap)
        overlap = chunk[18:]
        prev = cur
    rec = np.concatenate(rec)
    np.testing.assert_allclose(rec[18:], sig[:18 * 7], atol=1e-12)


def test_hybrid_synthesis_frequency_inversion_and_mixed():
    rng = np.random.default_rng(6)
    xr = rng.standard_normal(576)
    ss, new_ov = hybrid_synthesis(xr, 0, 0, np.zeros((32, 18)))
    assert ss.shape == (18, 32) and new_ov.shape == (32, 18)
    # odd subbands have odd time samples negated vs the raw IMDCT
    raw = imdct_subband(xr[18:36], 0)
    np.testing.assert_allclose(ss[0::2, 1], raw[0:18:2], atol=1e-12)
    np.testing.assert_allclose(ss[1::2, 1], -raw[1:18:2], atol=1e-12)
    # mixed blocks: subbands 0-1 long even when block_type is short
    ss_m, _ = hybrid_synthesis(xr, 2, 1, np.zeros((32, 18)))
    long0 = imdct_subband(xr[:18], 0)
    np.testing.assert_allclose(ss_m[:, 0], long0[:18], atol=1e-12)


# ------------------------------------------------- spectral plumbing

def _toy_tables():
    # self-built prefix tables: exercise region dispatch, linbits
    # escapes, sign bits, count1 quadruples — without the ISO data
    big = {"codes": {(0b0, 1): (0, 0), (0b10, 2): (1, 0),
                     (0b110, 3): (0, 1), (0b111, 3): (15, 1)},
           "linbits": 2}
    c1 = {"codes": {(0b0, 1): (0, 0, 0, 0), (0b1, 1): (1, 0, 1, 1)}}
    return {7: big, 9: dict(big, linbits=0), 11: big}, {0: c1}


def test_decode_spectrum_plumbing_with_toy_tables():
    tables, c1tabs = _toy_tables()
    bw = _BitWriter()
    # region 0 (table 7): (1,0) with sign -> -1, 0
    bw.write(0b10, 2)
    bw.write(1, 1)                        # sign of x -> negative
    # region 2 (table 11): ESC pair (15,1): linbits 2 -> +3, signs +,-
    bw.write(0b111, 3)
    bw.write(0b11, 2)                     # linbits value 3 -> x = 18
    bw.write(0, 1)                        # x positive
    bw.write(1, 1)                        # y negative
    # count1: quadruple (1,0,1,1) with signs -,+,+
    bw.write(0b1, 1)
    bw.write(1, 1)
    bw.write(0, 1)
    bw.write(0, 1)
    total = 14
    if bw.nbits:
        bw.write(0, 8 - bw.nbits)
    g = _granule(big_values=2, table_select=[7, 9, 11],
                 count1table_select=0)
    out, bits = decode_spectrum(
        _BitReader(bytes(bw.out)), g, (2, 2), tables=tables,
        count1_tables=c1tabs, total_bits=total)
    assert bits == total
    assert out[:8] == [-1, 0, 18, -1, -1, 0, 1, 1]


def test_decode_spectrum_without_tables_is_the_documented_seam():
    g = _granule()
    with pytest.raises(NotImplementedError):
        decode_spectrum(_BitReader(b"\x00" * 8), g, (36, 72))


def test_decode_granule_samples_chains_both_block_families():
    from bid_evaluation_ext.operators.mp3dec import (
        decode_granule_samples)

    sfb_short = tuple(range(0, 577, 48))[:13] + (576,)
    is_values = [0] * 576
    is_values[3] = 2
    # long: requantize 2 -> 2^{4/3} at gain 210, through alias+IMDCT
    g = _granule(global_gain=210)
    ss, ov = decode_granule_samples(
        is_values, g, sfb_long=SFB_LONG_TEST, sfb_short=sfb_short,
        long_sf=[0] * 21)
    assert ss.shape == (18, 32) and ov.shape == (32, 18)
    assert np.abs(ss).sum() > 0
    # short unmixed: no alias butterflies, 3-window IMDCT path
    g2 = _granule(window_switching=1, block_type=2,
                  global_gain=210)
    short_sf = [[0] * 3 for _ in range(12)]
    ss2, _ = decode_granule_samples(
        is_values, g2, sfb_long=SFB_LONG_TEST, sfb_short=sfb_short,
        short_sf=short_sf)
    assert ss2.shape == (18, 32)
    # a single band-0 coefficient excites only subband 0 when no
    # alias butterflies run (pure short)
    assert np.abs(ss2[:, 2:]).sum() == pytest.approx(0.0, abs=1e-12)


# ------------------------------------------------ side-info census

def test_sideinfo_inventory_census(spark):
    from bid_evaluation_ext.operators.mp3dec import (
        build_l3_frame, sideinfo_inventory)

    info = {"main_data_begin": 100, "private_bits": 0,
            "scfsi": [[0, 0, 0, 0]],
            "granules": [[_granule(global_gain=123)],
                         [_granule(global_gain=45, preflag=1)]]}
    frame = build_l3_frame(info, 1)
    df = spark.createDataFrame(
        [(0, frame), (1, b"junk"), (2, frame[:10])],
        "media_id long, payload binary")
    rows = {r["media_id"]: r for r in sideinfo_inventory(df).collect()}
    assert rows[0]["is_l3"] and rows[0]["nch"] == 1
    assert rows[0]["main_data_begin"] == 100
    assert rows[0]["g0_global_gain"] == 123
    assert rows[0]["g1_global_gain"] == 45 and rows[0]["g1_preflag"]
    assert not rows[1]["is_l3"]
    # truncated frame: header verdict survives, fields degrade null
    assert rows[2]["is_l3"] and rows[2]["main_data_begin"] is None


# --------------------------------------------- end-to-end granule path

def test_granule_chain_requantize_alias_imdct_synthesize():
    # xr -> (encoder-side butterflies) -> alias_reduce -> hybrid ->
    # mp2 filterbank: the decode chain inverts the test's encode
    # chain exactly down to PCM-domain subband samples
    from bid_evaluation_ext.operators.mp2 import analyze, synthesize

    rng = np.random.default_rng(8)
    xr = rng.standard_normal(576) * 0.01
    pre = alias_butterfly_forward(xr)
    post = alias_reduce(pre)
    np.testing.assert_allclose(post, xr, atol=1e-12)
    ss, _ = hybrid_synthesis(post, 0, 0, np.zeros((32, 18)))
    pcm = synthesize(ss)
    assert pcm.shape == (18 * 32,)
    back = analyze(pcm[:18 * 32])
    # interior blocks only — the bank's one-block delay makes the
    # first/last block boundary-padded
    np.testing.assert_allclose(back[1:17], ss[1:17], atol=1e-9)
