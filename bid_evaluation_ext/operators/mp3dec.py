"""MP3 (MPEG-1 Layer III) DECODE TIER — the r12 slice of the last
audio seam (ISO/IEC 11172-3 §2.4.1.7 / §2.4.2.7 / §2.4.3.4). The r11
inventory (:mod:`.mp3`) parses frame headers; this module implements
every Layer III decode stage whose math the public spec pins in
CLOSED FORM, each independently testable:

IN THIS TIER (implemented + tested):

- **side info**: the full MPEG-1 bit layout (17/32 bytes, mono/
  stereo): main_data_begin, scfsi, and per-granule part2_3_length,
  big_values, global_gain, scalefac_compress, window switching
  (block_type, mixed_block_flag, subblock_gain), table selects,
  region counts, preflag, scalefac_scale, count1table_select —
  plus a builder (fixtures follow the repo's own-encoder rule);
- **bit reservoir**: main_data_begin back-pointer assembly across
  frames;
- **scalefactors**: the (slen1, slen2) table of scalefac_compress,
  long/short/mixed layouts, scfsi group sharing between granules;
- **requantization**: xr = sign·|is|^{4/3} ·
  2^{(global_gain−210)/4} · 2^{−(scalefac_scale+1)/2·(scalefac +
  preflag·pretab)} (long) with the 8·subblock_gain short-window
  variant — the spec's §2.4.3.4.7 formula verbatim;
- **MS stereo** ((L,R) = ((M±S)/√2));
- **alias reduction**: the 8-butterfly cs/ca pairs derived from the
  spec's ci table (cs²+ca²=1 — an orthogonal rotation per line, so
  the encoder-side butterfly inverts it exactly);
- **hybrid IMDCT**: 36/12-point IMDCTs, all four window types
  (normal/start/short/stop), 3-window short overlap, mixed blocks,
  50 % overlap-add, frequency inversion — the window family is TDAC:
  a forward MDCT chain reconstructs EXACTLY through block-type
  transitions (property-tested);
- **spectral-data plumbing**: big_values region partitioning,
  linbits escapes, sign bits, count1 quadruples — decoded against a
  pluggable prefix-table registry and tested with self-built tables.

THE REMAINING SEAM (documented, r13): the ISO Annex-B spectral
Huffman TABLES themselves (34 big-value tables + 2 count1 tables —
thousands of standardized codewords). They are pure DATA behind
``SPECTRAL_TABLES``/``COUNT1_TABLES``: population cannot be derived
from math and is deliberately not guessed (a wrong table decodes
confidently and wrongly). :func:`decode_frame_spectrum` raises a
clear error until they are supplied. The synthesis filterbank reuses
:func:`.mp2.synthesize` (the repo's exact-PR bank — the ISO Table-C
window is its near-PR twin, see :mod:`.mp2_proto`).

Spark shape: all of this is per-frame constant work destined for the
same Arrow decode kernels as MP2/FLAC; nothing here shuffles.
"""

from __future__ import annotations

from typing import List, Optional

import numpy as np

from .mp2 import _BitReader, _BitWriter

# --------------------------------------------------------- constants

#: (slen1, slen2) per scalefac_compress (ISO table — slen1 covers
#: long sfb 0-10 / short 0-5, slen2 long 11-20 / short 6-11)
SLEN = ((0, 0), (0, 1), (0, 2), (0, 3), (3, 0), (1, 1), (1, 2),
        (1, 3), (2, 1), (2, 2), (2, 3), (3, 1), (3, 2), (3, 3),
        (4, 2), (4, 3))

#: preflag pretab additions per long scalefactor band (§2.4.3.4.5)
PRETAB = (0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 3, 3,
          3, 2, 0)

#: scfsi band groups (long sfb ranges shared between granules)
SCFSI_BANDS = ((0, 6), (6, 11), (11, 16), (16, 21))

#: alias-reduction ci constants (§2.4.3.4.10.1)
_CI = (-0.6, -0.535, -0.33, -0.185, -0.095, -0.041, -0.0142, -0.0037)
_CS = tuple(1.0 / np.sqrt(1.0 + c * c) for c in _CI)
_CA = tuple(c / np.sqrt(1.0 + c * c) for c in _CI)

#: spectral Huffman table registries — the documented r13 seam.
#: A big-value table: {"codes": {(bits, length): (x, y)}, "linbits": n}
#: A count1 table:    {"codes": {(bits, length): (v, w, x, y)}}
SPECTRAL_TABLES: dict = {}
COUNT1_TABLES: dict = {}

_SEAM_MSG = ("MP3 Layer III spectral Huffman tables are the documented "
             "data seam (ISO 11172-3 Annex B) — supply tables= or "
             "populate mp3dec.SPECTRAL_TABLES/COUNT1_TABLES")


# ---------------------------------------------------------- side info

_GR_FIELDS = ("part2_3_length", "big_values", "global_gain",
              "scalefac_compress", "window_switching", "block_type",
              "mixed_block_flag", "table_select", "subblock_gain",
              "region0_count", "region1_count", "preflag",
              "scalefac_scale", "count1table_select")


def parse_side_info(data: bytes, nch: int) -> dict:
    """MPEG-1 Layer III side info (17 bytes mono / 32 stereo) →
    ``{main_data_begin, private_bits, scfsi[ch][4],
    granules[2][ch]{...}}``."""
    need = 17 if nch == 1 else 32
    if len(data) < need:
        raise ValueError("side info truncated")
    br = _BitReader(data)
    out = {"main_data_begin": br.read(9),
           "private_bits": br.read(5 if nch == 1 else 3),
           "scfsi": [[br.read(1) for _ in range(4)]
                     for _ in range(nch)]}
    grs = []
    for _g in range(2):
        chans = []
        for _c in range(nch):
            g = {"part2_3_length": br.read(12),
                 "big_values": br.read(9),
                 "global_gain": br.read(8),
                 "scalefac_compress": br.read(4),
                 "window_switching": br.read(1)}
            if g["window_switching"]:
                g["block_type"] = br.read(2)
                g["mixed_block_flag"] = br.read(1)
                g["table_select"] = [br.read(5) for _ in range(2)]
                g["subblock_gain"] = [br.read(3) for _ in range(3)]
                # spec-fixed region split under window switching
                g["region0_count"] = (8 if g["block_type"] == 2
                                      and not g["mixed_block_flag"]
                                      else 7)
                g["region1_count"] = 20 - g["region0_count"]
                if g["block_type"] == 0:
                    raise ValueError("window_switching with "
                                     "block_type 0 is forbidden")
            else:
                g["block_type"] = 0
                g["mixed_block_flag"] = 0
                g["table_select"] = [br.read(5) for _ in range(3)]
                g["subblock_gain"] = [0, 0, 0]
                g["region0_count"] = br.read(4)
                g["region1_count"] = br.read(3)
            g["preflag"] = br.read(1)
            g["scalefac_scale"] = br.read(1)
            g["count1table_select"] = br.read(1)
            chans.append(g)
        grs.append(chans)
    out["granules"] = grs
    return out


def build_side_info(info: dict, nch: int) -> bytes:
    """Inverse of :func:`parse_side_info` (fixture builder)."""
    bw = _BitWriter()
    bw.write(info["main_data_begin"], 9)
    bw.write(info.get("private_bits", 0), 5 if nch == 1 else 3)
    for c in range(nch):
        for b in info["scfsi"][c]:
            bw.write(b, 1)
    for gr in info["granules"]:
        for g in gr:
            bw.write(g["part2_3_length"], 12)
            bw.write(g["big_values"], 9)
            bw.write(g["global_gain"], 8)
            bw.write(g["scalefac_compress"], 4)
            bw.write(g["window_switching"], 1)
            if g["window_switching"]:
                bw.write(g["block_type"], 2)
                bw.write(g["mixed_block_flag"], 1)
                for t in g["table_select"][:2]:
                    bw.write(t, 5)
                for s in g["subblock_gain"]:
                    bw.write(s, 3)
            else:
                for t in g["table_select"][:3]:
                    bw.write(t, 5)
                bw.write(g["region0_count"], 4)
                bw.write(g["region1_count"], 3)
            bw.write(g["preflag"], 1)
            bw.write(g["scalefac_scale"], 1)
            bw.write(g["count1table_select"], 1)
    if bw.nbits:
        bw.write(0, 8 - bw.nbits)         # flush to byte boundary
    out = bytes(bw.out)
    need = 17 if nch == 1 else 32
    return out + b"\x00" * (need - len(out))


# ------------------------------------------------------ bit reservoir

def assemble_main_data(frame_main_parts: List[bytes],
                       main_data_begin: int,
                       frame_index: int) -> bytes:
    """Resolve the bit-reservoir back-pointer: this frame's main data
    starts ``main_data_begin`` bytes BEFORE its own main-data section,
    inside previous frames' sections (§2.4.2.7 main_data_begin).
    ``frame_main_parts`` holds each frame's raw main-data bytes in
    order; returns the byte stream starting at the back-pointer."""
    if main_data_begin == 0:
        return frame_main_parts[frame_index]
    need = main_data_begin
    prefix = b""
    i = frame_index - 1
    while need > 0 and i >= 0:
        part = frame_main_parts[i]
        take = min(need, len(part))
        prefix = part[len(part) - take:] + prefix
        need -= take
        i -= 1
    if need > 0:
        raise ValueError("bit reservoir underrun: main_data_begin "
                         "reaches before the first frame")
    return prefix + frame_main_parts[frame_index]


# ------------------------------------------------------- scalefactors

def decode_scalefactors(br, g: dict, *, gr: int, scfsi,
                        prev_long: Optional[list] = None):
    """§2.4.2.7 scalefactor decode for one granule-channel.

    Returns ``(long[21], short[12][3], bits_read)`` — short is None
    for long blocks, long covers bands 0-20 (band 21 has none). With
    ``gr=1`` and scfsi bits set, the group's bands are copied from
    ``prev_long`` and not read (long blocks only, per spec)."""
    slen1, slen2 = SLEN[g["scalefac_compress"]]
    bits = 0
    if g["block_type"] == 2 and g["window_switching"]:
        if g["mixed_block_flag"]:
            long_sf = [0] * 21
            for sfb in range(8):
                long_sf[sfb] = br.read(slen1)
                bits += slen1
            short_sf = [[0] * 3 for _ in range(12)]
            for sfb in range(3, 12):
                sl = slen1 if sfb < 6 else slen2
                for w in range(3):
                    short_sf[sfb][w] = br.read(sl)
                    bits += sl
            return long_sf, short_sf, bits
        short_sf = [[0] * 3 for _ in range(12)]
        for sfb in range(12):
            sl = slen1 if sfb < 6 else slen2
            for w in range(3):
                short_sf[sfb][w] = br.read(sl)
                bits += sl
        return None, short_sf, bits
    long_sf = [0] * 21
    for group, (lo, hi) in enumerate(SCFSI_BANDS):
        share = gr == 1 and scfsi[group] and prev_long is not None
        for sfb in range(lo, hi):
            sl = slen1 if sfb < 11 else slen2
            if share:
                long_sf[sfb] = prev_long[sfb]
            else:
                long_sf[sfb] = br.read(sl)
                bits += sl
    return long_sf, None, bits


# ----------------------------------------------------- requantization

def requantize_long(is_values, g: dict, long_sf, sfb_long):
    """§2.4.3.4.7 long-block requantization: 576 ints → float xr.
    ``sfb_long`` is the 23-entry band-boundary table for the sample
    rate."""
    xr = np.zeros(576)
    gain = 2.0 ** (0.25 * (g["global_gain"] - 210))
    mult = 0.5 * (1 + g["scalefac_scale"])
    for sfb in range(22):
        lo, hi = sfb_long[sfb], sfb_long[sfb + 1]
        sf = long_sf[sfb] if sfb < 21 else 0
        pre = PRETAB[sfb] if g["preflag"] else 0
        factor = gain * 2.0 ** (-mult * (sf + pre))
        for i in range(lo, min(hi, 576)):
            v = is_values[i]
            xr[i] = np.sign(v) * abs(v) ** (4.0 / 3.0) * factor
    return xr


def requantize_short(is_values, g: dict, short_sf, sfb_short):
    """Short-block requantization with per-window subblock_gain;
    ``is_values`` and the returned xr are in REORDERED layout
    (window-major within each band triple, the layout
    :func:`reorder_short` produces)."""
    xr = np.zeros(576)
    base = g["global_gain"] - 210
    mult = 0.5 * (1 + g["scalefac_scale"])
    pos = 0
    for sfb in range(13):
        lo, hi = sfb_short[sfb], sfb_short[sfb + 1]
        width = hi - lo
        for w in range(3):
            sf = short_sf[sfb][w] if sfb < 12 else 0
            gain = 2.0 ** (0.25 * (base - 8 * g["subblock_gain"][w]))
            factor = gain * 2.0 ** (-mult * sf)
            for _ in range(width):
                if pos >= 576:
                    break
                v = is_values[pos]
                xr[pos] = (np.sign(v) * abs(v) ** (4.0 / 3.0)
                           * factor)
                pos += 1
    return xr


def reorder_short(raw, sfb_short):
    """Huffman order (freq-interleaved windows per short band) →
    window-major order per band: for each band the decoder reads
    w0f0 w1f0 w2f0 w0f1 ... and emits w0f0..f(n-1), w1..., w2...
    (the inverse of the encoder's §2.4.3.4.8 reordering)."""
    out = [0] * 576
    pos = 0
    for sfb in range(13):
        lo, hi = sfb_short[sfb], sfb_short[sfb + 1]
        width = hi - lo
        for f in range(width):
            for w in range(3):
                if pos >= 576:
                    break
                out[lo * 3 + w * width + f] = raw[pos]
                pos += 1
    return out


# ------------------------------------------------------------- stereo

def ms_stereo(mid, side):
    """(M, S) → (L, R) = ((M±S)/√2) (§2.4.3.4.9.1)."""
    m = np.asarray(mid, dtype=np.float64)
    s = np.asarray(side, dtype=np.float64)
    inv = 1.0 / np.sqrt(2.0)
    return (m + s) * inv, (m - s) * inv


#: §2.4.3.4.9.3 intensity position ratios: is_ratio = tan(is_pos·π/12)
#: (is_pos 7 would be tan(π·7/12) < 0 — the spec marks it illegal)
def intensity_ratio(is_pos: int) -> float:
    if not 0 <= is_pos <= 6:
        raise ValueError("intensity position must be 0-6 "
                         "(7 is the spec's illegal marker)")
    return float(np.tan(is_pos * np.pi / 12.0))


def intensity_stereo(xr_left, is_pos: int):
    """§2.4.3.4.9.3 MPEG-1 intensity decode for one band: the LEFT
    channel carries the summed signal, ``is_pos`` (decoded in place
    of the right channel's scalefactor) positions it:
    L = xr·ratio/(1+ratio), R = xr/(1+ratio). is_pos 6 (ratio → tan
    (π/2)⁻ huge) puts everything left; is_pos 0 everything right."""
    xr = np.asarray(xr_left, dtype=np.float64)
    r = intensity_ratio(is_pos)
    if np.isinf(r):
        return xr.copy(), np.zeros_like(xr)
    return xr * (r / (1.0 + r)), xr * (1.0 / (1.0 + r))


# ----------------------------------------------------- alias reduce

def alias_reduce(xr, n_boundaries: int = 31):
    """Decoder-side alias-reduction butterflies across subband
    boundaries (§2.4.3.4.10.1) — all 31 for long blocks, 1 for MIXED
    blocks (only the two long subbands), none for pure short. ``xr``
    is the 576-vector in subband-major order; returns a new vector."""
    x = np.array(xr, dtype=np.float64)
    for sb in range(1, 1 + n_boundaries):
        b = sb * 18
        for i in range(8):
            lo = x[b - 1 - i]
            hi = x[b + i]
            x[b - 1 - i] = lo * _CS[i] + hi * _CA[i]
            x[b + i] = hi * _CS[i] - lo * _CA[i]
    return x


def alias_butterfly_forward(xr):
    """The ENCODER-side butterfly (the exact inverse — each line is
    an orthogonal rotation); exists so tests can assert
    ``alias_reduce(forward(x)) == x``."""
    x = np.array(xr, dtype=np.float64)
    for sb in range(1, 32):
        b = sb * 18
        for i in range(8):
            lo = x[b - 1 - i]
            hi = x[b + i]
            x[b - 1 - i] = lo * _CS[i] - hi * _CA[i]
            x[b + i] = hi * _CS[i] + lo * _CA[i]
    return x


# ------------------------------------------------------ hybrid IMDCT

def _imdct(X, n):
    """x_i = Σ_k X_k cos(π/(2n)(2i+1+n/2)(2k+1)), i<n, k<n/2."""
    X = np.asarray(X, dtype=np.float64)
    i = np.arange(n)
    k = np.arange(n // 2)
    C = np.cos(np.pi / (2 * n) * np.outer(2 * i + 1 + n // 2,
                                          2 * k + 1))
    return C @ X


def mdct_forward(z, n):
    """Encoder MDCT (tests' TDAC twin): X_k = (4/n)·Σ_i z_i cos(...)
    — the 4/n makes IMDCT∘MDCT with the sine-window overlap-add the
    identity."""
    z = np.asarray(z, dtype=np.float64)
    i = np.arange(n)
    k = np.arange(n // 2)
    C = np.cos(np.pi / (2 * n) * np.outer(2 * i + 1 + n // 2,
                                          2 * k + 1))
    return (4.0 / n) * (z @ C)


def block_window(block_type: int) -> np.ndarray:
    """The four §2.4.3.4.10.3 window shapes over 36 samples (short
    returns the 12-sample window)."""
    i = np.arange(36)
    if block_type == 0:
        return np.sin(np.pi / 36 * (i + 0.5))
    if block_type == 1:                   # start
        w = np.sin(np.pi / 36 * (i + 0.5))
        w[18:24] = 1.0
        w[24:30] = np.sin(np.pi / 12 * (np.arange(24, 30) - 18 + 0.5))
        w[30:] = 0.0
        return w
    if block_type == 3:                   # stop
        w = np.sin(np.pi / 36 * (i + 0.5))
        w[:6] = 0.0
        w[6:12] = np.sin(np.pi / 12 * (np.arange(6, 12) - 6 + 0.5))
        w[12:18] = 1.0
        return w
    if block_type == 2:                   # short (12-sample)
        j = np.arange(12)
        return np.sin(np.pi / 12 * (j + 0.5))
    raise ValueError(f"bad block_type {block_type}")


def imdct_subband(X18, block_type: int) -> np.ndarray:
    """One subband's 18 spectral values → 36 windowed time samples
    (short: three 12-point IMDCTs overlapped at +6/+12 inside the
    36, per §2.4.3.4.10.2; input window-major: w0 f0-5, w1, w2)."""
    if block_type == 2:
        out = np.zeros(36)
        w = block_window(2)
        for win in range(3):
            chunk = _imdct(X18[win * 6:(win + 1) * 6], 12) * w
            out[6 + win * 6:18 + win * 6] += chunk
        return out
    return _imdct(X18, 36) * block_window(block_type)


def hybrid_synthesis(xr, block_type: int, mixed: int,
                     overlap: np.ndarray):
    """One granule: 576 xr (subband-major) + the 32×18 overlap state
    → ``(ss (18, 32) subband time samples, new overlap)``. Applies
    per-subband IMDCT+window, 50 % overlap-add, and frequency
    inversion (odd time samples of odd subbands negated)."""
    ss = np.zeros((18, 32))
    new_overlap = np.zeros((32, 18))
    for sb in range(32):
        bt = 0 if (mixed and sb < 2) else block_type
        chunk = imdct_subband(np.asarray(xr[sb * 18:(sb + 1) * 18]),
                              bt)
        ss[:, sb] = chunk[:18] + overlap[sb]
        new_overlap[sb] = chunk[18:]
    # frequency inversion
    for sb in range(1, 32, 2):
        ss[1::2, sb] = -ss[1::2, sb]
    return ss, new_overlap


def decode_granule_samples(is_values, g: dict, *, sfb_long,
                           sfb_short, long_sf=None, short_sf=None,
                           overlap=None):
    """The tier's complete BACK HALF for one granule-channel: decoded
    integer spectrum → ``(ss (18, 32) subband time samples, new
    overlap)``. Chains reorder (short) → requantization → alias
    reduction (31 boundaries long / 1 mixed / 0 pure-short) → hybrid
    IMDCT + overlap-add + frequency inversion. Once the Annex-B
    Huffman tables land (r13), :func:`decode_spectrum` output feeds
    straight in here and :func:`.mp2.synthesize` turns the result
    into PCM — every stage below the table seam is already wired."""
    if overlap is None:
        overlap = np.zeros((32, 18))
    short = g["block_type"] == 2 and g["window_switching"]
    if short:
        reordered = reorder_short(list(is_values), sfb_short)
        xr = requantize_short(reordered, g, short_sf, sfb_short)
        xr = alias_reduce(xr, 1 if g["mixed_block_flag"] else 0)
    else:
        xr = requantize_long(list(is_values), g, long_sf, sfb_long)
        xr = alias_reduce(xr, 31)
    return hybrid_synthesis(xr, g["block_type"],
                            g["mixed_block_flag"], overlap)


# ------------------------------------------------- spectral plumbing

def sideinfo_inventory(df, payload_col: str = "payload",
                       id_col: str = "media_id"):
    """Per-file Layer III SIDE-INFO census (one Arrow kernel) — the
    decode tier's crawl-facing surface: parses the first frame's
    header + side info and emits the fields an audio-curation pass
    gates on (reservoir usage, block types, gains) without touching
    the spectral seam. Returns nulls for non-MP3 / non-Layer-III /
    truncated payloads (corruption is data)."""
    import struct as _struct
    from typing import Iterator as _It

    import pandas as pd

    from .mp3 import _frame_info

    cols = ("media_id", "is_l3", "nch", "main_data_begin",
            "g0_part2_3_length", "g0_big_values", "g0_global_gain",
            "g0_scalefac_compress", "g0_window_switching",
            "g0_block_type", "g0_mixed_block", "g1_global_gain",
            "g1_preflag", "g1_scalefac_scale")

    def one(p: bytes) -> dict:
        row = {c: None for c in cols if c != "media_id"}
        row["is_l3"] = False
        try:
            hdr = _struct.unpack_from(">I", p, 0)[0]
            info = _frame_info(hdr)
            if not info or info["layer"] != 3 or info["version"] != 3:
                return row
            nch = 1 if info["mode"] == 3 else 2
            # a truncated L3 frame is still an L3 frame — header
            # verdict survives, side-info fields degrade to null
            row.update(is_l3=True, nch=nch)
            off = 4 + (2 if info["crc"] else 0)
            si = parse_side_info(p[off:], nch)
            g0 = si["granules"][0][0]
            g1 = si["granules"][1][0]
            row.update(
                main_data_begin=si["main_data_begin"],
                g0_part2_3_length=g0["part2_3_length"],
                g0_big_values=g0["big_values"],
                g0_global_gain=g0["global_gain"],
                g0_scalefac_compress=g0["scalefac_compress"],
                g0_window_switching=bool(g0["window_switching"]),
                g0_block_type=g0["block_type"],
                g0_mixed_block=bool(g0["mixed_block_flag"]),
                g1_global_gain=g1["global_gain"],
                g1_preflag=bool(g1["preflag"]),
                g1_scalefac_scale=bool(g1["scalefac_scale"]))
        except Exception:
            pass
        return row

    int_cols = ("nch", "main_data_begin", "g0_part2_3_length",
                "g0_big_values", "g0_global_gain",
                "g0_scalefac_compress", "g0_block_type",
                "g1_global_gain")

    def kernel(batches: _It[pd.DataFrame]):
        for pdf in batches:
            rows = []
            for mid, p in zip(pdf[id_col], pdf[payload_col]):
                r = one(bytes(p or b""))
                r["media_id"] = int(mid)
                rows.append(r)
            out = pd.DataFrame(rows, columns=list(cols))
            for c in int_cols:            # nullable ints, never float64
                out[c] = pd.array([r[c] for r in rows], dtype="Int64")
            yield out

    schema = ("media_id long, is_l3 boolean, nch long, "
              "main_data_begin long, g0_part2_3_length long, "
              "g0_big_values long, g0_global_gain long, "
              "g0_scalefac_compress long, g0_window_switching "
              "boolean, g0_block_type long, g0_mixed_block boolean, "
              "g1_global_gain long, g1_preflag boolean, "
              "g1_scalefac_scale boolean")
    return df.select(id_col, payload_col).mapInPandas(kernel, schema)


def build_l3_frame(info: dict, nch: int, *, sr_idx: int = 0,
                   br_idx: int = 9) -> bytes:
    """One complete MPEG-1 Layer III frame: header + side info
    (from :func:`build_side_info`) + zeroed main data — the fixture
    source for the side-info census (repo's own-encoder rule)."""
    import struct as _struct
    hdr = (0x7FF << 21) | (3 << 19) | (1 << 17) | (1 << 16) \
        | (br_idx << 12) | (sr_idx << 10) \
        | ((3 if nch == 1 else 0) << 6)
    from .mp3 import _frame_info
    fi = _frame_info(hdr)
    body = build_side_info(info, nch)
    frame = _struct.pack(">I", hdr) + body
    return frame + b"\x00" * (fi["size"] - len(frame))


def _read_prefix(br, codes):
    """MSB-first walk of a {(bits_value, length): symbol} table."""
    code, ln = 0, 0
    while True:
        code = (code << 1) | br.read(1)
        ln += 1
        hit = codes.get((code, ln))
        if hit is not None:
            return hit
        if ln > 19:
            raise ValueError("invalid spectral prefix code")


def decode_spectrum(br, g: dict, region_bounds, *, tables=None,
                    count1_tables=None, total_bits=None):
    """§2.4.2.7 spectral decode PLUMBING for one granule-channel:
    big_values pairs over the three table-select regions (with
    linbits ESC extension and sign bits), then count1 quadruples
    until ``total_bits`` (part2_3_length minus part2) is exhausted
    or 576 values are out. ``region_bounds = (r0_end, r1_end)`` in
    sample indices. Table registries default to the module seam."""
    tables = SPECTRAL_TABLES if tables is None else tables
    count1_tables = (COUNT1_TABLES if count1_tables is None
                     else count1_tables)
    if not tables or not count1_tables:
        raise NotImplementedError(_SEAM_MSG)
    out = [0] * 576
    bits_used = 0

    def take(n):
        nonlocal bits_used
        bits_used += n
        return br.read(n)

    pos = 0
    r0_end, r1_end = region_bounds
    for pair in range(g["big_values"]):
        idx = pos
        if idx < r0_end:
            sel = g["table_select"][0]
        elif idx < r1_end:
            sel = g["table_select"][1]
        else:
            sel = g["table_select"][2]
        tab = tables[sel]
        code, ln = 0, 0
        while True:
            code = (code << 1) | take(1)
            ln += 1
            hit = tab["codes"].get((code, ln))
            if hit is not None:
                break
            if ln > 19:
                raise ValueError("invalid big-value code")
        x, y = hit
        linbits = tab.get("linbits", 0)
        vals = []
        for v in (x, y):
            if v == 15 and linbits:
                v += take(linbits)
            if v and take(1):
                v = -v
            vals.append(v)
        out[pos], out[pos + 1] = vals
        pos += 2
    c1tab = count1_tables[g["count1table_select"]]
    while pos + 3 < 576 and (total_bits is None
                             or bits_used < total_bits):
        code, ln = 0, 0
        while True:
            code = (code << 1) | take(1)
            ln += 1
            hit = c1tab["codes"].get((code, ln))
            if hit is not None:
                break
            if ln > 19:
                raise ValueError("invalid count1 code")
        for j, v in enumerate(hit):
            if v and take(1):
                v = -v
            out[pos + j] = v
        pos += 4
    return out, bits_used
