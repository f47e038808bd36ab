"""MPEG-1 Audio Layer II (MP2) codec — pure numpy/stdlib, no media libs.

Closes the "lossy audio" half of the multimodal seam next to G.711/ADPCM
(sample-domain lossy) and FLAC (lossless): MP2 is the tractable member
of the perceptual family — fixed 32-subband filterbank, no Huffman
coding — which is why it gets a real implementation where Layer III /
AAC stay a documented library seam.

What follows ISO/IEC 11172-3 exactly:

- the 32-bit frame header (syncword, MPEG-1 id, Layer II bits, bitrate
  index, sample-rate index, mode) — byte-compatible with the round-9
  header probe (:mod:`.probe`) and any ffprobe-shaped tool;
- frame sizing: 1152 PCM samples per frame, ``144 * bitrate /
  sample_rate`` bytes;
- the Layer II body layout: per-subband 4-bit allocation, 2-bit scfsi,
  6-bit scalefactors, then 12 granules x 3 samples with the 3/5/9-level
  quantizers GROUPED three-samples-per-code (5/7/10 bits per triple);
- the scalefactor value set ``2.0 * 2**(-idx/3)`` (the closed form
  behind the standard's 63-entry table);
- midtread odd-level quantizers (the rational C/D dequant constants of
  the standard's Table B.4 are algebraically ``x = (2c + 1 - L) / L``).

What is implementation-defined (documented, deliberate):

- **Subband filterbank.** The standard's analysis/synthesis windows are
  512 tabulated constants (Tables C.1/D.1) with no closed form and no
  transcribable source in this environment — hallucinating 512 digits
  silently corrupts every decode, so this implementation substitutes an
  exact-perfect-reconstruction 64-tap MDCT (sine window, the closed-form
  TDAC bank) for the standard's near-PR 512-tap pseudo-QMF. Consequence:
  bitstreams produced here parse in any MP2 tool (headers, sizes,
  framing are ISO) but third-party PCM decode would be approximate;
  round-trip through THIS codec is exact up to quantization error,
  which the tests bound. See ``test_mp2.py`` for the PR proof.
  ``filterbank="pqmf512"`` opts into a DESIGNED 512-tap near-PR
  pseudo-QMF in the ISO window's own family (:mod:`.mp2_proto`,
  measured ≈-76 dB reconstruction error) — structurally much closer to
  what a third-party ISO decoder applies, at the cost of the bit-exact
  round-trip the frozen oracles gate (hence opt-in, not default).
- **Allocation table.** The standard's per-subband allowed-quantizer
  tables (B.2a-d) are also lookup-only; here every subband carries a
  uniform 4-bit index into the standard quantizer ladder
  (0, 3, 5, 7, 9, 15, ..., 65535 levels), silent subbands allocated 0.

Reference parity note: the reference engine has no audio path at all
(its multimodal story ends at file ingest); this module is part of the
beyond-reference training-data mandate, mirroring
``operators/adpcm.py``/``flac.py``.
"""

from __future__ import annotations

import math
from typing import List, Tuple

import numpy as np

M = 32                       # subbands
FRAME_SAMPLES = 1152         # Layer II: 36 subband blocks x 32
BLOCKS_PER_FRAME = FRAME_SAMPLES // M

#: MPEG-1 Layer II bitrates (kbit/s), index 1..14 (0 = free, 15 = bad)
BITRATES = [0, 32, 48, 56, 64, 80, 96, 112, 128, 160,
            192, 224, 256, 320, 384]
#: MPEG-1 sample-rate index (2 bits; 3 = reserved)
SAMPLE_RATES = [44100, 48000, 32000]

#: 4-bit allocation index -> (levels, grouped); index 0 = silent.
#: The level ladder is the standard's quantizer set; grouping applies to
#: the odd "small" quantizers exactly as in the standard (3 samples in
#: ceil(log2(L^3)) bits).
QUANT = [None, (3, True), (5, True), (7, False), (9, True),
         (15, False), (31, False), (63, False), (127, False),
         (255, False), (511, False), (1023, False), (2047, False),
         (4095, False), (8191, False), (65535, False)]

SBLIMIT = 30                 # transmitted subbands (top 2 discarded)
_SCF_MAX_IDX = 62

#: analysis normalization: worst-case |subband| for |x|<=1 is ~16, the
#: largest scalefactor is 2.0 — dividing by 16 bounds |s| <= 1 < 2.0
_FWD_SCALE = 1.0 / 16.0


def _mdct_matrix() -> Tuple[np.ndarray, np.ndarray]:
    n = np.arange(2 * M)
    w = np.sin(np.pi / (2 * M) * (n + 0.5))
    k = np.arange(M)
    A = np.cos(np.pi / M * (n[:, None] + 0.5 + M / 2) * (k[None, :] + 0.5))
    return w, A


_W, _A = _mdct_matrix()


def analyze(x: np.ndarray) -> np.ndarray:
    """float samples -> (n_blocks, 32) subband array (hop 32, PR bank).

    Input is zero-padded by 32 at the front (filterbank delay) and at
    the back to a whole number of frames; ``n_blocks`` is a multiple of
    36.
    """
    x = np.asarray(x, dtype=np.float64)
    nb = max(1, -(-len(x) // M))                     # ceil blocks of data
    nb = -(-nb // BLOCKS_PER_FRAME) * BLOCKS_PER_FRAME
    buf = np.zeros(M * (nb + 1))
    buf[M:M + len(x)] = x
    frames = np.lib.stride_tricks.sliding_window_view(buf, 2 * M)[::M]
    return (frames[:nb] * _W) @ _A * _FWD_SCALE


def synthesize(S: np.ndarray) -> np.ndarray:
    """(n_blocks, 32) subband array -> float samples (inverse of
    :func:`analyze` including its padding: the 32-sample delay is
    trimmed, so ``synthesize(analyze(x))[:len(x)]`` ~= ``x``)."""
    S = np.asarray(S, dtype=np.float64) / _FWD_SCALE
    nb = len(S)
    y = np.zeros(M * (nb + 1))
    chunks = (S @ _A.T) * _W * (2.0 / M)             # (nb, 64)
    for m in range(nb):
        y[m * M:m * M + 2 * M] += chunks[m]
    return y[M:]


# --- bit cursors (MSB-first, same shape as the FLAC ones) ---------------

class _BitWriter:
    def __init__(self):
        self.acc = 0
        self.nbits = 0
        self.out = bytearray()

    def write(self, value: int, n: int) -> None:
        self.acc = (self.acc << n) | (value & ((1 << n) - 1))
        self.nbits += n
        while self.nbits >= 8:
            self.nbits -= 8
            self.out.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1


class _BitReader:
    def __init__(self, data: bytes, pos_bits: int = 0):
        self.d = data
        self.pos = pos_bits

    def read(self, n: int) -> int:
        end = self.pos + n
        if end > len(self.d) * 8:
            raise ValueError("truncated MP2 frame")
        first, last = self.pos >> 3, (end + 7) >> 3
        chunk = int.from_bytes(self.d[first:last], "big")
        chunk >>= (last << 3) - end
        self.pos = end
        return chunk & ((1 << n) - 1)


# --- scalefactors / quantizers ------------------------------------------

def scf_value(idx: int) -> float:
    return 2.0 * 2.0 ** (-idx / 3.0)


def _scf_index(maxabs: float) -> int:
    if maxabs <= 0:
        return _SCF_MAX_IDX
    i = math.floor(3.0 * (1.0 - math.log2(maxabs)))
    return min(max(i, 0), _SCF_MAX_IDX)


def _sample_bits(levels: int) -> int:
    return (levels).bit_length()


def _group_bits(levels: int) -> int:
    return (levels ** 3 - 1).bit_length()


def _frame_body_bits(alloc: List[int]) -> int:
    bits = SBLIMIT * 4
    for a in alloc:
        if a == 0:
            continue
        bits += 2 + 3 * 6                            # scfsi=0 + 3 scf
        levels, grouped = QUANT[a]
        per_gran = _group_bits(levels) if grouped else 3 * _sample_bits(levels)
        bits += 12 * per_gran
    return bits


def frame_bytes(bitrate_kbps: int, rate: int) -> int:
    return 144 * bitrate_kbps * 1000 // rate


# --- encode --------------------------------------------------------------

def _filterbank(name: str):
    """(analyze, synthesize) pair for a filterbank name: ``"mdct"``
    (default — exact PR, bit-exact round-trips, the frozen-oracle
    bank) or ``"pqmf512"`` (the designed 512-tap near-PR pseudo-QMF
    in the ISO window's own family — see :mod:`.mp2_proto`; ~-76 dB
    reconstruction error, closer to what a third-party ISO decoder
    applies)."""
    if name == "mdct":
        return analyze, synthesize
    if name == "pqmf512":
        from .mp2_proto import analyze_pqmf, synthesize_pqmf
        return analyze_pqmf, synthesize_pqmf
    raise ValueError(f"unknown filterbank {name!r} "
                     "(expected 'mdct' or 'pqmf512')")


def encode_mp2(samples: np.ndarray, rate: int = 32000,
               alloc_idx: int = 11, *,
               filterbank: str = "mdct") -> bytes:
    """Encode mono float samples (|x| <= 1) to an MP2 bitstream.

    ``alloc_idx`` is the UPPER BOUND on the uniform quantizer index for
    non-silent subbands (default 11 = 1023 levels ~ 10 bits,
    transparent for fixtures); silent subbands (scalefactored max
    exactly 0) are allocated 0. When the worst frame at the requested
    index exceeds even the 384 kbps frame (possible at 44.1/48 kHz
    where frames are shorter), the encoder degrades the index uniformly
    until it fits — the crude uniform cousin of the standard's adaptive
    bit-allocation loop. The bitrate index is then the smallest
    standard rate whose frame holds the worst frame's bits; zero bits
    pad the remainder, as the standard allows (ancillary data).

    ``filterbank`` selects the subband bank (see :func:`_filterbank`);
    the bitstream layout is identical either way — a decoder must be
    told which bank to invert (ISO streams don't signal it).
    """
    if rate not in SAMPLE_RATES:
        raise ValueError(f"unsupported MPEG-1 rate {rate}")
    if not 1 <= alloc_idx <= 15:
        raise ValueError("alloc_idx must be 1..15")
    _analyze, _ = _filterbank(filterbank)
    S = _analyze(samples)
    n_frames = len(S) // BLOCKS_PER_FRAME

    frames = []
    for f in range(n_frames):
        FS = S[f * BLOCKS_PER_FRAME:(f + 1) * BLOCKS_PER_FRAME]
        # per (subband, third) max over its 12 blocks — vectorized:
        # (3 thirds, 12 blocks, 32 subbands) -> (3, 32); the index
        # formula is _scf_index's floor(3*(1-log2(m))) clamped to the
        # ladder (safe log: silent thirds are masked by `live`)
        thirds = np.abs(FS).reshape(3, 12, M).max(axis=1)[:, :SBLIMIT]
        live = (thirds.max(axis=0) > 0.0).tolist()
        with np.errstate(divide="ignore"):
            idx = np.floor(3.0 * (1.0 - np.log2(
                np.where(thirds > 0, thirds, 1.0))))
        scf_idx = np.clip(np.where(thirds > 0, idx, _SCF_MAX_IDX),
                          0, _SCF_MAX_IDX).astype(np.int64).T
        frames.append((FS, live, scf_idx))

    br_index = None
    for eff in range(alloc_idx, 0, -1):
        worst_bits = max((32 + _frame_body_bits(
            [eff if lv else 0 for lv in live]))
            for _, live, _ in frames) if frames else 32
        br_index = next(
            (i for i in range(1, 15)
             if frame_bytes(BITRATES[i], rate) * 8 >= worst_bits), None)
        if br_index is not None:
            break
    if br_index is None:                      # unreachable: idx 1 always fits
        raise ValueError("frame does not fit the highest Layer II bitrate")
    frames = [(FS, [eff if lv else 0 for lv in live], scf_idx)
              for FS, live, scf_idx in frames]
    sr_index = SAMPLE_RATES.index(rate)
    fbytes = frame_bytes(BITRATES[br_index], rate)

    out = bytearray()
    for FS, alloc, scf_idx in frames:
        bw = _BitWriter()
        # header: sync(11=all ones incl. the MPEG-1 id high bit pattern)
        bw.write(0x7FF, 11)
        bw.write(0b11, 2)       # MPEG-1
        bw.write(0b10, 2)       # Layer II
        bw.write(1, 1)          # no CRC
        bw.write(br_index, 4)
        bw.write(sr_index, 2)
        bw.write(0, 1)          # padding
        bw.write(0, 1)          # private
        bw.write(0b11, 2)       # single channel
        bw.write(0, 2)          # mode extension
        bw.write(0, 1)          # copyright
        bw.write(1, 1)          # original
        bw.write(0, 2)          # no emphasis
        for a in alloc:
            bw.write(a, 4)
        for sb in range(SBLIMIT):
            if alloc[sb]:
                bw.write(0, 2)                       # scfsi: 3 scalefactors
        for sb in range(SBLIMIT):
            if alloc[sb]:
                for t in range(3):
                    bw.write(int(scf_idx[sb, t]), 6)
        # sample section, vectorized: the allocation is uniform over
        # live subbands, so the whole frame quantizes as one numpy
        # expression and each granule packs into ONE arbitrary-precision
        # int -> one bit write (MSB side = first subband, matching the
        # per-sample layout the decoder mirrors)
        live = [sb for sb in range(SBLIMIT) if alloc[sb]]
        if live:
            levels, grouped = QUANT[eff]
            scf_m = np.array([[scf_value(int(scf_idx[sb, t]))
                               for sb in live] for t in range(3)])
            V = FS[:, live]                                   # (36, n_live)
            scf_blocks = scf_m[np.arange(BLOCKS_PER_FRAME) // 12]
            codes = np.clip(
                np.floor((V / scf_blocks + 1.0) / 2.0 * levels),
                0, levels - 1).astype(np.int64)
            if grouped:
                gb = _group_bits(levels)
                for gr in range(12):
                    c0, c1, c2 = codes[gr * 3:gr * 3 + 3]
                    gvals = (c0 + levels * c1
                             + levels * levels * c2).tolist()
                    acc = 0
                    for g in gvals:
                        acc = (acc << gb) | g
                    bw.write(acc, gb * len(gvals))
            else:
                nb = _sample_bits(levels)
                for gr in range(12):
                    tri = codes[gr * 3:gr * 3 + 3].T.reshape(-1).tolist()
                    acc = 0
                    for c in tri:
                        acc = (acc << nb) | c
                    bw.write(acc, nb * len(tri))
        pad_bits = fbytes * 8 - (len(bw.out) * 8 + bw.nbits)
        while pad_bits >= 16:
            bw.write(0, 16)
            pad_bits -= 16
        if pad_bits:
            bw.write(0, pad_bits)
        out += bw.out
    return bytes(out)


# --- decode --------------------------------------------------------------

def _parse_header(p: bytes, i: int):
    if i + 4 > len(p):
        return None
    if p[i] != 0xFF or (p[i + 1] & 0xFE) != 0xFC:    # sync + MPEG-1 + LII
        return None
    br_index = p[i + 2] >> 4
    sr_index = (p[i + 2] >> 2) & 3
    if br_index in (0, 15) or sr_index == 3:
        return None
    rate = SAMPLE_RATES[sr_index]
    pad = (p[i + 2] >> 1) & 1
    # protection_bit==0 means a 16-bit CRC follows the header
    # (ISO 11172-3 §2.4.1.3) — the decoder must skip it.
    crc = (p[i + 1] & 1) == 0
    return rate, frame_bytes(BITRATES[br_index], rate) + pad, crc


def _tag_end(payload: bytes) -> int:
    """Byte offset past an ID3v2 prefix (0 when none)."""
    if payload[:3] == b"ID3" and len(payload) >= 10:
        size = ((payload[6] & 0x7F) << 21) | ((payload[7] & 0x7F) << 14) \
            | ((payload[8] & 0x7F) << 7) | (payload[9] & 0x7F)
        return 10 + size
    return 0


def is_mp2(payload: bytes) -> bool:
    """True when the payload (optionally ID3v2-prefixed) starts with a
    valid MPEG-1 Layer II frame header — the dispatch predicate."""
    return _parse_header(payload, _tag_end(payload)) is not None


def decode_mp2(payload: bytes, *,
               filterbank: str = "mdct") -> Tuple[int, np.ndarray]:
    """MP2 bitstream -> ``(rate, mono float64)`` (the
    :func:`~.multimodal.decode_audio` contract). Raises ``ValueError``
    on a payload that does not start with a valid Layer II frame or
    whose frames are truncated/corrupt. ``filterbank`` must name the
    bank the stream was ENCODED with (ISO streams don't signal it)."""
    pos = _tag_end(payload)       # ID3v2 prefix, same skip as the probe
    first = _parse_header(payload, pos)
    if first is None:
        raise ValueError("not an MPEG-1 Layer II stream")
    rate = first[0]
    subbands = []
    while pos < len(payload):
        hdr = _parse_header(payload, pos)
        if hdr is None:
            if len(payload) - pos < 4:
                break                                # trailing garbage < header
            raise ValueError(f"bad frame header at byte {pos}")
        frate, flen, crc = hdr
        if frate != rate:
            raise ValueError("sample-rate change mid-stream")
        if pos + flen > len(payload):
            raise ValueError("truncated final MP2 frame")
        # CRC-protected frames carry a 16-bit checksum before the body.
        br = _BitReader(payload, (pos + 4) * 8 + (16 if crc else 0))
        # every 4-bit allocation index is valid here: 0 = silent band,
        # 1..15 all map to real QUANT quantizers — no validity check
        # is possible at this seam (ISO B.2a's nbal=4 column is total).
        alloc = [br.read(4) for _ in range(SBLIMIT)]
        for sb in range(SBLIMIT):
            if alloc[sb]:
                if br.read(2) != 0:
                    raise ValueError("unsupported scfsi (encoder emits 0)")
        scf = np.zeros((SBLIMIT, 3))
        for sb in range(SBLIMIT):
            if alloc[sb]:
                for t in range(3):
                    scf[sb, t] = scf_value(br.read(6))
        FS = np.zeros((BLOCKS_PER_FRAME, M))
        live = [sb for sb in range(SBLIMIT) if alloc[sb]]
        if live:
            # encoder-mirrored uniform allocation: one quantizer for
            # every live subband -> each granule is one fixed-width
            # block, read as a single int and split by shifts, then
            # dequantized as one numpy expression per frame
            allocs = {alloc[sb] for sb in live}
            if len(allocs) != 1:
                raise ValueError("non-uniform allocation (not this "
                                 "encoder's output)")
            levels, grouped = QUANT[allocs.pop()]
            n_live = len(live)
            codes = np.empty((BLOCKS_PER_FRAME, n_live), dtype=np.int64)
            if grouped:
                gb = _group_bits(levels)
                gmask = (1 << gb) - 1
                for gr in range(12):
                    acc = br.read(gb * n_live)
                    gvals = []
                    for _ in range(n_live):
                        gvals.append(acc & gmask)
                        acc >>= gb
                    gvals.reverse()
                    g = np.array(gvals, dtype=np.int64)
                    if (g // (levels * levels) >= levels).any():
                        raise ValueError("group code out of range")
                    codes[gr * 3] = g % levels
                    codes[gr * 3 + 1] = (g // levels) % levels
                    codes[gr * 3 + 2] = g // (levels * levels)
            else:
                nb = _sample_bits(levels)
                mask = (1 << nb) - 1
                for gr in range(12):
                    acc = br.read(nb * 3 * n_live)
                    tri = []
                    for _ in range(3 * n_live):
                        tri.append(acc & mask)
                        acc >>= nb
                    tri.reverse()
                    t3 = np.array(tri, dtype=np.int64).reshape(n_live, 3)
                    if (t3 >= levels).any():
                        raise ValueError("sample code out of range")
                    codes[gr * 3:gr * 3 + 3] = t3.T
            scf_blocks = scf[live][:, np.arange(BLOCKS_PER_FRAME) // 12].T
            FS[:, live] = (2 * codes + 1 - levels) / levels * scf_blocks
        subbands.append(FS)
        pos += flen
    if not subbands:
        raise ValueError("no MP2 frames decoded")
    _, _synthesize = _filterbank(filterbank)
    return rate, _synthesize(np.concatenate(subbands))
