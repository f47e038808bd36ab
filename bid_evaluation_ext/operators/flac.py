"""Pure-stdlib FLAC codec for the multimodal audio kernel.

Written from the PUBLIC FLAC format specification (RFC 9639 / the xiph.org
format document) — no media library involved. Same role as :mod:`.wav` for
PCM containers: a real decode path so audio features come from actual
samples. Lossless, so the arithmetic-oracle trick used for JPEG/WAV holds
exactly: a deterministic waveform encoded here and decoded by
:func:`decode_flac` reproduces the original integers bit-for-bit.

Decoder coverage: STREAMINFO parsing, fixed/variable blocking, UTF-8-style
coded frame/sample numbers, CRC-8 header + CRC-16 frame verification, all
four subframe types (CONSTANT, VERBATIM, FIXED orders 0-4, LPC), 4- and
5-bit Rice residual partitions with raw-bits escapes, wasted bits, and the
left/side, right/side, and mid/side stereo decorrelation modes, at 8-32
bit depths. The :func:`encode_flac` companion is a TEST AID (valid
streams, not a rate-optimal encoder): constant, verbatim, or fixed-order-2
+ Rice subframes, independent or mid/side stereo, with the STREAMINFO PCM
MD5 filled in so decode can verify end-to-end losslessness.

All functions are driver/executor-side helpers for Arrow-batched kernels —
they never touch Spark themselves. Every malformed input raises
``ValueError`` (corrupt media must not kill a scan).
"""

from __future__ import annotations

import hashlib
from typing import List, Tuple

import numpy as np

_MAGIC = b"fLaC"

_BLOCKSIZE_CODES = {
    1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608,
    8: 256, 9: 512, 10: 1024, 11: 2048, 12: 4096,
    13: 8192, 14: 16384, 15: 32768,
}
_SAMPLE_RATE_CODES = {
    1: 88200, 2: 176400, 3: 192000, 4: 8000, 5: 16000, 6: 22050,
    7: 24000, 8: 32000, 9: 44100, 10: 48000, 11: 96000,
}
_SAMPLE_SIZE_CODES = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}

_FIXED_COEFFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}


def _crc_table(poly: int, width: int) -> List[int]:
    mask = (1 << width) - 1
    top = 1 << (width - 1)
    table = []
    for byte in range(256):
        crc = byte << (width - 8)
        for _ in range(8):
            crc = ((crc << 1) ^ poly) if crc & top else (crc << 1)
        table.append(crc & mask)
    return table


_CRC8_TABLE = _crc_table(0x07, 8)
_CRC16_TABLE = _crc_table(0x8005, 16)


def _crc8(data: bytes) -> int:
    crc = 0
    for b in data:
        crc = _CRC8_TABLE[crc ^ b]
    return crc


def _crc16(data: bytes) -> int:
    crc = 0
    for b in data:
        crc = ((crc << 8) & 0xFFFF) ^ _CRC16_TABLE[((crc >> 8) ^ b) & 0xFF]
    return crc


class _BitReader:
    """MSB-first bit cursor over a bytes payload."""

    def __init__(self, data: bytes, pos_bits: int = 0):
        self.d = data
        self.pos = pos_bits

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        end = self.pos + n
        if end > len(self.d) * 8:
            raise ValueError("truncated FLAC stream")
        first, last = self.pos >> 3, (end + 7) >> 3
        chunk = int.from_bytes(self.d[first:last], "big")
        chunk >>= (last << 3) - end
        self.pos = end
        return chunk & ((1 << n) - 1)

    def read_signed(self, n: int) -> int:
        v = self.read(n)
        return v - (1 << n) if v & (1 << (n - 1)) else v

    def read_unary(self) -> int:
        # count 0 bits until the terminating 1
        count = 0
        d, pos, total = self.d, self.pos, len(self.d) * 8
        while True:
            if pos >= total:
                raise ValueError("truncated FLAC stream (unary)")
            bit = (d[pos >> 3] >> (7 - (pos & 7))) & 1
            pos += 1
            if bit:
                self.pos = pos
                return count
            count += 1

    def align(self) -> None:
        self.pos = (self.pos + 7) & ~7

    def byte_pos(self) -> int:
        return self.pos >> 3


def _read_coded_number(br: _BitReader) -> int:
    """The UTF-8-style variable-length frame/sample number (up to 36 bits)."""
    b0 = br.read(8)
    if b0 < 0x80:
        return b0
    n = 0
    probe = b0
    while probe & 0x40:
        n += 1
        probe <<= 1
    if n == 0 or n > 6:
        raise ValueError("invalid coded number prefix")
    val = b0 & (0x3F >> n)
    for _ in range(n):
        cont = br.read(8)
        if cont & 0xC0 != 0x80:
            raise ValueError("invalid coded number continuation")
        val = (val << 6) | (cont & 0x3F)
    return val


def _read_residual(br: _BitReader, block_size: int, order: int) -> np.ndarray:
    method = br.read(2)
    if method > 1:
        raise ValueError(f"reserved residual method {method}")
    pbits = 4 if method == 0 else 5
    escape = (1 << pbits) - 1
    po = br.read(4)
    n_part = 1 << po
    if block_size % n_part:
        raise ValueError("block size not divisible by partition count")
    if (block_size >> po) < order or ((block_size >> po) == order
                                      and n_part > 1):
        raise ValueError("partition order leaves no room for warmup")
    out = np.empty(block_size - order, dtype=np.int64)
    idx = 0
    for part in range(n_part):
        n = (block_size >> po) - (order if part == 0 else 0)
        if n < 0:
            raise ValueError("invalid partition order")
        p = br.read(pbits)
        if p == escape:
            raw = br.read(5)
            for i in range(n):
                out[idx + i] = br.read_signed(raw) if raw else 0
        else:
            for i in range(n):
                q = br.read_unary()
                low = br.read(p) if p else 0
                v = (q << p) | low
                out[idx + i] = (v >> 1) ^ -(v & 1)   # zigzag
        idx += n
    return out


def _read_subframe(br: _BitReader, block_size: int, bps: int) -> np.ndarray:
    if br.read(1):
        raise ValueError("subframe padding bit set")
    stype = br.read(6)
    wasted = 0
    if br.read(1):
        wasted = br.read_unary() + 1
    eff = bps - wasted
    if eff <= 0:
        raise ValueError("wasted bits exceed sample size")

    if stype == 0:                                   # CONSTANT
        out = np.full(block_size, br.read_signed(eff), dtype=np.int64)
    elif stype == 1:                                 # VERBATIM
        if br.pos % 8 == 0 and eff in (8, 16, 24, 32):
            # byte-aligned fast path: bulk numpy read
            width = eff // 8
            start = br.byte_pos()
            end = start + block_size * width
            if end > len(br.d):
                raise ValueError("truncated verbatim subframe")
            raw = br.d[start:end]
            if eff == 24:
                b = np.frombuffer(raw, dtype=np.uint8).reshape(-1, 3)
                u = (b[:, 0].astype(np.int64) << 16) \
                    | (b[:, 1].astype(np.int64) << 8) | b[:, 2]
                out = np.where(u & 0x800000, u - (1 << 24), u)
            else:
                dt = {8: ">i1", 16: ">i2", 32: ">i4"}[eff]
                out = np.frombuffer(raw, dtype=dt).astype(np.int64)
            br.pos += block_size * eff
        else:
            out = np.empty(block_size, dtype=np.int64)
            for i in range(block_size):
                out[i] = br.read_signed(eff)
    elif 8 <= stype <= 12:                           # FIXED order 0-4
        order = stype - 8
        warm = [br.read_signed(eff) for _ in range(order)]
        res = _read_residual(br, block_size, order)
        out = np.empty(block_size, dtype=np.int64)
        out[:order] = warm
        coeffs = _FIXED_COEFFS[order]
        if order == 0:
            out[:] = res
        else:
            for i in range(order, block_size):
                acc = res[i - order]
                for j, c in enumerate(coeffs):
                    acc += c * out[i - 1 - j]
                out[i] = acc
    elif stype >= 32:                                # LPC order 1-32
        order = stype - 31
        warm = [br.read_signed(eff) for _ in range(order)]
        prec = br.read(4) + 1
        if prec == 16:
            raise ValueError("invalid LPC precision escape")
        shift = br.read_signed(5)
        if shift < 0:
            raise ValueError("negative LPC shift")
        coeffs = [br.read_signed(prec) for _ in range(order)]
        res = _read_residual(br, block_size, order)
        out = np.empty(block_size, dtype=np.int64)
        out[:order] = warm
        for i in range(order, block_size):
            acc = 0
            for j, c in enumerate(coeffs):
                acc += c * out[i - 1 - j]
            out[i] = res[i - order] + (acc >> shift)
    else:
        raise ValueError(f"reserved subframe type {stype}")
    if wasted:
        out = out << wasted
    return out


def _parse_streaminfo(block: bytes) -> dict:
    if len(block) != 34:
        raise ValueError("STREAMINFO must be 34 bytes")
    br = _BitReader(block)
    info = {
        "min_block": br.read(16), "max_block": br.read(16),
        "min_frame": br.read(24), "max_frame": br.read(24),
        "rate": br.read(20), "channels": br.read(3) + 1,
        "bps": br.read(5) + 1, "total": br.read(36),
        "md5": block[18:34],
    }
    if info["rate"] == 0:
        raise ValueError("STREAMINFO sample rate 0")
    return info


def decode_flac_pcm(payload: bytes,
                    verify_md5: bool = False) -> Tuple[int, np.ndarray]:
    """Decode a FLAC payload → ``(sample_rate, int64 samples (n, channels))``.

    Verifies the sync code, CRC-8 of every frame header, and CRC-16 of
    every frame; with ``verify_md5=True`` also checks the decoded PCM
    against STREAMINFO's MD5 signature (full losslessness proof). Raises
    ``ValueError`` on any malformed input.
    """
    rate, pcm, _ = _decode_full(payload, verify_md5)
    return rate, pcm


def _decode_full(payload: bytes,
                 verify_md5: bool) -> Tuple[int, np.ndarray, dict]:
    if not isinstance(payload, (bytes, bytearray)) \
            or payload[:4] != _MAGIC:
        raise ValueError("not a FLAC stream")
    pos = 4
    info = None
    while True:
        if pos + 4 > len(payload):
            raise ValueError("truncated metadata block header")
        hdr = payload[pos]
        last, btype = hdr & 0x80, hdr & 0x7F
        length = int.from_bytes(payload[pos + 1:pos + 4], "big")
        body = payload[pos + 4:pos + 4 + length]
        if len(body) != length:
            raise ValueError("truncated metadata block")
        if btype == 0:
            info = _parse_streaminfo(body)
        elif btype == 127:
            raise ValueError("invalid metadata block type 127")
        pos += 4 + length
        if last:
            break
    if info is None:
        raise ValueError("missing STREAMINFO")

    channels_out: List[np.ndarray] = []
    total = info["total"]
    got = 0
    while pos < len(payload) and (total == 0 or got < total):
        frame_start = pos
        br = _BitReader(payload, pos * 8)
        sync = br.read(14)
        if sync != 0x3FFE:
            raise ValueError("lost frame sync")
        if br.read(1):
            raise ValueError("frame reserved bit set")
        br.read(1)  # blocking strategy (number semantics only)
        bs_code = br.read(4)
        sr_code = br.read(4)
        ch_code = br.read(4)
        ss_code = br.read(3)
        if br.read(1):
            raise ValueError("frame header reserved bit set")
        _read_coded_number(br)
        if bs_code == 0:
            raise ValueError("reserved block size code 0")
        elif bs_code == 6:
            block_size = br.read(8) + 1
        elif bs_code == 7:
            block_size = br.read(16) + 1
        else:
            block_size = _BLOCKSIZE_CODES[bs_code]
        if sr_code == 0:
            rate = info["rate"]
        elif sr_code == 12:
            rate = br.read(8) * 1000
        elif sr_code == 13:
            rate = br.read(16)
        elif sr_code == 14:
            rate = br.read(16) * 10
        elif sr_code == 15:
            raise ValueError("invalid sample rate code")
        else:
            rate = _SAMPLE_RATE_CODES[sr_code]
        if ss_code == 0:
            bps = info["bps"]
        elif ss_code == 3:
            raise ValueError("reserved sample size code")
        else:
            bps = _SAMPLE_SIZE_CODES[ss_code]
        hdr_end = br.byte_pos()
        if _crc8(payload[frame_start:hdr_end]) != br.read(8):
            raise ValueError("frame header CRC-8 mismatch")

        if ch_code < 8:
            n_ch = ch_code + 1
            subs = [_read_subframe(br, block_size, bps)
                    for _ in range(n_ch)]
        elif ch_code in (8, 9, 10):
            n_ch = 2
            # the SIDE channel carries one extra bit
            if ch_code == 8:        # left/side
                left = _read_subframe(br, block_size, bps)
                side = _read_subframe(br, block_size, bps + 1)
                subs = [left, left - side]
            elif ch_code == 9:      # right/side (side stored first)
                side = _read_subframe(br, block_size, bps + 1)
                right = _read_subframe(br, block_size, bps)
                subs = [right + side, right]
            else:                   # mid/side
                mid = _read_subframe(br, block_size, bps)
                side = _read_subframe(br, block_size, bps + 1)
                m2 = (mid << 1) | (side & 1)
                subs = [(m2 + side) >> 1, (m2 - side) >> 1]
        else:
            raise ValueError(f"reserved channel assignment {ch_code}")
        br.align()
        crc_end = br.byte_pos()
        if _crc16(payload[frame_start:crc_end]) != br.read(16):
            raise ValueError("frame CRC-16 mismatch")
        pos = br.byte_pos()
        channels_out.append(np.stack(subs, axis=1))
        got += block_size

    if not channels_out:
        raise ValueError("FLAC stream contains no frames")
    pcm = np.concatenate(channels_out, axis=0)
    if total:
        pcm = pcm[:total]
    if verify_md5 and info["md5"] != b"\x00" * 16:
        width = (info["bps"] + 7) // 8
        inter = pcm.astype(f"<i{width}" if width != 3 else "<i4")
        if width == 3:
            b4 = inter.tobytes()
            raw = b"".join(b4[i:i + 3] for i in range(0, len(b4), 4))
        else:
            raw = inter.tobytes()
        if hashlib.md5(raw).digest() != info["md5"]:
            raise ValueError("PCM MD5 mismatch (lossy decode bug?)")
    return info["rate"], pcm, info


def decode_flac(payload: bytes) -> Tuple[int, np.ndarray]:
    """Decode FLAC → ``(sample_rate, mono float64 samples in [-1, 1])`` —
    the same contract as :func:`..wav.decode_wav`, so the audio feature
    kernel treats both containers identically (mean downmix, full-scale
    normalization by the stream's bit depth)."""
    rate, pcm, info = _decode_full(payload, verify_md5=False)
    data = pcm.astype(np.float64) / float(1 << (info["bps"] - 1))
    if data.ndim == 2 and data.shape[1] > 1:
        data = data.mean(axis=1)
    else:
        data = data.reshape(-1)
    return rate, data


# ---------------------------------------------------------------------------
# Encoder (test aid: valid streams, not rate-optimal)
# ---------------------------------------------------------------------------

class _BitWriter:
    def __init__(self):
        self.acc = 0
        self.nbits = 0
        self.out = bytearray()

    def write(self, value: int, n: int) -> None:
        if n == 0:
            return
        self.acc = (self.acc << n) | (value & ((1 << n) - 1))
        self.nbits += n
        while self.nbits >= 8:
            self.nbits -= 8
            self.out.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def write_signed(self, value: int, n: int) -> None:
        self.write(value & ((1 << n) - 1), n)

    def write_unary(self, q: int) -> None:
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)

    def align(self) -> None:
        if self.nbits:
            self.write(0, 8 - self.nbits)

    def bytes(self) -> bytes:
        assert self.nbits == 0
        return bytes(self.out)


def _write_coded_number(bw: _BitWriter, value: int) -> None:
    """UTF-8-style coding: n continuation bytes carry 6 bits each; the
    first byte's prefix is n+1 ones then a zero, its payload 6-n bits."""
    if value < 0x80:
        bw.write(value, 8)
        return
    for n_cont in range(1, 7):
        if value < (1 << (6 - n_cont + 6 * n_cont)):
            break
    else:
        raise ValueError("coded number too large")
    prefix = (0xFF << (7 - n_cont)) & 0xFF
    bw.write(prefix | (value >> (6 * n_cont)), 8)
    for i in range(n_cont - 1, -1, -1):
        bw.write(0x80 | ((value >> (6 * i)) & 0x3F), 8)


def _rice_parameter(res: np.ndarray) -> int:
    if not len(res):
        return 0
    mean = float(np.abs(res).mean())
    p = 0
    while (1 << p) < mean and p < 14:
        p += 1
    return p


def _write_residual(bw: _BitWriter, res: np.ndarray) -> None:
    bw.write(0, 2)          # 4-bit Rice method
    bw.write(0, 4)          # partition order 0
    p = _rice_parameter(res)
    bw.write(p, 4)
    for r in res:
        v = int(r)
        z = (abs(v) << 1) - (1 if v < 0 else 0)   # zigzag
        bw.write_unary(z >> p)
        if p:
            bw.write(z & ((1 << p) - 1), p)


def _write_subframe(bw: _BitWriter, samples: np.ndarray, bps: int,
                    strategy: str) -> None:
    s = samples.astype(np.int64)
    if strategy == "auto":
        if len(s) and (s == s[0]).all():
            strategy = "constant"
        elif len(s) > 2:
            strategy = "fixed"
        else:
            strategy = "verbatim"
    bw.write(0, 1)                      # pad
    if strategy == "constant":
        if len(s) == 0 or not (s == s[0]).all():
            raise ValueError("constant strategy needs constant samples")
        bw.write(0, 6)
        bw.write(0, 1)                  # no wasted bits
        bw.write_signed(int(s[0]), bps)
    elif strategy == "verbatim":
        bw.write(1, 6)
        bw.write(0, 1)
        for v in s:
            bw.write_signed(int(v), bps)
    elif strategy == "fixed":
        order = 2 if len(s) > 2 else 0
        bw.write(8 + order, 6)
        bw.write(0, 1)
        for v in s[:order]:
            bw.write_signed(int(v), bps)
        if order:
            res = s[order:] - 2 * s[order - 1:-1] + s[:len(s) - order]
        else:
            res = s
        _write_residual(bw, res)
    else:
        raise ValueError(f"unknown strategy {strategy!r}")


def encode_flac(samples: np.ndarray, rate: int = 16000, bps: int = 16,
                block_size: int = 4096, strategy: str = "auto",
                stereo_mode: str = "independent") -> bytes:
    """Encode integer PCM as a valid FLAC stream (test aid).

    ``samples``: int array, shape (n,) mono or (n, 2) stereo; values must
    fit ``bps`` bits. Float input in [-1, 1] is quantized like
    :func:`..wav.encode_wav`. Strategies: ``constant``/``verbatim``/
    ``fixed`` (order-2 + Rice, partition order 0) / ``auto``;
    ``stereo_mode='mid_side'`` exercises the decorrelated path.
    """
    s = np.asarray(samples)
    if s.dtype.kind == "f":
        # truncate toward zero, exactly like wav.encode_wav's astype — the
        # same float waveform quantizes bit-identically in both containers
        s = (np.clip(s, -1.0, 1.0)
             * ((1 << (bps - 1)) - 1)).astype(np.int64)
    else:
        s = s.astype(np.int64)
    if s.ndim == 1:
        s = s[:, None]
    n, n_ch = s.shape
    if n_ch not in (1, 2):
        raise ValueError("encode_flac supports mono or stereo")
    lim = 1 << (bps - 1)
    if (s >= lim).any() or (s < -lim).any():
        raise ValueError(f"samples exceed {bps}-bit range")

    width = (bps + 7) // 8
    if width == 3:
        b4 = s.astype("<i4").tobytes()
        raw = b"".join(b4[i:i + 3] for i in range(0, len(b4), 4))
    else:
        raw = s.astype(f"<i{width}").tobytes()
    md5 = hashlib.md5(raw).digest()

    head = _BitWriter()
    # STREAMINFO min/max block size exclude the (possibly short) last frame
    head.write(block_size, 16)
    head.write(block_size, 16)
    head.write(0, 24)
    head.write(0, 24)
    head.write(rate, 20)
    head.write(n_ch - 1, 3)
    head.write(bps - 1, 5)
    head.write(n, 36)
    streaminfo = head.bytes() + md5

    out = bytearray(_MAGIC)
    out.append(0x80)                     # last block, type 0
    out += len(streaminfo).to_bytes(3, "big")
    out += streaminfo

    frame_no = 0
    for start in range(0, max(n, 1), block_size):
        blk = s[start:start + block_size]
        if not len(blk):
            break
        bw = _BitWriter()
        bw.write(0x3FFE, 14)
        bw.write(0, 1)
        bw.write(0, 1)                   # fixed blocking
        bw.write(7, 4)                   # 16-bit block size follows
        bw.write(0, 4)                   # rate from STREAMINFO
        ms = n_ch == 2 and stereo_mode == "mid_side"
        bw.write(10 if ms else n_ch - 1, 4)
        bw.write({8: 1, 12: 2, 16: 4, 20: 5, 24: 6, 32: 7}[bps], 3)
        bw.write(0, 1)
        _write_coded_number(bw, frame_no)
        bw.write(len(blk) - 1, 16)
        hdr = bw.out[:]                  # bit-aligned here by construction
        assert bw.nbits == 0
        bw.write(_crc8(bytes(hdr)), 8)
        if ms:
            left, right = blk[:, 0], blk[:, 1]
            mid, side = (left + right) >> 1, left - right
            _write_subframe(bw, mid, bps, strategy)
            _write_subframe(bw, side, bps + 1, strategy)
        else:
            for c in range(n_ch):
                _write_subframe(bw, blk[:, c], bps, strategy)
        bw.align()
        frame = bw.bytes()
        out += frame
        out += _crc16(frame).to_bytes(2, "big")
        frame_no += 1
    return bytes(out)
