"""Minimal pure-stdlib baseline JPEG codec (ITU-T T.81) for the multimodal
image kernel.

The container ships no image library, so the compressed-codec decode seam
flagged in earlier rounds is implemented directly from the public spec:
marker/segment parsing, DQT/DHT/SOF0/SOS, Huffman entropy decode with byte
unstuffing and restart markers, dequantization, inverse zigzag, 8x8 IDCT
(orthonormal matrix form), interleaved MCU assembly with per-component
sampling factors up to 2 (4:4:4 / 4:2:2 / 4:2:0), chroma upsampling, and
JFIF YCbCr->RGB. Supported: baseline sequential DCT, 8-bit, 1 or 3
components — the overwhelmingly common case for ML training corpora;
progressive/arithmetic/12-bit raise ``ValueError`` naming the feature.

The encoder (test aid, same role as ``png.encode_png``) writes grayscale or
RGB baseline JPEG with the Annex K quantization tables (libjpeg quality
scaling) and the Annex K Huffman tables, optionally 4:2:0 subsampled.
``qtable=1`` (a flat all-ones table) makes blockwise-constant images
round-trip BIT-EXACTLY — a constant block's DCT is pure DC, and integer DC
with q=1 survives quantize/dequantize untouched — which is what lets the
DuckDB oracle reproduce decoded pixel means arithmetically.

This is deliberately NOT a general image library: swap in Pillow/libjpeg at
deployment by replacing :func:`decode_jpeg` only.
"""

from __future__ import annotations

import struct
from typing import Dict, List, Optional, Tuple

import numpy as np

# ---------------------------------------------------------------------------
# constants (ITU-T T.81 Annex K — public spec tables)

#: zigzag position k -> natural (row-major) coefficient index
ZIGZAG: List[int] = []
for _s in range(15):
    for _r, _c in ([(i, _s - i) for i in range(_s + 1)] if _s % 2
                   else [(_s - i, i) for i in range(_s + 1)]):
        if _r < 8 and _c < 8:
            ZIGZAG.append(_r * 8 + _c)

#: Annex K.1 luminance / K.2 chrominance base quantization tables (natural order)
QTABLE_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99], dtype=np.int64)
QTABLE_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99], dtype=np.int64)

# Annex K.3 typical Huffman tables: (BITS[1..16], HUFFVAL)
_DC_LUMA = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
            list(range(12)))
_DC_CHROMA = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
              list(range(12)))
_AC_LUMA = ([0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D], [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])
_AC_CHROMA = ([0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77], [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
    0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
    0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])

#: orthonormal 8x8 DCT-II matrix: FDCT = D @ block @ D.T, IDCT = D.T @ S @ D
_D = np.array([[(np.sqrt(0.125) if u == 0 else 0.5)
                * np.cos((2 * x + 1) * u * np.pi / 16)
                for x in range(8)] for u in range(8)])


#: decode-side sanity cap on frame pixels (~64 MP) — a corrupted SOF must
#: not turn into a multi-gigabyte plane allocation inside a corpus scan
_MAX_PIXELS = 64_000_000


def is_jpeg(data: bytes) -> bool:
    return len(data) >= 2 and data[:2] == b"\xff\xd8"


def quality_qtables(quality: int) -> Tuple[np.ndarray, np.ndarray]:
    """libjpeg-style quality (1..100) -> scaled (luma, chroma) tables."""
    q = min(max(int(quality), 1), 100)
    scale = 5000 // q if q < 50 else 200 - 2 * q
    out = []
    for base in (QTABLE_LUMA, QTABLE_CHROMA):
        out.append(np.clip((base * scale + 50) // 100, 1, 255).astype(np.int64))
    return out[0], out[1]


# ---------------------------------------------------------------------------
# Huffman machinery (spec Annex C code assignment)

def _build_codes(bits: List[int], vals: List[int]) -> Dict[int, Tuple[int, int]]:
    """(BITS, HUFFVAL) -> {symbol: (code, length)}."""
    codes: Dict[int, Tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _build_decoder(bits: List[int], vals: List[int]) -> Dict[Tuple[int, int], int]:
    """(BITS, HUFFVAL) -> {(length, code): symbol} for MSB-first decoding."""
    return {(length, code): sym
            for sym, (code, length) in _build_codes(bits, vals).items()}


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, code: int, length: int) -> None:
        self._acc = (self._acc << length) | (code & ((1 << length) - 1))
        self._n += length
        while self._n >= 8:
            self._n -= 8
            byte = (self._acc >> self._n) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:          # byte stuffing
                self.buf.append(0x00)

    def flush(self) -> None:
        if self._n:
            self.write((1 << (8 - self._n)) - 1, 8 - self._n)  # pad with 1s


class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00 unstuffing
    and RSTn awareness (markers terminate the current interval)."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self._acc = 0
        self._n = 0

    def _fill(self) -> None:
        d = self.data
        if self.pos >= len(d):
            raise ValueError("JPEG entropy data truncated")
        b = d[self.pos]
        if b == 0xFF:
            nxt = d[self.pos + 1] if self.pos + 1 < len(d) else None
            if nxt == 0x00:
                self.pos += 2
            else:
                raise ValueError("JPEG marker inside entropy segment")
        else:
            self.pos += 1
        self._acc = (self._acc << 8) | b
        self._n += 8

    def read_bit(self) -> int:
        if self._n == 0:
            self._fill()
        self._n -= 1
        return (self._acc >> self._n) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def decode_symbol(self, table: Dict[Tuple[int, int], int]) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid JPEG Huffman code")

    def align_and_expect_rst(self, n: int) -> None:
        """Byte-align and consume the expected RSTn marker."""
        self._n = 0
        d = self.data
        if self.pos + 1 >= len(d) or d[self.pos] != 0xFF:
            raise ValueError("expected JPEG restart marker")
        if d[self.pos + 1] != 0xD0 + (n & 7):
            raise ValueError("JPEG restart marker out of sequence")
        self.pos += 2


def _receive_extend(reader: _BitReader, s: int) -> int:
    if s == 0:
        return 0
    v = reader.read_bits(s)
    if v < (1 << (s - 1)):
        v -= (1 << s) - 1
    return v


def _magnitude(v: int) -> Tuple[int, int]:
    """value -> (category size, additional bits) per spec F.1.2.1."""
    s = int(abs(v)).bit_length()
    bits = v if v >= 0 else v + (1 << s) - 1
    return s, bits


# ---------------------------------------------------------------------------
# encoder

def encode_jpeg(img: np.ndarray, quality: int = 90,
                qtable: Optional[int] = None,
                subsample: bool = False,
                restart_interval: int = 0) -> bytes:
    """(h, w[, c]) uint8 array -> baseline JFIF JPEG bytes.

    ``c`` 1/absent = grayscale (one component); ``c`` = 3 = RGB encoded as
    YCbCr, 4:4:4 by default or 4:2:0 with ``subsample=True``. ``qtable``
    overrides quality with a flat table of that integer (``qtable=1`` makes
    blockwise-constant images round-trip exactly — see module docstring).
    ``restart_interval`` > 0 writes a DRI segment and an RSTn marker every
    that many MCUs (the error-resilience shape real encoders emit).
    """
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, c = img.shape
    if c not in (1, 3):
        raise ValueError(f"unsupported channel count {c} (1 or 3)")
    if qtable is not None:
        ql = qc = np.full(64, int(qtable), dtype=np.int64)
    else:
        ql, qc = quality_qtables(quality)

    if c == 1:
        planes = [img[:, :, 0].astype(np.float64) - 128.0]
        samps = [(1, 1)]
        qids = [0]
    else:
        rgb = img.astype(np.float64)
        y = rgb @ np.array([0.299, 0.587, 0.114])
        cb = rgb @ np.array([-0.168736, -0.331264, 0.5]) + 128.0
        cr = rgb @ np.array([0.5, -0.418688, -0.081312]) + 128.0
        if subsample:
            cb = _box2(cb)
            cr = _box2(cr)
            samps = [(2, 2), (1, 1), (1, 1)]
        else:
            samps = [(1, 1), (1, 1), (1, 1)]
        planes = [y - 128.0, cb - 128.0, cr - 128.0]
        qids = [0, 1, 1]

    hmax = max(s[0] for s in samps)
    vmax = max(s[1] for s in samps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))

    # pad every plane (edge-replicate) to its full MCU-grid size
    padded = []
    for p, (sh, sv) in zip(planes, samps):
        ph, pw = mcuy * 8 * sv, mcux * 8 * sh
        pp = np.empty((ph, pw))
        ch, cw = min(p.shape[0], ph), min(p.shape[1], pw)
        pp[:ch, :cw] = p[:ch, :cw]
        if cw < pw:
            pp[:ch, cw:] = pp[:ch, cw - 1:cw]
        if ch < ph:
            pp[ch:, :] = pp[ch - 1:ch, :]
        padded.append(pp)

    qnat = [ql, qc][:2 if c == 3 else 1]
    dc_codes = [_build_codes(*_DC_LUMA), _build_codes(*_DC_CHROMA)]
    ac_codes = [_build_codes(*_AC_LUMA), _build_codes(*_AC_CHROMA)]

    writer = _BitWriter()
    preds = [0] * len(planes)
    zz = np.array(ZIGZAG)
    mcu_count = 0
    rst = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and \
                    mcu_count % restart_interval == 0:
                writer.flush()
                writer.buf += bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) & 7
                preds = [0] * len(planes)
            mcu_count += 1
            for ci, (p, (sh, sv)) in enumerate(zip(padded, samps)):
                tid = 0 if ci == 0 else 1
                q = qnat[qids[ci]]
                for by in range(sv):
                    for bx in range(sh):
                        y0 = (my * sv + by) * 8
                        x0 = (mx * sh + bx) * 8
                        block = p[y0:y0 + 8, x0:x0 + 8]
                        coef = _D @ block @ _D.T
                        quant = np.round(coef.ravel() / q).astype(np.int64)
                        zzc = quant[zz]
                        # DC
                        diff = int(zzc[0]) - preds[ci]
                        preds[ci] = int(zzc[0])
                        s, bits = _magnitude(diff)
                        code, ln = dc_codes[tid][s]
                        writer.write(code, ln)
                        if s:
                            writer.write(bits, s)
                        # AC
                        run = 0
                        last = 63
                        while last > 0 and zzc[last] == 0:
                            last -= 1
                        for k in range(1, last + 1):
                            v = int(zzc[k])
                            if v == 0:
                                run += 1
                                continue
                            while run > 15:
                                code, ln = ac_codes[tid][0xF0]  # ZRL
                                writer.write(code, ln)
                                run -= 16
                            s, bits = _magnitude(v)
                            code, ln = ac_codes[tid][(run << 4) | s]
                            writer.write(code, ln)
                            writer.write(bits, s)
                            run = 0
                        if last < 63:
                            code, ln = ac_codes[tid][0x00]  # EOB
                            writer.write(code, ln)
    writer.flush()

    out = bytearray(b"\xff\xd8")                       # SOI
    out += (b"\xff\xe0" + struct.pack(">H", 16)       # APP0 / JFIF
            + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    for tid, q in enumerate(qnat):
        body = bytes([tid]) + bytes(int(q[i]) for i in ZIGZAG)
        out += b"\xff\xdb" + struct.pack(">H", 2 + len(body)) + body
    comps = b"".join(
        bytes([ci + 1, (sh << 4) | sv, qids[ci]])
        for ci, (sh, sv) in enumerate(samps))
    sof = struct.pack(">BHHB", 8, h, w, len(planes)) + comps
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    tables = [(0x00, _DC_LUMA), (0x10, _AC_LUMA)]
    if c == 3:
        tables += [(0x01, _DC_CHROMA), (0x11, _AC_CHROMA)]
    for tc, (bits, vals) in tables:
        body = bytes([tc]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    sos_comps = b"".join(bytes([ci + 1, 0x00 if ci == 0 else 0x11])
                         for ci in range(len(planes)))
    sos = bytes([len(planes)]) + sos_comps + b"\x00\x3f\x00"
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
    out += writer.buf
    out += b"\xff\xd9"                                 # EOI
    return bytes(out)


def _box2(p: np.ndarray) -> np.ndarray:
    """2x2 box-average downsample with edge replication for odd dims."""
    h, w = p.shape
    if h % 2:
        p = np.vstack([p, p[-1:]])
    if w % 2:
        p = np.hstack([p, p[:, -1:]])
    return (p[0::2, 0::2] + p[1::2, 0::2] + p[0::2, 1::2] + p[1::2, 1::2]) / 4.0


# ---------------------------------------------------------------------------
# decoder

def decode_jpeg(data: bytes) -> np.ndarray:
    """Baseline JPEG bytes -> (height, width, channels) uint8 (1 or 3).

    Any malformed/truncated/corrupt input raises ``ValueError`` (never a
    raw IndexError/KeyError/struct.error — a corrupt payload in a 100-TB
    scan must be a catchable decode failure, fuzz-tested in
    ``test_jpeg.py``)."""
    try:
        return _decode_jpeg(data)
    except ValueError:
        raise
    except (struct.error, IndexError, KeyError, StopIteration,
            OverflowError, ZeroDivisionError) as exc:
        raise ValueError(f"corrupt JPEG: {type(exc).__name__}: {exc}") from exc


def _decode_jpeg(data: bytes) -> np.ndarray:
    if not is_jpeg(data):
        raise ValueError("not a JPEG (bad SOI)")
    qtables: Dict[int, np.ndarray] = {}
    htables: Dict[Tuple[int, int], Dict[Tuple[int, int], int]] = {}
    frame = None
    restart_interval = 0
    pos = 2
    n = len(data)
    while pos + 4 <= n:
        if data[pos] != 0xFF:
            raise ValueError("JPEG marker sync lost")
        marker = data[pos + 1]
        if marker == 0xD9:                   # EOI
            break
        (seglen,) = struct.unpack(">H", data[pos + 2:pos + 4])
        body = data[pos + 4:pos + 2 + seglen]
        pos += 2 + seglen
        if marker == 0xDB:                   # DQT
            b = 0
            while b < len(body):
                prec, tid = body[b] >> 4, body[b] & 0x0F
                if prec:
                    raise ValueError("16-bit JPEG quant tables not supported")
                if b + 65 > len(body):
                    raise ValueError("JPEG DQT segment truncated")
                zz = np.frombuffer(body[b + 1:b + 65], dtype=np.uint8)
                nat = np.empty(64, dtype=np.int64)
                nat[np.array(ZIGZAG)] = zz
                qtables[tid] = nat
                b += 65
        elif marker == 0xC4:                 # DHT
            b = 0
            while b < len(body):
                tc, tid = body[b] >> 4, body[b] & 0x0F
                bits = list(body[b + 1:b + 17])
                cnt = sum(bits)
                if len(bits) < 16 or b + 17 + cnt > len(body):
                    raise ValueError("JPEG DHT segment truncated")
                vals = list(body[b + 17:b + 17 + cnt])
                htables[(tc, tid)] = _build_decoder(bits, vals)
                b += 17 + cnt
        elif marker == 0xC0:                 # SOF0 baseline
            prec, fh, fw, nc = struct.unpack(">BHHB", body[:6])
            if prec != 8:
                raise ValueError(f"unsupported JPEG precision {prec}")
            if fh == 0 or fw == 0 or fh * fw > _MAX_PIXELS:
                # corrupt dimensions must not become a multi-GB allocation
                # mid-scan — fail as a decode error like any other
                raise ValueError(f"implausible JPEG dimensions {fw}x{fh}")
            comps = []
            for i in range(nc):
                cid, hv, qid = body[6 + 3 * i:9 + 3 * i]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0x0F,
                              "q": qid})
            frame = {"h": fh, "w": fw, "comps": comps}
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"unsupported JPEG frame type 0xFF{marker:02X} "
                "(only baseline sequential SOF0)")
        elif marker == 0xDD:                 # DRI
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:                 # SOS — entropy data follows
            if frame is None:
                raise ValueError("JPEG SOS before SOF0")
            ns = body[0]
            scan = []
            for i in range(ns):
                cid, tids = body[1 + 2 * i], body[2 + 2 * i]
                comp = next(cmp for cmp in frame["comps"] if cmp["id"] == cid)
                scan.append((comp, tids >> 4, tids & 0x0F))
            return _decode_scan(data, pos, frame, scan, qtables, htables,
                                restart_interval)
        # APPn / COM / others: skipped
    raise ValueError("JPEG has no SOS scan")


def _decode_scan(data, pos, frame, scan, qtables, htables, restart_interval):
    fh, fw = frame["h"], frame["w"]
    comps = [s[0] for s in scan]
    hmax = max(cmp["h"] for cmp in comps)
    vmax = max(cmp["v"] for cmp in comps)
    if hmax > 2 or vmax > 2:
        raise ValueError("JPEG sampling factors > 2 not supported")
    mcux = -(-fw // (8 * hmax))
    mcuy = -(-fh // (8 * vmax))
    planes = [np.zeros((mcuy * 8 * cmp["v"], mcux * 8 * cmp["h"]))
              for cmp in comps]

    reader = _BitReader(data, pos)
    preds = [0] * len(comps)
    zznat = np.array(ZIGZAG)
    mcu_count = 0
    rst = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and \
                    mcu_count % restart_interval == 0:
                reader.align_and_expect_rst(rst)
                rst = (rst + 1) & 7
                preds = [0] * len(comps)
            for ci, (cmp, dc_id, ac_id) in enumerate(scan):
                q = qtables[cmp["q"]]
                dct = htables[(0, dc_id)]
                act = htables[(1, ac_id)]
                for by in range(cmp["v"]):
                    for bx in range(cmp["h"]):
                        zzc = np.zeros(64, dtype=np.int64)
                        s = reader.decode_symbol(dct)
                        preds[ci] += _receive_extend(reader, s)
                        zzc[0] = preds[ci]
                        k = 1
                        while k < 64:
                            rs = reader.decode_symbol(act)
                            run, size = rs >> 4, rs & 0x0F
                            if size == 0:
                                if run == 15:     # ZRL
                                    k += 16
                                    continue
                                break             # EOB
                            k += run
                            if k > 63:
                                raise ValueError("JPEG AC run overflow")
                            zzc[k] = _receive_extend(reader, size)
                            k += 1
                        nat = np.zeros(64, dtype=np.float64)
                        nat[zznat] = zzc * q[zznat]
                        block = _D.T @ nat.reshape(8, 8) @ _D
                        y0 = (my * cmp["v"] + by) * 8
                        x0 = (mx * cmp["h"] + bx) * 8
                        planes[ci][y0:y0 + 8, x0:x0 + 8] = block
            mcu_count += 1

    # crop + upsample each plane to full frame size
    full = []
    for cmp, p in zip(comps, planes):
        if cmp["h"] != hmax or cmp["v"] != vmax:
            p = np.repeat(np.repeat(p, vmax // cmp["v"], axis=0),
                          hmax // cmp["h"], axis=1)
        full.append(p[:fh, :fw] + 128.0)

    if len(full) == 1:
        out = full[0][:, :, None]
    elif len(full) == 3:
        y, cb, cr = full
        r = y + 1.402 * (cr - 128.0)
        g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
        b = y + 1.772 * (cb - 128.0)
        out = np.stack([r, g, b], axis=2)
    else:
        raise ValueError(f"unsupported JPEG component count {len(full)}")
    return np.clip(np.round(out), 0, 255).astype(np.uint8)
