"""VP8L (lossless WebP) PIXEL codec — pure stdlib+numpy, from the
public *WebP Lossless Bitstream Specification* (the format is an
open RFC-style document; the prefix-code machinery is RFC 1951
canonical Huffman). This closes the r11 WebP seam's tractable half:
the r11 inventory (:mod:`.webp`) reads container headers only; this
module decodes actual ARGB pixels, so WebP-lossless files light up
the whole image kit (dHash/pHash/quality/resize/funnel) through the
same dispatch seams. VP8 *lossy* (DCT + bool-coder + loop filter)
stays the documented library seam.

Decoder coverage (the full spatial format):

- LSB-first bitstream, 14-bit dimensions header;
- prefix codes: "simple" (1-2 symbol) and full code-length-coded
  canonical codes incl. the 19-symbol code-length alphabet in its
  spec order, 16/17/18 repeat codes, the optional max_symbol cap,
  and degenerate single-symbol codes;
- per-group 5-code bundles (green+length+cache / red / blue / alpha
  / distance), optional META prefix image (huffman_bits sub-image),
  optional color cache (1-11 bit, the 0x1e35a7bd multiplicative
  hash);
- LZ77 backward references: length/distance prefix coding with
  extra bits, the 120-entry 2-D distance-plane map, overlapping
  copies;
- all four transforms, inverted in reverse bitstream order:
  PREDICTOR (14 modes incl. Select and ClampAddSubtract variants,
  block-coded sub-image), COLOR (signed ColorTransformDelta
  multipliers), SUBTRACT_GREEN, COLOR_INDEXING (delta-coded palette
  + sub-byte pixel bundling for palettes <= 16).

The encoder exists to make fixtures real (the repo rule: every
oracle payload comes from the repo's own encoder) and covers simple
+ full canonical code serialization, optional subtract-green /
uniform predictor / uniform color-transform / palette (with
bundling) transforms, optional color cache, and distance-1 RLE
backrefs. decode(encode(img)) round-trips bit-exactly for any RGBA
uint8 image by property test.

Spark shape: decoding plugs into the image dispatch seam
(:func:`.mediafunnel._decode_image`, :func:`.multimodal`) as
constant work per row inside the one Arrow kernel; nothing here
shuffles.
"""

from __future__ import annotations

import struct
from heapq import heapify, heappop, heappush

import numpy as np

# --------------------------------------------------------------- bits

_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13,
          14, 15)

#: spec's 120 distance-plane offsets (dx, dy): code c in 1..120 maps
#: to distance dy*xsize+dx (clamped >= 1); codes > 120 map to c-120
_DIST_MAP = (
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5), (8, 4), (6, 7),
    (-6, 7), (7, 6), (-7, 6), (8, 5), (7, 7), (-7, 7), (8, 6), (8, 7),
)


class _BitReader:
    """LSB-first bit reader (the VP8L stream convention)."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0          # bit position

    def read(self, n: int) -> int:
        v = 0
        for i in range(n):
            byte = self.pos >> 3
            if byte >= len(self.data):
                raise ValueError("VP8L: bitstream truncated")
            v |= ((self.data[byte] >> (self.pos & 7)) & 1) << i
            self.pos += 1
        return v


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.bit = 0

    def write(self, value: int, n: int) -> None:
        for i in range(n):
            if self.bit == 0:
                self.out.append(0)
            if (value >> i) & 1:
                self.out[-1] |= 1 << self.bit
            self.bit = (self.bit + 1) & 7

    def bytes(self) -> bytes:
        return bytes(self.out)


# ------------------------------------------------------ prefix codes

def _canonical_codes(lengths):
    """RFC 1951 canonical code assignment: symbol -> (code, length);
    codes are read/written MSB-of-code first."""
    pairs = sorted((ln, sym) for sym, ln in enumerate(lengths) if ln)
    codes, code, prev_len = {}, 0, 0
    for ln, sym in pairs:
        code <<= (ln - prev_len)
        codes[sym] = (code, ln)
        code += 1
        prev_len = ln
    return codes


class _PrefixDecoder:
    """Decode one symbol by MSB-first tree walk over the canonical
    codes. A single-symbol code consumes its declared length (0 for
    simple codes) and always yields that symbol — the spec's
    degenerate case."""

    def __init__(self, lengths):
        nz = [(s, ln) for s, ln in enumerate(lengths) if ln]
        if not nz:
            raise ValueError("VP8L: empty prefix code")
        if len(nz) == 1:
            self.single = nz[0]
            self.table = None
            return
        self.single = None
        self.table = {(ln, code): sym for sym, (code, ln)
                      in _canonical_codes(lengths).items()}
        # completeness check: Kraft sum must be exactly 1
        if sum(2 ** -ln for _, ln in nz) != 1.0:
            raise ValueError("VP8L: prefix code not complete")

    def read(self, br: _BitReader) -> int:
        if self.single is not None:
            sym, ln = self.single
            if ln:
                br.read(ln)
            return sym
        code, ln = 0, 0
        while True:
            code = (code << 1) | br.read(1)
            ln += 1
            hit = self.table.get((ln, code))
            if hit is not None:
                return hit
            if ln > 15:
                raise ValueError("VP8L: invalid prefix code bits")


def _read_code_lengths(br, alphabet_size):
    """The code-length-coded (normal) prefix-code representation."""
    num = 4 + br.read(4)
    cl_lengths = [0] * 19
    for i in range(num):
        cl_lengths[_ORDER[i]] = br.read(3)
    cl = _PrefixDecoder(cl_lengths)
    if br.read(1):                       # explicit max_symbol
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    symbol, prev = 0, 8
    while symbol < alphabet_size and max_symbol > 0:
        max_symbol -= 1
        s = cl.read(br)
        if s < 16:
            lengths[symbol] = s
            symbol += 1
            if s:
                prev = s
        else:
            if s == 16:
                repeat, fill = 3 + br.read(2), prev
            elif s == 17:
                repeat, fill = 3 + br.read(3), 0
            else:
                repeat, fill = 11 + br.read(7), 0
            if symbol + repeat > alphabet_size:
                raise ValueError("VP8L: code-length repeat overflow")
            for _ in range(repeat):
                lengths[symbol] = fill
                symbol += 1
    return lengths


def _read_prefix_code(br, alphabet_size):
    if br.read(1):                       # simple code
        num_symbols = br.read(1) + 1
        first_8bit = br.read(1)
        lengths = [0] * alphabet_size
        s0 = br.read(8 if first_8bit else 1)
        if num_symbols == 2:
            s1 = br.read(8)
            lengths[s0] = lengths[s1] = 1
        else:
            lengths[s0] = 1               # decoder treats as 0-bit
            dec = _PrefixDecoder(lengths)
            dec.single = (s0, 0)
            return dec
        return _PrefixDecoder(lengths)
    return _PrefixDecoder(_read_code_lengths(br, alphabet_size))


def _prefix_value(br, sym):
    """LZ77 length/distance prefix decoding (24/40-code alphabets)."""
    if sym < 4:
        return sym + 1
    extra = (sym - 2) >> 1
    offset = (2 + (sym & 1)) << extra
    return offset + br.read(extra) + 1


def _prefix_encode(value):
    """value -> (prefix_sym, extra_bits_value, extra_bits_count)."""
    if value <= 4:
        return value - 1, 0, 0
    v = value - 1
    highest = v.bit_length() - 1
    second = (v >> (highest - 1)) & 1
    sym = 2 * highest + second
    extra = highest - 1
    rest = v - ((2 + second) << extra)
    return sym, rest, extra


# ---------------------------------------------------------- decoding

def _div_round_up(a, b):
    return (a + b - 1) // b


def _decode_image(br, w, h, level0):
    """One entropy-coded ARGB image -> uint32 flat array (row-major).
    ``level0`` enables the META prefix-code sub-image."""
    cache_bits = br.read(4) if br.read(1) else 0
    if cache_bits and not 1 <= cache_bits <= 11:
        raise ValueError("VP8L: bad color-cache size")
    cache = [0] * (1 << cache_bits) if cache_bits else None

    meta, meta_bits = None, 0
    n_groups = 1
    if level0 and br.read(1):
        meta_bits = br.read(3) + 2
        mw, mh = (_div_round_up(w, 1 << meta_bits),
                  _div_round_up(h, 1 << meta_bits))
        meta_img = _decode_image(br, mw, mh, False)
        meta = [((p >> 8) & 0xFFFF) for p in meta_img]
        n_groups = max(meta) + 1

    green_size = 256 + 24 + (1 << cache_bits if cache_bits else 0)
    groups = []
    for _ in range(n_groups):
        groups.append((_read_prefix_code(br, green_size),
                       _read_prefix_code(br, 256),
                       _read_prefix_code(br, 256),
                       _read_prefix_code(br, 256),
                       _read_prefix_code(br, 40)))

    out = [0] * (w * h)
    pos = 0
    mw = _div_round_up(w, 1 << meta_bits) if meta is not None else 0
    while pos < w * h:
        x, y = pos % w, pos // w
        if meta is not None:
            g = meta[(y >> meta_bits) * mw + (x >> meta_bits)]
        else:
            g = 0
        green_c, red_c, blue_c, alpha_c, dist_c = groups[g]
        s = green_c.read(br)
        if s < 256:
            red = red_c.read(br)
            blue = blue_c.read(br)
            alpha = alpha_c.read(br)
            px = (alpha << 24) | (red << 16) | (s << 8) | blue
            out[pos] = px
            pos += 1
            if cache is not None:
                cache[((0x1E35A7BD * px) & 0xFFFFFFFF)
                      >> (32 - cache_bits)] = px
        elif s < 280:
            length = _prefix_value(br, s - 256)
            plane = _prefix_value(br, dist_c.read(br))
            if plane > 120:
                dist = plane - 120
            else:
                dx, dy = _DIST_MAP[plane - 1]
                dist = max(1, dy * w + dx)
            if dist > pos:
                raise ValueError("VP8L: backref before image start")
            for _ in range(min(length, w * h - pos)):
                px = out[pos - dist]
                out[pos] = px
                pos += 1
                if cache is not None:
                    cache[((0x1E35A7BD * px) & 0xFFFFFFFF)
                          >> (32 - cache_bits)] = px
        else:
            if cache is None:
                raise ValueError("VP8L: cache symbol without cache")
            out[pos] = cache[s - 280]
            pos += 1
    return out


# predictor helpers ---------------------------------------------------

def _avg2(a, b):
    return tuple((x + y) >> 1 for x, y in zip(a, b))


def _clamp_add_sub_full(a, b, c):
    return tuple(min(255, max(0, x + y - z)) for x, y, z in
                 zip(a, b, c))


def _clamp_add_sub_half(a, b):
    # a = Average2(L, T); spec: Clamp(a + (a - b) / 2) per channel,
    # with C truncation-toward-zero division
    out = []
    for x, y in zip(a, b):
        d = x - y
        half = d // 2 if d >= 0 else -((-d) // 2)
        out.append(min(255, max(0, x + half)))
    return tuple(out)


def _select(t, l, tl):
    # gradient estimate p = L + T - TL; |p - L| reduces to |T - TL|
    # (and symmetrically); spec tie-breaks to T (strict <)
    p_l = sum(abs(x - y) for x, y in zip(t, tl))   # cost of picking L
    p_t = sum(abs(x - y) for x, y in zip(l, tl))
    return l if p_l < p_t else t


def _channels(px):
    return ((px >> 24) & 0xFF, (px >> 16) & 0xFF, (px >> 8) & 0xFF,
            px & 0xFF)


def _pack(ch):
    return (ch[0] << 24) | (ch[1] << 16) | (ch[2] << 8) | ch[3]


def _predict(mode, x, y, w, out, pos):
    """Predicted ARGB channels for pixel ``pos`` from reconstructed
    neighbors (spec border rules: (0,0) -> opaque black, top row ->
    left, first column -> top)."""
    if x == 0 and y == 0:
        return (0xFF, 0, 0, 0)
    if y == 0:
        return _channels(out[pos - 1])
    if x == 0:
        return _channels(out[pos - w])
    L = _channels(out[pos - 1])
    T = _channels(out[pos - w])
    TL = _channels(out[pos - w - 1])
    # TR: contiguous-memory rule — at the right edge, pos-w+1 is the
    # CURRENT row's first pixel (already reconstructed in scan order),
    # exactly the reference behavior
    TR = _channels(out[pos - w + 1])
    if mode == 0:
        return (0xFF, 0, 0, 0)
    if mode == 1:
        return L
    if mode == 2:
        return T
    if mode == 3:
        return TR
    if mode == 4:
        return TL
    if mode == 5:
        return _avg2(_avg2(L, TR), T)
    if mode == 6:
        return _avg2(L, TL)
    if mode == 7:
        return _avg2(L, T)
    if mode == 8:
        return _avg2(TL, T)
    if mode == 9:
        return _avg2(T, TR)
    if mode == 10:
        return _avg2(_avg2(L, TL), _avg2(T, TR))
    if mode == 11:
        return _select(T, L, TL)
    if mode == 12:
        return _clamp_add_sub_full(L, T, TL)
    if mode == 13:
        return _clamp_add_sub_half(_avg2(L, T), TL)
    raise ValueError(f"VP8L: bad predictor mode {mode}")


def _delta(t, c):
    """ColorTransformDelta: signed-byte product >> 5."""
    t = t - 256 if t >= 128 else t
    c = c - 256 if c >= 128 else c
    return (t * c) >> 5


def decode_vp8l(chunk: bytes):
    """VP8L chunk payload -> RGBA uint8 ndarray ``(h, w, 4)``."""
    if not chunk or chunk[0] != 0x2F:
        raise ValueError("VP8L: bad signature")
    br = _BitReader(chunk[1:])
    w = br.read(14) + 1
    h = br.read(14) + 1
    br.read(1)                            # alpha hint
    if br.read(3) != 0:
        raise ValueError("VP8L: unsupported version")

    transforms = []                       # applied inverse in reverse
    xsize = w
    seen = set()
    while br.read(1):
        t = br.read(2)
        if t in seen:
            raise ValueError("VP8L: transform repeated")
        seen.add(t)
        if t == 0 or t == 1:              # predictor / color
            size_bits = br.read(3) + 2
            bw = _div_round_up(xsize, 1 << size_bits)
            bh = _div_round_up(h, 1 << size_bits)
            sub = _decode_image(br, bw, bh, False)
            transforms.append((t, size_bits, sub))
        elif t == 2:
            transforms.append((2,))
        else:                             # color indexing
            n_colors = br.read(8) + 1
            pal = _decode_image(br, n_colors, 1, False)
            for i in range(1, n_colors):  # delta-coded, per channel
                a0, r0, g0, b0 = _channels(pal[i - 1])
                a1, r1, g1, b1 = _channels(pal[i])
                pal[i] = _pack((((a0 + a1) & 0xFF), ((r0 + r1) & 0xFF),
                                ((g0 + g1) & 0xFF), ((b0 + b1) & 0xFF)))
            if n_colors <= 2:
                width_bits = 3
            elif n_colors <= 4:
                width_bits = 2
            elif n_colors <= 16:
                width_bits = 1
            else:
                width_bits = 0
            transforms.append((3, width_bits, pal, xsize))
            xsize = _div_round_up(xsize, 1 << width_bits)

    out = _decode_image(br, xsize, h, True)

    for tr in reversed(transforms):
        if tr[0] == 3:                    # unpack palette indices
            _, width_bits, pal, full_w = tr
            bpp = 8 >> width_bits
            mask = (1 << bpp) - 1
            per = 1 << width_bits
            new = [0] * (full_w * h)
            cur_w = _div_round_up(full_w, per)
            for y in range(h):
                for x in range(full_w):
                    packed = out[y * cur_w + (x >> width_bits)]
                    idx = ((packed >> 8) >> ((x % per) * bpp)) & mask
                    new[y * full_w + x] = (pal[idx]
                                           if idx < len(pal) else 0)
            out = new
            xsize = full_w
        elif tr[0] == 2:                  # add green
            for i, px in enumerate(out):
                a, r, g, b = _channels(px)
                out[i] = _pack((a, (r + g) & 0xFF, g, (b + g) & 0xFF))
        elif tr[0] == 0:                  # predictor
            _, size_bits, sub = tr
            bw = _div_round_up(xsize, 1 << size_bits)
            for pos in range(xsize * h):
                x, y = pos % xsize, pos // xsize
                mode = (sub[(y >> size_bits) * bw + (x >> size_bits)]
                        >> 8) & 0xFF
                pred = _predict(mode, x, y, xsize, out, pos)
                res = _channels(out[pos])
                out[pos] = _pack(tuple((p + r) & 0xFF
                                       for p, r in zip(pred, res)))
        else:                             # color transform
            _, size_bits, sub = tr
            bw = _div_round_up(xsize, 1 << size_bits)
            for pos in range(xsize * h):
                x, y = pos % xsize, pos // xsize
                el = sub[(y >> size_bits) * bw + (x >> size_bits)]
                g2r = el & 0xFF
                g2b = (el >> 8) & 0xFF
                r2b = (el >> 16) & 0xFF
                a, r, g, b = _channels(out[pos])
                r = (r + _delta(g2r, g)) & 0xFF
                b = (b + _delta(g2b, g) + _delta(r2b, r)) & 0xFF
                out[pos] = _pack((a, r, g, b))

    arr = np.array(out, dtype=np.uint32).reshape(h, w)
    rgba = np.empty((h, w, 4), dtype=np.uint8)
    rgba[..., 0] = (arr >> 16) & 0xFF
    rgba[..., 1] = (arr >> 8) & 0xFF
    rgba[..., 2] = arr & 0xFF
    rgba[..., 3] = (arr >> 24) & 0xFF
    return rgba


def decode_webp_lossless(payload: bytes):
    """Full WebP container -> RGBA pixels (first VP8L chunk; raises
    on lossy-only or chunkless files — callers treat that as the
    documented VP8-lossy seam)."""
    if not (len(payload) >= 16 and payload[:4] == b"RIFF"
            and payload[8:12] == b"WEBP"):
        raise ValueError("not a WebP payload")
    (riff_size,) = struct.unpack_from("<I", payload, 4)
    end = min(len(payload), 8 + riff_size)
    pos = 12
    while pos + 8 <= end:
        fourcc = payload[pos:pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        body = pos + 8
        if body + size > end:
            break
        if fourcc == b"VP8L":
            return decode_vp8l(payload[body:body + size])
        pos = body + size + (size & 1)
    raise ValueError("WebP: no VP8L chunk (lossy VP8 is the "
                     "documented library seam)")


# ---------------------------------------------------------- encoding

def _huffman_lengths(hist, max_len=15):
    """Depth-limited Huffman code lengths from a histogram dict."""
    syms = [s for s, c in hist.items() if c > 0]
    if len(syms) <= 1:
        return {s: 1 for s in syms}
    counts = dict(hist)
    while True:
        heap = [(counts[s], s, (s,)) for s in syms]
        heapify(heap)
        depth = {s: 0 for s in syms}
        while len(heap) > 1:
            c1, t1, s1 = heappop(heap)
            c2, t2, s2 = heappop(heap)
            for s in s1 + s2:
                depth[s] += 1
            heappush(heap, (c1 + c2, min(t1, t2), s1 + s2))
        if max(depth.values()) <= max_len:
            return depth
        counts = {s: (c // 2) + 1 for s, c in counts.items()}


def _write_code_lengths(bw, lengths, alphabet_size):
    """Serialize a full code-length-coded prefix code (zeros via
    17/18 repeats, lengths as literals)."""
    # run-length the zero gaps
    cl_syms = []                          # (cl_symbol, extra, nbits)
    i = 0
    while i < alphabet_size:
        if lengths[i] == 0:
            j = i
            while j < alphabet_size and lengths[j] == 0:
                j += 1
            run = j - i
            # trailing zeros are NOT implicit without the max_symbol
            # mechanism — the decoder reads until the full alphabet is
            # assigned, so zero runs must cover it
            while run >= 11:
                n = min(run, 138)
                cl_syms.append((18, n - 11, 7))
                run -= n
            while run >= 3:
                n = min(run, 10)
                cl_syms.append((17, n - 3, 3))
                run -= n
            for _ in range(run):
                cl_syms.append((0, 0, 0))
            i = j
        else:
            cl_syms.append((lengths[i], 0, 0))
            i += 1
    hist = {}
    for s, _, _ in cl_syms:
        hist[s] = hist.get(s, 0) + 1
    cl_lengths_map = _huffman_lengths(hist, max_len=7)
    cl_lengths = [cl_lengths_map.get(s, 0) for s in range(19)]
    # how many of the ordered slots must be written
    used = [i for i, s in enumerate(_ORDER) if cl_lengths[s]]
    num = max(4, (max(used) + 1) if used else 4)
    bw.write(num - 4, 4)
    for i in range(num):
        bw.write(cl_lengths[_ORDER[i]], 3)
    bw.write(0, 1)                        # no explicit max_symbol
    codes = _canonical_codes(cl_lengths)
    for s, extra, nbits in cl_syms:
        code, ln = codes[s]
        for b in range(ln - 1, -1, -1):   # MSB first
            bw.write((code >> b) & 1, 1)
        if nbits:
            bw.write(extra, nbits)


def _write_prefix_code(bw, hist, alphabet_size):
    """Choose simple vs normal representation; return symbol->(code,
    len) for emission."""
    used = sorted(s for s, c in hist.items() if c > 0)
    if not used:
        used = [0]
    if len(used) <= 2 and used[-1] <= 255:
        bw.write(1, 1)                    # simple
        bw.write(len(used) - 1, 1)
        first_8bit = 1 if used[0] > 1 else 0
        bw.write(first_8bit, 1)
        bw.write(used[0], 8 if first_8bit else 1)
        if len(used) == 2:
            bw.write(used[1], 8)
            codes = {used[0]: (0, 1), used[1]: (1, 1)}
        else:
            codes = {used[0]: (0, 0)}
        return codes
    bw.write(0, 1)                        # normal
    depth = _huffman_lengths({s: hist.get(s, 0) for s in used})
    lengths = [0] * alphabet_size
    for s, d in depth.items():
        lengths[s] = d
    _write_code_lengths(bw, lengths, alphabet_size)
    return _canonical_codes(lengths)


def _emit(bw, codes, sym):
    code, ln = codes[sym]
    for b in range(ln - 1, -1, -1):
        bw.write((code >> b) & 1, 1)


def _tokenize(argb, w, h, *, use_lz77, cache_bits):
    """Pixel stream -> token list. Tokens: ('lit', px), ('copy', len,
    dist), ('cache', idx)."""
    cache = [None] * (1 << cache_bits) if cache_bits else None
    toks = []
    n = len(argb)
    pos = 0
    while pos < n:
        if use_lz77 and pos > 0:
            run = 0
            while (pos + run < n and run < 4093
                   and argb[pos + run] == argb[pos - 1]):
                run += 1
            if run >= 3:
                toks.append(("copy", run, 1))
                if cache is not None:
                    px = argb[pos - 1]
                    cache[((0x1E35A7BD * px) & 0xFFFFFFFF)
                          >> (32 - cache_bits)] = px
                pos += run
                continue
        px = argb[pos]
        if cache is not None:
            idx = ((0x1E35A7BD * px) & 0xFFFFFFFF) >> (32 - cache_bits)
            if cache[idx] == px:
                toks.append(("cache", idx))
                pos += 1
                continue
            cache[idx] = px
        toks.append(("lit", px))
        pos += 1
    return toks


def _write_image(bw, argb, w, h, *, use_lz77=False, cache_bits=0,
                 level0=False):
    """Serialize one entropy-coded image (single group; a level-0
    image carries the meta-prefix bit, written 0)."""
    bw.write(1 if cache_bits else 0, 1)
    if cache_bits:
        bw.write(cache_bits, 4)
    if level0:
        bw.write(0, 1)                    # no meta prefix image
    toks = _tokenize(argb, w, h, use_lz77=use_lz77,
                     cache_bits=cache_bits)
    hists = [dict() for _ in range(5)]

    def bump(i, s):
        hists[i][s] = hists[i].get(s, 0) + 1

    for t in toks:
        if t[0] == "lit":
            a, r, g, b = _channels(t[1])
            bump(0, g)
            bump(1, r)
            bump(2, b)
            bump(3, a)
        elif t[0] == "copy":
            sym, _, _ = _prefix_encode(t[1])
            bump(0, 256 + sym)
            # distance 1 -> plane code 2 ((1,0) is _DIST_MAP[1])
            dsym, _, _ = _prefix_encode(2 if t[2] == 1 else t[2] + 120)
            bump(4, dsym)
        else:
            bump(0, 280 + t[1])
    green_size = 256 + 24 + (1 << cache_bits if cache_bits else 0)
    codes = [
        _write_prefix_code(bw, hists[0], green_size),
        _write_prefix_code(bw, hists[1], 256),
        _write_prefix_code(bw, hists[2], 256),
        _write_prefix_code(bw, hists[3], 256),
        _write_prefix_code(bw, hists[4], 40),
    ]
    for t in toks:
        if t[0] == "lit":
            a, r, g, b = _channels(t[1])
            _emit(bw, codes[0], g)
            _emit(bw, codes[1], r)
            _emit(bw, codes[2], b)
            _emit(bw, codes[3], a)
        elif t[0] == "copy":
            sym, extra, nbits = _prefix_encode(t[1])
            _emit(bw, codes[0], 256 + sym)
            if nbits:
                bw.write(extra, nbits)
            plane = 2 if t[2] == 1 else t[2] + 120
            dsym, dextra, dnbits = _prefix_encode(plane)
            _emit(bw, codes[4], dsym)
            if dnbits:
                bw.write(dextra, dnbits)
        else:
            _emit(bw, codes[0], 280 + t[1])


def _sub_image_write(bw, pixels, w, h):
    """Serialize a transform sub-image (no cache, no LZ77)."""
    _write_image(bw, pixels, w, h)


def encode_vp8l(img: np.ndarray, *, use_lz77: bool = True,
                cache_bits: int = 0, subtract_green: bool = False,
                predictor: int = None, color_transform=None,
                palette: bool = False) -> bytes:
    """RGBA/RGB/gray uint8 image -> VP8L chunk payload.

    Transform options exist so every decoder path has a real encoder
    behind it: ``subtract_green``, a uniform ``predictor`` mode
    (0-13, size_bits 2 -> 4x4 blocks), a uniform ``color_transform``
    element ``(g2r, g2b, r2b)`` (signed ints, |v| < 128), and
    ``palette`` (delta-coded, sub-byte bundling for <= 16 colors).
    Combinations follow bitstream order: color-indexing is exclusive
    of the pixel-space transforms here."""
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim == 2:
        img = img[:, :, None]
    if img.shape[2] == 1:
        img = np.repeat(img, 3, axis=2)
    if img.shape[2] == 3:
        img = np.dstack([img, np.full(img.shape[:2], 255, np.uint8)])
    h, w = img.shape[:2]
    if not (1 <= w <= 16384 and 1 <= h <= 16384):
        raise ValueError("VP8L: dimensions out of range")
    argb = [(int(px[3]) << 24) | (int(px[0]) << 16)
            | (int(px[1]) << 8) | int(px[2])
            for row in img for px in row]

    bw = _BitWriter()
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(1 if bool((img[..., 3] != 255).any()) else 0, 1)
    bw.write(0, 3)                        # version

    if palette:
        if subtract_green or predictor is not None or color_transform:
            raise ValueError("palette is exclusive of pixel-space "
                             "transforms in this encoder")
        colors = []
        index = {}
        for px in argb:
            if px not in index:
                index[px] = len(colors)
                colors.append(px)
        if len(colors) > 256:
            raise ValueError("palette: more than 256 colors")
        bw.write(1, 1)
        bw.write(3, 2)
        bw.write(len(colors) - 1, 8)
        deltas = [colors[0]]
        for i in range(1, len(colors)):
            c0, c1 = _channels(colors[i - 1]), _channels(colors[i])
            deltas.append(_pack(tuple((a - b) & 0xFF
                                      for a, b in zip(c1, c0))))
        _sub_image_write(bw, deltas, len(colors), 1)
        if len(colors) <= 2:
            width_bits = 3
        elif len(colors) <= 4:
            width_bits = 2
        elif len(colors) <= 16:
            width_bits = 1
        else:
            width_bits = 0
        per = 1 << width_bits
        bpp = 8 >> width_bits
        cw = _div_round_up(w, per)
        packed = [0] * (cw * h)
        for y in range(h):
            for x in range(w):
                idx = index[argb[y * w + x]]
                packed[y * cw + (x >> width_bits)] |= \
                    idx << (8 + (x % per) * bpp)
        packed = [(0xFF << 24) | p for p in packed]
        bw.write(0, 1)                    # no more transforms
        _write_image(bw, packed, cw, h, use_lz77=use_lz77,
                     cache_bits=cache_bits, level0=True)
        return b"\x2f" + bw.bytes()

    if color_transform is not None:
        g2r, g2b, r2b = (v & 0xFF for v in color_transform)
        bw.write(1, 1)
        bw.write(1, 2)
        size_bits = 2
        bw.write(size_bits - 2, 3)
        res = list(argb)
        for pos, px in enumerate(argb):
            a, r, g, b = _channels(px)
            nr = (r - _delta(g2r, g)) & 0xFF
            nb = (b - _delta(g2b, g) - _delta(r2b, r)) & 0xFF
            res[pos] = _pack((a, nr, g, nb))
        argb = res
        bwid = _div_round_up(w, 1 << size_bits)
        bhei = _div_round_up(h, 1 << size_bits)
        el = (0xFF << 24) | (r2b << 16) | (g2b << 8) | g2r
        _sub_image_write(bw, [el] * (bwid * bhei), bwid, bhei)

    if subtract_green:
        bw.write(1, 1)
        bw.write(2, 2)
        argb = [_pack((a, (r - g) & 0xFF, g, (b - g) & 0xFF))
                for a, r, g, b in map(_channels, argb)]

    if predictor is not None:
        if not 0 <= predictor <= 13:
            raise ValueError("predictor mode must be 0-13")
        bw.write(1, 1)
        bw.write(0, 2)
        size_bits = 2
        bw.write(size_bits - 2, 3)
        res = [0] * (w * h)
        for pos in range(w * h):
            x, y = pos % w, pos // w
            pred = _predict(predictor, x, y, w, argb, pos)
            cur = _channels(argb[pos])
            res[pos] = _pack(tuple((c - p) & 0xFF
                                   for c, p in zip(cur, pred)))
        bwid = _div_round_up(w, 1 << size_bits)
        bhei = _div_round_up(h, 1 << size_bits)
        mode_px = (0xFF << 24) | (predictor << 8)
        _sub_image_write(bw, [mode_px] * (bwid * bhei), bwid, bhei)
        argb = res

    bw.write(0, 1)                        # transform list terminator
    _write_image(bw, argb, w, h, use_lz77=use_lz77,
                 cache_bits=cache_bits, level0=True)
    return b"\x2f" + bw.bytes()


def encode_webp_lossless(img: np.ndarray, **kw) -> bytes:
    """RGBA/RGB/gray image -> complete lossless WebP file."""
    chunk = encode_vp8l(img, **kw)
    pad = b"\x00" if len(chunk) & 1 else b""
    body = (b"VP8L" + struct.pack("<I", len(chunk)) + chunk + pad)
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WEBP" + body
