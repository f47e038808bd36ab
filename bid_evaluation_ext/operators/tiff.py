"""Baseline TIFF decode (TIFF 6.0) — the scanned-document leg of the
image family next to PNG/JPEG/GIF/Netpbm: document-scan corpora
(patents, books, archival OCR sets) ship as TIFF, so a 100-TB document
pipeline needs the container even when the pixels immediately feed the
same luma/hash/resize kernels as every other format.

Pure stdlib ``struct`` + numpy. Covered (the baseline profile that
dominates scan archives):

- both byte orders (``II`` little / ``MM`` big endian);
- 8-bit grayscale and 8-bit RGB, any ``RowsPerStrip`` stripping;
- ``Compression=1`` (none) and ``Compression=32773`` (PackBits, the
  run-length scheme of fax-era scanners);
- ``PhotometricInterpretation=0`` (WhiteIsZero — fax convention)
  inverted to the standard BlackIsZero on decode so downstream kernels
  see one convention;
- multi-page files: :func:`decode_tiff` reads the FIRST IFD (page);
  :func:`tiff_page_count` walks the IFD chain without touching pixels.

The IFD walker (:func:`read_ifd`) is shared with :mod:`.exif` — EXIF
metadata is literally a TIFF IFD tree embedded in a JPEG APP1 segment,
so one parser serves both containers.

Reference parity note: the reference engine has no image path; this is
beyond-reference training-data mandate work, same as
``operators/png.py:1`` / ``jpeg.py:1``.
"""

from __future__ import annotations

import struct
from typing import Dict, List, Tuple

import numpy as np

_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 7: 1, 9: 4, 10: 8}

#: tags used by the baseline decoder
T_WIDTH, T_HEIGHT = 256, 257
T_BITS, T_COMPRESSION, T_PHOTOMETRIC = 258, 259, 262
T_STRIP_OFFSETS, T_SPP, T_ROWS_PER_STRIP, T_STRIP_COUNTS = 273, 277, 278, 279
T_ORIENTATION = 274


def is_tiff(data: bytes) -> bool:
    return (len(data) >= 8
            and data[:4] in (b"II*\x00", b"MM\x00*"))


def read_ifd(data: bytes, offset: int,
             le: bool) -> Tuple[Dict[int, list], int]:
    """Parse one IFD at ``offset`` → ``(tag -> decoded value list,
    next_ifd_offset)``. Shared by TIFF pages and EXIF APP1 blocks.
    RATIONAL types decode to float; ASCII to a stripped str."""
    e = "<" if le else ">"
    if offset + 2 > len(data):
        raise ValueError("IFD offset out of range")
    (n,) = struct.unpack_from(e + "H", data, offset)
    entries: Dict[int, list] = {}
    pos = offset + 2
    if pos + 12 * n + 4 > len(data):
        raise ValueError("truncated IFD")
    for _ in range(n):
        tag, typ, cnt = struct.unpack_from(e + "HHI", data, pos)
        size = _TYPE_SIZES.get(typ)
        if size is None:                       # unknown type: skip entry
            pos += 12
            continue
        total = size * cnt
        if total <= 4:
            voff = pos + 8
        else:
            (voff,) = struct.unpack_from(e + "I", data, pos + 8)
            if voff + total > len(data):
                raise ValueError("IFD value out of range")
        raw = data[voff:voff + total]
        if typ == 2:                                       # ASCII
            entries[tag] = [raw.split(b"\x00")[0].decode("ascii",
                                                         "replace")]
        elif typ in (1, 7):                                # BYTE/UNDEF
            entries[tag] = list(raw)
        elif typ == 3:
            entries[tag] = list(struct.unpack(e + f"{cnt}H", raw))
        elif typ == 4:
            entries[tag] = list(struct.unpack(e + f"{cnt}I", raw))
        elif typ == 9:
            entries[tag] = list(struct.unpack(e + f"{cnt}i", raw))
        else:                                              # RATIONALs
            fmt = "I" if typ == 5 else "i"
            parts = struct.unpack(e + f"{2 * cnt}{fmt}", raw)
            entries[tag] = [parts[2 * i] / parts[2 * i + 1]
                            if parts[2 * i + 1] else float("nan")
                            for i in range(cnt)]
        pos += 12
    (nxt,) = struct.unpack_from(e + "I", data, pos)
    return entries, nxt


def packbits_decode(data: bytes, expected: int) -> bytes:
    """PackBits (TIFF 6.0 §9) → exactly ``expected`` bytes or raise."""
    out = bytearray()
    i = 0
    while i < len(data) and len(out) < expected:
        n = data[i]
        i += 1
        if n < 128:                            # literal run of n+1
            out += data[i:i + n + 1]
            i += n + 1
        elif n > 128:                          # repeat next byte 257-n
            if i >= len(data):
                raise ValueError("truncated PackBits repeat")
            out += bytes([data[i]]) * (257 - n)
            i += 1
        # n == 128: no-op per spec
    if len(out) != expected:
        raise ValueError(f"PackBits decoded {len(out)} != {expected}")
    return bytes(out)


def packbits_encode(data: bytes) -> bytes:
    """Greedy PackBits encoder (runs ≥3 become repeats)."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 3:
            out += bytes([257 - run, data[i]])
            i += run
            continue
        j = i + run
        while j < n and j - i < 128:
            r = 1
            while j + r < n and r < 3 and data[j + r] == data[j]:
                r += 1
            if r >= 3:
                break
            j += 1
        out += bytes([j - i - 1]) + data[i:j]
        i = j
    return bytes(out)


def _ifd_chain(data: bytes) -> Tuple[bool, List[int]]:
    if not is_tiff(data):
        raise ValueError("not a TIFF payload")
    le = data[:2] == b"II"
    e = "<" if le else ">"
    (off,) = struct.unpack_from(e + "I", data, 4)
    offsets = []
    seen = set()
    while off and off not in seen:
        seen.add(off)
        offsets.append(off)
        _, off = read_ifd(data, off, le)
        if len(offsets) > 10000:
            raise ValueError("IFD chain too long")
    return le, offsets


def tiff_page_count(data: bytes) -> int:
    return len(_ifd_chain(data)[1])


def tiff_ifd0(data: bytes) -> Dict[int, list]:
    """Decoded tag map of the FIRST IFD (page metadata without pixel
    work — orientation, dims, compression, ...)."""
    le, offsets = _ifd_chain(data)
    return read_ifd(data, offsets[0], le)[0]


def decode_tiff(data: bytes) -> np.ndarray:
    """First page → ``(h, w)`` gray or ``(h, w, 3)`` RGB uint8."""
    le, offsets = _ifd_chain(data)
    ifd, _ = read_ifd(data, offsets[0], le)
    try:
        w = ifd[T_WIDTH][0]
        h = ifd[T_HEIGHT][0]
        strip_offs = ifd[T_STRIP_OFFSETS]
        strip_cnts = ifd[T_STRIP_COUNTS]
    except KeyError as exc:
        raise ValueError(f"missing required TIFF tag {exc}")
    spp = ifd.get(T_SPP, [1])[0]
    bits = ifd.get(T_BITS, [8])
    comp = ifd.get(T_COMPRESSION, [1])[0]
    photo = ifd.get(T_PHOTOMETRIC, [1])[0]
    rows_per_strip = ifd.get(T_ROWS_PER_STRIP, [h])[0]
    if spp not in (1, 3) or any(b != 8 for b in bits):
        raise ValueError(f"unsupported TIFF layout spp={spp} bits={bits}")
    if comp not in (1, 32773):
        raise ValueError(f"unsupported TIFF compression {comp}")
    row_bytes = w * spp
    raw = bytearray()
    remaining = h
    for off, cnt in zip(strip_offs, strip_cnts):
        rows = min(rows_per_strip, remaining)
        chunk = data[off:off + cnt]
        if len(chunk) != cnt:
            raise ValueError("TIFF strip out of range")
        if comp == 32773:
            chunk = packbits_decode(chunk, rows * row_bytes)
        raw += chunk[:rows * row_bytes]
        remaining -= rows
    if len(raw) != h * row_bytes:
        raise ValueError("TIFF pixel data size mismatch")
    img = np.frombuffer(bytes(raw), dtype=np.uint8)
    img = img.reshape((h, w) if spp == 1 else (h, w, 3))
    if photo == 0:                             # WhiteIsZero → invert
        img = 255 - img
    return img


def encode_tiff(img: np.ndarray, *, packbits: bool = False,
                big_endian: bool = False,
                rows_per_strip: int = 0,
                orientation: int = 0) -> bytes:
    """Encode gray/RGB uint8 → single-page baseline TIFF (test aid +
    fixture source; byte-deterministic)."""
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim == 2:
        h, w, spp = img.shape[0], img.shape[1], 1
    elif img.ndim == 3 and img.shape[2] == 3:
        h, w, spp = img.shape[:3]
    else:
        raise ValueError("need (h,w) gray or (h,w,3) RGB uint8")
    e = "<" if not big_endian else ">"
    rows_per_strip = rows_per_strip or h
    row_bytes = w * spp
    strips = []
    for y0 in range(0, h, rows_per_strip):
        chunk = img[y0:y0 + rows_per_strip].tobytes()
        strips.append(packbits_encode(chunk) if packbits else chunk)

    n_strips = len(strips)
    tags = [
        (T_WIDTH, 4, 1, w), (T_HEIGHT, 4, 1, h),
        (T_BITS, 3, spp, None if spp == 3 else 8),
        (T_COMPRESSION, 3, 1, 32773 if packbits else 1),
        (T_PHOTOMETRIC, 3, 1, 1 if spp == 1 else 2),
        (T_STRIP_OFFSETS, 4, n_strips, None),
        (T_SPP, 3, 1, spp),
        (T_ROWS_PER_STRIP, 4, 1, rows_per_strip),
        (T_STRIP_COUNTS, 4, n_strips, None),
    ]
    if orientation:
        # ascending tag order per TIFF spec: 274 follows 273
        tags.insert(6, (T_ORIENTATION, 3, 1, orientation))
    ifd_off = 8
    ifd_size = 2 + 12 * len(tags) + 4
    extra_off = ifd_off + ifd_size
    extra = bytearray()

    def alloc(payload: bytes) -> int:
        nonlocal extra
        off = extra_off + len(extra)
        extra += payload
        if len(extra) & 1:
            extra += b"\x00"
        return off

    bits_payload = None
    if spp == 3:
        bits_payload = alloc(struct.pack(e + "3H", 8, 8, 8))
    counts = [len(s) for s in strips]
    if n_strips > 1:
        counts_off = alloc(struct.pack(e + f"{n_strips}I", *counts))
        offsets_pos = alloc(b"\x00" * 4 * n_strips)   # patched below
    pixel_offs = []
    pos0 = extra_off + len(extra)
    acc = pos0
    for s in strips:
        pixel_offs.append(acc)
        acc += len(s) + (len(s) & 1)

    out = bytearray()
    out += (b"II*\x00" if not big_endian else b"MM\x00*")
    out += struct.pack(e + "I", ifd_off)
    out += struct.pack(e + "H", len(tags))
    for tag, typ, cnt, val in tags:
        if tag == T_BITS and spp == 3:
            entry_val = bits_payload
        elif tag == T_STRIP_OFFSETS:
            entry_val = pixel_offs[0] if n_strips == 1 else offsets_pos
        elif tag == T_STRIP_COUNTS:
            entry_val = counts[0] if n_strips == 1 else counts_off
        else:
            entry_val = val
        if typ == 3 and cnt == 1:
            out += struct.pack(e + "HHIHH", tag, typ, cnt, entry_val, 0)
        else:
            out += struct.pack(e + "HHII", tag, typ, cnt, entry_val)
    out += struct.pack(e + "I", 0)             # no next IFD
    if n_strips > 1:
        struct.pack_into(e + f"{n_strips}I", extra,
                         offsets_pos - extra_off, *pixel_offs)
    out += extra
    for s in strips:
        out += s
        if len(s) & 1:
            out += b"\x00"
    return bytes(out)
