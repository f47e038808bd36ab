"""Pure-stdlib Netpbm codec (binary PGM ``P5`` / PPM ``P6``).

The simplest real raster container — uncompressed samples after an
ASCII header — and therefore the one image format whose decode is PURE
ARITHMETIC end-to-end (no entropy coding, no filters), which makes it
the ideal strict-decode exerciser for the multimodal payload seam:
the DuckDB oracle reproduces every pixel statistic in closed form.

Spec: header ``P5|P6``, then whitespace-separated width, height,
maxval (each optionally preceded by ``#`` comment lines), one single
whitespace byte, then ``width·height·channels`` raw bytes (maxval ≤
255; 16-bit maxval is rejected — out of scope, raise loudly rather
than decode wrongly). Reference: the Netpbm format specs (public,
netpbm.sourceforge.net).
"""

from __future__ import annotations

import numpy as np

_WS = b" \t\r\n"


def is_netpbm(data: bytes) -> bool:
    return len(data) >= 2 and data[:2] in (b"P5", b"P6")


def _tokens(data: bytes, start: int, count: int):
    """Read ``count`` whitespace-separated numeric tokens from ``start``,
    skipping ``#``-to-end-of-line comments; returns (values, next_pos)."""
    vals = []
    i = start
    n = len(data)
    while len(vals) < count:
        while i < n and data[i:i + 1] in (b" ", b"\t", b"\r", b"\n"):
            i += 1
        if i < n and data[i:i + 1] == b"#":
            while i < n and data[i:i + 1] != b"\n":
                i += 1
            continue
        j = i
        while j < n and data[j:j + 1] not in (b" ", b"\t", b"\r", b"\n"):
            j += 1
        if j == i:
            raise ValueError("netpbm: truncated header")
        vals.append(int(data[i:j]))
        i = j
    return vals, i


def decode_netpbm(data: bytes) -> np.ndarray:
    """``P5``/``P6`` bytes → (h, w, c) uint8 array (c = 1 gray, 3 RGB)."""
    if not is_netpbm(data):
        raise ValueError("not a binary netpbm payload (P5/P6)")
    channels = 1 if data[:2] == b"P5" else 3
    (w, h, maxval), pos = _tokens(data, 2, 3)
    if w <= 0 or h <= 0:
        raise ValueError(f"netpbm: bad dimensions {w}x{h}")
    if not 0 < maxval <= 255:
        raise ValueError(f"netpbm: unsupported maxval {maxval} "
                         "(only single-byte samples)")
    if pos >= len(data) or data[pos:pos + 1] not in (b" ", b"\t", b"\r",
                                                     b"\n"):
        raise ValueError("netpbm: missing header terminator")
    pos += 1  # exactly ONE whitespace byte separates header and raster
    need = w * h * channels
    raster = data[pos:pos + need]
    if len(raster) < need:
        raise ValueError(f"netpbm: raster truncated ({len(raster)} < {need})")
    # Strict-decode contract: the raster must consume the payload — except
    # for two benign writer shapes: trailing whitespace (many tools emit a
    # final newline) and a concatenated multi-image PNM stream (the next
    # frame's magic follows the raster; decode the first frame). A writer
    # that puts a '#' comment between maxval and the raster makes the
    # buffer longer than `need` with NON-whitespace, non-magic leftovers;
    # silently decoding comment bytes as pixels would be wrong, so raise.
    # (A legitimate first pixel of 0x23 is still fine — the raster length
    # is fixed by the header, so it never absorbs trailing bytes.)
    tail = data[pos + need:]
    if tail:
        stripped = tail.lstrip(b" \t\r\n\v\f")
        if stripped and stripped[:2] not in (b"P5", b"P6"):
            hint = (" (comment after maxval?)"
                    if data[pos:pos + 1] == b"#" else "")
            raise ValueError(
                f"netpbm: {len(tail)} unexpected byte(s) after raster{hint}")
    return (np.frombuffer(raster, dtype=np.uint8, count=need)
            .reshape(h, w, channels).copy())


def encode_pgm(img: np.ndarray) -> bytes:
    """(h, w) or (h, w, 1) uint8 → binary PGM (P5)."""
    a = np.asarray(img, dtype=np.uint8)
    if a.ndim == 3:
        if a.shape[2] != 1:
            raise ValueError("encode_pgm wants 1 channel")
        a = a[:, :, 0]
    h, w = a.shape
    return b"P5 %d %d 255\n" % (w, h) + a.tobytes()


def encode_ppm(img: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB → binary PPM (P6)."""
    a = np.asarray(img, dtype=np.uint8)
    if a.ndim != 3 or a.shape[2] != 3:
        raise ValueError("encode_ppm wants (h, w, 3)")
    h, w, _ = a.shape
    return b"P6 %d %d 255\n" % (w, h) + a.tobytes()
