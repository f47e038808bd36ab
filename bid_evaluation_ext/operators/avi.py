"""Pure-stdlib MJPEG-in-AVI lossy video codec for the multimodal seam.

First LOSSY video container in the seam (Y4M in :mod:`.y4m` is raw
planes): a minimal RIFF AVI reader/writer whose video stream is
Motion-JPEG — every ``00dc`` chunk in the ``movi`` list is one
standalone baseline JPEG, decoded by the pure-stdlib codec in
:mod:`.jpeg` (full marker/Huffman/IDCT path). That makes this the
entropy-coded counterpart of Y4M exactly as GIF is of Netpbm: a real
compressed bitstream end-to-end with no media library. Inter-coded
codecs (H.264/VP9) remain the documented library seam — MJPEG is the
one mainstream video codec whose full decode path fits in stdlib.

Layout (public AVI RIFF spec, ``AVIMAINHEADER``/``AVISTREAMHEADER``/
``BITMAPINFOHEADER``): ``RIFF('AVI ' LIST('hdrl' avih LIST('strl'
strh strf)) LIST('movi' 00dc...) idx1)``. The decoder walks chunks
tolerantly — frame rate from ``strh`` (dwRate/dwScale), dimensions
from ``avih``, frames from any ``00dc``/``00db`` chunk — and returns
the same ``(width, height, fps_num, fps_den, luma_frames)`` contract
as :func:`.y4m.decode_y4m`, so the frame-sampling kernel dispatches on
magic bytes alone. Corrupt payloads raise ``ValueError``.
"""

from __future__ import annotations

import struct

import numpy as np

from . import jpeg as _jpeg
from . import png as _png


def is_avi(payload: bytes) -> bool:
    return (len(payload) >= 12 and payload[:4] == b"RIFF"
            and payload[8:12] == b"AVI ")


def _walk(payload: bytes, pos: int, end: int):
    """Yield ``(fourcc, list_type_or_None, body_start, body_end)``."""
    while pos + 8 <= end:
        cid, size = struct.unpack_from("<4sI", payload, pos)
        body_start = pos + 8
        body_end = body_start + size
        if body_end > end:
            raise ValueError(f"truncated AVI chunk {cid!r}")
        if cid in (b"LIST", b"RIFF"):
            yield cid, payload[body_start:body_start + 4], body_start + 4, \
                body_end
        else:
            yield cid, None, body_start, body_end
        pos = body_end + (size & 1)


def decode_avi(payload: bytes):
    """MJPEG AVI → ``(width, height, fps_num, fps_den, luma_frames)``.

    ``luma_frames`` is a list of ``(h, w)`` uint8 luma planes (Rec. 601
    for color JPEGs, rounded), byte-compatible with the Y4M decode
    contract so every downstream frame feature is codec-agnostic.
    """
    if not is_avi(payload):
        raise ValueError("not a RIFF AVI payload")
    width = height = 0
    fps_num, fps_den = 30, 1
    jpegs: list[bytes] = []

    def scan(pos, end, depth=0):
        nonlocal width, height, fps_num, fps_den
        if depth > 8:
            raise ValueError("AVI list nesting too deep")
        for cid, ltype, s, e in _walk(payload, pos, end):
            if cid in (b"LIST", b"RIFF"):
                scan(s, e, depth + 1)
            elif cid == b"avih" and e - s >= 40:
                w, h = struct.unpack_from("<II", payload, s + 32)
                width, height = int(w), int(h)
            elif cid == b"strh" and e - s >= 32:
                fcc_type = payload[s:s + 4]
                scale, rate = struct.unpack_from("<II", payload, s + 20)
                if fcc_type == b"vids" and scale and rate:
                    fps_num, fps_den = int(rate), int(scale)
            elif cid[2:4] in (b"dc", b"db") and cid[:2].isdigit():
                jpegs.append(payload[s:e])

    scan(12, len(payload))
    if width <= 0 or height <= 0:
        raise ValueError("AVI header missing dimensions")
    if not jpegs:
        raise ValueError("AVI payload carries no video frames")
    frames = []
    for blob in jpegs:
        if not _jpeg.is_jpeg(blob):
            raise ValueError("non-JPEG frame in MJPEG stream")
        img = _jpeg.decode_jpeg(blob)
        if img.shape[0] != height or img.shape[1] != width:
            raise ValueError(
                f"frame is {img.shape[1]}x{img.shape[0]}, "
                f"header says {width}x{height}")
        frames.append(np.round(_png.luma(img)).astype(np.uint8))
    return width, height, fps_num, fps_den, frames


def _chunk(cid: bytes, body: bytes) -> bytes:
    return cid + struct.pack("<I", len(body)) + body \
        + (b"\x00" if len(body) & 1 else b"")


def _list(ltype: bytes, body: bytes) -> bytes:
    return _chunk(b"LIST", ltype + body)


def encode_avi_mjpeg(frames, fps_num: int = 30, fps_den: int = 1,
                     quality: int = 90, qtable: int | None = None) -> bytes:
    """Encode ``(h, w[, 3])`` uint8 frames as an MJPEG AVI (test aid).

    Each frame goes through :func:`.jpeg.encode_jpeg` (``qtable=1``
    keeps blockwise-constant fixtures bit-exact through the lossy
    path); an ``idx1`` index is emitted like real writers do.
    """
    if not frames:
        raise ValueError("need at least one frame")
    first = np.asarray(frames[0])
    h, w = first.shape[:2]
    blobs = [_jpeg.encode_jpeg(np.asarray(f, dtype=np.uint8),
                               quality=quality, qtable=qtable)
             for f in frames]
    usec = max(1, 1_000_000 * fps_den // fps_num)
    avih = struct.pack("<14I", usec, 0, 0, 0x10, len(blobs), 0, 1, 0,
                       w, h, 0, 0, 0, 0)
    strh = (b"vids" + b"MJPG"
            + struct.pack("<IHHIIIIIIiI4h", 0, 0, 0, 0, fps_den, fps_num,
                          0, len(blobs), 0, -1, 0, 0, 0,
                          int(w), int(h)))
    strf = struct.pack("<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG",
                       w * h * 3, 0, 0, 0, 0)
    hdrl = _list(b"hdrl", _chunk(b"avih", avih)
                 + _list(b"strl", _chunk(b"strh", strh)
                         + _chunk(b"strf", strf)))
    movi_entries = []
    idx_entries = []
    offset = 4  # idx1 offsets are relative to the 'movi' fourcc
    for blob in blobs:
        movi_entries.append(_chunk(b"00dc", blob))
        idx_entries.append(struct.pack("<4sIII", b"00dc", 0x10, offset,
                                       len(blob)))
        offset += 8 + len(blob) + (len(blob) & 1)
    movi = _list(b"movi", b"".join(movi_entries))
    idx1 = _chunk(b"idx1", b"".join(idx_entries))
    return _chunk(b"RIFF", b"AVI " + hdrl + movi + idx1)
