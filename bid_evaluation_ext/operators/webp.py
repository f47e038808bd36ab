"""WebP container INVENTORY (public RIFF/WebP container spec +
VP8/VP8L/VP8X bitstream headers) — the modern crawl's dominant image
format after JPEG/PNG; routing and dimension census need only the
chunk headers:

- RIFF outer: ``RIFF <size> WEBP``, then chunks ``<4cc> <size u32 LE>``
  (odd sizes pad one byte);
- ``VP8 `` (lossy): frame tag (3 bytes: keyframe bit, version,
  show_frame, partition length), start code ``9D 01 2A``, then 14-bit
  width/height (little-endian u16, upper 2 bits are scaling);
- ``VP8L`` (lossless): 1-byte signature ``0x2F``, then a 32-bit LE
  field with 14-bit width-1 / height-1 and the alpha flag;
- ``VP8X`` (extended): flag byte (ICC/alpha/EXIF/XMP/animation) and
  24-bit LE canvas width-1 / height-1; feature chunks (``ANIM``/
  ``ALPH``/``EXIF``/``XMP ``) follow.

VP8L (lossless) SAMPLE decode is in-repo since r12 — :mod:`.vp8l`
decodes real ARGB pixels through the image dispatch seam; VP8 lossy
(DCT + bool-coder) stays a library seam like MP3/H.264. Everything a
curation ROUTER needs (format tier, dimensions, alpha, animation,
metadata presence) remains header-level here.

Spark shape: one Arrow kernel, header bytes only.
"""

from __future__ import annotations

import struct
from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame


def is_webp(data: bytes) -> bool:
    return (len(data) >= 16 and data[:4] == b"RIFF"
            and data[8:12] == b"WEBP")


def sniff_webp_format(data: bytes) -> Optional[str]:
    """Format tier from the FIRST chunk fourcc only (a conformant
    WebP leads with its format chunk — VP8 /VP8L/VP8X) — constant work
    per file, for :mod:`.mediatype`'s census; the full inventory walks
    all chunks."""
    if not is_webp(data):
        return None
    fourcc = data[12:16]
    return {b"VP8 ": "lossy", b"VP8L": "lossless",
            b"VP8X": "extended"}.get(bytes(fourcc))


def parse_webp_inventory(data: bytes) -> dict:
    """Chunk walk → inventory dict (``is_webp`` False when the RIFF/
    WEBP frame is absent; damage → valid-prefix inventory with
    ``clean=false``)."""
    out = {"is_webp": False, "format": None, "width": None,
           "height": None, "has_alpha": False, "is_animated": False,
           "has_exif": False, "has_xmp": False, "n_chunks": 0,
           "clean": True}
    if not is_webp(data):
        return out
    out["is_webp"] = True
    (riff_size,) = struct.unpack_from("<I", data, 4)
    end = min(len(data), 8 + riff_size)
    pos = 12
    while pos + 8 <= end:
        fourcc = data[pos:pos + 4]
        (size,) = struct.unpack_from("<I", data, pos + 4)
        body = pos + 8
        if body + size > end:
            out["clean"] = False
            break
        out["n_chunks"] += 1
        if fourcc == b"VP8 " and size >= 10:
            if data[body + 3:body + 6] == b"\x9d\x01\x2a":
                (w,) = struct.unpack_from("<H", data, body + 6)
                (h,) = struct.unpack_from("<H", data, body + 8)
                if out["format"] is None:
                    out["format"] = "lossy"
                    out["width"] = w & 0x3FFF
                    out["height"] = h & 0x3FFF
        elif fourcc == b"VP8L" and size >= 5 \
                and data[body] == 0x2F:
            (bits,) = struct.unpack_from("<I", data, body + 1)
            if out["format"] is None:
                out["format"] = "lossless"
                out["width"] = (bits & 0x3FFF) + 1
                out["height"] = ((bits >> 14) & 0x3FFF) + 1
            out["has_alpha"] |= bool((bits >> 28) & 1)
        elif fourcc == b"VP8X" and size >= 10:
            flags = data[body]
            out["has_alpha"] |= bool(flags & 0x10)
            out["is_animated"] |= bool(flags & 0x02)
            out["has_exif"] |= bool(flags & 0x08)
            out["has_xmp"] |= bool(flags & 0x04)
            out["format"] = "extended"
            out["width"] = int.from_bytes(
                data[body + 4:body + 7], "little") + 1
            out["height"] = int.from_bytes(
                data[body + 7:body + 10], "little") + 1
        elif fourcc == b"ALPH":
            out["has_alpha"] = True
        pos = body + size + (size & 1)          # odd sizes pad
    if pos != end:
        out["clean"] = out["clean"] and pos >= end
    return out


def parse_webp_animation(data: bytes) -> dict:
    """ANIMATION inventory (VP8X flag + ANIM/ANMF walk — the extended
    format's frame timeline): ``{is_webp, is_animated, loop_count,
    n_frames, total_duration_ms, canvas_w, canvas_h, clean}``. ANMF
    headers carry 24-bit x/2, y/2, width-1, height-1, duration(ms)
    and the blend/dispose flag byte; frames past a truncation are
    counted as damage (clean=false), never raised."""
    out = {"is_webp": False, "is_animated": False, "loop_count": None,
           "n_frames": 0, "total_duration_ms": None,
           "canvas_w": None, "canvas_h": None, "clean": True}
    if not is_webp(data):
        return out
    out["is_webp"] = True
    (riff_size,) = struct.unpack_from("<I", data, 4)
    end = min(len(data), 8 + riff_size)
    pos = 12
    total = 0
    while pos + 8 <= end:
        fourcc = data[pos:pos + 4]
        (size,) = struct.unpack_from("<I", data, pos + 4)
        body = pos + 8
        if body + size > end:
            out["clean"] = False
            break
        if fourcc == b"VP8X" and size >= 10:
            out["is_animated"] = bool(data[body] & 0x02)
            out["canvas_w"] = int.from_bytes(
                data[body + 4:body + 7], "little") + 1
            out["canvas_h"] = int.from_bytes(
                data[body + 7:body + 10], "little") + 1
        elif fourcc == b"ANIM" and size >= 6:
            out["loop_count"] = struct.unpack_from(
                "<H", data, body + 4)[0]
        elif fourcc == b"ANMF" and size >= 16:
            out["n_frames"] += 1
            total += int.from_bytes(data[body + 12:body + 15],
                                    "little")
        pos = body + size + (size & 1)
    if out["is_animated"]:
        out["total_duration_ms"] = total
    return out


def _anmf(x: int, y: int, w: int, h: int, duration_ms: int,
          payload: bytes = b"") -> bytes:
    hdr = ((x // 2).to_bytes(3, "little")
           + (y // 2).to_bytes(3, "little")
           + (w - 1).to_bytes(3, "little")
           + (h - 1).to_bytes(3, "little")
           + duration_ms.to_bytes(3, "little") + b"\x00")
    return _chunk(b"ANMF", hdr + payload)


def build_webp_animation(frames, *, canvas_w: int = 64,
                         canvas_h: int = 64,
                         loop_count: int = 0) -> bytes:
    """Animated fixture WebP: VP8X(anim) + ANIM + one ANMF per
    ``(x, y, w, h, duration_ms)`` tuple."""
    body = (bytes([0x02]) + b"\x00\x00\x00"
            + (canvas_w - 1).to_bytes(3, "little")
            + (canvas_h - 1).to_bytes(3, "little"))
    chunks = _chunk(b"VP8X", body)
    chunks += _chunk(b"ANIM", b"\x00" * 4
                     + struct.pack("<H", loop_count))
    for x, y, w, h, dur in frames:
        chunks += _anmf(x, y, w, h, dur)
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WEBP" \
        + chunks


_ANIM_SCHEMA = ("media_id long, is_webp boolean, is_animated boolean, "
                "loop_count int, n_frames int, total_duration_ms "
                "long, canvas_w int, canvas_h int, clean boolean")


def webp_animation_inventory(df: DataFrame,
                             payload_col: str = "payload",
                             id_col: str = "media_id") -> DataFrame:
    """Per-file animation-timeline manifest (one Arrow kernel) — the
    census input a video-ish curation pass gates on (frame count,
    wall duration, loop policy) without decoding frame payloads."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, p in zip(pdf[id_col], pdf[payload_col]):
                try:
                    inv = parse_webp_animation(bytes(p or b""))
                except Exception:
                    inv = parse_webp_animation(b"")
                    inv["clean"] = False
                rows.append({"media_id": int(mid), **inv})
            out = pd.DataFrame(rows, columns=[
                "media_id", "is_webp", "is_animated", "loop_count",
                "n_frames", "total_duration_ms", "canvas_w",
                "canvas_h", "clean"])
            for c in ("loop_count", "n_frames", "canvas_w",
                      "canvas_h"):
                out[c] = pd.array([r[c] for r in rows],
                                  dtype="Int32")
            out["total_duration_ms"] = pd.array(
                [r["total_duration_ms"] for r in rows], dtype="Int64")
            yield out

    return df.select(id_col, payload_col).mapInPandas(
        kernel, _ANIM_SCHEMA)


# ---------------------------------------------------------------- builder

def _chunk(fourcc: bytes, payload: bytes) -> bytes:
    pad = b"\x00" if len(payload) & 1 else b""
    return fourcc + struct.pack("<I", len(payload)) + payload + pad


def build_webp(fmt: str, *, width: int = 32, height: int = 24,
               alpha: bool = False, animated: bool = False,
               exif: bool = False) -> bytes:
    """Deterministic fixture WebP (header-true, payload bytes zero —
    this module never reads samples). ``fmt`` ∈ lossy/lossless/
    extended."""
    chunks = b""
    if fmt == "lossy":
        body = (b"\x00\x00\x00" + b"\x9d\x01\x2a"
                + struct.pack("<HH", width, height) + b"\x00" * 6)
        chunks = _chunk(b"VP8 ", body)
    elif fmt == "lossless":
        bits = (width - 1) | ((height - 1) << 14) \
            | ((1 if alpha else 0) << 28)
        chunks = _chunk(b"VP8L", b"\x2f" + struct.pack("<I", bits)
                        + b"\x00" * 4)
    else:
        flags = (0x10 if alpha else 0) | (0x02 if animated else 0) \
            | (0x08 if exif else 0)
        body = (bytes([flags]) + b"\x00\x00\x00"
                + (width - 1).to_bytes(3, "little")
                + (height - 1).to_bytes(3, "little"))
        chunks = _chunk(b"VP8X", body)
        if animated:
            chunks += _chunk(b"ANIM", b"\x00" * 6)
        if exif:
            chunks += _chunk(b"EXIF", b"\x00" * 8)
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WEBP" \
        + chunks


_SCHEMA = ("media_id long, is_webp boolean, format string, "
           "width int, height int, has_alpha boolean, "
           "is_animated boolean, has_exif boolean, has_xmp boolean, "
           "n_chunks int, clean boolean")


def webp_inventory(df: DataFrame, payload_col: str = "payload",
                   id_col: str = "media_id") -> DataFrame:
    """Per-file WebP inventory manifest (one Arrow kernel)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, p in zip(pdf[id_col], pdf[payload_col]):
                try:
                    inv = parse_webp_inventory(bytes(p or b""))
                except Exception:
                    inv = parse_webp_inventory(b"")
                    inv["clean"] = False
                rows.append({"media_id": int(mid), **inv})
            out = pd.DataFrame(rows, columns=[
                "media_id", "is_webp", "format", "width", "height",
                "has_alpha", "is_animated", "has_exif", "has_xmp",
                "n_chunks", "clean"])
            for c in ("width", "height", "n_chunks"):
                out[c] = out[c].astype("Int32")
            yield out

    return df.select(id_col, payload_col).mapInPandas(kernel, _SCHEMA)
