"""MP4 / ISO-BMFF box INVENTORY (public ISO/IEC 14496-12 layout) — the
pre-decode metadata pass over a crawl's videos: container brand,
movie duration, per-track handler + sample-entry codec fourcc, and
video dimensions, all from the box tree. Sample decode (H.264/HEVC)
remains the repo's documented library seam (`operators/multimodal.py`,
SCALE.md); routing, duration-budgeting, and codec census — what a
100-TB multimodal pipeline needs BEFORE deciding to decode — live
here, next to :mod:`.mp3`'s audio twin.

Box grammar: ``[size u32][type 4cc]`` with ``size==1`` → u64
largesize, ``size==0`` → to end-of-enclosure; containers (moov, trak,
mdia, minf, stbl) recurse. Read per file: ftyp major brand, mvhd
(version 0/1) timescale+duration, per trak the hdlr handler_type and
the first stsd sample-entry fourcc, tkhd 16.16 width/height for video
tracks. Malformed trees degrade to a partial inventory with
``clean=false`` — corpus scans count damage, never raise.

Spark shape: one Arrow kernel, constant work per row (the walk touches
headers only, never media data), payload dropped at the manifest.
"""

from __future__ import annotations

import struct
from typing import Iterator, List, Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame

_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl", b"edts",
               b"udta"}


def _boxes(data: bytes, start: int, end: int):
    """Yield ``(type, body_start, body_end)`` for each box in
    [start, end); stops (raises ValueError) on malformed sizes."""
    pos = start
    while pos + 8 <= end:
        (size,) = struct.unpack_from(">I", data, pos)
        btype = bytes(data[pos + 4:pos + 8])
        body = pos + 8
        if size == 1:
            if pos + 16 > end:
                raise ValueError("truncated largesize box")
            (size,) = struct.unpack_from(">Q", data, pos + 8)
            body = pos + 16
        elif size == 0:
            size = end - pos
        if size < body - pos or pos + size > end:
            raise ValueError(f"bad box size {size} for {btype!r}")
        yield btype, body, pos + size
        pos += size
    if pos != end:
        raise ValueError("trailing bytes after last box")


def _find(data: bytes, start: int, end: int,
          btype: bytes) -> Optional[Tuple[int, int]]:
    for t, b, e in _boxes(data, start, end):
        if t == btype:
            return b, e
    return None


def _mvhd(data: bytes, b: int) -> Tuple[int, int]:
    """(timescale, duration) from an mvhd body (version 0 or 1)."""
    version = data[b]
    if version == 1:
        ts, dur = struct.unpack_from(">IQ", data, b + 4 + 16)
    else:
        ts, dur = struct.unpack_from(">II", data, b + 4 + 8)
    return ts, dur


def _tkhd_dims(data: bytes, b: int, e: int) -> Tuple[Optional[float],
                                                     Optional[float]]:
    """(width, height) from a tkhd body — 16.16 fixed point, last 8
    bytes of the box. A malformed tkhd shorter than 8 bytes degrades
    to (None, None) rather than reading the preceding box's bytes."""
    if e - b < 8:
        return None, None
    w, h = struct.unpack_from(">II", data, e - 8)
    return w / 65536.0, h / 65536.0


def parse_mp4_inventory(data: bytes) -> dict:
    """Box walk → inventory dict. ``is_mp4`` False when no ftyp/moov
    structure parses at all."""
    out = {"is_mp4": False, "major_brand": None, "duration_ms": None,
           "n_tracks": 0, "video_codec": None, "audio_codec": None,
           "width": None, "height": None, "track_types": None,
           "clean": True}
    tracks: List[Tuple[str, str]] = []       # (handler, codec)
    try:
        top = list(_boxes(data, 0, len(data)))
    except (ValueError, struct.error):
        out["clean"] = False
        try:
            # salvage the valid prefix
            top = []
            for t in _boxes(data, 0, len(data)):
                top.append(t)
        except (ValueError, struct.error):
            pass
    moov = None
    for t, b, e in top:
        if t == b"ftyp" and out["major_brand"] is None:
            out["major_brand"] = data[b:b + 4].decode("latin1")
            out["is_mp4"] = True
        elif t == b"moov":
            moov = (b, e)
    if moov is None:
        return out
    out["is_mp4"] = True
    b, e = moov
    try:
        mv = _find(data, b, e, b"mvhd")
        if mv:
            ts, dur = _mvhd(data, mv[0])
            if ts:
                out["duration_ms"] = dur * 1000 // ts
        for t, tb, te in _boxes(data, b, e):
            if t != b"trak":
                continue
            handler = codec = None
            width = height = None
            tk = _find(data, tb, te, b"tkhd")
            md = _find(data, tb, te, b"mdia")
            if md:
                hd = _find(data, md[0], md[1], b"hdlr")
                if hd:
                    handler = data[hd[0] + 8:hd[0] + 12] \
                        .decode("latin1")
                mi = _find(data, md[0], md[1], b"minf")
                if mi:
                    st = _find(data, mi[0], mi[1], b"stbl")
                    if st:
                        sd = _find(data, st[0], st[1], b"stsd")
                        if sd and sd[0] + 16 <= sd[1]:
                            codec = data[sd[0] + 12:sd[0] + 16] \
                                .decode("latin1")
            if handler == "vide" and tk:
                width, height = _tkhd_dims(data, tk[0], tk[1])
                if out["video_codec"] is None:
                    out["video_codec"] = codec
                    out["width"] = width
                    out["height"] = height
            if handler == "soun" and out["audio_codec"] is None:
                out["audio_codec"] = codec
            tracks.append((handler or "?", codec or "?"))
    except (ValueError, struct.error):
        out["clean"] = False
    out["n_tracks"] = len(tracks)
    out["track_types"] = ",".join(h for h, _ in tracks) or None
    return out


# ---------------------------------------------------------------- builder

def _box(btype: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + btype + payload


def build_mp4(*, brand: str = "isom", timescale: int = 1000,
              duration: int = 0, tracks=(),
              mvhd_version: int = 0) -> bytes:
    """Deterministic fixture MP4: ftyp + moov(mvhd + trak*) (+ empty
    mdat). ``tracks`` = iterable of (handler4cc, codec4cc, w, h)."""
    if mvhd_version == 1:
        mvhd = _box(b"mvhd", b"\x01\x00\x00\x00" + b"\x00" * 16
                    + struct.pack(">IQ", timescale, duration)
                    + b"\x00" * 80)
    else:
        mvhd = _box(b"mvhd", b"\x00" * 4 + b"\x00" * 8
                    + struct.pack(">II", timescale, duration)
                    + b"\x00" * 80)
    traks = b""
    for handler, codec, w, h in tracks:
        tkhd = _box(b"tkhd", b"\x00" * 4 + b"\x00" * 72
                    + struct.pack(">II", int(w * 65536),
                                  int(h * 65536)))
        hdlr = _box(b"hdlr", b"\x00" * 8 + handler.encode("latin1")
                    + b"\x00" * 12)
        entry = _box(codec.encode("latin1"), b"\x00" * 70)
        stsd = _box(b"stsd", b"\x00" * 4 + struct.pack(">I", 1) + entry)
        stbl = _box(b"stbl", stsd)
        minf = _box(b"minf", stbl)
        mdia = _box(b"mdia", hdlr + minf)
        traks += _box(b"trak", tkhd + mdia)
    ftyp = _box(b"ftyp", brand.encode("latin1")
                + struct.pack(">I", 0) + b"isomiso2")
    return ftyp + _box(b"moov", mvhd + traks) + _box(b"mdat", b"")


_SCHEMA = ("media_id long, is_mp4 boolean, major_brand string, "
           "duration_ms long, n_tracks int, video_codec string, "
           "audio_codec string, width double, height double, "
           "track_types string, clean boolean")


def mp4_inventory(df: DataFrame, payload_col: str = "payload",
                  id_col: str = "media_id") -> DataFrame:
    """Per-file MP4 inventory manifest (one Arrow kernel; junk payloads
    yield is_mp4=false rows, never errors)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, p in zip(pdf[id_col], pdf[payload_col]):
                try:
                    inv = parse_mp4_inventory(bytes(p or b""))
                except Exception:
                    inv = {"is_mp4": False, "major_brand": None,
                           "duration_ms": None, "n_tracks": 0,
                           "video_codec": None, "audio_codec": None,
                           "width": None, "height": None,
                           "track_types": None, "clean": False}
                rows.append({"media_id": int(mid), **inv})
            out = pd.DataFrame(rows, columns=[
                "media_id", "is_mp4", "major_brand", "duration_ms",
                "n_tracks", "video_codec", "audio_codec", "width",
                "height", "track_types", "clean"])
            out["n_tracks"] = out["n_tracks"].astype("Int32")
            out["duration_ms"] = out["duration_ms"].astype("Int64")
            yield out

    return df.select(id_col, payload_col).mapInPandas(kernel, _SCHEMA)
