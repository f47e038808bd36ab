"""Ogg container INVENTORY (public RFC 3533 page layout + the Vorbis I
/ OggOpus identification headers) — the third leg of the container
census beside :mod:`.mp3` and :mod:`.mp4`: a crawl's podcast/speech
audio ships overwhelmingly as Ogg Vorbis/Opus, and routing + duration
budgeting needs only the page structure:

- page walk: ``OggS`` capture, version 0, header-type flags
  (BOS/EOS/continued), 64-bit granule position, stream serial, page
  sequence, segment-table page sizing (CRC not verified — a metadata
  scan routes on structure; payload integrity is the decoder's job);
- codec from the BOS page's first packet: ``\\x01vorbis`` (channels,
  rate from the id header), ``OpusHead`` (channels, pre-skip, input
  rate; granule timescale is ALWAYS 48 kHz for Opus), ``\\x7fFLAC``;
- duration from the LAST page's granule position of the first audio
  stream: Vorbis granule = PCM samples at the stream rate; Opus
  granule = 48 kHz samples minus pre-skip;
- damage tolerance: a valid page prefix is inventoried, the tail is
  counted (``clean=false``), never raised.

Spark shape: one Arrow kernel, header-only walk, payload dropped.
"""

from __future__ import annotations

import struct
from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame


def _pages(data: bytes):
    """Yield ``(flags, granule, serial, body_start, body_len)`` per
    page; raises ValueError at the first malformed page."""
    pos = 0
    n = len(data)
    while pos < n:
        if data[pos:pos + 4] != b"OggS":
            raise ValueError("lost page sync")
        if pos + 27 > n:
            raise ValueError("truncated page header")
        if data[pos + 4] != 0:
            raise ValueError(f"unknown ogg version {data[pos + 4]}")
        flags = data[pos + 5]
        (granule,) = struct.unpack_from("<q", data, pos + 6)
        (serial,) = struct.unpack_from("<I", data, pos + 14)
        nseg = data[pos + 26]
        seg_end = pos + 27 + nseg
        if seg_end > n:
            raise ValueError("truncated segment table")
        body_len = sum(data[pos + 27:seg_end])
        if seg_end + body_len > n:
            raise ValueError("truncated page body")
        yield flags, granule, serial, seg_end, body_len
        pos = seg_end + body_len


def _codec_id(packet: bytes) -> Optional[dict]:
    """Codec fields from a BOS first packet (None = unknown codec)."""
    if packet[:7] == b"\x01vorbis" and len(packet) >= 16:
        (rate,) = struct.unpack_from("<I", packet, 12)
        return {"codec": "vorbis", "channels": packet[11],
                "sample_rate": rate, "pre_skip": 0,
                "granule_rate": rate}
    if packet[:8] == b"OpusHead" and len(packet) >= 16:
        (pre_skip,) = struct.unpack_from("<H", packet, 10)
        (rate,) = struct.unpack_from("<I", packet, 12)
        return {"codec": "opus", "channels": packet[9],
                "sample_rate": rate, "pre_skip": pre_skip,
                "granule_rate": 48000}
    if packet[:5] == b"\x7fFLAC":
        return {"codec": "flac", "channels": None,
                "sample_rate": None, "pre_skip": 0,
                "granule_rate": None}
    return None


def sniff_ogg_codec(data: bytes) -> Optional[str]:
    """Codec name from the FIRST (BOS) page's id packet only —
    constant work per file, for :mod:`.mediatype`'s census (the full
    inventory walks every page; a sniff must not)."""
    if data[:4] != b"OggS" or len(data) < 28 or data[4] != 0:
        return None
    nseg = data[26]
    body = 27 + nseg
    cid = _codec_id(data[body:body + 64])
    return cid["codec"] if cid else None


def parse_ogg_inventory(data: bytes) -> dict:
    """Page walk → inventory dict (first audio stream's codec fields;
    ``n_pages=0`` means not an Ogg)."""
    out = {"is_ogg": False, "codec": None, "sample_rate": None,
           "channels": None, "n_pages": 0, "n_streams": 0,
           "duration_ms": None, "clean": True}
    streams = {}                           # serial -> codec dict
    last_granule = {}
    try:
        for flags, granule, serial, body, blen in _pages(data):
            out["n_pages"] += 1
            if flags & 0x02:               # BOS
                cid = _codec_id(data[body:body + min(blen, 64)])
                if cid:
                    streams.setdefault(serial, cid)
            if granule >= 0:
                last_granule[serial] = granule
    except (ValueError, struct.error):
        out["clean"] = False               # junk or truncated tail
    out["is_ogg"] = out["n_pages"] > 0
    out["n_streams"] = len(streams)
    for serial, cid in streams.items():    # first recognized stream
        out["codec"] = cid["codec"]
        out["sample_rate"] = cid["sample_rate"]
        out["channels"] = cid["channels"]
        g = last_granule.get(serial)
        if g is not None and cid["granule_rate"]:
            samples = max(0, g - cid["pre_skip"])
            out["duration_ms"] = samples * 1000 // cid["granule_rate"]
        break
    return out


# ---------------------------------------------------------------- builder

def _page(flags: int, granule: int, serial: int, seq: int,
          packet: bytes) -> bytes:
    segs = []
    rest = len(packet)
    while rest >= 255:
        segs.append(255)
        rest -= 255
    segs.append(rest)                      # lacing: final short segment
    hdr = (b"OggS\x00" + bytes([flags])
           + struct.pack("<qII", granule, serial, seq)
           + b"\x00\x00\x00\x00" + bytes([len(segs)]) + bytes(segs))
    return hdr + packet


def build_ogg(codec: str, *, rate: int = 48000, channels: int = 1,
              pre_skip: int = 312, final_granule: int = 0,
              n_audio_pages: int = 1, serial: int = 42) -> bytes:
    """Deterministic fixture Ogg: BOS id page + audio pages + EOS page
    carrying ``final_granule`` (CRCs zero — the parser routes on
    structure)."""
    if codec == "vorbis":
        ident = (b"\x01vorbis" + b"\x00\x00\x00\x00"
                 + bytes([channels]) + struct.pack("<I", rate)
                 + b"\x00" * 12 + b"\x01")
    elif codec == "opus":
        ident = (b"OpusHead\x01" + bytes([channels])
                 + struct.pack("<HI", pre_skip, rate)
                 + b"\x00\x00\x00")
    else:
        ident = b"\x7fFLAC\x01\x00" + b"\x00" * 10
    out = _page(0x02, 0, serial, 0, ident)
    for k in range(n_audio_pages):
        out += _page(0, -1 if k == 0 and n_audio_pages > 1 else
                     final_granule // 2, serial, 1 + k, b"\x00" * 40)
    out += _page(0x04, final_granule, serial, 1 + n_audio_pages,
                 b"\x00" * 8)
    return out


_SCHEMA = ("media_id long, is_ogg boolean, codec string, "
           "sample_rate int, channels int, n_pages int, "
           "n_streams int, duration_ms long, clean boolean")


def ogg_inventory(df: DataFrame, payload_col: str = "payload",
                  id_col: str = "media_id") -> DataFrame:
    """Per-file Ogg inventory manifest (one Arrow kernel; junk payloads
    yield is_ogg=false rows, never errors)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, p in zip(pdf[id_col], pdf[payload_col]):
                try:
                    inv = parse_ogg_inventory(bytes(p or b""))
                except Exception:
                    inv = {"is_ogg": False, "codec": None,
                           "sample_rate": None, "channels": None,
                           "n_pages": 0, "n_streams": 0,
                           "duration_ms": None, "clean": False}
                rows.append({"media_id": int(mid), **inv})
            out = pd.DataFrame(rows, columns=[
                "media_id", "is_ogg", "codec", "sample_rate",
                "channels", "n_pages", "n_streams", "duration_ms",
                "clean"])
            for c in ("sample_rate", "channels", "n_pages",
                      "n_streams"):
                out[c] = out[c].astype("Int32")
            out["duration_ms"] = out["duration_ms"].astype("Int64")
            yield out

    return df.select(id_col, payload_col).mapInPandas(kernel, _SCHEMA)
