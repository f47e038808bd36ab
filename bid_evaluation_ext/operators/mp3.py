"""MPEG audio (MP3) frame-header INVENTORY — the metadata pass a
100-TB crawl runs over its MP3s: route, count, and duration-budget the
files without paying (or licensing) a sample decode. Layer III sample
RECONSTRUCTION (Huffman + IMDCT) remains the repo's documented library
seam (`operators/multimodal.py`, SCALE.md); everything a curation
pipeline needs BEFORE decode lives here, from the public ISO/IEC
11172-3 / 13818-3 header layout:

- ID3v2 skip (syncsafe size) and ID3v1 detection;
- frame walk: 11-bit sync, version (MPEG1/2/2.5), layer (I/II/III),
  bitrate/sample-rate tables, padding → frame byte length;
- duration = Σ samples-per-frame / rate (1152 for L-II/III MPEG1,
  576 for L-III MPEG2/2.5, 384 for L-I);
- CBR/VBR detection from the distinct bitrate indices, plus the
  Xing/Info VBR tag (frame count) in the first frame's side-info
  region when present;
- desync tolerance: a valid prefix is inventoried and the junk tail
  is COUNTED (``clean`` False), never raised — at corpus scale
  truncated files are data, not errors.

Spark shape: one Arrow kernel, constant work per row (header walk is
~4 bytes touched per frame), payload dropped at the manifest.
"""

from __future__ import annotations

import struct
from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame

#: bitrate tables in kbit/s, index 1..14 (0 = free format, 15 = bad)
_BITRATES = {
    # (version_group, layer): table — version_group: 1=MPEG1, 2=MPEG2/2.5
    (1, 1): [0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352,
             384, 416, 448],
    (1, 2): [0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256,
             320, 384],
    (1, 3): [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224,
             256, 320],
    (2, 1): [0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192,
             224, 256],
    (2, 2): [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144,
             160],
    (2, 3): [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144,
             160],
}
_RATES = {3: (44100, 48000, 32000),      # version bits 11 = MPEG1
          2: (22050, 24000, 16000),      # 10 = MPEG2
          0: (11025, 12000, 8000)}       # 00 = MPEG2.5
_VERSION_NAME = {3: "MPEG1", 2: "MPEG2", 0: "MPEG2.5"}


def _frame_info(hdr: int) -> Optional[dict]:
    """Decode a 32-bit header → dict, or None when not a valid frame."""
    if hdr >> 21 != 0x7FF:
        return None
    version = (hdr >> 19) & 3
    layer_bits = (hdr >> 17) & 3
    if version == 1 or layer_bits == 0:
        return None                       # reserved
    layer = 4 - layer_bits                # 11→I(1) 10→II(2) 01→III(3)
    br_idx = (hdr >> 12) & 0xF
    sr_idx = (hdr >> 10) & 3
    if br_idx in (0, 15) or sr_idx == 3:
        return None                       # free-format unsupported / bad
    pad = (hdr >> 9) & 1
    mode = (hdr >> 6) & 3
    crc = ((hdr >> 16) & 1) == 0          # protection bit 0 = CRC-16
    vgroup = 1 if version == 3 else 2
    bitrate = _BITRATES[(vgroup, layer)][br_idx] * 1000
    rate = _RATES[version][sr_idx]
    if layer == 1:
        samples = 384
        size = (12 * bitrate // rate + pad) * 4
    elif layer == 2:
        samples = 1152
        size = 144 * bitrate // rate + pad
    else:
        samples = 1152 if vgroup == 1 else 576
        size = (144 if vgroup == 1 else 72) * bitrate // rate + pad
    return {"version": version, "layer": layer, "bitrate": bitrate,
            "rate": rate, "samples": samples, "size": size,
            "mode": mode, "crc": crc}


def _skip_id3v2(data: bytes) -> int:
    """Byte offset after a leading ID3v2 tag (0 when none)."""
    if data[:3] != b"ID3" or len(data) < 10:
        return 0
    # syncsafe 28-bit size, excludes the 10-byte header
    sz = ((data[6] & 0x7F) << 21) | ((data[7] & 0x7F) << 14) \
        | ((data[8] & 0x7F) << 7) | (data[9] & 0x7F)
    return 10 + sz


def _xing_frames(data: bytes, pos: int, info: dict) -> Optional[int]:
    """Frame count from a Xing/Info tag in the frame at ``pos`` (None
    when absent). The tag sits after the side-info block, whose size
    depends on version and channel mode (public layout); a
    CRC-protected frame (protection bit 0) carries a 2-byte CRC-16
    between header and side info, shifting the tag by 2."""
    if info["layer"] != 3:
        return None
    mono = info["mode"] == 3
    if info["version"] == 3:              # MPEG1
        side = 17 if mono else 32
    else:
        side = 9 if mono else 17
    off = pos + 4 + (2 if info["crc"] else 0) + side
    if off + 12 > len(data):              # truncation degrades to None
        return None
    if data[off:off + 4] not in (b"Xing", b"Info"):
        return None
    (flags,) = struct.unpack_from(">I", data, off + 4)
    if not flags & 1:                     # frames field absent
        return None
    (frames,) = struct.unpack_from(">I", data, off + 8)
    return frames


def parse_mp3_inventory(data: bytes) -> dict:
    """Walk every frame → inventory dict (see module docstring).
    ``n_frames=0`` means no valid frame was found (not an MP3)."""
    out = {"n_frames": 0, "version": None, "layer": None,
           "sample_rate": None, "duration_ms": 0, "is_cbr": None,
           "bitrate_kbps_min": None, "bitrate_kbps_max": None,
           "xing_frames": None, "has_id3v2": False, "has_id3v1": False,
           "clean": True}
    pos = _skip_id3v2(data)
    out["has_id3v2"] = pos > 0
    end = len(data)
    if end >= 128 and data[end - 128:end - 125] == b"TAG":
        out["has_id3v1"] = True
        end -= 128
    first = None
    bitrates = set()
    total_samples = 0
    while pos + 4 <= end:
        (hdr,) = struct.unpack_from(">I", data, pos)
        info = _frame_info(hdr)
        if info is None or pos + info["size"] > end:
            break
        if first is None:
            first = info
            out["xing_frames"] = _xing_frames(data, pos, info)
        out["n_frames"] += 1
        bitrates.add(info["bitrate"])
        total_samples += info["samples"]
        pos += info["size"]
    out["clean"] = pos == end
    if first is None:
        return out
    out["version"] = _VERSION_NAME[first["version"]]
    out["layer"] = first["layer"]
    out["sample_rate"] = first["rate"]
    out["duration_ms"] = total_samples * 1000 // first["rate"]
    out["is_cbr"] = len(bitrates) == 1
    out["bitrate_kbps_min"] = min(bitrates) // 1000
    out["bitrate_kbps_max"] = max(bitrates) // 1000
    return out


def build_mp3(frames, *, version: int = 3, layer: int = 3,
              sr_idx: int = 0, mode: int = 3, id3v2_bytes: int = 0,
              id3v1: bool = False, xing_frames: int = None,
              crc: bool = False) -> bytes:
    """Assemble an MPEG audio stream from ``frames`` = list of
    bitrate-table indices (deterministic fixture source; payloads are
    zero bytes — this module never reads them). ``xing_frames`` writes
    a Xing tag into the first frame; ``crc=True`` sets protection
    bit 0 (a 2-byte CRC-16 precedes the side info, shifting the tag)."""
    out = bytearray()
    if id3v2_bytes:
        body = id3v2_bytes - 10
        out += b"ID3\x04\x00\x00" + bytes(
            [(body >> 21) & 0x7F, (body >> 14) & 0x7F,
             (body >> 7) & 0x7F, body & 0x7F]) + b"\x00" * body
    for k, br_idx in enumerate(frames):
        hdr = (0x7FF << 21) | (version << 19) | ((4 - layer) << 17) \
            | ((0 if crc else 1) << 16) | (br_idx << 12) \
            | (sr_idx << 10) | (mode << 6)
        info = _frame_info(hdr)
        frame = bytearray(struct.pack(">I", hdr))
        frame += b"\x00" * (info["size"] - 4)
        if k == 0 and xing_frames is not None:
            mono = mode == 3
            side = (17 if mono else 32) if version == 3 \
                else (9 if mono else 17)
            base = 4 + (2 if crc else 0) + side
            frame[base:base + 4] = b"Xing"
            struct.pack_into(">I", frame, base + 4, 1)
            struct.pack_into(">I", frame, base + 8, xing_frames)
        out += frame
    if id3v1:
        out += b"TAG" + b"\x00" * 125
    return bytes(out)


_SCHEMA = ("media_id long, n_frames long, version string, layer int, "
           "sample_rate int, duration_ms long, is_cbr boolean, "
           "bitrate_kbps_min int, bitrate_kbps_max int, "
           "xing_frames long, has_id3v2 boolean, has_id3v1 boolean, "
           "clean boolean")


def mp3_inventory(df: DataFrame, payload_col: str = "payload",
                  id_col: str = "media_id") -> DataFrame:
    """Per-file MP3 inventory manifest (one Arrow kernel; malformed
    payloads yield n_frames=0 rows, never errors)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, p in zip(pdf[id_col], pdf[payload_col]):
                try:
                    inv = parse_mp3_inventory(bytes(p or b""))
                except Exception:
                    inv = parse_mp3_inventory(b"")
                    inv["clean"] = False
                rows.append({"media_id": int(mid), **inv})
            out = pd.DataFrame(rows, columns=[
                "media_id", "n_frames", "version", "layer",
                "sample_rate", "duration_ms", "is_cbr",
                "bitrate_kbps_min", "bitrate_kbps_max", "xing_frames",
                "has_id3v2", "has_id3v1", "clean"])
            for c in ("layer", "sample_rate", "bitrate_kbps_min",
                      "bitrate_kbps_max"):
                out[c] = out[c].astype("Int32")
            out["xing_frames"] = out["xing_frames"].astype("Int64")
            yield out

    return df.select(id_col, payload_col).mapInPandas(kernel, _SCHEMA)
