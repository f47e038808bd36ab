"""EXIF metadata extraction and GPS scrubbing for JPEG corpora.

EXIF is a TIFF IFD tree embedded in a JPEG APP1 segment (``Exif\\0\\0``
+ TIFF block) — the parser is :func:`.tiff.read_ifd`, shared with the
TIFF container. Two corpus-scale operations live here:

- **extraction** (:func:`exif_metadata`): camera make/model,
  orientation, capture time, GPS presence + decimal coordinates — the
  columns a multimodal curation pipeline filters and stratifies on
  (orientation decides the rotate-before-hash step; capture time dates
  a crawl; GPS presence is a privacy gate);
- **GPS scrubbing** (:func:`scrub_gps` / :func:`exif_scrub_gps`):
  location data is PII — a training corpus must not ship it. The scrub
  ZEROES the GPS IFD in place (entry count, every entry, every
  out-of-line value block it references) and blanks the GPSInfo
  pointer in IFD0, so no byte of coordinate data survives, while every
  other offset in the file stays valid (no re-layout, no re-encode:
  pixels and remaining metadata are byte-identical). The scrub runs
  UNCONDITIONALLY over EVERY APP1 Exif segment — it does not depend on
  coordinate decode succeeding, so a GPS IFD carrying only
  altitude/timestamp/destination tags, malformed DMS counts, or a
  second APP1 Exif segment is scrubbed too.

Spark shape: both are constant-work-per-row transforms inside one
Arrow kernel — the standard map-only decode shape that scales by
adding executors.
"""

from __future__ import annotations

import struct
from typing import Iterator, Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame

from .tiff import read_ifd

#: IFD0 tags
T_MAKE, T_MODEL, T_ORIENTATION, T_DATETIME = 271, 272, 274, 306
T_EXIF_IFD, T_GPS_IFD = 34665, 34853
#: GPS IFD tags
G_LAT_REF, G_LAT, G_LON_REF, G_LON = 1, 2, 3, 4

_EXIF_SIG = b"Exif\x00\x00"


def _walk_jpeg_segments(data: bytes):
    """Yield ``(marker, body_start, body_len)`` for each JPEG segment
    before SOS (entropy data is never touched)."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (bad SOI)")
    pos = 2
    n = len(data)
    while pos + 4 <= n:
        if data[pos] != 0xFF:
            raise ValueError("JPEG marker sync lost")
        marker = data[pos + 1]
        if marker in (0xD9, 0xDA):             # EOI / SOS: stop
            return
        (seglen,) = struct.unpack(">H", data[pos + 2:pos + 4])
        yield marker, pos + 4, seglen - 2
        pos += 2 + seglen


def _find_exif_block(data: bytes) -> Optional[Tuple[int, int]]:
    """(tiff_block_start, tiff_block_len) of the FIRST APP1 Exif
    payload (extraction reads the first, per the EXIF spec)."""
    for marker, start, blen in _walk_jpeg_segments(data):
        if marker == 0xE1 and data[start:start + 6] == _EXIF_SIG:
            return start + 6, blen - 6
    return None


def _find_exif_blocks(data: bytes) -> list:
    """ALL APP1 Exif payloads — the scrub path must visit every one,
    because a (malformed but real-world) JPEG can carry a second APP1
    Exif segment with its own GPS IFD. A walk error after some blocks
    were found returns the blocks found so far (scrub what's
    reachable)."""
    out = []
    try:
        for marker, start, blen in _walk_jpeg_segments(data):
            if marker == 0xE1 and data[start:start + 6] == _EXIF_SIG:
                out.append((start + 6, blen - 6))
    except (ValueError, struct.error):
        pass
    return out


def _dms_to_decimal(vals, ref: str) -> Optional[float]:
    if len(vals) != 3:
        return None
    dec = vals[0] + vals[1] / 60.0 + vals[2] / 3600.0
    return -dec if ref in ("S", "W") else dec


def parse_exif(data: bytes) -> dict:
    """JPEG bytes → metadata dict (``has_exif`` False when no APP1
    Exif segment exists; corrupt EXIF blocks degrade to has_exif=False
    rather than raising — metadata damage must not fail a media scan)."""
    out = {"has_exif": False, "make": None, "model": None,
           "orientation": None, "datetime": None, "has_gps": False,
           "lat": None, "lon": None}
    try:
        loc = _find_exif_block(data)
        if loc is None:
            return out
        tiff = bytes(data[loc[0]:loc[0] + loc[1]])
        if tiff[:4] not in (b"II*\x00", b"MM\x00*"):
            return out
        le = tiff[:2] == b"II"
        (ifd0_off,) = struct.unpack_from("<I" if le else ">I", tiff, 4)
        ifd0, _ = read_ifd(tiff, ifd0_off, le)
    except (ValueError, struct.error, IndexError):
        return out
    out["has_exif"] = True
    out["make"] = ifd0.get(T_MAKE, [None])[0]
    out["model"] = ifd0.get(T_MODEL, [None])[0]
    out["orientation"] = ifd0.get(T_ORIENTATION, [None])[0]
    out["datetime"] = ifd0.get(T_DATETIME, [None])[0]
    gps_ptr = ifd0.get(T_GPS_IFD, [0])[0]
    if gps_ptr:
        try:
            gps, _ = read_ifd(tiff, gps_ptr, le)
        except ValueError:
            return out
        if gps:
            lat = _dms_to_decimal(gps.get(G_LAT, []),
                                  gps.get(G_LAT_REF, ["N"])[0])
            lon = _dms_to_decimal(gps.get(G_LON, []),
                                  gps.get(G_LON_REF, ["E"])[0])
            if lat is not None or lon is not None:
                out["has_gps"] = True
                out["lat"], out["lon"] = lat, lon
    return out


def _scrub_tiff_gps(buf: bytearray, t0: int, tlen: int) -> bool:
    """Zero the GPS IFD inside one embedded TIFF block (in place).
    Returns True when a nonzero GPSInfo pointer was found — it is
    always zeroed, and the IFD it points to (entry count, entries,
    out-of-line value blocks) is zeroed when in range."""
    tiff = memoryview(buf)[t0:t0 + tlen]
    if bytes(tiff[:4]) not in (b"II*\x00", b"MM\x00*"):
        return False
    le = bytes(tiff[:2]) == b"II"
    e = "<" if le else ">"
    (ifd0_off,) = struct.unpack_from(e + "I", tiff, 4)
    if ifd0_off + 2 > tlen:
        return False
    (n,) = struct.unpack_from(e + "H", tiff, ifd0_off)
    gps_off = 0
    for i in range(n):
        pos = ifd0_off + 2 + 12 * i
        if pos + 12 > tlen:
            return False
        tag, typ, cnt = struct.unpack_from(e + "HHI", tiff, pos)
        if tag == T_GPS_IFD:
            (gps_off,) = struct.unpack_from(e + "I", tiff, pos + 8)
            # blank the pointer itself (keeps directory length intact)
            struct.pack_into(e + "I", tiff, pos + 8, 0)
            break
    if not gps_off:
        return False
    if gps_off + 2 > tlen:
        return True                            # pointer zeroed; IFD out of range
    (gn,) = struct.unpack_from(e + "H", tiff, gps_off)
    sizes = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 7: 1, 9: 4, 10: 8}
    for i in range(gn):
        pos = gps_off + 2 + 12 * i
        if pos + 12 > tlen:
            break
        _, typ, cnt = struct.unpack_from(e + "HHI", tiff, pos)
        total = sizes.get(typ, 0) * cnt
        if total > 4:
            (voff,) = struct.unpack_from(e + "I", tiff, pos + 8)
            if voff + total <= tlen:
                tiff[voff:voff + total] = b"\x00" * total
        tiff[pos:pos + 12] = b"\x00" * 12      # the entry itself
    struct.pack_into(e + "H", tiff, gps_off, 0)   # empty GPS IFD
    return True


def scrub_gps_report(data: bytes) -> Tuple[bytes, bool]:
    """(scrubbed JPEG, had_gps). The scrub runs UNCONDITIONALLY over
    EVERY APP1 Exif segment — ``had_gps`` reports whether any GPSInfo
    pointer was found and zeroed, NOT whether coordinates decoded
    (a GPS IFD carrying only altitude/timestamp, or malformed DMS
    counts, is still location data and still gets zeroed). Same
    length; all non-GPS bytes byte-identical."""
    blocks = _find_exif_blocks(data)
    if not blocks:
        return data, False
    buf = bytearray(data)
    had = False
    for t0, tlen in blocks:
        had = _scrub_tiff_gps(buf, t0, tlen) or had
    return bytes(buf), had


def scrub_gps(data: bytes) -> bytes:
    """Return the JPEG with every byte of GPS data zeroed (same
    length; all other segments byte-identical). No-op when there is no
    EXIF block or no GPS IFD."""
    return scrub_gps_report(data)[0]


def build_exif_app1(*, make: str = None, model: str = None,
                    orientation: int = None, datetime: str = None,
                    gps: Tuple[float, float] = None) -> bytes:
    """Assemble an APP1 Exif segment (marker + length + sig + TIFF-LE
    block) — fixture/test source, byte-deterministic. ``gps`` is a
    (lat, lon) pair in decimal degrees, stored as the standard
    DMS RATIONAL triples with 10000-denominator seconds."""
    entries0 = []                               # (tag, typ, cnt, payload)

    def ascii_entry(tag, s):
        entries0.append((tag, 2, len(s) + 1, s.encode() + b"\x00"))

    if make is not None:
        ascii_entry(T_MAKE, make)
    if model is not None:
        ascii_entry(T_MODEL, model)
    if orientation is not None:
        entries0.append((T_ORIENTATION, 3, 1,
                         struct.pack("<H", orientation)))
    if datetime is not None:
        ascii_entry(T_DATETIME, datetime)

    gps_entries = []
    if gps is not None:
        lat, lon = gps

        def dms(v):
            v = abs(v)
            d = int(v)
            m = int((v - d) * 60)
            s = round(((v - d) * 60 - m) * 60 * 10000)
            return struct.pack("<6I", d, 1, m, 1, s, 10000)

        gps_entries = [
            (G_LAT_REF, 2, 2, (b"S" if lat < 0 else b"N") + b"\x00"),
            (G_LAT, 5, 3, dms(lat)),
            (G_LON_REF, 2, 2, (b"W" if lon < 0 else b"E") + b"\x00"),
            (G_LON, 5, 3, dms(lon)),
        ]
        entries0.append((T_GPS_IFD, 4, 1, None))   # pointer patched below

    def layout(entries, ifd_off, extra_off):
        """-> (directory bytes, value-area bytes, next extra offset)."""
        dirb = bytearray(struct.pack("<H", len(entries)))
        extra = bytearray()
        for tag, typ, cnt, payload in sorted(entries):
            dirb += struct.pack("<HHI", tag, typ, cnt)
            if payload is None:                # pointer placeholder
                dirb += struct.pack("<I", 0)
            elif len(payload) <= 4:
                dirb += payload.ljust(4, b"\x00")
            else:
                dirb += struct.pack("<I", extra_off + len(extra))
                extra += payload
                if len(extra) & 1:
                    extra += b"\x00"
        dirb += struct.pack("<I", 0)           # next IFD
        return dirb, extra, extra_off + len(extra)

    ifd0_off = 8
    dir0_len = 2 + 12 * len(entries0) + 4
    dir0, extra0, after0 = layout(entries0, ifd0_off, ifd0_off + dir0_len)
    tiff = bytearray(b"II*\x00" + struct.pack("<I", ifd0_off)
                     + dir0 + extra0)
    if gps_entries:
        gps_off = len(tiff)
        gdir_len = 2 + 12 * len(gps_entries) + 4
        gdir, gextra, _ = layout(gps_entries, gps_off, gps_off + gdir_len)
        tiff += gdir + gextra
        # patch the GPSInfo pointer in IFD0
        for i, (tag, _, _, _) in enumerate(sorted(entries0)):
            if tag == T_GPS_IFD:
                struct.pack_into("<I", tiff, ifd0_off + 2 + 12 * i + 8,
                                 gps_off)
    body = _EXIF_SIG + bytes(tiff)
    return b"\xff\xe1" + struct.pack(">H", len(body) + 2) + body


def insert_app1(jpeg: bytes, app1: bytes) -> bytes:
    """Insert an APP1 segment right after SOI (the EXIF position)."""
    if jpeg[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (bad SOI)")
    return jpeg[:2] + app1 + jpeg[2:]


def apply_orientation(img, orientation: int):
    """Normalize pixels to EXIF orientation 1 (the step every
    perceptual-hash/embedding pipeline runs BEFORE hashing — the same
    photo shot in portrait vs landscape must hash identically).
    Orientations per the EXIF spec: 1 normal, 2 mirror-H, 3 rotate
    180, 4 mirror-V, 5 mirror-H+rot270, 6 rotate 90 CW, 7
    mirror-H+rot90, 8 rotate 270 CW. Unknown/None → unchanged."""
    import numpy as np

    a = np.asarray(img)
    if orientation == 2:
        return a[:, ::-1]
    if orientation == 3:
        return a[::-1, ::-1]
    if orientation == 4:
        return a[::-1, :]
    if orientation == 5:
        return a.swapaxes(0, 1)
    if orientation == 6:                 # 90 CW: transpose + mirror-H
        return a.swapaxes(0, 1)[:, ::-1]
    if orientation == 7:
        return a.swapaxes(0, 1)[::-1, ::-1]
    if orientation == 8:                 # 270 CW
        return a.swapaxes(0, 1)[::-1, :]
    return a


_META_SCHEMA = ("media_id long, has_exif boolean, make string, "
                "model string, orientation int, datetime string, "
                "has_gps boolean, lat double, lon double")


def exif_metadata(df: DataFrame, payload_col: str = "payload",
                  id_col: str = "media_id",
                  passthrough: "list[str] | None" = None) -> DataFrame:
    """Per-image EXIF columns (one Arrow kernel, payload dropped).

    ``passthrough`` names input columns to carry through the kernel
    unchanged (appended after the metadata columns) — this lets a
    scrub→re-extract pipeline stay ONE lineage instead of re-running
    the upstream payload producer on both sides of a re-association
    join (r12 optimization; guide §2.4)."""
    extra = list(passthrough or [])
    schema = _META_SCHEMA
    if extra:
        fields = ", ".join(f"{c} {df.schema[c].dataType.simpleString()}"
                           for c in extra)
        schema = f"{_META_SCHEMA}, {fields}"

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, p in zip(pdf[id_col], pdf[payload_col]):
                try:
                    meta = parse_exif(bytes(p or b""))
                except Exception:
                    meta = {"has_exif": False, "make": None, "model": None,
                            "orientation": None, "datetime": None,
                            "has_gps": False, "lat": None, "lon": None}
                rows.append({"media_id": int(mid), **meta})
            out = pd.DataFrame(rows, columns=[
                "media_id", "has_exif", "make", "model", "orientation",
                "datetime", "has_gps", "lat", "lon"])
            out["orientation"] = out["orientation"].astype("Int32")
            for c in extra:
                out[c] = pdf[c].reset_index(drop=True)
            yield out

    return df.select(id_col, payload_col, *extra).mapInPandas(kernel, schema)


def exif_scrub_gps(df: DataFrame, payload_col: str = "payload",
                   id_col: str = "media_id") -> DataFrame:
    """GPS-scrubbed payloads: ``(media_id, payload, had_gps)`` — the
    privacy pass a multimodal corpus runs before packaging."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads, had = [], []
            for p in pdf[payload_col]:
                raw = bytes(p or b"")
                try:
                    # unconditional: had_gps = "a GPS pointer existed
                    # and was zeroed", never "coordinates decoded"
                    scrubbed, g = scrub_gps_report(raw)
                    payloads.append(scrubbed)
                    had.append(g)
                except Exception:
                    payloads.append(raw)
                    had.append(False)
            yield pd.DataFrame({
                "media_id": pdf[id_col].astype("int64"),
                "payload": payloads,
                "had_gps": had,
            })

    return df.select(id_col, payload_col).mapInPandas(
        kernel, "media_id long, payload binary, had_gps boolean")
