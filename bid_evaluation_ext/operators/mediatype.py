"""Corpus-wide MEDIA-TYPE census — the very first pass of a 100-TB
multimodal crawl: sniff every payload's container from magic bytes and
route it to the right decoder/inventory kernel. The per-modality
modules each dispatch within their own family
(``multimodal.decode_audio``, the image codecs, the r11 MP3/MP4/Ogg
inventories); this module is the TOP of that funnel: one cheap,
header-only classification that the routing, sampling, and census
aggregations run on.

Detection order matters (documented): RIFF needs its form type to
split WAV vs AVI; MP4's magic sits at offset 4 (``ftyp``); MP3 can
start with an ID3v2 tag or a bare frame sync, so the frame header is
VALIDATED against the public tables (a lone ``0xFF`` byte is not an
MP3); HTML/text/binary are the fallback tiers (UTF-8 decodability +
tag heuristic). Unknown stays unknown — a census must never guess.

Spark shape: :func:`media_census` is one Arrow kernel emitting
``(media_id, media_type, container, detail)``; :func:`census_counts`
is the plain partial-aggregated groupBy on top.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, functions as F


def sniff_media_type(data: bytes) -> Tuple[str, str, str]:
    """``(media_type, container, detail)`` — media_type ∈ image/audio/
    video/document/archive/text/unknown; container is the format name;
    detail carries the sub-codec where the header names one."""
    if not data:
        return "unknown", "empty", ""
    # --- images ------------------------------------------------------
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        return "image", "png", ""
    if data[:2] == b"\xff\xd8":
        return "image", "jpeg", ""
    if data[:4] in (b"GIF8",):
        return "image", "gif", data[:6].decode("latin1")
    if data[:4] in (b"II*\x00", b"MM\x00*"):
        return "image", "tiff", "le" if data[:2] == b"II" else "be"
    if data[:2] == b"BM" and len(data) >= 54:
        return "image", "bmp", ""
    if data[:2] in (b"P1", b"P2", b"P3", b"P4", b"P5", b"P6") \
            and len(data) > 2 and data[2:3] in b" \t\r\n":
        return "image", "netpbm", data[:2].decode()
    # --- RIFF family (WAV / AVI) --------------------------------------
    if data[:4] == b"RIFF" and len(data) >= 12:
        form = data[8:12]
        if form == b"WAVE":
            return "audio", "wav", ""
        if form == b"AVI ":
            return "video", "avi", ""
        if form == b"WEBP":
            from .webp import sniff_webp_format
            # first-chunk sniff only — the census must stay constant
            # work per file; the full chunk walk is webp_inventory's
            return "image", "webp", sniff_webp_format(data) or ""
        return "unknown", "riff", form.decode("latin1", "replace")
    # --- other audio ---------------------------------------------------
    if data[:4] == b"fLaC":
        return "audio", "flac", ""
    if data[:4] == b"OggS":
        from .ogg import sniff_ogg_codec
        # BOS-page sniff only — never the full O(file) page walk
        return "audio", "ogg", sniff_ogg_codec(data) or ""
    if data[:3] == b"ID3":
        return "audio", "mpeg", "id3"
    if len(data) >= 4 and data[0] == 0xFF and (data[1] & 0xE0) == 0xE0:
        import struct

        from .mp3 import _frame_info
        info = _frame_info(struct.unpack_from(">I", data, 0)[0])
        if info:
            return "audio", "mpeg", f"layer{info['layer']}"
    # --- video ----------------------------------------------------------
    if len(data) >= 12 and data[4:8] == b"ftyp":
        return "video", "mp4", data[8:12].decode("latin1", "replace")
    if data[:9] == b"YUV4MPEG2":
        return "video", "y4m", ""
    # --- documents / archives -------------------------------------------
    if data[:5] == b"%PDF-":
        return "document", "pdf", data[5:8].decode("latin1", "replace")
    if data[:5] == b"WARC/":
        return "document", "warc", ""
    if data[:2] == b"\x1f\x8b":
        return "archive", "gzip", ""
    if data[:4] == b"PK\x03\x04":
        return "archive", "zip", ""
    # --- text tiers ------------------------------------------------------
    try:
        text = data[:4096].decode("utf-8")
    except UnicodeDecodeError:
        return "unknown", "binary", ""
    low = text[:512].lstrip().lower()
    if low.startswith(("<!doctype html", "<html")):
        return "text", "html", ""
    if low.startswith("<?xml"):
        return "text", "xml", ""
    return "text", "plain", ""


def media_census(df: DataFrame, payload_col: str = "payload",
                 id_col: str = "media_id") -> DataFrame:
    """Per-file sniff manifest: ``(media_id, media_type, container,
    detail)`` (one Arrow kernel, header bytes only)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, p in zip(pdf[id_col], pdf[payload_col]):
                try:
                    mt, cont, detail = sniff_media_type(bytes(p or b""))
                except Exception:
                    mt, cont, detail = "unknown", "error", ""
                rows.append({"media_id": int(mid), "media_type": mt,
                             "container": cont, "detail": detail})
            yield pd.DataFrame(rows, columns=[
                "media_id", "media_type", "container", "detail"])

    return df.select(id_col, payload_col).mapInPandas(
        kernel, "media_id long, media_type string, container string, "
                "detail string")


def census_counts(manifest: DataFrame) -> DataFrame:
    """Corpus totals per (media_type, container): the routing table's
    denominator — one partial-aggregated groupBy."""
    return (manifest.groupBy("media_type", "container")
            .agg(F.count(F.lit(1)).alias("n_files")))
