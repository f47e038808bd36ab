"""Header-only media probing: the manifest pass that runs BEFORE decode.

The first thing a 100-TB media pipeline does is probe: classify every
payload and pull dimensions/rates/durations FROM THE HEADERS ALONE —
orders of magnitude cheaper than decoding (a probe touches tens of
bytes; a decode touches them all), and enough to route, bucket by
resolution, reject absurd dimensions, and budget downstream work.
``ffprobe`` is this operator in the ffmpeg world; here it is pure
stdlib over every container the codec modules speak: PNG, JPEG, GIF,
binary Netpbm, WAV (PCM/G.711/IMA-ADPCM by format tag), FLAC, Y4M,
MJPEG AVI, plus WebDataset tar shards (member count only).

Output row per payload: ``(media_id, format, width, height,
sample_rate, n_units, duration_ms)`` — ``n_units`` is samples for
audio, frames for video, null for images; unknown/corrupt headers give
``format = null`` (never an error: probing is the op that must survive
anything).
"""

from __future__ import annotations

import struct
from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame

PROBE_SCHEMA = (
    "media_id long, format string, width long, height long, "
    "sample_rate long, n_units long, duration_ms long"
)

_NULL = {"format": None, "width": None, "height": None,
         "sample_rate": None, "n_units": None, "duration_ms": None}


def _probe_png(p: bytes) -> Optional[dict]:
    if p[:8] != b"\x89PNG\r\n\x1a\n" or len(p) < 24 \
            or p[12:16] != b"IHDR":
        return None
    w, h = struct.unpack_from(">II", p, 16)
    return {**_NULL, "format": "png", "width": w, "height": h}


def _probe_jpeg(p: bytes) -> Optional[dict]:
    if p[:2] != b"\xff\xd8":
        return None
    pos = 2
    while pos + 4 <= len(p):
        if p[pos] != 0xFF:
            return None
        marker = p[pos + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        seg_len = struct.unpack_from(">H", p, pos + 2)[0]
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            if pos + 9 > len(p):
                return None
            h, w = struct.unpack_from(">HH", p, pos + 5)
            return {**_NULL, "format": "jpeg", "width": w, "height": h}
        pos += 2 + seg_len
    return None


def _probe_gif(p: bytes) -> Optional[dict]:
    if p[:6] not in (b"GIF87a", b"GIF89a") or len(p) < 10:
        return None
    w, h = struct.unpack_from("<HH", p, 6)
    return {**_NULL, "format": "gif", "width": w, "height": h}


def _probe_netpbm(p: bytes) -> Optional[dict]:
    if p[:2] not in (b"P5", b"P6"):
        return None
    toks, pos, tok = [], 2, b""
    while pos < len(p) and len(toks) < 2:
        c = p[pos:pos + 1]
        if c == b"#":
            while pos < len(p) and p[pos:pos + 1] != b"\n":
                pos += 1
        elif c in b" \t\r\n\v\f":
            if tok:
                toks.append(tok)
                tok = b""
        else:
            tok += c
        pos += 1
    if tok and len(toks) < 2:
        toks.append(tok)
    try:
        w, h = int(toks[0]), int(toks[1])
    except (IndexError, ValueError):
        return None
    return {**_NULL, "format": "pgm" if p[:2] == b"P5" else "ppm",
            "width": w, "height": h}


_WAV_FORMATS = {1: "wav-pcm", 6: "wav-alaw", 7: "wav-ulaw",
                0x11: "wav-adpcm"}


def _probe_wav(p: bytes) -> Optional[dict]:
    if p[:4] != b"RIFF" or p[8:12] != b"WAVE":
        return None
    from .g711 import _riff_chunks
    fmt = data_len = fact_n = None
    try:
        for cid, body in _riff_chunks(p):
            if cid == b"fmt " and len(body) >= 16:
                fmt = struct.unpack_from("<HHIIHH", body)
            elif cid == b"data":
                data_len = len(body)
            elif cid == b"fact" and len(body) >= 4:
                fact_n = struct.unpack_from("<I", body)[0]
    except ValueError:
        return None
    if fmt is None:
        return None
    tag, n_ch, rate, _, block, bits = fmt
    name = _WAV_FORMATS.get(tag)
    if name is None or n_ch < 1 or rate < 1:
        return None
    if fact_n is not None:
        n = fact_n
    elif data_len is not None and block:
        n = data_len // block
    else:
        n = None
    return {**_NULL, "format": name, "sample_rate": rate, "n_units": n,
            "duration_ms": (n * 1000 // rate) if n is not None else None}


def _probe_flac(p: bytes) -> Optional[dict]:
    # STREAMINFO is the mandatory first metadata block after 'fLaC'
    if p[:4] != b"fLaC" or len(p) < 8 + 34 or (p[4] & 0x7F) != 0:
        return None
    si = p[8:8 + 34]
    rate = (si[10] << 12) | (si[11] << 4) | (si[12] >> 4)
    n = ((si[13] & 0x0F) << 32) | struct.unpack_from(">I", si, 14)[0]
    if rate < 1:
        return None
    return {**_NULL, "format": "flac", "sample_rate": rate,
            "n_units": n or None,
            "duration_ms": (n * 1000 // rate) if n else None}


def _probe_y4m(p: bytes) -> Optional[dict]:
    if p[:10] != b"YUV4MPEG2 ":
        return None
    nl = p.find(b"\n")
    if nl < 0:
        return None
    w = h = 0
    num, den = 30, 1
    cspace = "C420jpeg"
    for tok in p[10:nl].split(b" "):
        t = tok.decode("ascii", "replace")
        if t.startswith("W"):
            w = int(t[1:] or 0)
        elif t.startswith("H"):
            h = int(t[1:] or 0)
        elif t.startswith("F") and ":" in t:
            num, den = (int(v) for v in t[1:].split(":"))
        elif t.startswith("C"):
            cspace = t
    if w <= 0 or h <= 0 or num <= 0 or den <= 0:
        return None
    # count frames by WALKING marker+plane sizes (frame data is raw bytes
    # that may themselves contain 'FRAME', so substring counting is wrong)
    from .y4m import _chroma_bytes
    frame_bytes = w * h + _chroma_bytes(w, h, cspace)
    nf, pos = 0, nl + 1
    while pos < len(p) and p[pos:pos + 5] == b"FRAME":
        fnl = p.find(b"\n", pos)
        if fnl < 0 or fnl + 1 + frame_bytes > len(p):
            break
        nf += 1
        pos = fnl + 1 + frame_bytes
    return {**_NULL, "format": "y4m", "width": w, "height": h,
            "n_units": nf, "duration_ms": nf * 1000 * den // num}


def _probe_avi(p: bytes) -> Optional[dict]:
    if p[:4] != b"RIFF" or p[8:12] != b"AVI ":
        return None
    # avih is at a fixed offset in our minimal writer, but scan for it
    # to probe real-world files: 'avih' fourcc + 56-byte body
    i = p.find(b"avih")
    if i < 0 or i + 8 + 40 > len(p):
        return None
    usec, = struct.unpack_from("<I", p, i + 8)
    total, = struct.unpack_from("<I", p, i + 8 + 16)
    w, h = struct.unpack_from("<II", p, i + 8 + 32)
    if w < 1 or h < 1:
        return None
    return {**_NULL, "format": "avi-mjpeg", "width": w, "height": h,
            "n_units": total,
            "duration_ms": total * usec // 1000 if usec else None}


_MP3_BITRATE = {  # kbps, MPEG-1 layer III column of the public table
    1: (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320),
    2: (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
}
_MP3_RATES = {3: (44100, 48000, 32000), 2: (22050, 24000, 16000),
              0: (11025, 12000, 8000)}
#: MPEG-1 Layer II column of the same public table (round-9 mp2 codec)
_MP2_BITRATE = (0, 32, 48, 56, 64, 80, 96, 112, 128, 160,
                192, 224, 256, 320, 384)


def _probe_mp3(p: bytes) -> Optional[dict]:
    """MPEG-1/2/2.5 Layer III frame-header probe — the one container
    here we PROBE but do not decode (the perceptual decode stays a
    library seam): classify, pull the sample rate, and estimate the
    duration by walking frame lengths. Requires either an ID3v2 tag or
    two consecutive valid frame headers, so random 0xFFEx bytes in
    arbitrary payloads don't classify as mp3."""
    pos = 0
    has_id3 = p[:3] == b"ID3" and len(p) >= 10
    if has_id3:
        size = ((p[6] & 0x7F) << 21) | ((p[7] & 0x7F) << 14) \
            | ((p[8] & 0x7F) << 7) | (p[9] & 0x7F)
        pos = 10 + size

    def frame_at(i):
        if i + 4 > len(p) or p[i] != 0xFF or (p[i + 1] & 0xE0) != 0xE0:
            return None
        ver = (p[i + 1] >> 3) & 3          # 3=MPEG1, 2=MPEG2, 0=MPEG2.5
        layer = (p[i + 1] >> 1) & 3        # 1 = Layer III, 2 = Layer II
        if ver == 1 or layer not in (1, 2) or (layer == 2 and ver != 3):
            return None                    # Layer II: MPEG-1 only (mp2.py)
        br_idx = p[i + 2] >> 4
        sr_idx = (p[i + 2] >> 2) & 3
        if br_idx in (0, 15) or sr_idx == 3:
            return None
        if layer == 2:
            table = _MP2_BITRATE
        else:
            table = _MP3_BITRATE[1 if ver == 3 else 2]
        rate = _MP3_RATES[ver][sr_idx]
        bitrate = table[br_idx] * 1000
        pad = (p[i + 2] >> 1) & 1
        spf = 1152 if ver == 3 or layer == 2 else 576
        flen = spf // 8 * bitrate // rate + pad
        return rate, spf, flen, layer

    first = frame_at(pos)
    if first is None:
        return None
    if not has_id3:
        nxt = frame_at(pos + first[2])
        if nxt is None:
            return None
    rate, layer = first[0], first[3]
    n = 0
    while True:
        fr = frame_at(pos)
        if fr is None or fr[3] != layer:   # a layer flip ends the stream
            break
        n += fr[1]
        pos += max(fr[2], 4)
    return {**_NULL, "format": "mp2" if layer == 2 else "mp3",
            "sample_rate": rate, "n_units": n,
            "duration_ms": n * 1000 // rate}


def _probe_tar(p: bytes) -> Optional[dict]:
    # POSIX ustar magic at offset 257 of the first header block
    if len(p) < 512 or p[257:262] != b"ustar":
        return None
    from .. sources.webdataset import decode_tar_shard
    try:
        n = len(decode_tar_shard(p))
    except ValueError:
        n = None
    return {**_NULL, "format": "tar", "n_units": n}


def _probe_bmp(p: bytes) -> Optional[dict]:
    if len(p) < 54 or p[:2] != b"BM":
        return None
    (hdr_size,) = struct.unpack_from("<I", p, 14)
    if hdr_size < 40:
        return None
    w, h = struct.unpack_from("<ii", p, 18)
    if w <= 0 or h == 0:
        return None
    return {**_NULL, "format": "bmp", "width": w, "height": abs(h)}


def _probe_tiff(p: bytes) -> Optional[dict]:
    from .tiff import T_HEIGHT, T_WIDTH, is_tiff, read_ifd
    if not is_tiff(p):
        return None
    le = p[:2] == b"II"
    (off,) = struct.unpack_from("<I" if le else ">I", p, 4)
    w = h = None
    pages = 0
    seen = set()
    try:
        while off and off not in seen and pages < 10000:
            seen.add(off)
            ifd, nxt = read_ifd(p, off, le)
            if pages == 0:
                w = ifd.get(T_WIDTH, [None])[0]
                h = ifd.get(T_HEIGHT, [None])[0]
            pages += 1
            off = nxt
    except ValueError:
        if pages == 0:
            return None
    return {**_NULL, "format": "tiff", "width": w, "height": h,
            "n_units": pages}


_PROBES = (_probe_png, _probe_jpeg, _probe_gif, _probe_netpbm,
           _probe_flac, _probe_y4m, _probe_avi, _probe_wav, _probe_mp3,
           _probe_tar, _probe_tiff, _probe_bmp)


def probe_payload(p: bytes) -> dict:
    """Probe one payload's headers → feature dict (format None if no
    container matches)."""
    for probe in _PROBES:
        try:
            out = probe(p)
        except Exception:
            out = None
        if out is not None:
            return out
    return dict(_NULL)


def probe_media(df: DataFrame, payload_col: str = "payload",
                id_col: str = "media_id") -> DataFrame:
    """Probe every payload's headers → ``PROBE_SCHEMA`` rows (format
    null for unknown/corrupt payloads — the probe never fails a scan)."""
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, p in zip(pdf[id_col], pdf[payload_col]):
                rows.append({"media_id": int(mid),
                             **probe_payload(bytes(p or b""))})
            yield pd.DataFrame(rows, columns=[
                "media_id", "format", "width", "height", "sample_rate",
                "n_units", "duration_ms"])

    return (df.select(id_col, payload_col)
            .mapInPandas(kernel, PROBE_SCHEMA))
