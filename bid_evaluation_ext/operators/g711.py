"""Pure-stdlib G.711 (μ-law / A-law) lossy audio codec + WAV container.

First LOSSY codec family in the multimodal audio seam (the others —
PCM WAV, FLAC — are lossless): ITU-T G.711 logarithmic companding,
8 bits/sample, the telephony formats carried in WAV containers as
format tags 7 (μ-law) and 6 (A-law). The companding follows the
classic public-domain Sun Microsystems ``g711.c`` tables (the same
code behind CPython's ``audioop.lin2ulaw``/``lin2alaw``), vectorized
with numpy — bit-exact against ``audioop`` where it still exists
(removed in Python 3.13).

The stdlib ``wave`` module refuses non-PCM format tags, so this module
carries its own minimal RIFF reader/writer for the G.711 tags (the
reader also powers the IMA-ADPCM container in :mod:`.adpcm`). All
functions are driver/executor-side helpers for Arrow-batched kernels —
they never touch Spark themselves; corrupt payloads raise
``ValueError`` (the one catchable decode-failure type: corrupt media
must not kill a 100-TB scan).
"""

from __future__ import annotations

import struct

import numpy as np

_ULAW_BIAS = 0x84        # 132
_ULAW_CLIP = 8159        # in the 14-bit domain (Sun g711.c)
# segment end points, 14-bit domain (after bias)
_SEG_UEND = np.array([0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF, 0x1FFF],
                     dtype=np.int64)
# A-law segment ends, 13-bit domain
_SEG_AEND = np.array([0x1F, 0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF],
                     dtype=np.int64)

WAVE_FORMAT_PCM = 0x0001
WAVE_FORMAT_ALAW = 0x0006
WAVE_FORMAT_MULAW = 0x0007
WAVE_FORMAT_IMA_ADPCM = 0x0011


def _segment(mag: np.ndarray, ends: np.ndarray) -> np.ndarray:
    """Per-sample index of the first segment end >= mag (8 if none)."""
    return np.searchsorted(ends, mag, side="left").astype(np.int64)


def ulaw_encode(pcm: np.ndarray) -> np.ndarray:
    """int16 linear samples → μ-law bytes (Sun g711.c semantics)."""
    x = np.asarray(pcm, dtype=np.int64) >> 2          # 16 → 14 bit
    mask = np.where(x < 0, 0x7F, 0xFF)
    mag = np.minimum(np.abs(x), _ULAW_CLIP) + (_ULAW_BIAS >> 2)
    seg = _segment(mag, _SEG_UEND)
    uval = (seg << 4) | ((mag >> (seg + 1)) & 0x0F)
    out = np.where(seg >= 8, 0x7F ^ mask, uval ^ mask)
    return out.astype(np.uint8)


def ulaw_decode(codes: np.ndarray) -> np.ndarray:
    """μ-law bytes → int16 linear samples."""
    u = ~np.asarray(codes, dtype=np.int64) & 0xFF
    t = (((u & 0x0F) << 3) + _ULAW_BIAS) << ((u & 0x70) >> 4)
    return np.where(u & 0x80, _ULAW_BIAS - t, t - _ULAW_BIAS) \
        .astype(np.int16)


def alaw_encode(pcm: np.ndarray) -> np.ndarray:
    """int16 linear samples → A-law bytes (Sun g711.c semantics)."""
    x = np.asarray(pcm, dtype=np.int64) >> 3          # 16 → 13 bit
    mask = np.where(x >= 0, 0xD5, 0x55)
    mag = np.where(x >= 0, x, -x - 1)
    seg = _segment(mag, _SEG_AEND)
    low = np.where(seg < 2, (mag >> 1) & 0x0F,
                   (mag >> np.maximum(seg, 1)) & 0x0F)
    aval = (seg << 4) | low
    out = np.where(seg >= 8, 0x7F ^ mask, aval ^ mask)
    return out.astype(np.uint8)


def alaw_decode(codes: np.ndarray) -> np.ndarray:
    """A-law bytes → int16 linear samples."""
    a = np.asarray(codes, dtype=np.int64) ^ 0x55
    t = (a & 0x0F) << 4
    seg = (a & 0x70) >> 4
    t = np.where(seg == 0, t + 8,
                 (t + 0x108) << np.maximum(seg - 1, 0))
    return np.where(a & 0x80, t, -t).astype(np.int16)


# ---------------------------------------------------------------------------
# RIFF/WAVE container for non-PCM format tags
# ---------------------------------------------------------------------------

def wav_format_tag(payload: bytes) -> int | None:
    """Peek a RIFF/WAVE payload's fmt tag (None for non-WAV payloads).

    The magic-byte dispatch hook for the multimodal audio kernel: PCM
    (tag 1) keeps the stdlib :mod:`wave` path, tags 6/7 route here,
    tag 0x11 routes to :mod:`.adpcm`.
    """
    if len(payload) < 12 or payload[:4] != b"RIFF" \
            or payload[8:12] != b"WAVE":
        return None
    try:
        for cid, body in _riff_chunks(payload):
            if cid == b"fmt " and len(body) >= 2:
                return struct.unpack_from("<H", body)[0]
    except ValueError:
        return None
    return None


def _riff_chunks(payload: bytes):
    """Yield ``(chunk_id, body)`` for every top-level RIFF sub-chunk."""
    pos = 12
    while pos + 8 <= len(payload):
        cid, size = struct.unpack_from("<4sI", payload, pos)
        body = payload[pos + 8:pos + 8 + size]
        if len(body) < size:
            raise ValueError(f"truncated RIFF chunk {cid!r}")
        yield cid, body
        pos += 8 + size + (size & 1)  # chunks are word-aligned


def parse_wav_chunks(payload: bytes):
    """Parse a WAVE payload → ``(fmt_struct_bytes, data_bytes, fact_n)``.

    ``fact_n`` is the fact chunk's sample count (None if absent) —
    required by compressed formats to trim block padding.
    """
    if wav_format_tag(payload) is None:
        raise ValueError("not a RIFF/WAVE payload")
    fmt = data = None
    fact_n = None
    for cid, body in _riff_chunks(payload):
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        elif cid == b"fact" and len(body) >= 4:
            fact_n = struct.unpack_from("<I", body)[0]
    if fmt is None or data is None:
        raise ValueError("WAVE payload missing fmt/data chunk")
    return fmt, data, fact_n


def _wav_container(fmt_body: bytes, data: bytes, fact_n: int | None) -> bytes:
    chunks = [b"fmt " + struct.pack("<I", len(fmt_body)) + fmt_body]
    if len(fmt_body) & 1:
        chunks[-1] += b"\x00"
    if fact_n is not None:
        chunks.append(b"fact" + struct.pack("<II", 4, fact_n))
    chunks.append(b"data" + struct.pack("<I", len(data)) + data)
    if len(data) & 1:
        chunks[-1] += b"\x00"
    body = b"WAVE" + b"".join(chunks)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def encode_wav_g711(samples: np.ndarray, rate: int = 8000,
                    law: str = "ulaw") -> bytes:
    """Mono float samples in [-1, 1] → G.711 WAV payload (test aid).

    Quantizes exactly like :func:`.wav.encode_wav` (clip, ×32767,
    truncate toward zero) before companding, so fixtures built from the
    same float signal hit identical int16 inputs across codecs.
    """
    clipped = np.clip(np.asarray(samples, dtype=np.float64), -1.0, 1.0)
    pcm = (clipped * 32767.0).astype(np.int16)
    if law == "ulaw":
        data, tag = ulaw_encode(pcm).tobytes(), WAVE_FORMAT_MULAW
    elif law == "alaw":
        data, tag = alaw_encode(pcm).tobytes(), WAVE_FORMAT_ALAW
    else:
        raise ValueError(f"unknown companding law {law!r}")
    fmt = struct.pack("<HHIIHHH", tag, 1, rate, rate, 1, 8, 0)
    return _wav_container(fmt, data, len(pcm))


def decode_wav_g711(payload: bytes) -> tuple[int, np.ndarray]:
    """G.711 WAV payload → ``(sample_rate, mono float64 samples)``.

    Same contract as :func:`.wav.decode_wav`: samples scaled to
    [-1, 1] (int16 / 32768), multichannel mean-downmixed, every
    malformed input raising ``ValueError``.
    """
    fmt, data, fact_n = parse_wav_chunks(payload)
    if len(fmt) < 16:
        raise ValueError("fmt chunk too short")
    tag, n_channels, rate = struct.unpack_from("<HHI", fmt)
    if n_channels < 1:
        raise ValueError("bad channel count")
    codes = np.frombuffer(data, dtype=np.uint8)
    if tag == WAVE_FORMAT_MULAW:
        pcm = ulaw_decode(codes)
    elif tag == WAVE_FORMAT_ALAW:
        pcm = alaw_decode(codes)
    else:
        raise ValueError(f"not a G.711 WAV (format tag {tag:#x})")
    out = pcm.astype(np.float64) / 32768.0
    if n_channels > 1:
        usable = (len(out) // n_channels) * n_channels
        out = out[:usable].reshape(-1, n_channels).mean(axis=1)
    if fact_n is not None:
        out = out[:fact_n]
    return rate, out
