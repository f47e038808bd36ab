"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Beyond-reference operators (BASELINE.json north star). The Spark-side design
is fully real — schemas, partitioning, Arrow batch shapes, UDF signatures.
Decode kernels are REAL pure-stdlib codecs: **PNG, baseline JPEG and
binary Netpbm (PGM/PPM) images** (:mod:`.png`, :mod:`.jpeg`,
:mod:`.netpbm` — width/height/mean-luma/grid embedding
from actual pixels, magic-byte dispatch), **PCM WAV / G.711 μ-law+A-law /
IMA-ADPCM / FLAC audio** (:mod:`.wav`, :mod:`.g711`, :mod:`.adpcm`,
:mod:`.flac` — rate/duration/RMS/zero-crossings/log-band spectra from
actual samples; G.711 and ADPCM are real LOSSY codecs), and **Y4M + MJPEG
AVI video** (:mod:`.y4m`, :mod:`.avi` — per-frame luma
digest/dimensions/mean from actual planes or decoded JPEG frames).
**VP8L lossless WebP** decodes real pixels since r12 (:mod:`.vp8l`).
Remaining perceptual codecs (VP8 lossy, mp3, h264, ...) need
a media library swapped into the same decode seams. Every kernel also offers ``fake=True``
(clearly-marked deterministic payload-hash features) so pipeline plumbing
is testable on arbitrary bytes.

Scale notes: media payloads are the widest column by orders of magnitude —
every transform here projects only the columns it needs (payload + id), runs
in ``mapInPandas`` so one Arrow batch holds a bounded number of rows
(``spark.sql.execution.arrow.maxRecordsPerBatch`` caps memory per task), and
returns compact features so the wide payload is dropped as early as possible.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType, LongType, StringType, StructField, StructType,
)

#: canonical multimodal record schema: payload + typed metadata
MEDIA_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("payload", BinaryType(), True),
    StructField("media_type", StringType(), True),   # image|audio|video
    StructField("mime", StringType(), True),
    StructField("width", LongType(), True),
    StructField("height", LongType(), True),
    StructField("duration_ms", LongType(), True),
])

IMAGE_FEATURES_SCHEMA = (
    "media_id long, n_bytes long, sha256 string, width long, height long, "
    "mean_luma double, embedding array<float>"
)

FRAME_SAMPLE_SCHEMA = (
    "media_id long, frame_index long, frame_ts_ms long, frame_sha256 string, "
    "width long, height long, frame_mean_luma double"
)


def decode_audio(payload: bytes):
    """Magic-byte/format-tag audio dispatch → ``(rate, mono float64)``.

    One seam for every audio container the pure-stdlib codecs cover:
    FLAC (magic ``fLaC``), MPEG-1 Layer II (sync ``0xFFFD``/``0xFFFC``
    frame header, :mod:`.mp2`), then WAV by fmt tag — G.711 μ-law/A-law
    (tags 7/6, :mod:`.g711`) and IMA ADPCM (tag 0x11, :mod:`.adpcm`),
    the LOSSY families, else integer PCM (:mod:`.wav`). The remaining
    perceptual codecs (mp3/aac — Huffman + psychoacoustics) need a
    media library added at this seam.
    """
    from . import adpcm as _adpcm
    from . import flac as _flac
    from . import g711 as _g711
    from . import mp2 as _mp2
    from . import wav as _wav

    if payload[:4] == b"fLaC":
        return _flac.decode_flac(payload)
    if _mp2.is_mp2(payload):      # handles ID3v2-prefixed streams too
        return _mp2.decode_mp2(payload)
    tag = _g711.wav_format_tag(payload)
    if tag in (_g711.WAVE_FORMAT_MULAW, _g711.WAVE_FORMAT_ALAW):
        return _g711.decode_wav_g711(payload)
    if tag == _g711.WAVE_FORMAT_IMA_ADPCM:
        return _adpcm.decode_wav_adpcm(payload)
    return _wav.decode_wav(payload)


def _fake_features(payload: bytes, dim: int = 8) -> np.ndarray:
    """Deterministic fake embedding from the payload digest (stub kernel)."""
    digest = hashlib.sha256(payload or b"").digest()
    raw = np.frombuffer((digest * ((dim * 4) // len(digest) + 1))[: dim * 4],
                        dtype=np.uint32)
    return (raw.astype(np.float64) / np.iinfo(np.uint32).max).astype(np.float32)


def extract_image_features(df: DataFrame, payload_col: str = "payload",
                           id_col: str = "media_id", *,
                           fake: bool = False,
                           strict: bool = False) -> DataFrame:
    """Decode + feature-extract images via Arrow-batched ``mapInPandas``.

    The REAL kernel (``fake=False``, default) dispatches on magic bytes and
    decodes PNG payloads with the pure-stdlib codec (:mod:`.png`),
    baseline JPEG payloads with the pure-stdlib codec (:mod:`.jpeg`),
    binary Netpbm (PGM ``P5`` / PPM ``P6``) with :mod:`.netpbm`, and
    baseline TIFF (gray/RGB, none/PackBits) with :mod:`.tiff`:
    width/height from the container, mean luma and an 8-dim
    block-mean-luma embedding from the actual pixels. Unrecognized or
    undecodable payloads yield null width/height/luma/embedding (corrupt
    media must not kill a 100-TB scan) unless ``strict=True``, which
    re-raises the decode error. Other container formats (webp, ...)
    need a real image library — add a branch at the same dispatch seam.

    ``fake=True`` substitutes a deterministic payload-hash-derived feature
    vector (no decode at all) so pipeline tests run on arbitrary bytes.
    """
    from . import bmp as _bmp
    from . import gif as _gif
    from . import jpeg as _jpeg
    from . import netpbm as _netpbm
    from . import png as _png
    from . import tiff as _tiff
    from . import vp8l as _vp8l
    from . import webp as _webp

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf[payload_col]
            out = pd.DataFrame({
                "media_id": pdf[id_col].astype("int64"),
                "n_bytes": payloads.map(lambda p: len(p or b"")).astype("int64"),
                "sha256": payloads.map(
                    lambda p: hashlib.sha256(p or b"").hexdigest()
                ),
            })
            if fake:
                out["width"] = pd.array([None] * len(pdf), dtype="Int64")
                out["height"] = pd.array([None] * len(pdf), dtype="Int64")
                out["mean_luma"] = payloads.map(
                    lambda p: float(np.mean(np.frombuffer(p or b"\x00", dtype=np.uint8)))
                )
                out["embedding"] = payloads.map(lambda p: _fake_features(p or b""))
            else:
                widths, heights, lumas, embs = [], [], [], []
                for p in payloads:
                    try:
                        if _jpeg.is_jpeg(p or b""):
                            img = _jpeg.decode_jpeg(p)
                        elif _netpbm.is_netpbm(p or b""):
                            img = _netpbm.decode_netpbm(p)
                        elif _gif.is_gif(p or b""):
                            img = _gif.decode_gif(p)
                        elif _tiff.is_tiff(p or b""):
                            img = _tiff.decode_tiff(p)
                        elif _bmp.is_bmp(p or b""):
                            img = _bmp.decode_bmp(p)
                        elif _webp.is_webp(p or b""):
                            # VP8L lossless pixels (r12); VP8 lossy
                            # raises into the null path (library seam)
                            img = _vp8l.decode_webp_lossless(p)
                        else:
                            img = _png.decode_png(p or b"")
                        if img.ndim == 2:      # tiff gray → (h,w,1)
                            img = img[:, :, None]
                        lum = _png.luma(img)
                        widths.append(img.shape[1])
                        heights.append(img.shape[0])
                        lumas.append(float(lum.mean()))
                        embs.append(_png.grid_embedding(lum))
                    except Exception:
                        if strict:
                            raise
                        widths.append(None)
                        heights.append(None)
                        lumas.append(None)
                        embs.append(None)
                out["width"] = pd.array(widths, dtype="Int64")
                out["height"] = pd.array(heights, dtype="Int64")
                out["mean_luma"] = pd.array(lumas, dtype="float64")
                out["embedding"] = embs
            yield out

    return df.select(id_col, payload_col).mapInPandas(kernel, IMAGE_FEATURES_SCHEMA)


AUDIO_FEATURES_SCHEMA = (
    "media_id long, n_bytes long, sample_rate long, duration_ms long, "
    "rms double, zero_crossings long, mfcc_like array<float>"
)


def extract_audio_features(df: DataFrame, payload_col: str = "payload",
                           id_col: str = "media_id", *,
                           fake: bool = False,
                           strict: bool = False) -> DataFrame:
    """Decode + feature-extract audio via Arrow-batched ``mapInPandas``.

    The REAL kernel (``fake=False``, default) decodes PCM WAV, G.711
    μ-law/A-law WAV, IMA-ADPCM WAV and FLAC payloads with the
    pure-stdlib codecs (:func:`decode_audio` — magic-byte/format-tag
    dispatch, same ``(rate, mono float64)`` contract; G.711 and ADPCM
    are real LOSSY codecs): sample rate and duration from the
    container, RMS / zero-crossings / a 13-band log-spectral feature
    vector from the actual samples. Undecodable payloads yield null
    audio features (corrupt media must not kill a 100-TB scan) unless
    ``strict=True``. Perceptual codecs (mp3/aac) need a real audio
    library swapped into the same seam.

    ``fake=True`` keeps the old stub: payload bytes treated as a crude
    8-bit waveform with a payload-hash feature vector — useful when testing
    the plumbing on arbitrary bytes.
    """
    from . import wav as _wav

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                payload = row[payload_col] or b""
                base = {
                    "media_id": int(row[id_col]),
                    "n_bytes": len(payload),
                }
                if fake:
                    data = (np.frombuffer(payload or b"\x80", dtype=np.uint8)
                            .astype(np.float64) - 128.0) / 128.0
                    rows.append({**base, "sample_rate": None,
                                 "duration_ms": None,
                                 "rms": float(np.sqrt(np.mean(data ** 2))),
                                 "zero_crossings": int(np.count_nonzero(
                                     np.diff(np.signbit(data)))),
                                 "mfcc_like": _fake_features(payload, dim=13)})
                    continue
                try:
                    rate, data = decode_audio(payload)
                    # signbit transitions, not sign products: a sample landing
                    # exactly on 0 must still count one crossing, not none
                    rows.append({**base, "sample_rate": rate,
                                 "duration_ms": int(len(data) * 1000 // rate)
                                 if rate else 0,
                                 "rms": float(np.sqrt(np.mean(data ** 2)))
                                 if len(data) else 0.0,
                                 "zero_crossings": int(np.count_nonzero(
                                     np.diff(np.signbit(data)))),
                                 "mfcc_like": _wav.band_energies(data, rate)})
                except Exception:
                    if strict:
                        raise
                    rows.append({**base, "sample_rate": None,
                                 "duration_ms": None, "rms": None,
                                 "zero_crossings": None, "mfcc_like": None})
            yield pd.DataFrame(rows, columns=[
                "media_id", "n_bytes", "sample_rate", "duration_ms", "rms",
                "zero_crossings", "mfcc_like",
            ])

    return df.select(id_col, payload_col).mapInPandas(
        kernel, AUDIO_FEATURES_SCHEMA
    )


def sample_frames(df: DataFrame, every_ms: int = 1000,
                  payload_col: str = "payload", id_col: str = "media_id",
                  duration_col: str = "duration_ms", *,
                  fake: bool = False,
                  strict: bool = False) -> DataFrame:
    """Sample video frames at a fixed cadence via Arrow-batched ``mapInPandas``.

    The REAL kernel (``fake=False``, default) dispatches on magic bytes
    and decodes Y4M (YUV4MPEG2) payloads with the pure-stdlib codec
    (:mod:`.y4m`) and MJPEG AVI payloads with :mod:`.avi` (every frame a
    baseline JPEG through :mod:`.jpeg` — the LOSSY video path): one
    output row per cadence tick within the clip, carrying the luma
    plane's digest, the frame dimensions, and its mean luma from the
    actual pixels. The sampled frame at tick ``t`` is the one on screen
    at ``t`` (``floor(t * fps)``). Undecodable payloads yield zero rows
    (corrupt media must not kill a 100-TB scan) unless ``strict=True``.
    Inter-coded codecs (h264/vp9/...) need a real media library swapped
    into the same decode seam.

    ``fake=True`` keeps the stub: rows at every cadence tick of the
    *metadata* duration with payload+index digests and null pixel features —
    the row-explosion shape on arbitrary bytes.
    """
    from . import avi as _avi
    from . import y4m as _y4m

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                payload = row[payload_col] or b""
                mid = int(row[id_col])
                if fake:
                    duration = int(row[duration_col] or 0)
                    for i, ts in enumerate(range(0, max(duration, 1), every_ms)):
                        rows.append({
                            "media_id": mid, "frame_index": i,
                            "frame_ts_ms": ts,
                            "frame_sha256": hashlib.sha256(
                                payload + str(i).encode()).hexdigest(),
                            "width": None, "height": None,
                            "frame_mean_luma": None,
                        })
                    continue
                try:
                    if _avi.is_avi(payload):
                        w, h, num, den, frames = _avi.decode_avi(payload)
                    else:
                        w, h, num, den, frames = _y4m.decode_y4m(payload)
                except Exception:
                    if strict:
                        raise
                    continue
                duration_ms = len(frames) * 1000 * den / num
                for ts in range(0, max(int(duration_ms), 1), every_ms):
                    idx = min(len(frames) - 1, ts * num // (1000 * den))
                    y = frames[idx]
                    rows.append({
                        "media_id": mid, "frame_index": int(idx),
                        "frame_ts_ms": ts,
                        "frame_sha256": hashlib.sha256(y.tobytes()).hexdigest(),
                        "width": w, "height": h,
                        "frame_mean_luma": float(y.mean()),
                    })
            yield pd.DataFrame(rows, columns=[
                "media_id", "frame_index", "frame_ts_ms", "frame_sha256",
                "width", "height", "frame_mean_luma",
            ])

    return df.select(id_col, payload_col, duration_col).mapInPandas(
        kernel, FRAME_SAMPLE_SCHEMA
    )


def synthetic_media_df(spark, n: int = 100, seed: int = 42) -> DataFrame:
    """Deterministic synthetic media table matching MEDIA_SCHEMA (test aid).

    Image rows carry REAL (tiny) PNG payloads, audio rows REAL PCM WAV
    payloads (sine + harmonic, per-row frequency), and video rows REAL Y4M
    clips (moving-gradient luma frames) so all three real decode kernels
    are exercisable end-to-end."""
    from .png import encode_png
    from .wav import encode_wav
    from .y4m import encode_y4m

    rows = []
    for i in range(n):
        mtype = ("image", "audio", "video")[i % 3]
        if mtype == "image":
            w, h = 8 + (i % 3) * 4, 6 + (i % 2) * 4
            img = np.array([[(x * 37 + y * 11 + i * 7) % 256
                             for x in range(w * 3)]
                            for y in range(h)], dtype=np.uint8)
            payload = encode_png(img.reshape(h, w, 3))
            rows.append((i, payload, mtype, "image/png", w, h, None))
        elif mtype == "audio":
            rate = 8000
            dur_s = 0.25 + (i % 4) * 0.25
            t = np.arange(int(rate * dur_s)) / rate
            freq = 200.0 + (i % 10) * 60.0
            sig = (0.6 * np.sin(2 * np.pi * freq * t)
                   + 0.2 * np.sin(2 * np.pi * 3 * freq * t))
            payload = encode_wav(sig, rate=rate)
            rows.append((i, payload, mtype, "audio/wav",
                         None, None, int(dur_s * 1000)))
        else:
            w, h = 8 + (i % 2) * 4, 6 + (i % 3) * 2
            n_frames = 5 + i % 3
            frames = [((np.arange(w)[None, :] + 3 * np.arange(h)[:, None]
                        + 5 * k + i) % 256).astype(np.uint8)
                      for k in range(n_frames)]
            payload = encode_y4m(frames, fps_num=1, fps_den=1)
            rows.append((i, payload, mtype, "video/x-yuv4mpeg",
                         w, h, n_frames * 1000))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


RESIZE_SCHEMA = ("media_id long, width long, height long, "
                 "out_w long, out_h long, resized_mean_luma double")


def resize_image_features(df: DataFrame, out_w: int, out_h: int,
                          payload_col: str = "payload",
                          id_col: str = "media_id", *,
                          strict: bool = False) -> DataFrame:
    """Decode + nearest-neighbor resize + re-featurize in one Arrow
    kernel — the standard image-preprocessing stage (thumbnail / model
    input normalization) on the real decode path. The resample is
    integer-exact: output pixel ``(x, y)`` reads source
    ``(⌊x·w/out_w⌋, ⌊y·h/out_h⌋)`` — integer products and floors only,
    so an oracle can replay every sampled coordinate and the resized
    mean arithmetically. Returns ``(media_id, width, height, out_w,
    out_h, resized_mean_luma)``; undecodable payloads yield nulls unless
    ``strict`` (same corrupt-media contract as
    :func:`extract_image_features`). The full resized raster stays in
    the kernel — only features leave (carry the payload separately if a
    resized artifact sink is needed).
    """
    from . import jpeg as _jpeg
    from . import png as _png

    if out_w < 1 or out_h < 1:
        raise ValueError(f"need positive output dims, got {out_w}x{out_h}")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            widths, heights, means = [], [], []
            for p in pdf[payload_col]:
                try:
                    if _jpeg.is_jpeg(p or b""):
                        img = _jpeg.decode_jpeg(p)
                    else:
                        img = _png.decode_png(p or b"")
                    lum = _png.luma(img)
                    h, w = lum.shape
                    sx = (np.arange(out_w, dtype=np.int64) * w) // out_w
                    sy = (np.arange(out_h, dtype=np.int64) * h) // out_h
                    resized = lum[np.ix_(sy, sx)]
                    widths.append(w)
                    heights.append(h)
                    means.append(float(resized.astype(np.float64).mean()))
                except Exception:
                    if strict:
                        raise
                    widths.append(None)
                    heights.append(None)
                    means.append(None)
            yield pd.DataFrame({
                "media_id": pdf[id_col].astype("int64"),
                "width": pd.array(widths, dtype="Int64"),
                "height": pd.array(heights, dtype="Int64"),
                "out_w": np.full(len(pdf), out_w, dtype=np.int64),
                "out_h": np.full(len(pdf), out_h, dtype=np.int64),
                "resized_mean_luma": pd.array(means, dtype="float64"),
            })

    return df.select(id_col, payload_col).mapInPandas(kernel, RESIZE_SCHEMA)


DECIMATE_SCHEMA = ("media_id long, sample_rate long, out_rate long, "
                   "n_in long, n_out long, rms double, zero_crossings long")


def decimate_audio_features(df: DataFrame, factor: int,
                            payload_col: str = "payload",
                            id_col: str = "media_id", *,
                            strict: bool = False) -> DataFrame:
    """Decode + integer-decimate audio + re-featurize in one Arrow kernel
    — the sample-rate normalization stage (every model front-end wants
    one rate). Plain every-``factor``-th-sample decimation, NOT a
    filtered resample: integer-exact (``x[::factor]``), so an oracle can
    replay which samples survive and the resulting RMS/zero-crossings
    arithmetically. (The anti-aliased path is
    :func:`.resample.resample_audio` — windowed-sinc polyphase, pure
    numpy; use that when spectra matter, this when sample identity
    matters.) Returns
    ``(media_id, sample_rate, out_rate, n_in, n_out, rms,
    zero_crossings)``; undecodable payloads yield nulls unless
    ``strict``. Zero-crossing convention matches
    :func:`extract_audio_features` (signbit diffs).
    """
    if factor < 1:
        raise ValueError(f"factor must be positive, got {factor}")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                payload = row[payload_col] or b""
                base = {"media_id": int(row[id_col])}
                try:
                    rate, data = decode_audio(payload)
                    dec = data[::factor]
                    rows.append({
                        **base, "sample_rate": int(rate),
                        "out_rate": int(rate) // factor,
                        "n_in": int(len(data)), "n_out": int(len(dec)),
                        "rms": float(np.sqrt(np.mean(dec ** 2)))
                        if len(dec) else None,
                        "zero_crossings": int(np.count_nonzero(
                            np.diff(np.signbit(dec)))),
                    })
                except Exception:
                    if strict:
                        raise
                    rows.append({**base, "sample_rate": None,
                                 "out_rate": None, "n_in": None,
                                 "n_out": None, "rms": None,
                                 "zero_crossings": None})
            yield pd.DataFrame(rows)

    return df.select(id_col, payload_col).mapInPandas(kernel,
                                                      DECIMATE_SCHEMA)


def image_dhash(df: DataFrame, payload_col: str = "payload",
                id_col: str = "media_id", *,
                fake: bool = False, strict: bool = False) -> DataFrame:
    """Perceptual difference hash per image → ``(media_id, dhash)``
    (signed 64-bit; null for undecodable payloads unless ``strict``).

    REAL kernel: magic-byte dispatch to the stdlib PNG/JPEG codecs, luma,
    8×9 block-mean pool, 64 horizontal-gradient bits (:func:`.png.dhash64`)
    — near-duplicate images (re-encodes, small edits, rescales) land
    within a few bits. ``fake=True`` hashes the payload bytes instead
    (plumbing tests on arbitrary bytes). Same mapInPandas shape as
    :func:`extract_image_features`: payload dropped immediately after
    the kernel."""
    from . import jpeg as _jpeg
    from . import png as _png
    from . import vp8l as _vp8l
    from . import webp as _webp

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hashes = []
            for p in pdf[payload_col]:
                try:
                    if fake:
                        h = int.from_bytes(
                            hashlib.sha256(p or b"").digest()[:8],
                            "big", signed=True)
                    else:
                        if _jpeg.is_jpeg(p or b""):
                            img = _jpeg.decode_jpeg(p)
                        elif _webp.is_webp(p or b""):
                            img = _vp8l.decode_webp_lossless(p)
                        else:
                            img = _png.decode_png(p or b"")
                        h = _png.dhash64(_png.luma(img))
                    hashes.append(h)
                except Exception:
                    if strict:
                        raise
                    hashes.append(None)
            yield pd.DataFrame({
                "media_id": pdf[id_col].astype("int64"),
                "dhash": pd.array(hashes, dtype="Int64"),
            })

    return (df.select(id_col, payload_col)
            .mapInPandas(kernel, "media_id long, dhash long"))


def dhash_neardup_pairs(hashes: DataFrame, max_hamming: int = 6,
                        id_col: str = "media_id",
                        hash_col: str = "dhash", *,
                        band_bits: int = 8) -> DataFrame:
    """Near-duplicate image pairs by dHash → ``(id_a, id_b, hamming)``
    with ``id_a < id_b`` and ``hamming <= max_hamming``.

    Banded blocking, the SimHash trick: the 64-bit hash splits into
    ``64/band_bits`` bands; by pigeonhole any pair within
    ``max_hamming < n_bands`` bits shares at least one identical band,
    so candidates come from ONE (band_index, band_value) equi-join —
    never all pairs — and recall is exactly 1. Each candidate verifies
    with ``bit_count(a XOR b)``.

    ``band_bits`` sizes the bucket space — THE corpus-scale knob.
    Uniformly-spread hashes put ~``n / 2^band_bits`` rows in each
    bucket, so the accidental-candidate volume grows as
    ``n_bands * n^2 / 2^band_bits``:

    - ``band_bits=8`` (default): 8 bands, 256 buckets/band, recall-1
      for ``max_hamming <= 7`` — right up to ~1M rows per corpus;
    - ``band_bits=16``: 4 bands, 65 536 buckets/band, recall-1 only
      for ``max_hamming <= 3`` — the 100-TB layout (256× fewer
      accidental candidates; a tighter radius is the price of scale).

    A ``max_hamming`` too large for the band count breaks the
    pigeonhole guarantee → raises.
    """
    from pyspark.sql import functions as F

    if band_bits not in (8, 16):
        raise ValueError(f"band_bits must be 8 or 16, got {band_bits}")
    n_bands = 64 // band_bits
    if not 0 <= max_hamming < n_bands:
        raise ValueError(f"max_hamming must be in [0, {n_bands}) for "
                         f"{n_bands}-band pigeonhole recall, got "
                         f"{max_hamming}")
    mask = (1 << band_bits) - 1
    h = (hashes.filter(F.col(hash_col).isNotNull())
         .select(F.col(id_col).alias("_id"),
                 F.col(hash_col).alias("_h")))
    deps = []
    if not h.isStreaming:
        # r13 opt (guide §2.4/§5): the banded self-join below references
        # this frame on BOTH sides, so everything upstream — typically a
        # full media DECODE kernel (shot_phashes, video signatures,
        # image dHash) — executed TWICE per materialization. The hash
        # table is the lightweight proxy (16 bytes/row vs the payloads
        # it came from); persist it once, tracked via operators.cache
        # (callers/harnesses sweep with release_all).
        h = h.persist()
        deps.append(h)
    bands = h.select(
        "_id", "_h",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("_b"),
                     F.shiftrightunsigned(F.col(_hc), i * band_bits)
                     .bitwiseAND(F.lit(mask)).alias("_v"))
            for i in range(n_bands)
            for _hc in ["_h"]])).alias("_band")
    ).select("_id", "_h", F.col("_band._b").alias("_b"),
             F.col("_band._v").alias("_v"))
    a = bands.select(F.col("_id").alias("id_a"), F.col("_h").alias("_ha"),
                     "_b", "_v")
    b = bands.select(F.col("_id").alias("id_b"), F.col("_h").alias("_hb"),
                     "_b", "_v")
    ham = F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb")))
    out = (a.join(b, ["_b", "_v"])
           .filter(F.col("id_a") < F.col("id_b"))
           .select("id_a", "id_b", ham.alias("hamming"))
           .filter(F.col("hamming") <= max_hamming)
           .distinct()
           .select("id_a", "id_b",
                   F.col("hamming").cast("long").alias("hamming")))
    if deps:
        from .cache import track_cached
        out = track_cached(out, deps)
    return out
