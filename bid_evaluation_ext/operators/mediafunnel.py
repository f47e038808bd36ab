"""Census-routed MULTIMODAL CURATION FUNNEL — the composition that
turns a mixed-payload crawl into one keep/drop manifest, certifying
the dispatch seams end to end (the corpus-wide twin of
:mod:`.audiocuration`'s single-modality chain):

1. :func:`.mediatype.sniff_media_type` classifies every payload
   (magic bytes, constant work),
2. the SAME kernel routes it to its modality processor —
   image → stdlib decode + dHash + contrast (:mod:`.png` et al.),
   audio → decode + energy VAD + K-weighted gated loudness
   (:mod:`.multimodal`, :mod:`.vad`, :mod:`.loudness`),
   decoded video (Y4M / MJPEG-AVI) → dims + frame-count duration,
   coded containers (MP3/MP4/Ogg/WebP) → the r11 header inventories,
   text / HTML / PDF → extraction + token metrics (:mod:`.html`,
   :mod:`.pdf`),
3. everything downstream of the manifest is native DataFrame work:
   per-route gates are Column predicates, image dedup is an exact-
   dHash ``groupBy → min(media_id)`` (LINEAR — no pairwise join: the
   canonical keep-lowest rule needs only the group minimum), and the
   verdict is one precedence CASE.

The whole point is ONE Arrow pass over the payload column: the
payload is the widest column by orders of magnitude, so it is read
once, decoded once by exactly the kernel its magic bytes select, and
dropped before the first shuffle. The manifest that shuffles is a few
dozen bytes per file.

At 100 TB: map-only constant work per file, then one partial-
aggregated groupBy for the dHash canonicals and one small manifest
join — no stage widens beyond the file count. Flat/low-contrast
images are gated out BEFORE dedup, which both drops junk and removes
the classic dHash hot key (every flat image hashes to 0 — a
mega-group the gate never lets reach the aggregate).

Divergences (documented): lossless (VP8L) WebP decodes to real
pixels via :mod:`.vp8l` (r12) and joins the full image path; LOSSY
(VP8) WebP stays behind the coded-pixel seam, carrying inventory
dims with a null dHash and exempt from image dedup. PDF text
extraction covers the repo's own Tj/TJ subset
(:func:`.pdf.extract_pdf_text`).
"""

from __future__ import annotations

from math import log10
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .cache import track_cached as _track_cached
from .loudness import _gate_blocks, block_loudness
from .mediatype import sniff_media_type
from .vad import vad_segments

_MANIFEST_SCHEMA = (
    "media_id long, media_type string, container string, "
    "decode_ok boolean, clean boolean, width long, height long, "
    "contrast double, dhash long, duration_ms long, n_segments long, "
    "speech_ms long, integrated_lufs double, n_tokens long, "
    "alpha_ratio double")

_MANIFEST_COLS = [
    "media_id", "media_type", "container", "decode_ok", "clean",
    "width", "height", "contrast", "dhash", "duration_ms",
    "n_segments", "speech_ms", "integrated_lufs", "n_tokens",
    "alpha_ratio"]


def _text_metrics(text: str) -> dict:
    """Token count + alpha ratio over the non-space characters — the
    funnel's cheap text-quality pair (the full Gopher battery lives in
    :mod:`.quality`; the funnel needs just enough to gate)."""
    toks = text.split()
    body = "".join(toks)
    return {"n_tokens": len(toks),
            "alpha_ratio": (sum(c.isalpha() for c in body) / len(body)
                            if body else None)}


def _decode_image(p: bytes):
    """The :func:`.multimodal.extract_image_features` magic-byte
    dispatch, factored for the funnel: payload → luma plane."""
    from . import bmp as _bmp
    from . import gif as _gif
    from . import jpeg as _jpeg
    from . import netpbm as _netpbm
    from . import png as _png
    from . import tiff as _tiff

    if _jpeg.is_jpeg(p):
        img = _jpeg.decode_jpeg(p)
    elif _netpbm.is_netpbm(p):
        img = _netpbm.decode_netpbm(p)
    elif _gif.is_gif(p):
        img = _gif.decode_gif(p)
    elif _tiff.is_tiff(p):
        img = _tiff.decode_tiff(p)
    elif _bmp.is_bmp(p):
        img = _bmp.decode_bmp(p)
    else:
        img = _png.decode_png(p)
    if img.ndim == 2:
        img = img[:, :, None]
    return _png.luma(img)


def _route_row(p: bytes, *, frame: int, hop: int, threshold_db: float,
               weighting: str) -> dict:
    """One payload → one manifest dict (everything nullable; decode
    failures set ``decode_ok`` False — corruption is data, not an
    error)."""
    from . import png as _png

    mt, cont, _detail = sniff_media_type(p)
    row = {"media_type": mt, "container": cont, "decode_ok": False,
           "clean": None, "width": None, "height": None,
           "contrast": None, "dhash": None, "duration_ms": None,
           "n_segments": None, "speech_ms": None,
           "integrated_lufs": None, "n_tokens": None,
           "alpha_ratio": None}
    try:
        if mt == "image" and cont == "webp":
            from . import png as _png
            from .vp8l import decode_webp_lossless
            from .webp import parse_webp_inventory
            try:
                # VP8L lossless pixels (r12) go through the full
                # image path — dHash, contrast, dedup all light up
                rgba = decode_webp_lossless(p)
                lum = _png.luma(rgba)
                row.update(decode_ok=True, clean=True,
                           width=int(lum.shape[1]),
                           height=int(lum.shape[0]),
                           contrast=float(lum.std()),
                           dhash=_png.dhash64(lum))
            except ValueError:
                # VP8 lossy stays the documented coded-pixel seam:
                # header inventory only, null dHash, dedup-exempt
                inv = parse_webp_inventory(p)
                row.update(decode_ok=bool(inv["is_webp"]),
                           clean=bool(inv["clean"]),
                           width=inv["width"], height=inv["height"])
        elif mt == "image":
            lum = _decode_image(p)
            row.update(decode_ok=True, clean=True,
                       width=int(lum.shape[1]),
                       height=int(lum.shape[0]),
                       contrast=float(lum.std()),
                       dhash=_png.dhash64(lum))
        elif mt == "audio" and cont == "mpeg":
            from .mp3 import parse_mp3_inventory
            inv = parse_mp3_inventory(p)
            row.update(decode_ok=inv["n_frames"] > 0,
                       clean=bool(inv["clean"]),
                       duration_ms=inv["duration_ms"])
        elif mt == "audio" and cont == "ogg":
            from .ogg import parse_ogg_inventory
            inv = parse_ogg_inventory(p)
            row.update(decode_ok=inv["is_ogg"],
                       clean=bool(inv["clean"]),
                       duration_ms=inv["duration_ms"])
        elif mt == "audio":
            from .multimodal import decode_audio
            rate, samples = decode_audio(p)
            segs = vad_segments(samples, frame=frame, hop=hop,
                                threshold_db=threshold_db)
            lufs = _gate_blocks(
                block_loudness(samples, rate, weighting=weighting))
            row.update(
                decode_ok=True, clean=True,
                duration_ms=len(samples) * 1000 // rate,
                n_segments=len(segs),
                speech_ms=sum(nf for _, nf, _ in segs)
                * hop * 1000 // rate,
                integrated_lufs=lufs)
        elif mt == "video" and cont == "mp4":
            from .mp4 import parse_mp4_inventory
            inv = parse_mp4_inventory(p)
            # tkhd dims are 16.16 fixed-point doubles — round to the
            # manifest's integer pixel columns
            row.update(decode_ok=bool(inv["is_mp4"]),
                       clean=bool(inv["clean"]),
                       duration_ms=inv["duration_ms"],
                       width=(None if inv["width"] is None
                              else int(round(inv["width"]))),
                       height=(None if inv["height"] is None
                               else int(round(inv["height"]))))
        elif mt == "video":
            from .avi import decode_avi
            from .y4m import decode_y4m
            w, h, fn, fd, frames = (decode_y4m(p) if cont == "y4m"
                                    else decode_avi(p))
            row.update(decode_ok=True, clean=True, width=w, height=h,
                       duration_ms=len(frames) * 1000 * fd // fn)
        elif mt == "document" and cont == "pdf":
            from .pdf import extract_pdf_text
            _n_pages, _n_chars, text = extract_pdf_text(p)
            row.update(decode_ok=True, clean=True,
                       **_text_metrics(text))
        elif mt == "text" and cont == "html":
            from .html import extract_html_text
            text = extract_html_text(p.decode("utf-8"))["text"]
            row.update(decode_ok=True, clean=True,
                       **_text_metrics(text))
        elif mt == "text":
            row.update(decode_ok=True, clean=True,
                       **_text_metrics(p.decode("utf-8")))
        # archive / warc / unknown: no processor — decode_ok stays
        # False and the verdict reads unknown_route off media_type
    except Exception:
        row.update(decode_ok=False, clean=None, width=None,
                   height=None, contrast=None, dhash=None,
                   duration_ms=None, n_segments=None, speech_ms=None,
                   integrated_lufs=None, n_tokens=None,
                   alpha_ratio=None,
                   media_type=mt, container=cont)
    if row["integrated_lufs"] is not None:
        row["integrated_lufs"] = float(row["integrated_lufs"])
    return row


def funnel_manifest(df: DataFrame, payload_col: str = "payload",
                    id_col: str = "media_id", *, frame: int = 256,
                    hop: int = 128, threshold_db: float = -40.0,
                    weighting: str = "k") -> DataFrame:
    """ONE Arrow pass: sniff + route + per-modality features for every
    payload → the funnel manifest (see module docstring). Nulls mean
    "field not produced by this route"."""

    # int64 feature columns MUST be nullable-Int64, never float64: a
    # mixed None+int batch would otherwise coerce to float64 and lose
    # the low bits of 64-bit dHashes (observed: ...6888 → ...7296)
    _INT_COLS = ("width", "height", "dhash", "duration_ms",
                 "n_segments", "speech_ms", "n_tokens")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, p in zip(pdf[id_col], pdf[payload_col]):
                row = _route_row(bytes(p or b""), frame=frame, hop=hop,
                                 threshold_db=threshold_db,
                                 weighting=weighting)
                row["media_id"] = int(mid)
                rows.append(row)
            out = pd.DataFrame(rows, columns=_MANIFEST_COLS)
            for c in _INT_COLS:
                out[c] = pd.array([r[c] for r in rows], dtype="Int64")
            yield out

    return df.select(id_col, payload_col).mapInPandas(
        kernel, _MANIFEST_SCHEMA)


def media_funnel(df: DataFrame, payload_col: str = "payload",
                 id_col: str = "media_id", *, min_dim: int = 8,
                 min_contrast: float = 2.0,
                 min_speech_ratio: float = 0.2,
                 min_lufs: float = -35.0, max_lufs: float = -5.0,
                 max_duration_ms: int = 3_600_000,
                 min_tokens: int = 5, min_alpha_ratio: float = 0.5,
                 weighting: str = "k") -> DataFrame:
    """The unified keep/drop verdict over a mixed-payload corpus:

    ``(media_id, media_type, container, width, height, contrast,
    duration_ms, speech_ratio, integrated_lufs, n_tokens, alpha_ratio,
    dup_of, keep, drop_reason)``

    ``drop_reason`` by precedence: unknown_route → undecodable →
    damaged → too_small → low_contrast → no_speech →
    low_speech_ratio → loudness → too_long → short_text → low_alpha →
    duplicate; null when kept. Image dedup is exact-dHash keep-lowest
    over images that PASSED their content gates (gates shrink the set
    before the grouping stage, and flat images — the dHash-0 hot key —
    never reach it); it is one ``groupBy(dhash).min(media_id)`` plus a
    manifest join, never a pairwise join. The manifest is persisted so
    the decode kernel runs exactly once across the dedup branch and
    the verdict."""
    feats = (funnel_manifest(df, payload_col, id_col,
                             weighting=weighting)
             .withColumn("speech_ratio",
                         F.try_divide("speech_ms", "duration_ms")))
    is_image = (F.col("media_type") == "image")
    image_gated = (is_image & F.col("decode_ok")
                   & F.coalesce(F.col("clean"), F.lit(False))
                   & (F.least("width", "height") >= min_dim)
                   & (F.col("contrast").isNull()
                      | (F.col("contrast") >= min_contrast)))
    feats = feats.withColumn("_image_gated", image_gated).persist()

    canon = (feats.filter(F.col("_image_gated")
                          & F.col("dhash").isNotNull())
             .groupBy("dhash")
             .agg(F.min("media_id").alias("canon_id")))
    out = (feats.join(canon, "dhash", "left")
           .withColumn("dup_of",
                       F.when(F.col("canon_id") < F.col("media_id"),
                              F.col("canon_id"))))

    audio_decoded = ((F.col("media_type") == "audio")
                     & F.col("n_segments").isNotNull())
    containerish = (F.col("duration_ms").isNotNull()
                    & F.col("n_segments").isNull())
    textish = F.col("n_tokens").isNotNull()
    reason = (
        F.when(F.col("media_type").isin("unknown", "archive")
               | ((F.col("media_type") == "document")
                  & (F.col("container") != "pdf")),
               F.lit("unknown_route"))
        .when(~F.col("decode_ok"), F.lit("undecodable"))
        .when(~F.coalesce(F.col("clean"), F.lit(True)),
              F.lit("damaged"))
        .when(F.least("width", "height") < min_dim,
              F.lit("too_small"))
        .when(is_image & (F.col("contrast") < min_contrast),
              F.lit("low_contrast"))
        .when(audio_decoded & (F.col("n_segments") == 0),
              F.lit("no_speech"))
        .when(audio_decoded
              & (F.col("speech_ratio") < min_speech_ratio),
              F.lit("low_speech_ratio"))
        .when(audio_decoded
              & (F.col("integrated_lufs").isNull()
                 | ~F.col("integrated_lufs").between(min_lufs,
                                                     max_lufs)),
              F.lit("loudness"))
        .when(containerish & (F.col("duration_ms") > max_duration_ms),
              F.lit("too_long"))
        .when(textish & (F.col("n_tokens") < min_tokens),
              F.lit("short_text"))
        .when(textish & (F.col("alpha_ratio") < min_alpha_ratio),
              F.lit("low_alpha"))
        .when(F.col("dup_of").isNotNull(), F.lit("duplicate")))
    result = (out.withColumn("drop_reason", reason)
              .withColumn("keep", F.col("drop_reason").isNull())
              .select("media_id", "media_type", "container", "width",
                      "height", "contrast", "duration_ms",
                      "speech_ratio", "integrated_lufs", "n_tokens",
                      "alpha_ratio", "dup_of", "keep", "drop_reason"))
    return _track_cached(result, [feats])
