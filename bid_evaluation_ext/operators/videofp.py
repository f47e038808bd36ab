"""Video fingerprinting + near-dup — the last per-modality dedup leg.

Text has MinHash/SimHash, images dHash, audio the frame-energy
fingerprint (:mod:`.audiofp`); video gets the standard composition the
public near-dup-video literature uses (e.g. the keyframe-signature
schemes surveyed around TRECVID copy detection): a PER-FRAME perceptual
hash sequence, pooled into one compact per-video signature that is
robust to re-encodes and small edits.

- :func:`video_dhash_frames` — decode (Y4M or MJPEG AVI via magic-byte
  dispatch, the same seam as :func:`.multimodal.sample_frames`) and
  dHash every frame's luma plane (:func:`.png.dhash64`).
- :func:`video_signature` — majority vote per bit position across a
  video's frame hashes (ties → 0), packed in the shared signed-64
  MSB-first convention. Pure JVM columnar aggregation — 64 shift/mask
  sums per group, no UDF, one shuffle on the video id.
- :func:`video_neardup_pairs` — the SAME generic banded Hamming kernel
  as images and audio (:func:`.multimodal.dhash_neardup_pairs`).

Scale shape: the decode kernel is ``mapInPandas`` over (id, payload)
with the payload dropped at the kernel boundary; everything after the
per-frame hash is narrow (id, index, long) columns.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

VIDEO_FRAME_HASH_SCHEMA = "media_id long, frame_index long, dhash long"


def video_dhash_frames(df: DataFrame, payload_col: str = "payload",
                       id_col: str = "media_id", *,
                       strict: bool = False) -> DataFrame:
    """Per-frame perceptual hashes → ``(media_id, frame_index, dhash)``.

    Undecodable payloads yield zero rows unless ``strict`` (corrupt
    media must not kill a 100-TB scan)."""
    from . import avi as _avi
    from . import png as _png
    from . import y4m as _y4m

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, p in zip(pdf[id_col], pdf[payload_col]):
                payload = p or b""
                try:
                    if _avi.is_avi(payload):
                        _, _, _, _, frames = _avi.decode_avi(payload)
                    else:
                        _, _, _, _, frames = _y4m.decode_y4m(payload)
                except Exception:
                    if strict:
                        raise
                    continue
                for k, y in enumerate(frames):
                    rows.append({"media_id": int(mid), "frame_index": k,
                                 "dhash": _png.dhash64(
                                     y.astype("float64"))})
            yield pd.DataFrame(rows, columns=["media_id", "frame_index",
                                              "dhash"])

    return (df.select(id_col, payload_col)
            .mapInPandas(kernel, VIDEO_FRAME_HASH_SCHEMA))


def video_signature(frames: DataFrame, id_col: str = "media_id",
                    hash_col: str = "dhash") -> DataFrame:
    """Majority-bit pool over a video's frame hashes →
    ``(media_id, n_frames, sig64)``.

    Bit ``i`` of the signature is 1 iff a STRICT majority of the
    video's frames set bit ``i`` (ties → 0) — stable under dropped or
    inserted frames, unlike hashing the concatenation. Java's silent
    long overflow at bit 63 is exactly two's-complement packing.

    The 64 bit-sum aggregates and the 64-term packing chain are built
    as ``F.expr`` SQL strings (r12 opt): the Column-builder form made
    ~1,200 py4j round-trips PER CALL — a measured ~1 s of pure
    driver-side Python↔JVM chatter before any job ran. The parsed
    expressions are identical, so the plan and results are unchanged."""
    ones = [F.expr(f"sum(shiftrightunsigned(`{hash_col}`, {i}) & 1)")
            .alias(f"_c{i}") for i in range(64)]
    agg = frames.groupBy(F.col(id_col)).agg(
        F.count(F.lit(1)).alias("n_frames"), *ones)
    sig = F.expr(" + ".join(
        f"(CASE WHEN _c{i} * 2 > n_frames "
        f"THEN shiftleft(CAST(1 AS BIGINT), {i}) "
        f"ELSE CAST(0 AS BIGINT) END)" for i in range(64)))
    return agg.select(id_col, "n_frames", sig.alias("sig64"))


def video_neardup_pairs(sigs: DataFrame, max_hamming: int = 6,
                        id_col: str = "media_id") -> DataFrame:
    """Near-duplicate video pairs by signature → ``(id_a, id_b,
    hamming)`` via the shared banded pigeonhole kernel."""
    from .multimodal import dhash_neardup_pairs

    return dhash_neardup_pairs(sigs, max_hamming=max_hamming,
                               id_col=id_col, hash_col="sig64")
