"""Audio fingerprinting + near-dup, completing the per-modality dedup set.

Text has MinHash/SimHash, images have dHash (:func:`.multimodal
.image_dhash`) — this adds the audio leg: a Haitsma-Kalker-shaped
robust fingerprint (the public "A Highly Robust Audio Fingerprint"
system, ISMIR 2002, uses the SIGN OF ENERGY DIFFERENCES between
adjacent frames/bands as its hash bits). Here the bits are the sign of
successive NON-OVERLAPPING frame-energy differences — time-domain only
(no FFT), which keeps every bit integer-exact: decoded samples are
``pcm/32768`` so a frame's energy is an integer scaled by ``2^-30``
and sums stay below 2^53, making the energy comparison reproducible
bit-for-bit by an integer-arithmetic oracle.

The 64-bit packed fingerprint drops straight into
:func:`.multimodal.dhash_neardup_pairs` (banded pigeonhole blocking,
``bit_count`` verify) — ONE generic Hamming near-dup kernel serves
both modalities. Scale shape matches the other media kernels:
``mapInPandas`` over (id, payload), payload dropped at the kernel
boundary, null fingerprints for undecodable audio unless ``strict``.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .multimodal import decode_audio

AUDIO_FP_SCHEMA = "media_id long, n_frames long, fp64 long"


def frame_energy_bits(samples: np.ndarray, frame: int = 256):
    """``(energies, bits)`` — per-frame energy (sum of squared samples)
    over non-overlapping frames and the gradient bits ``E[i+1] > E[i]``."""
    nf = len(samples) // frame
    if nf == 0:
        return np.empty(0), np.empty(0, dtype=bool)
    e = (samples[:nf * frame].reshape(nf, frame) ** 2).sum(axis=1)
    return e, e[1:] > e[:-1]


def pack_bits64(bits) -> int:
    """MSB-first pack of up to 64 bits into a SIGNED 64-bit int
    (two's complement, zero-padded on the right) — the same signed-long
    convention as :func:`.png.dhash64` so one near-dup kernel serves
    image and audio hashes."""
    v = 0
    used = 0
    for b in bits[:64]:
        v = (v << 1) | int(bool(b))
        used += 1
    v <<= 64 - used
    return v - (1 << 64) if v >= (1 << 63) else v


def audio_fingerprint(df: DataFrame, payload_col: str = "payload",
                      id_col: str = "media_id", *, frame: int = 256,
                      strict: bool = False) -> DataFrame:
    """Fingerprint audio payloads → ``(media_id, n_frames, fp64)``.

    Decodes through the full :func:`.multimodal.decode_audio` dispatch
    (PCM / G.711 / ADPCM / FLAC), so re-encodes of the same audio in a
    LOSSLESS container fingerprint identically, and lossy re-encodes
    land within a few bits (the near-dup property). Undecodable
    payloads yield nulls unless ``strict``.
    """
    if frame < 1:
        raise ValueError(f"frame must be positive, got {frame}")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n_frames, fps = [], []
            for p in pdf[payload_col]:
                try:
                    _, samples = decode_audio(p or b"")
                    e, bits = frame_energy_bits(samples, frame)
                    if len(e) == 0:
                        raise ValueError("audio shorter than one frame")
                    n_frames.append(len(e))
                    fps.append(pack_bits64(bits))
                except Exception:
                    if strict:
                        raise
                    n_frames.append(None)
                    fps.append(None)
            yield pd.DataFrame({
                "media_id": pdf[id_col].astype("int64"),
                "n_frames": pd.array(n_frames, dtype="Int64"),
                "fp64": pd.array(fps, dtype="Int64"),
            })

    return (df.select(id_col, payload_col)
            .mapInPandas(kernel, AUDIO_FP_SCHEMA))


def audio_neardup_pairs(fps: DataFrame, max_hamming: int = 6,
                        id_col: str = "media_id") -> DataFrame:
    """Near-duplicate audio pairs by fingerprint → ``(id_a, id_b,
    hamming)`` — delegates to the generic banded Hamming kernel
    (:func:`.multimodal.dhash_neardup_pairs`): 8×8-bit pigeonhole
    bands, recall exactly 1 for ``max_hamming < 8``, bucket equi-join
    (never all pairs)."""
    from .multimodal import dhash_neardup_pairs

    return dhash_neardup_pairs(fps, max_hamming=max_hamming,
                               id_col=id_col, hash_col="fp64")
