"""Pure-stdlib IMA ADPCM (DVI4) lossy audio codec in a WAV container.

Second LOSSY codec in the multimodal audio seam (G.711's companding is
memoryless; this is the classic ADAPTIVE differential coder): 4 bits
per sample, an 89-entry step-size table and a per-sample step-index
adaptation — WAV format tag ``0x11`` (``WAVE_FORMAT_IMA_ADPCM``), the
block layout from the public IMA "Recommended Practices for Enhancing
Digital Audio Compatibility" (rev 3.00, 1992), as carried by every
``.wav`` writer since. Mono blocks: a 4-byte header (predictor int16
LE = sample 0, step index uint8, reserved) followed by
``block_align - 4`` data bytes holding two samples each, LOW nibble
first.

Encoder and decoder are sample-sequential by nature (the step index is
a running state), so the hot loop is plain Python over small payload
buffers inside Arrow-batched kernels — the distribution axis is
payloads-per-task, not samples-per-payload, exactly like the other
codec kernels. Corrupt payloads raise ``ValueError``.
"""

from __future__ import annotations

import struct

import numpy as np

from .g711 import (
    WAVE_FORMAT_IMA_ADPCM,
    _wav_container,
    parse_wav_chunks,
)

_INDEX_TABLE = (-1, -1, -1, -1, 2, 4, 6, 8,
                -1, -1, -1, -1, 2, 4, 6, 8)

_STEP_TABLE = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
    34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130,
    143, 157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449,
    494, 544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411,
    1552, 1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026,
    4428, 4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442,
    11487, 12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623,
    27086, 29794, 32767,
)


def _clamp16(v: int) -> int:
    return -32768 if v < -32768 else (32767 if v > 32767 else v)


def _encode_nibble(sample: int, predictor: int, index: int):
    """One IMA step: → ``(nibble, new_predictor, new_index)``."""
    step = _STEP_TABLE[index]
    diff = sample - predictor
    nibble = 8 if diff < 0 else 0
    if diff < 0:
        diff = -diff
    if diff >= step:
        nibble |= 4
        diff -= step
    if diff >= step >> 1:
        nibble |= 2
        diff -= step >> 1
    if diff >= step >> 2:
        nibble |= 1
    return nibble, *_decode_step(nibble, predictor, index)[1:]


def _decode_step(nibble: int, predictor: int, index: int):
    """One IMA step: → ``(sample, new_predictor, new_index)``."""
    step = _STEP_TABLE[index]
    diff = step >> 3
    if nibble & 4:
        diff += step
    if nibble & 2:
        diff += step >> 1
    if nibble & 1:
        diff += step >> 2
    predictor = _clamp16(predictor - diff if nibble & 8
                         else predictor + diff)
    index += _INDEX_TABLE[nibble]
    index = 0 if index < 0 else (88 if index > 88 else index)
    return predictor, predictor, index


def encode_wav_adpcm(samples: np.ndarray, rate: int = 8000,
                     block_align: int = 256) -> bytes:
    """Mono float samples in [-1, 1] → IMA-ADPCM WAV payload (test aid).

    Same int16 quantization as the other audio fixture encoders; the
    step index carries across blocks (each block header re-anchors the
    predictor exactly, so this only speeds adaptation).
    """
    if block_align < 8 or block_align % 4:
        raise ValueError("block_align must be a multiple of 4, >= 8")
    clipped = np.clip(np.asarray(samples, dtype=np.float64), -1.0, 1.0)
    pcm = [int(v) for v in (clipped * 32767.0).astype(np.int16)]
    spb = (block_align - 4) * 2 + 1
    blocks = []
    index = 0
    for start in range(0, max(len(pcm), 1), spb):
        chunk = pcm[start:start + spb]
        if not chunk:
            break
        predictor = chunk[0]
        blocks.append(struct.pack("<hBB", predictor, index, 0))
        nibbles = []
        for s in chunk[1:]:
            nib, predictor, index = _encode_nibble(s, predictor, index)
            nibbles.append(nib)
        # pad the final partial block with repeats of the last predictor
        # (decoded padding is trimmed via the fact chunk)
        while len(nibbles) < (block_align - 4) * 2:
            nib, predictor, index = _encode_nibble(predictor, predictor,
                                                   index)
            nibbles.append(nib)
        packed = bytes(nibbles[i] | (nibbles[i + 1] << 4)
                       for i in range(0, len(nibbles), 2))
        blocks.append(packed)
    data = b"".join(blocks)
    spb_rate = rate * block_align // spb if spb else rate
    fmt = struct.pack("<HHIIHHHH", WAVE_FORMAT_IMA_ADPCM, 1, rate,
                      spb_rate, block_align, 4, 2, spb)
    return _wav_container(fmt, data, len(pcm))


def decode_wav_adpcm(payload: bytes) -> tuple[int, np.ndarray]:
    """IMA-ADPCM WAV payload → ``(sample_rate, mono float64 samples)``.

    Same contract as :func:`.wav.decode_wav` / :func:`.g711
    .decode_wav_g711`: [-1, 1] floats (int16 / 32768), ``ValueError``
    on malformed payloads, fact-chunk sample count trims block padding.
    Mono only (stereo IMA interleaves 4-byte channel words — a branch
    at this seam when needed).
    """
    fmt, data, fact_n = parse_wav_chunks(payload)
    if len(fmt) < 20:
        raise ValueError("IMA-ADPCM fmt chunk too short")
    tag, n_channels, rate, _, block_align, bits, _, spb = \
        struct.unpack_from("<HHIIHHHH", fmt)
    if tag != WAVE_FORMAT_IMA_ADPCM:
        raise ValueError(f"not an IMA-ADPCM WAV (format tag {tag:#x})")
    if n_channels != 1:
        raise ValueError("only mono IMA-ADPCM is supported")
    if bits != 4:
        raise ValueError(f"unsupported IMA-ADPCM bit depth {bits}")
    if block_align < 8:
        raise ValueError("bad block alignment")
    if spb != (block_align - 4) * 2 + 1:
        raise ValueError("samples-per-block disagrees with block align")
    out = []
    for start in range(0, len(data), block_align):
        block = data[start:start + block_align]
        if len(block) < 4:
            raise ValueError("truncated IMA-ADPCM block header")
        predictor, index, _ = struct.unpack_from("<hBB", block)
        if index > 88:
            raise ValueError(f"step index {index} out of range")
        out.append(predictor)
        for byte in block[4:]:
            for nib in (byte & 0x0F, byte >> 4):
                sample, predictor, index = _decode_step(nib, predictor,
                                                        index)
                out.append(sample)
    pcm = np.asarray(out, dtype=np.float64) / 32768.0
    if fact_n is not None:
        if fact_n > len(pcm):
            raise ValueError("fact chunk claims more samples than decoded")
        pcm = pcm[:fact_n]
    return rate, pcm
