"""Audio fingerprint + near-dup: pure-function bit/packing semantics,
lossless-container invariance through the decode dispatch, banded
near-dup vs brute force, and the corrupt-payload null path."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from bid_evaluation_ext.operators.audiofp import (
    audio_fingerprint,
    audio_neardup_pairs,
    frame_energy_bits,
    pack_bits64,
)


def test_frame_energy_bits_and_packing():
    # frames of 4: energies 0, 4*(0.5²)=1.0, 4*(0.25²)=0.25 → bits [1, 0]
    s = np.array([0, 0, 0, 0, .5, -.5, .5, -.5, .25, .25, -.25, -.25])
    e, bits = frame_energy_bits(s, frame=4)
    assert np.allclose(e, [0.0, 1.0, 0.25]) and list(bits) == [True, False]
    # MSB-first, zero-padded right: [1,0] → 10 followed by 62 zeros → signed
    assert pack_bits64([1, 0]) == (0b10 << 62) - (1 << 64)
    assert pack_bits64([0, 1]) == 0b01 << 62
    assert pack_bits64([]) == 0
    assert pack_bits64([1] * 64) == -1
    # short audio: zero frames
    e, bits = frame_energy_bits(np.array([1.0]), frame=4)
    assert len(e) == 0 and len(bits) == 0


def test_lossless_container_invariance(spark):
    """The same samples fingerprint identically from PCM WAV and FLAC
    (lossless); the G.711 re-encode of the same audio lands nearby —
    the near-dup property a lossy re-encode must satisfy."""
    from bid_evaluation_ext.operators.flac import encode_flac
    from bid_evaluation_ext.operators.g711 import encode_wav_g711
    from bid_evaluation_ext.operators.wav import encode_wav

    k = np.arange(2048)
    s = (((3 * k + 5) % 97) - 48) / 64.0
    rows = [(1, bytearray(encode_wav(s, rate=8000))),
            (2, bytearray(encode_flac(s, rate=8000))),
            (3, bytearray(encode_wav_g711(s, rate=8000, law="ulaw"))),
            (4, bytearray(b"not audio"))]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: r for r in audio_fingerprint(df).collect()}
    assert got[1]["fp64"] == got[2]["fp64"] and got[1]["n_frames"] == 8
    ham = bin((got[1]["fp64"] ^ got[3]["fp64"]) & (2 ** 64 - 1)).count("1")
    assert ham <= 3  # companding noise flips at most a few gradient bits
    assert got[4]["fp64"] is None  # corrupt → null, scan survives
    with pytest.raises(Exception):
        audio_fingerprint(df, strict=True).collect()


def test_neardup_pairs_match_brute_force(spark):
    """Banded blocking finds EXACTLY the brute-force Hamming pairs
    (pigeonhole recall 1 for max_hamming < 8)."""
    rng = np.random.default_rng(11)
    base = int(rng.integers(-2 ** 62, 2 ** 62))
    fps = [base]
    for nbits in (1, 3, 7, 9, 23):          # planted neighbors
        u = base & (2 ** 64 - 1)
        for b in rng.choice(64, nbits, replace=False):
            u ^= 1 << int(b)
        fps.append(u - (1 << 64) if u >= (1 << 63) else u)
    fps += [int(rng.integers(-2 ** 63, 2 ** 63)) for _ in range(20)]
    rows = [(i, v) for i, v in enumerate(fps)] + [(99, None)]
    df = spark.createDataFrame(rows, "media_id long, fp64 long")
    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in audio_neardup_pairs(df, max_hamming=6).collect()}
    brute = {}
    for i in range(len(fps)):
        for j in range(i + 1, len(fps)):
            h = bin((fps[i] ^ fps[j]) & (2 ** 64 - 1)).count("1")
            if h <= 6:
                brute[(i, j)] = h
    assert got == brute and (0, 1) in got and (0, 2) in got
    with pytest.raises(ValueError):
        audio_neardup_pairs(df, max_hamming=8)


def test_fingerprint_registry_query_shape(spark):
    """One fingerprint per document for the sawtooth-WAV corpus the
    ``mm_audio_fingerprint_documents`` registry query used to build:
    sample k = ((a*k+b) mod 97 - 48)/64 with a, b, n derived from doc_id."""
    import pandas as pd

    from bid_evaluation_ext.operators.wav import encode_wav

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id").repartition(spark.sparkContext.defaultParallelism)

    def gen(batches):
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                a = 1 + int(d) % 5
                b = int(d) % 11
                n = 2048 + int(d) % 4 * 256
                k = np.arange(n)
                s = (((a * k + b) % 97) - 48) / 64.0
                payloads.append(encode_wav(s, rate=8000))
            yield pd.DataFrame({"media_id": pdf["doc_id"], "payload": payloads})

    media = docs.mapInPandas(gen, "media_id long, payload binary")
    out = audio_fingerprint(media, frame=256, strict=True).collect()
    assert len(out) == 500  # one fingerprint per document
    assert all(r["n_frames"] in (8, 9, 10, 11) for r in out)
    assert all(r["fp64"] is not None for r in out)
