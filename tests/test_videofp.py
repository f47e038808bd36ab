"""Video fingerprint: majority-bit signature semantics, AVI≡Y4M
container invariance of per-frame hashes, near-dup delegation, and the
corrupt-payload path."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from bid_evaluation_ext.operators.videofp import (
    video_dhash_frames,
    video_neardup_pairs,
    video_signature,
)


def _frames(nf, d=0):
    return [((7 * np.arange(9)[None, :] ** 2 + 13 * np.arange(8)[:, None]
              + 5 * k + 3 * d) % 256).astype(np.uint8) for k in range(nf)]


def test_signature_majority_semantics(spark):
    # 3 frames: bit set in 2 → majority 1; bit set in 1 → 0; tie (2 of 4
    # below) impossible with odd count — test tie with 2 frames: 1 of 2
    # sets the bit → 2*1 > 2 is False → 0 (ties lose)
    rows = [(1, 0, 0b1011), (1, 1, 0b0011), (1, 2, 0b0110),
            (2, 0, 0b1), (2, 1, 0b0),
            (3, 0, -1), (3, 1, -1), (3, 2, 0)]  # bit 63 via -1 (all ones)
    df = spark.createDataFrame(rows, "media_id long, frame_index long, dhash long")
    got = {r["media_id"]: r for r in video_signature(df).collect()}
    assert got[1]["sig64"] == 0b0011 and got[1]["n_frames"] == 3
    assert got[2]["sig64"] == 0  # tie → 0
    assert got[3]["sig64"] == -1  # majority all-ones incl. the sign bit


def test_container_invariance_and_corrupt(spark):
    from bid_evaluation_ext.operators.avi import encode_avi_mjpeg
    from bid_evaluation_ext.operators.y4m import encode_y4m

    # MJPEG needs MCU-aligned dims for bit-exactness → use 16x24
    frames = []
    for k in range(3):
        blocks = ((11 * np.arange(2)[None, :] + 5 * np.arange(3)[:, None]
                   + 7 * k) % 256)
        frames.append(np.repeat(np.repeat(blocks, 8, 0), 8, 1)
                      .astype(np.uint8))
    rows = [(1, bytearray(encode_avi_mjpeg(frames, qtable=1))),
            (2, bytearray(encode_y4m(frames, mono=True))),
            (3, bytearray(b"junk"))]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = video_dhash_frames(df).collect()
    by = {}
    for r in out:
        by.setdefault(r["media_id"], {})[r["frame_index"]] = r["dhash"]
    assert 3 not in by and by[1] == by[2] and len(by[1]) == 3
    with pytest.raises(Exception):
        video_dhash_frames(df, strict=True).collect()
    # identical videos → identical signatures → hamming-0 near-dup pair
    sigs = video_signature(video_dhash_frames(df))
    pairs = video_neardup_pairs(sigs, max_hamming=2).collect()
    assert [(p["id_a"], p["id_b"], p["hamming"]) for p in pairs] == [(1, 2, 0)]


def test_registry_query_shape(spark):
    """One signature per document for the 9x8 Y4M corpus the
    ``mm_video_signature_documents`` registry query used to build:
    nf = 2 + doc_id % 4 frames of :func:`_frames`."""
    import pandas as pd

    from bid_evaluation_ext.operators.y4m import encode_y4m

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id").repartition(spark.sparkContext.defaultParallelism)

    def gen(batches):
        for pdf in batches:
            payloads = [encode_y4m(_frames(2 + int(d) % 4, int(d)),
                                   fps_num=5, fps_den=1, mono=True)
                        for d in pdf["doc_id"]]
            yield pd.DataFrame({"media_id": pdf["doc_id"], "payload": payloads})

    media = docs.mapInPandas(gen, "media_id long, payload binary")
    out = video_signature(video_dhash_frames(media, strict=True)).collect()
    assert len(out) == 500
    assert all(r["n_frames"] in (2, 3, 4, 5) for r in out)
