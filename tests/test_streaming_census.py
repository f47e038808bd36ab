"""Streaming media census: batch parity, replay skip, restart
resume, bounded state."""

from __future__ import annotations

import numpy as np
import pytest

from bid_evaluation_ext.operators.mediatype import (
    census_counts,
    media_census,
)
from bid_evaluation_ext.streaming.census import StreamingMediaCensus


def _payload(i: int) -> bytes:
    from bid_evaluation_ext.operators.png import encode_png
    from bid_evaluation_ext.operators.wav import encode_wav

    img = np.full((8, 8), 100, dtype=np.uint8)
    x = 0.2 * np.sin(2 * np.pi * 400 * np.arange(2000) / 8000.0)
    return [encode_png(img), encode_wav(x, rate=8000),
            b"plain utf-8 prose here", b"\x00\xff\x81 junk"][i % 4]


def _df(spark, ids):
    return spark.createDataFrame([(i, _payload(i)) for i in ids],
                                 "media_id long, payload binary")


def _totals(census):
    return {(r["media_type"], r["container"]): r["n_files"]
            for r in census.counts().collect()}


def test_incremental_equals_one_shot(spark, tmp_path):
    c = StreamingMediaCensus(spark, str(tmp_path / "st"))
    ids = list(range(40))
    for b in range(3):                    # 3 micro-batches
        c.process_batch(_df(spark, ids[b::3]), batch_id=b,
                        query_token="q1")
    want = {(r["media_type"], r["container"]): r["n_files"]
            for r in census_counts(
                media_census(_df(spark, ids))).collect()}
    assert _totals(c) == want
    assert c.n_files == 40
    # state is bounded by route kinds, not corpus size
    assert c.counts().count() == len(want) <= 8


def test_replay_skip_and_query_token_guard(spark, tmp_path):
    c = StreamingMediaCensus(spark, str(tmp_path / "st"))
    c.process_batch(_df(spark, range(8)), batch_id=0, query_token="q")
    before = _totals(c)
    # duplicate batch id under the SAME query: skipped
    c.process_batch(_df(spark, range(8)), batch_id=0, query_token="q")
    assert _totals(c) == before
    # batch id 0 under a NEW query token: processed (ids restart)
    c.process_batch(_df(spark, range(8, 16)), batch_id=0,
                    query_token="q2")
    assert sum(_totals(c).values()) == 16


def test_restart_resumes_from_manifest(spark, tmp_path):
    path = str(tmp_path / "st")
    c = StreamingMediaCensus(spark, path)
    c.process_batch(_df(spark, range(12)), batch_id=0,
                    query_token="q")
    del c
    c2 = StreamingMediaCensus(spark, path)   # fresh open, same state
    assert c2.version == 1 and c2.last_batch_id == 0
    before = _totals(c2)
    c2.process_batch(_df(spark, range(12, 24)), batch_id=1,
                     query_token="q")
    after = _totals(c2)
    assert sum(after.values()) == 24
    assert all(after[k] >= v for k, v in before.items())


def test_structured_streaming_attach(spark, tmp_path):
    # real readStream -> foreachBatch path over a file source
    src = tmp_path / "src"
    src.mkdir()
    _df(spark, range(10)).write.parquet(str(src / "b0"))
    stream = (spark.readStream
              .schema("media_id long, payload binary")
              .option("maxFilesPerTrigger", 1)
              .parquet(str(src / "*")))
    c = StreamingMediaCensus(spark, str(tmp_path / "st"))
    q = c.attach(stream, checkpoint=str(tmp_path / "ck"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert sum(_totals(c).values()) == 10
