"""WARC source: codec roundtrip (plain + gzip-member layouts), HTTP
message splitting, truncation salvage, binaryFile shard ingest."""

import gzip

import pytest

from bid_evaluation_ext.sources.warc import (
    decode_warc,
    encode_warc,
    read_warc,
)

RECS = [
    {"type": "warcinfo", "payload": b"software: test\r\n"},
    {"type": "response", "url": "https://a.com/1", "status": 200,
     "payload": b"<html>one</html>"},
    {"type": "response", "url": "https://a.com/2", "status": 404,
     "mime": "text/plain", "payload": b"not found"},
]


@pytest.mark.parametrize("compress", [False, True])
def test_roundtrip(compress):
    out, n_bad = decode_warc(encode_warc(RECS, compress=compress))
    assert n_bad == 0 and [r["type"] for r in out] \
        == ["warcinfo", "response", "response"]
    assert out[1]["url"] == "https://a.com/1"
    assert out[1]["http_status"] == 200
    assert out[1]["payload"] == b"<html>one</html>"  # HTTP msg stripped
    assert out[2]["http_status"] == 404
    assert out[2]["content_type"] == "text/plain"
    assert out[0]["url"] is None


def test_truncation_salvage_and_errors():
    payload = encode_warc(RECS)
    out, n_bad = decode_warc(payload[:-30])  # last record truncated
    assert len(out) == 2 and n_bad == 1
    # a corrupt gzip TAIL still salvages the leading members
    gz = encode_warc(RECS, compress=True)
    cut = gz[:len(gzip.compress(encode_warc(RECS[:1])))]  # within m2
    out, _ = decode_warc(encode_warc(RECS[:2], compress=True) + b"\x1f\x8bgarbage")
    assert len(out) == 2
    with pytest.raises(ValueError):
        decode_warc(b"not a warc at all")


def test_read_warc_shards(spark, tmp_path):
    (tmp_path / "s0.warc").write_bytes(encode_warc(RECS[:2]))
    (tmp_path / "s1.warc.gz").write_bytes(
        encode_warc(RECS[2:], compress=True))
    (tmp_path / "bad.warc").write_bytes(b"junk")
    df = read_warc(spark, str(tmp_path / "*warc*"))
    rows = df.collect()
    assert len(rows) == 3
    by_url = {r["url"]: r for r in rows if r["url"]}
    assert by_url["https://a.com/1"]["http_status"] == 200
    assert by_url["https://a.com/2"]["shard"] == "s1.warc.gz"
    assert by_url["https://a.com/2"]["n_bytes"] == len(b"not found")
    with pytest.raises(Exception):
        read_warc(spark, str(tmp_path / "*warc*"), strict=True).collect()
