"""WebDataset tar-shard source/sink: codec roundtrip + adjacency
grouping, binaryFile ingest, distributed sink manifest, error paths."""

import tarfile

import pytest

from bid_evaluation_ext.sources.webdataset import (
    decode_tar_shard,
    encode_tar_shard,
    read_webdataset,
    write_webdataset,
)

SAMPLES = [
    {"__key__": "000001", "jpg": b"\xff\xd8fakejpg", "txt": b"a cat",
     "json": b'{"w":1}'},
    {"__key__": "000002", "jpg": b"\xff\xd8other", "txt": b"a dog"},
    {"__key__": "000003", "txt": b"text only", "seg.png": b"\x89PNGmask"},
]


def test_codec_roundtrip_and_adjacency():
    payload = encode_tar_shard(SAMPLES)
    # deterministic: same input → identical bytes (mtime pinned)
    assert payload == encode_tar_shard(SAMPLES)
    back = decode_tar_shard(payload)
    assert back == SAMPLES  # order preserved, multi-dot ext kept whole
    # members of one sample are ADJACENT in the archive
    import io
    names = [m.name for m in tarfile.open(fileobj=io.BytesIO(payload))]
    keys = [n.split(".", 1)[0] for n in names]
    assert keys == sorted(keys, key=keys.index)  # grouped runs


def test_codec_errors():
    with pytest.raises(ValueError, match="key"):
        encode_tar_shard([{"__key__": "a/b", "txt": b""}])
    with pytest.raises(ValueError, match="no members"):
        encode_tar_shard([{"__key__": "x"}])
    with pytest.raises(ValueError, match="bytes"):
        encode_tar_shard([{"__key__": "x", "txt": "not bytes"}])
    with pytest.raises(ValueError, match="corrupt"):
        decode_tar_shard(b"definitely not a tar")
    import io
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        for _ in range(2):  # same member name twice, adjacent
            info = tarfile.TarInfo(name="x.txt")
            info.size = 1
            tf.addfile(info, io.BytesIO(b"1"))
    with pytest.raises(ValueError, match="duplicate"):
        decode_tar_shard(buf.getvalue())
    with pytest.raises(ValueError, match="extension"):
        buf2 = io.BytesIO()
        with tarfile.open(fileobj=buf2, mode="w") as tf:
            info = tarfile.TarInfo(name="noext")
            info.size = 0
            tf.addfile(info, io.BytesIO(b""))
        decode_tar_shard(buf2.getvalue())


def test_read_webdataset_binaryfile(spark, tmp_path):
    (tmp_path / "s0.tar").write_bytes(encode_tar_shard(SAMPLES[:2]))
    (tmp_path / "s1.tar").write_bytes(encode_tar_shard(SAMPLES[2:]))
    (tmp_path / "bad.tar").write_bytes(b"garbage not tar")
    df = read_webdataset(spark, str(tmp_path / "*.tar"),
                         ["jpg", "txt", "seg.png"])
    rows = {r["key"]: r for r in df.collect()}
    assert set(rows) == {"000001", "000002", "000003"}
    assert bytes(rows["000001"]["jpg"]) == b"\xff\xd8fakejpg"
    assert rows["000003"]["jpg"] is None
    assert bytes(rows["000003"]["seg_png"]) == b"\x89PNGmask"
    assert rows["000002"]["shard"] == "s0.tar"
    with pytest.raises(Exception):
        read_webdataset(spark, str(tmp_path / "*.tar"), ["jpg"],
                        strict=True).collect()


def test_write_then_read_roundtrip(spark, tmp_path):
    src = spark.createDataFrame(
        [(f"{i:06d}", bytearray(b"payload%d" % i),
          bytearray(b"caption %d" % i)) for i in range(20)],
        "key string, jpg binary, txt binary").repartition(3)
    out = str(tmp_path / "shards")
    manifest = write_webdataset(src, out, ext_cols=["jpg", "txt"]).collect()
    assert sum(r["n_samples"] for r in manifest) == 20
    assert 1 <= len(manifest) <= 3
    back = read_webdataset(spark, out + "/*.tar", ["jpg", "txt"])
    got = {r["key"]: bytes(r["txt"]) for r in back.collect()}
    assert got == {f"{i:06d}": b"caption %d" % i for i in range(20)}
