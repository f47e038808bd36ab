"""WebDataset-style tar-shard source/sink for multimodal training data.

The de-facto container format for large-scale multimodal corpora (the
public WebDataset convention, webdataset/webdataset: POSIX tar shards
whose member names are ``<key>.<ext>`` and all files of one sample are
ADJACENT) — a 100-TB image/text corpus ships as ~100k ``.tar`` shards,
and the SHARD is the unit of parallelism: a reader never needs to split
inside a tar, so ``spark.read.format("binaryFile")`` (one row per
shard) followed by an Arrow-batched parse kernel gives embarrassingly
parallel ingest with no custom InputFormat.

- :func:`encode_tar_shard` / :func:`decode_tar_shard` — pure-stdlib
  (``tarfile``) shard codec: sample dicts ↔ tar bytes, adjacency
  preserved, deterministic member order and metadata (mtime 0) so
  shards are byte-reproducible.
- :func:`read_webdataset` — ``binaryFile`` scan over a shard glob →
  one row per SAMPLE: ``(shard, key, <ext1>, <ext2>, ...)`` binary
  columns for the requested extensions (missing members → null).
- :func:`write_webdataset` — distributed sink: one tar shard per
  partition via ``mapInPandas`` (each task streams its samples into a
  single shard file), returning the shard manifest
  ``(shard, n_samples, n_bytes)``.

Scale notes: shard payloads never leave the executor (the parse kernel
emits per-sample columns and drops the tar buffer); `binaryFile` caps
one shard per task — size shards to ~100 MB-1 GB as the public
convention recommends. Corrupt shards raise ``ValueError`` from the
codec; the reader surfaces them as nulls unless ``strict``.
"""

from __future__ import annotations

import io
import os
import tarfile
from typing import Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame, SparkSession


def encode_tar_shard(samples: Sequence[dict]) -> bytes:
    """``[{"__key__": k, "<ext>": bytes, ...}, ...]`` → tar bytes.

    Members are emitted as ``<key>.<ext>`` with all files of a sample
    adjacent (the WebDataset contract) in sorted-extension order, mtime
    pinned to 0 so identical inputs give identical shards.
    """
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        for s in samples:
            key = s.get("__key__")
            if not key or "/" in str(key):
                raise ValueError(f"bad sample key {key!r}")
            exts = sorted(e for e in s if e != "__key__")
            if not exts:
                raise ValueError(f"sample {key!r} has no members")
            for ext in exts:
                data = s[ext]
                if not isinstance(data, (bytes, bytearray)):
                    raise ValueError(
                        f"member {key}.{ext} must be bytes")
                info = tarfile.TarInfo(name=f"{key}.{ext}")
                info.size = len(data)
                info.mtime = 0
                tf.addfile(info, io.BytesIO(bytes(data)))
    return buf.getvalue()


def decode_tar_shard(payload: bytes) -> list[dict]:
    """Tar bytes → sample dicts (adjacency-grouped, order-preserving).

    Member names split at the FIRST dot after the basename (WebDataset
    keeps multi-dot extensions like ``seg.png`` together). A member
    whose key differs from the previous member's starts a new sample.
    """
    try:
        tf = tarfile.open(fileobj=io.BytesIO(payload), mode="r")
    except tarfile.TarError as exc:
        raise ValueError(f"corrupt tar shard: {exc}") from exc
    samples: list[dict] = []
    with tf:
        for member in tf:
            if not member.isfile():
                continue
            base = os.path.basename(member.name)
            if "." not in base:
                raise ValueError(f"member {member.name!r} has no extension")
            key, ext = base.split(".", 1)
            if not samples or samples[-1]["__key__"] != key:
                samples.append({"__key__": key})
            if ext in samples[-1]:
                raise ValueError(
                    f"duplicate member {key}.{ext} in one sample")
            samples[-1][ext] = tf.extractfile(member).read()
    return samples


def read_webdataset(spark: SparkSession, path_glob: str,
                    extensions: Sequence[str], *,
                    strict: bool = False) -> DataFrame:
    """Read tar shards → one row per sample.

    Schema: ``shard string, key string`` + one binary column per
    requested extension (null when a sample lacks that member; dots in
    extensions become ``_`` in column names). Corrupt shards yield zero
    rows unless ``strict``.
    """
    exts = list(extensions)
    cols = [e.replace(".", "_") for e in exts]
    schema = "shard string, key string, " + ", ".join(
        f"{c} binary" for c in cols)
    files = spark.read.format("binaryFile").load(path_glob) \
        .select("path", "content")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                try:
                    samples = decode_tar_shard(bytes(content))
                except ValueError:
                    if strict:
                        raise
                    continue
                for s in samples:
                    row = {"shard": os.path.basename(path),
                           "key": s["__key__"]}
                    for e, c in zip(exts, cols):
                        row[c] = s.get(e)
                    rows.append(row)
            yield pd.DataFrame(rows, columns=["shard", "key"] + cols)

    return files.mapInPandas(kernel, schema)


def write_webdataset(df: DataFrame, out_dir: str, *,
                     key_col: str = "key",
                     ext_cols: Sequence[str] = ()) -> DataFrame:
    """Distributed sink: each partition streams its samples into ONE
    tar shard under ``out_dir`` → manifest ``(shard, n_samples,
    n_bytes)``. Repartition upstream to choose the shard count/size;
    sample order inside a shard follows partition order (sort upstream
    for deterministic shards)."""
    exts = list(ext_cols) or [c for c in df.columns if c != key_col]
    os.makedirs(out_dir, exist_ok=True)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        samples = []
        for pdf in batches:
            for _, row in pdf.iterrows():
                s = {"__key__": str(row[key_col])}
                for e in exts:
                    v = row[e]
                    if v is not None:
                        s[e] = bytes(v)
                samples.append(s)
        if not samples:
            yield pd.DataFrame(columns=["shard", "n_samples", "n_bytes"])
            return
        payload = encode_tar_shard(samples)
        # partition-unique, content-addressed shard name
        import hashlib
        name = "shard-" + hashlib.sha256(payload).hexdigest()[:16] + ".tar"
        tmp = os.path.join(out_dir, "." + name + ".tmp")
        with open(tmp, "wb") as fh:
            fh.write(payload)
        os.replace(tmp, os.path.join(out_dir, name))
        yield pd.DataFrame([{"shard": name, "n_samples": len(samples),
                             "n_bytes": len(payload)}])

    return df.select(key_col, *exts).mapInPandas(
        kernel, "shard string, n_samples long, n_bytes long")
