"""Streaming perceptual-hash near-dup filter: the media twin of
:mod:`.neardup`.

:mod:`.neardup` filters a TEXT stream by MinHash banding; this filters
a stream of 64-bit perceptual hashes — image dHash
(:func:`..operators.multimodal.image_dhash`), audio fingerprints
(:func:`..operators.audiofp.audio_fingerprint`), video signatures
(:func:`..operators.videofp.video_signature`) — so one stateful filter
serves every media modality. Banding is the same 8×8-bit pigeonhole
split the batch kernel (:func:`..operators.multimodal
.dhash_neardup_pairs`) uses: any pair within ``max_hamming < 8`` bits
shares at least one identical band.

State = the band buckets of every previously RETAINED document:
``(band, key, min_id, min_hash)`` — the bucket's representative id AND
its full hash, because an 8-bit band match alone is only a candidate;
the incoming doc verifies ``bit_count(xor)`` against the
representative. Same versioned-parquet + manifest pattern as
:mod:`.neardup` (atomic version flips, flags written before state
mutates, replay skip keyed by (batch_id, query token)).

Semantics (document them, don't discover them): REPRESENTATIVE
filtering — a document is a near-duplicate iff some band bucket's
retained representative is within ``max_hamming`` bits (or a lower-id
batch sibling in the same bucket is). A doc colliding only with an
already-dropped near-duplicate passes through; exact copies always
collide with their cluster minimum, so on copy-clusters this coincides
with the pairwise batch marker :func:`hash_neardup_mark_ordered`
(tested). At 100 TB the state stays bounded by the retained corpus —
8 rows × ~40 bytes per retained doc — and each batch costs one
projection plus one equi-join against the state.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from typing import Optional

from pyspark.sql import DataFrame, functions as F

_MANIFEST = "hashdup_state.json"


def hash_bands(df: DataFrame, id_col: str, hash_col: str) -> DataFrame:
    """Explode a 64-bit hash into its 8 pigeonhole bands →
    ``(id, hash, band, key)`` (map-only, no shuffle)."""
    return df.select(
        F.col(id_col), F.col(hash_col),
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("band"),
                     F.shiftrightunsigned(F.col(hash_col), i * 8)
                     .bitwiseAND(F.lit(255)).alias("key"))
            for i in range(8)])).alias("_b"),
    ).select(id_col, hash_col, F.col("_b.band").alias("band"),
             F.col("_b.key").alias("key"))


def hash_neardup_mark_ordered(df: DataFrame, id_col: str = "media_id",
                              hash_col: str = "fp64",
                              max_hamming: int = 6) -> DataFrame:
    """Batch twin of the streaming filter (pairwise form): mark every
    doc whose hash is within ``max_hamming`` bits of ANY lower-id doc
    sharing a band → ``(id, is_near_dup, dup_of)`` with ``dup_of`` the
    smallest such witness. Banded equi-join + bucket aggregation —
    never all pairs; recall exactly 1 by pigeonhole."""
    if not 0 <= max_hamming < 8:
        raise ValueError("max_hamming must be in [0, 8), got "
                         f"{max_hamming}")
    b = hash_bands(df.filter(F.col(hash_col).isNotNull()),
                   id_col, hash_col)
    lo = b.select(F.col(id_col).alias("_lo"),
                  F.col(hash_col).alias("_lh"), "band", "key")
    ham = F.bit_count(F.col(hash_col).bitwiseXOR(F.col("_lh")))
    wit = (b.join(lo, ["band", "key"])
           .filter((F.col("_lo") < F.col(id_col)) & (ham <= max_hamming))
           .groupBy(id_col).agg(F.min("_lo").alias("dup_of")))
    return (df.select(id_col).distinct()
            .join(wit, id_col, "left")
            .select(id_col, F.col("dup_of").isNotNull()
                    .alias("is_near_dup"), "dup_of"))


class StreamingHashNearDup:
    """Persisted band-bucket state for a stream of ``(id, hash64)`` docs.

    Args:
        spark: session used for state reads/writes.
        path: state root.
        id_col/hash_col: columns of incoming batches.
        max_hamming: verify threshold (< 8 for pigeonhole recall) —
            recorded in the manifest and validated on reopen.
    """

    def __init__(self, spark, path: str, id_col: str = "media_id",
                 hash_col: str = "fp64", max_hamming: int = 6):
        if not 0 <= max_hamming < 8:
            raise ValueError("max_hamming must be in [0, 8), got "
                             f"{max_hamming}")
        self.spark = spark
        self.path = path
        self.id_col = id_col
        self.hash_col = hash_col
        self.max_hamming = max_hamming
        self.version = 0
        self.last_batch_id: Optional[int] = None
        self.last_query_token: Optional[str] = None
        self.n_docs = 0
        self.n_retained = 0
        os.makedirs(path, exist_ok=True)
        self._load_manifest()

    # -- state plumbing ----------------------------------------------------

    def _manifest_path(self) -> str:
        return os.path.join(self.path, _MANIFEST)

    def _load_manifest(self) -> None:
        if not os.path.exists(self._manifest_path()):
            return
        with open(self._manifest_path()) as fh:
            st = json.load(fh)
        if st["max_hamming"] != self.max_hamming:
            raise ValueError(
                f"hashdup state at {self.path} was built with "
                f"max_hamming={st['max_hamming']}, not {self.max_hamming}")
        self.version = st["version"]
        self.last_batch_id = st.get("last_batch_id")
        self.last_query_token = st.get("last_query_token")
        self.n_docs = st.get("n_docs", 0)
        self.n_retained = st.get("n_retained", 0)

    def _save_manifest(self) -> None:
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"version": self.version,
                       "last_batch_id": self.last_batch_id,
                       "last_query_token": self.last_query_token,
                       "n_docs": self.n_docs,
                       "n_retained": self.n_retained,
                       "max_hamming": self.max_hamming}, fh)
        os.replace(tmp, self._manifest_path())

    def _vdir(self, version: int) -> str:
        return os.path.join(self.path, f"bands_v{version}")

    def state(self) -> DataFrame:
        """Current band-bucket table ``(band, key, min_id, min_hash)``."""
        if self.version == 0:
            return self.spark.createDataFrame(
                [], "band int, key long, min_id long, min_hash long")
        return self.spark.read.parquet(self._vdir(self.version))

    def flags(self) -> DataFrame:
        """Every processed batch's ``(id, is_near_dup, dup_of, batch_id)``."""
        flag_dirs = [os.path.join(self.path, d)
                     for d in sorted(os.listdir(self.path))
                     if d.startswith("flags_v")]
        if not flag_dirs:
            return self.spark.createDataFrame(
                [], f"{self.id_col} long, is_near_dup boolean, "
                    f"dup_of long, batch_id long")
        return self.spark.read.parquet(*flag_dirs)

    # -- ingestion ---------------------------------------------------------

    def process_batch(self, df: DataFrame,
                      batch_id: Optional[int] = None,
                      query_token: Optional[str] = None) -> None:
        """Band one micro-batch, flag near-dups vs state + batch
        siblings, merge survivors' buckets into a new state version.

        Replay skip, flag-before-state ordering, and atomic version
        flips follow :meth:`..streaming.neardup.StreamingNearDup
        .process_batch` exactly (incl. the query-token guard: batch ids
        restart at 0 under a new query)."""
        if batch_id is not None and self.last_batch_id is not None \
                and batch_id <= self.last_batch_id \
                and query_token == self.last_query_token:
            return
        bt = hash_bands(df.filter(F.col(self.hash_col).isNotNull()),
                        self.id_col, self.hash_col)
        hist = self.state()
        ham_hist = F.bit_count(
            F.col(self.hash_col).bitwiseXOR(F.col("min_hash")))
        # witness 1: a close-enough historical bucket representative
        w_hist = (bt.join(hist, ["band", "key"])
                  .filter(ham_hist <= self.max_hamming)
                  .select(self.id_col, F.col("min_id").alias("_w")))
        # witness 2: a close-enough lower-id sibling in this batch
        sib = bt.select(F.col(self.id_col).alias("_lo"),
                        F.col(self.hash_col).alias("_lh"), "band", "key")
        ham_sib = F.bit_count(
            F.col(self.hash_col).bitwiseXOR(F.col("_lh")))
        w_sib = (bt.join(sib, ["band", "key"])
                 .filter((F.col("_lo") < F.col(self.id_col))
                         & (ham_sib <= self.max_hamming))
                 .select(self.id_col, F.col("_lo").alias("_w")))
        flags = (w_hist.unionByName(w_sib)
                 .groupBy(self.id_col)
                 .agg(F.min("_w").alias("dup_of"))
                 .join(df.select(self.id_col).distinct(), self.id_col,
                       "right")
                 .select(self.id_col,
                         F.col("dup_of").isNotNull().alias("is_near_dup"),
                         "dup_of",
                         F.lit(-1 if batch_id is None else int(batch_id))
                         .cast("long").alias("batch_id")))
        fdir = os.path.join(self.path, f"flags_v{self.version + 1}")
        flags.write.mode("overwrite").parquet(fdir)
        written = self.spark.read.parquet(fdir)
        survivors = written.filter(~F.col("is_near_dup")) \
            .select(F.col(self.id_col))
        new_bands = (bt.join(survivors, self.id_col)
                     .groupBy("band", "key")
                     .agg(F.min_by(self.hash_col, F.col(self.id_col))
                          .alias("min_hash"),
                          F.min(self.id_col).alias("min_id")))
        merged = (hist.unionByName(new_bands)
                  .groupBy("band", "key")
                  .agg(F.min_by("min_hash", F.col("min_id"))
                       .alias("min_hash"),
                       F.min("min_id").alias("min_id")))
        nv = self.version + 1
        merged.select("band", "key", "min_id", "min_hash") \
            .write.mode("overwrite").parquet(self._vdir(nv))
        old = self.version
        self.version = nv
        if batch_id is not None:
            self.last_batch_id = batch_id
            self.last_query_token = query_token
        self.n_docs += df.count()
        self.n_retained += survivors.count()
        self._save_manifest()
        if old > 0:
            shutil.rmtree(self._vdir(old), ignore_errors=True)

    def attach(self, stream_df: DataFrame, checkpoint: Optional[str] = None):
        """Attach to a streaming DataFrame via ``foreachBatch`` (the
        checkpoint path doubles as the query-identity token, as in
        :meth:`..streaming.neardup.StreamingNearDup.attach`)."""
        token = checkpoint if checkpoint else f"anon-{uuid.uuid4().hex}"
        writer = stream_df.writeStream.foreachBatch(
            lambda bdf, bid: self.process_batch(bdf, bid,
                                                query_token=token))
        if checkpoint:
            writer = writer.option("checkpointLocation", checkpoint)
        return writer
