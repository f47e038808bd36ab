"""Streaming MinHash-LSH near-duplicate filter with restart-safe state.

The continuous-ingest twin of batch near-dup dedup (the missing piece
between :mod:`..operators.dedup`'s batch banding and
:mod:`.stateful`'s exact streaming dedup): each micro-batch of
documents is banded with the PORTABLE md5-derived MinHash of
``operators.dedup.minhash_band_table``, checked against the band
buckets of every previously RETAINED document, self-deduped within the
batch (min id per bucket wins, the batch-dedup canonical rule), and the
survivors' bands merge into the persisted state. Same versioned-parquet
+ manifest pattern as :mod:`.sketch` / :mod:`.ivf`:

- state stays bounded by the number of distinct band keys of retained
  documents — ``bands`` rows per retained doc, ~100 bytes each, never
  the documents themselves. At 100 TB ingest, state size follows the
  UNIQUE corpus, and each batch costs one map-side banding projection
  plus one equi-join against the state (broadcastable while small,
  shuffle-hash beyond);
- replayed batches (checkpoint restart) are skipped via the manifest's
  ``last_batch_id``, and per-batch flag outputs are written to a
  batch-keyed directory with overwrite so a crash between the flag
  write and the manifest flip replays idempotently;
- version flips are atomic at the manifest write — a crash mid-merge
  leaves the previous state authoritative.

Semantics (document them, don't discover them): this is REPRESENTATIVE
filtering — a document is a near-duplicate iff it shares a band with a
RETAINED earlier document (or a lower-id document of its own batch).
A doc that collides only with an already-dropped near-duplicate whose
bands differ from its cluster representative's passes through, exactly
like a Bloom-guarded dedup; chain-shaped near-dup clusters therefore
retain more than one representative. The batch twin
:func:`..operators.dedup.neardup_mark_ordered` (pairwise "shares a band
with ANY lower id") coincides with this on clusters whose members all
collide with the cluster minimum — exact copies always do.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from typing import Optional

from pyspark.sql import DataFrame, functions as F

from ..operators.dedup import minhash_band_table

_MANIFEST = "neardup_state.json"


class StreamingNearDup:
    """Persisted band-bucket state for a stream of ``(id, text)`` docs.

    Args:
        spark: session used for state reads/writes.
        path: state root (versioned parquet dirs + manifest + per-batch
            flag outputs live under it).
        id_col/text_col: document columns of incoming batches.
        k/num_perm/bands/seed: banding shape — recorded in the manifest
            and validated on reopen (changing it would silently split
            every historical bucket).
    """

    def __init__(self, spark, path: str, id_col: str = "doc_id",
                 text_col: str = "text", k: int = 3, num_perm: int = 16,
                 bands: int = 4, seed: str = "mh"):
        self.spark = spark
        self.path = path
        self.id_col = id_col
        self.text_col = text_col
        self.k = k
        self.num_perm = num_perm
        self.bands = bands
        self.seed = seed
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
        shape = (st["k"], st["num_perm"], st["bands"], st["seed"])
        if shape != (self.k, self.num_perm, self.bands, self.seed):
            raise ValueError(
                f"neardup state at {self.path} was built with shape "
                f"{shape}, not "
                f"{(self.k, self.num_perm, self.bands, self.seed)}")
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
                       "k": self.k, "num_perm": self.num_perm,
                       "bands": self.bands, "seed": self.seed}, fh)
        os.replace(tmp, self._manifest_path())

    def _vdir(self, version: int) -> str:
        return os.path.join(self.path, f"bands_v{version}")

    def state(self) -> DataFrame:
        """Current band-bucket table ``(band, key, min_id)``."""
        if self.version == 0:
            return self.spark.createDataFrame(
                [], "band int, key string, min_id long")
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
        """Band one micro-batch, flag near-dups vs state + batch, merge
        survivors' bands into a new state version.

        Replays of an already-merged ``batch_id`` are skipped entirely
        (flags for that batch were already written — at-least-once
        ``foreachBatch`` must not re-drop or double-count). Batch ids
        are only monotonic WITHIN one streaming query, so the skip
        applies only when ``query_token`` (the checkpoint path, stamped
        by :meth:`attach`) matches the manifest's: attaching existing
        state to a NEW query restarts batch ids at 0, and silently
        skipping would mean documents are never flagged or retained."""
        if batch_id is not None and self.last_batch_id is not None \
                and batch_id <= self.last_batch_id \
                and query_token == self.last_query_token:
            return
        bt = minhash_band_table(df, self.id_col, self.text_col, self.k,
                                self.num_perm, self.bands, self.seed)
        batch_min = bt.groupBy("band", "key").agg(
            F.min(self.id_col).alias("_bm"))
        hist = self.state()
        # per (doc, band): the witness is the smaller of the historical
        # bucket owner and a lower-id batch sibling in the same bucket
        joined = (bt.join(batch_min, ["band", "key"])
                  .join(hist, ["band", "key"], "left")
                  .withColumn("_w", F.least(
                      F.col("min_id"),
                      F.when(F.col("_bm") < F.col(self.id_col),
                             F.col("_bm")))))
        flags = (joined.groupBy(self.id_col)
                 .agg(F.min("_w").alias("dup_of"))
                 .join(df.select(self.id_col).distinct(), self.id_col,
                       "right")
                 .select(self.id_col,
                         F.col("dup_of").isNotNull().alias("is_near_dup"),
                         "dup_of",
                         F.lit(-1 if batch_id is None else int(batch_id))
                         .cast("long").alias("batch_id")))
        # flags are written (and thereby materialized against the OLD
        # state) before any state mutation, keyed by the NEW state
        # version: unique per processed batch (even with batch_id=None),
        # and a crash between this write and the manifest flip replays
        # with the same version — the overwrite is idempotent
        fdir = os.path.join(self.path, f"flags_v{self.version + 1}")
        flags.write.mode("overwrite").parquet(fdir)
        written = self.spark.read.parquet(fdir)
        survivors = written.filter(~F.col("is_near_dup")) \
            .select(F.col(self.id_col))
        new_bands = (bt.join(survivors, self.id_col)
                     .groupBy("band", "key")
                     .agg(F.min(self.id_col).alias("min_id")))
        merged = (hist.unionByName(new_bands)
                  .groupBy("band", "key")
                  .agg(F.min("min_id").alias("min_id")))
        nv = self.version + 1
        merged.write.mode("overwrite").parquet(self._vdir(nv))
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
        """Attach to a streaming DataFrame via ``foreachBatch``.

        The checkpoint path is the query-identity token for the replay
        skip: a restart of the SAME query (same checkpoint) replays its
        last batch id and is skipped idempotently, while a NEW query
        (different checkpoint, batch ids restart at 0) processes
        normally against the existing state. Without a checkpoint there
        is no replay mechanism at all, so a unique per-attach token
        makes every batch process."""
        token = checkpoint if checkpoint else f"anon-{uuid.uuid4().hex}"
        writer = stream_df.writeStream.foreachBatch(
            lambda bdf, bid: self.process_batch(bdf, bid,
                                                query_token=token))
        if checkpoint:
            writer = writer.option("checkpointLocation", checkpoint)
        return writer
