"""Incrementally-maintained corpus sketches over a stream of keys.

The batch sketches in :mod:`..operators.sketch` are mergeable by
construction (count-min cells merge by ``+``, HLL registers by ``max``);
this module turns that algebra into a persisted, restart-safe streaming
artifact, the same ``foreachBatch`` + versioned-state pattern as
:mod:`.ivf`:

- each micro-batch reduces to its OWN tiny sketch (≤ depth×width cells,
  ≤ 2^b registers) with map-side partial aggregation — the raw keys never
  reach the state path;
- the batch sketch merges into the persisted state (read → union →
  re-aggregate → write a NEW version directory, then flip the manifest) —
  state stays O(sketch) regardless of how much data has streamed through;
- replayed batches (restart from a checkpoint) are skipped via the
  ``last_batch_id`` recorded in the manifest, so the merged counts are
  exactly-once even though ``foreachBatch`` is at-least-once. Version
  flips are atomic at the manifest write, so a crash mid-merge leaves the
  previous state intact.

At 100 TB this is the only viable shape for corpus-wide frequency /
distinct tracking: the state is kilobytes, each batch adds one bounded
aggregate, and the SAME tables merge across independent corpora or
snapshots (union + re-aggregate — no rescan of history).
"""

from __future__ import annotations

import json
import os
from typing import Optional

from pyspark.sql import DataFrame, functions as F

from ..operators.sketch import (
    cms_build, cms_lookup, hll_estimate_from_registers, hll_registers,
)

_MANIFEST = "sketch_state.json"


class StreamingSketch:
    """Persisted count-min + HLL state for one key column of a stream.

    Args:
        spark: session used for state reads/writes.
        path: state root (versioned parquet dirs + manifest live under it).
        key_col: the key column of incoming batches.
        depth/width: count-min shape; ``b``: HLL register count exponent.
        seed: hash seed shared by both sketches (must stay fixed for the
            lifetime of the state — it is recorded in the manifest and
            validated on reopen).
    """

    def __init__(self, spark, path: str, key_col: str = "key",
                 depth: int = 4, width: int = 1024, b: int = 10,
                 seed: str = "stream"):
        self.spark = spark
        self.path = path
        self.key_col = key_col
        self.depth = depth
        self.width = width
        self.b = b
        self.seed = seed
        self.version = 0
        self.last_batch_id: Optional[int] = None
        self.n_rows = 0
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
        shape = (st["depth"], st["width"], st["b"], st["seed"])
        if shape != (self.depth, self.width, self.b, self.seed):
            raise ValueError(
                f"sketch state at {self.path} was built with shape "
                f"{shape}, not {(self.depth, self.width, self.b, self.seed)}")
        self.version = st["version"]
        self.last_batch_id = st.get("last_batch_id")
        self.n_rows = st.get("n_rows", 0)

    def _save_manifest(self) -> None:
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"version": self.version,
                       "last_batch_id": self.last_batch_id,
                       "n_rows": self.n_rows,
                       "depth": self.depth, "width": self.width,
                       "b": self.b, "seed": self.seed}, fh)
        os.replace(tmp, self._manifest_path())

    def _vdir(self, kind: str, version: int) -> str:
        return os.path.join(self.path, f"{kind}_v{version}")

    # -- current state -----------------------------------------------------

    def cms(self) -> DataFrame:
        """Current count-min cell table ``(row, bucket, cnt)``."""
        if self.version == 0:
            return self.spark.createDataFrame(
                [], "row int, bucket long, cnt long")
        return self.spark.read.parquet(self._vdir("cms", self.version))

    def registers(self) -> DataFrame:
        """Current HLL register table ``(_idx, _M)``."""
        if self.version == 0:
            return self.spark.createDataFrame([], "_idx long, _M int")
        return self.spark.read.parquet(self._vdir("hll", self.version))

    def estimate(self, keys: DataFrame, key_col: Optional[str] = None) -> DataFrame:
        """Count-min point estimates for every row of ``keys``."""
        return cms_lookup(self.cms(), keys, key_col or self.key_col,
                          depth=self.depth, width=self.width, seed=self.seed)

    def distinct_estimate(self) -> DataFrame:
        """HLL distinct-count estimate over everything streamed so far."""
        return hll_estimate_from_registers(self.registers(), self.b)

    # -- ingestion ---------------------------------------------------------

    def process_batch(self, df: DataFrame,
                      batch_id: Optional[int] = None) -> None:
        """Merge one (micro-)batch of keys into the persisted sketches.

        Replays of an already-merged ``batch_id`` are skipped — counts
        must not double on checkpoint restart.
        """
        if batch_id is not None and self.last_batch_id is not None \
                and batch_id <= self.last_batch_id:
            return
        batch_cms = cms_build(df, self.key_col, depth=self.depth,
                              width=self.width, seed=self.seed)
        batch_regs = hll_registers(df, self.key_col, b=self.b,
                                   seed=self.seed)
        n_new = df.count()
        if self.version > 0:
            merged_cms = (self.cms().union(batch_cms)
                          .groupBy("row", "bucket")
                          .agg(F.sum("cnt").alias("cnt")))
            merged_regs = (self.registers().union(batch_regs)
                           .groupBy("_idx").agg(F.max("_M").alias("_M")))
        else:
            merged_cms, merged_regs = batch_cms, batch_regs
        nv = self.version + 1
        # write the NEW version fully before flipping the manifest — a
        # crash mid-write leaves the previous version authoritative
        merged_cms.coalesce(1).write.mode("overwrite").parquet(
            self._vdir("cms", nv))
        merged_regs.coalesce(1).write.mode("overwrite").parquet(
            self._vdir("hll", nv))
        old = self.version
        self.version = nv
        if batch_id is not None:
            self.last_batch_id = batch_id
        self.n_rows += n_new
        self._save_manifest()
        if old > 0:
            import shutil
            for kind in ("cms", "hll"):
                shutil.rmtree(self._vdir(kind, old), ignore_errors=True)

    def attach(self, stream_df: DataFrame, checkpoint: Optional[str] = None):
        """Attach to a streaming DataFrame via ``foreachBatch``."""
        writer = stream_df.writeStream.foreachBatch(
            lambda bdf, bid: self.process_batch(bdf, bid))
        if checkpoint:
            writer = writer.option("checkpointLocation", checkpoint)
        return writer
