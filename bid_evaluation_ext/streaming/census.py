"""STREAMING media-type census — the continuous-ingest twin of
:func:`..operators.mediatype.media_census`/:func:`census_counts`: a
crawl stream's per-(media_type, container) file counts, maintained as
restart-safe versioned state so the routing table's denominators are
always current without rescanning the corpus.

Counts are the textbook MERGEABLE state: each micro-batch runs the
constant-work sniff kernel map-side, partial-aggregates to a tiny
delta (≤ #route kinds rows), and merges it into the persisted totals
with one small groupBy — state size is bounded by the number of
distinct (type, container) pairs (~dozens), NEVER by corpus size.
Versioned parquet + an atomically-replaced manifest give the same
crash-window guarantees as :class:`..streaming.hashdup
.StreamingHashNearDup` (replay skip on duplicate batch ids, the
query-token guard for batch-id restarts under a new query, state
flips only after the new version is fully written).

At 100 TB: the per-batch cost is the sniff kernel over the batch
plus a ~constant-size merge — the census never becomes the
bottleneck of the ingest path it fronts.
"""

from __future__ import annotations

import json
import os
from typing import Optional

from pyspark.sql import DataFrame, functions as F

from ..operators.mediatype import census_counts, media_census

_MANIFEST = "_census_manifest.json"
_SCHEMA = "media_type string, container string, n_files long"


class StreamingMediaCensus:
    """Persisted (media_type, container) → n_files totals for a
    payload stream."""

    def __init__(self, spark, path: str, id_col: str = "media_id",
                 payload_col: str = "payload"):
        self.spark = spark
        self.path = path
        self.id_col = id_col
        self.payload_col = payload_col
        self.version = 0
        self.last_batch_id: Optional[int] = None
        self.last_query_token: Optional[str] = None
        self.n_files = 0
        os.makedirs(path, exist_ok=True)
        self._load_manifest()

    def _manifest_path(self) -> str:
        return os.path.join(self.path, _MANIFEST)

    def _load_manifest(self) -> None:
        if not os.path.exists(self._manifest_path()):
            return
        with open(self._manifest_path()) as fh:
            st = json.load(fh)
        self.version = st["version"]
        self.last_batch_id = st.get("last_batch_id")
        self.last_query_token = st.get("last_query_token")
        self.n_files = st.get("n_files", 0)

    def _save_manifest(self) -> None:
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"version": self.version,
                       "last_batch_id": self.last_batch_id,
                       "last_query_token": self.last_query_token,
                       "n_files": self.n_files}, fh)
        os.replace(tmp, self._manifest_path())

    def _vdir(self, version: int) -> str:
        return os.path.join(self.path, f"counts_v{version}")

    def counts(self) -> DataFrame:
        """Current totals ``(media_type, container, n_files)``."""
        if self.version == 0:
            return self.spark.createDataFrame([], _SCHEMA)
        return self.spark.read.parquet(self._vdir(self.version))

    def process_batch(self, df: DataFrame,
                      batch_id: Optional[int] = None,
                      query_token: Optional[str] = None) -> None:
        """Sniff one micro-batch and merge its route counts into the
        totals (replay-skip + atomic version flip; see module doc)."""
        if batch_id is not None and self.last_batch_id is not None \
                and batch_id <= self.last_batch_id \
                and query_token == self.last_query_token:
            return
        delta = census_counts(media_census(
            df, payload_col=self.payload_col, id_col=self.id_col))
        merged = (self.counts().unionByName(delta)
                  .groupBy("media_type", "container")
                  .agg(F.sum("n_files").alias("n_files")))
        new_version = self.version + 1
        merged.write.mode("overwrite").parquet(self._vdir(new_version))
        self.n_files += df.count()
        self.version = new_version
        if batch_id is not None:
            self.last_batch_id = int(batch_id)
        self.last_query_token = query_token
        self._save_manifest()

    def attach(self, stream_df: DataFrame, *, checkpoint: str,
               query_token: str = "census"):
        """Run as a Structured Streaming sink (foreachBatch)."""
        return (stream_df.writeStream
                .option("checkpointLocation", checkpoint)
                .foreachBatch(lambda batch, bid: self.process_batch(
                    batch, batch_id=bid, query_token=query_token))
                .start())
