"""Incrementally-maintained continuous aggregates (streaming rollups).

The hypertable "continuous aggregate" pattern on Spark: a grouped rollup
(count / sum / min / max per group, mean derived at read) maintained as a
persisted artifact that each micro-batch UPDATES instead of recomputing —
the same ``foreachBatch`` + versioned-state + manifest machinery as
:mod:`.sketch`, generalized from sketch algebra to any algebraic
aggregate:

- each micro-batch reduces to its OWN tiny rollup with map-side partial
  aggregation (raw rows never reach the state path);
- the batch rollup merges into the persisted state by group-keyed
  re-aggregation (counts/sums add, mins/maxes fold) — state stays
  O(groups) regardless of streamed volume, and the merge is ONE
  equi-shuffle of state ∪ batch-rollup;
- replayed batches are skipped via the manifest ``last_batch_id``
  (exactly-once on checkpoint restart); version flips are atomic at the
  manifest write, so a crash mid-merge leaves the previous state intact.

The state contract is "aggregate-sized": the group grid (e.g. day ×
event_type) must fit comfortably in a parquet table — which is the
definition of a rollup. For large grids pass ``partition_col`` (one of
the group columns, typically the time bucket) so the state is
hive-partitioned and point reads prune at the file index.

The same algebra merges rollups ACROSS corpora or re-shards: union two
state tables and re-aggregate — no rescan of history.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import List, Optional, Sequence

from pyspark.sql import DataFrame, functions as F


_MANIFEST = "rollup_state.json"


class StreamingRollup:
    """Persisted (count, sum, min, max) per group for one or more value
    columns of a stream.

    Args:
        spark: session used for state reads/writes.
        path: state root (versioned parquet dirs + manifest under it).
        group_cols: grouping columns (the rollup grid).
        value_cols: numeric columns to aggregate (nulls ignored per the
            usual aggregate contract; ``n_rows`` counts all rows).
        partition_col: optional member of ``group_cols`` to hive-partition
            the state by (pruned point reads on big grids).
        group_schema: optional DDL fragment typing the group columns
            (e.g. ``"day date, event_type string"``) — used to build the
            correctly-typed EMPTY frame :meth:`state` returns at version 0.
            Without it the pre-first-batch state types every group column
            as string, which fails or coerces when unioned with a typed
            rollup (``merge_rollup_states`` against a populated state).
            After the first merge the state is typed by the data and this
            argument is ignored.
    """

    def __init__(self, spark, path: str, group_cols: Sequence[str],
                 value_cols: Sequence[str],
                 partition_col: Optional[str] = None,
                 group_schema: Optional[str] = None):
        if not group_cols or not value_cols:
            raise ValueError("need at least one group col and one value col")
        if partition_col is not None and partition_col not in group_cols:
            raise ValueError(f"partition_col {partition_col!r} must be one "
                             f"of group_cols {list(group_cols)}")
        self.spark = spark
        self.path = path
        self.group_cols: List[str] = list(group_cols)
        self.value_cols: List[str] = list(value_cols)
        self.partition_col = partition_col
        if group_schema is not None:
            typed = {}
            for part in group_schema.split(","):
                name, _, typ = part.strip().partition(" ")
                typed[name.strip("`")] = typ.strip()
            missing = [c for c in group_cols if c not in typed]
            if missing:
                raise ValueError(f"group_schema missing columns {missing}")
            self._group_types = {c: typed[c] for c in group_cols}
        else:
            self._group_types = {c: "string" for c in group_cols}
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
        shape = (st["group_cols"], st["value_cols"], st.get("partition_col"))
        if shape != (self.group_cols, self.value_cols, self.partition_col):
            raise ValueError(
                f"rollup state at {self.path} was built with shape {shape}, "
                f"not {(self.group_cols, self.value_cols, self.partition_col)}")
        self.version = st["version"]
        self.last_batch_id = st.get("last_batch_id")
        self.n_rows = st.get("n_rows", 0)

    def _save_manifest(self) -> None:
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"version": self.version,
                       "last_batch_id": self.last_batch_id,
                       "n_rows": self.n_rows,
                       "group_cols": self.group_cols,
                       "value_cols": self.value_cols,
                       "partition_col": self.partition_col}, fh)
        os.replace(tmp, self._manifest_path())

    def _vdir(self, version: int) -> str:
        return os.path.join(self.path, f"state_v{version}")

    def _partials(self, c: str) -> list:
        v = F.col(c).cast("double")
        return [F.count(v).alias(f"{c}__n"), F.sum(v).alias(f"{c}__sum"),
                F.min(v).alias(f"{c}__min"), F.max(v).alias(f"{c}__max")]

    def _merge_aggs(self) -> list:
        out = [F.sum("n_rows").alias("n_rows")]
        for c in self.value_cols:
            out += [F.sum(f"{c}__n").alias(f"{c}__n"),
                    F.sum(f"{c}__sum").alias(f"{c}__sum"),
                    F.min(f"{c}__min").alias(f"{c}__min"),
                    F.max(f"{c}__max").alias(f"{c}__max")]
        return out

    def _rollup_of(self, df: DataFrame) -> DataFrame:
        aggs = [F.count(F.lit(1)).alias("n_rows")]
        for c in self.value_cols:
            aggs += self._partials(c)
        return df.groupBy(*self.group_cols).agg(*aggs)

    # -- reads -------------------------------------------------------------

    def state(self) -> DataFrame:
        """Raw mergeable state ``(group_cols..., n_rows, <c>__n/sum/min/max)``."""
        if self.version == 0:
            fields = [f"`{c}` {self._group_types[c]}"
                      for c in self.group_cols]
            fields += ["n_rows long"]
            for c in self.value_cols:
                fields += [f"`{c}__n` long", f"`{c}__sum` double",
                           f"`{c}__min` double", f"`{c}__max` double"]
            return self.spark.createDataFrame([], ", ".join(fields))
        return self.spark.read.parquet(self._vdir(self.version))

    def current(self) -> DataFrame:
        """State with derived means: one row per group, columns
        ``n_rows`` plus ``<c>_count/sum/mean/min/max`` per value col."""
        st = self.state()
        cols = [*self.group_cols, F.col("n_rows")]
        for c in self.value_cols:
            cols += [
                F.col(f"{c}__n").alias(f"{c}_count"),
                F.col(f"{c}__sum").alias(f"{c}_sum"),
                F.when(F.col(f"{c}__n") > 0,
                       F.col(f"{c}__sum") / F.col(f"{c}__n"))
                 .alias(f"{c}_mean"),
                F.col(f"{c}__min").alias(f"{c}_min"),
                F.col(f"{c}__max").alias(f"{c}_max"),
            ]
        return st.select(*cols)

    # -- ingestion ---------------------------------------------------------

    def process_batch(self, df: DataFrame,
                      batch_id: Optional[int] = None) -> None:
        """Merge one (micro-)batch into the persisted rollup; replays of
        an already-merged ``batch_id`` are skipped."""
        if batch_id is not None and self.last_batch_id is not None \
                and batch_id <= self.last_batch_id:
            return
        batch = self._rollup_of(df)
        n_new = df.count()
        if self.version > 0:
            merged = (self.state().unionByName(batch)
                      .groupBy(*self.group_cols).agg(*self._merge_aggs()))
        else:
            merged = batch
        nv = self.version + 1
        writer = merged.write.mode("overwrite")
        if self.partition_col:
            writer = writer.partitionBy(self.partition_col)
        writer.parquet(self._vdir(nv))
        old = self.version
        self.version = nv
        if batch_id is not None:
            self.last_batch_id = batch_id
        self.n_rows += n_new
        self._save_manifest()
        if old > 0:
            shutil.rmtree(self._vdir(old), ignore_errors=True)

    def attach(self, stream_df: DataFrame, checkpoint: Optional[str] = None):
        """Attach to a streaming DataFrame via ``foreachBatch``."""
        writer = stream_df.writeStream.foreachBatch(
            lambda bdf, bid: self.process_batch(bdf, bid))
        if checkpoint:
            writer = writer.option("checkpointLocation", checkpoint)
        return writer


def merge_rollup_states(a: DataFrame, b: DataFrame,
                        group_cols: Sequence[str]) -> DataFrame:
    """Merge two raw rollup STATE tables (``StreamingRollup.state()``
    shape) into one — union + one group-keyed re-aggregation, the
    algebra that combines rollups across corpora, re-shards, or
    independently-maintained pipelines without rescanning history.
    Column sets must match (same value_cols)."""
    if set(a.columns) != set(b.columns):
        raise ValueError(f"state schemas differ: {sorted(a.columns)} vs "
                         f"{sorted(b.columns)}")
    value_stats = [c for c in a.columns
                   if c not in group_cols and c != "n_rows"]
    aggs = [F.sum("n_rows").alias("n_rows")]
    for c in value_stats:
        if c.endswith("__min"):
            aggs.append(F.min(c).alias(c))
        elif c.endswith("__max"):
            aggs.append(F.max(c).alias(c))
        else:                       # __n / __sum both add
            aggs.append(F.sum(c).alias(c))
    return a.unionByName(b).groupBy(*group_cols).agg(*aggs)
