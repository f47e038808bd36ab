"""Table I/O helpers used by the extension operators and their tests:
the testdata table set, bucketed catalog tables, contiguous training
shards, JSON-lines/ORC sources and sinks, and parquet footer statistics.

The scoring engine's own I/O (table loading, CSV/parquet/Excel) lives in
:mod:`bid_evaluation_spark.sources.io`.
"""

from __future__ import annotations

from typing import Dict, Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from bid_evaluation_spark.sources.io import load_table

TESTDATA_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def load_all(spark: SparkSession, sf_dir: str) -> Dict[str, DataFrame]:
    """Load every testdata table (and register temp views of the same names)."""
    out = {}
    for name in TESTDATA_TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def write_training_shards(df: DataFrame, path: str, n_shards: int,
                          pos_col: str = "shuffle_pos",
                          mode: str = "overwrite") -> None:
    """Write a globally-ordered frame (e.g. the output of
    ``pipeline.shuffle_rows``) as ``n_shards`` contiguous, internally-ordered
    parquet shards — the training-data-loader layout, where each worker
    streams one shard sequentially and the concatenation of shards in range
    order replays the exact global permutation.

    ``repartitionByRange`` on the position column gives contiguous,
    non-overlapping shard ranges (one range-sampled exchange);
    ``sortWithinPartitions`` orders rows inside each shard with no further
    shuffle.
    """
    if n_shards <= 0:
        raise ValueError(f"n_shards must be > 0, got {n_shards}")
    (df.repartitionByRange(n_shards, F.col(pos_col))
       .sortWithinPartitions(pos_col)
       .write.mode(mode).parquet(path))


# === Bucketed tables (co-located joins — the repeated-big-join scale path) ===

def write_bucketed(df: DataFrame, table: str, bucket_cols,
                   num_buckets: int = 32, path: Optional[str] = None,
                   mode: str = "overwrite",
                   sort_cols: Optional[list] = None) -> None:
    """Write ``df`` as a bucketed (and optionally sorted) parquet table.

    Bucketing pre-shuffles the data ONCE at write time: two tables bucketed
    by the same key into the same bucket count join with NO exchange on
    either side (sort-merge join reads co-located buckets; with sort_cols
    even the sort is pre-done). This is the right trade when a big fact
    table is joined on the same key by many downstream queries — e.g. a
    scored-bids table repeatedly joined to per-bid detail on the bid key.

    Spark bucketing rides the session catalog (``saveAsTable``); pass
    ``path`` to keep the data external at an explicit location.
    """
    cols = [bucket_cols] if isinstance(bucket_cols, str) else list(bucket_cols)
    writer = df.write.mode(mode).format("parquet").bucketBy(num_buckets, *cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def read_table(spark: SparkSession, table: str) -> DataFrame:
    """Read a (bucketed) table registered in the session catalog."""
    return spark.table(table)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-lines sink — the interchange format of most LLM-data tooling
    (one JSON object per line, distributed write, splittable reads)."""
    df.write.mode(mode).json(path)


def read_jsonl(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """JSON-lines source with an EXPLICIT schema (same no-inference-pass
    rationale as :func:`bid_evaluation_spark.sources.io.read_csv`;
    inference on JSON additionally type-widens inconsistently across
    files)."""
    return spark.read.schema(schema).json(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink — second columnar format (built into Spark), same
    pushdown/pruning story as parquet for ORC-standardized estates."""
    df.write.mode(mode).orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source — columnar, with predicate pushdown and column pruning
    (self-describing schema; no inference pass needed)."""
    return spark.read.orc(path)


def footer_stats(spark: SparkSession, path: str, columns) -> dict:
    """COUNT/MIN/MAX answered from parquet FOOTER statistics — zero data
    pages read. At 100 TB this is the difference between a metadata-only
    job (one task per file listing row-group stats) and a full-corpus
    scan; it is how a pipeline sizes itself (row counts, value ranges for
    bin/bucket planning) before touching data.

    Mechanics: Spark's parquet aggregate pushdown is a DataSource-v2-only
    feature, so the reader configs (`spark.sql.sources.useV1SourceList`,
    `spark.sql.parquet.aggregatePushdown`) are flipped for the duration of
    the call and restored after. The plan is ASSERTED to contain
    ``PushedAggregation`` before execution — if pushdown silently fell
    back to a scan (nested/string column, row-group without stats),
    this raises instead of quietly paying the full read.

    Returns ``{"count": n, "min_<col>": v, "max_<col>": v, ...}``.
    Numeric/date columns only by contract.
    """
    from pyspark.sql import functions as F

    conf = spark.conf
    old_v1 = conf.get("spark.sql.sources.useV1SourceList")
    old_push = conf.get("spark.sql.parquet.aggregatePushdown")
    try:
        conf.set("spark.sql.sources.useV1SourceList", "")
        conf.set("spark.sql.parquet.aggregatePushdown", "true")
        df = spark.read.parquet(path)
        aggs = [F.count(F.lit(1)).alias("count")]
        for c in columns:
            aggs.append(F.min(c).alias(f"min_{c}"))
            aggs.append(F.max(c).alias(f"max_{c}"))
        q = df.agg(*aggs)
        plan = q._jdf.queryExecution().executedPlan().toString()
        # an EMPTY "PushedAggregation: []" means the scan silently fell
        # back to reading data — only a populated list is a pushed plan
        if "PushedAggregation: [COUNT" not in plan \
                and "PushedAggregation: [MIN" not in plan \
                and "PushedAggregation: [Min" not in plan \
                and "PushedAggregation: [Count" not in plan:
            raise ValueError(
                f"aggregate pushdown did not engage for {path} "
                f"(columns {list(columns)}) — unsupported column type or "
                "missing row-group statistics; run a real scan instead")
        row = q.collect()[0]
        return row.asDict()
    finally:
        conf.set("spark.sql.sources.useV1SourceList", old_v1)
        conf.set("spark.sql.parquet.aggregatePushdown", old_push)
