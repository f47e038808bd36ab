"""Data-layout optimization: Z-order (Morton) clustering keys for
multi-dimensional data skipping.

Beyond-reference operator (BASELINE.json north star): at 100 TB the scan
is the dominant cost, and parquet row-group/file min-max statistics only
prune when the layout is clustered on the filtered column. Sorting on ONE
column destroys locality on every other; interleaving the bits of several
quantized columns (the Delta/Iceberg ``OPTIMIZE ZORDER BY`` idea) gives
every participating column bounded per-file ranges, so predicates on ANY
of them prune files.

Scale shape: one fused min/max aggregate (2·|cols| scalars to the driver,
inlined as literals), then the key is a pure Column expression —
quantize each column to ``bits`` levels and interleave bit i of column j
into position ``i·n + j`` (|cols|·bits shift/and/or terms inside one
whole-stage-codegen span, no Python, no shuffle). ``cluster_by_zorder``
adds the one range-partitioning exchange + within-partition sort that any
clustering rewrite needs.

Determinism: quantization is ``floor(((x − mn) / span) · (2^bits − 1))``
with exactly this operation order — an engine replaying the same IEEE
operations lands on identical keys bit-for-bit.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, functions as F


def _quantized(col: Column, mn: float, mx: float, bits: int) -> Column:
    levels = (1 << bits) - 1
    if mx <= mn:                      # constant (or empty) column
        return F.lit(0).cast("long")
    q = F.floor(((col.cast("double") - F.lit(mn)) / F.lit(mx - mn))
                * F.lit(float(levels))).cast("long")
    # clamp: nulls -> 0, out-of-fit values (streaming append) -> edges
    return F.least(F.greatest(F.coalesce(q, F.lit(0)), F.lit(0)),
                   F.lit(levels))


def zorder_key(df: DataFrame, cols: Sequence[str], bits: int = 16,
               out_col: str = "zkey") -> DataFrame:
    """Append a Morton (Z-order) clustering key interleaving ``cols``.

    ``bits`` per column; the key occupies ``bits × |cols|`` bits (≤ 63
    total). Column bounds come from one fused min/max aggregate and are
    inlined as literals, so the key expression itself is map-only.
    """
    cols = list(cols)
    if not cols:
        raise ValueError("need at least one column")
    n = len(cols)
    if bits * n > 63:
        raise ValueError(f"{bits} bits x {n} cols exceeds a long")
    aggs = []
    for c in cols:
        aggs += [F.min(F.col(c).cast("double")).alias(f"_mn_{c}"),
                 F.max(F.col(c).cast("double")).alias(f"_mx_{c}")]
    row = df.agg(*aggs).collect()[0]

    key = F.lit(0).cast("long")
    for j, c in enumerate(cols):
        mn, mx = row[f"_mn_{c}"], row[f"_mx_{c}"]
        q = _quantized(F.col(c), float(mn if mn is not None else 0.0),
                       float(mx if mx is not None else 0.0), bits)
        for i in range(bits):
            key = key.bitwiseOR(
                F.shiftleft(F.shiftright(q, i).bitwiseAND(F.lit(1)),
                            i * n + j))
    return df.withColumn(out_col, key)


def cluster_by_zorder(df: DataFrame, cols: Sequence[str],
                      num_partitions: int, bits: int = 16) -> DataFrame:
    """Range-partition + sort the frame by its Z-order key — the
    clustering rewrite before a parquet write, giving every ``cols``
    member bounded per-file ranges (multi-dimensional data skipping).
    The key column is dropped from the result; exactly ONE exchange.
    """
    keyed = zorder_key(df, cols, bits=bits, out_col="_zk")
    return (keyed.repartitionByRange(num_partitions, "_zk")
            .sortWithinPartitions("_zk").drop("_zk"))


def compaction_plan(files: DataFrame, path_col: str, size_col: str,
                    target_bytes: int) -> DataFrame:
    """Small-file compaction plan over a file manifest → one output
    group per ~``target_bytes`` of input: ``(path, size_bytes,
    out_group, group_total, group_files)``.  The lakehouse maintenance
    primitive (Iceberg/Delta ``rewrite_data_files`` planning step):
    thousands of 2 MB parquet files read 100× slower than the same
    bytes in 512 MB files, so the planner assigns files to
    target-sized rewrite tasks.

    Deterministic running-total placement: files order by (path) —
    stable, locality-preserving — and file *i* lands in group
    ``floor(cum_before / target)`` where ``cum_before`` is the size sum
    of all earlier files.  Every group's total is < target + its
    largest member (oversized files get a group of their own, never
    split here — rewriting splits them).  One ordered window over the
    MANIFEST (≪ data; one row per file), a second for group totals;
    the data itself is never touched.
    """
    if target_bytes <= 0:
        raise ValueError("target_bytes must be positive")
    from pyspark.sql import Window

    w = Window.orderBy(path_col)
    cum_before = F.coalesce(
        F.sum(F.col(size_col)).over(
            w.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0))
    keyed = (files
             .filter(F.col(size_col).isNotNull() & (F.col(size_col) >= 0))
             .withColumn("out_group",
                         F.floor(cum_before / F.lit(int(target_bytes)))
                         .cast("long")))
    wg = Window.partitionBy("out_group")
    return keyed.select(
        F.col(path_col).alias("path"),
        F.col(size_col).cast("long").alias("size_bytes"),
        "out_group",
        F.sum(F.col(size_col).cast("long")).over(wg).alias("group_total"),
        F.count(F.lit(1)).over(wg).cast("long").alias("group_files"))
