"""Data-quality audit: declarative column checks compiled into ONE
aggregation pass, referential-integrity orphan counts, and global dense
ID assignment without a single-partition sort.

Beyond-reference operators modeled on the public Deequ design (Schelter
et al., VLDB 2018: "Automating Large-Scale Data Quality Verification"):
every rule becomes a conditional-count expression inside one fused
``agg``, so auditing N rules costs one corpus pass regardless of N —
the property that makes continuous data-contract enforcement affordable
on a 100-TB ingest (Deequ's core trick, re-expressed as Spark
expressions). Uniqueness adds ``count_distinct`` to the same pass.

``assign_stable_ids`` is the classic two-phase global-ordering pattern:
range-partition on the key, rank WITHIN each partition (partitioned
window — no global sort through one task), collect only the per-
partition COUNTS (one row per partition), and add broadcast cumulative
offsets. The only global structure touched by the driver is the bounded
partition-size list; ids are dense, 0-based, and equal to
``row_number() OVER (ORDER BY key) - 1``.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Dict, List, Optional, Sequence

from pyspark.sql import DataFrame, Window, functions as F


@dataclass
class DQRule:
    """One declarative check. ``kind``:

    - ``not_null`` — violation: column is null
    - ``unique`` — violation count: ``n_rows - n_distinct`` (nulls count
      as one shared value, like SQL ``count(distinct)`` + null presence)
    - ``min`` / ``max`` — violation: value below/above ``value``
      (nulls are NOT violations here; add ``not_null`` separately)
    - ``in_set`` — violation: non-null value outside ``values``
    - ``regex`` — violation: non-null value not matching ``pattern``
    """
    column: str
    kind: str
    value: Optional[float] = None
    values: Optional[Sequence[Any]] = None
    pattern: Optional[str] = None
    name: Optional[str] = None

    def rule_name(self) -> str:
        return self.name or f"{self.kind}_{self.column}"


_KINDS = ("not_null", "unique", "min", "max", "in_set", "regex")


def _violation_expr(r: DQRule) -> F.Column:
    c = F.col(r.column)
    if r.kind == "not_null":
        return c.isNull()
    if r.kind == "min":
        return c.isNotNull() & (c < F.lit(r.value))
    if r.kind == "max":
        return c.isNotNull() & (c > F.lit(r.value))
    if r.kind == "in_set":
        return c.isNotNull() & ~c.isin(list(r.values))
    if r.kind == "regex":
        return c.isNotNull() & ~c.rlike(r.pattern)
    raise ValueError(f"unknown rule kind: {r.kind}")


def dq_audit(df: DataFrame, rules: Sequence[DQRule]) -> DataFrame:
    """Run every rule in ONE aggregation pass; returns one row per rule:
    ``(rule, column, kind, n_rows, n_violations, ok)``.

    Conditional counts all share the single scan+agg; each ``unique``
    rule contributes a ``count_distinct`` to the same aggregate. The
    1-row aggregate is then unpivoted into the per-rule report (stack on
    a 1-row frame — no second pass over data)."""
    for r in rules:
        if r.kind not in _KINDS:
            raise ValueError(f"unknown rule kind: {r.kind}")
        if r.column not in df.columns:
            raise KeyError(f"rule column not in frame: {r.column}")

    aggs = [F.count(F.lit(1)).alias("_n")]
    for i, r in enumerate(rules):
        if r.kind == "unique":
            # violations = n_rows - (distinct non-null + 1 if any null)
            aggs.append(
                (F.count(F.lit(1))
                 - F.count_distinct(F.col(r.column))
                 - F.coalesce(
                     F.max(F.when(F.col(r.column).isNull(), 1)
                           .otherwise(0)), F.lit(0)))
                .alias(f"_v{i}"))
        else:
            # coalesce: sum over ZERO rows is null, and an empty frame
            # must report 0 violations, not null
            aggs.append(F.coalesce(F.sum(_violation_expr(r).cast("long")),
                                   F.lit(0)).alias(f"_v{i}"))
    one = df.agg(*aggs)

    stacked = F.explode(F.array(*[
        F.struct(F.lit(r.rule_name()).alias("rule"),
                 F.lit(r.column).alias("column"),
                 F.lit(r.kind).alias("kind"),
                 F.col(f"_v{i}").cast("long").alias("n_violations"))
        for i, r in enumerate(rules)]))
    return (one.select(F.col("_n").alias("_nr"), stacked.alias("_s"))
            .select(F.col("_s.rule").alias("rule"),
                    F.col("_s.column").alias("column"),
                    F.col("_s.kind").alias("kind"),
                    F.col("_nr").cast("long").alias("n_rows"),
                    F.col("_s.n_violations").alias("n_violations"),
                    (F.col("_s.n_violations") == 0).alias("ok")))


def referential_integrity(child: DataFrame, parent: DataFrame,
                          child_key: str, parent_key: str) -> DataFrame:
    """Orphan audit: one row ``(n_child, n_orphans, ok)`` — child rows
    whose non-null key has no parent. Left-anti join on the key (the
    parent side reduces to its distinct keys first, so the join input is
    keys-only; AQE broadcasts small parents)."""
    pk = parent.select(F.col(parent_key).alias("_pk")).distinct()
    orphans = (child.filter(F.col(child_key).isNotNull())
               .join(pk, child[child_key] == pk["_pk"], "left_anti"))
    n_child = child.agg(F.count(F.lit(1)).alias("n")).select(
        F.col("n").alias("n_child"))
    n_orph = orphans.agg(F.count(F.lit(1)).alias("n_orphans"))
    return (n_child.crossJoin(n_orph)
            .select(F.col("n_child").cast("long").alias("n_child"),
                    F.col("n_orphans").cast("long").alias("n_orphans"),
                    (F.col("n_orphans") == 0).alias("ok")))


def assign_stable_ids(df: DataFrame, order_cols: Sequence[str],
                      out_col: str = "stable_id",
                      num_partitions: Optional[int] = None) -> DataFrame:
    """Dense 0-based ids in ``order_cols`` order WITHOUT a global
    single-partition window: range-repartition on the key, rank within
    each partition, then add broadcast cumulative partition offsets.
    ``order_cols`` must be a unique key (ties would make the order — and
    therefore the ids — nondeterministic; the range partitioner also
    splits equal keys across partitions).

    Equivalent to ``row_number() OVER (ORDER BY order_cols) - 1`` but the
    sort is partition-local: the driver sees one count per partition,
    never rows. The classic zipWithIndex pattern, kept in DataFrame land.
    """
    cols = [F.col(c) for c in order_cols]
    ranged = (df.repartitionByRange(num_partitions, *cols)
              if num_partitions else df.repartitionByRange(*cols))
    # RangePartitioner samples boundaries with a per-RDD seed, so the
    # sizes job and the final join job would otherwise re-evaluate the
    # lineage with DIFFERENT partition layouts and the offsets would be
    # wrong. Pin ONE layout by materializing it (executor-local
    # memory+disk) before both reads — the sizes collect below triggers
    # a full pass anyway, so this only adds the storage, not a pass.
    with_pid = (ranged.withColumn("_pid", F.spark_partition_id())
                .localCheckpoint(eager=True))
    sizes = (with_pid.groupBy("_pid").agg(F.count(F.lit(1)).alias("_cnt"))
             .orderBy("_pid").collect())  # bounded: one row per partition
    offsets, acc = {}, 0
    for row in sizes:
        offsets[row["_pid"]] = acc
        acc += row["_cnt"]
    spark = df.sparkSession
    off = spark.createDataFrame(
        [(int(p), int(o)) for p, o in offsets.items()],
        "_pid int, _off long")
    w = Window.partitionBy("_pid").orderBy(*cols)
    return (with_pid
            .join(F.broadcast(off), "_pid")
            .withColumn(out_col,
                        (F.col("_off") + F.row_number().over(w) - 1)
                        .cast("long"))
            .drop("_pid", "_off"))


def join_size_estimate(left: DataFrame, right: DataFrame,
                       left_key: str, right_key: str) -> DataFrame:
    """EXACT inner-equi-join cardinality WITHOUT running the join:
    ``|A ⋈ B| = Σ_k cnt_A(k) · cnt_B(k)`` over the two per-key count
    tables → one row ``(n_left, n_right, n_keys_left, n_keys_right,
    n_keys_common, join_rows, max_key_rows)``.

    The capacity-planning / skew-preflight check before a 100-TB join:
    the count tables are each one partial-agg groupBy (≪ the join
    output when keys repeat), their join touches only distinct keys,
    and ``max_key_rows`` — the largest single-key output — is exactly
    the number that decides whether the real join needs salting
    (:mod:`.skew`) before it is attempted.  Null keys never join; they
    are excluded from both sides (counted in n_left/n_right though).
    """
    lc = (left.groupBy(F.col(left_key).alias("_k"))
          .agg(F.count(F.lit(1)).alias("_la")))
    rc = (right.groupBy(F.col(right_key).alias("_k"))
          .agg(F.count(F.lit(1)).alias("_rb")))
    nl = left.count()
    nr = right.count()
    j = (lc.filter(F.col("_k").isNotNull())
         .join(rc.filter(F.col("_k").isNotNull()), "_k")
         .select((F.col("_la") * F.col("_rb")).alias("_prod")))
    agg = j.agg(F.count(F.lit(1)).cast("long").alias("n_keys_common"),
                F.coalesce(F.sum("_prod"), F.lit(0)).cast("long")
                .alias("join_rows"),
                F.coalesce(F.max("_prod"), F.lit(0)).cast("long")
                .alias("max_key_rows"))
    kl = lc.filter(F.col("_k").isNotNull()).count()
    kr = rc.filter(F.col("_k").isNotNull()).count()
    return agg.select(
        F.lit(int(nl)).cast("long").alias("n_left"),
        F.lit(int(nr)).cast("long").alias("n_right"),
        F.lit(int(kl)).cast("long").alias("n_keys_left"),
        F.lit(int(kr)).cast("long").alias("n_keys_right"),
        "n_keys_common", "join_rows", "max_key_rows")
