"""Incremental-snapshot maintenance: snapshot diff (CDC classification),
upsert merge, and latest-version compaction.

Beyond-reference operators (BASELINE.json north star: a 100-TB training
corpus is refreshed incrementally — each crawl/delivery is a new snapshot
that must be diffed against the previous one, merged, and compacted before
any dedup/quality pass runs). The reference engine has no incremental
story (`/root/reference/bid_evaluation/evaluator.py` evaluates one
in-memory table); these are the Spark-native primitives that give it one.

Scale shapes:

- :func:`snapshot_diff` — ONE full-outer equi-join keyed on the business
  key (both sides shuffle once; with bucketed tables the exchange
  disappears). Change detection is a null-safe column-equality
  conjunction evaluated inside the join's projection — no second pass, no
  hashing collision risk (a digest-compare variant would trade a
  2⁻⁶⁴ misclassification for narrower shuffle payloads; at that point
  emit the digest from the writer, not here).
- :func:`apply_upsert` — left-anti join (keys shuffle) + unionByName:
  the updates win, survivors ride along. No window, no global sort.
- :func:`compact_latest` — the classic CDC-log → snapshot compaction:
  per-key ``row_number() = 1`` over (version DESC, tiebreak DESC), one
  key-partitioned window shuffle. The deterministic tiebreak column is
  REQUIRED: a version-only ordering with duplicate versions is
  nondeterministic across runs and engines.
"""

from __future__ import annotations

from functools import reduce
from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window, functions as F

CHANGE_COL = "change_type"


def snapshot_diff(old: DataFrame, new: DataFrame, key_cols: Sequence[str],
                  compare_cols: Optional[Sequence[str]] = None) -> DataFrame:
    """Classify every business key across two snapshots as ``inserted`` /
    ``deleted`` / ``changed`` / ``unchanged``.

    Returns the key columns, ``change_type``, and every compared column
    twice (``old_<c>`` / ``new_<c>``; null on the absent side). Comparison
    is null-safe (``NULL ≡ NULL`` is unchanged). ``compare_cols`` defaults
    to all common non-key columns. Keys must be unique per snapshot
    (the usual snapshot contract; duplicate keys produce join fan-out).
    """
    keys = list(key_cols)
    if compare_cols is None:
        compare_cols = [c for c in new.columns
                        if c in set(old.columns) and c not in keys]
    cmp_ = list(compare_cols)

    o = old.select(*keys, *[F.col(c).alias(f"old_{c}") for c in cmp_],
                   F.lit(True).alias("_in_old"))
    n = new.select(*keys, *[F.col(c).alias(f"new_{c}") for c in cmp_],
                   F.lit(True).alias("_in_new"))
    j = o.join(n, on=keys, how="full_outer")

    same = reduce(lambda a, b: a & b,
                  [F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
                   for c in cmp_],
                  F.lit(True))
    change = (F.when(F.col("_in_old").isNull(), F.lit("inserted"))
              .when(F.col("_in_new").isNull(), F.lit("deleted"))
              .when(same, F.lit("unchanged"))
              .otherwise(F.lit("changed")))
    return j.select(*keys, change.alias(CHANGE_COL),
                    *[f"old_{c}" for c in cmp_],
                    *[f"new_{c}" for c in cmp_])


def apply_upsert(snapshot: DataFrame, updates: DataFrame,
                 key_cols: Sequence[str],
                 delete_col: Optional[str] = None) -> DataFrame:
    """Merge ``updates`` into ``snapshot`` on the business key: an update
    row replaces the snapshot row with its key (or inserts it); snapshot
    rows with no update survive unchanged. With ``delete_col`` set, update
    rows where that boolean column is true DELETE the key instead (the
    column is dropped from the output).

    Columns must match (``unionByName`` contract, after dropping
    ``delete_col``); keys must be unique per input.
    """
    keys = list(key_cols)
    survivors = snapshot.join(updates.select(*keys), on=keys,
                              how="left_anti")
    if delete_col is None:
        return survivors.unionByName(updates)
    kept = (updates.filter(~F.coalesce(F.col(delete_col), F.lit(False)))
            .drop(delete_col))
    return survivors.unionByName(kept)


def compact_latest(df: DataFrame, key_cols: Sequence[str],
                   version_col: str, tiebreak_col: str) -> DataFrame:
    """Latest row per key from a CDC log / multi-version table: highest
    ``version_col``, ties broken by highest ``tiebreak_col`` (which must be
    unique within a key+version for determinism). One key-partitioned
    window shuffle; all other columns ride along.
    """
    w = (Window.partitionBy(*key_cols)
         .orderBy(F.col(version_col).desc(), F.col(tiebreak_col).desc()))
    return (df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))


def scd2_history(df: DataFrame, key_cols: Sequence[str], ts_col: str,
                 attr_cols: Sequence[str], tiebreak_col: str) -> DataFrame:
    """Slowly-changing-dimension type-2 history from a change log
    (Kimball's SCD2): per key, collapse consecutive rows whose tracked
    attributes are unchanged and emit one VERSION row per run →
    ``(*key_cols, *attr_cols, valid_from, valid_to, version,
    is_current)`` where ``valid_to`` is the next version's
    ``valid_from`` (null on the open current version) and ``version``
    counts 1.. per key in time order.

    Ordering within a key is ``(ts_col, tiebreak_col)`` — the tiebreak
    must be unique per key+timestamp for a deterministic history.
    Attribute comparison is null-safe (null → null is "no change";
    null → value is a change). Two key-partitioned window passes over
    the log, nothing else — the history table is at most the log size
    and shrinks with every unchanged row.
    """
    keys = list(key_cols)
    attrs = list(attr_cols)
    if not keys or not attrs:
        raise ValueError("need at least one key column and one attribute")
    w = Window.partitionBy(*keys).orderBy(F.col(ts_col).asc(),
                                          F.col(tiebreak_col).asc())
    cur = F.struct(*[F.col(a) for a in attrs])
    prev = F.lag(cur).over(w)
    changed = prev.isNull() | ~prev.eqNullSafe(cur)
    runs = (df.select(*keys, ts_col, tiebreak_col, *attrs)
            .withColumn("_chg", changed)
            .filter(F.col("_chg"))
            .drop("_chg"))
    w2 = Window.partitionBy(*keys).orderBy(F.col(ts_col).asc(),
                                           F.col(tiebreak_col).asc())
    return (runs
            .withColumn("valid_from", F.col(ts_col))
            .withColumn("valid_to", F.lead("valid_from").over(w2))
            .withColumn("version",
                        F.row_number().over(w2).cast("long"))
            .withColumn("is_current", F.col("valid_to").isNull())
            .select(*keys, *attrs, "valid_from", "valid_to", "version",
                    "is_current"))


def pit_join(facts: DataFrame, history: DataFrame,
             key_cols: Sequence[str], fact_ts_col: str,
             valid_from_col: str = "valid_from",
             valid_to_col: str = "valid_to",
             how: str = "left") -> DataFrame:
    """Point-in-time join: attach to each fact row the dimension
    VERSION that was valid when the fact happened — the feature-store /
    Kimball lookup against an SCD2 history (:func:`scd2_history`):
    match on key AND ``valid_from ≤ fact_ts < valid_to`` (open current
    versions have null ``valid_to`` and match everything from their
    start). Facts before a key's first version (or missing keys) keep
    null dimension columns under ``how='left'``.

    Plan shape: an EQUI-join on the key carries the hash partitioning;
    the interval predicate is a post-join filter on the matched pairs —
    each fact meets only ITS key's versions (per-key version counts are
    small by SCD2 construction), never a cross product. Since versions
    of one key never overlap, at most one history row survives per
    fact — no dedup pass is needed afterwards.
    """
    keys = list(key_cols)
    if not keys:
        raise ValueError("need at least one key column")
    if how not in ("left", "inner"):
        raise ValueError(f"how must be 'left' or 'inner', got {how}")
    ts = F.col(f"_f.{fact_ts_col}")
    cond = None
    for c in keys:
        eq = F.col(f"_f.{c}") == F.col(f"_h.{c}")
        cond = eq if cond is None else cond & eq
    cond = (cond
            & (ts >= F.col(f"_h.{valid_from_col}"))
            & (F.col(f"_h.{valid_to_col}").isNull()
               | (ts < F.col(f"_h.{valid_to_col}"))))
    f = facts.alias("_f")
    h = history.alias("_h")
    out = f.join(h, cond, how)
    for c in keys:
        out = out.drop(F.col(f"_h.{c}"))
    return out
