"""Per-key time-series feature engineering over event tables: lags, deltas,
rolling statistics, and forward-looking labels — all window expressions.

Beyond-reference operator (BASELINE.json north star: the feature/label
generation pass that turns raw event logs into supervised training rows).
Everything is ``Window.partitionBy(key).orderBy(ts, tiebreak)`` expressions:

- ONE shuffle keyed by the entity (all window specs share the partitioning
  and ordering, so Catalyst plans a single exchange + sort and chains the
  Window operators over it);
- scales with events-per-key, never corpus size — a skewed key (one entity
  with a huge history) serializes within its partition, which is inherent
  to ordered per-key semantics; split such keys upstream by time range if
  per-key history outgrows an executor.

Determinism: the ordering includes an explicit unique ``tiebreak_col`` so
lags/leads/rolling frames are reproducible across engines and runs (a
``ts``-only ordering with duplicate timestamps is not).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window, functions as F


def rolling_features(df: DataFrame, key_col: str = "user_id",
                     ts_col: str = "ts", value_col: str = "value",
                     tiebreak_col: str = "event_id",
                     windows: Sequence[int] = (3, 10)) -> DataFrame:
    """Append per-key history features, ordered by ``(ts, tiebreak)``:

    - ``row_index`` — 0-based position in the key's history
    - ``lag1_<value>`` / ``delta_<value>`` — previous value and change
    - ``secs_since_prev`` — seconds since the previous event (null first)
    - per ``w`` in ``windows``: ``roll{w}_mean/std/min/max`` over the
      trailing ``w`` rows (current included; std is sample-stddev, null
      until 2 rows)
    """
    w = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    v = F.col(value_col)
    prev = F.lag(v).over(w)
    prev_ts = F.lag(F.col(ts_col)).over(w)
    out = df.select(
        "*",
        (F.row_number().over(w) - 1).cast("long").alias("row_index"),
        prev.alias(f"lag1_{value_col}"),
        (v - prev).alias(f"delta_{value_col}"),
        ((F.unix_micros(F.col(ts_col)) - F.unix_micros(prev_ts))
         / F.lit(1_000_000.0)).alias("secs_since_prev"),
    )
    for win in windows:
        frame = w.rowsBetween(-(win - 1), 0)
        out = out.select(
            "*",
            F.avg(value_col).over(frame).alias(f"roll{win}_mean"),
            F.stddev_samp(value_col).over(frame).alias(f"roll{win}_std"),
            F.min(value_col).over(frame).alias(f"roll{win}_min"),
            F.max(value_col).over(frame).alias(f"roll{win}_max"),
        )
    return out


def forward_labels(df: DataFrame, key_col: str = "user_id",
                   ts_col: str = "ts", value_col: str = "value",
                   tiebreak_col: str = "event_id",
                   horizon: int = 1) -> DataFrame:
    """Append forward-looking supervision targets per key: the value and
    the gap (seconds) ``horizon`` events ahead — null inside the last
    ``horizon`` rows of a key's history (no peeking past the end). Same
    single-shuffle window shape as :func:`rolling_features`."""
    w = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    nxt = F.lead(F.col(value_col), horizon).over(w)
    nxt_ts = F.lead(F.col(ts_col), horizon).over(w)
    return df.select(
        "*",
        nxt.alias(f"next{horizon}_{value_col}"),
        ((F.unix_micros(nxt_ts) - F.unix_micros(F.col(ts_col)))
         / F.lit(1_000_000.0)).alias(f"secs_to_next{horizon}"),
    )


def robust_zscores(df: DataFrame, value_col: str,
                   group_col: Optional[str] = None,
                   out_col: str = "robust_z") -> DataFrame:
    """Median/MAD robust z-scores — the outlier score that a few extreme
    values cannot distort (mean/std break down exactly when outliers are
    present): ``z = (x - median) / (1.4826 · MAD)``, per group when
    ``group_col`` is given. The batch twin of the streaming Welford
    anomaly flagger, for backfills and offline sweeps.

    Shape: two grouped ``percentile`` aggregates (median, then median of
    absolute deviations — the second genuinely needs the first, two passes
    are inherent), each producing one row per group and joined back (the
    optimizer broadcasts small stats frames; a high-cardinality group_col
    falls back to a shuffle join instead of pinning every group's row in
    executor memory); scoring is a map-only projection. Groups with
    MAD = 0 (constant values) get null scores (``try_divide``).
    """
    from pyspark.sql.functions import try_divide

    g = [group_col] if group_col else []
    med_agg = F.expr(f"percentile({value_col}, 0.5)").alias("_med")
    med = df.groupBy(*g).agg(med_agg) if g else df.agg(med_agg)
    # grouped stats frames are one row per group: no broadcast hint, so the
    # optimizer/AQE broadcasts small ones but falls back to a shuffle join
    # when group_col is high-cardinality (a forced hint would pin the whole
    # stats frame in every executor). The global (ungrouped) frame is a
    # single row — always broadcast.
    j = df.join(med, on=g) if g else df.crossJoin(F.broadcast(med))
    mad_agg = F.expr(f"percentile(abs({value_col} - _med), 0.5)").alias("_mad")
    mad = j.groupBy(*g).agg(mad_agg) if g else j.agg(mad_agg)
    j2 = j.join(mad, on=g) if g else j.crossJoin(F.broadcast(mad))
    z = try_divide(F.col(value_col) - F.col("_med"),
                   F.lit(1.4826) * F.col("_mad"))
    return j2.withColumn(out_col, z).drop("_med", "_mad")


def event_sequences(df: DataFrame, key_col: str = "user_id",
                    order_cols: Sequence[str] = ("ts", "event_id"),
                    value_col: str = "event_type",
                    max_len: Optional[int] = None,
                    sep: str = ",") -> DataFrame:
    """Per-key ordered value sequences — the assembly step for
    behavior-sequence training data (next-event prediction, session
    modeling): one row per key with the key's values concatenated in
    ``order_cols`` order.

    Deterministic without a sort exchange per key: ``collect_list`` into
    structs carrying the order columns, ``array_sort`` (struct field order
    = sort key, so ties break on the tiebreaker column), project the value,
    join. One groupBy shuffle; a whale key costs only its own row count.
    ``max_len`` truncates each sequence AFTER ordering (the usual training
    cap). Returns ``(key, n_events, seq)``.
    """
    order_struct = F.struct(*[F.col(c) for c in order_cols],
                            F.col(value_col).alias("_v"))
    arr = F.transform(F.array_sort(F.collect_list(order_struct)),
                      lambda x: x["_v"])
    if max_len is not None:
        arr = F.slice(arr, 1, int(max_len))
    return (df.groupBy(key_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
                 F.array_join(arr, sep).alias("seq")))


def mutual_information(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Mutual information between two categorical columns (nats) → one
    row ``(mi, n)`` — the feature-selection / redundancy score
    complementing chi-square drift.

    Join-free entropy identity (same trick as ``category_diversity``):
    ``MI = (Σ c_ab·ln c_ab − Σ c_a·ln c_a − Σ c_b·ln c_b + N·ln N) / N``
    over the ALREADY-AGGREGATED (a, b) count table — the raw scan
    collapses in ONE groupBy; marginals re-aggregate the count table
    (category-cardinality rows, not corpus rows). Rows with a null in
    either column are excluded by contract. ``mi`` rounds to 4 decimals;
    n = 0 or a single joint cell yields ``mi = 0.0``.
    """
    ab = (df.filter(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
          .groupBy(F.col(col_a).alias("_a"), F.col(col_b).alias("_b"))
          .agg(F.count(F.lit(1)).cast("double").alias("_c")))
    clnc = F.sum(F.col("_c") * F.log(F.col("_c")))
    jab = ab.agg(clnc.alias("_sab"), F.sum("_c").alias("_n"))
    ja = (ab.groupBy("_a").agg(F.sum("_c").alias("_c"))
          .agg(clnc.alias("_sa")))
    jb = (ab.groupBy("_b").agg(F.sum("_c").alias("_c"))
          .agg(clnc.alias("_sb")))
    n = F.coalesce(F.col("_n"), F.lit(0.0))  # sum over zero rows is null
    mi = ((F.col("_sab") - F.col("_sa") - F.col("_sb")
           + n * F.log(n)) / n)
    mi = F.when(n > 0,
                F.round(mi * 1e4) / 1e4 + F.lit(0.0)).otherwise(F.lit(0.0))
    return (jab.crossJoin(ja).crossJoin(jb)
            .select(mi.alias("mi"), n.cast("long").alias("n")))


def woe_iv(df: DataFrame, cat_col: str, label_col: str,
           smoothing: float = 0.5) -> DataFrame:
    """Weight-of-evidence encoding + information value per category →
    ``(category, n_pos, n_neg, woe, iv_term)`` (credit-scoring classic;
    ``label_col`` boolean-ish: true/1 = positive).

    ``woe = ln( (n_pos_c + s)/(pos_tot + s) / ((n_neg_c + s)/(neg_tot
    + s)) )`` with additive smoothing ``s`` per CELL (never a zero
    numerator/denominator); ``iv_term`` is the category's contribution
    ``(pos_share − neg_share)·woe`` on the SMOOTHED shares — sum it for
    the global IV. One groupBy over the raw scan; totals via a
    whole-frame window over the aggregated category table (bounded by
    category cardinality — no second scan). Null categories/labels are
    excluded. ``woe``/``iv_term`` round to 4 decimals.
    """
    if smoothing <= 0:
        raise ValueError(f"smoothing must be positive, got {smoothing}")
    s = float(smoothing)
    pos = F.col(label_col).cast("boolean").cast("long")
    g = (df.filter(F.col(cat_col).isNotNull()
                   & F.col(label_col).isNotNull())
         .groupBy(F.col(cat_col).alias("category"))
         .agg(F.sum(pos).cast("long").alias("n_pos"),
              F.sum(F.lit(1) - pos).cast("long").alias("n_neg")))
    wall = Window.rowsBetween(Window.unboundedPreceding,
                              Window.unboundedFollowing)
    pt = F.sum("n_pos").over(wall).cast("double")
    nt = F.sum("n_neg").over(wall).cast("double")
    ps = (F.col("n_pos") + F.lit(s)) / (pt + F.lit(s))
    ns = (F.col("n_neg") + F.lit(s)) / (nt + F.lit(s))
    woe = F.log(ps / ns)
    r4 = lambda e: F.round(e * 1e4) / 1e4 + F.lit(0.0)  # noqa: E731
    return g.select("category", "n_pos", "n_neg",
                    r4(woe).alias("woe"),
                    r4((ps - ns) * woe).alias("iv_term"))
