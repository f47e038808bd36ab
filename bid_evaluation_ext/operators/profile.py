"""Data profiling: one-pass column profiles and equi-width histograms.

Beyond-reference operators (BASELINE.json north star): before a 100-TB
corpus is cleaned/mixed/packed, a pipeline profiles it — null rates,
cardinalities, dominant values, numeric distributions. Everything here is
exact and expressed as fused aggregations so one scan serves many columns:

- :func:`column_profile` — per column: rows, nulls, distinct count, and the
  top-k most frequent values with counts (deterministic ties). The
  frequency pass shuffles (value, count) pairs per column with map-side
  partial aggregation; the driver receives k rows per column, never the
  value tables.
- :func:`numeric_histogram` — exact equi-width histogram per numeric
  column: one tiny min/max pass folds the bounds in as literals, then one
  partially-aggregated ``groupBy(bucket)`` shuffle. Empty buckets are
  materialized (array_repeat + explode) so the output is always ``bins``
  rows per column — the plotting contract.

Approximate variants at extreme cardinality (``approx_count_distinct``,
``percentile_approx`` sketches) are one-word swaps; the exact forms are the
oracle-checkable defaults.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window, functions as F

from .cache import track_cached


def column_profile(df: DataFrame, cols: Optional[Sequence[str]] = None,
                   top_k: int = 5) -> DataFrame:
    """Profile columns → ``(column, n_rows, n_null, n_distinct, top_values)``.

    ``top_values`` is an array of ``{value, n}`` structs (values rendered
    as strings so one schema fits every column type), ordered by
    (count desc, value asc) — deterministic under ties. Nulls are counted
    in ``n_null`` and excluded from ``n_distinct``/``top_values``
    (``count(distinct)`` SQL semantics).

    One unpivot (stack) feeds both the distinct/null tallies and the
    frequency ranking, so the input scans once; all aggregation is partial
    (map-side) before its shuffle.
    """
    cols = list(cols) if cols is not None else list(df.columns)
    if not cols:
        raise ValueError("no columns to profile")
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise KeyError(f"columns not in frame: {missing}")

    pairs = ", ".join(f"'{c}', CAST(`{c}` AS STRING)" for c in cols)
    long = df.select(
        F.expr(f"stack({len(cols)}, {pairs}) AS (column, value)"))

    freq = long.groupBy("column", "value").agg(F.count("*").alias("n"))
    w = Window.partitionBy("column").orderBy(F.desc("n"), F.asc("value"))
    top = (
        freq.filter(F.col("value").isNotNull())
        .withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= top_k)
        .groupBy("column")
        .agg(F.sort_array(F.collect_list(F.struct(
            F.col("_r").alias("r"), F.col("value").alias("value"),
            F.col("n").alias("n")))).alias("_tv"))
        .select("column", F.transform(
            "_tv", lambda s: s.dropFields("r")).alias("top_values"))
    )
    tallies = freq.groupBy("column").agg(
        F.sum("n").alias("n_rows"),
        F.coalesce(F.sum(F.when(F.col("value").isNull(), F.col("n"))),
                   F.lit(0)).alias("n_null"),
        F.count(F.when(F.col("value").isNotNull(), F.lit(1)))
         .alias("n_distinct"),
    )
    return tallies.join(top, on="column", how="left").select(
        "column", "n_rows", "n_null", "n_distinct", "top_values")


def numeric_histogram(df: DataFrame, cols: Sequence[str],
                      bins: int = 10) -> DataFrame:
    """Exact equi-width histograms → ``(column, bucket, lo, hi, n)``.

    Buckets split ``[min, max]`` into ``bins`` equal widths per column;
    the top edge is inclusive (the max lands in the last bucket, the SQL
    ``width_bucket`` convention clamped). Always emits exactly ``bins``
    rows per column — empty buckets appear with ``n = 0``. Nulls are
    excluded. A constant column puts every row in bucket 0 of a
    zero-width range.

    Two jobs: a fused min/max aggregate (one row to the driver), then one
    partially-aggregated bucket count per column.
    """
    cols = list(cols)
    if not cols:
        raise ValueError("no columns to histogram")
    if bins <= 0:
        raise ValueError(f"bins must be > 0, got {bins}")
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise KeyError(f"columns not in frame: {missing}")

    bounds = df.agg(*[f for c in cols for f in (
        F.min(F.col(c).cast("double")).alias(f"{c}__min"),
        F.max(F.col(c).cast("double")).alias(f"{c}__max"))]).first()

    out = None
    for c in cols:
        lo, hi = bounds[f"{c}__min"], bounds[f"{c}__max"]
        if lo is None:  # all-null column: bins empty buckets over [0, 0]
            lo = hi = 0.0
        width = (hi - lo) / bins
        x = F.col("_x")
        bucket = (F.when(F.lit(width) == 0.0, F.lit(0))
                  .otherwise(F.least(F.floor((x - F.lit(lo)) / F.lit(width)),
                                     F.lit(bins - 1)))).cast("int")
        counted = (
            df.select(F.col(c).cast("double").alias("_x"))
            .filter(x.isNotNull())
            .select(bucket.alias("bucket")).groupBy("bucket")
            .agg(F.count("*").alias("n"))
        )
        all_buckets = df.sparkSession.range(bins).select(
            F.col("id").cast("int").alias("bucket"))
        hist = (
            all_buckets.join(counted, on="bucket", how="left")
            .select(
                F.lit(c).alias("column"), "bucket",
                (F.lit(lo) + F.col("bucket") * F.lit(width)).alias("lo"),
                (F.lit(lo) + (F.col("bucket") + 1) * F.lit(width)).alias("hi"),
                F.coalesce(F.col("n"), F.lit(0)).alias("n"),
            )
        )
        out = hist if out is None else out.unionByName(hist)
    return out


# ---------------------------------------------------------------------------
# Declarative data-quality rules
# ---------------------------------------------------------------------------

#: rule kinds → required keys (beyond "kind" and "column")
RULE_KINDS = {
    "not_null": (),
    "unique": (),
    "accepted_values": ("values",),
    "range": (),          # at least one of min/max
    "regex": ("pattern",),
}


def validate_rules(df: DataFrame, rules: Sequence[dict]) -> DataFrame:
    """Declarative data-quality checks (the dbt-test shape) → one row per
    rule: ``(rule, kind, column, n_violations, n_checked)``.

    Kinds: ``not_null``; ``unique`` (violations = rows beyond the first per
    duplicated value, nulls ignored); ``accepted_values`` (non-null value
    outside the list); ``range`` (non-null value outside [min, max]);
    ``regex`` (non-null value NOT fully matching the pattern — keep it in
    the Java∩RE2 common subset for engine portability).

    One scan: every row-wise rule folds into a single fused aggregate
    (sum-of-violation-flags + count per checked column); ``unique`` rides
    the same aggregate as count - countDistinct. The driver assembles the
    |rules|-row result — counts only, never data.
    """
    if not rules:
        raise ValueError("rules must be a non-empty sequence")
    aggs, meta = [], []
    for i, r in enumerate(rules):
        kind, col = r.get("kind"), r.get("column")
        if kind not in RULE_KINDS:
            raise ValueError(
                f"rule {i}: unknown kind {kind!r} (have {sorted(RULE_KINDS)})")
        if not col:
            raise ValueError(f"rule {i} ({kind}): missing 'column'")
        for req in RULE_KINDS[kind]:
            if req not in r:
                raise ValueError(f"rule {i} ({kind}): missing {req!r}")
        c = F.col(col)
        name = r.get("name", f"{kind}_{col}")
        if kind == "not_null":
            viol = c.isNull()
            checked = F.count(F.lit(1))
        elif kind == "unique":
            aggs.append((F.count(c) - F.count_distinct(c))
                        .cast("long").alias(f"_v{i}"))
            aggs.append(F.count(c).cast("long").alias(f"_n{i}"))
            meta.append((name, kind, col))
            continue
        elif kind == "accepted_values":
            viol = c.isNotNull() & ~c.isin(list(r["values"]))
            checked = F.count(c)
        elif kind == "range":
            lo, hi = r.get("min"), r.get("max")
            if lo is None and hi is None:
                raise ValueError(f"rule {i} (range): needs min and/or max")
            conds = []
            if lo is not None:
                conds.append(c < F.lit(lo))
            if hi is not None:
                conds.append(c > F.lit(hi))
            bad = conds[0] if len(conds) == 1 else (conds[0] | conds[1])
            viol = c.isNotNull() & bad
            checked = F.count(c)
        else:  # regex: full match required
            viol = c.isNotNull() & ~c.rlike("^(?:" + r["pattern"] + ")$")
            checked = F.count(c)
        aggs.append(F.sum(F.when(viol, 1).otherwise(0))
                    .cast("long").alias(f"_v{i}"))
        aggs.append(checked.cast("long").alias(f"_n{i}"))
        meta.append((name, kind, col))

    row = df.agg(*aggs).first()
    out = [(name, kind, col,
            int(row[f"_v{i}"] or 0), int(row[f"_n{i}"] or 0))
           for i, (name, kind, col) in enumerate(meta)]
    return df.sparkSession.createDataFrame(
        out, "rule string, kind string, column string, "
             "n_violations long, n_checked long")


def key_skew_report(df: DataFrame, key_col: str, top_k: int = 10,
                    target_rows_per_task: int = 1_000_000) -> DataFrame:
    """Shuffle-key skew diagnostic ahead of a big join/groupBy: per heavy
    key its row count, share of the table, the ratio to a perfectly
    uniform key (count / (rows / distinct)), and the salt factor
    ``ceil(count / target_rows_per_task)`` that operators/skew.py's salted
    aggregation would need to break the key into target-sized tasks.

    One partially-aggregated ``groupBy(key)`` shuffle; the global scalars
    (rows, distinct keys) come from a second aggregate OVER THE COUNTS
    table (no rescan of the data — the counts frame is reused, so the
    expensive corpus shuffle happens once). Top-k by count is TakeOrdered
    with key-ascending tiebreak. Null keys count as a key (the classic
    skew culprit); the caller sees them as a null row.
    """
    counts = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("key_rows"))
    counts.persist()
    tot = counts.agg(F.sum("key_rows").alias("r"),
                     F.count(F.lit(1)).alias("d")).collect()[0]
    rows, distinct = int(tot["r"] or 0), int(tot["d"] or 0)
    uniform = rows / distinct if distinct else 0.0
    # `counts` also feeds the returned lazy plan — release via cache registry.
    return track_cached(
        counts
        .withColumn("share", F.col("key_rows") / F.lit(float(rows or 1)))
        .withColumn("skew_ratio",
                    F.col("key_rows") / F.lit(float(uniform or 1.0)))
        .withColumn("salt_factor",
                    F.ceil(F.col("key_rows")
                           / F.lit(float(target_rows_per_task)))
                    .cast("long"))
        .orderBy(F.desc("key_rows"), F.asc(key_col))
        .limit(top_k), [counts])


def correlation_matrix(df: DataFrame, cols) -> DataFrame:
    """Pairwise Pearson correlations for ``cols`` from ONE fused
    aggregation pass — the profiling step that finds redundant
    features/columns before training. Each pair uses Spark's built-in
    ``corr`` aggregate (Welford-style stable co-moments, not the
    cancellation-prone raw-moment formula ``n·Σxy − Σx·Σy``: a
    near-constant column with a large offset loses ~6 significant
    digits under raw moments and the result can even leave [−1, 1] on
    timestamps-as-doubles — a hypothesis test caught exactly that, see
    tests/test_properties.py::test_correlation_affine_invariance).
    All k variances + k² corr aggregates still fuse into the SAME
    single-scan HashAggregate, so the plan shape is unchanged.

    Listwise complete-case: rows with a null in ANY profiled column are
    excluded (pairwise-complete would make the per-pair n's differ
    silently; the dropped-row count is visible as n). Returns one row
    per unordered pair ``(col_a, col_b, r, n)`` with ``col_a < col_b``
    lexicographically; ``r`` is null when either column is constant
    (zero variance). O(k²) expressions in one scan — no shuffle beyond
    the single aggregate, no driver loop over data.
    """
    cols = list(cols)
    if len(cols) < 2:
        raise ValueError(f"need at least 2 columns, got {cols}")
    base = df
    for c in cols:
        base = base.filter(F.col(c).isNotNull())
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs.append(F.var_samp(F.col(c).cast("double")).alias(f"_v_{c}"))
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            aggs.append(F.corr(F.col(a).cast("double"),
                               F.col(b).cast("double"))
                        .alias(f"_r_{a}_{b}"))
    stats = base.agg(*aggs)

    pairs = []
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            ca, cb = (a, b) if a < b else (b, a)
            # corr returns NaN on a zero-variance side; the variance
            # guard pins the documented contract (null, not NaN).
            r = F.when((F.col(f"_v_{a}") > 0) & (F.col(f"_v_{b}") > 0),
                       F.col(f"_r_{a}_{b}"))
            pairs.append(F.struct(F.lit(ca).alias("col_a"),
                                  F.lit(cb).alias("col_b"),
                                  r.alias("r"),
                                  F.col("_n").alias("n")))
    return (stats.select(F.explode(F.array(*pairs)).alias("p"))
            .select("p.col_a", "p.col_b", "p.r", "p.n"))


#: prime modulus keeping per-bucket checksum sums far from int64 overflow
_CKSUM_MOD = 1_000_003


def table_fingerprint(df: DataFrame, cols=None,
                      buckets: int = 256) -> DataFrame:
    """Content fingerprint manifest: every row hashes (md5, portable) over
    its canonicalized column values, lands in one of ``buckets`` cells,
    and each cell aggregates ``(n_rows, checksum, checksum2)`` — two
    independent mod-prime sums of the row hashes. Comparing two tables'
    manifests (tiny: ``buckets`` rows) answers "is this copy/version
    identical, and if not WHICH slice changed" without ever joining row
    data — the integrity check before/after a 100-TB migration, where
    `cdc.snapshot_diff` is the row-level follow-up on the buckets that
    differ. Order-insensitive by construction (sums commute); column
    ORDER matters (part of the schema contract). Nulls canonicalize to a
    sentinel distinct from the string 'null'.

    One partially-aggregated groupBy on the bucket key — map-side state
    is ``buckets`` cells per task regardless of table size.
    """
    if buckets < 1:
        raise ValueError(f"buckets must be positive, got {buckets}")
    cols = list(cols) if cols is not None else list(df.columns)
    if not cols:
        raise ValueError("no columns to fingerprint")
    canon = [F.coalesce(F.col(c).cast("string"), F.lit("\x00null"))
             for c in cols]
    h = F.conv(F.substring(F.md5(F.concat_ws("\x01", *canon)
                                 .cast("binary")), 1, 15), 16, 10) \
        .cast("long")
    h2 = F.conv(F.substring(F.md5(F.concat(F.concat_ws("\x01", *canon),
                                           F.lit("\x02salt"))
                                  .cast("binary")), 1, 15), 16, 10) \
        .cast("long")
    return (df.select(F.pmod(h, F.lit(buckets)).alias("bucket"),
                      (h % F.lit(_CKSUM_MOD)).alias("_h1"),
                      (h2 % F.lit(_CKSUM_MOD)).alias("_h2"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum("_h1").alias("checksum"),
                 F.sum("_h2").alias("checksum2")))


def fingerprint_diff(a: DataFrame, b: DataFrame) -> DataFrame:
    """Buckets where two :func:`table_fingerprint` manifests disagree —
    full-outer join on the (tiny) bucket key; empty result ⟺ same row
    multiset per bucket (up to the documented checksum collision odds).
    Returns ``(bucket, n_rows_a, n_rows_b, checksum_a, checksum_b)``."""
    an = (a.withColumnRenamed("n_rows", "n_rows_a")
          .withColumnRenamed("checksum", "checksum_a")
          .withColumnRenamed("checksum2", "checksum2_a"))
    bn = (b.withColumnRenamed("n_rows", "n_rows_b")
          .withColumnRenamed("checksum", "checksum_b")
          .withColumnRenamed("checksum2", "checksum2_b"))
    j = an.join(bn, ["bucket"], "full_outer")
    diff = (F.coalesce(F.col("n_rows_a"), F.lit(-1))
            != F.coalesce(F.col("n_rows_b"), F.lit(-1))) \
        | (F.coalesce(F.col("checksum_a"), F.lit(-1))
           != F.coalesce(F.col("checksum_b"), F.lit(-1))) \
        | (F.coalesce(F.col("checksum2_a"), F.lit(-1))
           != F.coalesce(F.col("checksum2_b"), F.lit(-1)))
    return j.filter(diff).select("bucket", "n_rows_a", "n_rows_b",
                                 "checksum_a", "checksum_b")


def benford_deviation(df: DataFrame, value_col: str) -> DataFrame:
    """First-significant-digit distribution vs Benford's law — the
    classic fabricated-/truncated-data smell test for naturally-spanning
    numeric columns (amounts, populations; NOT for bounded or assigned
    values, caller's judgment). Digit extraction is STRING-based on the
    integer cents (``first char of CAST(round(|v|·100) AS BIGINT)``) —
    ``floor(log10(v))`` is off-by-one exactly at powers of ten in
    binary floats, so no log path touches the digit. Zero/null values
    are excluded (no first significant digit).

    Returns 9 rows: ``(digit, n, observed_share, expected_share,
    chi2_term)`` — Σ chi2_term is the Benford chi-square (8 dof).
    One groupBy on the 9-value digit key; expected shares are
    ``log10(1 + 1/d)`` literals.
    """
    import math

    v = F.abs(F.col(value_col).cast("double"))
    cents = F.round(v * 100).cast("long")
    digit = F.substring(cents.cast("string"), 1, 1).cast("int")
    rows = (df.filter(v.isNotNull() & (cents > 0))
            .select(digit.alias("digit")))
    counts = rows.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    grid = df.sparkSession.range(1, 10).select(
        F.col("id").cast("int").alias("digit"))
    j = (grid.join(counts, ["digit"], "left")
         .select("digit", F.coalesce("n", F.lit(0)).alias("n")))
    total = F.sum("n").over(Window.partitionBy())
    obs = F.col("n") / total
    exp_map = F.lit(0.0)
    for d in range(1, 10):
        exp_map = F.when(F.col("digit") == d,
                         F.lit(math.log10(1.0 + 1.0 / d))).otherwise(exp_map)
    chi2 = (total.cast("double") * (obs - exp_map) * (obs - exp_map)
            / exp_map)
    return j.select("digit", "n", obs.alias("observed_share"),
                    exp_map.alias("expected_share"),
                    chi2.alias("chi2_term"))


def mahalanobis_outliers(df: DataFrame, group_col: str, x_col: str,
                         y_col: str, top_k: int = 20) -> DataFrame:
    """Top multivariate outliers per group by 2-D Mahalanobis distance
    (Mahalanobis 1936): fit each group's mean/covariance in ONE
    sufficient-statistics aggregation, invert the 2×2 covariance in
    closed form, then score every row with

        d² = (x−μ)ᵀ Σ⁻¹ (x−μ)

    and keep the ``top_k`` largest per group → ``(group, x, y, d2,
    rnk)``.  Unlike per-axis z-scores, d² catches points that are
    unremarkable marginally but violate the CORRELATION (d² is χ²₂
    under normality — 9.21 ≈ the 99% cut).

    Plan: one groupBy for the five moments, one broadcast-joined
    scoring projection (the stats table is #groups rows), one per-group
    window for the top-k.  ``d2`` rounds to 4 decimals BEFORE ranking
    (rank reproducibility); degenerate groups (n < 3 or singular
    covariance) are omitted.  Nulls in either coordinate are excluded.
    """
    if top_k < 1:
        raise ValueError("top_k must be >= 1")
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    src = (df.filter(x.isNotNull() & y.isNotNull())
           .select(F.col(group_col).alias("group"), x.alias("_x"),
                   y.alias("_y")))
    g = (src.groupBy("group")
         .agg(F.count(F.lit(1)).cast("long").alias("_n"),
              F.avg("_x").alias("_mx"), F.avg("_y").alias("_my"),
              F.var_pop("_x").alias("_vxx0"),
              F.var_pop("_y").alias("_vyy0"),
              F.covar_pop("_x", "_y").alias("_vxy0")))
    # population covariance via stable Welford co-moments (the raw
    # avg(x²)−avg(x)² identity cancels on large-offset coordinates and
    # breaks d²'s affine invariance — round-7 conditioning fix);
    # closed-form 2x2 inverse
    vxx = F.col("_vxx0")
    vyy = F.col("_vyy0")
    vxy = F.col("_vxy0")
    det = vxx * vyy - vxy * vxy
    stats = (g.filter((F.col("_n") >= 3))
             .select("group", "_mx", "_my",
                     vxx.alias("_vxx"), vyy.alias("_vyy"),
                     vxy.alias("_vxy"), det.alias("_det"))
             .filter(F.abs(F.col("_det")) > 1e-12))
    dx = F.col("_x") - F.col("_mx")
    dy = F.col("_y") - F.col("_my")
    d2 = (dx * (F.col("_vyy") * dx - F.col("_vxy") * dy)
          + dy * (F.col("_vxx") * dy - F.col("_vxy") * dx)) / F.col("_det")
    w = Window.partitionBy("group").orderBy(F.desc("d2"), F.asc("_x"),
                                            F.asc("_y"))
    return (src.join(F.broadcast(stats), "group")
            .withColumn("d2", F.round(d2 * 1e4) / 1e4 + F.lit(0.0))
            .withColumn("rnk", F.row_number().over(w).cast("long"))
            .filter(F.col("rnk") <= top_k)
            .select("group", F.col("_x").alias("x"),
                    F.col("_y").alias("y"), "d2", "rnk"))
