"""Distributed model-evaluation metrics: confusion-matrix scores and
tie-corrected ROC-AUC.

Beyond-reference operators: the evaluation tail of the model-based
curation loop (train with :mod:`.classify`, score the corpus, measure
here). Both metrics are single-aggregation shapes:

- :func:`binary_classification_metrics` is ONE fused aggregate of four
  conditional counts — map-side combined, one row out, no shuffle of the
  scored table beyond the final 1-row reduce.
- :func:`roc_auc` is the Mann-Whitney rank-sum formulation with average
  ranks over ties. Scores are quantized to ``digits`` decimals FIRST, so
  the ranking runs over at most ``10^digits`` distinct score values (a
  groupBy-reduced table), never over the rows — the cumulative-rank
  window is bounded-size by construction instead of a global sort of the
  data. Quantization moves AUC by at most the mass of pairs whose scores
  differ by < 10^-digits (ties count half, exactly as true ties do).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

__all__ = ["binary_classification_metrics", "roc_auc", "roc_auc_by_group",
           "calibration_table", "calibration_table_by_group",
           "rank_biased_overlap", "psi_drift", "ks_statistic",
           "chi_square_drift", "wasserstein_1d", "js_divergence"]


def binary_classification_metrics(df: DataFrame, label_col: str = "_y",
                                  prob_col: str = "prob",
                                  threshold: float = 0.5) -> DataFrame:
    """Confusion counts + accuracy/precision/recall/F1 at a threshold →
    one row. Labels must be 0/1 (cast to double); rows with a null label
    or score are excluded (and reported as ``n_ignored``)."""
    y = F.col(label_col).cast("double")
    p = F.col(prob_col).cast("double")
    valid = y.isNotNull() & p.isNotNull()
    pred = (p >= F.lit(float(threshold))).cast("double")
    agg = df.agg(
        F.sum(F.when(valid & (y == 1.0) & (pred == 1.0), 1).otherwise(0))
        .cast("long").alias("tp"),
        F.sum(F.when(valid & (y == 0.0) & (pred == 1.0), 1).otherwise(0))
        .cast("long").alias("fp"),
        F.sum(F.when(valid & (y == 0.0) & (pred == 0.0), 1).otherwise(0))
        .cast("long").alias("tn"),
        F.sum(F.when(valid & (y == 1.0) & (pred == 0.0), 1).otherwise(0))
        .cast("long").alias("fn"),
        F.sum(F.when(~valid, 1).otherwise(0)).cast("long")
        .alias("n_ignored"),
    )
    tp, fp, tn, fn = (F.col(c).cast("double")
                      for c in ("tp", "fp", "tn", "fn"))
    n = tp + fp + tn + fn
    precision = F.when(tp + fp > 0, tp / (tp + fp))
    recall = F.when(tp + fn > 0, tp / (tp + fn))
    f1 = F.when((tp + fp > 0) & (tp + fn > 0) & (tp > 0),
                2.0 * (tp / (tp + fp)) * (tp / (tp + fn))
                / (tp / (tp + fp) + tp / (tp + fn))).otherwise(
        F.when(tp + fp + fn > 0, F.lit(0.0)))
    return agg.select(
        "tp", "fp", "tn", "fn", "n_ignored",
        F.when(n > 0, (tp + tn) / n).alias("accuracy"),
        precision.alias("precision"),
        recall.alias("recall"),
        f1.alias("f1"),
    )


def roc_auc(df: DataFrame, label_col: str = "_y", prob_col: str = "prob",
            digits: int = 6) -> DataFrame:
    """Tie-corrected ROC-AUC (Mann-Whitney) → one row
    ``(auc, n_pos, n_neg)``.

    ``AUC = (Σ_pos avg_rank − n_pos(n_pos+1)/2) / (n_pos·n_neg)`` with
    ranks 1..n ascending by score and the AVERAGE rank shared across a
    tie group. Scores quantize to ``digits`` decimals first, so the
    per-score table the cumulative window runs over is bounded by
    ``10^digits`` rows regardless of corpus size. Null labels/scores are
    excluded; returns a null ``auc`` when either class is empty.
    """
    y = F.col(label_col).cast("double")
    scale = float(10 ** digits)
    s = (F.round(F.col(prob_col).cast("double") * scale) / scale)
    rows = (df.filter(y.isNotNull() & F.col(prob_col).isNotNull())
            .select(s.alias("_s"), y.alias("_y")))
    per_score = rows.groupBy("_s").agg(
        F.count("*").cast("double").alias("_n"),
        F.sum("_y").alias("_np"))
    w = Window.orderBy("_s").rowsBetween(Window.unboundedPreceding, -1)
    ranked = per_score.withColumn(
        "_before", F.coalesce(F.sum("_n").over(w), F.lit(0.0)))
    # average rank within the tie group = before + (n+1)/2
    pos_rank_sum = ranked.agg(
        F.sum(F.col("_np") * (F.col("_before") + (F.col("_n") + 1.0) / 2.0))
        .alias("_rs"),
        F.sum("_np").alias("_npos"),
        F.sum(F.col("_n") - F.col("_np")).alias("_nneg"))
    return pos_rank_sum.select(
        F.when((F.col("_npos") > 0) & (F.col("_nneg") > 0),
               (F.col("_rs")
                - F.col("_npos") * (F.col("_npos") + 1.0) / 2.0)
               / (F.col("_npos") * F.col("_nneg"))).alias("auc"),
        F.col("_npos").cast("long").alias("n_pos"),
        F.col("_nneg").cast("long").alias("n_neg"))


def calibration_table(df: DataFrame, label_col: str = "_y",
                      prob_col: str = "prob", n_bins: int = 10) -> DataFrame:
    """Score-calibration / lift table: rows bucketed into equal-population
    predicted-score bands (exact percentile thresholds inlined as literals
    — map-only assignment, no ntile global sort), then per band: count,
    mean predicted probability, observed positive rate, and lift vs the
    global base rate. The reliability-diagram / decile-lift input.

    Two driver round-trips of scalars (thresholds; base rate), two
    partially-aggregated shuffles, no window. Ties at a threshold land in
    the lower band (the deterministic oracle-replayable contract shared
    with curriculum_bins). Rows with a null score or label are excluded.

    Returns ``(bin, n, mean_prob, pos_rate, lift)`` with lift null when
    the base rate is 0.
    """
    if n_bins < 2:
        raise ValueError(f"n_bins must be >= 2, got {n_bins}")
    p = F.col(prob_col).cast("double")
    y = F.col(label_col).cast("double")
    base = df.filter(p.isNotNull() & y.isNotNull())
    qs = [i / n_bins for i in range(1, n_bins)]
    agg = base.agg(
        F.percentile(p, F.array(*[F.lit(q) for q in qs])).alias("_t"),
        F.avg(y).alias("_base")).collect()[0]
    if agg["_t"] is None:
        return base.sparkSession.createDataFrame(
            [], "bin int, n long, mean_prob double, pos_rate double, "
                "lift double")
    rate = float(agg["_base"])
    bin_expr = None
    for t in agg["_t"]:
        step = (p > F.lit(float(t))).cast("int")
        bin_expr = step if bin_expr is None else bin_expr + step
    pos = F.avg(y)
    lift = F.when(F.lit(rate) > 0, pos / F.lit(rate))
    return (base.withColumn("bin", bin_expr)
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.avg(p).alias("mean_prob"),
                 pos.alias("pos_rate"),
                 lift.alias("lift")))


def rank_biased_overlap(a: DataFrame, b: DataFrame, id_col: str,
                        rank_col: str = "rnk", p: float = 0.9,
                        max_depth: int = 1000) -> DataFrame:
    """Rank-biased overlap (Webber et al. 2010) between two STRICT
    rankings of the same item set — how much two evaluator configurations
    agree, weighted toward the top. Returns one row ``(rbo, depth)``;
    1.0 = identical rankings, → 0 = disjoint prefixes everywhere.

    Shape: the depth-sum is inverted so no per-depth pass exists — an
    item ranked ``ra`` and ``rb`` first appears in both prefixes at
    ``m = max(ra, rb)`` and then contributes to every deeper overlap, so
    ``RBO = (1−p) · Σ_items g(max(ra, rb))`` with
    ``g(m) = Σ_{d=m}^{D} p^{d−1}/d`` precomputed on the driver as a
    ``D``-element literal array (``max_depth`` caps it). The plan is ONE
    equi-join on the item id + a map-side array lookup + one aggregate.
    Rankings must be strict permutations (row_number, not rank) over the
    same ids; depths beyond ``max_depth`` are truncated (standard
    top-weighted usage).
    """
    if not 0 < p < 1:
        raise ValueError(f"p must be in (0, 1), got {p}")
    ra = a.select(F.col(id_col).alias("_id"),
                  F.col(rank_col).cast("int").alias("_ra"))
    rb = b.select(F.col(id_col).alias("_id"),
                  F.col(rank_col).cast("int").alias("_rb"))
    n_a, n_b = ra.count(), rb.count()
    if n_a != n_b:
        raise ValueError(f"rankings differ in size: {n_a} vs {n_b}")
    depth = min(n_a, max_depth)
    if depth == 0:
        raise ValueError("empty rankings")
    # suffix sums of p^(d-1)/d, computed once on the driver
    g = [0.0] * (depth + 2)
    for d in range(depth, 0, -1):
        g[d] = g[d + 1] + (p ** (d - 1)) / d
    g_arr = F.array(*[F.lit(float(x)) for x in g[1:depth + 1]])
    m = F.greatest("_ra", "_rb")
    contrib = F.when(m <= depth, F.element_at(g_arr, m)).otherwise(0.0)
    joined = ra.join(rb, "_id")
    # Same-id-set contract: equal sizes alone let disjoint-id rankings
    # slip through the inner join and silently understate RBO — one extra
    # scalar on an already tiny frame catches it.
    n_joined = joined.count()
    if n_joined != n_a:
        raise ValueError(
            f"rankings cover different id sets: {n_a - n_joined} of {n_a} "
            f"ids appear in only one ranking")
    return (joined
            .agg((F.lit(1.0 - p) * F.sum(contrib)).alias("rbo"),
                 F.lit(depth).cast("long").alias("depth")))


def roc_auc_by_group(df: DataFrame, group_col: str, label_col: str = "_y",
                     prob_col: str = "prob", digits: int = 6) -> DataFrame:
    """Tie-corrected ROC-AUC PER GROUP — the segment/fairness evaluation
    slice ("AUC by language / domain / cohort"). Same Mann-Whitney
    machinery as :func:`roc_auc` with every stage keyed by the group: the
    per-(group, score) table bounds the window input at
    groups × 10^digits rows, the cumulative-rank window partitions by
    group (never global), and one grouped aggregate finishes. Returns
    ``(group_col, auc, n_pos, n_neg)``; auc null when a group lacks a
    class."""
    y = F.col(label_col).cast("double")
    scale = float(10 ** digits)
    s = (F.round(F.col(prob_col).cast("double") * scale) / scale)
    rows = (df.filter(y.isNotNull() & F.col(prob_col).isNotNull())
            .select(F.col(group_col), s.alias("_s"), y.alias("_y")))
    per_score = rows.groupBy(group_col, "_s").agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.sum("_y").alias("_np"))
    w = (Window.partitionBy(group_col).orderBy("_s")
         .rowsBetween(Window.unboundedPreceding, -1))
    ranked = per_score.withColumn(
        "_before", F.coalesce(F.sum("_n").over(w), F.lit(0.0)))
    agg = ranked.groupBy(group_col).agg(
        F.sum(F.col("_np") * (F.col("_before") + (F.col("_n") + 1.0) / 2.0))
        .alias("_rs"),
        F.sum("_np").alias("_npos"),
        F.sum(F.col("_n") - F.col("_np")).alias("_nneg"))
    return agg.select(
        group_col,
        F.when((F.col("_npos") > 0) & (F.col("_nneg") > 0),
               (F.col("_rs")
                - F.col("_npos") * (F.col("_npos") + 1.0) / 2.0)
               / (F.col("_npos") * F.col("_nneg"))).alias("auc"),
        F.col("_npos").cast("long").alias("n_pos"),
        F.col("_nneg").cast("long").alias("n_neg"))


def calibration_table_by_group(df: DataFrame, group_col: str,
                               label_col: str = "_y",
                               prob_col: str = "prob",
                               n_bins: int = 5) -> DataFrame:
    """Per-group calibration / lift table: every segment gets its OWN
    equal-population score bands and its own base rate — the grouped twin
    of :func:`calibration_table`, with no driver-side literals at all:
    the per-group percentile thresholds come back as a (group,
    thresholds-array, base-rate) frame that broadcast-joins onto the
    rows, so group cardinality is unbounded. Two shuffles (threshold agg,
    final grouped agg) + the broadcast join.

    Returns ``(group_col, bin, n, mean_prob, pos_rate, lift)``; lift is
    vs the GROUP's base rate (null when it is 0). Ties at a threshold
    land in the lower band (the shared deterministic contract).
    """
    if n_bins < 2:
        raise ValueError(f"n_bins must be >= 2, got {n_bins}")
    p = F.col(prob_col).cast("double")
    y = F.col(label_col).cast("double")
    base = df.filter(p.isNotNull() & y.isNotNull())
    qs = [i / n_bins for i in range(1, n_bins)]
    th = (base.groupBy(group_col)
          .agg(F.percentile(p, F.array(*[F.lit(q) for q in qs]))
               .alias("_th"),
               F.avg(y).alias("_base")))
    joined = base.join(F.broadcast(th), group_col)
    bin_expr = None
    for i in range(len(qs)):
        step = (p > F.element_at("_th", i + 1)).cast("int")
        bin_expr = step if bin_expr is None else bin_expr + step
    pos = F.avg(y)
    return (joined.withColumn("bin", bin_expr)
            .groupBy(group_col, "bin")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.avg(p).alias("mean_prob"),
                 pos.alias("pos_rate"),
                 F.when(F.max("_base") > 0, pos / F.max("_base"))
                 .alias("lift")))


def psi_drift(reference: DataFrame, current: DataFrame, value_col: str,
              n_bins: int = 10, min_share: float = 1e-6) -> DataFrame:
    """Population Stability Index per bin — the standard score/feature
    drift monitor between a reference window and a current window:
    ``PSI = Σ (cur_share − ref_share) · ln(cur_share / ref_share)`` over
    equal-population bins OF THE REFERENCE (exact percentile thresholds
    inlined as literals, map-only assignment on both sides; empty-bin
    shares clip at ``min_share`` so the log stays finite — the standard
    practice, made deterministic).

    Returns one row per bin: ``(bin, ref_n, cur_n, ref_share, cur_share,
    psi_term)``; total PSI = sum of ``psi_term`` (< 0.1 stable, 0.1–0.25
    drifting, > 0.25 shifted, by the usual rule of thumb). Null values
    are excluded on both sides.
    """
    if n_bins < 2:
        raise ValueError(f"n_bins must be >= 2, got {n_bins}")
    v = F.col(value_col).cast("double")
    ref = reference.filter(v.isNotNull())
    cur = current.filter(v.isNotNull())
    qs = [i / n_bins for i in range(1, n_bins)]
    row = ref.agg(F.percentile(v, F.array(*[F.lit(q) for q in qs]))
                  .alias("_t")).collect()[0]["_t"]
    if row is None:
        raise ValueError("empty reference window")
    bin_expr = F.lit(0)
    for t in row:
        bin_expr = bin_expr + (v > F.lit(float(t))).cast("int")

    def binned(df, name):
        return (df.select(bin_expr.alias("bin"))
                .groupBy("bin").agg(F.count(F.lit(1)).alias(name)))

    grid = reference.sparkSession.range(n_bins).select(
        F.col("id").cast("int").alias("bin"))
    j = (grid.join(binned(ref, "ref_n"), "bin", "left")
         .join(binned(cur, "cur_n"), "bin", "left")
         .select("bin",
                 F.coalesce("ref_n", F.lit(0)).alias("ref_n"),
                 F.coalesce("cur_n", F.lit(0)).alias("cur_n")))
    tot = j.agg(F.sum("ref_n").alias("r"), F.sum("cur_n").alias("c")
                ).collect()[0]
    rt, ct = float(tot["r"] or 0), float(tot["c"] or 0)
    ms = float(min_share)
    rs = F.greatest(F.col("ref_n") / F.lit(rt if rt else 1.0), F.lit(ms))
    cs = F.greatest(F.col("cur_n") / F.lit(ct if ct else 1.0), F.lit(ms))
    return j.select("bin", "ref_n", "cur_n",
                    rs.alias("ref_share"), cs.alias("cur_share"),
                    ((cs - rs) * F.log(cs / rs)).alias("psi_term"))


def ks_statistic(a: DataFrame, b: DataFrame, value_col: str,
                 digits: int = 6) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic — max gap between the two
    empirical CDFs, the sharper companion to :func:`psi_drift` (no
    binning choice). Values quantize to ``digits`` decimals first, so
    the per-value table the single cumulative window runs over is
    bounded by 10^digits rows regardless of input size (the same device
    as the AUC rank window). Returns ``(ks, n_a, n_b)``; nulls excluded;
    null ks when either side is empty.
    """
    scale = float(10 ** digits)

    def per_value(df, name):
        v = F.col(value_col).cast("double")
        q = (F.round(v * scale) / scale).alias("_v")
        return (df.filter(v.isNotNull()).select(q)
                .groupBy("_v").agg(F.count(F.lit(1)).alias(name)))

    pa, pb = per_value(a, "_ca"), per_value(b, "_cb")
    merged = (pa.join(pb, "_v", "full_outer")
              .select("_v", F.coalesce("_ca", F.lit(0)).alias("_ca"),
                      F.coalesce("_cb", F.lit(0)).alias("_cb")))
    w = Window.orderBy("_v").rowsBetween(Window.unboundedPreceding, 0)
    # two-pass form: totals first (tiny agg), then the gap max — keeps the
    # expression tree simple and the arithmetic replayable
    tot = merged.agg(F.sum("_ca").alias("na"),
                     F.sum("_cb").alias("nb")).collect()[0]
    na, nb = int(tot["na"] or 0), int(tot["nb"] or 0)
    if na == 0 or nb == 0:
        return merged.sparkSession.createDataFrame(
            [(None, na, nb)], "ks double, n_a long, n_b long")
    gap = F.abs(F.sum("_ca").over(w).cast("double") / F.lit(float(na))
                - F.sum("_cb").over(w).cast("double") / F.lit(float(nb)))
    return (merged.select(gap.alias("_g"))
            .agg(F.max("_g").alias("ks"),
                 F.lit(na).cast("long").alias("n_a"),
                 F.lit(nb).cast("long").alias("n_b")))


def chi_square_drift(reference: DataFrame, current: DataFrame,
                     cat_col: str) -> DataFrame:
    """Categorical drift between two windows: the chi-square homogeneity
    statistic over the category × window contingency table, plus
    Cramér's V (``sqrt(chi2 / n)`` for the 2-window case — 0 identical
    shares, → 1 disjoint) — the categorical companion to
    :func:`psi_drift`/:func:`ks_statistic`.

    One partial-agg count per window on the category key, a full-outer
    merge of the two tiny count tables, expected counts from pooled
    shares, one aggregate. Null categories count as a category. Returns
    ``(chi2, dof, cramers_v, n_ref, n_cur)``; nulls when either window
    is empty or only one category exists.
    """
    c = F.coalesce(F.col(cat_col).cast("string"), F.lit("\x00null"))

    def counts(df, name):
        return df.select(c.alias("_c")).groupBy("_c").agg(
            F.count(F.lit(1)).alias(name))

    m = (counts(reference, "_r").join(counts(current, "_u"), "_c",
                                      "full_outer")
         .select("_c", F.coalesce("_r", F.lit(0)).alias("_r"),
                 F.coalesce("_u", F.lit(0)).alias("_u")))
    tot = m.agg(F.sum("_r").alias("r"), F.sum("_u").alias("u"),
                F.count(F.lit(1)).alias("k")).collect()[0]
    nr, nu, k = int(tot["r"] or 0), int(tot["u"] or 0), int(tot["k"] or 0)
    if nr == 0 or nu == 0 or k < 2:
        return m.sparkSession.createDataFrame(
            [(None, None, None, nr, nu)],
            "chi2 double, dof long, cramers_v double, n_ref long, "
            "n_cur long")
    n = float(nr + nu)
    pooled = (F.col("_r") + F.col("_u")).cast("double") / F.lit(n)
    er = pooled * F.lit(float(nr))
    eu = pooled * F.lit(float(nu))
    term = ((F.col("_r") - er) * (F.col("_r") - er) / er
            + (F.col("_u") - eu) * (F.col("_u") - eu) / eu)
    return (m.agg(F.sum(term).alias("chi2"))
            .select("chi2", F.lit(k - 1).cast("long").alias("dof"),
                    F.sqrt(F.col("chi2") / F.lit(n)).alias("cramers_v"),
                    F.lit(nr).cast("long").alias("n_ref"),
                    F.lit(nu).cast("long").alias("n_cur")))


def wasserstein_1d(a: DataFrame, b: DataFrame, value_col: str,
                   digits: int = 6) -> DataFrame:
    """Exact 1-D Wasserstein-1 (earth mover's) distance between two
    samples: ``W1 = ∫ |F_a − F_b| dx``, evaluated as the sum over
    adjacent support points of ``|cdf gap| × Δx`` — the magnitude-aware
    drift measure (KS says IF distributions differ; W1 says by HOW MUCH
    in value units). Same bounded-support device as KS: values quantize
    to ``digits`` decimals, the cumulative/lead windows run over the
    merged per-value table (≤ 2·10^digits rows), never the samples.
    Returns ``(w1, n_a, n_b)``; null when either side is empty.
    """
    scale = float(10 ** digits)

    def per_value(df, name):
        v = F.col(value_col).cast("double")
        q = (F.round(v * scale) / scale).alias("_v")
        return (df.filter(v.isNotNull()).select(q)
                .groupBy("_v").agg(F.count(F.lit(1)).alias(name)))

    merged = (per_value(a, "_ca").join(per_value(b, "_cb"), "_v",
                                       "full_outer")
              .select("_v", F.coalesce("_ca", F.lit(0)).alias("_ca"),
                      F.coalesce("_cb", F.lit(0)).alias("_cb")))
    tot = merged.agg(F.sum("_ca").alias("na"),
                     F.sum("_cb").alias("nb")).collect()[0]
    na, nb = int(tot["na"] or 0), int(tot["nb"] or 0)
    if na == 0 or nb == 0:
        return merged.sparkSession.createDataFrame(
            [(None, na, nb)], "w1 double, n_a long, n_b long")
    w = Window.orderBy("_v").rowsBetween(Window.unboundedPreceding, 0)
    wl = Window.orderBy("_v")
    gap = F.abs(F.sum("_ca").over(w).cast("double") / F.lit(float(na))
                - F.sum("_cb").over(w).cast("double") / F.lit(float(nb)))
    dx = F.lead("_v").over(wl) - F.col("_v")
    # the last support point's term is null by construction (no lead) and
    # sum() ignores it — but when the union support is a SINGLE point every
    # term is null and sum() returns null; that distance is exactly 0
    return (merged.select((gap * dx).alias("_t"))
            .agg(F.coalesce(F.sum("_t"), F.lit(0.0)).alias("w1"),
                 F.lit(na).cast("long").alias("n_a"),
                 F.lit(nb).cast("long").alias("n_b")))


def js_divergence(reference: DataFrame, current: DataFrame, value_col: str,
                  n_bins: int = 10, min_share: float = 1e-6) -> DataFrame:
    """Jensen-Shannon divergence over the same reference-quantile bins as
    :func:`psi_drift` — the bounded, symmetric drift measure
    (0 ≤ JSD ≤ ln 2), preferable when PSI's unbounded log-ratio terms
    overreact to near-empty bins. Reuses the PSI bin table: per bin
    ``0.5·p·ln(p/m) + 0.5·q·ln(q/m)`` with ``m = (p+q)/2`` and the same
    deterministic ``min_share`` clip. Returns
    ``(bin, ref_share, cur_share, jsd_term)``; total JSD = Σ terms.
    """
    bins = psi_drift(reference, current, value_col, n_bins=n_bins,
                     min_share=min_share)
    p, q = F.col("ref_share"), F.col("cur_share")
    m = (p + q) / 2.0
    term = 0.5 * p * F.log(p / m) + 0.5 * q * F.log(q / m)
    return bins.select("bin", "ref_share", "cur_share",
                       term.alias("jsd_term"))


def psi_timeline(reference: DataFrame, current: DataFrame, value_col: str,
                 ts_col: str = "ts", bucket: str = "1 day",
                 n_bins: int = 10, min_share: float = 1e-6) -> DataFrame:
    """PSI per TIME BUCKET — the drift dashboard feed: reference-window
    quantile bins (same construction as :func:`psi_drift`, exact
    percentiles → literals, map-only assignment) scored against every
    ``bucket`` of the current stream independently, so a slow burn-in
    shows as a rising PSI series rather than one diluted total. Returns
    one row per bucket: ``(bucket_start, n, psi)`` with each bucket's
    shares clipped at ``min_share`` exactly like the single-window
    operator (a bucket with no rows yields no row).

    Shape: one reference percentile agg (driver literals) + ONE
    groupBy(bucket, bin) over the current stream + per-bucket totals via
    a bucket-partitioned window over the ≤ buckets·n_bins count table —
    never a second data scan per bucket.
    """
    if n_bins < 2:
        raise ValueError(f"n_bins must be >= 2, got {n_bins}")
    v = F.col(value_col).cast("double")
    ref = reference.filter(v.isNotNull())
    qs = [i / n_bins for i in range(1, n_bins)]
    row = ref.agg(F.percentile(v, F.array(*[F.lit(q) for q in qs]))
                  .alias("_t")).collect()[0]["_t"]
    if row is None:
        raise ValueError("empty reference window")
    bin_expr = F.lit(0)
    for t in row:
        bin_expr = bin_expr + (v > F.lit(float(t))).cast("int")

    ref_counts = (ref.select(bin_expr.alias("bin"))
                  .groupBy("bin").agg(F.count(F.lit(1)).alias("ref_n")))
    ref_rows = {r["bin"]: r["ref_n"] for r in ref_counts.collect()}
    rt = float(sum(ref_rows.values()))
    ms = float(min_share)

    cur = current.filter(v.isNotNull() & F.col(ts_col).isNotNull())
    binned = (cur.select(F.window(ts_col, bucket)["start"]
                         .alias("bucket_start"), bin_expr.alias("bin"))
              .groupBy("bucket_start", "bin")
              .agg(F.count(F.lit(1)).alias("cur_n")))
    wb = Window.partitionBy("bucket_start")
    ct = F.sum("cur_n").over(wb)
    cs = F.greatest(F.col("cur_n") / ct, F.lit(ms))
    rs_map = F.lit(0.0)
    for b in range(n_bins):
        share = max((ref_rows.get(b, 0)) / (rt if rt else 1.0), ms)
        rs_map = F.when(F.col("bin") == b, F.lit(share)).otherwise(rs_map)
    term = (cs - rs_map) * F.log(cs / rs_map)
    # bins absent from a bucket contribute (ms − rs)·ln(ms/rs): add via the
    # per-bucket constant Σ_all-bins minus the present-bin adjustment
    present = binned.withColumn("_term", term).withColumn("_n", ct)
    per_bucket = (present.groupBy("bucket_start")
                  .agg(F.max("_n").alias("n"),
                       F.sum("_term").alias("_psi_present"),
                       F.collect_set("bin").alias("_bins")))
    missing_terms = []
    for b in range(n_bins):
        share = max((ref_rows.get(b, 0)) / (rt if rt else 1.0), ms)
        t_miss = (ms - share) * __import__("math").log(ms / share)
        missing_terms.append(
            F.when(~F.array_contains(F.col("_bins"), F.lit(b)),
                   F.lit(t_miss)).otherwise(F.lit(0.0)))
    miss = missing_terms[0]
    for t_ in missing_terms[1:]:
        miss = miss + t_
    return (per_bucket
            .select("bucket_start", F.col("n").cast("long").alias("n"),
                    (F.col("_psi_present") + miss).alias("psi")))


def classification_report(df: DataFrame, label_col: str,
                          pred_col: str) -> DataFrame:
    """Per-class precision/recall/F1 from a (label, prediction) table —
    the multi-class companion of :func:`binary_classification_metrics`:
    → ``(label, support, tp, fp, fn, precision, recall, f1)`` (floats 4
    decimals; null when the denominator is empty — a class never
    predicted has null precision, honest rather than sklearn's 0).

    One groupBy collapses the scan to the C×C confusion table; per-class
    tp/fp/fn are two more aggregations OF THAT TABLE (bounded by class
    cardinality squared, never rows).  Rows with a null on either side
    are excluded.
    """
    base = df.filter(F.col(label_col).isNotNull()
                     & F.col(pred_col).isNotNull())
    conf = (base.groupBy(F.col(label_col).alias("_l"),
                         F.col(pred_col).alias("_p"))
            .agg(F.count(F.lit(1)).alias("_n")))
    per_label = (conf.groupBy(F.col("_l").alias("label"))
                 .agg(F.sum("_n").cast("long").alias("support"),
                      F.sum(F.when(F.col("_p") == F.col("_l"),
                                   F.col("_n")).otherwise(F.lit(0)))
                      .cast("long").alias("tp")))
    per_pred = (conf.groupBy(F.col("_p").alias("label"))
                .agg(F.sum("_n").cast("long").alias("_pred_n")))
    m = (per_label.join(per_pred, "label", "full_outer")
         .select(F.col("label"),
                 F.coalesce("support", F.lit(0)).alias("support"),
                 F.coalesce("tp", F.lit(0)).alias("tp"),
                 (F.coalesce("_pred_n", F.lit(0))
                  - F.coalesce("tp", F.lit(0))).alias("fp"),
                 (F.coalesce("support", F.lit(0))
                  - F.coalesce("tp", F.lit(0))).alias("fn")))
    r4 = lambda e: F.round(e * 1e4) / 1e4 + F.lit(0.0)  # noqa: E731
    tp, fp, fn = (F.col("tp").cast("double"), F.col("fp").cast("double"),
                  F.col("fn").cast("double"))
    prec = F.when(tp + fp > 0, r4(tp / (tp + fp)))
    rec = F.when(tp + fn > 0, r4(tp / (tp + fn)))
    f1 = F.when((tp + fp > 0) & (tp + fn > 0) & (tp > 0),
                r4(2.0 * (tp / (tp + fp)) * (tp / (tp + fn))
                   / (tp / (tp + fp) + tp / (tp + fn)))) \
          .when((tp + fp > 0) & (tp + fn > 0), F.lit(0.0))
    return m.select("label", "support", "tp", "fp", "fn",
                    prec.alias("precision"), rec.alias("recall"),
                    f1.alias("f1"))


def ndcg_mrr(results: DataFrame, query_col: str, rank_col: str,
             rel_col: str, k: int = 10) -> DataFrame:
    """Ranking quality per query — NDCG@k (Järvelin & Kekäläinen 2002)
    and reciprocal rank → ``(query, n_rel, dcg, idcg, ndcg, rr)``, 4
    decimals.  ``results`` is a ranked run: one row per (query,
    candidate) with its 1-based ``rank_col`` and graded ``rel_col``
    (≥ 0).  ``DCG = Σ_{rank≤k} rel / log2(rank+1)``; IDCG re-ranks the
    SAME candidate set by (rel desc, rank asc — deterministic); ``rr``
    = 1/rank of the first relevant hit within k, 0.0 if none; queries
    with zero total relevance have null ndcg (0/0).

    One per-query window for the ideal ordering plus one groupBy —
    both bounded by the run's k·|queries| rows, never a corpus.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    r = results.filter(F.col(rank_col).isNotNull()
                       & F.col(rel_col).isNotNull())
    w = Window.partitionBy(query_col).orderBy(F.desc(rel_col),
                                              F.asc(rank_col))
    ideal = F.row_number().over(w)
    base = (r.withColumn("_irk", ideal)
            .withColumn("_rel", F.col(rel_col).cast("double")))
    log2 = lambda e: F.log(e) / F.log(F.lit(2.0))  # noqa: E731
    dcg_t = F.when(F.col(rank_col) <= k,
                   F.col("_rel") / log2(F.col(rank_col).cast("double")
                                        + F.lit(1.0))).otherwise(F.lit(0.0))
    idcg_t = F.when(F.col("_irk") <= k,
                    F.col("_rel") / log2(F.col("_irk").cast("double")
                                         + F.lit(1.0))) \
              .otherwise(F.lit(0.0))
    first_rel = F.min(F.when((F.col("_rel") > 0)
                             & (F.col(rank_col) <= k),
                             F.col(rank_col)))
    r4 = lambda e: F.round(e * 1e4) / 1e4 + F.lit(0.0)  # noqa: E731
    g = (base.groupBy(F.col(query_col).alias("query"))
         .agg(F.sum((F.col("_rel") > 0).cast("long")).cast("long")
              .alias("n_rel"),
              F.sum(dcg_t).alias("_dcg"),
              F.sum(idcg_t).alias("_idcg"),
              first_rel.alias("_fr")))
    return g.select(
        "query", "n_rel", r4(F.col("_dcg")).alias("dcg"),
        r4(F.col("_idcg")).alias("idcg"),
        F.when(F.col("_idcg") > 0,
               r4(F.col("_dcg") / F.col("_idcg"))).alias("ndcg"),
        F.coalesce(r4(F.lit(1.0) / F.col("_fr").cast("double")),
                   F.lit(0.0)).alias("rr"))
