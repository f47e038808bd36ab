"""Supervised feature encoding: leakage-safe target encoding, the
hashing-trick vectorizer, histogram-based decision-stump training, and
isotonic (PAV) probability calibration.

Beyond-reference operators (the feature-engineering pass between raw
curated tables and model training). Every training step here is a
DataFrame aggregation — sufficient statistics shuffle, never rows to the
driver — so the same code runs at 100 TB:

- ``target_encode`` shuffles one row per category (or category x fold);
  the encode itself is a stats join + projection.
- ``feature_hash`` is explode -> partial-agg groupBy on (id, bucket) —
  map-side combine collapses repeated tokens before the exchange.
- ``decision_stump`` reduces the corpus to <= ``n_bins`` sufficient-
  statistic rows (count, sum_y, sum_y2 per histogram bin) and picks the
  best split with prefix sums over that bounded table — the LightGBM
  histogram-split pattern (Ke et al., NeurIPS 2017) as two aggregations.
- ``isotonic_fit`` reduces to <= ``n_bins`` (count, sum_y) rows, runs
  exact pool-adjacent-violators on that bounded table, and returns a
  broadcastable calibration map. PAV on weighted bins equals PAV on the
  raw rows whenever the bin partition refines the fitted blocks; the
  minimax characterization (iso_k = max_{i<=k} min_{j>=k} weighted mean
  of bins i..j, Barlow et al. 1972) is SQL-expressible, which is how the
  driver oracle replays it.

Portability: hash features use the repo-standard 60-bit md5 prefix
(``conv(substr(md5(..),1,15),16,10)``) so DuckDB reproduces buckets and
signs bit-for-bit; histogram bin ids come from identical IEEE double
expressions on both engines.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import List, Optional, Tuple

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.functions import try_divide

from .text import tokens

#: md5-hex prefix width for portable 60-bit hashes (fits signed 64)
_HEX_DIGITS = 15


# ---------------------------------------------------------------------------
# Target encoding
# ---------------------------------------------------------------------------

def target_encode(df: DataFrame, cat_col: str, label_col: str,
                  method: str = "kfold", smoothing: float = 10.0,
                  n_folds: int = 5, fold_col: Optional[str] = None,
                  out_col: str = "target_enc") -> DataFrame:
    """Append a leakage-safe mean-target encoding of ``cat_col``.

    ``method``:

    - ``"global"`` — smoothed category mean ``(sum_y + m*prior) /
      (cnt + m)``. Leaks the row's own label; use for inference-time
      encoding of categories, not for training rows.
    - ``"loo"`` — leave-one-out: the row's own label is subtracted,
      ``(sum_y - y + m*prior) / (cnt - 1 + m)``. Null when the category
      is a singleton and ``smoothing == 0`` (no peers to average).
    - ``"kfold"`` — K-fold: a row is encoded from the OTHER folds'
      statistics, ``(sum_y(cat) - sum_y(cat, fold) + m*prior) /
      (cnt(cat) - cnt(cat, fold) + m)``. ``fold_col`` must be an integer
      column in ``[0, n_folds)`` (e.g. ``pmod(id, k)``) — an explicit
      column keeps the assignment reproducible across engines and runs.

    ``prior`` is the global label mean (one-row agg, broadcast). Category
    statistics are one row per category (x fold for kfold) — the join back
    carries no broadcast hint, so small stats frames broadcast via AQE and
    a high-cardinality ``cat_col`` degrades to a shuffle join instead of
    pinning the whole table in every executor. Null categories form their
    own level (null-safe join).
    """
    if method not in ("global", "loo", "kfold"):
        raise ValueError(f"method must be global|loo|kfold, got: {method}")
    if method == "kfold" and fold_col is None:
        raise ValueError("kfold target encoding needs fold_col")

    m = float(smoothing)
    y = F.col(label_col).cast("double")
    prior = df.agg(F.avg(y).alias("_prior"))
    base = df.crossJoin(F.broadcast(prior))

    cat_stats = (df.groupBy(F.col(cat_col).alias("_te_cat"))
                 .agg(F.count(y).alias("_te_cnt"),
                      F.sum(y).alias("_te_sum")))
    joined = base.join(
        cat_stats, F.col(cat_col).eqNullSafe(F.col("_te_cat")), "left")

    if method == "global":
        enc = try_divide(F.col("_te_sum") + m * F.col("_prior"),
                         F.col("_te_cnt") + F.lit(m))
    elif method == "loo":
        enc = try_divide(F.col("_te_sum") - y + m * F.col("_prior"),
                         F.col("_te_cnt") - 1 + F.lit(m))
    else:  # kfold
        fold_stats = (df.groupBy(F.col(cat_col).alias("_tf_cat"),
                                 F.col(fold_col).alias("_tf_fold"))
                      .agg(F.count(y).alias("_tf_cnt"),
                           F.sum(y).alias("_tf_sum")))
        joined = joined.join(
            fold_stats,
            F.col(cat_col).eqNullSafe(F.col("_tf_cat"))
            & (F.col(fold_col) == F.col("_tf_fold")), "left")
        enc = try_divide(
            F.col("_te_sum") - F.col("_tf_sum") + m * F.col("_prior"),
            F.col("_te_cnt") - F.col("_tf_cnt") + F.lit(m))

    drop = [c for c in joined.columns if c.startswith(("_te_", "_tf_"))]
    return (joined.withColumn(out_col, enc)
            .drop("_prior", *drop))


# ---------------------------------------------------------------------------
# Hashing-trick vectorizer
# ---------------------------------------------------------------------------

def _token_hash(tok: F.Column, seed: str) -> F.Column:
    """Portable 60-bit md5 hash of one token (salted)."""
    return F.conv(
        F.substring(F.md5(F.concat(tok, F.lit(seed)).cast("binary")),
                    1, _HEX_DIGITS), 16, 10).cast("long")


def feature_hash(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", n_features: int = 1024,
                 seed: str = "fh") -> DataFrame:
    """Hashing-trick bag-of-words (Weinberger et al., ICML 2009): each
    whitespace token hashes to bucket ``(h >> 1) % n_features`` with sign
    ``+1 / -1`` from bit 0 of the same 60-bit hash (the signed variant —
    collisions cancel in expectation instead of inflating counts).

    Returns one row per input row: ``(id_col, indices array<int>,
    values array<long>)`` — sorted sparse form, zero-sum buckets dropped.
    Vocabulary is never materialized anywhere (that is the point of the
    trick at corpus scale): the plan is explode -> groupBy (id, bucket)
    with map-side partial aggregation -> one collect_list per row. The
    only shuffle is keyed by (id, bucket); a whale document costs its own
    token count, nothing global.
    """
    tok = df.select(F.col(id_col),
                    F.explode(tokens(F.col(text_col))).alias("_tok"))
    h = _token_hash(F.col("_tok"), seed)
    buck = (tok.select(
        id_col,
        F.shiftright(h, 1).__mod__(n_features).cast("int").alias("_bucket"),
        F.when(h % 2 == 0, F.lit(1)).otherwise(F.lit(-1))
        .cast("long").alias("_sign"))
        .groupBy(id_col, "_bucket")
        .agg(F.sum("_sign").alias("_val"))
        .filter(F.col("_val") != 0))
    pairs = F.array_sort(
        F.collect_list(F.struct(F.col("_bucket"), F.col("_val"))))
    return (buck.groupBy(id_col)
            .agg(F.transform(pairs, lambda s: s["_bucket"]).alias("indices"),
                 F.transform(pairs, lambda s: s["_val"]).alias("values")))


def feature_hash_triplets(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", n_features: int = 1024,
                          seed: str = "fh") -> DataFrame:
    """:func:`feature_hash` in exploded COO form — one row per nonzero
    ``(id_col, index, value)``: the join-friendly layout for downstream
    linear models (a model-weight equi-join instead of per-row arrays),
    and the layout the driver oracle value-checks."""
    tok = df.select(F.col(id_col),
                    F.explode(tokens(F.col(text_col))).alias("_tok"))
    h = _token_hash(F.col("_tok"), seed)
    return (tok.select(
        id_col,
        F.shiftright(h, 1).__mod__(n_features).cast("int").alias("index"),
        F.when(h % 2 == 0, F.lit(1)).otherwise(F.lit(-1))
        .cast("long").alias("_sign"))
        .groupBy(id_col, "index")
        .agg(F.sum("_sign").alias("value"))
        .filter(F.col("value") != 0))


# ---------------------------------------------------------------------------
# Histogram decision stump
# ---------------------------------------------------------------------------

def stump_histogram(df: DataFrame, feature_col: str, label_col: str,
                    n_bins: int = 32) -> DataFrame:
    """Per-bin sufficient statistics for regression split finding:
    ``(bin, lo, hi, cnt, sum_y, sum_y2)`` over ``n_bins`` equal-width
    bins of ``feature_col`` (nulls dropped). Two passes are inherent —
    the bin edges need global min/max before rows can be binned; both are
    single aggregations. The histogram is the ENTIRE shuffle payload:
    <= ``n_bins`` rows regardless of corpus size."""
    f = F.col(feature_col).cast("double")
    rng = df.filter(f.isNotNull()).agg(
        F.min(f).alias("_lo"), F.max(f).alias("_hi"))
    width = (F.col("_hi") - F.col("_lo")) / F.lit(float(n_bins))
    b = F.when(F.col("_hi") == F.col("_lo"), F.lit(0)).otherwise(
        F.least(F.floor((f - F.col("_lo")) / width),
                F.lit(n_bins - 1))).cast("int")
    y = F.col(label_col).cast("double")
    return (df.filter(f.isNotNull())
            .crossJoin(F.broadcast(rng))
            .groupBy(b.alias("bin"))
            .agg(F.min(F.col("_lo")).alias("_lo"),
                 F.min(F.col("_hi")).alias("_hi"),
                 F.count(y).alias("cnt"),
                 F.sum(y).alias("sum_y"),
                 F.sum(y * y).alias("sum_y2")))


def decision_stump(df: DataFrame, feature_col: str, label_col: str,
                   n_bins: int = 32) -> DataFrame:
    """Train a depth-1 regression tree (decision stump) by histogram
    split finding: one row ``(split_bin, split_value, left_cnt,
    right_cnt, left_mean, right_mean, gain)`` for the variance-reduction-
    maximal threshold among the ``n_bins - 1`` bin boundaries.

    ``gain = SSE_total - SSE_left - SSE_right`` with ``SSE = sum_y2 -
    sum_y^2 / cnt`` — computed from prefix sums over the bounded
    histogram (an unpartitioned window over <= ``n_bins`` rows; bounded
    by construction, so the single-partition sort is fine).

    Conditioning note: additive ``(cnt, Σy, Σy²)`` per bin is
    STRUCTURAL to histogram split finding (it is what makes partial
    aggregation and bin merging possible — the same trade every
    histogram GBM makes, cf. LightGBM), so the raw-moment SSE stays.
    The bound: SSE loses ~``log10(n·ȳ²/var(y))`` significant digits,
    so pre-center labels with a large mean-to-spread ratio (e.g.
    subtract the global mean — gain is translation-invariant) before
    calling when ``ȳ² ≫ var(y)``. The argmax
    ranks on the 1e-6-ROUNDED gain with the bin id as tiebreak — raw
    double gains are a cross-engine knife edge (float sums are
    order-dependent), rounded gains are stable. Splits with an empty
    side are excluded. A constant feature yields zero candidate splits
    and an empty result.
    """
    hist = stump_histogram(df, feature_col, label_col, n_bins)
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    tot = Window.rowsBetween(Window.unboundedPreceding,
                             Window.unboundedFollowing)
    pre = hist.select(
        "bin", "_lo", "_hi",
        F.sum("cnt").over(w).alias("lc"),
        F.sum("sum_y").over(w).alias("ls"),
        F.sum("sum_y2").over(w).alias("ls2"),
        F.sum("cnt").over(tot).alias("tc"),
        F.sum("sum_y").over(tot).alias("ts"),
        F.sum("sum_y2").over(tot).alias("ts2"),
        F.max("bin").over(tot).alias("last_bin"))
    rc = F.col("tc") - F.col("lc")
    rs = F.col("ts") - F.col("ls")
    rs2 = F.col("ts2") - F.col("ls2")
    sse = lambda s2, s, c: s2 - s * s / c  # noqa: E731 — local formula
    gain = (sse(F.col("ts2"), F.col("ts"), F.col("tc"))
            - sse(F.col("ls2"), F.col("ls"), F.col("lc"))
            - sse(rs2, rs, rc))
    width = (F.col("_hi") - F.col("_lo")) / F.lit(float(n_bins))
    cand = (pre.filter((F.col("bin") < F.col("last_bin")) & (rc > 0))
            .select(
                F.col("bin").alias("split_bin"),
                (F.col("_lo") + (F.col("bin") + 1) * width)
                .alias("split_value"),
                F.col("lc").cast("long").alias("left_cnt"),
                rc.cast("long").alias("right_cnt"),
                (F.col("ls") / F.col("lc")).alias("left_mean"),
                (rs / rc).alias("right_mean"),
                gain.alias("gain"),
                (F.round(gain * 1e6) / 1e6).alias("_rgain")))
    rk = Window.orderBy(F.col("_rgain").desc(), F.col("split_bin"))
    return (cand.withColumn("_rk", F.row_number().over(rk))
            .filter(F.col("_rk") == 1).drop("_rk", "_rgain"))


# ---------------------------------------------------------------------------
# Gradient-boosted stumps
# ---------------------------------------------------------------------------

@dataclass
class GBMStumpModel:
    """Boosted-stump regression model: shared histogram geometry plus one
    ``(split_bin, split_value, left_delta, right_delta, gain)`` tuple per
    round. Predictions split on the BIN id (``floor((x - lo) / width) <=
    split_bin``) rather than the raw value — the bin expression is what
    training binned on, so train/predict and Spark/SQL agree exactly even
    on knife-edge floats where ``x < split_value`` would not."""
    base: float
    lo: float
    width: float
    n_bins: int
    learning_rate: float
    rounds: List[Tuple[int, float, float, float, float]]


def _sql_round(x: float, scale: float) -> float:
    """SQL ``round(x * scale) / scale`` (half away from zero) in python —
    python's built-in ``round`` is banker's rounding and disagrees with
    both engines on exact halves."""
    import math
    v = x * scale
    r = math.floor(abs(v) + 0.5)
    return (r if v >= 0 else -r) / scale


def gbm_stumps(df: DataFrame, feature_col: str, label_col: str,
               n_rounds: int = 3, n_bins: int = 32,
               learning_rate: float = 0.5) -> GBMStumpModel:
    """Train gradient-boosted regression stumps with squared loss —
    Friedman (2001) boosting in exactly TWO corpus passes regardless of
    ``n_rounds``: (1) min/max/mean, (2) one histogram of per-bin
    ``(cnt, sum_y, sum_y2)`` exact sufficient statistics. Because every
    stump splits on a bin boundary, the ensemble's prediction is
    piecewise-constant on bins — so each round's residual statistics are
    CLOSED FORM over the collected histogram (``sum_r = sy - cnt*pred``,
    ``sum_r2 = sy2 - 2*pred*sy + cnt*pred^2``) and the whole boosting
    loop runs on the bounded <=``n_bins``-row table on the driver (the
    k-means-centroid bounded-model pattern). No per-round corpus pass,
    and no float-order nondeterminism: the shuffled sums are sums of raw
    ``y``/``y^2`` (exact when labels are integral), every residual
    quantity a deterministic expression over them — which is what lets
    the SQL oracle replay training bit-for-bit.

    Squared loss makes the gradient step exact: the optimal leaf value IS
    the leaf's mean residual. The per-round argmax ranks on the
    1e-6-rounded gain with the bin id as tiebreak (same knife-edge rule
    as :func:`decision_stump`).
    """
    f = F.col(feature_col).cast("double")
    y = F.col(label_col).cast("double")
    base_df = df.filter(f.isNotNull() & y.isNotNull())
    first = base_df.agg(F.min(f).alias("_lo"), F.max(f).alias("_hi"),
                        F.avg(y).alias("_mean")).head()
    lo, hi, base = (float(first["_lo"]), float(first["_hi"]),
                    float(first["_mean"]))
    if hi == lo:
        return GBMStumpModel(base=base, lo=lo, width=1.0, n_bins=n_bins,
                             learning_rate=learning_rate, rounds=[])
    width = (hi - lo) / n_bins
    b = F.least(F.floor((f - F.lit(lo)) / F.lit(width)),
                F.lit(n_bins - 1)).cast("int")
    hist = (base_df.groupBy(b.alias("bin"))
            .agg(F.count(y).alias("cnt"), F.sum(y).alias("sy"),
                 F.sum(y * y).alias("sy2"))
            .orderBy("bin").collect())  # bounded: <= n_bins rows
    bins = [int(r["bin"]) for r in hist]
    cnt = [float(r["cnt"]) for r in hist]
    sy = [float(r["sy"]) for r in hist]
    sy2 = [float(r["sy2"]) for r in hist]
    n = len(bins)
    pred = [base] * n
    rounds: List[Tuple[int, float, float, float, float]] = []
    for _ in range(n_rounds):
        if n < 2:
            break
        sr = [sy[i] - cnt[i] * pred[i] for i in range(n)]
        sr2 = [sy2[i] - 2 * pred[i] * sy[i] + cnt[i] * pred[i] * pred[i]
               for i in range(n)]
        lc = ls = ls2 = 0.0
        tc, ts, ts2 = sum(cnt), _ordered_sum(sr), _ordered_sum(sr2)
        sse_t = ts2 - ts * ts / tc
        best = None  # (rounded_gain, -bin) maximal
        lcs, lss, ls2s = [], [], []
        for i in range(n):
            lc, ls, ls2 = lc + cnt[i], ls + sr[i], ls2 + sr2[i]
            lcs.append(lc)
            lss.append(ls)
            ls2s.append(ls2)
        for i in range(n - 1):  # candidates: every bin below the last
            lc, ls, ls2 = lcs[i], lss[i], ls2s[i]
            rc, rs, rs2 = tc - lc, ts - ls, ts2 - ls2
            gain = (sse_t - (ls2 - ls * ls / lc) - (rs2 - rs * rs / rc))
            rg = _sql_round(gain, 1e6)
            if best is None or rg > best[0]:
                best = (rg, i, gain, ls / lc, rs / rc)
        if best is None:
            break
        _rg, i, gain, ld, rd = best
        sb = bins[i]
        rounds.append((sb, lo + (sb + 1) * width, ld, rd, gain))
        for j in range(n):
            pred[j] = pred[j] + learning_rate * (ld if j <= i else rd)
    return GBMStumpModel(base=base, lo=lo, width=width, n_bins=n_bins,
                         learning_rate=learning_rate, rounds=rounds)


def _ordered_sum(xs: List[float]) -> float:
    """Left-to-right float sum — matches an ORDER BY bin cumulative /
    total in SQL so totals agree bit-for-bit."""
    acc = 0.0
    for x in xs:
        acc += x
    return acc


def gbm_predict(df: DataFrame, model: GBMStumpModel, feature_col: str,
                out_col: str = "gbm_pred") -> DataFrame:
    """Map-only scoring: base + lr * sum of per-round leaf deltas, split
    on the bin id (unclipped floor — below-range rows fall left, beyond-
    range rows fall right, monotone in x). Pure codegen projection."""
    f = F.col(feature_col).cast("double")
    pred: F.Column = F.lit(model.base)
    for split_bin, _v, ld, rd, _g in model.rounds:
        left = (F.floor((f - F.lit(model.lo)) / F.lit(model.width))
                <= F.lit(split_bin))
        pred = pred + F.lit(model.learning_rate) * F.when(
            left, F.lit(ld)).otherwise(F.lit(rd))
    return df.withColumn(out_col, pred)


def gbm_model_rows(df: DataFrame, feature_col: str, label_col: str,
                   n_rounds: int = 2, n_bins: int = 8,
                   learning_rate: float = 0.5) -> DataFrame:
    """The trained model as a value surface the driver oracle can check:
    one row per boosting round ``(round, split_bin, split_value,
    left_delta, right_delta, gain)`` plus metadata columns (base), all
    rounded at 1e-4."""
    model = gbm_stumps(df, feature_col, label_col, n_rounds=n_rounds,
                       n_bins=n_bins, learning_rate=learning_rate)
    spark = df.sparkSession
    rows = [(r + 1, sb, sv, ld, rd, g, model.base)
            for r, (sb, sv, ld, rd, g) in enumerate(model.rounds)]
    out = spark.createDataFrame(
        rows, "round int, split_bin int, split_value double, "
              "left_delta double, right_delta double, gain double, "
              "base double")

    def r4(c):
        return F.round(F.col(c) * 1e4) / 1e4 + F.lit(0.0)

    return out.select(
        F.col("round").cast("long").alias("round"),
        F.col("split_bin").cast("long").alias("split_bin"),
        r4("split_value").alias("split_value"),
        r4("left_delta").alias("left_delta"),
        r4("right_delta").alias("right_delta"),
        r4("gain").alias("gain"), r4("base").alias("base"))


# ---------------------------------------------------------------------------
# Isotonic calibration (PAV on bounded bins)
# ---------------------------------------------------------------------------

@dataclass
class IsotonicModel:
    """Fitted calibration map: parallel lists of bin lower edges (sorted)
    and isotonic probabilities; ``score -> prob`` is a step function
    (last edge <= score wins; scores below the first edge clamp to the
    first block)."""
    edges: List[float]
    probs: List[float]
    lo: float
    width: float
    n_bins: int


def _pav(cnt: List[float], sum_y: List[float]) -> List[float]:
    """Exact pool-adjacent-violators over weighted points, in order.
    Classic stack algorithm: merge a new block leftward while it violates
    monotonicity; O(n). Carries exact (weight, sum) pairs and compares
    block means by cross-multiplication, so each output value is a SINGLE
    quotient of exactly-accumulated sums — bit-identical to the minimax
    characterization the SQL oracle computes (incrementally-updated means
    would drift in the low bits)."""
    blocks: List[Tuple[float, float, int]] = []  # (weight, sum, size)
    for w_i, s_i in zip(cnt, sum_y):
        w, s, n = w_i, s_i, 1
        while blocks and blocks[-1][1] * w >= s * blocks[-1][0]:
            pw, ps, pn = blocks.pop()
            w, s, n = pw + w, ps + s, pn + n
        blocks.append((w, s, n))
    out: List[float] = []
    for w, s, n in blocks:
        out.extend([s / w] * n)
    return out


def isotonic_fit(df: DataFrame, score_col: str, label_col: str,
                 n_bins: int = 50) -> IsotonicModel:
    """Fit an isotonic (monotone non-decreasing) calibration of
    ``label_col`` (0/1 or any bounded target) against ``score_col``.

    Distributed part: equal-width binning of the score + one groupBy to
    <= ``n_bins`` rows of ``(bin, cnt, sum_y)``. Bounded part: exact PAV
    on those rows (a sequential recurrence over <= ``n_bins`` values —
    the same bounded-collect pattern as k-means centroids and BPE merge
    tables; the model is O(n_bins), never corpus-sized). PAV on
    count-weighted bin means is exact for the binned regression problem;
    the bin width is the resolution knob.
    """
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("double")
    base = df.filter(s.isNotNull() & y.isNotNull())
    lo_hi = base.agg(F.min(s).alias("_lo"), F.max(s).alias("_hi")).head()
    lo, hi = float(lo_hi["_lo"]), float(lo_hi["_hi"])
    width = (hi - lo) / n_bins if hi > lo else 1.0
    b = F.when(F.lit(hi == lo), F.lit(0)).otherwise(
        F.least(F.floor((s - F.lit(lo)) / F.lit(width)),
                F.lit(n_bins - 1))).cast("int")
    rows = (base.groupBy(b.alias("bin"))
            .agg(F.count(y).alias("cnt"), F.sum(y).alias("sum_y"))
            .orderBy("bin").collect())  # bounded: <= n_bins rows
    cnts = [float(r["cnt"]) for r in rows]
    sums = [float(r["sum_y"]) for r in rows]
    probs = _pav(cnts, sums)
    edges = [lo + r["bin"] * width for r in rows]
    return IsotonicModel(edges=edges, probs=probs, lo=lo, width=width,
                         n_bins=n_bins)


def isotonic_bins(df: DataFrame, score_col: str, label_col: str,
                  n_bins: int = 50) -> DataFrame:
    """The fitted calibration table as a DataFrame: one row per nonempty
    bin, ``(bin, cnt, rate_raw, rate_iso)`` — ``rate_iso`` monotone
    non-decreasing in ``bin``. This is the value surface the driver
    oracle checks via the minimax characterization iso_k =
    max_{i<=k} min_{j>=k} mean(bins i..j)."""
    m = isotonic_fit(df, score_col, label_col, n_bins)
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("double")
    base = df.filter(s.isNotNull() & y.isNotNull())
    b = F.least(F.floor((s - F.lit(m.lo)) / F.lit(m.width)),
                F.lit(n_bins - 1)).cast("int")
    agg = (base.groupBy(b.alias("bin"))
           .agg(F.count(y).alias("cnt"), F.sum(y).alias("sum_y")))
    spark = df.sparkSession
    iso = spark.createDataFrame(
        [(int(round((e - m.lo) / m.width)), float(p))
         for e, p in zip(m.edges, m.probs)], "bin int, _iso double")
    return (agg.join(F.broadcast(iso), "bin")
            .select("bin", F.col("cnt").cast("long").alias("cnt"),
                    (F.round(F.col("sum_y") / F.col("cnt") * 1e4) / 1e4
                     + F.lit(0.0)).alias("rate_raw"),
                    (F.round(F.col("_iso") * 1e4) / 1e4 + F.lit(0.0))
                    .alias("rate_iso")))


def isotonic_apply(df: DataFrame, model: IsotonicModel,
                   score_col: str, out_col: str = "calibrated") -> DataFrame:
    """Map rows through a fitted step function: bin the score with the
    model's edges (clamping outside the fitted range) and join the
    broadcast O(n_bins) calibration table — map-only scoring."""
    spark = df.sparkSession
    iso = spark.createDataFrame(
        [(int(round((e - model.lo) / model.width)), float(p))
         for e, p in zip(model.edges, model.probs)], "_ib int, _iso double")
    s = F.col(score_col).cast("double")
    raw_bin = F.floor((s - F.lit(model.lo)) / F.lit(model.width))
    b = F.greatest(F.lit(0),
                   F.least(raw_bin, F.lit(model.n_bins - 1))).cast("int")
    # clamp to the nearest FITTED bin: fitted ids are the nonempty bins;
    # scoring-time ids between them fall back to the last fitted id <= b
    # via a sorted-edge lookup expression (bounded literal array).
    fitted = sorted(int(round((e - model.lo) / model.width))
                    for e in model.edges)
    arr = F.array(*[F.lit(i) for i in fitted])
    le = F.filter(arr, lambda x: x <= b)
    eff = F.when(F.size(le) > 0, F.element_at(le, -1)).otherwise(
        F.lit(fitted[0]))
    return (df.withColumn("_ib", eff)
            .join(F.broadcast(iso), "_ib", "left")
            .withColumnRenamed("_iso", out_col)
            .drop("_ib"))
