"""Property-based invariants of the extension operators
(:mod:`bid_evaluation_ext`), via hypothesis.

Same discipline as test_properties.py, which holds the scoring engine's
properties: a bounded number of examples per property, adversarially
shrunk, because Spark round-trips are the cost.
"""

from __future__ import annotations

import math

import pytest

from hypothesis import (HealthCheck, assume, example, given, settings,
                        strategies as st)

SET = settings(
    max_examples=12, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)




# ---------------------------------------------------------------------------
# sketch + classifier invariants
# ---------------------------------------------------------------------------

corpus_strategy = st.lists(
    st.lists(st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff"]),
             min_size=0, max_size=6).map(" ".join),
    min_size=1, max_size=8,
)


@SET
@given(texts=corpus_strategy,
       width=st.sampled_from([2, 8, 64]))
def test_cms_never_undercounts(spark, texts, width):
    """The count-min estimate is an upper bound on the true count for EVERY
    key, at any width — collisions only inflate."""
    from bid_evaluation_ext.operators.sketch import cms_topk

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    rows = cms_topk(df, k=100, depth=2, width=width, with_exact=True).collect()
    true_tokens = [w for t in texts for w in t.split()]
    assert len(rows) == len(set(true_tokens))
    for r in rows:
        assert r["est"] >= r["exact"], (r, width)
        assert r["exact"] == true_tokens.count(r["token"])


@SET
@given(texts=corpus_strategy, copies=st.integers(min_value=2, max_value=4))
def test_nb_duplication_equivalence_with_scaled_smoothing(spark, texts,
                                                          copies):
    """Training on an m×-duplicated corpus with add_k = m·k is EXACTLY the
    base model: every count and the smoothing scale by m, so each
    conditional (c·m + k·m)/(n·m + k·m·V) is the same real number. (The
    naive form of this property — duplication alone leaves predictions
    fixed — is FALSE: smoothing weight shrinks relative to counts, and
    near-tied predictions move; hypothesis found the counterexample.)"""
    from bid_evaluation_ext.operators.classify import nb_predict, nb_train

    rows = [(i, t, "p" if i % 2 else "q") for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string, cls string")
    dup = df
    for _ in range(copies - 1):
        dup = dup.union(df)

    m1 = nb_train(df, label_col="cls", add_k=1.0)
    m2 = nb_train(dup, label_col="cls", add_k=float(copies))
    base = {r["doc_id"]: r for r in nb_predict(df, m1).collect()}
    duped = {r["doc_id"]: r for r in nb_predict(df, m2).collect()}
    m1.release()
    m2.release()
    for i in base:
        assert base[i]["pred_label"] == duped[i]["pred_label"]
        assert math.isclose(base[i]["pred_logp"], duped[i]["pred_logp"],
                            rel_tol=1e-9, abs_tol=1e-9)


# --- decision analytics & CDC invariants (this round's operators) ---------

pts_lists = st.lists(
    st.tuples(st.integers(min_value=0, max_value=12),
              st.integers(min_value=0, max_value=12)),
    min_size=1, max_size=24)


@SET
@given(pts=pts_lists)
def test_pareto_frontier_permutation_and_duplication_invariant(spark, pts):
    """The frontier SET is invariant under row order; duplicating every
    point keeps exactly the frontier values (each duplicated)."""
    from bid_evaluation_ext.operators.analytics import pareto_frontier_2d

    def frontier_vals(rows):
        df = spark.createDataFrame(
            [(i, float(x), y) for i, (x, y) in enumerate(rows)],
            "id long, x double, y long")
        return sorted((r["x"], r["y"]) for r in
                      pareto_frontier_2d(df, "x", "y", buckets=3).collect())

    base = frontier_vals(pts)
    assert frontier_vals(list(reversed(pts))) == base
    doubled = frontier_vals(pts + pts)
    assert doubled == sorted(base + base)


@SET
@given(vals=st.lists(st.integers(min_value=0, max_value=1000),
                     min_size=2, max_size=20),
       c=st.integers(min_value=1, max_value=9))
def test_gini_scale_invariant(spark, vals, c):
    """Gini is scale-invariant: gini(c·x) == gini(x)."""
    from bid_evaluation_ext.operators.analytics import gini_by_group

    def g(xs):
        df = spark.createDataFrame([("g", float(v)) for v in xs],
                                   "g string, v double")
        return gini_by_group(df, "g", "v").collect()[0]["gini"]

    a, b = g(vals), g([v * c for v in vals])
    if a is None:
        assert b is None
    else:
        assert abs(a - b) < 1e-9


@SET
@given(snap=st.lists(st.tuples(st.integers(0, 15), st.integers(0, 99)),
                     min_size=0, max_size=12, unique_by=lambda t: t[0]),
       upd=st.lists(st.tuples(st.integers(0, 15), st.integers(0, 99)),
                    min_size=0, max_size=12, unique_by=lambda t: t[0]))
def test_upsert_idempotent(spark, snap, upd):
    """Applying the same update batch twice equals applying it once."""
    from bid_evaluation_ext.operators.cdc import apply_upsert

    s = spark.createDataFrame(snap or [(999999, 0)], "k long, v long")
    u = spark.createDataFrame(upd or [(999998, 0)], "k long, v long")
    once = apply_upsert(s, u, ["k"])
    twice = apply_upsert(once, u, ["k"])
    assert sorted(map(tuple, once.collect())) \
        == sorted(map(tuple, twice.collect()))


# ---------------------------------------------------------------------------
# Round-3 statistical kit invariants (drift + experimentation operators).
# The formula-division bug proved properties catch what oracles sample
# around; these pin the analytic identities the operators are built on.
# ---------------------------------------------------------------------------

grid_vals = st.lists(
    st.integers(min_value=-2000, max_value=2000).map(lambda x: x / 1000.0),
    min_size=2, max_size=24)


def _vdf(spark, values):
    return spark.createDataFrame([(float(v),) for v in values], "v double")


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(a=grid_vals, b=grid_vals,
       c=st.integers(min_value=-500, max_value=500).map(lambda x: x / 100.0))
def test_wasserstein_shift_equivariance_and_translation(spark, a, b, c):
    """W1 is shift-equivariant (W1(a+c, b+c) = W1(a, b)) and the distance
    between a sample and its own translate is exactly |c|."""
    from pyspark.sql import functions as F

    from bid_evaluation_ext.operators.metrics import wasserstein_1d

    da, db = _vdf(spark, a), _vdf(spark, b)
    base = wasserstein_1d(da, db, "v").collect()[0]["w1"]
    sa = da.select((F.col("v") + c).alias("v"))
    sb = db.select((F.col("v") + c).alias("v"))
    shifted = wasserstein_1d(sa, sb, "v").collect()[0]["w1"]
    # 1e-6 quantization can nudge each support gap by one grid step
    assert shifted == pytest.approx(base, abs=5e-5)
    trans = wasserstein_1d(da, sa, "v").collect()[0]["w1"]
    assert trans == pytest.approx(abs(c), abs=5e-5)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(a=grid_vals, b=grid_vals)
def test_ks_bounds_and_identity(spark, a, b):
    """KS ∈ [0, 1]; 0 on identical samples; 1 on disjoint supports."""
    from pyspark.sql import functions as F

    from bid_evaluation_ext.operators.metrics import ks_statistic

    da, db = _vdf(spark, a), _vdf(spark, b)
    ks = ks_statistic(da, db, "v").collect()[0]["ks"]
    assert -1e-12 <= ks <= 1.0 + 1e-12
    same = ks_statistic(da, da, "v").collect()[0]["ks"]
    assert same == pytest.approx(0.0, abs=1e-12)
    apart = ks_statistic(
        da, db.select((F.col("v") + 100.0).alias("v")), "v"
    ).collect()[0]["ks"]
    assert apart == pytest.approx(1.0, abs=1e-12)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(a=st.lists(st.integers(min_value=-2000, max_value=2000)
                  .map(lambda x: x / 1000.0), min_size=12, max_size=40))
def test_psi_nonnegative_and_zero_on_identical(spark, a):
    """Every PSI term is >= 0 (sign(c−r) == sign(ln(c/r))) and total PSI
    over an identical current window is 0."""
    from bid_evaluation_ext.operators.metrics import psi_drift

    da = _vdf(spark, a)
    rows = psi_drift(da, da, "v", n_bins=4).collect()
    assert all(r["psi_term"] >= -1e-12 for r in rows)
    assert sum(r["psi_term"] for r in rows) == pytest.approx(0.0, abs=1e-12)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(a=st.lists(st.integers(min_value=-2000, max_value=2000)
                  .map(lambda x: x / 1000.0), min_size=12, max_size=40),
       b=st.lists(st.integers(min_value=-2000, max_value=2000)
                  .map(lambda x: x / 1000.0), min_size=12, max_size=40))
def test_jsd_bounds(spark, a, b):
    """Total binned JSD sits in [0, ln 2] (up to the min_share clip's
    epsilon) and is 0 when current == reference."""
    from bid_evaluation_ext.operators.metrics import js_divergence

    da, db = _vdf(spark, a), _vdf(spark, b)
    total = sum(r["jsd_term"] for r in
                js_divergence(da, db, "v", n_bins=4).collect())
    assert -1e-12 <= total <= math.log(2.0) + 1e-6
    same = sum(r["jsd_term"] for r in
               js_divergence(da, da, "v", n_bins=4).collect())
    assert same == pytest.approx(0.0, abs=1e-12)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(counts=st.lists(st.integers(min_value=1, max_value=50),
                       min_size=2, max_size=6),
       m=st.integers(min_value=1, max_value=5))
def test_chi_square_zero_on_proportional_tables(spark, counts, m):
    """chi2 and Cramér's V are exactly 0 when the current window's
    category counts are a constant multiple of the reference's."""
    from bid_evaluation_ext.operators.metrics import chi_square_drift

    ref_rows = [(f"c{i}",) for i, n in enumerate(counts) for _ in range(n)]
    cur_rows = [(f"c{i}",) for i, n in enumerate(counts)
                for _ in range(n * m)]
    ref = spark.createDataFrame(ref_rows, "cat string")
    cur = spark.createDataFrame(cur_rows, "cat string")
    row = chi_square_drift(ref, cur, "cat").collect()[0]
    assert row["chi2"] == pytest.approx(0.0, abs=1e-9)
    assert row["cramers_v"] == pytest.approx(0.0, abs=1e-6)
    assert row["dof"] == len(counts) - 1


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(xs=st.lists(st.integers(min_value=-1000, max_value=1000)
                   .map(lambda x: x / 100.0), min_size=2, max_size=12),
       ys=st.lists(st.integers(min_value=-1000, max_value=1000)
                   .map(lambda x: x / 100.0), min_size=2, max_size=12))
def test_welch_t_sign_flip_antisymmetry(spark, xs, ys):
    """Swapping which variant sorts first flips the sign of diff and t
    and leaves |t|, dof, and the per-variant stats identical."""
    from bid_evaluation_ext.operators.analytics import welch_t_test

    fwd = spark.createDataFrame([("a", float(v)) for v in xs]
                                + [("b", float(v)) for v in ys],
                                "variant string, m double")
    # rename so the former treatment sorts first: a->z makes order (b, z)
    rev = spark.createDataFrame([("z", float(v)) for v in xs]
                                + [("b", float(v)) for v in ys],
                                "variant string, m double")
    rf = welch_t_test(fwd, "variant", "m").collect()[0]
    rr = welch_t_test(rev, "variant", "m").collect()[0]
    assert rr["diff"] == pytest.approx(-rf["diff"], abs=1e-12)
    if rf["t"] is None:
        assert rr["t"] is None
    else:
        assert rr["t"] == pytest.approx(-rf["t"], rel=1e-12)
        assert rr["dof"] == pytest.approx(rf["dof"], rel=1e-12)
    assert (rr["n_c"], rr["n_t"]) == (rf["n_t"], rf["n_c"])


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(vals=st.lists(st.integers(min_value=-10000, max_value=10000)
                     .map(lambda x: x / 100.0), min_size=3, max_size=30))
def test_winsorized_mean_bounded_and_noop_without_caps(spark, vals):
    """The winsorized mean stays within [min, max] of the group's values,
    never exceeds the raw mean's distance to the caps, and with
    (lower, upper) = (0, 1) clipping is a no-op (mean_raw ==
    mean_winsorized, n_clipped == 0)."""
    from bid_evaluation_ext.operators.analytics import (
        winsorized_mean_by_group,
    )

    df = spark.createDataFrame([("g", float(v)) for v in vals],
                               "grp string, v double")
    row = winsorized_mean_by_group(df, "grp", "v", 0.1, 0.9).collect()[0]
    assert min(vals) - 1e-9 <= row["mean_winsorized"] <= max(vals) + 1e-9
    assert row["n"] == len(vals)
    noop = winsorized_mean_by_group(df, "grp", "v", 0.0, 1.0).collect()[0]
    assert noop["mean_winsorized"] == pytest.approx(noop["mean_raw"],
                                                    rel=1e-12, abs=1e-12)
    assert noop["n_clipped"] == 0


@SET
@given(a=st.lists(st.integers(0, 12), min_size=2, max_size=12),
       b=st.lists(st.integers(0, 12), min_size=2, max_size=12))
def test_mwu_group_swap_antisymmetry(spark, a, b):
    """Swapping control/treatment maps U → n_a·n_b − U and flips z's sign
    (the rank-sum identity) — catches any asymmetry bug in the rank or
    tie bookkeeping."""
    from bid_evaluation_ext.operators.analytics import mann_whitney_u

    rows = [("c", float(x)) for x in a] + [("t", float(x)) for x in b]
    df = spark.createDataFrame(rows, "g string, v double")
    fwd = mann_whitney_u(df, "g", "v", "c", "t").collect()[0]
    rev = mann_whitney_u(df, "g", "v", "t", "c").collect()[0]
    n_prod = fwd["n_control"] * fwd["n_treatment"]
    assert rev["u"] == pytest.approx(n_prod - fwd["u"], abs=1e-9)
    if fwd["z"] is not None:
        assert rev["z"] == pytest.approx(-fwd["z"], rel=1e-9)


@SET
@given(perm=st.permutations(list(range(3))),
       ranks=st.lists(st.lists(st.integers(1, 50), min_size=1, max_size=6,
                               unique=True),
                      min_size=3, max_size=3))
def test_rrf_list_order_invariance(spark, perm, ranks):
    """RRF is a sum over lists — permuting the input list order never
    changes a fused score."""
    from bid_evaluation_ext.operators.retrieval import rrf_fuse

    lists = [spark.createDataFrame(
        [(100 + i, r) for i, r in enumerate(rs)], "doc_id long, rank long")
        for rs in ranks]
    base = {r["doc_id"]: r["rrf_score"]
            for r in rrf_fuse(lists, k=60).collect()}
    permuted = {r["doc_id"]: r["rrf_score"]
                for r in rrf_fuse([lists[i] for i in perm], k=60).collect()}
    assert set(base) == set(permuted)
    for d in base:
        assert permuted[d] == pytest.approx(base[d], rel=1e-12)


# ---- r4 statistical-kit properties (round-6 additions) ----------------


@SET
@given(values=st.lists(st.floats(min_value=-1e4, max_value=1e4,
                                 allow_nan=False, width=32),
                       min_size=3, max_size=12),
       a=st.floats(min_value=0.1, max_value=50.0, allow_nan=False),
       b=st.floats(min_value=-1e3, max_value=1e3, allow_nan=False))
def test_poisson_bootstrap_affine_equivariance(spark, values, a, b):
    """v → a·v + b (a>0) transforms mean and BOTH CI bounds by the same
    affine map: replication weights depend only on row ids, every
    replicate mean is affine in v, and a>0 preserves the sort."""
    from bid_evaluation_ext.operators.analytics import poisson_bootstrap_ci

    rows = [("g", i, float(v)) for i, v in enumerate(values)]
    df = spark.createDataFrame(rows, "grp string, doc_id long, v double")
    df2 = df.withColumn("v", df["v"] * float(a) + float(b))
    r1 = poisson_bootstrap_ci(df, "grp", "v", n_boot=6).collect()[0]
    r2 = poisson_bootstrap_ci(df2, "grp", "v", n_boot=6).collect()[0]
    for c in ("mean", "ci_lo", "ci_hi"):
        if r1[c] is None:
            assert r2[c] is None
        else:
            assert r2[c] == pytest.approx(a * r1[c] + b,
                                          rel=1e-9, abs=1e-6)


@SET
@given(resid=st.lists(st.floats(min_value=-100, max_value=100,
                                allow_nan=False, width=32),
                      min_size=12, max_size=40),
       alphas=st.tuples(st.floats(min_value=0.10, max_value=0.45),
                        st.floats(min_value=0.10, max_value=0.45)))
def test_conformal_width_constant_and_monotone_in_alpha(spark, resid,
                                                        alphas):
    """Every target interval has the SAME width 2·q̂ centered at pred;
    q̂ matches the pure-python k-th order statistic of quantized
    residuals; smaller α never narrows the interval."""
    import math as _m

    from bid_evaluation_ext.operators.analytics import conformal_interval

    a1, a2 = sorted(alphas)
    cal = spark.createDataFrame(
        [(float(i), float(i) + float(r)) for i, r in enumerate(resid)],
        "pred double, actual double")
    tgt = spark.createDataFrame(
        [(float(t),) for t in (-5.0, 0.0, 17.5)], "pred double")

    def qhat(alpha):
        n = len(resid)
        k = _m.ceil((n + 1) * (1 - alpha))
        qs = sorted(round(abs(float(r)) * 1e6) / 1e6
                    for r in resid)
        return qs[k - 1]

    rows2 = conformal_interval(cal, tgt, alpha=a2).collect()
    widths = {round(r["conf_hi"] - r["conf_lo"], 9) for r in rows2}
    assert len(widths) == 1
    for r in rows2:
        mid = (r["conf_hi"] + r["conf_lo"]) / 2
        assert mid == pytest.approx(r["pred"], abs=1e-9)
        assert (r["conf_hi"] - r["pred"]) == pytest.approx(
            qhat(a2), abs=1e-6)
    rows1 = conformal_interval(cal, tgt, alpha=a1).collect()
    w1 = rows1[0]["conf_hi"] - rows1[0]["conf_lo"]
    assert w1 >= min(widths) - 1e-9      # stricter alpha never narrower


@SET
@given(ps=st.lists(st.floats(min_value=1e-6, max_value=1.0,
                             allow_nan=False),
                   min_size=2, max_size=15))
def test_bh_adjust_matches_reference_stepup(spark, ps):
    """p_adj equals the textbook monotone step-up min_{j≥rank}(p_j·m/j)
    capped at 1; p_adj ≥ p; rejections form a prefix of the rank order."""
    from bid_evaluation_ext.operators.analytics import bh_adjust

    rows = [(f"m{i}", float(p)) for i, p in enumerate(ps)]
    df = spark.createDataFrame(rows, "metric string, p_value double")
    out = sorted(bh_adjust(df, q=0.2).collect(),
                 key=lambda r: r["p_rank"])

    srt = sorted((float(p), f"m{i}") for i, p in enumerate(ps))
    m = len(srt)
    ref, run = [None] * m, None
    for j in range(m - 1, -1, -1):
        v = srt[j][0] * m / (j + 1)
        run = v if run is None else min(run, v)
        ref[j] = min(1.0, run)
    for r in out:
        j = r["p_rank"] - 1
        assert r["p_adj"] == pytest.approx(ref[j], rel=1e-12)
        assert r["p_adj"] >= r["p_value"] - 1e-15
    rejected = [r["reject"] for r in out]
    assert rejected == sorted(rejected, reverse=True)   # prefix property


@SET
@given(units=st.lists(
    st.lists(st.integers(min_value=0, max_value=3), min_size=2,
             max_size=4),
    min_size=2, max_size=8),
    relabel=st.permutations([0, 1, 2, 3]))
def test_krippendorff_label_permutation_invariance(spark, units, relabel):
    """Nominal alpha only sees match/mismatch — bijective relabeling of
    the categories leaves it unchanged; unanimous data scores 1."""
    from bid_evaluation_ext.operators.analytics import krippendorff_alpha

    rows = [(u, int(v)) for u, ratings in enumerate(units)
            for v in ratings]
    df = spark.createDataFrame(rows, "unit_id long, value int")
    df2 = spark.createDataFrame(
        [(u, int(relabel[v])) for u, v in rows], "unit_id long, value int")
    a1 = krippendorff_alpha(df).collect()[0]["alpha"]
    a2 = krippendorff_alpha(df2).collect()[0]["alpha"]
    if a1 is None:
        assert a2 is None
    else:
        assert a2 == pytest.approx(a1, rel=1e-12)

    perfect = spark.createDataFrame(
        [(u, u % 2) for u in range(4) for _ in range(3)],
        "unit_id long, value int")
    assert krippendorff_alpha(perfect).collect()[0]["alpha"] \
        == pytest.approx(1.0)


@SET
@given(vals=st.lists(st.floats(min_value=-50, max_value=50,
                               allow_nan=False, width=32),
                     min_size=1, max_size=20),
       c=st.floats(min_value=-1e3, max_value=1e3, allow_nan=False))
def test_cusum_translation_invariance(spark, vals, c):
    """Shifting the series AND the target by the same constant leaves
    the chart unchanged; a constant series at target stays at 0."""
    from bid_evaluation_ext.operators.timeseries import cusum_by_key

    rows = [("k", i, i, float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k string, ts long, tb long, v double")
    df2 = df.withColumn("v", df["v"] + float(c))
    r1 = sorted(cusum_by_key(df, "k", "ts", "v", "tb", target=0.0)
                .collect(), key=lambda r: r["tb"])
    r2 = sorted(cusum_by_key(df2, "k", "ts", "v", "tb", target=float(c))
                .collect(), key=lambda r: r["tb"])
    for x, y in zip(r1, r2):
        assert y["cusum_pos"] == pytest.approx(x["cusum_pos"], abs=1e-6)
        assert y["cusum_neg"] == pytest.approx(x["cusum_neg"], abs=1e-6)

    flat = spark.createDataFrame([("k", i, i, 7.0) for i in range(5)],
                                 "k string, ts long, tb long, v double")
    for r in cusum_by_key(flat, "k", "ts", "v", "tb", target=7.0).collect():
        assert r["cusum_pos"] == 0.0 and r["cusum_neg"] == 0.0


@SET
@given(xs=st.lists(st.floats(min_value=-100, max_value=100,
                             allow_nan=False, width=32),
                   min_size=4, max_size=15),
       a=st.floats(min_value=0.5, max_value=20.0),
       b=st.floats(min_value=-50, max_value=50))
# hypothesis-found r6 counterexample: near-constant column + offset
# cancelled ~6 digits under the old raw-moment formula (fixed round 7
# by switching correlation_matrix to stable F.corr co-moments)
@example(xs=[0.0, 0.0, 0.0, 6.103515625e-05], a=0.99999, b=3.0)
def test_correlation_affine_invariance(spark, xs, a, b):
    """Pearson r is invariant under positive affine maps of a column and
    always lands in [−1, 1]."""
    from bid_evaluation_ext.operators.profile import correlation_matrix

    rows = [(float(x), float(2 * x) + float(i % 3), float(i))
            for i, x in enumerate(xs)]
    # |b| >> a·spread(x) makes the scaled column NUMERICALLY constant
    # (n·Σx²−(Σx)² cancels to 0) — float degeneracy, not a property
    # violation; keep the affine map non-degenerate
    scaled = [x * float(a) + float(b) for x in xs]
    assume(max(scaled) - min(scaled) > 1e-6 * max(1.0, abs(float(b))))
    df = spark.createDataFrame(rows, "x double, y double, z double")
    df2 = df.withColumn("x", df["x"] * float(a) + float(b))
    r1 = {(r["col_a"], r["col_b"]): r["r"]
          for r in correlation_matrix(df, ["x", "y", "z"]).collect()}
    r2 = {(r["col_a"], r["col_b"]): r["r"]
          for r in correlation_matrix(df2, ["x", "y", "z"]).collect()}
    for k in r1:
        if r1[k] is None:
            assert r2[k] is None
        else:
            assert abs(r1[k]) <= 1 + 1e-9
            assert r2[k] == pytest.approx(r1[k], rel=1e-6, abs=1e-9)


@SET
@given(groups=st.lists(
    st.tuples(st.integers(min_value=1, max_value=25),
              st.floats(min_value=0.0, max_value=40.0)),
    min_size=1, max_size=6),
    budget=st.integers(min_value=0, max_value=60))
def test_neyman_allocation_invariants(spark, groups, budget):
    """Never over budget, never above stratum size, and when NO stratum
    is at its cap the largest-remainder round lands the budget exactly
    (the r6 capped-slot fix makes the last clause hold)."""
    from bid_evaluation_ext.operators.pipeline import neyman_allocation

    rows = []
    for gi, (n, spread) in enumerate(groups):
        for j in range(n):
            rows.append((f"g{gi}", float(spread) * (j % 2)))
    df = spark.createDataFrame(rows, "grp string, v double")
    out = neyman_allocation(df, "grp", "v", budget=budget).collect()
    total_rows = sum(n for n, _ in groups)
    assert sum(r["alloc"] for r in out) <= budget
    for r in out:
        assert 0 <= r["alloc"] <= r["n_rows"]
    if all(r["alloc"] < r["n_rows"] for r in out):
        assert sum(r["alloc"] for r in out) == min(budget, total_rows)
