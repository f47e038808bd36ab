"""Contrastive pair mining + group-level score gating."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from bid_evaluation_ext.operators.pipeline import filter_by_group_score
from bid_evaluation_ext.operators.similarity import mine_contrastive_pairs


@pytest.fixture()
def labeled_vecs(spark):
    # two tight clusters: label 0 near +x, label 1 near +y; vec 4 unlabeled
    rows = [
        (0, [1.0, 0.0, 0.0], 0),
        (1, [0.9, 0.1, 0.0], 0),
        (2, [0.0, 1.0, 0.0], 1),
        (3, [0.1, 0.9, 0.0], 1),
        (4, [0.7, 0.7, 0.0], None),
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int")


def test_hard_negatives_pick_nearest_other_label(labeled_vecs):
    out = mine_contrastive_pairs(labeled_vecs, labeled_vecs, k_neg=1)
    got = {r["query_id"]: r for r in out.collect()}
    # anchor 0's nearest different-label vector is 4 (unlabeled = another
    # class) at cos ~0.707; nearest same-label (1) must NOT appear
    assert got[0]["neighbor_id"] == 4 and got[0]["kind"] == "neg"
    assert all(r["kind"] == "neg" for r in got.values())
    assert len(got) == 5


def test_positives_and_negatives_ranked_separately(labeled_vecs):
    out = mine_contrastive_pairs(labeled_vecs, labeled_vecs, k_neg=2, k_pos=1)
    rows = [r for r in out.collect() if r["query_id"] == 0]
    kinds = {r["kind"]: r for r in rows}
    assert kinds["pos"]["neighbor_id"] == 1      # only same-label vector
    assert kinds["pos"]["rnk"] == 1
    negs = [r for r in rows if r["kind"] == "neg"]
    assert len(negs) == 2
    assert negs[0]["cosine"] >= negs[1]["cosine"]


def test_null_labels_are_one_class(labeled_vecs):
    extra = labeled_vecs.sparkSession.createDataFrame(
        [(9, [0.6, 0.8, 0.0], None)],
        "vec_id long, embedding array<double>, label int")
    corpus = labeled_vecs.union(extra)
    out = mine_contrastive_pairs(corpus, corpus, k_neg=5, k_pos=5)
    pos_of_4 = [r["neighbor_id"] for r in out.collect()
                if r["query_id"] == 4 and r["kind"] == "pos"]
    assert pos_of_4 == [9]          # the other null-label row is its positive


def test_contrastive_validates_k(labeled_vecs):
    with pytest.raises(ValueError, match="k_neg"):
        mine_contrastive_pairs(labeled_vecs, labeled_vecs, k_neg=0)


# ---------------------------------------------------------------------------
# group gating
# ---------------------------------------------------------------------------

@pytest.fixture()
def scored_docs(spark):
    rows = [
        (0, "good", 80.0), (1, "good", 90.0),
        (2, "bad", 10.0), (3, "bad", 30.0),
        (4, "mixed", 90.0), (5, "mixed", 10.0),
        (6, None, 70.0),
        (7, "ghost", None),
    ]
    return spark.createDataFrame(rows, "doc_id long, src string, q double")


def test_group_gate_keeps_whole_groups(scored_docs):
    kept = filter_by_group_score(scored_docs, "src", "q", min_avg=60.0)
    got = sorted(r["doc_id"] for r in kept.collect())
    # good avg 85 passes; mixed avg 50 fails ENTIRELY (even doc 4 at 90 —
    # that asymmetry is the point); null-group avg 70 passes
    assert got == [0, 1, 6]
    avgs = {r["doc_id"]: r["group_avg_score"] for r in kept.collect()}
    assert avgs[0] == pytest.approx(85.0) and avgs[6] == pytest.approx(70.0)


def test_group_gate_max_bound_and_all_null_group(scored_docs):
    kept = filter_by_group_score(scored_docs, "src", "q", max_avg=60.0)
    got = sorted(r["doc_id"] for r in kept.collect())
    # bad avg 20 and mixed avg 50 pass; ghost (all-null scores) always fails
    assert got == [2, 3, 4, 5]


def test_group_gate_requires_a_bound(scored_docs):
    with pytest.raises(ValueError, match="min_avg / max_avg"):
        filter_by_group_score(scored_docs, "src", "q")


def test_group_gate_unhinted_path_same_result(scored_docs):
    # broadcast_stats=False leaves the join strategy to AQE; results match
    a = filter_by_group_score(scored_docs, "src", "q", min_avg=60.0)
    b = filter_by_group_score(scored_docs, "src", "q", min_avg=60.0,
                              broadcast_stats=False)
    assert sorted(r["doc_id"] for r in a.collect()) == \
        sorted(r["doc_id"] for r in b.collect())


# ---------------------------------------------------------------------------
# temperature mixture
# ---------------------------------------------------------------------------

@pytest.fixture()
def skewed_corpus(spark):
    rows = ([(i, "big") for i in range(900)]
            + [(900 + i, "mid") for i in range(90)]
            + [(990 + i, "small") for i in range(10)])
    return spark.createDataFrame(rows, "doc_id long, grp string")


def test_temperature_flattens_toward_uniform(skewed_corpus):
    from bid_evaluation_ext.operators.pipeline import (
        temperature_mixture_sample,
    )
    out = temperature_mixture_sample(skewed_corpus, alpha=0.3,
                                     group_col="grp", seed="t")
    got = {r["grp"]: r["count"]
           for r in out.groupBy("grp").count().collect()}
    # the smallest group is never thinned (acceptance 1.0 by construction);
    # the head is thinned hardest, compressing the 90:9:1 ratio
    assert got["small"] == 10
    assert got["big"] < 900
    ratio_before = 900 / 10
    ratio_after = got["big"] / got["small"]
    assert ratio_after < ratio_before / 2, got
    # expectation check: acceptance ∝ n^(alpha-1), big ~ 900^0.3/10^0.3·10
    expect_big = 10 * (900 / 10) ** 0.3
    assert abs(got["big"] - expect_big) / expect_big < 0.35, (got, expect_big)


def test_temperature_alpha_one_keeps_everything(skewed_corpus):
    from bid_evaluation_ext.operators.pipeline import (
        temperature_mixture_sample,
    )
    out = temperature_mixture_sample(skewed_corpus, alpha=1.0,
                                     group_col="grp")
    # natural proportions at the full feasible budget = identity
    assert out.count() == 1000


def test_temperature_is_deterministic_and_validates(skewed_corpus):
    from bid_evaluation_ext.operators.pipeline import (
        temperature_mixture_sample,
    )
    a = {r["doc_id"] for r in temperature_mixture_sample(
        skewed_corpus, alpha=0.5, group_col="grp", seed="x").collect()}
    b = {r["doc_id"] for r in temperature_mixture_sample(
        skewed_corpus, alpha=0.5, group_col="grp", seed="x").collect()}
    assert a == b
    with pytest.raises(ValueError, match="alpha"):
        temperature_mixture_sample(skewed_corpus, alpha=1.5, group_col="grp")
    empty = skewed_corpus.filter("grp IS NULL")
    with pytest.raises(ValueError, match="non-null"):
        temperature_mixture_sample(empty, group_col="grp")


# ---------------------------------------------------------------------------
# curriculum binning
# ---------------------------------------------------------------------------

def test_curriculum_bins_equal_population(spark):
    from bid_evaluation_ext.operators.pipeline import curriculum_bins
    df = spark.createDataFrame([(i, float(i)) for i in range(100)],
                               "id long, s double")
    out = curriculum_bins(df, "s", n_bins=4)
    got = {r["bin"]: r["count"]
           for r in out.groupBy("bin").count().collect()}
    # thresholds at exact quartiles of 0..99; ties-at-threshold go low
    assert sum(got.values()) == 100
    assert set(got) == {0, 1, 2, 3}
    assert all(20 <= v <= 30 for v in got.values()), got
    # monotone: every score in bin b+1 exceeds every score in bin b
    rows = sorted((r["s"], r["bin"]) for r in out.collect())
    bins_in_order = [b for _, b in rows]
    assert bins_in_order == sorted(bins_in_order)


def test_curriculum_bins_nulls_and_plan(spark):
    from bid_evaluation_ext.operators.pipeline import curriculum_bins
    df = spark.createDataFrame(
        [(0, 1.0), (1, None), (2, 5.0), (3, 9.0)], "id long, s double")
    out = curriculum_bins(df, "s", n_bins=2)
    got = {r["id"]: r["bin"] for r in out.collect()}
    assert got[1] is None
    assert got[0] == 0 and got[3] == 1
    # assignment phase is map-only (thresholds inlined as literals)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Window" not in plan, plan


def test_curriculum_bins_validation_and_empty(spark):
    from bid_evaluation_ext.operators.pipeline import curriculum_bins
    df = spark.createDataFrame([(0, 1.0)], "id long, s double")
    with pytest.raises(ValueError, match="n_bins"):
        curriculum_bins(df, "s", n_bins=1)
    empty = df.filter("id < 0")
    out = curriculum_bins(empty, "s", n_bins=3)
    assert out.count() == 0 and "bin" in out.columns
