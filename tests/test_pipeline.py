"""Training-data pipeline operators: decontamination, sampling, chunking,
vocabulary, packing — exactness and contract tests."""

import pytest
from pyspark.sql import functions as F

from bid_evaluation_ext.operators.pipeline import (
    chunk_documents,
    decontaminate,
    hash_sample,
    mixture_sample,
    pack_sequences,
    shuffle_rows,
    top_ngrams,
)


@pytest.fixture
def corpus(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "train"),
        (1, "the quick brown fox jumps over a sleepy cat", "train"),
        (2, "completely different text about spark engines here", "train"),
        (3, "the quick brown fox jumps over the lazy dog", "eval"),  # == doc 0
        (4, "unrelated evaluation prompt with novel words", "eval"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_decontaminate_exact_vs_bruteforce(corpus):
    train = corpus.filter(F.col("source") == "train")
    ev = corpus.filter(F.col("source") == "eval")
    got = {(r["train_id"], r["eval_id"]): r["jaccard"]
           for r in decontaminate(train, ev, threshold=0.1, k=3).collect()}

    # brute force in python with the same shingle definition
    def shingles(text, k=3):
        t = text.split()
        return {" ".join(t[i:i + k]) for i in range(len(t) - k + 1)}

    rows = {r["doc_id"]: r["text"] for r in corpus.collect()}
    want = {}
    for tid in (0, 1, 2):
        for eid in (3, 4):
            a, b = shingles(rows[tid]), shingles(rows[eid])
            j = len(a & b) / len(a | b) if a | b else 0.0
            if j >= 0.1:
                want[(tid, eid)] = j

    assert set(got) == set(want)
    for k_, v in want.items():
        assert got[k_] == pytest.approx(v)
    # the identical pair is found with jaccard 1.0
    assert got[(0, 3)] == pytest.approx(1.0)


def test_decontaminate_max_df_guard(corpus):
    train = corpus.filter(F.col("source") == "train")
    ev = corpus.filter(F.col("source") == "eval")
    # max_df=0 drops every shingle from candidate generation → no pairs
    assert decontaminate(train, ev, threshold=0.1, max_df=0).count() == 0


def test_hash_sample_deterministic_and_monotone(spark):
    df = spark.range(2000).withColumnRenamed("id", "doc_id")
    s_half = hash_sample(df, 0.5, key_col="doc_id")
    n_half = s_half.count()
    assert n_half == hash_sample(df, 0.5, key_col="doc_id").count()  # stable
    assert abs(n_half - 1000) < 120  # ~binomial(2000, .5) tolerance

    # nested thresholds → nested samples (same seed)
    kept_q = {r["doc_id"] for r in hash_sample(df, 0.25, key_col="doc_id").collect()}
    kept_h = {r["doc_id"] for r in s_half.collect()}
    assert kept_q <= kept_h

    # different seed decorrelates
    kept_seeded = {r["doc_id"]
                   for r in hash_sample(df, 0.25, key_col="doc_id", seed="v2").collect()}
    assert kept_seeded != kept_q

    assert hash_sample(df, 0.0).count() == 0
    assert hash_sample(df, 1.0).count() == 2000
    with pytest.raises(ValueError, match="fraction"):
        hash_sample(df, 1.5)


def test_hash_sample_null_keys_deterministic(spark):
    """Null keys hash a sentinel — present or absent per the same md5
    predicate as any other key, never silently dropped wholesale."""
    import hashlib

    df = spark.createDataFrame([(None,), (1,), (2,)], "doc_id long")
    expect_null_kept = (
        hashlib.md5("\x00null".encode()).hexdigest()[:8]
        < format(int(0.5 * 16 ** 8), "08x")
    )
    kept = {r["doc_id"] for r in hash_sample(df, 0.5, key_col="doc_id").collect()}
    assert (None in kept) == expect_null_kept
    # deterministic across calls
    kept2 = {r["doc_id"] for r in hash_sample(df, 0.5, key_col="doc_id").collect()}
    assert kept == kept2


def test_null_text_token_budgets(spark):
    """Null text behaves as empty (0 tokens) in chunking and packing —
    never -1 from size(null)."""
    df = spark.createDataFrame(
        [(1, None, "s"), (2, "a b c", "s")], "doc_id long, text string, source string"
    )
    chunks = {(r["doc_id"], r["chunk_index"]): r["chunk_n_tokens"]
              for r in chunk_documents(df, 4, 1).collect()}
    assert chunks[(1, 0)] == 0 and chunks[(2, 0)] == 3
    packed = {r["doc_id"]: (r["n_tokens"], r["seq_offset"])
              for r in pack_sequences(df, 64, shard_col="source").collect()}
    assert packed[1] == (0, 0) and packed[2] == (3, 0)


def test_chunk_documents_windows(spark):
    df = spark.createDataFrame(
        [(1, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"), (2, ""), (3, "one two")],
        "doc_id long, text string",
    )
    out = chunk_documents(df, chunk_tokens=4, overlap=1)
    got = {(r["doc_id"], r["chunk_index"]): (r["chunk_text"], r["chunk_n_tokens"])
           for r in out.collect()}
    # stride 3, 10 tokens → starts at 0,3,6 (0-based); last start ≤ n-overlap-1
    assert got[(1, 0)] == ("t0 t1 t2 t3", 4)
    assert got[(1, 1)] == ("t3 t4 t5 t6", 4)
    assert got[(1, 2)] == ("t6 t7 t8 t9", 4)
    assert (1, 3) not in got
    # empty doc still yields one (empty) chunk — no silent row loss
    assert got[(2, 0)] == ("", 0)
    # short doc → single short chunk
    assert got[(3, 0)] == ("one two", 2)

    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, chunk_tokens=4, overlap=4)
    with pytest.raises(ValueError, match="chunk_tokens"):
        chunk_documents(df, chunk_tokens=0)


def test_top_ngrams_counts_and_ties(spark):
    df = spark.createDataFrame(
        [(1, "a b c a b c"),   # doc-distinct bigrams: "a b","b c","c a"
         (2, "a b x y"),       # "a b","b x","x y"
         (3, "b c z")],        # "b c","c z"
        "doc_id long, text string",
    )
    rows = top_ngrams(df, n=2, k=3).collect()
    assert [(r["ngram"], r["doc_freq"]) for r in rows] == [
        ("a b", 2), ("b c", 2), ("b x", 1),  # ties break ngram-ascending
    ]


def test_pack_sequences_block_packing(spark):
    df = spark.createDataFrame(
        [(0, "w " * 30, "s1"), (1, "w " * 40, "s1"), (2, "w " * 50, "s1"),
         (3, "w " * 10, "s2")],
        "doc_id long, text string, source string",
    )
    out = pack_sequences(df, max_tokens=64, shard_col="source")
    got = {r["doc_id"]: (r["n_tokens"], r["seq_offset"], r["seq_id"])
           for r in out.collect()}
    assert got[0] == (30, 0, 0)
    assert got[1] == (40, 30, 0)    # starts inside block 0
    assert got[2] == (50, 70, 1)    # 70 // 64 = 1
    assert got[3] == (10, 0, 0)     # own shard restarts the stream
    with pytest.raises(ValueError, match="max_tokens"):
        pack_sequences(df, max_tokens=0)


def test_mixture_sample_hits_target_shares(spark):
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    weights = {"en": 4, "de": 2, "es": 2, "fr": 1, "zh": 1}
    out = mixture_sample(docs, weights, group_col="lang", seed="t")
    got = {r["lang"]: r["n"] for r in
           out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    total = sum(got.values())
    for lang, w in weights.items():
        # binomial noise around the target share; 500-doc corpus → loose band
        assert abs(got[lang] / total - w / 10) < 0.08, (lang, got)
    # deterministic: a second run is the identical set
    again = mixture_sample(docs, weights, group_col="lang", seed="t")
    assert sorted(r["doc_id"] for r in again.collect()) == \
        sorted(r["doc_id"] for r in out.collect())
    # a total budget below feasibility thins every group proportionally
    small = mixture_sample(docs, weights, group_col="lang", seed="t", total=100)
    assert small.count() < out.count()
    # the sample is a subset of the corpus rows for weighted groups only
    assert out.select("lang").distinct().count() == 5


def test_sample_k_per_group_exact_sizes(spark):
    from bid_evaluation_ext.operators.pipeline import sample_k_per_group

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    caps = {r["lang"]: r["n"] for r in
            docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    out = sample_k_per_group(docs, 20, "lang", seed="t")
    got = {r["lang"]: r["n"] for r in
           out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert got == {g: min(20, n) for g, n in caps.items()}
    # deterministic, and a different seed is a different draw
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(r["doc_id"]
               for r in sample_k_per_group(docs, 20, "lang", seed="t").collect())
    c = sorted(r["doc_id"]
               for r in sample_k_per_group(docs, 20, "lang", seed="u").collect())
    assert a == b and a != c


def test_token_budget_mixture_targets_token_mass(spark):
    from bid_evaluation_ext.operators.pipeline import (
        token_budget_mixture_sample)
    from bid_evaluation_ext.operators.text import token_count

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    weights = {"en": 4, "de": 2, "es": 2, "fr": 1, "zh": 1}
    out = token_budget_mixture_sample(docs, weights, seed="t")
    toks = {r["lang"]: r["t"] for r in
            out.groupBy("lang")
               .agg(F.sum(token_count(F.col("text"))).alias("t")).collect()}
    total = sum(toks.values())
    for lang, w in weights.items():
        assert abs(toks[lang] / total - w / 10) < 0.08, (lang, toks)
    # a token cap thins proportionally; determinism across runs
    small = token_budget_mixture_sample(docs, weights, seed="t",
                                        total_tokens=5_000)
    assert small.count() < out.count()
    again = token_budget_mixture_sample(docs, weights, seed="t")
    assert sorted(r["doc_id"] for r in again.collect()) == \
        sorted(r["doc_id"] for r in out.collect())


def test_weighted_sample_k_proportional_and_deterministic(spark):
    from bid_evaluation_ext.operators.pipeline import weighted_sample_k

    # 20 heavy (w=10) + 80 light (w=1) rows; k=20 draws across seeds
    rows = [(i, 10.0 if i < 20 else 1.0) for i in range(100)]
    df = spark.createDataFrame(rows, "id long, w double")
    heavy_hits = light_hits = 0
    for s in range(12):
        got = {r["id"] for r in
               weighted_sample_k(df, 20, "w", key_col="id",
                                 seed=f"s{s}").collect()}
        assert len(got) == 20
        heavy_hits += sum(1 for i in got if i < 20)
        light_hits += sum(1 for i in got if i >= 20)
    # heavy rows are 20% of rows but 10x weight — they must dominate
    assert heavy_hits > light_hits
    # deterministic: same seed, same sample
    a = {r["id"] for r in
         weighted_sample_k(df, 20, "w", key_col="id", seed="s0").collect()}
    b = {r["id"] for r in
         weighted_sample_k(df, 20, "w", key_col="id", seed="s0").collect()}
    assert a == b


def test_weighted_sample_k_contracts(spark):
    from bid_evaluation_ext.operators.pipeline import weighted_sample_k

    df = spark.createDataFrame(
        [(1, 1.0), (2, None), (3, 0.0), (4, -1.0), (5, 2.0)],
        "id long, w double")
    got = {r["id"] for r in
           weighted_sample_k(df, 10, "w", key_col="id").collect()}
    assert got == {1, 5}  # null/zero/negative weights excluded; k > n fine
    with pytest.raises(ValueError, match="non-negative"):
        weighted_sample_k(df, -1, "w", key_col="id")


def test_bigram_lm_flags_word_salad(spark):
    from bid_evaluation_ext.operators.pipeline import (
        bigram_lm_quality_score, lm_quality_score)

    prose = "the cat sat on the mat and the dog sat on the rug"
    rows = [(i, prose) for i in range(8)]
    # same token multiset as prose — transitions are scrambled
    salad = "mat the on sat cat rug the dog and on the sat the"
    rows.append((100, salad))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    uni = {r["doc_id"]: r["lm_nll"] for r in lm_quality_score(df).collect()}
    bi = {r["doc_id"]: r["lm2_nll"]
          for r in bigram_lm_quality_score(df).collect()}
    # unigram can't separate the scramble (same tokens): scores are close
    assert abs(uni[100] - uni[0]) < 0.2
    # bigram separates it decisively
    assert bi[100] > bi[0] + 0.5
    # short docs: <2 tokens → null nll, n_bigrams accurate
    tiny = spark.createDataFrame([(1, "one"), (2, "")],
                                 "doc_id long, text string")
    out = {r["doc_id"]: (r["n_bigrams"], r["lm2_nll"])
           for r in bigram_lm_quality_score(
               tiny, train_df=df).collect()}
    assert out[1] == (0, None) and out[2] == (0, None)


def test_mixture_sample_contract_errors(spark):
    docs = spark.createDataFrame([(1, "x", "en")],
                                 "doc_id long, text string, lang string")
    with pytest.raises(ValueError, match="non-empty"):
        mixture_sample(docs, {}, group_col="lang")
    with pytest.raises(ValueError, match="non-negative"):
        mixture_sample(docs, {"en": -1.0}, group_col="lang")
    with pytest.raises(ValueError, match="no rows"):
        mixture_sample(docs, {"en": 1, "xx": 1}, group_col="lang")


def test_shuffle_rows_is_seeded_permutation(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    n = docs.count()
    out = shuffle_rows(docs, key_col="doc_id", seed="s1").collect()
    # exact 0..n-1 positions, no gaps or duplicates, all columns preserved
    assert sorted(r["shuffle_pos"] for r in out) == list(range(n))
    assert set(docs.columns) < set(out[0].asDict())
    # matches the direct md5-order permutation computed locally
    import hashlib
    expect = sorted(
        (hashlib.md5((str(r["doc_id"]) + "s1").encode()).hexdigest(),
         str(r["doc_id"])) for r in out)
    by_pos = {r["shuffle_pos"]: str(r["doc_id"]) for r in out}
    assert [by_pos[i] for i in range(n)] == [k for _, k in expect]
    # a different seed is a different permutation of the same rows
    other = shuffle_rows(docs, key_col="doc_id", seed="s2").collect()
    assert {r["doc_id"] for r in other} == {r["doc_id"] for r in out}
    assert [r["shuffle_pos"] for r in sorted(other, key=lambda r: r["doc_id"])] != \
        [r["shuffle_pos"] for r in sorted(out, key=lambda r: r["doc_id"])]


def test_lm_quality_score_matches_hand_model(spark):
    from bid_evaluation_ext.operators.pipeline import lm_quality_score
    import math

    df = spark.createDataFrame(
        [(0, "a a b"), (1, "b c"), (2, ""), (3, None), (4, "A zzz")],
        "doc_id long, text string")
    # lowercased corpus tokens: a,a,b,b,c,a,zzz → counts a:3 b:2 c:1 zzz:1
    counts = {"a": 3, "b": 2, "c": 1, "zzz": 1}
    n, v, k = 7, 4, 0.5

    def nll(tok):
        return -math.log((counts.get(tok, 0) + k) / (n + k * v))

    got = {r["doc_id"]: r for r in lm_quality_score(df, add_k=k).collect()}
    assert got[0]["n_tokens"] == 3
    assert got[0]["lm_nll"] == pytest.approx((2 * nll("a") + nll("b")) / 3)
    assert got[1]["lm_nll"] == pytest.approx((nll("b") + nll("c")) / 2)
    # empty and null docs: present with 0 tokens, null score
    assert got[2]["n_tokens"] == 0 and got[2]["lm_nll"] is None
    assert got[3]["n_tokens"] == 0 and got[3]["lm_nll"] is None
    # rarer tokens → higher (worse) score; ppl = exp(nll)
    assert got[4]["lm_nll"] > got[0]["lm_nll"]
    assert got[4]["lm_ppl"] == pytest.approx(math.exp(got[4]["lm_nll"]))

    # scoring against a SEPARATE training corpus: unseen → smoothing floor
    train = spark.createDataFrame([(9, "a b")], "doc_id long, text string")
    g2 = {r["doc_id"]: r for r in
          lm_quality_score(df, train_df=train, add_k=k).collect()}
    floor = -math.log(k / (2 + k * 2))
    assert g2[4]["lm_nll"] == pytest.approx(
        (-math.log(1.5 / 3.0) + floor) / 2)
    with pytest.raises(ValueError, match="add_k"):
        lm_quality_score(df, add_k=0)


def test_novelty_score(spark):
    """Novelty vs a reference corpus: fresh text -> 1.0, exact re-send ->
    0.0, partial overlap in between, short docs -> null."""
    from bid_evaluation_ext.operators.pipeline import novelty_score

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "columnar storage formats with vectorized execution")],
        "doc_id long, text string")
    docs = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog"),   # re-send
         (11, "alpine weather patterns and seasonal snowfall data"),  # fresh
         (12, "the quick brown fox discusses alpine snowfall today"),  # mixed
         (13, "too short")],                                     # no shingles
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in novelty_score(docs, corpus, k=3).collect()}
    assert got[10]["novelty"] == 0.0
    assert got[11]["novelty"] == 1.0
    assert 0.0 < got[12]["novelty"] < 1.0
    # mixed doc: shingles 'the quick brown' + 'quick brown fox' are seen
    assert got[12]["n_unseen"] == got[12]["n_shingles"] - 2
    assert got[13]["novelty"] is None and got[13]["n_shingles"] == 0


def test_leakage_safe_split_invariant(spark):
    """Every member of a near-dup component gets the SAME split label, and
    a singleton keys by its own id (identical to plain train_test_split)."""
    from pyspark.sql import functions as F

    from bid_evaluation_ext.operators.pipeline import (
        leakage_safe_split, train_test_split)

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(200)], "doc_id long, text string")
    # components: {0,1,2}, {10,11}, rest singletons
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11)], "a_id long, b_id long")
    res = leakage_safe_split(docs, pairs, seed="s").collect()
    by_id = {r["doc_id"]: r for r in res}
    assert len(res) == 200
    assert {by_id[i]["split"] for i in (0, 1, 2)} == {by_id[0]["split"]}
    assert {by_id[i]["split_key"] for i in (0, 1, 2)} == {0}
    assert by_id[10]["split"] == by_id[11]["split"]
    assert by_id[10]["split_key"] == by_id[11]["split_key"] == 10
    # singletons match the per-row split exactly (same md5 key)
    plain = {r["doc_id"]: r["split"] for r in
             train_test_split(docs, seed="s").collect()}
    for i in range(20, 200):
        assert by_id[i]["split"] == plain[i]
        assert by_id[i]["split_key"] == i


def test_cohens_kappa_known_values(spark):
    from bid_evaluation_ext.operators.analytics import cohens_kappa

    # perfect agreement -> kappa 1
    perfect = spark.createDataFrame(
        [("x", "x")] * 5 + [("y", "y")] * 5, "a string, b string")
    row = cohens_kappa(perfect, "a", "b").collect()[0]
    assert row["kappa"] == pytest.approx(1.0) and row["p_o"] == 1.0
    # hand-computed 2x2 case: po=0.6, pe=0.5 -> kappa=0.2
    mixed = spark.createDataFrame(
        [("x", "x")] * 3 + [("x", "y")] * 2 + [("y", "y")] * 3
        + [("y", "x")] * 2, "a string, b string")
    row = cohens_kappa(mixed, "a", "b").collect()[0]
    assert row["p_o"] == pytest.approx(0.6)
    assert row["p_e"] == pytest.approx(0.5)
    assert row["kappa"] == pytest.approx(0.2)
    assert row["n"] == 10
    # both raters constant -> pe = 1 -> undefined
    const = spark.createDataFrame([("x", "x")] * 4, "a string, b string")
    assert cohens_kappa(const, "a", "b").collect()[0]["kappa"] is None
    # nulls excluded
    nulls = spark.createDataFrame(
        [("x", "x"), ("x", None), (None, "x")], "a string, b string")
    assert cohens_kappa(nulls, "a", "b").collect()[0]["n"] == 1


class TestNeymanAllocation:
    def test_allocation_tracks_n_times_sigma(self, spark):
        import numpy as np

        from bid_evaluation_ext.operators.pipeline import neyman_allocation

        rng = np.random.RandomState(3)
        rows = ([("calm", float(v)) for v in rng.normal(100, 1, 300)]
                + [("wild", float(v)) for v in rng.normal(100, 50, 300)]
                + [("tiny", float(v)) for v in rng.normal(100, 50, 10)])
        df = spark.createDataFrame(rows, "grp string, v double")
        out = {r["grp"]: r for r in
               neyman_allocation(df, "grp", "v", budget=200).collect()}
        # equal-size strata: the volatile one gets ~50x the budget
        assert out["wild"]["alloc"] > out["calm"]["alloc"] * 10
        # caps bind: tiny stratum never exceeds its 10 rows
        assert out["tiny"]["alloc"] <= 10
        assert sum(r["alloc"] for r in out.values()) <= 200

    def test_exact_budget_without_caps(self, spark):
        import numpy as np

        from bid_evaluation_ext.operators.pipeline import neyman_allocation

        rng = np.random.RandomState(7)
        rows = [(f"g{i % 7}", float(v)) for i, v in
                enumerate(rng.normal(0, 1, 700) * (1 + rng.rand(700)))]
        df = spark.createDataFrame(rows, "grp string, v double")
        out = neyman_allocation(df, "grp", "v", budget=50).collect()
        assert sum(r["alloc"] for r in out) == 50   # largest-remainder lands

    def test_zero_variance_falls_back_proportional(self, spark):
        from bid_evaluation_ext.operators.pipeline import neyman_allocation

        rows = [("a", 1.0)] * 30 + [("b", 2.0)] * 10
        df = spark.createDataFrame(rows, "grp string, v double")
        out = {r["grp"]: r["alloc"] for r in
               neyman_allocation(df, "grp", "v", budget=8).collect()}
        assert out["a"] == 6 and out["b"] == 2
        with pytest.raises(ValueError):
            neyman_allocation(df, "grp", "v", budget=-1)


class TestNeymanCappedSlots:
    def test_capped_stratum_does_not_steal_remainder_slot(self, spark):
        """Regression (r6 fix): a CAPPED stratum holding the top
        fractional rank must not consume a +1 slot it cannot take.
        Engineered raws ~ (cap 2.9 | aa 3.6 | bb 3.5) at budget 10:
        bases (2,3,3), leftover 2 — the old frac-desc rank gave cap
        rank 1 (no +1, capped) and starved bb → total 9. Eligible-first
        ranking lands both +1s → exact budget."""
        import math

        from bid_evaluation_ext.operators.pipeline import (
            neyman_allocation)

        def mk(name, n, v):
            return ([(name, 0.0)] * (n // 2)
                    + [(name, float(v))] * (n - n // 2))

        rows = (mk("cap", 2, 2.9 / math.sqrt(2))
                + mk("aa", 100, 2 * 0.036 / math.sqrt(100 / 99))
                + mk("bb", 100, 2 * 0.035 / math.sqrt(100 / 99)))
        df = spark.createDataFrame(rows, "grp string, v double")
        out = {r["grp"]: r["alloc"] for r in
               neyman_allocation(df, "grp", "v", budget=10).collect()}
        assert out == {"cap": 2, "aa": 4, "bb": 4}
        assert sum(out.values()) == 10


class TestExactQuantile2Pass:
    def _q(self, spark, vals, q, **kw):
        from bid_evaluation_ext.operators.pipeline import (
            exact_quantile_2pass)

        df = spark.createDataFrame([(float(v),) for v in vals], "x double")
        return exact_quantile_2pass(df, "x", q, **kw)

    def test_matches_sorted_order_statistic(self, spark):
        vals = [((k * 37) % 101) / 3.0 for k in range(200)]
        for q in (0.0, 0.25, 0.5, 0.9, 1.0):
            n, k, v = self._q(spark, vals, q, n_buckets=16)
            assert n == 200 and k == int(q * 199)
            assert v == sorted(vals)[k]

    def test_constant_nulls_empty(self, spark):
        n, k, v = self._q(spark, [7.0] * 5, 0.5)
        assert (n, v) == (5, 7.0)
        from bid_evaluation_ext.operators.pipeline import (
            exact_quantile_2pass)
        df = spark.createDataFrame([(None,), (3.0,)], "x double")
        assert exact_quantile_2pass(df, "x", 0.5) == (1, 0, 3.0)
        empty = spark.createDataFrame([], "x double")
        assert exact_quantile_2pass(empty, "x", 0.5) == (0, 0, None)

    def test_skewed_single_bucket_still_exact(self, spark):
        # all mass in one bucket plus one outlier stretching the range
        vals = [1.0 + i * 1e-6 for i in range(50)] + [1e9]
        n, k, v = self._q(spark, vals, 0.5, n_buckets=8)
        assert v == sorted(vals)[k]

    def test_validation(self, spark):
        import pytest as _pt
        with _pt.raises(ValueError):
            self._q(spark, [1.0], 1.5)
        with _pt.raises(ValueError):
            self._q(spark, [1.0], 0.5, n_buckets=0)


def test_contamination_report_shares(spark):
    from bid_evaluation_ext.operators.pipeline import contamination_report

    train = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "one two three four")],
        "doc_id long, text string")
    evals = spark.createDataFrame(
        [(10, "alpha beta gamma delta"),        # fully contained
         (11, "alpha beta gamma zeta"),          # 1 of 2 shingles hit
         (12, "nothing shared here at all"),     # 0 hits
         (13, "xy")],                            # too short: 0 shingles
        "doc_id long, text string")
    out = {r["eval_id"]: r for r in
           contamination_report(train, evals, k=3,
                                threshold=0.5).collect()}
    assert out[10]["share"] == 1.0 and out[10]["leaked"] is True
    assert out[11]["n_shingles"] == 2 and out[11]["n_hit"] == 1
    assert out[11]["share"] == 0.5 and out[11]["leaked"] is True
    assert out[12]["n_hit"] == 0 and out[12]["leaked"] is False
    assert out[13]["n_shingles"] == 0 and out[13]["share"] == 0.0
    import pytest as _p
    with _p.raises(ValueError):
        contamination_report(train, evals, threshold=0.0)


def test_mix_manifest_rates_and_validation(spark):
    from bid_evaluation_ext.operators.pipeline import mix_manifest

    df = spark.createDataFrame(
        [("a", "w1 w2 w3 w4"), ("a", "w1 w2 w3 w4 w5 w6"),
         ("b", "x1 x2")],
        "src string, text string")
    out = {r["source"]: r for r in
           mix_manifest(df, "src", "text", {"a": 0.75, "b": 0.25},
                        target_total_tokens=100).collect()}
    a = out["a"]
    assert a["n_docs"] == 2 and a["n_tokens"] == 10
    assert a["need_tokens"] == 75
    assert a["sampling_rate"] == 7.5 and a["epochs"] == 8
    b = out["b"]
    assert b["need_tokens"] == 25 and b["sampling_rate"] == 12.5
    import pytest as _p
    with _p.raises(ValueError):                      # absent source
        mix_manifest(df, "src", "text", {"a": 0.5, "zz": 0.5}, 100)
    with _p.raises(ValueError):                      # bad weights
        mix_manifest(df, "src", "text", {"a": 0.5, "b": 0.6}, 100)
    # unweighted corpus source listed with weight 0
    out2 = {r["source"]: r for r in
            mix_manifest(df, "src", "text", {"a": 1.0}, 100).collect()}
    assert out2["b"]["weight"] == 0.0 and out2["b"]["need_tokens"] == 0


def test_dup_ngram_rate(spark):
    from bid_evaluation_ext.operators.pipeline import dup_ngram_rate

    rows = [("s1", "a b c a b c"),      # 2-grams: ab bc ca ab bc -> 5 occ, 3 distinct
            ("s1", "a b"),              # +1 occ of ab
            ("s2", "x")]                # too short: none
    df = spark.createDataFrame(rows, "src string, text string")
    out = {r["group"]: r for r in
           dup_ngram_rate(df, "src", "text", n=2).collect()}
    s1 = out["s1"]
    assert s1["total_ngrams"] == 6 and s1["distinct_ngrams"] == 3
    import pytest as _p
    assert s1["dup_rate"] == _p.approx(0.5, abs=1e-9)
    s2 = out["s2"]
    assert s2["total_ngrams"] == 0 and s2["dup_rate"] is None
    with _p.raises(ValueError):
        dup_ngram_rate(df, "src", "text", n=0)


def test_dedup_savings_report(spark):
    from bid_evaluation_ext.operators.dedup import dedup_savings_report

    rows = [("s1", 1, "same text", 9), ("s1", 2, "same  TEXT ", 11),
            ("s2", 3, "same text", 9),   # cross-group dup charged to s2
            ("s2", 4, "unique", 6)]
    df = spark.createDataFrame(rows,
                               "src string, doc_id long, text string, "
                               "n_chars long")
    out = {r["group"]: r for r in
           dedup_savings_report(df, "src").collect()}
    s1 = out["s1"]
    assert s1["n_docs"] == 2 and s1["n_dropped"] == 1
    assert s1["chars_dropped"] == 11  # doc 2 dropped (doc 1 canonical)
    s2 = out["s2"]
    assert s2["n_dropped"] == 1 and s2["chars_dropped"] == 9
    import pytest as _p
    assert s2["savings_rate"] == _p.approx(9 / 15, abs=1e-3)
