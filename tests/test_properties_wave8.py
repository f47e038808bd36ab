"""Property-based invariants for the round-8 wave.

Three groups: (1) the portable MinHash banding substrate
(`minhash_band_table` / `neardup_mark_ordered`) — copy detection,
row-order invariance, and the streaming filter's parity with its batch
twin under ARBITRARY id-ordered batch splits of copy-clustered corpora;
(2) the winnowing rewrite regression guard — the shifted-slice-fold
selector must keep picking exactly the per-window minima (checked
against a pure-Python reference, the property that pins the O(m²) →
O(w·m) rewrite as value-identical); (3) the lsh_recall_report
inverted-index truth ≡ a brute-force Python all-pairs Jaccard on small
corpora.
"""

from __future__ import annotations

import hashlib
import itertools

from hypothesis import HealthCheck, given, settings, strategies as st

SET = settings(
    max_examples=6, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

#: tiny word pool → heavy shingle overlap, exercising real near-collisions
WORDS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]

texts_strategy = st.lists(
    st.lists(st.sampled_from(WORDS), min_size=0, max_size=12)
    .map(" ".join),
    min_size=1, max_size=6)


def _copy_corpus(texts, copies):
    """ids 0..n-1 originals; each (orig, c) copy gets a higher id."""
    rows = [(i, t) for i, t in enumerate(texts)]
    nxt = len(texts)
    for orig in copies:
        rows.append((nxt, texts[orig % len(texts)]))
        nxt += 1
    return rows


# ---------------------------------------------------------------------------
# portable banding / near-dup marking
# ---------------------------------------------------------------------------

@SET
@given(texts=texts_strategy,
       copies=st.lists(st.integers(min_value=0, max_value=99),
                       min_size=0, max_size=4))
def test_neardup_flags_every_copy_and_is_order_invariant(spark, texts,
                                                         copies):
    from bid_evaluation_ext.operators.dedup import neardup_mark_ordered

    rows = _copy_corpus(texts, copies)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["is_near_dup"], r["dup_of"])
           for r in neardup_mark_ordered(df).collect()}
    assert set(got) == {i for i, _ in rows}

    by_text = {}
    for i, t in rows:
        by_text.setdefault(t, []).append(i)
    for t, ids in by_text.items():
        toks = t.split()
        if len(toks) < 3:
            continue  # no shingles → never banded, never flagged
        first = min(ids)
        for i in ids:
            if i > first:
                # a copy always shares every band with the earliest copy
                assert got[i][0] is True
                assert got[i][1] is not None and got[i][1] <= first

    # row order must not matter: reverse the frame, same flags
    rev = spark.createDataFrame(list(reversed(rows)),
                                "doc_id long, text string")
    got_rev = {r["doc_id"]: (r["is_near_dup"], r["dup_of"])
               for r in neardup_mark_ordered(rev).collect()}
    assert got == got_rev


@SET
@given(texts=texts_strategy,
       copies=st.lists(st.integers(min_value=0, max_value=99),
                       min_size=1, max_size=4),
       n_batches=st.integers(min_value=1, max_value=3))
def test_streaming_filter_matches_batch_twin_on_any_split(spark, tmp_path,
                                                          texts, copies,
                                                          n_batches):
    """Exact copies collide with their cluster minimum on every band, so
    representative filtering == pairwise marking — for ANY id-ordered
    batch partition of the corpus."""
    from bid_evaluation_ext.operators.dedup import neardup_mark_ordered
    from bid_evaluation_ext.streaming.neardup import StreamingNearDup

    rows = sorted(_copy_corpus(texts, copies))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    want = {r["doc_id"]: (r["is_near_dup"], r["dup_of"])
            for r in neardup_mark_ordered(df).collect()}

    import shutil
    state = tmp_path / f"st_{abs(hash((tuple(texts), tuple(copies))))}"
    shutil.rmtree(state, ignore_errors=True)
    nd = StreamingNearDup(spark, str(state))
    per = max(1, -(-len(rows) // n_batches))  # ceil split, id order
    for bid, lo in enumerate(range(0, len(rows), per)):
        batch = rows[lo:lo + per]
        nd.process_batch(
            spark.createDataFrame(batch, "doc_id long, text string"),
            batch_id=bid)
    got = {r["doc_id"]: (r["is_near_dup"], r["dup_of"])
           for r in nd.flags().collect()}
    assert got == want


# ---------------------------------------------------------------------------
# winnowing: the fold rewrite must still pick exact window minima
# ---------------------------------------------------------------------------

def _py_winnow(text, k=3, w=4):
    toks = text.split()
    m = len(toks) - (k - 1)
    if m < 1:
        return set()
    grams = [" ".join(toks[i:i + k]) for i in range(m)]
    hs = [int(hashlib.md5(g.encode()).hexdigest()[:15], 16) for g in grams]
    nwin = m - (w - 1)
    if nwin < 1:
        return {min(hs)}
    return {min(hs[i:i + w]) for i in range(nwin)}


@SET
@given(text=st.lists(st.sampled_from(WORDS), min_size=0, max_size=30)
       .map(" ".join),
       k=st.integers(min_value=1, max_value=4),
       w=st.integers(min_value=1, max_value=5))
def test_winnow_fold_equals_python_reference(spark, text, k, w):
    from pyspark.sql import functions as F

    from bid_evaluation_ext.operators.text import winnow_fingerprints

    df = spark.createDataFrame([(text,)], "text string")
    (got,) = df.select(
        winnow_fingerprints(F.col("text"), k, w).alias("fp")).collect()
    assert set(got["fp"]) == _py_winnow(text, k, w)


# ---------------------------------------------------------------------------
# lsh_recall_report: inverted-index truth ≡ brute-force Jaccard
# ---------------------------------------------------------------------------

@SET
@given(texts=st.lists(
    st.lists(st.sampled_from(WORDS), min_size=3, max_size=10).map(" ".join),
    min_size=2, max_size=6),
    threshold=st.sampled_from([0.2, 0.5, 0.8]))
def test_recall_report_truth_equals_bruteforce(spark, texts, threshold):
    from bid_evaluation_ext.operators.dedup import lsh_recall_report

    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def sh(t):
        toks = t.split()
        return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}

    truth = set()
    for (a, ta), (b, tb) in itertools.combinations(rows, 2):
        sa, sb = sh(ta), sh(tb)
        if sa and sb and len(sa & sb) / len(sa | sb) >= threshold:
            truth.add((min(a, b), max(a, b)))

    # candidates: brute truth ∪ one decoy pair → known hit/miss counts
    cand = sorted(truth)
    decoy = None
    for (a, ta), (b, tb) in itertools.combinations(rows, 2):
        if (a, b) not in truth:
            decoy = (a, b)
            break
    if decoy:
        cand.append(decoy)
    if not cand:
        cand = [(0, 1)]
    cdf = spark.createDataFrame(cand, "a_id long, b_id long")
    (rep,) = lsh_recall_report(cdf, df, threshold=threshold).collect()
    assert rep["n_true"] == len(truth)
    assert rep["n_hit"] == len(truth & set(cand))
    assert rep["n_candidates"] == len(set(cand))
