"""Lexical retrieval over document tables: TF-IDF / Okapi BM25 scoring and
top-k keyword search — all native Column expressions.

Beyond-reference operators (BASELINE.json north star: the retrieval pass a
training-data pipeline runs for corpus exploration, hard-negative mining,
and query-based filtering). Okapi BM25 per Robertson & Zaragoza 2009.

Scale shape: TWO corpus passes, both embarrassingly parallel —

1. a statistics pass (one fused aggregate → 2 + |terms| scalars collected
   to the driver: doc count, total tokens, per-term document frequency);
2. a scoring pass where every per-document term frequency and the final
   BM25 sum are pure Column expressions over the token array (map-only, no
   shuffle, no Python).

The query-term list is small by contract (a user query, not a table), so
driver-side literals — not a join — are the right carrier at any corpus
size. Top-k uses ``orderBy(...).limit(k)`` (Spark TakeOrdered: per-partition
heaps merged on the driver — never a global sort exchange).
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

from .text import tokens


def _tf(t: Column, term: str) -> Column:
    """Term frequency via ``size(t) - size(array_remove(t, term))`` — both
    JVM-native array ops inside whole-stage codegen (no interpreted
    higher-order lambda)."""
    return (F.size(t) - F.size(F.array_remove(t, term))).cast("double")


def corpus_term_stats(df: DataFrame, terms: Sequence[str],
                      text_col: str = "text") -> dict:
    """One fused aggregate: corpus doc count ``n_docs``, mean document
    length ``avgdl`` (whitespace tokens), and per-term document frequency
    ``df[term]``. Returns plain Python scalars (2 + |terms| values — the
    only driver-side data in the BM25 plan)."""
    t = tokens(F.col(text_col))
    aggs = [F.count(F.lit(1)).alias("_n"), F.sum(F.size(t)).alias("_toks")]
    for i, term in enumerate(terms):
        aggs.append(F.sum(F.array_contains(t, term).cast("long"))
                     .alias(f"_df{i}"))
    row = df.agg(*aggs).collect()[0]
    n = row["_n"]
    return {
        "n_docs": n,
        "avgdl": (row["_toks"] / n) if n else 0.0,
        # sum() over zero rows is null — an empty corpus has df 0 everywhere
        "df": {term: row[f"_df{i}"] or 0 for i, term in enumerate(terms)},
    }


def bm25_scores(df: DataFrame, terms: Sequence[str], k1: float = 1.2,
                b: float = 0.75, text_col: str = "text",
                stats: dict | None = None) -> DataFrame:
    """Append an Okapi BM25 ``bm25`` column for the given query terms:

    ``Σ_t ln(1 + (N - df_t + 0.5)/(df_t + 0.5))
         · tf_t (k1+1) / (tf_t + k1 (1 - b + b·dl/avgdl))``

    ``stats`` (from :func:`corpus_term_stats`) can be passed to reuse a
    computed statistics pass; otherwise it is computed here.
    """
    if stats is None:
        stats = corpus_term_stats(df, terms, text_col=text_col)
    n, avgdl = stats["n_docs"], stats["avgdl"]
    t = tokens(F.col(text_col))
    dl = F.size(t).cast("double")
    norm = F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl / F.lit(float(avgdl)))
    score = F.lit(0.0)
    for term in terms:
        df_t = stats["df"][term]
        # idf from integer stats so any engine recomputes it identically
        idf = F.log(F.lit(1.0) + (F.lit(float(n - df_t)) + F.lit(0.5))
                    / (F.lit(float(df_t)) + F.lit(0.5)))
        tf = _tf(t, term)
        score = score + idf * tf * F.lit(k1 + 1.0) / (tf + norm)
    return df.select("*", score.alias("bm25"))


def bm25_topk(df: DataFrame, terms: Sequence[str], k: int = 10,
              k1: float = 1.2, b: float = 0.75, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """Top-``k`` documents by BM25 for the query terms, deterministic:
    ordered by score rounded to 4 decimals (descending — sub-rounding float
    noise cannot reorder results across engines) then ``id`` ascending.
    Returns ``(id, bm25)``."""
    scored = bm25_scores(df, terms, k1=k1, b=b, text_col=text_col)
    r4 = F.round(F.col("bm25") * 10000) / 10000
    return (scored.select(F.col(id_col), r4.alias("bm25"))
                  .orderBy(F.desc("bm25"), F.asc(id_col))
                  .limit(k))


def tfidf_scores(df: DataFrame, terms: Sequence[str],
                 text_col: str = "text",
                 stats: dict | None = None) -> DataFrame:
    """Classic log-normalized TF-IDF sum for the query terms:
    ``Σ_t ln(1 + tf_t) · ln(N / (1 + df_t))`` — same two-pass shape as
    :func:`bm25_scores`."""
    if stats is None:
        stats = corpus_term_stats(df, terms, text_col=text_col)
    n = stats["n_docs"]
    t = tokens(F.col(text_col))
    score = F.lit(0.0)
    for term in terms:
        df_t = stats["df"][term]
        idf = F.log(F.lit(float(n)) / (F.lit(1.0) + F.lit(float(df_t))))
        score = score + F.log(F.lit(1.0) + _tf(t, term)) * idf
    return df.select("*", score.alias("tfidf"))


def rrf_fuse(rankings: Sequence[DataFrame], k: int = 60,
             id_col: str = "doc_id", rank_col: str = "rank",
             top_n: int | None = None) -> DataFrame:
    """Reciprocal Rank Fusion of N candidate rankings (Cormack et al.,
    SIGIR 2009): ``score(d) = Σ_lists 1/(k + rank_d)`` — the standard
    hybrid-retrieval combiner (lexical BM25 + vector ANN), score-scale
    free by construction. Each input needs ``(id_col, rank_col)`` with
    rank 1-based; documents absent from a list simply contribute nothing.

    Returns ``(id_col, rrf_score, n_lists, best_rank)`` ordered by fused
    score (quantized to 1e-9 before ordering — with 3+ lists the float
    sum's association order is engine/partition-dependent) descending,
    id ascending; ``top_n`` cuts via TakeOrdered when given.

    Scale shape: union of the (already top-k-bounded) candidate lists →
    ONE partially-aggregated ``groupBy(id)`` — no join, no window. The
    fan-in is Σ|lists|, independent of corpus size.
    """
    if k <= 0:
        raise ValueError(f"rrf k must be positive, got {k}")
    if not rankings:
        raise ValueError("need at least one ranking")
    parts = [r.select(F.col(id_col),
                      F.col(rank_col).cast("long").alias("_rrf_rank"))
             for r in rankings]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    scored = (u.groupBy(id_col).agg(
        F.sum(F.lit(1.0) / (F.lit(float(k)) + F.col("_rrf_rank").cast("double"))
              ).alias("rrf_score"),
        F.count(F.lit(1)).alias("n_lists"),
        F.min("_rrf_rank").alias("best_rank")))
    q9 = F.round(F.col("rrf_score") * F.lit(1e9)) / F.lit(1e9)
    out = scored.orderBy(q9.desc(), F.col(id_col).asc())
    if top_n is not None:
        out = out.limit(int(top_n))
    return out


def inverted_postings(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text",
                      min_df: int = 1) -> DataFrame:
    """Positional inverted index as a POSTINGS TABLE → one row per
    (term, doc): ``(term, doc_id, positions, tf)`` with ``positions``
    the sorted 1-based token offsets. Terms lowercase; terms appearing
    in fewer than ``min_df`` documents are dropped (the long tail that
    bloats an index without serving queries).

    Kept as rows — NOT one array per term — so a stop-word's posting
    list is millions of ROWS spread across partitions, never one
    unsplittable array. One explode + one groupBy(term, doc) shuffle;
    the optional min_df filter is a window count over the term key
    (rides the same partitioning as a term-keyed layout write would).
    """
    if min_df < 1:
        raise ValueError(f"min_df must be >= 1, got {min_df}")
    t = tokens(F.lower(F.trim(F.col(text_col))))
    posting = (df.select(F.col(id_col).alias("doc_id"),
                         F.posexplode(t).alias("_p0", "term"))
               .groupBy("term", "doc_id")
               .agg(F.sort_array(F.collect_list(F.col("_p0") + 1))
                    .cast("array<long>").alias("positions"),
                    F.count(F.lit(1)).cast("long").alias("tf")))
    if min_df > 1:
        from pyspark.sql import Window
        dfreq = F.count(F.lit(1)).over(Window.partitionBy("term"))
        posting = (posting.withColumn("_df", dfreq)
                   .filter(F.col("_df") >= min_df).drop("_df"))
    return posting


def phrase_search(df: DataFrame, phrase: str, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Exact phrase search via positional postings → ``(doc_id,
    n_matches)`` for documents containing the (lowercased,
    whitespace-tokenized) phrase, ``n_matches`` = occurrence count.

    The classic positional-index phrase join: postings are built ONLY
    for the phrase's terms (the filter lands before the groupBy, so the
    index pass scans but never materializes the rest of the vocabulary),
    the k term postings equi-join on the document id, and a position
    intersection — ``p`` starts a match iff term ``i``'s list contains
    ``p+i`` for all ``i`` — runs as an array filter on the joined row.
    Join fan-in is k−1 joins of already-tiny per-term slices, all keyed
    on doc_id.
    """
    terms = [w for w in phrase.lower().strip().split() if w]
    if not terms:
        raise ValueError("phrase must contain at least one term")
    t = tokens(F.lower(F.trim(F.col(text_col))))
    base = (df.select(F.col(id_col).alias("doc_id"),
                      F.posexplode(t).alias("_p0", "_term"))
            .filter(F.col("_term").isin(terms))
            .groupBy("_term", "doc_id")
            .agg(F.sort_array(F.collect_list(F.col("_p0") + 1))
                 .alias("_pos")))
    joined = None
    for i, term in enumerate(terms):
        side = (base.filter(F.col("_term") == term)
                .select("doc_id", F.col("_pos").alias(f"_pos{i}")))
        joined = side if joined is None else joined.join(side, "doc_id")
    def _adjacent(pi, i):
        # single-arg lambda factory: F.filter introspects the callable's
        # arity, so captured values must not appear as default params
        return lambda p: F.array_contains(pi, p + i)

    starts = F.col("_pos0")
    for i in range(1, len(terms)):
        starts = F.filter(starts, _adjacent(F.col(f"_pos{i}"), i))
    return (joined.select("doc_id",
                          F.size(starts).cast("long").alias("n_matches"))
            .filter(F.col("n_matches") > 0))


def mmr_rerank(candidates: DataFrame, select_k: int = 3, lam: float = 0.7,
               query_col: str = "query_id", id_col: str = "doc_id",
               rel_col: str = "rel",
               vec_col: str = "embedding") -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR 1998) — greedy diversification of a retrieval candidate list:

        pick argmax_c  λ·rel(c) − (1−λ)·max_{s∈selected} cos(c, s)

    for ``select_k`` rounds → ``(query_col, rank, id_col, mmr_score)``.
    The step that turns a near-duplicate-heavy ANN/BM25 top-N into a
    DIVERSE context set for RAG prompting or eval-set construction —
    relevance alone happily returns 10 copies of the same paragraph.

    ``candidates`` is the BOUNDED per-query candidate table (top-N from
    :func:`~.similarity.cosine_topk` / :func:`bm25_topk` joined back to
    its vectors) — MMR is quadratic in candidates by definition, so the
    bound is the caller's retrieval ``k``, never corpus size.

    Execution: the greedy loop is UNROLLED INTO THE PLAN — step t is
    one equi-join of the remaining candidates against the ≤ t-row
    selected set (per query), a cosine max, and a per-query window
    argmax. No Python kernel, no collect; every step's arithmetic is
    plain Column expressions, so a chained-CTE oracle replays it
    exactly. The objective is rounded to 1e-6 BEFORE the argmax
    (NOTES.md: never rank a raw double cross-engine); ties break to the
    smaller ``id_col``. Queries with fewer than ``select_k`` candidates
    emit what they have; null-similarity pairs (zero vectors) count as
    similarity 0.
    """
    if select_k < 1:
        raise ValueError(f"select_k must be >= 1, got {select_k}")
    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    from .dedup import cosine

    r6 = lambda e: F.round(e * 1e6) / 1e6  # noqa: E731
    base = candidates.select(
        F.col(query_col).alias("_q"), F.col(id_col).alias("_id"),
        F.col(rel_col).cast("double").alias("_rel"),
        F.col(vec_col).alias("_v"))
    picks = []  # one small DataFrame per greedy round
    for t in range(1, select_k + 1):
        remaining = base
        for p in picks:
            remaining = remaining.join(
                p.select(F.col("_q"), F.col("_id")), ["_q", "_id"],
                "left_anti")
        if picks:
            sel = picks[0]
            for p in picks[1:]:
                sel = sel.unionByName(p)
            sims = (remaining.join(
                F.broadcast(sel.select(F.col("_q"),
                                       F.col("_v").alias("_sv"))), "_q")
                .withColumn("_sim", cosine(F.col("_v"), F.col("_sv")))
                .groupBy("_q", "_id")
                .agg(F.max("_rel").alias("_rel"),
                     F.max(F.coalesce(F.col("_sim"), F.lit(0.0)))
                     .alias("_ms"),
                     F.first("_v").alias("_v")))
            scored = sims.withColumn(
                "_s", r6(F.lit(float(lam)) * F.col("_rel")
                         - F.lit(1.0 - float(lam)) * F.col("_ms")))
        else:
            scored = remaining.withColumn(
                "_s", r6(F.lit(float(lam)) * F.col("_rel")))
        w = Window.partitionBy("_q").orderBy(F.desc("_s"), F.asc("_id"))
        pick = (scored.withColumn("_rk", F.row_number().over(w))
                .filter(F.col("_rk") == 1)
                .select("_q", "_id", "_v", F.col("_s").alias("_score"),
                        F.lit(t).cast("long").alias("_rank"))
                # truncate lineage per round (same rationale as the CC
                # engines): without this, round t re-embeds every earlier
                # round's full plan through the anti-joins + selected-set
                # union, and plan size grows ~exponentially in select_k
                .localCheckpoint())
        picks.append(pick)
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    return out.select(F.col("_q").alias(query_col),
                      F.col("_rank").alias("rank"),
                      F.col("_id").alias(id_col),
                      (F.round(F.col("_score") * 1e4) / 1e4 + F.lit(0.0))
                      .alias("mmr_score"))
