"""Count-based n-gram language model: train + per-document perplexity.

The classic corpus-quality filter (CCNet / KenLM style): train a smoothed
bigram LM on a trusted corpus, score every candidate document by
perplexity, and keep the low-perplexity (in-distribution) tail. This is
the probabilistic sibling of the heuristic `quality.py` gates — beyond
the reference, part of the LLM-pipeline suite.

Spark-first shape (no Python in any per-row path):

- **Training is aggregation.** ``train_bigram_lm`` tokenizes with the
  shared `text.tokens` expression, explodes, and counts — one partially
  aggregated ``groupBy`` per model order. The model IS a pair of
  DataFrames (``unigrams(w1, c1)``, ``bigrams(w1, w2, c2)``), so a
  100 TB corpus trains into a distributed model without the vocabulary
  ever visiting the driver (contrast: a dict-broadcast design caps the
  model at driver memory).
- **Scoring is two equi-joins.** Each document's bigram stream joins the
  count tables on their token keys, the smoothed conditional
  ``ln((c2+k)/(c1+k·V))`` is a codegen projection, and one
  ``groupBy(doc)`` averages it. Unseen histories degrade smoothly to
  ``ln(1/V)``. The only driver scalar is the vocabulary size ``V``
  (one aggregate). Catalyst/AQE picks broadcast vs shuffled hash joins
  by the model's actual size — small trusted corpora broadcast.

Determinism: counts are exact integers; the only floats are the final
log/avg, rounded by the caller for cross-engine comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .cache import track_cached as _track_cached
from .text import tokens


def train_bigram_lm(corpus: DataFrame, text_col: str = "text"
                    ) -> tuple[DataFrame, DataFrame]:
    """Train bigram counts from a corpus: returns ``(unigrams, bigrams)``
    where ``unigrams = (w1, c1)`` counts every token occurrence and
    ``bigrams = (w1, w2, c2)`` counts adjacent pairs. Pure aggregation —
    tokenize (map) → explode (map) → groupBy (partial agg + one shuffle
    on the token key per table). Null/empty documents contribute nothing.
    """
    t = tokens(F.col(text_col))
    toks = corpus.select(F.explode(t).alias("w1"))
    unigrams = toks.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))

    m = F.size(t) - F.lit(1)
    pairs = corpus.select(
        F.explode(F.when(m >= 1, F.arrays_zip(
            F.slice(t, 1, m).alias("w1"), F.slice(t, 2, m).alias("w2"))
        ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        ).alias("p"))
    bigrams = (pairs.select(F.col("p.w1").alias("w1"),
                            F.col("p.w2").alias("w2"))
               .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2")))
    return unigrams, bigrams


def perplexity(docs: DataFrame, unigrams: DataFrame, bigrams: DataFrame,
               text_col: str = "text", id_col: str = "doc_id",
               add_k: float = 0.5) -> DataFrame:
    """Per-document add-k-smoothed bigram perplexity under a trained LM.

    Returns ``(id_col, n_bigrams, avg_logprob, ppl)`` — one row per input
    document. ``avg_logprob`` is the mean of
    ``ln((c2 + k) / (c1 + k·V))`` over the document's adjacent token
    pairs (V = training vocabulary size; unseen pair → ``c2 = 0``,
    unseen history → ``c1 = 0`` i.e. the uniform ``ln(1/V)``), and
    ``ppl = exp(-avg_logprob)``. Documents with fewer than two tokens
    keep their row with null ``avg_logprob``/``ppl`` (a length gate is a
    different filter's job; silently dropping rows would make the quality
    join lossy).

    Scale: one explode (map), two hashed equi-joins against the count
    tables (AQE broadcasts small models), one ``groupBy(id)``. ``V`` is
    the single driver-side aggregate scalar. ``unigrams`` is persisted
    here (r12 opt): the vocab-size count below otherwise executes the
    ENTIRE training subtree once at query-construction time and the
    scoring join executes it AGAIN inside the action — model-sized
    cache, released via ``operators.cache``.
    """
    unigrams = unigrams.persist()
    vocab_size = unigrams.count()
    k = float(add_k)

    t = tokens(F.col(text_col))
    m = F.size(t) - F.lit(1)
    pairs = docs.select(
        F.col(id_col),
        F.explode(F.when(m >= 1, F.arrays_zip(
            F.slice(t, 1, m).alias("w1"), F.slice(t, 2, m).alias("w2"))
        ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        ).alias("p")
    ).select(id_col, F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))

    scored = (pairs
              .join(bigrams, ["w1", "w2"], "left")
              .join(unigrams, ["w1"], "left")
              .select(
                  id_col,
                  F.log((F.coalesce(F.col("c2"), F.lit(0)) + F.lit(k))
                        / (F.coalesce(F.col("c1"), F.lit(0))
                           + F.lit(k * vocab_size))).alias("lp")))
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.avg("lp").alias("avg_logprob"))

    # keep sub-2-token documents (they produced no pairs) with null scores
    out = (docs.select(id_col)
           .join(per_doc, [id_col], "left")
           .select(
               id_col,
               F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
               F.col("avg_logprob"),
               F.exp(-F.col("avg_logprob")).alias("ppl")))
    return _track_cached(out, [unigrams])
