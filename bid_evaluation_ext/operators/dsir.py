"""DSIR-style data selection: hashed n-gram importance weights + resampling.

Data Selection via Importance Resampling (Xie et al., 2023, public
arXiv:2302.03169): estimate bag-of-hashed-n-gram distributions for a
small TARGET corpus (the quality/domain exemplar) and the RAW corpus,
weight every raw document by the log likelihood ratio
``Σ_f count_f · (ln p_target(f) − ln p_raw(f))``, and resample
proportionally (Gumbel top-k) to shift the raw corpus toward the target
distribution. The go-to domain-selection op for pretraining mixtures —
beyond the reference, part of the LLM-pipeline suite.

Spark-first shape:

- **Features are codegen expressions**: tokens → n-grams (zipped slices,
  shared `text.word_ngrams`) → portable 60-bit md5 bucket ids, all inside
  whole-stage codegen. The hash space is folded to ``buckets`` cells, so
  BOTH distributions are bounded tables of ≤ ``buckets`` rows no matter
  the corpus size.
- **Distributions are one count-agg each** (map-side partial); the
  log-ratio table joins them full-outer on bucket — ≤ ``buckets`` rows,
  which Catalyst/AQE broadcasts to the scoring side.
- **The raw corpus is tokenized+hashed exactly ONCE** (r13 opt): the
  exploded ``(id, bucket)`` proxy is persisted (tracked via
  ``operators.cache``; released by the caller after materializing) and
  feeds the raw count table, the corpus total and the scoring join.
  Corpus totals are 1-row frames cross-joined into the ratio projection
  — no eager driver collect, the whole weight table is one job.
- **Scoring is one broadcast equi-join + one per-doc sum** over the
  persisted proxy. No Python anywhere.
- **Sampling without replacement is deterministic Gumbel top-k**:
  ``log_weight + Gumbel(md5(id))``, rounded to 1e-6 before ranking so
  both engines order identical doubles (the weighted-sample lesson),
  then ``TakeOrdered(k)`` — no global sort materialization.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, functions as F

from .cache import track_cached as _track_cached
from .text import word_ngrams

#: md5-hex prefix width for portable 60-bit hashes (fits signed 64)
_HEX_DIGITS = 15


def _md5_u60(key: Column, salt: str) -> Column:
    hx = F.substring(F.md5(F.concat(key, F.lit(salt)).cast("binary")),
                     1, _HEX_DIGITS)
    return F.conv(hx, 16, 10).cast("long")


def hashed_ngram_buckets(text: Column, ns: Sequence[int] = (1, 2),
                         buckets: int = 4096,
                         seed: str = "dsir") -> Column:
    """Bag (duplicates kept) of hashed n-gram feature-bucket ids for one
    document: every order in ``ns``, each n-gram md5-hashed with ``seed``
    and folded into ``[0, buckets)``. Map-only codegen expression."""
    if buckets < 2:
        raise ValueError(f"need buckets >= 2, got {buckets}")
    parts = [word_ngrams(text, n) for n in ns]
    allg = parts[0]
    for p in parts[1:]:
        allg = F.concat(allg, p)
    return F.transform(allg, lambda g: F.pmod(_md5_u60(g, seed),
                                              F.lit(buckets)))


def bucket_counts(corpus: DataFrame, text_col: str = "text",
                  ns: Sequence[int] = (1, 2), buckets: int = 4096,
                  seed: str = "dsir") -> DataFrame:
    """Feature-bucket occurrence counts ``(bucket, cnt)`` for a corpus —
    one explode + one partially-aggregated groupBy; ≤ ``buckets`` rows."""
    b = hashed_ngram_buckets(F.col(text_col), ns, buckets, seed)
    return (corpus.select(F.explode(b).alias("bucket"))
            .groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt")))


def dsir_logweights(raw: DataFrame, target: DataFrame,
                    text_col: str = "text", id_col: str = "doc_id",
                    ns: Sequence[int] = (1, 2), buckets: int = 4096,
                    add_k: float = 0.5, seed: str = "dsir") -> DataFrame:
    """Per-raw-document importance log-weight toward the target corpus.

    Returns ``(id_col, n_features, log_weight)``; ``log_weight`` is the
    sum over the document's feature bag of
    ``ln((t_cnt+k)/(T+k·B)) − ln((r_cnt+k)/(R+k·B))`` (add-k smoothed;
    ``T``/``R`` are total feature counts, ``B`` = ``buckets``).
    Feature-free documents (empty/null text) keep their row with
    ``log_weight = 0.0`` — they carry no distributional evidence either
    way. The ratio table is ≤ B rows (broadcast); scoring is one explode
    + one equi-join + one per-doc sum.
    """
    # r13 opt (guide §2.3/§5): the r12 shape tokenized+md5-hashed the
    # raw corpus THREE times per materialization (eager totals collect,
    # r_counts inside the ratio join, the scoring explode). One
    # persisted lightweight proxy (id, bucket) now feeds the count
    # table, the corpus total AND the scoring join, and the totals are
    # 1-row frames cross-joined into the ratio projection — no eager
    # collect remains, the whole weight table is ONE job. Scoring still
    # sums log_ratio per feature OCCURRENCE, so results are
    # bit-identical to the unfused shape. (A zero-join literal-map
    # scoring variant was built and measured NEGATIVE — it needs TWO
    # raw tokenize passes, which cost more than this shape's small
    # shuffles; see OPTIMIZATION_r13.md.)
    k = float(add_k)
    feats = raw.select(
        F.col(id_col),
        F.explode(hashed_ngram_buckets(F.col(text_col), ns, buckets, seed)
                  ).alias("bucket")).persist()
    t_counts = bucket_counts(target, text_col, ns, buckets, seed).persist()
    r_counts = feats.groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt"))
    totals_t = t_counts.agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).alias("_tt"))
    totals_r = feats.agg(F.count(F.lit(1)).alias("_tr"))

    ratio = (t_counts.withColumnRenamed("cnt", "t_cnt")
             .join(r_counts.withColumnRenamed("cnt", "r_cnt"),
                   ["bucket"], "full_outer")
             .crossJoin(F.broadcast(totals_t))
             .crossJoin(F.broadcast(totals_r))
             .select(
                 "bucket",
                 (F.log((F.coalesce(F.col("t_cnt"), F.lit(0)) + F.lit(k))
                        / (F.col("_tt").cast("double")
                           + F.lit(k * buckets)))
                  - F.log((F.coalesce(F.col("r_cnt"), F.lit(0)) + F.lit(k))
                          / (F.col("_tr").cast("double")
                             + F.lit(k * buckets)))
                  ).alias("log_ratio")))

    per_doc = (feats.join(ratio, ["bucket"])
               .groupBy(id_col)
               .agg(F.count(F.lit(1)).alias("n_features"),
                    F.sum("log_ratio").alias("log_weight")))
    out = (raw.select(id_col)
           .join(per_doc, [id_col], "left")
           .select(id_col,
                   F.coalesce(F.col("n_features"), F.lit(0)
                              ).alias("n_features"),
                   F.coalesce(F.col("log_weight"), F.lit(0.0)
                              ).alias("log_weight")))
    return _track_cached(out, [feats, t_counts])


def dsir_sample(raw: DataFrame, target: DataFrame, k: int,
                text_col: str = "text", id_col: str = "doc_id",
                ns: Sequence[int] = (1, 2), buckets: int = 4096,
                add_k: float = 0.5, seed: str = "dsir") -> DataFrame:
    """Gumbel-top-k importance resampling WITHOUT replacement: keep the
    ``k`` raw documents maximizing ``log_weight + Gumbel(md5(id,seed))``.
    The Gumbel draw is deterministic (reproducible, oracle-replayable);
    the ranking score is rounded to 1e-6 first so both engines order the
    same doubles, ties broken by id. Distributed TakeOrdered — no global
    sort exchange. ``id_col`` values must be unique (duplicate ids draw
    identical noise, making the cut nondeterministic)."""
    if k < 0:
        raise ValueError(f"k must be non-negative, got {k}")
    w = dsir_logweights(raw, target, text_col, id_col, ns, buckets,
                        add_k, seed)
    u = (_md5_u60(F.col(id_col).cast("string"), seed + "|gumbel")
         .cast("double") + F.lit(0.5)) / F.lit(float(16 ** _HEX_DIGITS))
    g = -F.log(-F.log(u))
    score = F.round((F.col("log_weight") + g) * F.lit(1e6)) / F.lit(1e6)
    out = (w.withColumn("_gumbel_score", score)
           .orderBy(F.desc("_gumbel_score"), F.asc(id_col))
           .limit(int(k))
           .drop("_gumbel_score"))
    # carry the logweights persists onto the frame actually returned so
    # per-frame release() works; release_all() covers harnesses either way
    return _track_cached(out, getattr(w, "_cached_deps", []))
