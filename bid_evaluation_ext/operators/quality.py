"""Corpus-quality filters in the Gopher/C4 family: repetition statistics,
composite heuristic quality gates, and cross-corpus repeated-line removal.

Beyond-reference operators (BASELINE.json north star: the quality-filtering
passes a large-scale LLM training-data pipeline runs before training). The
heuristics follow the published recipes — Rae et al. 2021 (Gopher, §A1.1
repetition + quality signals) and Raffel et al. 2020 (C4, line-level
dedup) — re-expressed as native Spark plans:

- :func:`ngram_repetition_stats` — per-document "most common n-gram char
  fraction" and "duplicated n-gram char fraction" for a set of n. Shape
  (r12 opt): native tokenize, ONE id-hash shuffle of token arrays, one
  partition-wide Arrow counting kernel for every n — no corpus-wide
  state, scales linearly in total tokens (``engine="agg"`` keeps the
  distributed (doc, n, gram) count-shuffle form).
- :func:`gopher_quality_flags` — the non-repetition Gopher signals (word
  count bounds, mean word length band, symbol/word ratio, alpha-word
  fraction, stopword hits) as pure Column expressions: map-only, no
  shuffle, whole-stage codegen.
- :func:`drop_repeated_lines` — C4-style removal of lines/paragraphs that
  occur too often across the WHOLE corpus, with keep-first or drop-all
  policy. Shape: count shuffle on the line key + one window over the key —
  both equi-partitioned; no all-pairs work.
- :func:`dedup_lines` — text-level wrapper: split on a separator, drop
  repeated lines corpus-wide, reassemble documents in order.

Exactness: every statistic is a deterministic function of the corpus (ties
broken by (count, length, gram) descending), so each has a full DuckDB
oracle in ``__spark_entry__.py``.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

from .text import tokens, word_ngrams

#: Gopher §A1.1 "must contain ≥ 2 of" stopword list
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


# ---------------------------------------------------------------------------
# Repetition statistics (Gopher §A1.1)
# ---------------------------------------------------------------------------

def ngram_repetition_stats(df: DataFrame, ns: Sequence[int] = (1, 2, 3),
                           id_col: str = "doc_id",
                           text_col: str = "text",
                           engine: str = "kernel") -> DataFrame:
    """Per-document n-gram repetition fractions for each ``n`` in ``ns``:

    - ``top{n}_fraction`` — characters covered by the single most frequent
      n-gram (count × gram length) over total n-gram characters
      (Σ count × length). The "most frequent" gram is deterministic: max by
      (count, gram length, gram).
    - ``dup{n}_fraction`` — characters in n-grams occurring more than once
      over total n-gram characters.

    Documents shorter than ``n`` tokens get fraction 0.0 for that ``n``.
    Rows sharing an id pool their grams (one statistic per id, emitted on
    every row); null-id rows get 0.0 fractions.

    Engines (r12 opt): ``kernel`` (default) tokenizes natively (the
    oracle-parity surface), hash-partitions the ``(id, tokens)`` rows by
    id — ONE shuffle of roughly corpus-sized token arrays — and counts
    grams for every n in one partition-wide Arrow kernel (Python
    tuple-max replicates the ``max(struct(count, length, gram))``
    tie-break: code-point string order == Spark UTF-8 binary order; all
    counts are exact integers, the two divisions are the identical
    long→double casts). ``agg`` keeps the distributed explode shape:
    per-n gram explodes unioned (re-reading the scan per n), a count
    shuffle keyed (doc, n, gram) — n-gram strings, ~Σn× corpus bytes —
    a per-doc fold, and a join back for gram-less docs. The kernel
    shuffles fewer bytes and runs one pass; ``agg`` remains for corpora
    whose single-id gram table must stay spillable (a pathological
    one-id corpus concentrates on one task either way).
    """
    if engine not in ("kernel", "agg"):
        raise ValueError(f"engine must be 'kernel' or 'agg', got {engine!r}")
    ns = [int(n) for n in ns]
    out_cols = []
    for n in ns:
        out_cols += [f"top{n}_fraction", f"dup{n}_fraction"]

    if engine == "kernel":
        import numpy as np
        import pandas as pd

        toks = df.select(F.col(id_col).alias("_id"),
                         tokens(F.col(text_col)).alias("_t"))
        id_type = dict(toks.dtypes)["_id"]

        def kern(batches):
            from collections import Counter

            pdfs = list(batches)
            if not pdfs:
                return
            pdf = (pd.concat(pdfs, ignore_index=True)
                   if len(pdfs) > 1 else pdfs[0].reset_index(drop=True))
            ids = pdf["_id"]
            tarrs = pdf["_t"]
            zeros = [0.0] * (2 * len(ns))
            # rows sharing an id pool their grams — group row indices by
            # id within the partition (hash partitioning brought every
            # row of an id here); null ids keep the agg engine's
            # join-miss 0.0 contract
            stats = {}
            isna = pd.isna(ids)
            groups = pdf.groupby(ids[~isna], sort=False).groups
            for gid, grp in groups.items():
                vals = []
                for n in ns:
                    c = Counter()
                    for ridx in grp:
                        t = tarrs.iloc[ridx]
                        t = list(t) if t is not None else []
                        if n == 1:
                            c.update(t)
                        elif len(t) >= n:
                            c.update(" ".join(t[i:i + n])
                                     for i in range(len(t) - n + 1))
                    if not c:
                        vals += [0.0, 0.0]
                        continue
                    tot = top = dup = 0
                    best = None
                    for g, cnt in c.items():
                        ch = cnt * len(g)
                        tot += ch
                        if cnt > 1:
                            dup += ch
                        key = (cnt, len(g), g)
                        if best is None or key > best:
                            best = key
                            top = ch
                    if tot == 0:
                        # zero-length grams only: Spark's x/0 → null;
                        # unreachable with whitespace tokens (kept for
                        # strict engine parity)
                        vals += [None, None]
                    else:
                        vals += [float(top) / float(tot),
                                 float(dup) / float(tot)]
                stats[gid] = vals
            out = np.empty((len(pdf), 2 * len(ns)), dtype=object)
            for i in range(len(pdf)):
                out[i] = zeros if isna.iloc[i] else stats[ids.iloc[i]]
            res = pd.DataFrame(out.tolist(), columns=out_cols)
            res.insert(0, "_id", ids.to_numpy())
            yield res

        schema = f"_id {id_type}, " + ", ".join(
            f"{c} double" for c in out_cols)
        return (toks.repartition("_id")
                .mapInPandas(kern, schema)
                .select(F.col("_id").alias(id_col), *out_cols))

    grams = None
    for n in ns:
        g = df.select(
            F.col(id_col),
            F.lit(int(n)).alias("n"),
            F.explode(word_ngrams(F.col(text_col), int(n))).alias("gram"),
        )
        grams = g if grams is None else grams.unionByName(g)

    counts = grams.groupBy(id_col, "n", "gram").agg(F.count("*").alias("cnt"))
    glen = F.length("gram").cast("long")
    per = counts.groupBy(id_col, "n").agg(
        F.max(F.struct(F.col("cnt").alias("c"), glen.alias("l"),
                       F.col("gram").alias("g"))).alias("top"),
        F.sum(F.when(F.col("cnt") > 1, F.col("cnt") * glen).otherwise(F.lit(0)))
         .alias("dup_chars"),
        F.sum(F.col("cnt") * glen).alias("tot_chars"),
    )
    per = per.select(
        id_col, "n",
        (F.col("top.c") * F.col("top.l") / F.col("tot_chars")).alias("top_fraction"),
        (F.col("dup_chars") / F.col("tot_chars")).alias("dup_fraction"),
    )
    aggs = []
    for n in ns:
        aggs.append(F.max(F.when(F.col("n") == n, F.col("top_fraction")))
                     .alias(f"top{n}_fraction"))
        aggs.append(F.max(F.when(F.col("n") == n, F.col("dup_fraction")))
                     .alias(f"dup{n}_fraction"))
    folded = per.groupBy(id_col).agg(*aggs)

    # Docs shorter than min(ns) tokens produce no gram rows at all — restore
    # them with 0.0 fractions so the output covers every input document.
    out = df.select(id_col).join(folded, id_col, "left")
    fixes = [F.coalesce(F.col(c), F.lit(0.0)).alias(c)
             for c in folded.columns if c != id_col]
    return out.select(id_col, *fixes)


# ---------------------------------------------------------------------------
# Gopher heuristic quality gate (non-repetition signals)
# ---------------------------------------------------------------------------

def gopher_quality_flags(df: DataFrame, text_col: str = "text",
                         min_words: int = 50, max_words: int = 100_000,
                         min_mean_word_len: float = 3.0,
                         max_mean_word_len: float = 10.0,
                         max_symbol_word_ratio: float = 0.1,
                         min_alpha_word_fraction: float = 0.8,
                         min_stopword_hits: int = 2,
                         stopwords: Sequence[str] = GOPHER_STOPWORDS) -> DataFrame:
    """Append the Gopher §A1.1 quality signals and their pass/fail flags —
    every signal a pure Column expression (map-only, no shuffle, no Python):

    - ``n_words`` in ``[min_words, max_words]``
    - ``mean_word_len`` (non-space chars / words) in the given band
    - ``symbol_word_ratio`` — ``#`` and ``...`` occurrences per word
    - ``alpha_word_fraction`` — words containing ≥ 1 ASCII letter
    - ``stopword_hits`` — how many of the 8 Gopher stopwords appear
    - ``gopher_pass`` — AND of all five flags
    """
    text = F.col(text_col)
    t = tokens(text)
    n_words = F.size(t).cast("long")
    nz = F.when(n_words > 0, n_words.cast("double"))  # null when empty → guarded
    mean_word_len = (F.length(F.regexp_replace(text, r"\s", "")).cast("double")
                     / nz)
    symbol_word_ratio = F.regexp_count(text, F.lit(r"#|\.\.\.")).cast("double") / nz
    alpha_words = F.size(F.filter(t, lambda x: x.rlike("[A-Za-z]")))
    alpha_word_fraction = alpha_words.cast("double") / nz
    sw = F.array(*[F.lit(w) for w in stopwords])
    # array_intersect, not filter(sw, w -> array_contains(t, w)): the
    # captured token array would be re-tokenized once per stopword, and
    # the count is set-semantics either way (stopword lists are distinct)
    stopword_hits = F.size(F.array_intersect(sw, t)).cast("long")

    flags = df.select(
        "*",
        n_words.alias("n_words"),
        F.coalesce(mean_word_len, F.lit(0.0)).alias("mean_word_len"),
        F.coalesce(symbol_word_ratio, F.lit(0.0)).alias("symbol_word_ratio"),
        F.coalesce(alpha_word_fraction, F.lit(0.0)).alias("alpha_word_fraction"),
        stopword_hits.alias("stopword_hits"),
    )
    ok_words = (F.col("n_words") >= min_words) & (F.col("n_words") <= max_words)
    ok_mwl = ((F.col("mean_word_len") >= min_mean_word_len)
              & (F.col("mean_word_len") <= max_mean_word_len))
    ok_sym = F.col("symbol_word_ratio") <= max_symbol_word_ratio
    ok_alpha = F.col("alpha_word_fraction") >= min_alpha_word_fraction
    ok_stop = F.col("stopword_hits") >= min_stopword_hits
    return flags.select(
        "*",
        ok_words.alias("pass_word_count"),
        ok_mwl.alias("pass_mean_word_len"),
        ok_sym.alias("pass_symbol_ratio"),
        ok_alpha.alias("pass_alpha_words"),
        ok_stop.alias("pass_stopwords"),
        (ok_words & ok_mwl & ok_sym & ok_alpha & ok_stop).alias("gopher_pass"),
    )


# ---------------------------------------------------------------------------
# Cross-corpus repeated-line removal (C4)
# ---------------------------------------------------------------------------

def drop_repeated_lines(lines: DataFrame, id_col: str = "doc_id",
                        pos_col: str = "pos", line_col: str = "line",
                        max_occurrences: int = 1,
                        policy: str = "keep_first") -> DataFrame:
    """Remove lines whose exact text occurs more than ``max_occurrences``
    times across the WHOLE corpus (C4's cross-document line dedup,
    generalized). ``policy``:

    - ``"keep_first"`` — of an over-limit line's occurrences, keep only the
      first by ``(id, pos)`` (C4 keeps one copy);
    - ``"drop_all"`` — remove every occurrence.

    Scale shape: one window over the line key computes both the corpus
    count and the first occurrence in a single shuffle partitioned by the
    line text — equi-partitioned, no all-pairs. A skewed ultra-common line
    lands in one partition; at 100 TB hash the line
    (``F.xxhash64``) into the key instead of the raw text to bound the
    shuffled bytes (the comparison is exact either way since the full
    occurrence list per hash rides the same partition).
    """
    if policy not in ("keep_first", "drop_all"):
        raise ValueError(f"unknown policy: {policy!r}")
    w = Window.partitionBy(line_col)
    occ = F.count("*").over(w)
    first = F.min(F.struct(F.col(id_col), F.col(pos_col))).over(w)
    keep = occ <= max_occurrences
    if policy == "keep_first":
        keep = keep | ((F.col(id_col) == first[id_col])
                       & (F.col(pos_col) == first[pos_col]))
    return (lines.withColumn("_keep", keep)
                 .filter(F.col("_keep")).drop("_keep"))


def dedup_lines(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                sep: str = "\n", max_occurrences: int = 1,
                policy: str = "keep_first") -> DataFrame:
    """Split each document on ``sep``, drop corpus-wide repeated lines
    (see :func:`drop_repeated_lines`), and reassemble the surviving lines
    in their original order. Returns ``(id, text, n_lines, n_removed)``;
    documents whose every line was removed come back with empty text.
    """
    exploded = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), F.lit(sep), -1))
         .alias("pos", "line"),
    )
    kept = drop_repeated_lines(exploded, id_col=id_col, pos_col="pos",
                               line_col="line",
                               max_occurrences=max_occurrences, policy=policy)
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            sep,
        ).alias("_text"),
        F.count("*").alias("_n_kept"),
    )
    totals = exploded.groupBy(id_col).agg(F.count("*").alias("n_lines"))
    out = (totals.join(rebuilt, id_col, "left")
                 .select(
                     id_col,
                     F.coalesce(F.col("_text"), F.lit("")).alias(text_col),
                     F.col("n_lines"),
                     (F.col("n_lines") - F.coalesce(F.col("_n_kept"), F.lit(0)))
                      .alias("n_removed"),
                 ))
    return out


def quality_scorecard(df: DataFrame, group_col: str,
                      text_col: str = "text",
                      threshold: float = 50.0) -> DataFrame:
    """Per-group roll-up of the heuristic 0-100 quality score
    (text.quality_score) — the dashboard row a curation pipeline
    watches per source/language: ``(group, n_docs, mean_q, p50_q,
    pass_rate)`` (floats 4 decimals; ``pass_rate`` = share with score ≥
    ``threshold``).  One grouped aggregate over the scored scan — the
    score is a pure Column expression, so the whole card is a single
    codegen pass + exact percentile.
    """
    from .text import quality_score

    q = quality_score(text_col)
    g = (df.filter(F.col(group_col).isNotNull())
         .select(F.col(group_col).alias("group"), q.alias("_q")))
    r4 = lambda e: F.round(e * 1e4) / 1e4 + F.lit(0.0)  # noqa: E731
    return (g.groupBy("group")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 r4(F.avg("_q")).alias("mean_q"),
                 r4(F.expr("percentile(_q, 0.5)")).alias("p50_q"),
                 r4(F.avg((F.col("_q") >= float(threshold))
                          .cast("double"))).alias("pass_rate")))
