"""Distributed BPE (byte-pair-encoding) tokenizer training and segmentation.

Beyond-reference operator (no counterpart in ``/root/reference``): training a
subword vocabulary IS a large-scale distributed counting problem, and the
classic scaling trick (Sennrich et al. 2016) maps directly onto Spark:

1. ONE full-corpus shuffle reduces the 100-TB text to a ``(word, count)``
   frequency table — the only pass that ever touches the documents.
2. Every merge round then runs over the word table alone: adjacent symbol
   pairs explode weighted by word count (map-side), one partially-aggregated
   ``groupBy(pair)`` picks the global argmax (count desc, pair asc — fully
   deterministic), and an Arrow kernel rewrites the symbol arrays of the
   words containing the winning pair. The corpus is never re-read.

Rounds localCheckpoint the word table (the plan would otherwise grow by one
UDF + filter layer per merge), so n_merges=32k is a long loop, not a deep
plan. Driver traffic per round is exactly one (left, right, count) row.

Segmentation (`bpe_segment`) applies a trained merge list with the standard
greedy lowest-rank-pair loop per word — per-row Python by nature (real
tokenizers are too), but Arrow-batched and applied to the deduplicated word
stream of each batch rather than every token occurrence.
"""

from __future__ import annotations

from typing import List, Optional, Sequence, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F

from bid_evaluation_ext.dispatch import local_cap

#: end-of-word sentinel appended as its own symbol before merging begins —
#: merged tokens carrying it mark word-final subwords (the Sennrich scheme)
EOW = "</w>"


def word_frequencies(df: DataFrame, text_col: str = "text",
                     lowercase: bool = True) -> DataFrame:
    """``(word, count)`` over whitespace-split text — the one corpus-wide
    shuffle of BPE training (map-side partial counts, 16-byte-ish rows)."""
    t = F.col(text_col)
    if lowercase:
        t = F.lower(t)
    w = F.explode(F.split(F.trim(t), r"\s+")).alias("word")
    return (df.select(w).filter(F.col("word") != "")
            .groupBy("word").agg(F.count(F.lit(1)).alias("n")))


def _chars_plus_eow(word: Column) -> Column:
    chars = F.transform(F.sequence(F.lit(1), F.length(word)),
                        lambda i: word.substr(i, F.lit(1)))
    return F.concat(chars, F.array(F.lit(EOW)))


def _pair_counts(syms: DataFrame) -> DataFrame:
    """Weighted adjacent-symbol pair counts over a (n, s) symbol frame —
    the distributed core of every merge round: map-side explode of zipped
    slices, one partially-aggregated groupBy on the pair."""
    m = F.size("s") - 1
    pair = F.explode(F.zip_with(
        F.slice("s", 1, m), F.slice("s", 2, m),
        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
    )).alias("p")
    return (syms.filter(F.size("s") >= 2).select(F.col("n"), pair)
            .groupBy("p.l", "p.r").agg(F.sum("n").alias("c")))


def pair_counts(df: Optional[DataFrame] = None, text_col: str = "text",
                lowercase: bool = True,
                word_freq: Optional[DataFrame] = None) -> DataFrame:
    """Merge-round-1 weighted pair counts ``(l, r, c)`` over the initial
    char+EOW symbol arrays — :func:`bpe_train`'s distributed core exposed
    standalone so the exact pair-counting machinery is oracle-checkable
    (the iterative rewrite on top of it is what SQL can't express)."""
    words = word_freq if word_freq is not None else word_frequencies(
        df, text_col, lowercase)
    syms = words.select(F.col("n"),
                        _chars_plus_eow(F.col("word")).alias("s"))
    return _pair_counts(syms)


_BPE_LOCAL_MAX_WORDS = 500_000


def bpe_train(df: DataFrame, text_col: str = "text", n_merges: int = 50,
              min_count: int = 2, lowercase: bool = True,
              word_freq: Optional[DataFrame] = None,
              ) -> List[Tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from a corpus → ordered merge list.

    Deterministic: the winning pair each round is the (weighted-count desc,
    left asc, right asc) maximum, so the same corpus always yields the same
    vocabulary regardless of partitioning. Stops early when no pair reaches
    ``min_count``. Pass a precomputed ``word_freq`` (from
    :func:`word_frequencies`) to reuse the corpus pass across trainings.

    The corpus-wide work is the ONE ``word_frequencies`` shuffle; the
    merge loop itself operates on the distinct-word table, which is
    vocabulary-sized. Below ``SPARK_GRAFT_BPE_LOCAL_MAX_WORDS`` distinct
    words (default 500k) the loop runs on the DRIVER (r12 opt) —
    identical integer pair counts and (count desc, left asc, right asc)
    tie-breaks (Python's code-point string order equals Spark's UTF-8
    binary order — UTF-8 preserves code-point order), without paying a
    distributed groupBy + sort + localCheckpoint round-trip PER MERGE
    on a vocabulary-sized frame. Above the cap the distributed rounds
    run unchanged.
    """
    words = word_freq if word_freq is not None else word_frequencies(
        df, text_col, lowercase)
    import os
    cap = local_cap("SPARK_GRAFT_BPE_LOCAL_MAX_WORDS", _BPE_LOCAL_MAX_WORDS)
    probe = words.limit(cap + 1).collect()
    if len(probe) <= cap:
        return _bpe_train_local(probe, int(n_merges), int(min_count))
    syms = (words.select(F.col("n"), _chars_plus_eow(F.col("word")).alias("s"))
            .localCheckpoint())

    merges: List[Tuple[str, str]] = []
    for _ in range(int(n_merges)):
        top = (_pair_counts(syms)
               .filter(F.col("c") >= min_count)
               .orderBy(F.desc("c"), F.asc("l"), F.asc("r"))
               .limit(1).collect())
        if not top:
            break
        left, right = top[0]["l"], top[0]["r"]
        merges.append((left, right))
        joined = left + right

        @F.pandas_udf("array<string>")
        def _merge(col: pd.Series) -> pd.Series:
            out = []
            for seq in col:
                seq = list(seq)
                res, i, n = [], 0, len(seq)
                while i < n:
                    if i < n - 1 and seq[i] == left and seq[i + 1] == right:
                        res.append(joined)
                        i += 2
                    else:
                        res.append(seq[i])
                        i += 1
                out.append(res)
            return pd.Series(out)

        # rewrite only words that can contain the pair; checkpoint keeps the
        # plan flat across rounds and materializes the rewrite once
        hit = F.array_contains("s", left) & F.array_contains("s", right)
        syms = (syms.withColumn(
            "s", F.when(hit, _merge(F.col("s"))).otherwise(F.col("s")))
            .localCheckpoint())
    return merges


def _bpe_train_local(rows, n_merges: int, min_count: int
                     ) -> List[Tuple[str, str]]:
    """Driver-side merge loop over a collected (word, n) table — the
    exact distributed semantics: per-OCCURRENCE adjacent pair counts
    weighted by word frequency, winner = (count desc, l asc, r asc),
    greedy left-to-right rewrite of words containing the pair."""
    seqs = [(r["n"], list(r["word"]) + [EOW]) for r in rows]
    merges: List[Tuple[str, str]] = []
    for _ in range(n_merges):
        counts: dict = {}
        for n, seq in seqs:
            for i in range(len(seq) - 1):
                p = (seq[i], seq[i + 1])
                counts[p] = counts.get(p, 0) + n
        best = None
        for p, c in counts.items():
            if c < min_count:
                continue
            key = (-c, p[0], p[1])
            if best is None or key < best[0]:
                best = (key, p)
        if best is None:
            break
        left, right = best[1]
        merges.append((left, right))
        joined = left + right
        for j, (n, seq) in enumerate(seqs):
            if left not in seq or right not in seq:
                continue
            res, i, m = [], 0, len(seq)
            while i < m:
                if i < m - 1 and seq[i] == left and seq[i + 1] == right:
                    res.append(joined)
                    i += 2
                else:
                    res.append(seq[i])
                    i += 1
            seqs[j] = (n, res)
    return merges


def _encode_word(word: str, ranks: dict) -> List[str]:
    """Standard greedy BPE encode: repeatedly merge the lowest-rank pair."""
    seq = list(word) + [EOW]
    while len(seq) >= 2:
        best, best_rank = None, None
        for i in range(len(seq) - 1):
            r = ranks.get((seq[i], seq[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best, best_rank = i, r
        if best is None:
            break
        seq[best:best + 2] = [seq[best] + seq[best + 1]]
    return seq


def bpe_segment(text: Column, merges: Sequence[Tuple[str, str]],
                lowercase: bool = True) -> Column:
    """``array<string>`` of BPE tokens for a text column under a trained
    merge list. Each Arrow batch encodes its DISTINCT words once (corpus
    word reuse makes this the dominant saving), then stitches per row."""
    ranks = {tuple(m): i for i, m in enumerate(merges)}

    @F.pandas_udf("array<string>")
    def _seg(texts: pd.Series) -> pd.Series:
        cache: dict = {}
        out = []
        for t in texts:
            if t is None:
                out.append([])
                continue
            if lowercase:
                t = t.lower()
            toks: List[str] = []
            for w in t.split():
                enc = cache.get(w)
                if enc is None:
                    enc = _encode_word(w, ranks)
                    cache[w] = enc
                toks.extend(enc)
            out.append(toks)
        return pd.Series(out)

    return _seg(text)


def bpe_token_count(text: Column, merges: Sequence[Tuple[str, str]],
                    lowercase: bool = True) -> Column:
    """Token count under a trained BPE vocabulary — the budget metric
    sequence packing and chunking consume."""
    return F.size(bpe_segment(text, merges, lowercase))
