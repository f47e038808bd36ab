"""Span-level exact-substring duplication: the Lee et al. dedup lens.

"Deduplicating Training Data Makes Language Models Better" (Lee et al.,
ACL 2022, public arXiv:2107.06499) deduplicates EXACT token spans (e.g.
50-gram substrings) across a corpus, not whole documents — boilerplate,
licenses, and templated text repeat verbatim inside otherwise-unique
pages. This module flags them Spark-first:

- every document emits its strided token windows (codegen: ``sequence``
  start positions → ``slice`` + ``concat_ws`` → portable 60-bit md5);
- ONE partially-aggregated ``groupBy(span_hash)`` computes each span's
  corpus-wide occurrence count and its FIRST occurrence (tuple
  ``min(struct(doc, pos))`` — the keep-first policy, exact for any id
  range including negative or 60-bit hashed ids);
- a join back marks every later occurrence as duplicated, and a per-doc
  aggregate yields the duplicated-span ratio — the filter/trim signal.

Scale shape: explode factor is ``⌈tokens/stride⌉`` rows per doc (each a
16-byte hash + two ints — no span strings shuffle when ``hash_only``);
the span table shuffles once on the hash key; no window functions, no
Python. The quadratic suffix-array machinery of the paper collapses into
count-agg + join because Spark gives the corpus-wide hash table for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .text import tokens

#: md5-hex prefix width for portable 60-bit hashes (fits signed 64)
_HEX_DIGITS = 15


def span_occurrences(df: DataFrame, span: int = 50, stride: int = 1,
                     text_col: str = "text", id_col: str = "doc_id",
                     seed: str = "span") -> DataFrame:
    """One row per strided token window: ``(id_col, pos, span_hash)`` with
    ``pos`` the 1-based start token index and ``span_hash`` the 60-bit md5
    of the space-joined window (salted with ``seed``). Documents shorter
    than ``span`` tokens emit nothing. Map-only."""
    if span < 1 or stride < 1:
        raise ValueError(f"need span >= 1 and stride >= 1, "
                         f"got span={span} stride={stride}")
    t = tokens(F.col(text_col))
    m = F.size(t) - F.lit(span - 1)
    starts = F.when(m >= 1, F.sequence(F.lit(1), m, F.lit(stride))
                    ).otherwise(F.array().cast("array<int>"))
    occ = df.select(F.col(id_col), F.explode(starts).alias("pos"), t.alias("_t"))
    text = F.concat_ws(" ", F.slice(F.col("_t"), F.col("pos"), span))
    h = F.conv(F.substring(F.md5(F.concat(text, F.lit(seed)).cast("binary")),
                           1, _HEX_DIGITS), 16, 10).cast("long")
    return occ.select(id_col, F.col("pos").cast("long").alias("pos"),
                      h.alias("span_hash"))


def duplicated_span_stats(df: DataFrame, span: int = 50, stride: int = 1,
                          text_col: str = "text", id_col: str = "doc_id",
                          seed: str = "span") -> DataFrame:
    """Per-document duplicated-span statistics under the keep-first policy:
    ``(id_col, n_spans, n_dup_spans, dup_ratio)`` where a span occurrence
    counts as duplicated iff the same hash occurs anywhere earlier in the
    corpus order (lexicographically smaller ``(doc, pos)`` tuple) — the
    FIRST occurrence is never penalized, so unique text scores 0. The
    tuple min is exact for ANY id type/range (negative, 60-bit hashed);
    no packed-arithmetic overflow is possible.
    Documents with no spans (shorter than ``span``) keep their row with
    zeros. ``dup_ratio`` is exact (n_dup/n_spans, unrounded).

    One groupBy(span_hash) (partial-agg count+min) + one equi-join back +
    one per-doc agg — no window, no Python, nothing quadratic.
    """
    occ = span_occurrences(df, span, stride, text_col, id_col, seed)
    key = F.struct(F.col(id_col).alias("d"), F.col("pos").alias("p"))
    occ = occ.select(id_col, "span_hash", key.alias("_key"))
    # duplicated occurrences straight out of the hash groups: collect
    # each hash's (doc, pos) keys once and re-emit every key above the
    # group minimum. One shuffle of the occurrence table, no join back
    # (the old groupBy + self-join recomputed the tokenize/md5 subtree
    # a second time AND paid a sort-merge join); singleton hash groups
    # — the vast majority — are dropped before the explode.
    dups = (occ.groupBy("span_hash")
            .agg(F.min("_key").alias("_first"),
                 F.collect_list("_key").alias("_ks"))
            .filter(F.size("_ks") > 1)
            .select(F.explode(F.filter(
                "_ks", lambda k: k > F.col("_first"))).alias("_k"))
            .select(F.col("_k.d").alias(id_col)))
    dup_doc = dups.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_dup_spans"))
    # n_spans has a closed form from the token count — the number of
    # strided window starts — so the unduplicated side needs no
    # aggregation at all (value-identical to counting emitted windows)
    n_tok = F.size(tokens(F.col(text_col)))
    m = n_tok - F.lit(span - 1)
    n_spans = F.when(m >= 1, ((m - 1) / F.lit(stride)).cast("long")
                     + F.lit(1)).otherwise(F.lit(0))
    return (df.select(id_col, n_spans.alias("n_spans"))
            .join(dup_doc, [id_col], "left")
            .select(
                id_col,
                F.col("n_spans"),
                F.coalesce(F.col("n_dup_spans"), F.lit(0)
                           ).alias("n_dup_spans"),
                F.when(F.col("n_spans") > 0,
                       F.coalesce(F.col("n_dup_spans"), F.lit(0))
                       / F.col("n_spans"))
                .otherwise(F.lit(0.0)).alias("dup_ratio")))


def remove_duplicated_spans(df: DataFrame, span: int = 50,
                            stride: int = 1, text_col: str = "text",
                            id_col: str = "doc_id",
                            seed: str = "span") -> DataFrame:
    """ExactSubstr REMOVAL — the actual Lee et al. dedup output, not
    just the statistic: every token covered by a DUPLICATED span
    occurrence (keep-first policy, same marking as
    :func:`duplicated_span_stats`) is cut, and the document is
    reassembled from the surviving tokens. Returns
    ``(id_col, clean_text, n_tokens, n_removed_tokens)`` — docs with
    nothing duplicated (or too short to window) pass through verbatim
    modulo whitespace normalization (single spaces).

    Shape: the span table shuffles once on the hash key (partial-agg
    count+min), duplicated START positions come back as ONE sorted
    array per doc (bounded by ``⌈tokens/stride⌉`` ints — the same
    explode factor the stats pay), and the rebuild is a native
    ``transform``/``filter``/``exists`` over the token array: no
    Python, no window. The per-doc rebuild is O(tokens × dup_starts)
    comparisons inside codegen; with the standard stride > 1 the dup
    array is small, and a doc that is mostly duplicated has few
    SURVIVING tokens, not more work."""
    occ = span_occurrences(df, span, stride, text_col, id_col, seed)
    key = F.struct(F.col(id_col).alias("d"), F.col("pos").alias("p"))
    occ = occ.select(id_col, "span_hash", key.alias("_key"))
    # same one-shuffle group trick as duplicated_span_stats: duplicated
    # (doc, pos) keys are re-emitted from each hash group directly —
    # no join back, no second tokenize/md5 pass over the corpus
    dup_starts = (occ.groupBy("span_hash")
                  .agg(F.min("_key").alias("_first"),
                       F.collect_list("_key").alias("_ks"))
                  .filter(F.size("_ks") > 1)
                  .select(F.explode(F.filter(
                      "_ks", lambda k: k > F.col("_first"))).alias("_k"))
                  .groupBy(F.col("_k.d").alias(id_col))
                  .agg(F.sort_array(F.collect_list("_k.p"))
                       .alias("_dups")))
    t = tokens(F.col(text_col))
    joined = (df.select(id_col, t.alias("_t"))
              .join(dup_starts, [id_col], "left")
              .withColumn("_dups", F.coalesce(
                  F.col("_dups"), F.array().cast("array<long>"))))
    idx = F.transform(F.col("_t"),
                      lambda tok, i: F.struct(tok.alias("tok"),
                                              (i + 1).alias("i")))
    kept = F.filter(idx, lambda st: ~F.exists(
        F.col("_dups"),
        lambda s: (s <= st["i"]) & (st["i"] < s + span)))
    return joined.select(
        id_col,
        F.concat_ws(" ", F.transform(kept, lambda st: st["tok"]))
        .alias("clean_text"),
        F.size("_t").cast("long").alias("n_tokens"),
        (F.size("_t") - F.size(kept)).cast("long")
        .alias("n_removed_tokens"))
