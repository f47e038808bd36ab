"""Unigram-LM subword tokenizer (SentencePiece-style, Kudo 2018) —
the OTHER standard tokenizer family next to :mod:`.bpe`: BPE grows a
vocabulary bottom-up by merging, the unigram model starts from a large
seed vocabulary and learns piece probabilities by EM, then segments by
Viterbi. Production LLM tokenizers (T5, Llama's SentencePiece mode)
are unigram models, so a training-data pipeline needs both.

Distributed shape (the 100-TB design):

- the corpus collapses to DISTINCT WORDS WITH COUNTS first — the
  heavy-tail dedup that makes tokenizer training tractable (a trillion
  running words is tens of millions of distinct words);
- seed vocabulary = the ``seed_size`` most frequent substrings up to
  ``max_piece_len`` (one explode + one groupBy; all single characters
  are always kept so every word stays segmentable);
- each EM round: E-step runs the forward-backward lattice per DISTINCT
  word inside one Arrow kernel (vocab broadcast as a plain dict —
  it is a few kB), M-step is ONE groupBy-sum of expected counts;
- **determinism trick**: expected counts are converted to FIXED-POINT
  (``round(c * 1e9)`` as int64) BEFORE the shuffle — integer sums are
  order-independent, so the learned vocabulary is bit-identical
  regardless of partitioning or shuffle arrival order. Float sums
  would make the trained vocab depend on partition order, which would
  poison any frozen-golden verification.
- prune to ``vocab_size`` by (probability, piece) — the string
  tiebreak keeps the cut deterministic too.

Segmentation is Viterbi over the final piece logprobs (ties broken
toward FEWER tokens, then lexicographically smaller pieces — pinned by
test). Characters outside the vocabulary fall back to a floor logprob
so corpus-scale segmentation never fails on novel bytes.
"""

from __future__ import annotations

import math
from typing import Dict, Iterator, List, Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from bid_evaluation_ext.dispatch import local_cap

_FIXED = 1_000_000_000          # fixed-point scale for order-free sums
_FLOOR_LOGPROB = -30.0          # unseen-char fallback at segment time


def _words(df: DataFrame, text_col: str) -> DataFrame:
    """(word, count) over the lowercase alphabetic tokens of a corpus —
    the distinct-word collapse everything downstream runs on."""
    w = df.select(F.explode(F.split(F.lower(F.col(text_col)),
                                    "[^a-z]+")).alias("word"))
    return (w.filter(F.length("word") > 0)
            .groupBy("word").agg(F.count(F.lit(1)).alias("cnt")))


def seed_vocab(words: DataFrame, *, seed_size: int = 300,
               max_piece_len: int = 4) -> List[str]:
    """Most frequent substrings (≤ ``max_piece_len``) plus ALL single
    characters seen — the EM starting vocabulary."""
    pieces = words.select(
        F.explode(F.expr(
            f"""flatten(transform(sequence(1, {max_piece_len}), len ->
                 transform(sequence(1, length(word) - len + 1), i ->
                   substring(word, i, len))))""")).alias("piece"),
        "cnt").groupBy("piece").agg(F.sum("cnt").alias("total"))
    # persist across the two collects below — unpersisted, the second
    # collect re-ran the whole explode+groupBy subtree
    pieces = pieces.persist()
    # ALL single characters are kept unconditionally (segmentability);
    # multi-char pieces compete for the remaining seed slots by count
    chars = sorted(r["piece"] for r in
                   pieces.filter(F.length("piece") == 1).collect())
    multi = [r["piece"] for r in
             (pieces.filter(F.length("piece") > 1)
              .orderBy(F.desc("total"), F.asc("piece"))
              .limit(max(seed_size - len(chars), 0)).collect())]
    pieces.unpersist()
    return chars + multi


def _sql_substring(w: str, pos: int, ln: int) -> str:
    """Spark SQL ``substring(w, pos, ln)`` replica, pinned empirically
    (r12 opt): 1-based; ``pos == 0`` behaves like 1; negative ``pos``
    counts from the end and may start BEFORE the string, in which case
    the out-of-range prefix is consumed from ``ln``."""
    n = len(w)
    start = pos - 1 if pos > 0 else (0 if pos == 0 else n + pos)
    end = start + ln
    return w[max(start, 0):max(min(end, n), 0)]


def _seed_vocab_local(word_rows: List[Tuple[str, int]], seed_size: int,
                      max_piece_len: int) -> List[str]:
    """Driver-local :func:`seed_vocab` replica over collected
    ``(word, cnt)`` rows — integer piece totals and the identical
    (-total, piece) ordering, INCLUDING the SQL expression's
    short-word edge behavior: for ``len(word) < piece_len`` the
    ``sequence(1, L - len + 1)`` index list runs DESCENDING through
    zero/negative positions (Spark's sequence makes a reverse range
    when stop < start), so truncated/suffix pieces are double-counted
    exactly as the distributed explode counts them (parity-tested)."""
    totals: Dict[str, int] = {}
    for word, cnt in word_rows:
        L = len(word)
        for ln in range(1, max_piece_len + 1):
            m = L - ln + 1
            idxs = range(1, m + 1) if m >= 1 else range(1, m - 1, -1)
            for i in idxs:
                p = _sql_substring(word, i, ln)
                totals[p] = totals.get(p, 0) + cnt
    chars = sorted(p for p in totals if len(p) == 1)
    multi = sorted(((p, t) for p, t in totals.items() if len(p) > 1),
                   key=lambda kv: (-kv[1], kv[0]))
    return chars + [p for p, _ in
                    multi[:max(seed_size - len(chars), 0)]]


def _forward_backward(word: str, logp: Dict[str, float],
                      max_len: int) -> Dict[str, float]:
    """Expected piece counts for one word under the current model
    (lattice forward-backward in log space)."""
    n = len(word)
    NEG = -1e30
    alpha = [NEG] * (n + 1)
    alpha[0] = 0.0
    edges: List[List[Tuple[int, str, float]]] = [[] for _ in range(n + 1)]
    for i in range(n):
        if alpha[i] <= NEG / 2:
            continue
        for l in range(1, min(max_len, n - i) + 1):
            piece = word[i:i + l]
            lp = logp.get(piece)
            if lp is None:
                continue
            j = i + l
            edges[j].append((i, piece, lp))
            cand = alpha[i] + lp
            alpha[j] = cand if alpha[j] <= NEG / 2 else \
                (max(alpha[j], cand)
                 + math.log1p(math.exp(-abs(alpha[j] - cand))))
    if alpha[n] <= NEG / 2:
        return {}
    beta = [NEG] * (n + 1)
    beta[n] = 0.0
    for j in range(n, 0, -1):
        if beta[j] <= NEG / 2:
            continue
        for i, piece, lp in edges[j]:
            cand = beta[j] + lp
            beta[i] = cand if beta[i] <= NEG / 2 else \
                (max(beta[i], cand)
                 + math.log1p(math.exp(-abs(beta[i] - cand))))
    out: Dict[str, float] = {}
    z = alpha[n]
    for j in range(1, n + 1):
        for i, piece, lp in edges[j]:
            if alpha[i] <= NEG / 2 or beta[j] <= NEG / 2:
                continue
            out[piece] = out.get(piece, 0.0) + math.exp(
                alpha[i] + lp + beta[j] - z)
    return out


def unigram_train(df: DataFrame, text_col: str = "text", *,
                  vocab_size: int = 60, n_iters: int = 3,
                  max_piece_len: int = 4, seed_size: int = 300,
                  driver_vocab_cap: int = 2_000_000
                  ) -> List[Tuple[str, float]]:
    """Train a unigram vocabulary → sorted ``[(piece, logprob)]``.

    Every EM round is one Arrow-kernel pass over distinct words plus
    one integer groupBy-sum; the result is partition-order independent
    (see module docstring).

    Driver/broadcast envelope: the only driver-side state is the piece
    vocabulary — bounded by ``seed_size`` plus the distinct single
    characters (≤ a few hundred for any human script mix), so the
    per-round broadcast is ``O(seed_size)`` dict entries (a few MB at
    SentencePiece's standard 1M seed). ``driver_vocab_cap`` turns that
    argument into an ASSERTION: if the seed vocabulary or a round's
    collected count table ever exceeds it (e.g. a pathological
    ``seed_size``, or corpus text whose single-character alphabet is
    unexpectedly huge), training raises instead of silently melting
    the driver."""
    import os

    spark = df.sparkSession
    words = _words(df, text_col).persist()
    try:
        # r12 opt (guide §1.2, the bpe_train pattern): below a word cap
        # the whole EM runs on the DRIVER over the collected distinct
        # words — training on a small corpus was ~7 driver-synced jobs
        # (count, two seed collects, one per EM round) of pure fixed
        # latency. The seed replica and per-word fixed-point rounding
        # are exact (integer sums are order-free), so the learned vocab
        # is bit-identical either way (parity-tested). Above the cap
        # the distributed rounds run unchanged — the dispatch is
        # data-size-adaptive, not local[32]-tuned.
        word_cap = local_cap("SPARK_GRAFT_UNIGRAM_LOCAL_MAX_WORDS",
                             10000)
        head = words.limit(word_cap + 1).collect()
        word_rows: Optional[List[Tuple[str, int]]] = None
        if len(head) <= word_cap:
            word_rows = [(str(r["word"]), int(r["cnt"])) for r in head]
            n_words = len(word_rows)
            vocab = _seed_vocab_local(word_rows, seed_size,
                                      max_piece_len)
        else:
            # right-size the E-step parallelism from the DISTINCT-WORD
            # count (known for free once the persist fills): the default
            # layout inherits shuffle.partitions, so a small vocabulary
            # corpus ran every EM round as dozens of near-empty Python
            # tasks — pure scheduler + worker round-trip latency. ~4k
            # words per task keeps big corpora parallel and small ones
            # on a handful of tasks.
            n_words = words.count()
            n_slots = max(1, min(int(words.rdd.getNumPartitions()),
                                 (n_words + 4095) // 4096))
            em_words = words.coalesce(n_slots)
            vocab = seed_vocab(words, seed_size=seed_size,
                               max_piece_len=max_piece_len)
        if len(vocab) > driver_vocab_cap:
            raise ValueError(
                f"seed vocabulary ({len(vocab)} pieces) exceeds "
                f"driver_vocab_cap={driver_vocab_cap}; raise the cap "
                f"explicitly if the driver can hold it")
        # uniform start
        lp0 = -math.log(len(vocab))
        logp = {p: lp0 for p in vocab}
        for _ in range(n_iters):
            fc: Dict[str, int] = {}
            if word_rows is not None:
                # driver-local E-step: same per-word fixed-point
                # rounding, same order-free integer accumulation
                for word, cnt in word_rows:
                    ec = _forward_backward(word, logp, max_piece_len)
                    for piece, c in ec.items():
                        fc[piece] = fc.get(piece, 0) + int(
                            round(c * cnt * _FIXED))
            else:
                b = spark.sparkContext.broadcast(logp)

                def estep(batches: Iterator[pd.DataFrame],
                          _ml=max_piece_len) -> Iterator[pd.DataFrame]:
                    model = b.value
                    for pdf in batches:
                        acc: Dict[str, int] = {}
                        for word, cnt in zip(pdf["word"], pdf["cnt"]):
                            ec = _forward_backward(str(word), model, _ml)
                            for piece, c in ec.items():
                                acc[piece] = acc.get(piece, 0) + int(
                                    round(c * int(cnt) * _FIXED))
                        yield pd.DataFrame(
                            {"piece": list(acc),
                             "fcount": list(acc.values())})

                # tasks emit PARTIALLY-aggregated (piece, fixed-count)
                # rows (one dict per batch); the final merge over
                # ≤ vocab-sized tables is integer addition — exact and
                # order-free — so it runs on the driver, saving a
                # shuffle + extra stage per EM round (the collect
                # itself is bounded by driver_vocab_cap)
                rows = em_words.mapInPandas(
                    estep, "piece string, fcount long").collect()
                for r in rows:
                    fc[r["piece"]] = fc.get(r["piece"], 0) + r["fcount"]
            if len(fc) > driver_vocab_cap:
                raise ValueError(
                    f"EM count table ({len(fc)} pieces) exceeds "
                    f"driver_vocab_cap={driver_vocab_cap}")
            total = sum(fc.values())
            if not total:
                break
            logp = {p: math.log(c / total)
                    for p, c in fc.items() if c > 0}
            # single chars must survive for segmentability
            for p in vocab:
                if len(p) == 1 and p not in logp:
                    logp[p] = _FLOOR_LOGPROB
        # prune: keep best vocab_size pieces, chars always kept
        chars = {p: lp for p, lp in logp.items() if len(p) == 1}
        multi = sorted(((p, lp) for p, lp in logp.items() if len(p) > 1),
                       key=lambda kv: (-kv[1], kv[0]))
        keep = dict(chars)
        for p, lp in multi:
            if len(keep) >= vocab_size:
                break
            keep[p] = lp
        # renormalize over the kept set; the summands are SORTED first
        # so the float sum (and hence every logprob) is independent of
        # dict/collect order — the last nondeterminism seam
        z = math.log(sum(sorted(math.exp(lp) for lp in keep.values())))
        return sorted((p, lp - z) for p, lp in keep.items())
    finally:
        words.unpersist()


def viterbi_segment(word: str, logp: Dict[str, float],
                    max_len: int = 4) -> List[str]:
    """Best segmentation (ties → fewer tokens, then lexicographically
    smaller piece sequence — deterministic by construction)."""
    n = len(word)
    # (score, n_pieces, prev_index) per position + the winning last
    # piece — backpointers instead of materialized sequences. The old
    # per-candidate tuple-concat + flattened char-ord key was a NO-OP
    # tiebreak: every candidate at position j spells the identical
    # prefix word[:j], so the char list never differed and max() fell
    # back to first-wins over (score, -n_pieces) — which iteration
    # order (l ascending) already provides. Behavior is bit-identical;
    # the O(j) allocations per candidate are gone.
    best: List[Tuple[float, int, int]] = [None] * (n + 1)
    piece_at: List[str] = [""] * (n + 1)
    best[0] = (0.0, 0, 0)
    for j in range(1, n + 1):
        top = None
        top_piece = None
        for l in range(1, min(max_len, j) + 1):
            i = j - l
            prev = best[i]
            if prev is None:
                continue
            piece = word[i:j]
            lp = logp.get(piece)
            if lp is None:
                if l == 1:
                    lp = _FLOOR_LOGPROB          # novel char fallback
                else:
                    continue
            cand = (prev[0] + lp, -(prev[1] + 1))
            if top is None or cand > top:
                top = cand
                top_piece = piece
                best[j] = (cand[0], -cand[1], i)
        if top is not None:
            piece_at[j] = top_piece
    if best[n] is None:
        return [word]
    out: List[str] = []
    j = n
    while j > 0:
        out.append(piece_at[j])
        j = best[j][2]
    out.reverse()
    return out


def unigram_token_stats(df: DataFrame, vocab: List[Tuple[str, float]],
                        text_col: str = "text",
                        id_col: str = "doc_id", *,
                        max_piece_len: int = 4) -> DataFrame:
    """Per-doc segmentation stats with a trained vocab:
    ``(doc_id, n_words, n_tokens, n_char_fallbacks)``."""
    logp = dict(vocab)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import re
        # corpora repeat words heavily; segmentation is a pure function
        # of (word, vocab), so memoize (n_tokens, n_fallbacks) per
        # distinct word once per task (guide: amortize per-task work)
        memo: Dict[str, Tuple[int, int]] = {}
        for pdf in batches:
            rows = []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                words = re.findall(r"[a-z]+", str(text or "").lower())
                n_tok = n_fb = 0
                for w in words:
                    hit = memo.get(w)
                    if hit is None:
                        toks = viterbi_segment(w, logp, max_piece_len)
                        hit = (len(toks),
                               sum(1 for t in toks if t not in logp))
                        memo[w] = hit
                    n_tok += hit[0]
                    n_fb += hit[1]
                rows.append({"doc_id": int(did), "n_words": len(words),
                             "n_tokens": n_tok,
                             "n_char_fallbacks": n_fb})
            yield pd.DataFrame(rows, columns=[
                "doc_id", "n_words", "n_tokens", "n_char_fallbacks"])

    return df.select(id_col, text_col).mapInPandas(
        kernel, "doc_id long, n_words long, n_tokens long, "
                "n_char_fallbacks long")
