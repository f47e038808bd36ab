"""Multi-pattern blocklist scanning (Aho-Corasick) — the curation
filter that checks every document against a large term blocklist
(unsafe-content lexicons, PII trigger terms, spam templates, URL
denylists) in ONE pass per document.

Why an automaton and not ``rlike``: a blocklist is thousands of
patterns; OR-ing them into one regex blows up the NFA and Spark would
re-scan per pattern. Aho-Corasick matches ALL patterns simultaneously
in O(len(text) + matches) regardless of blocklist size — the only
shape that holds when the lexicon is 10⁴ terms and the corpus is
100 TB.

Spark shape: the pattern list is broadcast (kilobytes); each Python
worker builds the automaton ONCE per kernel invocation and streams
Arrow batches through it. Output is per-doc hit counts — a plain
column the downstream gate filters on.
"""

from __future__ import annotations

from collections import deque
from typing import Dict, Iterator, List, Sequence, Tuple

import pandas as pd
from pyspark.sql import DataFrame


class AhoCorasick:
    """Classic goto/fail/output automaton over unicode codepoints."""

    def __init__(self, patterns: Sequence[str]):
        pats = [p for p in patterns if p]
        if not pats:
            raise ValueError("need at least one non-empty pattern")
        if len(set(pats)) != len(pats):
            raise ValueError("duplicate patterns")
        self.patterns: List[str] = list(pats)
        self.goto: List[Dict[str, int]] = [{}]
        self.out: List[List[int]] = [[]]
        self.fail: List[int] = [0]
        for idx, p in enumerate(self.patterns):
            s = 0
            for ch in p:
                nxt = self.goto[s].get(ch)
                if nxt is None:
                    self.goto.append({})
                    self.out.append([])
                    self.fail.append(0)
                    nxt = len(self.goto) - 1
                    self.goto[s][ch] = nxt
                s = nxt
            self.out[s].append(idx)
        # BFS failure links; output sets merge along them
        q = deque()
        for s in self.goto[0].values():
            q.append(s)
        while q:
            s = q.popleft()
            for ch, t in self.goto[s].items():
                q.append(t)
                f = self.fail[s]
                while f and ch not in self.goto[f]:
                    f = self.fail[f]
                self.fail[t] = self.goto[f][ch] if (
                    ch in self.goto[f] and self.goto[f][ch] != t) else 0
                self.out[t].extend(self.out[self.fail[t]])

    def find_all(self, text: str) -> List[Tuple[int, int]]:
        """All matches (including overlapping) → [(pattern_idx,
        end_position)]."""
        s = 0
        hits: List[Tuple[int, int]] = []
        for pos, ch in enumerate(text):
            while s and ch not in self.goto[s]:
                s = self.fail[s]
            s = self.goto[s].get(ch, 0)
            for idx in self.out[s]:
                hits.append((idx, pos))
        return hits

    def count_by_pattern(self, text: str) -> Dict[int, int]:
        counts: Dict[int, int] = {}
        for idx, _ in self.find_all(text):
            counts[idx] = counts.get(idx, 0) + 1
        return counts


def blocklist_hits(df: DataFrame, patterns: Sequence[str],
                   text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Per-doc blocklist stats: ``(doc_id, n_hits, n_patterns,
    first_pattern)`` — total match count, distinct patterns hit, and
    the lexicographically first matched pattern (the audit column a
    reviewer asks for). Null/empty text scans as zero hits."""
    spark = df.sparkSession
    b = spark.sparkContext.broadcast(list(patterns))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ac = AhoCorasick(b.value)
        for pdf in batches:
            rows = []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                counts = ac.count_by_pattern(str(text or ""))
                hit_pats = sorted(ac.patterns[i] for i in counts)
                rows.append({
                    "doc_id": int(did),
                    "n_hits": sum(counts.values()),
                    "n_patterns": len(counts),
                    "first_pattern": hit_pats[0] if hit_pats else None,
                })
            yield pd.DataFrame(rows, columns=[
                "doc_id", "n_hits", "n_patterns", "first_pattern"])

    return df.select(id_col, text_col).mapInPandas(
        kernel, "doc_id long, n_hits long, n_patterns long, "
                "first_pattern string")


def blocklist_filter(df: DataFrame, patterns: Sequence[str],
                     text_col: str = "text", id_col: str = "doc_id",
                     *, max_hits: int = 0) -> DataFrame:
    """Keep docs with at most ``max_hits`` blocklist matches (the gate
    itself — an anti-join against the flagged ids, so the payload
    columns never ride through the scan kernel)."""
    flagged = (blocklist_hits(df.select(id_col, text_col), patterns,
                              text_col, id_col)
               .filter(f"n_hits > {int(max_hits)}")
               .select(id_col))
    return df.join(flagged, id_col, "left_anti")
