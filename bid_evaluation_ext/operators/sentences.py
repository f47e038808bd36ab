"""Sentence splitting — lateral text expansion via the Python UDTF surface.

Beyond-reference operator rounding out the UDF-surface inventory
(SURVEY §2.10): scalar exprs (F7), pandas batch UDFs (F6), formula exprs
(F5), hot-loaded modules (S8), templates (F14) — and here a table function
(Spark ≥ 3.5 ``udtf``), the natural shape for one-row → many-rows text
expansion with per-row metadata.

Two implementations with identical output, because the UDTF is the slow
path (row-at-a-time Python) and the Column version is the 100-TB path:

- :func:`split_sentences` — pure JVM expressions (regexp split on sentence
  terminators, posexplode), whole-stage-codegen friendly, zero Python.
- :func:`sentences_udtf` / :func:`explode_sentences_udtf` — the same
  semantics through the UDTF surface, used where per-sentence logic will
  grow beyond what expressions express (and as the registered
  ``split_sentences`` SQL table function).

Differential-tested equal in ``tests/test_sentences.py``.
"""

from __future__ import annotations

import re
from typing import Iterator, Optional, Tuple

from pyspark.sql import Column, DataFrame, functions as F

#: terminator-aware splitter: a sentence ends at . ! or ? runs followed by
#: whitespace or end-of-text. Deliberately simple and regex-portable — no
#: abbreviation dictionary (language-specific lists belong upstream).
_SENT_RE = r"(?<=[.!?])\s+"


def split_sentences(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """One row per sentence: ``(id, sentence_index, sentence)`` — pure JVM
    Column expressions (regexp split + posexplode), the scale path."""
    parts = F.split(F.trim(F.col(text_col)), _SENT_RE)
    cleaned = F.filter(parts, lambda s: F.trim(s) != "")
    return df.select(
        F.col(id_col),
        F.posexplode(cleaned).alias("sentence_index", "sentence"),
    ).withColumn("sentence", F.trim(F.col("sentence")))


def _split_py(text: str) -> list:
    return [s.strip() for s in re.split(_SENT_RE, text.strip()) if s.strip()]


def sentences_udtf():
    """The UDTF class (lazily built so importing this module never requires
    an active session): ``SELECT * FROM split_sentences(...)`` yields
    ``(sentence_index, sentence)`` rows per input text."""

    @F.udtf(returnType="sentence_index int, sentence string")
    class SplitSentences:
        def eval(self, text: Optional[str]) -> Iterator[Tuple[int, str]]:
            if text is None:
                return
            for i, s in enumerate(_split_py(text)):
                yield i, s

    return SplitSentences


def explode_sentences_udtf(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """Same output as :func:`split_sentences`, via the UDTF surface with a
    ``LATERAL JOIN`` — register + SQL because the DataFrame API has no
    lateral-correlation primitive for UDTFs."""
    spark = df.sparkSession
    spark.udtf.register("split_sentences_udtf", sentences_udtf())
    df.createOrReplaceTempView("_sent_src")
    return spark.sql(f"""
        SELECT s.{id_col}, t.sentence_index, t.sentence
        FROM _sent_src s,
             LATERAL split_sentences_udtf(s.{text_col}) t
    """)
