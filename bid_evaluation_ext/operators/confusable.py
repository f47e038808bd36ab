"""Homoglyph / confusable skeleton — adversarial-dedup normalization
for spam that evades exact and shingle dedup by swapping visually
identical characters (Cyrillic ``е`` for Latin ``e``, fullwidth
``ｆｒｅｅ``, zero-width joiners inside words). The "skeleton" idea is
Unicode TS #39's confusable mapping, implemented here as a DOCUMENTED
fixed table (the full UTS#39 data file is not in this environment; the
table below covers the Cyrillic/Greek/fullwidth classes that dominate
real template spam and is the module's contract).

Skeleton = (1) strip invisible format characters (zero-width
space/joiners, word-joiner, BOM, soft hyphen), (2) map confusables to
their ASCII targets, (3) casefold. Two texts with equal skeletons are
homoglyph variants of one another.

Spark shape — the whole transform is NATIVE Column expressions
(``regexp_replace`` + ``translate`` + ``lower``): zero Python in the
hot path, whole-stage codegen end to end, and the identical
``translate`` call exists in DuckDB, so the oracle replays the exact
normalization rather than trusting a frozen golden.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

#: confusable source characters, 1:1 with _TO (single-codepoint map —
#: exactly the shape translate() supports in both Spark and DuckDB)
_CYR_LOWER = "аеорсхуіѕј"
_CYR_UPPER = "АВЕКМНОРСТХУ"
_GREEK = "ον"
_FULL_LOWER = "".join(chr(0xFF41 + i) for i in range(26))
_FULL_UPPER = "".join(chr(0xFF21 + i) for i in range(26))
_FULL_DIGIT = "".join(chr(0xFF10 + i) for i in range(10))

CONFUSABLE_FROM = (_CYR_LOWER + _CYR_UPPER + _GREEK
                   + _FULL_LOWER + _FULL_UPPER + _FULL_DIGIT)
CONFUSABLE_TO = ("aeopcxyisj" + "ABEKMHOPCTXY" + "ov"
                 + "abcdefghijklmnopqrstuvwxyz"
                 + "ABCDEFGHIJKLMNOPQRSTUVWXYZ" + "0123456789")
assert len(CONFUSABLE_FROM) == len(CONFUSABLE_TO)

#: invisible format characters removed outright: zero-width
#: space/non-joiner/joiner, word-joiner, BOM/ZWNBSP, soft hyphen
INVISIBLE_RE = "[\u200B\u200C\u200D\u2060\uFEFF\u00AD]"


def skeleton_py(text: str) -> str:
    """Pure-Python twin of :func:`skeleton_col` (tests/goldens)."""
    import re

    t = re.sub(INVISIBLE_RE, "", text or "")
    t = t.translate(str.maketrans(CONFUSABLE_FROM, CONFUSABLE_TO))
    return t.lower()


def skeleton_col(col: Column) -> Column:
    """Confusable skeleton as a native Column expression."""
    return F.lower(F.translate(
        F.regexp_replace(col, INVISIBLE_RE, ""),
        CONFUSABLE_FROM, CONFUSABLE_TO))


def homoglyph_groups(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Collapse homoglyph variants: one row per skeleton with the
    variant count, the number of genuinely-obfuscated members (rows
    whose skeleton differs from their plain casefold — i.e. invisible
    characters were stripped or confusables translated; case-only
    differences do NOT count), and the minimum id as the canonical
    representative."""
    sk = skeleton_col(F.col(text_col)).alias("skeleton")
    return (df.select(F.col(id_col), F.col(text_col), sk)
            .groupBy("skeleton")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.when(F.lower(F.col(text_col))
                              != F.col("skeleton"), 1)
                       .otherwise(0)).alias("n_obfuscated"),
                 F.min(id_col).alias("canonical_id")))


def mark_homoglyph_dups(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Per-row verdict: ``(id, skeleton, is_dup, dup_of)`` where a row
    is a dup iff a LOWER id shares its skeleton (the ordered-witness
    convention shared with the MinHash/perceptual-hash markers)."""
    sk = skeleton_col(F.col(text_col)).alias("skeleton")
    base = df.select(F.col(id_col), sk)
    wit = base.groupBy("skeleton").agg(F.min(id_col).alias("_w"))
    return (base.join(wit, "skeleton")
            .select(id_col, "skeleton",
                    (F.col(id_col) != F.col("_w")).alias("is_dup"),
                    F.when(F.col(id_col) != F.col("_w"), F.col("_w"))
                    .alias("dup_of")))
