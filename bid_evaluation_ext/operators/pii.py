"""PII detection and redaction over text columns — native regex Column
expressions, no Python in the hot path.

Beyond-reference operator (BASELINE.json north star: the PII-scrubbing pass
a training-data pipeline runs before publishing or training). Regex-based
detectors for the classic structured identifiers (emails, IPv4 addresses,
US-style SSNs and phone numbers); free-text PII (names, addresses) needs an
NER model and is explicitly out of scope here.

Patterns are written in the portable subset shared by Java regex (Spark) and
RE2 (DuckDB, Go): no lookaround, no backreferences — so redaction has an
exact cross-engine oracle. Scale shape: map-only projection, one
``regexp_count`` + chained ``regexp_replace`` per pattern, whole-stage
codegen, no shuffle.
"""

from __future__ import annotations

from typing import Sequence, Tuple

from pyspark.sql import DataFrame, functions as F

#: (name, pattern, replacement) applied in order; counts use the ORIGINAL
#: text, replacements chain (each runs on the previous result).
DEFAULT_PII_PATTERNS: Tuple[Tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\b\d{3}-\d{3}-\d{4}\b", "<PHONE>"),
)


def pii_counts(df: DataFrame, text_col: str = "text",
               patterns: Sequence[Tuple[str, str, str]] = DEFAULT_PII_PATTERNS,
               ) -> DataFrame:
    """Append one ``n_<name>`` match-count column per pattern (counted on
    the unmodified text; patterns are counted independently)."""
    counts = [
        F.regexp_count(F.col(text_col), F.lit(pat)).cast("long")
         .alias(f"n_{name}")
        for name, pat, _ in patterns
    ]
    return df.select("*", *counts)


def redact_pii(df: DataFrame, text_col: str = "text",
               patterns: Sequence[Tuple[str, str, str]] = DEFAULT_PII_PATTERNS,
               with_counts: bool = True) -> DataFrame:
    """Replace every pattern match with its placeholder, in pattern order
    (each replacement runs on the previous pattern's output, so e.g. the
    email rule consumes its address before the IPv4 rule could see digits
    inside it). With ``with_counts``, also append ``n_<name>`` columns
    counted on the ORIGINAL text."""
    red = F.col(text_col)
    for _, pat, rep in patterns:
        red = F.regexp_replace(red, pat, rep)
    counts = []
    if with_counts:
        counts = [
            F.regexp_count(F.col(text_col), F.lit(pat)).cast("long")
             .alias(f"n_{name}")
            for name, pat, _ in patterns
        ]
    keep = [c for c in df.columns if c != text_col]
    return df.select(*keep, red.alias(text_col), *counts)


# ------------------------------------------------- Luhn-validated card PII

#: candidate payment-card shapes: 13-19 digits, optional single space or
#: dash between digits (the common formatting); portable Java/RE2 subset
CCN_CANDIDATE_PATTERN = r"\b(?:\d[ -]?){12,18}\d\b"


def luhn_valid(digits: Column) -> Column:
    """Luhn checksum over a pure-digit string Column — NATIVE math
    (transform/aggregate over character positions, whole-stage
    codegen): every second digit from the RIGHT is doubled (minus 9
    when >9) and the total must divide by 10. Empty/non-digit input is
    the caller's problem (pre-strip separators)."""
    n = F.length(digits)
    # digits and right-positions are the HOF *arguments* (lesson 18:
    # a captured local would re-evaluate per element); zip_with pairs
    # digit value with its position from the right
    ds = F.transform(F.sequence(F.lit(1), n),
                     lambda i: F.ascii(F.substring(digits, i, 1)) - 48)
    pos_r = F.sequence(n, F.lit(1), F.lit(-1))
    term = F.zip_with(
        ds, pos_r,
        lambda dd, p: F.when(p % 2 == 0,
                             F.when(dd * 2 > 9, dd * 2 - 9)
                             .otherwise(dd * 2))
        .otherwise(dd))
    total = F.aggregate(term, F.lit(0), lambda acc, x: acc + x)
    return (n > 0) & (total % 10 == 0)


def redact_ccn(df: DataFrame, text_col: str = "text",
               placeholder: str = "<CCN>") -> DataFrame:
    """Checksum-VALIDATED payment-card redaction: candidates come from
    :data:`CCN_CANDIDATE_PATTERN`, but only those whose digits pass
    :func:`luhn_valid` are redacted and counted — a 16-digit order id
    with a wrong check digit survives, which is the false-positive
    behavior a pure-regex redactor cannot offer. Appends
    ``n_ccn_candidates``, ``n_ccn_valid`` and replaces each validated
    candidate (literal, separators preserved) in ``text_col``. All
    native: regexp_extract_all → filter(luhn) → aggregate-replace."""
    # null text → zero counts and null output (never -1 via sizeOfNull)
    t = F.coalesce(F.col(text_col), F.lit(""))
    cands = F.regexp_extract_all(t, F.lit(CCN_CANDIDATE_PATTERN), 0)
    valid = F.filter(
        cands, lambda c: luhn_valid(F.regexp_replace(c, "[ -]", "")))
    red = F.when(F.col(text_col).isNull(), F.lit(None)).otherwise(
        F.aggregate(valid, t,
                    lambda acc, c: F.replace(acc, c,
                                             F.lit(placeholder))))
    keep = [c for c in df.columns if c != text_col]
    return df.select(
        *keep, red.alias(text_col),
        F.size(cands).cast("long").alias("n_ccn_candidates"),
        F.size(valid).cast("long").alias("n_ccn_valid"))
