"""Text-analysis operators over document tables — all native Column expressions.

Beyond-reference operators (BASELINE.json north star: LLM-data-pipeline text
analysis at 100 TB scale). Everything here is pure `pyspark.sql.functions`
(JVM-side, whole-stage codegen, no Python in the hot path): narrow map-only
transforms with no shuffle, so they scale linearly with input splits.

Designed for the driver testdata ``documents`` table
(``doc_id, text, lang, source, n_chars``) but parameterized by column name.
"""

from __future__ import annotations

from typing import Dict, Optional, Sequence

from pyspark.sql import Column, DataFrame, functions as F

#: small multilingual stopword/marker lists (public common words)
STOPWORDS_EN = ("the", "a", "of", "to", "and", "in", "is", "it", "for", "on")
LANG_MARKERS: Dict[str, Sequence[str]] = {
    "de": ("der", "die", "und", "das", "ist"),
    "en": ("the", "a", "and", "of", "is"),
    "es": ("la", "el", "los", "las", "es"),
    "fr": ("le", "la", "les", "des", "est"),
    "zh": ("的", "是", "了", "在", "和"),
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization; empty string AND null → empty array.

    Null must not pass through (``split(null)`` is null and ``size(null)``
    is -1 under legacy sizeOfNull — a null document would otherwise inject
    token count -1 into chunking/packing budgets downstream)."""
    t = F.trim(text)
    return F.when(t.isNull() | (t == ""), F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text)).cast("long")


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-ish token estimate: count of word-pieces + standalone punctuation
    (``\\w+|[^\\w\\s]`` occurrences) — a common pre-tokenizer shape."""
    return F.regexp_count(text, F.lit(r"\w+|[^\w\s]")).cast("long")


def _count_in(arr: Column, words: Sequence[str]) -> Column:
    wordlist = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(arr, lambda x: F.array_contains(wordlist, x)))


def with_text_stats(df: DataFrame, text_col: str = "text",
                    stopwords: Sequence[str] = STOPWORDS_EN) -> DataFrame:
    """Append per-document quality statistics, all JVM-side:

    ``n_tokens``, ``n_distinct_tokens``, ``type_token_ratio``,
    ``avg_token_len``, ``stopword_ratio``, ``punct_ratio``, ``digit_ratio``,
    ``upper_ratio`` — the standard text-quality scoring signals.
    """
    t = tokens(F.col(text_col))
    n_tok = F.size(t)
    n_chars = F.length(F.col(text_col))
    total_token_len = F.aggregate(t, F.lit(0), lambda acc, x: acc + F.length(x))
    return (
        df.withColumn("n_tokens", n_tok.cast("long"))
        .withColumn("n_distinct_tokens", F.size(F.array_distinct(t)).cast("long"))
        .withColumn(
            "type_token_ratio",
            F.when(n_tok > 0, F.size(F.array_distinct(t)) / n_tok).otherwise(F.lit(0.0)).cast("double"),
        )
        .withColumn(
            "avg_token_len",
            F.when(n_tok > 0, total_token_len / n_tok).otherwise(F.lit(0.0)).cast("double"),
        )
        .withColumn(
            "stopword_ratio",
            F.when(n_tok > 0, _count_in(t, stopwords) / n_tok).otherwise(F.lit(0.0)).cast("double"),
        )
        .withColumn(
            "punct_ratio",
            F.when(n_chars > 0,
                   F.regexp_count(F.col(text_col), F.lit(r"[^\w\s]")) / n_chars)
            .otherwise(F.lit(0.0)).cast("double"),
        )
        .withColumn(
            "digit_ratio",
            F.when(n_chars > 0,
                   F.regexp_count(F.col(text_col), F.lit(r"[0-9]")) / n_chars)
            .otherwise(F.lit(0.0)).cast("double"),
        )
        .withColumn(
            "upper_ratio",
            F.when(n_chars > 0,
                   F.regexp_count(F.col(text_col), F.lit(r"[A-Z]")) / n_chars)
            .otherwise(F.lit(0.0)).cast("double"),
        )
    )


def quality_score(text_col: str = "text",
                  ideal_tokens: float = 200.0) -> Column:
    """Heuristic 0–100 document quality score composed from the stats above —
    usable directly as a criterion column for the scoring engine."""
    t = tokens(F.col(text_col))
    n_tok = F.size(t)
    n_chars = F.length(F.col(text_col))
    length_component = F.least(n_tok / F.lit(ideal_tokens), F.lit(1.0)) * 40.0
    diversity = F.when(n_tok > 0, F.size(F.array_distinct(t)) / n_tok).otherwise(F.lit(0.0))
    diversity_component = diversity * 30.0
    stop = F.when(n_tok > 0, _count_in(t, STOPWORDS_EN) / n_tok).otherwise(F.lit(0.0))
    stopword_component = F.least(stop * F.lit(5.0), F.lit(1.0)) * 20.0
    punct = F.when(n_chars > 0,
                   F.regexp_count(F.col(text_col), F.lit(r"[^\w\s]")) / n_chars).otherwise(F.lit(0.0))
    punct_component = (F.lit(1.0) - F.least(punct * F.lit(10.0), F.lit(1.0))) * 10.0
    return (length_component + diversity_component + stopword_component + punct_component).cast("double")


def language_id(text_col: str = "text",
                langs: Optional[Sequence[str]] = None) -> Column:
    """Marker-word language identification (n-gram-heuristic family).

    Counts per-language marker-word hits over the token array and returns the
    argmax language code; ties break in the fixed ``langs`` order. Pure Column
    expression — no UDF, no shuffle.
    """
    langs = list(langs or sorted(LANG_MARKERS))
    if len(langs) == 1:  # no competition — when-chain below needs >= 2 langs
        return F.lit(langs[0])
    t = tokens(F.col(text_col))
    counts = {lang: _count_in(t, LANG_MARKERS[lang]) for lang in langs}
    expr = None
    for lang in langs:
        cond = None
        for other in langs:
            if other == lang:
                continue
            # strictly greater than every *earlier* lang, >= every later one
            c = (counts[lang] > counts[other]) if langs.index(other) < langs.index(lang) \
                else (counts[lang] >= counts[other])
            cond = c if cond is None else (cond & c)
        branch = F.when(cond, F.lit(lang)) if cond is not None else F.lit(lang)
        expr = branch if expr is None else expr.when(cond, F.lit(lang))
    return expr.otherwise(F.lit(langs[0]))


def canonicalize(text: Column) -> Column:
    """Aggressive engine-portable canonical form for content-identity
    comparison: lowercase, every non-alphanumeric run collapsed to one
    space, trimmed. Deliberately ASCII-class regexes only ([^a-z0-9]+), so
    Spark and any ANSI engine (DuckDB oracle, a warehouse twin) produce the
    byte-identical string — unicode normalization (NFC/NFKC) is NOT applied
    because engines disagree on it; add it upstream if the corpus needs it.
    """
    return F.trim(F.regexp_replace(F.lower(text), r"[^a-z0-9]+", " "))


def canonical_fingerprint_md5(text_col: str = "text") -> Column:
    """Portable md5 digest of :func:`canonicalize` — the cross-engine,
    cross-snapshot content-identity key used by incremental dedup."""
    return F.md5(canonicalize(F.col(text_col)).cast("binary"))


def fingerprint(text_col: str = "text") -> Column:
    """64-bit document fingerprint of the normalized text (lowercased,
    whitespace-collapsed) — the exact-dedup key at scale."""
    normalized = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return F.xxhash64(normalized)


def fingerprint_md5(text_col: str = "text") -> Column:
    """Portable (md5 hex) twin of :func:`fingerprint` — same normalization,
    an engine-portable digest instead of xxhash64. Use where the fingerprint
    must be reproduced by another engine (e.g. DuckDB ``md5``); xxhash64 is
    the cheaper scale path when the key never leaves Spark."""
    normalized = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return F.md5(normalized.cast("binary"))


def collocations(df: DataFrame, text_col: str = "text",
                 min_count: int = 5, k: int = 20,
                 lowercase: bool = True) -> DataFrame:
    """Top-``k`` adjacent-word collocations by PMI — the phrase-detection
    pass (word2vec-style) run before tokenizer/vocabulary induction, so
    "new york" can become one token. ``PMI = ln(c(ab)·N / (c(a)·c(b)))``
    with ``N`` the corpus token count; pairs under ``min_count`` are
    dropped (PMI is pure noise at low counts).

    Shape: two partially-aggregated counts (unigrams, adjacent pairs), two
    equi-joins of the pair table against the unigram table (both one row
    per distinct gram — no explosion), ``N`` folded in as a literal, top-k
    via TakeOrdered. Deterministic: ranked on the 1e-4-ROUNDED PMI with
    the pair as tie-break (never rank a raw double in an oracle-checked
    query — see NOTES.md).

    Returns ``(left, right, n_pair, pmi)``.
    """
    t = F.col(text_col)
    if lowercase:
        t = F.lower(t)
    toks = df.select(F.explode(tokens(t)).alias("_tok"))
    uni = toks.groupBy("_tok").agg(F.count("*").alias("_c"))
    n_total = uni.agg(F.sum("_c")).first()[0] or 0
    if n_total == 0:
        return df.sparkSession.createDataFrame(
            [], "left string, right string, n_pair long, pmi double")

    tt = tokens(t)
    m = F.size(tt) - 1
    pair = F.when(m >= 1, F.zip_with(
        F.slice(tt, 1, m), F.slice(tt, 2, m),
        lambda a, b: F.struct(a.alias("l"), b.alias("r")))
    ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))
    pairs = (df.select(F.explode(pair).alias("_p"))
             .groupBy("_p.l", "_p.r").agg(F.count("*").alias("n_pair"))
             .filter(F.col("n_pair") >= int(min_count)))
    ua = uni.select(F.col("_tok").alias("l"), F.col("_c").alias("_ca"))
    ub = uni.select(F.col("_tok").alias("r"), F.col("_c").alias("_cb"))
    pmi = F.log((F.col("n_pair") * F.lit(float(n_total)))
                / (F.col("_ca") * F.col("_cb")).cast("double"))
    scored = (pairs.join(ua, on="l").join(ub, on="r")
              .withColumn("pmi", F.round(pmi * F.lit(1e4)) / F.lit(1e4)))
    return (scored
            .orderBy(F.desc("pmi"), F.asc("l"), F.asc("r")).limit(int(k))
            .select(F.col("l").alias("left"), F.col("r").alias("right"),
                    F.col("n_pair").cast("long").alias("n_pair"), "pmi"))


def word_ngrams(text: Column, n: int) -> Column:
    """ALL word ``n``-grams in document order (duplicates kept) — the
    counting-friendly sibling of :func:`word_shingles` (which dedupes for
    set-similarity). Same zipped-slice construction (see
    :func:`word_shingles` for why not ``element_at`` in a ``transform``).
    Documents shorter than ``n`` tokens yield an empty array; ``n=1``
    returns the token array itself.
    """
    t = tokens(text)
    if n == 1:
        return t
    nn = F.size(t)
    m = nn - F.lit(n - 1)
    sh = F.slice(t, 1, m)
    for j in range(1, n):
        sh = F.zip_with(sh, F.slice(t, j + 1, m),
                        lambda a, b: F.concat_ws(" ", a, b))
    return F.when(nn >= n, sh).otherwise(F.array().cast("array<string>"))


def word_shingles(text: Column, k: int = 3) -> Column:
    """Distinct word k-shingles as an array of strings.

    Built by zipping ``k`` shifted slices of the token array —
    ``zip_with(slice(t,1,m), slice(t,2,m), concat)`` — rather than indexing
    with ``element_at`` inside a ``transform`` lambda. Catalyst does not
    eliminate common subexpressions inside higher-order-function lambdas, so
    the indexing form re-evaluates the tokenizing ``split`` for every element
    (measured 4× slower at sf0.1); the slice form evaluates each slice (and
    the split underneath) once per row. Documents shorter than ``k`` tokens
    yield an empty array.
    """
    t = tokens(text)
    n = F.size(t)
    m = n - F.lit(k - 1)
    sh = F.slice(t, 1, m)
    for j in range(1, k):
        sh = F.zip_with(sh, F.slice(t, j + 1, m),
                        lambda a, b: F.concat_ws(" ", a, b))
    return F.when(n >= k, F.array_distinct(sh)).otherwise(F.array().cast("array<string>"))


def hashed_token_array(text: Column) -> Column:
    """Each whitespace token's 64-bit hash — the cheap carrier for shingle
    construction when the shingle *strings* are never needed (MinHash)."""
    return F.transform(tokens(text), lambda x: F.xxhash64(x))


def hashed_word_shingles(text: Column, k: int = 3,
                         modulus: Optional[int] = None) -> Column:
    """Distinct word k-shingle hashes as ``array<long>`` without materializing
    shingle strings: tokens are hashed once, then adjacent token-hashes are
    combined with ``xxhash64(a, b)`` over zipped slices. Equivalent identity
    to hashing the concatenated shingle (modulo hash collisions) at a fraction
    of the cost — no string allocation, no re-tokenization.

    When ``modulus`` is given, hashes are folded into ``[0, modulus)``
    (MinHash wants them inside the permutation field).
    """
    h = hashed_token_array(text)
    n = F.size(h)
    m = n - F.lit(k - 1)
    sh = F.slice(h, 1, m)
    for j in range(1, k):
        sh = F.zip_with(sh, F.slice(h, j + 1, m), lambda a, b: F.xxhash64(a, b))
    if modulus is not None:
        sh = F.transform(sh, lambda s: F.pmod(s, F.lit(modulus)))
    return F.when(n >= k, F.array_distinct(sh)).otherwise(F.array().cast("array<long>"))


def shingle_fingerprints(text_col: str = "text", k: int = 3) -> Column:
    """Array of 64-bit hashes of the document's word k-shingles — the rolling
    document fingerprint used by MinHash."""
    return F.transform(word_shingles(F.col(text_col), k),
                       lambda sh: F.xxhash64(sh))


def sentence_count(text: Column) -> Column:
    """Sentence count via the same terminator split as
    ``sentences.split_sentences`` (``[.!?]`` followed by whitespace;
    the final sentence needs no trailing terminator) — non-empty parts
    only; 0 for blank text, null for NULL text (without the explicit
    guard, non-ANSI ``size(null)`` returns -1 through the otherwise
    branch — round-7 ADVICE fix). Pure Column expression.
    """
    marked = F.regexp_replace(F.trim(text), r"([.!?])\s+", "$1\x01")
    parts = F.filter(F.split(marked, "\x01"),
                     lambda x: F.trim(x) != "")
    return (F.when(text.isNull(), F.lit(None))
            .when(F.trim(text) == "", F.lit(0))
            .otherwise(F.size(parts))
            .cast("long"))


def coleman_liau(text_col: str = "text") -> Column:
    """Coleman–Liau readability index (Coleman & Liau 1975) — the
    grade-level estimate that needs NO syllable counting (letters,
    words, sentences only — all engine-portable, unlike Flesch):

        CLI = 0.0588·L − 0.296·S − 15.8

    with ``L`` = letters per 100 words, ``S`` = sentences per 100
    words.  Null for wordless documents.  Pure Column expression —
    composes as a scoring criterion like :func:`quality_score`.
    """
    words = token_count(F.col(text_col)).cast("double")
    letters = F.regexp_count(F.col(text_col),
                             F.lit(r"[A-Za-z]")).cast("double")
    sents = sentence_count(F.col(text_col)).cast("double")
    L = letters / words * 100.0
    S = sents / words * 100.0
    return F.when(words > 0,
                  F.lit(0.0588) * L - F.lit(0.296) * S - F.lit(15.8))


def winnow_fingerprints(text: Column, k: int = 3, w: int = 4) -> Column:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS plagiarism-detection selector): hash every
    word ``k``-gram, slide a window of ``w`` consecutive hashes, keep
    each window's MINIMUM, and return the distinct selected hashes.
    Guarantees: any shared run of ``k + w − 1`` tokens between two
    documents yields at least one shared fingerprint (the winnowing
    coverage theorem), while storing only ~``2/(w+1)`` of all k-gram
    hashes — the principled density/recall dial that plain "sample
    every Nth shingle" lacks.

    Hashes are PORTABLE md5-derived 60-bit ints (the
    :func:`fingerprint_md5` / `profile.table_fingerprint` device:
    ``conv(substring(md5(gram), 1, 15), 16, 10)``), so a DuckDB oracle
    replays the selection exactly — winnowing picks by hash VALUE, so
    the hash must cross engines, unlike MinHash where the output is
    re-verified with exact Jaccard. Pure Column expression, map-only;
    documents shorter than ``k + w − 1`` tokens fingerprint to the min
    of what windows exist (empty array below ``k`` tokens).
    """
    if k < 1 or w < 1:
        raise ValueError(f"k and w must be >= 1, got k={k}, w={w}")

    # Sliding k-gram / window-min via folds of SHIFTED SLICES, never a
    # subexpression inside a transform() lambda: Catalyst re-evaluates a
    # lambda-captured array per element, turning the natural
    # transform(sequence(1, nwin), i -> array_min(slice(hashes, i, w)))
    # into O(m^2) md5s per document (measured: 182 s for 5k docs at
    # sf0.1). Slice arguments are evaluated once, so the fold is
    # O(k·n + w·m) per document.
    #
    # The token and hash arrays are BOUND via single-element-array
    # transform() lambdas: interpreted higher-order functions get no
    # common-subexpression elimination, so the w shifted slices of
    # `hashes` would otherwise each re-run the whole md5 subtree (and
    # the k slices of `toks` the tokenizer) — measured 4x md5 cost at
    # w=4 (r12 optimization). A 1-element array evaluates its child
    # once; lambda-variable references inside are free.

    def _winnow_hashes(hashes):
        m = F.size(hashes)                     # == max(n - (k-1), 0)
        nwin = m - F.lit(w - 1)
        nw = F.greatest(nwin, F.lit(0))
        mins = F.slice(hashes, 1, nw)
        for j in range(1, w):
            mins = F.zip_with(mins, F.slice(hashes, j + 1, nw),
                              lambda a, b: F.least(a, b))
        picked = F.when(nwin >= 1, mins).otherwise(
            F.when(m >= 1, F.array(F.array_min(hashes)))
            .otherwise(F.array().cast("array<long>")))
        return F.array_distinct(picked)

    def _hash_grams(toks):
        mg = F.greatest(F.size(toks) - F.lit(k - 1), F.lit(0))
        grams = F.slice(toks, 1, mg)
        for j in range(1, k):
            grams = F.zip_with(grams, F.slice(toks, j + 1, mg),
                               lambda a, b: F.concat_ws(" ", a, b))
        hashes = F.transform(
            grams,
            lambda g: F.conv(F.substring(F.md5(g.cast("binary")), 1, 15),
                             16, 10).cast("long"))
        return F.transform(F.array(hashes), _winnow_hashes)[0]

    return F.transform(F.array(tokens(text)), _hash_grams)[0]


_SCRIPT_CLASSES = (
    # explicit codepoint ranges, NOT \p{script=...} — Java and RE2
    # disagree on script property syntax; ranges replay identically
    ("latin", r"[A-Za-zÀ-ɏ]"),
    ("digit", r"[0-9]"),
    ("cyrillic", r"[Ѐ-ӿ]"),
    ("greek", r"[Ͱ-Ͽ]"),
    ("arabic", r"[؀-ۿ]"),
    ("hebrew", r"[֐-׿]"),
    ("devanagari", r"[ऀ-ॿ]"),
    ("cjk", r"[぀-ヿ一-鿿가-힯]"),
)


def script_profile(df: DataFrame, text_col: str = "text",
                   id_cols: Sequence[str] = ("doc_id",)) -> DataFrame:
    """Per-document writing-system histogram → ``(id..., n_chars,
    n_latin, n_digit, ..., n_other, dominant_script)`` — the cheap
    pre-language-ID router for a multilingual crawl (run the n-gram
    language model only within the dominant script; route CJK to a
    different tokenizer; flag mixed-script spam, a classic SEO-junk
    signal).

    One map-only projection of ``regexp_count`` per class over explicit
    codepoint RANGES (portable across regex engines, unlike
    ``\\p{script=}``). ``dominant_script`` is the class with the
    largest count, ties to the declaration order above, ``'other'``
    when no class scores (empty/whitespace/symbol-only text; null text
    → null row values, 'other' dominant by contract so downstream
    routing never branches on null).
    """
    t = F.col(text_col)
    out = df.select(*id_cols, t.alias("_t"))
    out = out.withColumn("n_chars", F.length("_t").cast("long"))
    for name, pat in _SCRIPT_CLASSES:
        out = out.withColumn(f"n_{name}",
                             F.regexp_count(F.col("_t"), F.lit(pat))
                             .cast("long"))
    known = None
    for name, _ in _SCRIPT_CLASSES:
        known = (F.col(f"n_{name}") if known is None
                 else known + F.col(f"n_{name}"))
    out = out.withColumn(
        "n_other", F.when(F.col("n_chars").isNotNull(),
                          F.col("n_chars") - F.coalesce(known, F.lit(0)))
        .cast("long"))
    best_name = F.lit("other")
    best_cnt = F.lit(0).cast("long")
    # declaration-order ties: strictly-greater comparison scanning the
    # classes in order keeps the FIRST maximal class
    for name, _ in _SCRIPT_CLASSES:
        c = F.coalesce(F.col(f"n_{name}"), F.lit(0))
        best_name = F.when(c > best_cnt, F.lit(name)).otherwise(best_name)
        best_cnt = F.greatest(best_cnt, c)
    return out.withColumn("dominant_script", best_name).drop("_t")


def token_entropy(df: DataFrame, id_cols: Sequence[str] = ("doc_id",),
                  text_col: str = "text") -> DataFrame:
    """Per-document token Shannon entropy → ``(id..., n_tokens,
    n_distinct, entropy, entropy_norm)`` with ``entropy = −Σ p ln p``
    over the doc's own token distribution and ``entropy_norm = H /
    ln(n_distinct)`` (null when fewer than 2 distinct tokens). The
    gibberish/boilerplate dial that length and stopword ratios miss:
    keyboard mash and template spam both sit at entropy extremes while
    passing length filters.

    ONE explode + ONE ``groupBy(id, token)`` count + ONE grouped
    aggregate — the same shuffle envelope as every token-level op here
    (keys are (doc, token); no global state). Empty/null text → zero
    counts with null entropies.
    """
    ids = list(id_cols)
    counts = (df.select(*ids, F.explode(tokens(F.col(text_col)))
                        .alias("_tok"))
              .groupBy(*ids, "_tok")
              .agg(F.count(F.lit(1)).cast("double").alias("_c")))
    n = F.sum("_c")
    d = F.count(F.lit(1))
    h = F.log(n) - F.sum(F.col("_c") * F.log("_c")) / n
    agg = (counts.groupBy(*ids)
           .agg(n.cast("long").alias("n_tokens"),
                d.cast("long").alias("n_distinct"),
                h.alias("_h")))
    out = (df.select(*ids).distinct()
           .join(agg, ids, "left")
           .select(*ids,
                   F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
                   F.coalesce("n_distinct", F.lit(0)).alias("n_distinct"),
                   F.col("_h").alias("entropy"),
                   F.when(F.col("n_distinct") >= 2,
                          F.col("_h")
                          / F.log(F.col("n_distinct").cast("double")))
                   .alias("entropy_norm")))
    return out


def winnow_candidate_pairs(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text", k: int = 3, w: int = 4,
                           min_shared: int = 2,
                           max_doc_freq: int = 1000) -> DataFrame:
    """MOSS-style near-duplicate/plagiarism candidates from winnowing
    fingerprints → ``(a_id, b_id, n_shared)`` for pairs sharing ≥
    ``min_shared`` selected fingerprints. The full Schleimer pipeline:
    :func:`winnow_fingerprints` per doc, an INVERTED INDEX on the
    fingerprint, and a per-fingerprint self-join — candidate volume is
    Σ bucket², never corpus², and fingerprints appearing in more than
    ``max_doc_freq`` documents are DROPPED before pairing (boilerplate
    phrases — headers, licenses — would otherwise create quadratic hot
    buckets while carrying no specificity; the same move MOSS makes).
    Verify survivors with ``dedup.ngram_jaccard`` or span-level dedup.

    Shuffles: one explode + distinct on (fp, id), one count per fp for
    the frequency cap, one equi-join on fp, one (a, b) count — all
    keyed on the fingerprint or the pair.
    """
    if min_shared < 1:
        raise ValueError(f"min_shared must be >= 1, got {min_shared}")
    if max_doc_freq < 2:
        raise ValueError(f"max_doc_freq must be >= 2, got {max_doc_freq}")
    inv = (df.select(F.col(id_col).alias("_id"),
                     F.explode(winnow_fingerprints(F.col(text_col), k, w))
                     .alias("_fp"))
           .distinct())
    freq = inv.groupBy("_fp").agg(F.count(F.lit(1)).alias("_df"))
    kept = (inv.join(freq.filter(F.col("_df") <= int(max_doc_freq))
                     .select("_fp"), "_fp"))
    a = kept.select("_fp", F.col("_id").alias("a_id"))
    b = kept.select("_fp", F.col("_id").alias("b_id"))
    return (a.join(b, "_fp")
            .filter(F.col("a_id") < F.col("b_id"))
            .groupBy("a_id", "b_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
            .filter(F.col("n_shared") >= int(min_shared)))
