"""Training-data pipeline operators: decontamination, sampling, chunking,
vocabulary, and sequence packing.

Beyond-reference operators (BASELINE.json north star: the operations a
large-scale LLM training-data pipeline runs at 100 TB). Every operator here is
expressed as native DataFrame transforms with exact, engine-portable
semantics, so each has a full DuckDB oracle in ``__spark_entry__.py``:

- :func:`decontaminate` — cross-table near-duplicate detection (train/eval
  overlap), shared-shingle candidate join + exact-Jaccard verify.
- :func:`decontaminate_bloom` — same exact result with the candidate shuffle
  pre-filtered map-side by a broadcast Bloom filter over the eval corpus's
  shingle hashes (the asymmetric 100-TB-train shape).
- :func:`hash_sample` — deterministic, seedable row sampling via md5 hex
  threshold comparison (reproducible across engines and runs, unlike
  ``rand()``); optional per-group stratification.
- :func:`train_test_split` — deterministic disjoint-and-exhaustive
  train/val/test labels from cumulative hash thresholds (map-only; a row's
  split is stable under corpus growth).
- :func:`sample_exact_k` — exactly-k uniform deterministic sample via
  hash-ordered TakeOrdered (the distributed reservoir-sample analogue).
- :func:`sample_k_per_group` — exactly min(k, n_g) rows per group (balanced
  subsets) via one group-keyed rank window over the same hash order.
- :func:`token_budget_mixture_sample` — mixture_sample in token space:
  target shares apply to token mass, the way LLM mixtures are specified.
- :func:`mixture_sample` — sample toward a target domain mixture (per-group
  acceptance rates from one tiny counts pass, same portable hash predicate).
- :func:`shuffle_rows` — seeded deterministic global permutation with
  explicit positions, assembled zipWithIndex-style (no single-partition
  window).
- :func:`lm_quality_score` — CCNet-style perplexity-proxy quality scores
  from an add-k-smoothed unigram LM (the model is a (token, count)
  aggregate; scoring is an equi-join + per-doc aggregate).
- :func:`chunk_documents` — split documents into overlapping token-window
  chunks (the tokenize→chunk step in front of training-sequence assembly).
- :func:`top_ngrams` — corpus top-k n-gram vocabulary with deterministic
  tie-breaking.
- :func:`pack_greedy` — contiguous greedy packing of documents into
  fixed-token-budget training sequences (concat-then-split style), windowed
  per shard so no global exchange appears.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

from .text import hashed_word_shingles, token_count, tokens, word_shingles


# ---------------------------------------------------------------------------
# Decontamination (train/eval overlap)
# ---------------------------------------------------------------------------

def _plan_size_bytes(df: DataFrame) -> Optional[int]:
    """Catalyst's size estimate for a frame's optimized plan — file-size
    based for parquet scans, FREE (no job). None when unavailable or when
    Catalyst reports the unknown-size sentinel (defaultSizeInBytes, a
    huge value)."""
    try:
        size = int(str(df._jdf.queryExecution().optimizedPlan()
                       .stats().sizeInBytes()))
    except Exception:
        return None
    return size if 0 <= size < (1 << 60) else None


def _broadcast_threshold_bytes(spark) -> int:
    """``spark.sql.autoBroadcastJoinThreshold`` in bytes (handles "10MB"
    style values); -1 (broadcast disabled) maps to 0."""
    raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try:
        n = int(raw)
    except ValueError:
        try:
            n = int(spark._jvm.org.apache.spark.network.util.JavaUtils
                    .byteStringAsBytes(raw))
        except Exception:
            n = 10 * 1024 * 1024
    return max(0, n)


def decontaminate(
    train_df: DataFrame,
    eval_df: DataFrame,
    threshold: float = 0.5,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: Optional[int] = None,
    method: str = "auto",
) -> DataFrame:
    """Flag training documents whose word-``k``-shingle Jaccard similarity
    with ANY eval document reaches ``threshold`` — the train/test
    decontamination pass every benchmark-clean training pipeline needs.

    Exactness: a pair with Jaccard ≥ t > 0 shares at least one shingle, so
    the shared-shingle equi-join candidate set is a superset of the answer
    and the exact-Jaccard verify step makes the result exact — never an
    all-pairs comparison. Scale shape: explode distinct shingles on both
    sides (map-only), one equi-join on the shingle hash, distinct candidate
    pairs, then one array-intersect verify per candidate.

    ``max_df`` optionally drops shingles occurring in more than ``max_df``
    eval docs from candidate generation (stop-shingle blowup guard). With it
    set the result may miss pairs whose every shared shingle is frequent —
    leave ``None`` (exact) unless the eval corpus is huge.

    ``method`` picks the candidate-generation strategy (results are
    bit-for-bit identical either way — property-tested):

    - ``"exact"``: the plain shared-shingle equi-join.
    - ``"bloom"``: :func:`decontaminate_bloom`'s broadcast-Bloom map-side
      pre-filter of train shingles (pays ~0.7 s fixed build overhead;
      wins only when the eval side is too big to broadcast AND the train
      side is huge — the 100-TB-train / benchmark-eval shape).
    - ``"auto"`` (default): dispatch on Catalyst's free plan-size
      statistics, the same signal AQE's broadcast planning uses — no job
      is run to decide. Bloom is chosen only when BOTH (a) the estimated
      eval shingle-hash side (~4x the eval plan bytes, a
      compression-times-hash-width heuristic) exceeds
      ``spark.sql.autoBroadcastJoinThreshold`` — otherwise AQE broadcasts
      the eval side of the exact path's candidate join and there is NO
      train-side exchange for Bloom to shrink (the measured sf0.1 story:
      exact 1.2-1.5 s warm vs bloom 2.0-2.1 s, NOTES.md) — and (b) the
      train side is at least 4x the eval side (the asymmetric profile
      where shrinking the train shuffle pays for the Bloom build). Unknown
      sizes (non-file sources) fall back to exact, which never collects
      eval hashes to the driver. ``max_df`` forces exact (the Bloom
      variant has no stop-shingle guard).

    Returns one row per contaminated (train, eval) pair:
    ``(train_id, eval_id, jaccard)``.
    """
    if method not in ("exact", "bloom", "auto"):
        raise ValueError(f"unknown method {method!r}")
    if method == "bloom" and max_df is not None:
        raise ValueError("method='bloom' does not support max_df")
    if method == "auto" and max_df is None:
        eval_bytes = _plan_size_bytes(eval_df)
        train_bytes = _plan_size_bytes(train_df)
        if eval_bytes is not None and train_bytes is not None:
            bc = _broadcast_threshold_bytes(train_df.sparkSession)
            if eval_bytes * 4 > bc and train_bytes >= 4 * eval_bytes:
                method = "bloom"
    if method == "bloom":
        return decontaminate_bloom(train_df, eval_df, threshold, k,
                                   id_col, text_col)
    t_sh = train_df.select(
        F.col(id_col).alias("train_id"),
        word_shingles(F.col(text_col), k).alias("_sh_t"),
    )
    e_sh = eval_df.select(
        F.col(id_col).alias("eval_id"),
        word_shingles(F.col(text_col), k).alias("_sh_e"),
    )

    # Candidate generation joins on 8-byte shingle HASHES, not the shingle
    # strings — the exploded join is the operator's big shuffle and the hash
    # halves-or-better its width. The shared-shingle COUNT per pair then
    # comes from the join itself (groupBy the pair — plain arithmetic, no
    # shingle arrays shuffled), giving a hash-estimated Jaccard that
    # pre-filters candidates at 90% of the threshold; only that small
    # survivor set reaches the exact string-shingle verify. 64-bit hash
    # collisions can nudge the estimate either way, hence the 10% margin —
    # a true-positive is missed only if collisions depress a pair's
    # estimate by >10%, which needs several same-pair collisions at
    # ~2^-64 apiece.
    t_tok = train_df.select(
        F.col(id_col).alias("train_id"),
        F.explode(hashed_word_shingles(F.col(text_col), k)).alias("_s"),
    )
    e_tok = eval_df.select(
        F.col(id_col).alias("eval_id"),
        F.explode(hashed_word_shingles(F.col(text_col), k)).alias("_s"),
    )
    if max_df is not None:
        freq = e_tok.groupBy("_s").count().filter(F.col("count") <= max_df)
        e_tok = e_tok.join(freq.select("_s"), on="_s", how="left_semi")

    t_n = t_tok.groupBy("train_id").agg(F.count(F.lit(1)).alias("_na"))
    e_n = e_tok.groupBy("eval_id").agg(F.count(F.lit(1)).alias("_nb"))
    shared = (
        t_tok.join(e_tok, on="_s")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("_sh"))
    )
    est = F.col("_sh") / (F.col("_na") + F.col("_nb") - F.col("_sh"))
    cand = (
        shared.join(t_n, on="train_id").join(e_n, on="eval_id")
        .filter(est >= F.lit(float(threshold) * 0.9))
        .select("train_id", "eval_id")
    )

    verified = (
        cand.join(t_sh, on="train_id")
        .join(e_sh, on="eval_id")
        .withColumn(
            "jaccard",
            (
                F.size(F.array_intersect("_sh_t", "_sh_e"))
                / F.size(F.array_union("_sh_t", "_sh_e"))
            ).cast("double"),
        )
        .filter(F.col("jaccard") >= F.lit(float(threshold)))
        .select("train_id", "eval_id", "jaccard")
    )
    return verified


def decontaminate_bloom(
    train_df: DataFrame,
    eval_df: DataFrame,
    threshold: float = 0.5,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    fpp: float = 0.005,
) -> DataFrame:
    """Same exact result as :func:`decontaminate`, with the candidate shuffle
    pre-filtered by a broadcast Bloom filter over the eval corpus's shingle
    hashes — the 100-TB-train / benchmark-sized-eval shape.

    :func:`decontaminate`'s dominant cost at scale is the exploded equi-join:
    EVERY train shingle hash is shuffled, though only the tiny fraction also
    present in some eval document can survive the join. Here the eval side's
    distinct shingle hashes (driver-sized by contract — benchmarks, not
    corpora) build a ~10-bits/key Bloom filter, broadcast once, and an
    Arrow-vectorized kernel drops non-matching train shingles BEFORE the
    explode — the shuffle shrinks from |train shingles| to
    |true hits| + fpp·|train shingles|.

    Exactness: Bloom filters have no false negatives, so every shingle that
    could meet an eval shingle in the join survives the pre-filter — shared
    counts, the Jaccard estimate, the candidate set, and the exact verify are
    bit-for-bit those of :func:`decontaminate` (property-tested). False
    positives only forward dead shingles that the equi-join itself discards.

    Measured crossover (idle local[32], sf0.1, 3 warm runs): exact 1.2-1.5 s,
    bloom 2.0-2.1 s — the bloom variant LOSES locally, for two measured
    reasons. (1) The shuffle it shrinks does not exist at this scale: the
    eval token side is ~26k rows, AQE broadcasts it, so the exact variant's
    candidate join has no train-side exchange. (2) The fixed overhead is
    real: ~0.45 s warm for the build's collect+broadcast driver sync plus
    ~0.25 s for the Arrow kernel pass over the train arrays. On top of that,
    this synthetic corpus's train/eval split shares most shingles (the
    kernel keeps 145k of 235k — only a 1.6× shrink); the operator targets
    the opposite profile, a huge crawl vs disjoint benchmark suites, where
    the keep-rate approaches ``fpp`` (a ~200× shrink at the default).
    The variant pays off once the train token exchange is too big to avoid
    (eval side above the broadcast threshold × executor count, train side
    large) and overlap is low — i.e. the 100-TB shape, not sf0.1. (An
    earlier 11.4 s warm reading in BENCH_r02 was bench-box contention; it
    does not reproduce idle.)
    """
    from .bloom import bloom_from_hash_column, bloom_keep_array

    e_hashes = eval_df.select(
        F.explode(hashed_word_shingles(F.col(text_col), k)).alias("_s"))
    bloom = bloom_from_hash_column(e_hashes, "_s", fpp=fpp)

    t_base = train_df.select(
        F.col(id_col).alias("train_id"),
        hashed_word_shingles(F.col(text_col), k).alias("_sh_h"),
    )
    # _na (the train doc's distinct-shingle count for the Jaccard estimate)
    # must count UNFILTERED shingles — take it from the array before the
    # Bloom shrink; only the join feed is filtered. The ARRAY kernel prunes
    # before the explode: A/B-measured faster than exploding first and
    # filtering with the scalar kernel (5k list rows through Arrow beat 1M
    # scalar rows + 1M booleans back — per-row overhead dominates the
    # per-list Python). Fixed overhead vs plain decontaminate: the eval
    # shingles are computed twice (bloom build collects them, the candidate
    # join reads them again) plus one driver sync — ~1s at sf0.1,
    # irrelevant at the asymmetric scale this variant exists for
    # (eval ≪ train).
    t_tok = (
        t_base
        .withColumn("_na", F.size("_sh_h"))
        .withColumn("_kept", bloom_keep_array(t_base, F.col("_sh_h"), bloom))
        .select("train_id", "_na", F.explode("_kept").alias("_s"))
    )
    e_tok = eval_df.select(
        F.col(id_col).alias("eval_id"),
        F.explode(hashed_word_shingles(F.col(text_col), k)).alias("_s"),
    )
    e_n = e_tok.groupBy("eval_id").agg(F.count(F.lit(1)).alias("_nb"))
    shared = (
        t_tok.join(e_tok, on="_s")
        .groupBy("train_id", "eval_id", "_na")
        .agg(F.count(F.lit(1)).alias("_sh"))
    )
    est = F.col("_sh") / (F.col("_na") + F.col("_nb") - F.col("_sh"))
    cand = (
        shared.join(e_n, on="eval_id")
        .filter(est >= F.lit(float(threshold) * 0.9))
        .select("train_id", "eval_id")
    )

    t_sh = train_df.select(
        F.col(id_col).alias("train_id"),
        word_shingles(F.col(text_col), k).alias("_sh_t"),
    )
    e_sh = eval_df.select(
        F.col(id_col).alias("eval_id"),
        word_shingles(F.col(text_col), k).alias("_sh_e"),
    )
    return (
        cand.join(t_sh, on="train_id")
        .join(e_sh, on="eval_id")
        .withColumn(
            "jaccard",
            (
                F.size(F.array_intersect("_sh_t", "_sh_e"))
                / F.size(F.array_union("_sh_t", "_sh_e"))
            ).cast("double"),
        )
        .filter(F.col("jaccard") >= F.lit(float(threshold)))
        .select("train_id", "eval_id", "jaccard")
    )


# ---------------------------------------------------------------------------
# Deterministic hash sampling
# ---------------------------------------------------------------------------

def _hex_threshold(fraction: float, digits: int = 8) -> str:
    """Lowercase hex string h, same width as the compared prefix, such that
    a uniform ``digits``-hex-digit string compares ``< h`` with probability
    ``fraction`` (exact to 16^-digits). Caller handles fraction == 1."""
    if not 0.0 <= fraction < 1.0:
        raise ValueError(f"fraction must be in [0, 1), got {fraction}")
    return format(int(fraction * 16 ** digits), f"0{digits}x")


def hash_sample(
    df: DataFrame,
    fraction: float,
    key_col: str = "doc_id",
    seed: str = "",
    digits: int = 8,
) -> DataFrame:
    """Deterministic ~``fraction`` sample: keep rows whose
    ``md5(key || seed)`` hex prefix compares below a threshold string.

    Unlike ``df.sample()`` (rand per task — partitioning-dependent, not
    reproducible across engines), this is a pure function of the key: the
    same row is always in or out for a given seed, which makes samples
    reproducible, joinable across tables sharing the key, and auditable by
    any engine with md5 (the DuckDB oracle runs the identical predicate).
    Map-only — no shuffle, prunes to a scan + filter.

    Stratified sampling is composition: different ``seed`` per stratum, or
    a per-group fraction via ``F.when`` on the group column.
    """
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    if fraction == 1.0:
        return df
    thr = _hex_threshold(fraction, digits)
    # null keys hash a sentinel instead of vanishing (md5(null) is null and
    # null < thr filters FALSE — every null-key row would silently drop)
    key = F.coalesce(F.col(key_col).cast("string"), F.lit("\x00null"))
    pref = F.substring(
        F.md5(F.concat(key, F.lit(seed)).cast("binary")), 1, digits,
    )
    return df.filter(pref < F.lit(thr))


def train_test_split(
    df: DataFrame,
    fractions: Optional[dict] = None,
    key_col: str = "doc_id",
    seed: str = "",
    split_col: str = "split",
    digits: int = 8,
) -> DataFrame:
    """Deterministic train/val/test assignment: one ``split`` label column
    from the same ``md5(key || seed)`` hex-prefix device as
    :func:`hash_sample`, with cumulative thresholds per split.

    Properties that matter for training data: reproducible on any engine
    (no rand()), a row's split never changes when the corpus grows (pure
    key function), splits are disjoint and exhaustive by construction (the
    last split takes the remainder), and the whole thing is a map-only
    projection — no shuffle at any scale.

    ``fractions`` is an ordered name→fraction mapping summing to 1
    (defaults to ``{"train": .8, "val": .1, "test": .1}``).
    """
    fractions = dict(fractions or {"train": 0.8, "val": 0.1, "test": 0.1})
    if len(fractions) < 2:
        raise ValueError("need at least two splits")
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")
    key = F.coalesce(F.col(key_col).cast("string"), F.lit("\x00null"))
    pref = F.substring(
        F.md5(F.concat(key, F.lit(seed)).cast("binary")), 1, digits,
    )
    names = list(fractions)
    expr = None
    cum = 0.0
    for name in names[:-1]:
        cum += fractions[name]
        thr = _hex_threshold(min(cum, 1.0 - 1e-12), digits)
        cond = pref < F.lit(thr)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(
            cond, F.lit(name))
    return df.select("*", expr.otherwise(F.lit(names[-1])).alias(split_col))


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    fractions: Optional[dict] = None,
    seed: str = "",
    split_col: str = "split",
    a_col: str = "a_id",
    b_col: str = "b_id",
) -> DataFrame:
    """:func:`train_test_split` that cannot leak near-duplicates across
    splits: every member of a connected component of the ``pairs`` graph
    (near-dup pairs from MinHash/SimHash/embedding dedup) receives the
    SAME split label, because the md5 assignment keys on the component's
    canonical id instead of the row id. A benchmark document's paraphrase
    landing in train while the original sits in test is exactly the
    contamination mode plain per-row splitting permits.

    Shape: connected components over the (tiny relative to the corpus)
    pair graph, one broadcast-size left join back, then the same map-only
    md5 projection as :func:`train_test_split`. Documents in no pair keep
    their own id as the key — and since a component's canonical id is its
    MIN member id, a previously-singleton document that later gains a
    duplicate with a higher id keeps its split assignment (corpus growth
    does not reshuffle history, the same stability contract as
    ``hash_sample``). Returns ``df`` plus ``split`` and the component's
    ``split_key``.
    """
    from .dedup import near_duplicate_clusters

    clusters = near_duplicate_clusters(pairs, a_col, b_col)
    joined = df.join(
        clusters.select(F.col("id").alias(id_col),
                        F.col("cluster_id").alias("_cl")),
        on=id_col, how="left")
    keyed = joined.withColumn(
        "split_key", F.coalesce(F.col("_cl"), F.col(id_col))).drop("_cl")
    return train_test_split(keyed, fractions, key_col="split_key",
                            seed=seed, split_col=split_col)


def sample_exact_k(
    df: DataFrame,
    k: int,
    key_col: str = "doc_id",
    seed: str = "",
) -> DataFrame:
    """EXACTLY ``k`` rows, uniformly and deterministically: order by
    ``(md5(key || seed), key)`` and take ``k``. Unlike ``hash_sample``
    (expected-fraction) this pins the output size — the sketch-free
    distributed analogue of reservoir sampling. Executes as TakeOrdered
    (per-partition top-k merged on the driver), never a global sort
    exchange; nested seeds give independent redraws.
    """
    if k < 0:
        raise ValueError(f"k must be non-negative, got {k}")
    key = F.coalesce(F.col(key_col).cast("string"), F.lit("\x00null"))
    h = F.md5(F.concat(key, F.lit(seed)).cast("binary"))
    return (df.withColumn("_sek_h", h)
              .orderBy(F.asc("_sek_h"), F.asc(key_col))
              .limit(int(k))
              .drop("_sek_h"))


def sample_k_per_group(
    df: DataFrame,
    k: int,
    group_col: str,
    key_col: str = "doc_id",
    seed: str = "",
) -> DataFrame:
    """EXACTLY ``min(k, n_g)`` rows per group, uniformly and
    deterministically — the balanced-subset op (fixed-size stratified
    sample per domain/language/source).

    Rows rank by ``(md5(key || seed), key)`` WITHIN their group; rank ≤ k
    survives. One window shuffle keyed on the group (never a global sort);
    a hot group serializes only its own partition, and the deterministic
    hash order makes redraws (new seed) and cross-engine reproduction
    (DuckDB oracle) exact.

    ``key_col`` values must be unique (the contract :func:`hash_sample`
    documents): duplicate keys — including multiple nulls, which all hash
    via the same sentinel — draw identical hash and tie-break, so WHICH
    duplicate lands inside the rank ≤ k cut is engine- and run-dependent.
    """
    if k < 0:
        raise ValueError(f"k must be non-negative, got {k}")
    key = F.coalesce(F.col(key_col).cast("string"), F.lit("\x00null"))
    h = F.md5(F.concat(key, F.lit(seed)).cast("binary"))
    w = Window.partitionBy(group_col).orderBy(F.asc("_skg_h"),
                                              F.asc(key_col))
    return (df.withColumn("_skg_h", h)
            .withColumn("_skg_r", F.row_number().over(w))
            .filter(F.col("_skg_r") <= int(k))
            .drop("_skg_h", "_skg_r"))


def token_budget_mixture_sample(
    df: DataFrame,
    weights: dict,
    text_col: str = "text",
    group_col: str = "lang",
    key_col: str = "doc_id",
    total_tokens: Optional[int] = None,
    seed: str = "",
    digits: int = 8,
) -> DataFrame:
    """:func:`mixture_sample` in TOKEN space: target shares apply to the
    token budget, not the document count — how real LLM mixtures are
    specified (a domain of long documents needs fewer docs for the same
    token share).

    One counts pass sums whitespace-token counts per group (G rows to the
    driver); the budget is ``B = min_g(tok_g / s_g)`` (largest token budget
    no group must up-sample for), optionally capped by ``total_tokens``;
    each group keeps docs with acceptance rate ``p_g = min(1, B·s_g /
    tok_g)`` via the same deterministic md5-threshold predicate as
    :func:`hash_sample`. Token share is hit in expectation (doc-level
    accept); groups not in ``weights`` — and groups with zero tokens —
    are dropped. Map-only after the counts pass.
    """
    if not weights:
        raise ValueError("weights must be a non-empty {group: share} dict")
    tot_w = float(sum(weights.values()))
    if tot_w <= 0:
        raise ValueError("weights must sum to a positive value")
    shares = {g: float(s) / tot_w for g, s in weights.items()}

    toks = (df.filter(F.col(group_col).isin(*weights.keys()))
            .groupBy(group_col)
            .agg(F.sum(token_count(F.col(text_col))).alias("_tk"))
            .collect())
    sums = {r[group_col]: float(r["_tk"]) for r in toks if r["_tk"]}
    present = {g: s for g, s in shares.items() if sums.get(g)}
    if not present:
        return df.filter(F.lit(False))
    budget = min(sums[g] / s for g, s in present.items())
    if total_tokens is not None:
        budget = min(budget, float(total_tokens))

    key = F.coalesce(F.col(key_col).cast("string"), F.lit("\x00null"))
    pref = F.substring(F.md5(F.concat(key, F.lit(seed)).cast("binary")),
                       1, digits)
    keep = None
    for g, s in present.items():
        p = min(1.0, budget * s / sums[g])
        ok = (F.lit(True) if p >= 1.0
              else pref < F.lit(_hex_threshold(p, digits)))
        cond = (F.col(group_col) == g) & ok
        keep = cond if keep is None else keep | cond
    return df.filter(keep)


def weighted_sample_k(
    df: DataFrame,
    k: int,
    weight_col: str,
    key_col: str = "doc_id",
    seed: str = "",
    digits: int = 8,
) -> DataFrame:
    """EXACTLY ``min(k, n)`` rows sampled WITHOUT replacement with
    probability proportional to ``weight_col`` — deterministic
    Efraimidis–Spirakis A-ES: each row draws ``u = (hash+0.5)/16^digits``
    uniform from ``md5(key || seed)`` and gets priority ``ln(u)/w``; the k
    largest priorities are the sample. Importance sampling for data mixing
    (weight by token count, quality score, domain boost) that is
    reproducible across runs AND engines.

    Rows with null or non-positive weights are excluded. The ranking uses
    the 1e-6-ROUNDED priority with the key as tie-break: u is bit-exact on
    both engines (integer arithmetic), and ln() agrees far beyond 1e-6, so
    cross-engine libm ulp differences cannot flip the order (NOTES.md
    lesson: never rank on a raw float in an oracle-checked query).
    Executes as TakeOrdered — per-partition top-k, never a global sort.

    ``key_col`` values must be unique (as in :func:`hash_sample` /
    :func:`sample_k_per_group`): duplicate keys draw identical priority and
    tie-break, making which duplicate survives the ``limit(k)`` cut
    nondeterministic across runs and engines.
    """
    if k < 0:
        raise ValueError(f"k must be non-negative, got {k}")
    w = F.col(weight_col).cast("double")
    key = F.coalesce(F.col(key_col).cast("string"), F.lit("\x00null"))
    h = F.conv(
        F.substring(F.md5(F.concat(key, F.lit(seed)).cast("binary")),
                    1, digits), 16, 10).cast("long")
    u = (h.cast("double") + F.lit(0.5)) / F.lit(float(16 ** digits))
    pr = F.round(F.log(u) / w * F.lit(1e6)) / F.lit(1e6)
    return (df.filter(w.isNotNull() & (w > 0))
            .withColumn("_ws_p", pr)
            .orderBy(F.desc("_ws_p"), F.asc(key_col))
            .limit(int(k))
            .drop("_ws_p"))


def mixture_sample(
    df: DataFrame,
    weights: dict,
    group_col: str = "lang",
    key_col: str = "doc_id",
    total: Optional[int] = None,
    seed: str = "",
    digits: int = 8,
) -> DataFrame:
    """Sample toward a target domain mixture (the LLM data-mixing op).

    ``weights`` maps group values (domains, languages, sources) to target
    mixture shares. The largest budget the corpus can fill without
    up-sampling is ``T = min(n_g / w_g)`` (one pass of per-group counts —
    G rows to the driver); each group is then thinned to acceptance rate
    ``p_g = min(1, min(T, total) · w_g / n_g)`` with the same deterministic
    md5-threshold predicate as :func:`hash_sample`, so the output hits the
    target proportions in expectation while staying a pure function of the
    key — reproducible, joinable, and engine-portable (the DuckDB oracle
    runs the identical predicate). Groups not in ``weights`` are dropped
    (weight 0). Map-only after the counts pass: a scan + per-group
    threshold filter, no shuffle of the payload.

    Scale: G (distinct domains) is small by construction in a mixing
    config; the counts aggregate is the only extra job and carries G rows.
    """
    if not weights:
        raise ValueError("weights must be a non-empty {group: share} dict")
    if any(w < 0 for w in weights.values()) or sum(weights.values()) <= 0:
        raise ValueError("weights must be non-negative with a positive sum")
    wsum = float(sum(weights.values()))
    shares = {g: w / wsum for g, w in weights.items() if w > 0}

    counts = {
        r["_g"]: r["_n"]
        for r in df.filter(F.col(group_col).isin(list(shares)))
        .groupBy(F.col(group_col).alias("_g")).agg(F.count("*").alias("_n"))
        .collect()
    }
    missing = [g for g in shares if counts.get(g, 0) == 0]
    if missing:
        raise ValueError(f"no rows for weighted groups: {missing}")
    feasible = min(counts[g] / s for g, s in shares.items())
    budget = min(feasible, total) if total is not None else feasible

    key = F.coalesce(F.col(key_col).cast("string"), F.lit("\x00null"))
    pref = F.substring(F.md5(F.concat(key, F.lit(seed)).cast("binary")),
                       1, digits)
    keep = None
    for g, s in shares.items():
        p = min(1.0, budget * s / counts[g])
        ok = (F.lit(True) if p >= 1.0
              else pref < F.lit(_hex_threshold(p, digits)))
        cond = (F.col(group_col) == g) & ok
        keep = cond if keep is None else keep | cond
    return df.filter(keep)


def temperature_mixture_sample(
    df: DataFrame,
    alpha: float = 0.5,
    group_col: str = "lang",
    key_col: str = "doc_id",
    total: Optional[int] = None,
    seed: str = "",
    digits: int = 8,
) -> DataFrame:
    """Temperature-based mixture sampling: target share ``p_g ∝ n_g^alpha``
    (the UniMax / multilingual-temperature shape). ``alpha=1`` keeps natural
    proportions, ``alpha=0`` equalizes every group, and values in between
    up-weight the tail relative to its natural share — realized by THINNING
    the head (acceptance ``∝ n_g^(alpha-1)``), never up-sampling.

    Same machinery as :func:`mixture_sample` with the weights computed from
    the corpus itself: one per-group counts pass (G rows to the driver —
    bounded-group contract), then a map-only deterministic md5-threshold
    filter. Per-group acceptance rates are quantized to 1e-6 before
    thresholding: the share normalizer is a float sum whose association
    order differs across engines, and quantization keeps the predicate
    engine-portable instead of knife-edge (the DuckDB oracle replays it).
    Rows with a null group are dropped (no natural share).
    """
    if not 0.0 <= alpha <= 1.0:
        raise ValueError(f"alpha must be in [0, 1], got {alpha}")
    counts = {
        r["_g"]: r["_n"]
        for r in df.filter(F.col(group_col).isNotNull())
        .groupBy(F.col(group_col).alias("_g")).agg(F.count("*").alias("_n"))
        .collect()
    }
    if not counts:
        raise ValueError(f"no rows with a non-null {group_col}")
    ssum = sum(n ** alpha for _, n in sorted(counts.items()))
    shares = {g: (n ** alpha) / ssum for g, n in counts.items()}
    feasible = min(counts[g] / s for g, s in shares.items())
    budget = min(feasible, total) if total is not None else feasible

    key = F.coalesce(F.col(key_col).cast("string"), F.lit("\x00null"))
    pref = F.substring(F.md5(F.concat(key, F.lit(seed)).cast("binary")),
                       1, digits)
    keep = None
    for g in sorted(counts):
        p = round(min(1.0, budget * shares[g] / counts[g]) * 1e6) / 1e6
        ok = (F.lit(True) if p >= 1.0
              else pref < F.lit(_hex_threshold(p, digits)))
        cond = (F.col(group_col) == g) & ok
        keep = cond if keep is None else keep | cond
    return df.filter(keep)


def shuffle_rows(
    df: DataFrame,
    key_col: str = "doc_id",
    seed: str = "",
    pos_col: str = "shuffle_pos",
    bucket_digits: int = 3,
) -> DataFrame:
    """Deterministic global shuffle: a seeded pseudo-random permutation of
    the rows, materialized as an explicit 0-based ``pos_col``.

    Training-order shuffling must be reproducible across runs and engines —
    ``orderBy(rand())`` is neither. The permutation orders by
    ``md5(key || seed)`` (key string as tiebreak), a pure function of the
    data; a new ``seed`` is a fresh permutation.

    Scale shape: a global ``row_number`` window would funnel every row
    through ONE partition, so positions are assembled zipWithIndex-style
    instead — rows bucket by their hash's first ``bucket_digits`` hex
    digits (16^digits uniform buckets, which is also hash-prefix order, so
    bucket order ≡ global order), per-bucket counts (tiny: one row per
    bucket) turn into cumulative offsets behind ``broadcast``, and the
    position is offset + rank within the bucket's keyed window. Every
    exchange is keyed on the bucket — no single-partition stage.
    """
    key = F.coalesce(F.col(key_col).cast("string"), F.lit("\x00null"))
    h = F.md5(F.concat(key, F.lit(seed)).cast("binary"))
    bkt = F.conv(F.substring(h, 1, bucket_digits), 16, 10).cast("long")
    hashed = df.withColumn("_sh_h", h).withColumn("_sh_b", bkt)

    counts = hashed.groupBy("_sh_b").agg(F.count("*").alias("_sh_n"))
    off_w = (Window.orderBy("_sh_b")
             .rowsBetween(Window.unboundedPreceding, -1))
    # the offsets frame is 16^bucket_digits rows max — the single-partition
    # window runs over THAT, never the data
    offsets = counts.select(
        "_sh_b", F.coalesce(F.sum("_sh_n").over(off_w), F.lit(0)).alias("_sh_off")
    )
    w = Window.partitionBy("_sh_b").orderBy("_sh_h", key)
    return (
        hashed.join(F.broadcast(offsets), on="_sh_b")
        .withColumn(pos_col,
                    (F.col("_sh_off") + F.row_number().over(w) - 1).cast("long"))
        .drop("_sh_h", "_sh_b", "_sh_off")
    )


# ---------------------------------------------------------------------------
# Unigram LM quality scoring (perplexity-proxy filtering)
# ---------------------------------------------------------------------------

def lm_quality_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    train_df: Optional[DataFrame] = None,
    add_k: float = 0.5,
    lowercase: bool = True,
) -> DataFrame:
    """Per-document unigram LM score (the CCNet/Wenzek perplexity-filter
    shape): average negative log-likelihood of the document's tokens under
    an add-k-smoothed unigram model trained on ``train_df`` (default: the
    corpus itself).

    Returns ``(id, n_tokens, lm_nll, lm_ppl)`` — ``lm_nll`` is mean
    ``-ln p(tok)`` in nats (null for empty docs), ``lm_ppl = exp(lm_nll)``.
    Low-likelihood (gibberish/rare-token) documents score high and get cut
    by a threshold; pair with :func:`hash_sample` for score-stratified
    retention.

    Distributed shape: the model IS a (token, count) aggregate — one
    explode + groupBy over the training corpus; scoring is an equi-join of
    exploded doc tokens to that table (no explosion: the model side holds
    one row per distinct token) plus a per-doc aggregate. The two model
    scalars (total count N, vocab size V) fold in as literals. Unseen
    tokens take the smoothing floor ``add_k / (N + add_k·V)``.
    """
    if add_k <= 0:
        raise ValueError(f"add_k must be > 0 (smoothing floor), got {add_k}")
    train = train_df if train_df is not None else df
    norm = (lambda c: F.lower(c)) if lowercase else (lambda c: c)

    tr_toks = train.select(
        F.explode(tokens(norm(F.col(text_col)))).alias("_tok"))
    model = tr_toks.groupBy("_tok").agg(F.count("*").alias("_c"))
    n_total, vocab = (
        model.agg(F.sum("_c"), F.count("*")).first() or (0, 0))
    denom = float(n_total or 0) + add_k * float(vocab or 0)
    if denom <= 0:
        raise ValueError("training corpus has no tokens")

    doc_toks = df.select(
        F.col(id_col),
        F.posexplode_outer(tokens(norm(F.col(text_col)))).alias("_i", "_tok"),
    )
    scored = doc_toks.join(model, on="_tok", how="left")
    nll = -F.log((F.coalesce(F.col("_c"), F.lit(0)) + F.lit(add_k))
                 / F.lit(denom))
    out = (
        scored.groupBy(id_col)
        .agg(F.count("_tok").alias("n_tokens"),
             F.avg(F.when(F.col("_tok").isNotNull(), nll)).alias("lm_nll"))
        .withColumn("n_tokens", F.col("n_tokens").cast("long"))
        .withColumn("lm_ppl", F.exp("lm_nll"))
    )
    return out


def bigram_lm_quality_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    train_df: Optional[DataFrame] = None,
    add_k: float = 0.5,
    lowercase: bool = True,
) -> DataFrame:
    """Per-document BIGRAM LM score — the context-aware upgrade of
    :func:`lm_quality_score`: mean ``-ln P(w_i | w_{i-1})`` under add-k
    smoothed conditionals ``P(b|a) = (c(a,b)+k) / (c(a)+k·V)``, with ``V``
    the training vocabulary size and ``c(a)`` the unigram occurrence count.
    Word-salad documents (plausible tokens, implausible transitions) score
    high where the unigram model cannot tell them from prose.

    Returns ``(id, n_bigrams, lm2_nll, lm2_ppl)``; documents with fewer
    than 2 tokens have null ``lm2_nll``.

    Distributed shape: TWO model aggregates over the training corpus
    (bigram counts and unigram counts — each one explode + partially
    aggregated groupBy, one row per distinct gram); scoring equi-joins each
    document bigram to both tables and aggregates per doc. ``V`` folds in
    as a literal. Unseen context ⇒ the smoothing floor ``1/V``.
    """
    if add_k <= 0:
        raise ValueError(f"add_k must be > 0 (smoothing floor), got {add_k}")
    train = train_df if train_df is not None else df
    norm = (lambda c: F.lower(c)) if lowercase else (lambda c: c)

    def _pairs(col: Column) -> Column:
        t = tokens(norm(col))
        m = F.size(t) - 1
        empty = F.array().cast("array<struct<_a:string,_bg:string>>")
        z = F.zip_with(
            F.slice(t, 1, m), F.slice(t, 2, m),
            lambda a, b: F.struct(
                a.alias("_a"), F.concat_ws(" ", a, b).alias("_bg")))
        return F.when(m >= 1, z).otherwise(empty)

    tr_pairs = train.select(F.explode(_pairs(F.col(text_col))).alias("_p"))
    bmodel = (tr_pairs.select("_p._bg")
              .groupBy("_bg").agg(F.count("*").alias("_cb")))
    tr_toks = train.select(
        F.explode(tokens(norm(F.col(text_col)))).alias("_tok"))
    umodel = tr_toks.groupBy("_tok").agg(F.count("*").alias("_ca"))
    vocab = umodel.count()
    if vocab == 0:
        raise ValueError("training corpus has no tokens")

    doc_pairs = df.select(
        F.col(id_col),
        F.explode_outer(_pairs(F.col(text_col))).alias("_p"),
    ).select(id_col, F.col("_p._a").alias("_a"), F.col("_p._bg").alias("_bg"))
    scored = (doc_pairs
              .join(bmodel, on="_bg", how="left")
              .join(umodel, doc_pairs["_a"] == umodel["_tok"], how="left"))
    nll = -F.log(
        (F.coalesce(F.col("_cb"), F.lit(0)) + F.lit(add_k))
        / (F.coalesce(F.col("_ca"), F.lit(0)) + F.lit(add_k * float(vocab))))
    return (
        scored.groupBy(id_col)
        .agg(F.count("_bg").alias("n_bigrams"),
             F.avg(F.when(F.col("_bg").isNotNull(), nll)).alias("lm2_nll"))
        .withColumn("n_bigrams", F.col("n_bigrams").cast("long"))
        .withColumn("lm2_ppl", F.exp("lm2_nll"))
    )


# ---------------------------------------------------------------------------
# Document chunking
# ---------------------------------------------------------------------------

def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split each document into overlapping token-window chunks.

    The tokenize→window step in front of embedding/indexing or
    training-sequence assembly: chunk ``i`` covers tokens
    ``[i*stride, i*stride + chunk_tokens)`` with ``stride = chunk_tokens -
    overlap``; the last chunk may be short; every document yields at least
    one chunk (empty text → one empty chunk at index 0, so no documents
    silently disappear). Map-side ``posexplode`` over a ``sequence`` of
    window starts — no shuffle, scales linearly with input splits.

    Output: ``(id, chunk_index, chunk_text, chunk_n_tokens)``.
    """
    if chunk_tokens <= 0:
        raise ValueError(f"chunk_tokens must be positive, got {chunk_tokens}")
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(
            f"overlap must be in [0, chunk_tokens), got {overlap}"
        )
    stride = chunk_tokens - overlap
    # Materialize the token array before the windowing lambda captures it:
    # a captured tokenize re-runs once PER CHUNK START, turning the linear
    # split into O(n^2/stride) per document. The two references below
    # (size + slice) also keep CollapseProject from re-inlining it.
    staged = df.select(F.col(id_col),
                       tokens(F.col(text_col)).alias("_toks"))
    t = F.col("_toks")
    n = F.size(t)
    # window starts: 1, 1+stride, ... — at least one; never starting past the
    # final token (a start s is kept while s <= max(n - overlap, 1))
    starts = F.sequence(
        F.lit(1), F.greatest(n - F.lit(overlap), F.lit(1)), F.lit(stride)
    )
    chunks = F.transform(
        starts, lambda s: F.slice(t, s, chunk_tokens)
    )
    out = (
        staged.select(
            F.col(id_col),
            F.posexplode(chunks).alias("chunk_index", "_chunk"),
        )
        .withColumn("chunk_text", F.concat_ws(" ", "_chunk"))
        .withColumn("chunk_n_tokens", F.size("_chunk").cast("long"))
        .drop("_chunk")
    )
    return out


# ---------------------------------------------------------------------------
# Vocabulary: corpus top-k n-grams
# ---------------------------------------------------------------------------

def top_ngrams(
    df: DataFrame,
    n: int = 2,
    k: int = 100,
    text_col: str = "text",
) -> DataFrame:
    """Corpus-wide top-``k`` word ``n``-grams by document-occurrence count.

    Counts each distinct n-gram once per document (document frequency — the
    vocabulary-building convention that resists single-document spam), then
    takes the global top-k with DETERMINISTIC tie-breaking (count desc,
    n-gram asc) so results are stable across runs and engines.

    Scale shape: map-side explode of per-document distinct shingles, one
    partial-aggregated ``groupBy(ngram).count`` shuffle, then a distributed
    ``orderBy(...).limit(k)`` (Spark's TakeOrdered — per-partition top-k
    merged on the driver, NO single-partition sort exchange).
    """
    grams = df.select(
        F.explode(word_shingles(F.col(text_col), n)).alias("ngram")
    )
    return (
        grams.groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), F.asc("ngram"))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Greedy sequence packing
# ---------------------------------------------------------------------------

def pack_sequences(
    df: DataFrame,
    max_tokens: int = 2048,
    shard_col: Optional[str] = "source",
    order_col: str = "doc_id",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Assign documents to fixed-token-budget training sequences by block
    packing over the concatenated document stream (concat-then-split, the
    standard LLM training-data prep): documents are laid end-to-end in
    ``order_col`` order and sequence ``i`` covers stream tokens
    ``[i*max_tokens, (i+1)*max_tokens)``. A document belongs to the
    sequence its FIRST token lands in; ``seq_offset`` is its token offset
    in the stream, so downstream writers know exactly where boundaries
    fall mid-document.

    Windowed per ``shard_col``: real pipelines shard first (by source or a
    hash bucket) and pack within shards, so every window here partitions by
    the shard and no single-partition exchange appears. Pass ``None`` only
    for a small single stream (global window — wrong shape for 100 TB).

    Output: one row per document —
    ``(shard?, id, n_tokens, seq_offset, seq_id)``.
    """
    if max_tokens <= 0:
        raise ValueError(f"max_tokens must be positive, got {max_tokens}")
    part: Sequence = [shard_col] if shard_col is not None else []
    w = (
        Window.partitionBy(*part)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cols = ([F.col(shard_col)] if shard_col is not None else []) + [
        F.col(id_col),
        token_count(F.col(text_col)).alias("n_tokens"),
    ]
    return (
        df.select(*cols)
        .withColumn(
            "seq_offset",
            F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long"),
        )
        .withColumn(
            "seq_id",
            F.floor(F.col("seq_offset") / F.lit(max_tokens)).cast("long"),
        )
    )


# ---------------------------------------------------------------------------
# Group-level curation (domain/source gating)
# ---------------------------------------------------------------------------

def filter_by_group_score(
    df: DataFrame,
    group_col: str,
    score_col: str,
    min_avg: Optional[float] = None,
    max_avg: Optional[float] = None,
    broadcast_stats: bool = True,
) -> DataFrame:
    """Domain-level curation: keep rows whose GROUP's average score passes
    the bounds — the "drop the whole spammy domain" gate that row-level
    filters can't express (a good page on a bad domain is still dropped;
    that asymmetry is the point of domain-level filtering).

    Appends ``group_avg_score`` (the group's average, null scores excluded
    from the average; groups with no non-null scores fail any bound).
    Rows with a null group form their own group.

    Two-phase shape: one partially-aggregated ``groupBy(group)`` producing
    one row per group, then an equi-join back. ``broadcast_stats=True``
    (default) hints the stats side — correct when group cardinality is
    bounded (domains, sources, shards); pass ``False`` for unbounded group
    keys and let AQE pick the join strategy.
    """
    if min_avg is None and max_avg is None:
        raise ValueError("need at least one of min_avg / max_avg")
    # sentinel key: an equi-join on the raw group column would DROP null
    # groups (null never equals null in a join) that groupBy happily keeps
    gk = F.coalesce(F.col(group_col).cast("string"), F.lit("\x00null"))
    keyed = df.withColumn("_gk", gk)
    stats = (keyed.groupBy("_gk")
             .agg(F.avg(F.col(score_col)).alias("group_avg_score")))
    if broadcast_stats:
        stats = F.broadcast(stats)
    cond = F.col("group_avg_score").isNotNull()
    if min_avg is not None:
        cond = cond & (F.col("group_avg_score") >= F.lit(float(min_avg)))
    if max_avg is not None:
        cond = cond & (F.col("group_avg_score") <= F.lit(float(max_avg)))
    return keyed.join(stats, on="_gk", how="left").filter(cond).drop("_gk")


def curriculum_bins(
    df: DataFrame,
    score_col: str,
    n_bins: int = 4,
    output_col: str = "bin",
) -> DataFrame:
    """Curriculum bucketing: append ``output_col`` = which equal-population
    score band (0 = lowest .. n_bins-1 = highest) each row falls in — the
    difficulty/quality staging step of curriculum training schedules.

    Two-phase, ntile-free: ONE fused aggregate computes the n_bins-1 exact
    percentile thresholds (shared percentile buffer), collected to the
    driver and inlined as literals, so the assignment is a map-only
    codegen projection — no global sort, no window, unlike ``ntile()``
    (which would single-partition the whole table). The trade: ties AT a
    threshold all land in the lower band, so populations are equal only up
    to tie mass — the deterministic contract an oracle can replay, where
    ntile's arbitrary tie split is engine-private. Null scores get a null
    bin.
    """
    if n_bins < 2:
        raise ValueError(f"n_bins must be >= 2, got {n_bins}")
    qs = [i / n_bins for i in range(1, n_bins)]
    row = df.agg(F.percentile(F.col(score_col).cast("double"),
                              F.array(*[F.lit(q) for q in qs]))
                 .alias("_t")).collect()[0]["_t"]
    if row is None:
        return df.withColumn(output_col, F.lit(None).cast("int"))
    expr = None
    for t in row:
        step = (F.col(score_col).cast("double") > F.lit(float(t))).cast("int")
        expr = step if expr is None else expr + step
    return df.withColumn(
        output_col,
        F.when(F.col(score_col).isNotNull(), expr).cast("int"))


def novelty_score(docs: DataFrame, corpus: DataFrame, k: int = 3,
                  id_col: str = "doc_id", text_col: str = "text"
                  ) -> DataFrame:
    """Per-document n-gram novelty against a reference corpus: the
    fraction of the doc's DISTINCT word-``k``-shingles that appear
    nowhere in the corpus — the memorization / contamination lens
    (novelty 0 = every shingle already exists; 1 = entirely fresh).

    Shape: the corpus collapses ONCE to its distinct shingle-hash set
    (partial-agg shuffle of fixed-width longs — document bodies never
    move), each doc's distinct shingles explode and LEFT-join that set
    on the hash, and a per-doc aggregate computes the unseen fraction.
    Docs shorter than ``k`` tokens have no shingles → null novelty.
    Returns ``(id_col, n_shingles, n_unseen, novelty)``.
    """
    from ..operators.text import hashed_word_shingles
    from ..operators.dedup import _MERSENNE_PRIME

    def shingled(df):
        return df.select(
            F.col(id_col).alias("_id"),
            F.explode(F.array_distinct(
                hashed_word_shingles(F.col(text_col), k,
                                     modulus=_MERSENNE_PRIME)))
            .alias("_sh"))

    seen = (shingled(corpus).select("_sh").distinct()
            .withColumn("_hit", F.lit(1)))
    doc_sh = shingled(docs)
    marked = doc_sh.join(seen, "_sh", "left")
    per_doc = (marked.groupBy("_id")
               .agg(F.count(F.lit(1)).alias("n_shingles"),
                    F.sum(F.when(F.col("_hit").isNull(), 1).otherwise(0))
                    .alias("n_unseen")))
    base = docs.select(F.col(id_col).alias("_id"))
    return (base.join(per_doc, "_id", "left")
            .select(F.col("_id").alias(id_col),
                    F.coalesce("n_shingles", F.lit(0)).cast("long")
                    .alias("n_shingles"),
                    F.coalesce("n_unseen", F.lit(0)).cast("long")
                    .alias("n_unseen"),
                    F.when(F.col("n_shingles") > 0,
                           F.col("n_unseen").cast("double")
                           / F.col("n_shingles")).alias("novelty")))


def neyman_allocation(df: DataFrame, group_col: str, value_col: str,
                      budget: int) -> DataFrame:
    """Neyman-optimal stratified sample allocation: split ``budget`` rows
    across strata ∝ ``N_h·S_h`` (size × within-stratum stddev) — the
    design that minimizes the estimator variance of a stratified mean for
    a fixed budget (classic survey sampling, Neyman 1934). The planning
    step before `sample_k_per_group` draws an eval set from a skewed
    corpus: volatile strata get proportionally more budget.

    Deterministic largest-remainder rounding: floors first, then one +1
    round by descending fractional part (quantized to 1e-9 — float
    division association differs across engines) with group-name
    tie-break; allocations cap at the stratum size (no up-sampling), and
    capped strata never consume a +1 slot — the remainder round ranks
    only strata with headroom, so the leftover lands with strata that
    can absorb it. When caps leave too little headroom the total may
    still fall short of ``budget`` — by design, never silently
    duplicating rows. Per-stratum stddev quantizes to 1e-6
    before use (engines disagree in stddev's low-order bits). All-zero
    variance (or singleton-only strata) falls back to proportional-to-N.
    Returns ``(group_col, n_rows, stddev, alloc)``.

    Shape: one groupBy over the data; every window after that runs on the
    bounded per-stratum table (strata count, not row count).
    """
    if budget < 0:
        raise ValueError(f"budget must be non-negative, got {budget}")
    g = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.stddev_samp(F.col(value_col).cast("double")).alias("stddev"))
    s_q = F.round(F.coalesce(F.col("stddev"), F.lit(0.0)) * F.lit(1e6)) \
        / F.lit(1e6)
    g = g.withColumn("_w", F.col("n_rows") * s_q)
    everything = Window.partitionBy()
    tot_w = F.sum("_w").over(everything)
    g = g.withColumn("_w", F.when(tot_w > 0, F.col("_w"))
                     .otherwise(F.col("n_rows").cast("double")))
    raw = F.lit(float(budget)) * F.col("_w") / F.sum("_w").over(everything)
    g = g.withColumn("_base",
                     F.least(F.col("n_rows"), F.floor(raw)).cast("long"))
    frac = F.round((raw - F.floor(raw)) * F.lit(1e9)) / F.lit(1e9)
    leftover = F.lit(budget) - F.sum("_base").over(everything)
    # rank only UNCAPPED strata (base < n_rows): a capped stratum in the
    # top-leftover ranks must not consume a +1 slot it cannot take —
    # eligible rows sort first, so rn 1..n_eligible enumerates exactly
    # the strata that can absorb the leftover
    eligible = F.col("_base") < F.col("n_rows")
    rn = F.row_number().over(
        Window.orderBy(eligible.desc(), frac.desc(), F.col(group_col).asc()))
    alloc = (F.col("_base")
             + F.when(eligible & (rn <= leftover),
                      F.lit(1)).otherwise(F.lit(0)))
    return (g.select(group_col, "n_rows", "stddev",
                     alloc.cast("long").alias("alloc")))


def exact_quantile_2pass(df: DataFrame, value_col: str, q: float,
                         n_buckets: int = 1024) -> tuple:
    """EXACT q-quantile (lower / type-1: the element at 0-based rank
    ``floor(q·(n−1))``) WITHOUT a global sort → ``(n, k, value)``
    Python scalars.

    The classic two-pass scheme for quantiles too precise for sketches
    and tables too big to sort: pass 1 bins values into ``n_buckets``
    equi-width buckets over [min, max] (one partial-agg groupBy — only
    bucket COUNTS shuffle); the driver walks the bounded count table to
    find the bucket holding rank k; pass 2 filters to that ONE bucket
    (~n/n_buckets rows under mild uniformity) and takes its
    (k − rank_below)-th smallest via a bounded sort. Driver traffic is
    n_buckets counts + one value — never data. Skewed distributions
    degrade the bucket to more rows (still exact, just a bigger pass-2
    sort); raise ``n_buckets`` or recurse if a single bucket dominates.
    """
    if not 0.0 <= q <= 1.0:
        raise ValueError(f"q must be in [0, 1], got {q}")
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    v = F.col(value_col).cast("double")
    vals = df.filter(v.isNotNull()).select(v.alias("_v"))
    stats = vals.agg(F.count(F.lit(1)).alias("n"), F.min("_v").alias("lo"),
                     F.max("_v").alias("hi")).collect()[0]
    n, lo, hi = int(stats["n"]), stats["lo"], stats["hi"]
    if n == 0:
        return (0, 0, None)
    k = int(q * (n - 1))
    if lo == hi:
        return (n, k, float(lo))
    width = (hi - lo) / n_buckets
    bucket = F.least(F.floor((F.col("_v") - F.lit(lo)) / F.lit(width)),
                     F.lit(n_buckets - 1)).cast("long")
    counts = sorted((r["_b"], r["_c"]) for r in
                    vals.groupBy(bucket.alias("_b"))
                    .agg(F.count(F.lit(1)).alias("_c")).collect())
    below, target = 0, None
    for b, c in counts:
        if below + c > k:
            target = b
            break
        below += c
    # pass 2 filters by the SAME bucket expression as pass 1 — a
    # reconstructed [lo+b·w, lo+(b+1)·w) range could disagree with
    # floor() on boundary values in the last float bit
    in_bucket = (vals.filter(bucket == int(target))
                 .orderBy("_v").limit(k - below + 1).collect())
    return (n, k, float(in_bucket[k - below]["_v"]))


def contamination_report(train_df: DataFrame, eval_df: DataFrame,
                         k: int = 3, id_col: str = "doc_id",
                         text_col: str = "text",
                         threshold: float = 0.5) -> DataFrame:
    """Per-EVAL-doc leakage report — the transparency companion of
    :func:`decontaminate` (which answers "which TRAIN docs to drop");
    this answers the auditor's question "how much of each benchmark item
    already appears in the corpus": for every eval document, the share
    of its distinct word-``k``-shingles found ANYWHERE in train
    (directional containment) → ``(eval_id, n_shingles, n_hit, share,
    leaked)`` with ``leaked = share ≥ threshold``; eval docs shorter
    than ``k`` tokens report 0/0/0.0/false.

    Shape: explode distinct shingle STRINGS on both sides (strings, not
    hashes — the report is exact, no collision caveat), reduce train to
    its DISTINCT shingle set (one partial-agg distinct — the train
    corpus collapses to its vocabulary of shingles), LEFT SEMI join
    eval shingles against it, one groupBy(eval_id). Train text is
    never pairwise-compared — cost is two exploded scans + one
    string-keyed join.
    """
    if not 0 < threshold <= 1:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    e_sh = eval_df.select(
        F.col(id_col).alias("eval_id"),
        F.explode_outer(word_shingles(F.col(text_col), k)).alias("_s"))
    t_sh = (train_df
            .select(F.explode(word_shingles(F.col(text_col), k))
                    .alias("_s"))
            .distinct())
    hit = (e_sh.filter(F.col("_s").isNotNull())
           .join(t_sh, "_s", "left_semi")
           .groupBy("eval_id")
           .agg(F.count(F.lit(1)).cast("long").alias("n_hit")))
    tot = (e_sh.groupBy("eval_id")
           .agg(F.count("_s").cast("long").alias("n_shingles")))
    share = (F.when(F.col("n_shingles") > 0,
                    F.col("n_hit").cast("double")
                    / F.col("n_shingles").cast("double"))
             .otherwise(F.lit(0.0)))
    return (tot.join(hit, "eval_id", "left")
            .withColumn("n_hit", F.coalesce("n_hit", F.lit(0)))
            .withColumn("share",
                        F.round(share * 1e4) / 1e4 + F.lit(0.0))
            .withColumn("leaked", F.col("share") >= float(threshold))
            .select("eval_id", "n_shingles", "n_hit", "share", "leaked"))


def mix_manifest(df: DataFrame, source_col: str, text_col: str,
                 weights: dict, target_total_tokens: int) -> DataFrame:
    """Training-mix manifest: given per-source corpus stats and a target
    token budget with design weights, the sampling rate (and implied
    epoch count) each source needs → ``(source, n_docs, n_tokens,
    weight, need_tokens, sampling_rate, epochs)``.

    The planning step of dataset mixing (cf. temperature/token mixture
    samplers in this module, which EXECUTE a mix): ``need = weight ×
    target_total``; ``sampling_rate = need / n_tokens`` (> 1 ⇒ the
    source repeats — ``epochs = ceil(rate)`` passes with the remainder
    subsampled).  ONE whitespace-token-count aggregation over the
    corpus; the manifest is #sources rows.  Sources present in
    ``weights`` but absent from the corpus error loudly (a silent 0-row
    mix is a training bug); corpus sources missing from ``weights`` get
    weight 0 (excluded, listed).
    """
    if not weights:
        raise ValueError("weights must be non-empty")
    tot_w = float(sum(weights.values()))
    if abs(tot_w - 1.0) > 1e-6:
        raise ValueError(f"weights must sum to 1, got {tot_w}")
    if target_total_tokens <= 0:
        raise ValueError("target_total_tokens must be positive")
    g = (df.filter(F.col(source_col).isNotNull())
         .groupBy(F.col(source_col).alias("source"))
         .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
              F.sum(token_count(F.col(text_col))).cast("long")
              .alias("n_tokens")))
    spark = df.sparkSession
    wdf = spark.createDataFrame(
        [(k, float(v)) for k, v in weights.items()],
        f"source {df.schema[source_col].dataType.simpleString()}, "
        "weight double")
    m = g.join(wdf, "source", "full_outer")
    missing = m.filter(F.col("n_docs").isNull()).select("source").collect()
    if missing:
        raise ValueError(
            "weighted sources absent from corpus: "
            f"{sorted(r['source'] for r in missing)}")
    w = F.coalesce("weight", F.lit(0.0))
    need = w * F.lit(float(target_total_tokens))
    rate = F.when(F.col("n_tokens") > 0, need / F.col("n_tokens")
                  .cast("double")).otherwise(F.lit(0.0))
    r4 = lambda e: F.round(e * 1e4) / 1e4 + F.lit(0.0)  # noqa: E731
    return m.select(
        "source", "n_docs", "n_tokens", r4(w).alias("weight"),
        F.round(need).cast("long").alias("need_tokens"),
        r4(rate).alias("sampling_rate"),
        F.ceil(rate).cast("long").alias("epochs"))


def dup_ngram_rate(df: DataFrame, group_col: str, text_col: str = "text",
                   n: int = 5) -> DataFrame:
    """Duplicate-n-gram rate per group — the memorization-risk dial
    (the quantity span-level dedup [Lee et al. ACL 2022] exists to
    push down): of all word-``n``-gram OCCURRENCES in a group, what
    share are repeats of an n-gram already seen in that group?

        dup_rate = 1 − distinct_ngrams / total_ngrams

    → ``(group, n_docs, total_ngrams, distinct_ngrams, dup_rate)``
    (rate 4 decimals, null when a group has no n-grams).  One explode
    + one partial-agg groupBy(group) with a count-distinct — the
    distinct set never materializes per doc.  Groups are independent;
    for the corpus-wide number pass a constant group column.
    """
    from .text import word_ngrams

    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    g = (df.filter(F.col(group_col).isNotNull())
         .select(F.col(group_col).alias("group"),
                 word_ngrams(F.col(text_col), n).alias("_ng")))
    docs = g.groupBy("group").agg(F.count(F.lit(1)).cast("long")
                                  .alias("n_docs"))
    ex = g.select("group", F.explode("_ng").alias("_s"))
    agg = (ex.groupBy("group")
           .agg(F.count(F.lit(1)).cast("long").alias("total_ngrams"),
                F.count_distinct("_s").cast("long")
                .alias("distinct_ngrams")))
    r4 = lambda e: F.round(e * 1e4) / 1e4 + F.lit(0.0)  # noqa: E731
    return (docs.join(agg, "group", "left")
            .select("group", "n_docs",
                    F.coalesce("total_ngrams", F.lit(0)).alias("total_ngrams"),
                    F.coalesce("distinct_ngrams", F.lit(0))
                    .alias("distinct_ngrams"),
                    F.when(F.col("total_ngrams") > 0,
                           r4(F.lit(1.0)
                              - F.col("distinct_ngrams").cast("double")
                              / F.col("total_ngrams").cast("double")))
                    .alias("dup_rate")))
