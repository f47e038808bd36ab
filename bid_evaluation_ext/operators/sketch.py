"""Mergeable sketch operators: count-min frequency estimation and an
HLL-style distinct counter.

Beyond-reference operators (no counterpart in ``/root/reference``): the
bounded-memory summaries a 100-TB corpus profile runs where exact state
would not fit. Both sketches here are DELIBERATELY deterministic (md5-
derived hashing, no RNG), so an external engine can replay them bit-for-
bit — the DuckDB oracles reproduce bucket indices, register values, and
estimates exactly, which is the same property that makes the existing
hash-sampling suite auditable.

Scale shape: both sketches are plain ``groupBy`` aggregations, so Spark's
partial aggregation IS the sketch-merge operation — each task reduces its
partition to at most (depth × width) / (2^b) rows before the shuffle, and
the exchange moves only sketch cells, never keys. That mergeability is the
whole point of these summaries (the same update/merge algebra works in
Structured Streaming state or across corpus snapshots).

The Spark-idiomatic alternatives — ``approx_count_distinct`` (HLL++) and
``count_min_sketch`` — are the right tools when no cross-engine replay is
needed; these exist to make the sketch math itself an auditable, oracle-
checkable artifact (and to expose the register/cell tables as DataFrames
for persistence and incremental merging).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .text import tokens

__all__ = ["cms_build", "cms_lookup", "cms_topk", "hll_distinct",
           "hll_registers", "hll_estimate_from_registers"]

#: md5-hex prefix width used for 60-bit integer hashes (fits signed 64)
_HEX_DIGITS = 15
_HASH_BITS = 4 * _HEX_DIGITS


def _h60(key: Column, salt: str) -> Column:
    """Deterministic 60-bit non-negative integer hash of ``key || salt``."""
    hx = F.substring(F.md5(F.concat(key, F.lit(salt)).cast("binary")),
                     1, _HEX_DIGITS)
    return F.conv(hx, 16, 10).cast("long")


def cms_build(df: DataFrame, key_col: str, depth: int = 4,
              width: int = 1024, seed: str = "cms") -> DataFrame:
    """Count-min sketch of ``key_col`` occurrences → ``(row, bucket, cnt)``
    with ``depth × width`` cells max.

    Each input row increments one bucket per sketch row (``depth``
    pairwise-independent-ish md5 hashes). The single ``groupBy`` gives
    map-side partial aggregation: every task emits at most depth×width
    cells regardless of input size — the sketch-merge property. Null keys
    hash a sentinel (dropping them would silently undercount).
    """
    if depth < 1 or width < 2:
        raise ValueError(f"need depth >= 1 and width >= 2, got {depth}x{width}")
    key = F.coalesce(F.col(key_col).cast("string"), F.lit("\x00null"))
    buckets = F.array(*[(_h60(key, f"{seed}{j}") % width) for j in range(depth)])
    return (df.select(F.posexplode(buckets).alias("row", "bucket"))
            .groupBy("row", "bucket").agg(F.count("*").alias("cnt")))


def cms_lookup(sketch: DataFrame, keys: DataFrame, key_col: str,
               depth: int = 4, width: int = 1024,
               seed: str = "cms") -> DataFrame:
    """Point-estimate every row of ``keys``: est = min over sketch rows of
    the key's cell — the classic count-min upper-bound estimate (always
    ≥ the true count; equality unless collisions). Parameters must match
    the ``cms_build`` call. Shape: explode keys ×depth, equi-join on the
    (row, bucket) cell grid, min-agg back to one row per key."""
    key = F.coalesce(F.col(key_col).cast("string"), F.lit("\x00null"))
    buckets = F.array(*[(_h60(key, f"{seed}{j}") % width) for j in range(depth)])
    probes = keys.select(
        F.col(key_col), F.posexplode(buckets).alias("row", "bucket"))
    return (probes.join(sketch, on=["row", "bucket"], how="left")
            .groupBy(key_col)
            .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0)))
                 .cast("long").alias("est")))


def cms_topk(df: DataFrame, text_col: str = "text", k: int = 20,
             depth: int = 4, width: int = 1024, seed: str = "cms",
             lowercase: bool = True,
             with_exact: bool = False) -> DataFrame:
    """Heavy hitters over the token stream: build a count-min sketch of all
    token occurrences, estimate each candidate token, return the top ``k``
    by ``(est desc, token asc)`` — deterministic, so rank ties never flip.

    Candidates are the distinct tokens (one extra groupBy); the sketch
    bounds the COUNTING state — the piece that must be mergeable across
    tasks, streams, or corpus snapshots. ``with_exact=True`` joins the true
    count next to the estimate (est ≥ exact always; the gap is collision
    inflation) — the audit shape, at the cost of an exact count aggregate.
    """
    text = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    toks = df.select(F.explode(tokens(text)).alias("_tok"))
    sketch = cms_build(toks, "_tok", depth=depth, width=width, seed=seed)
    cand = toks.distinct()
    est = cms_lookup(sketch, cand, "_tok", depth=depth, width=width,
                     seed=seed)
    if with_exact:
        exact = toks.groupBy("_tok").agg(F.count("*").alias("exact"))
        est = est.join(exact, on="_tok")
    out = est.withColumnRenamed("_tok", "token")
    return out.orderBy(F.desc("est"), F.asc("token")).limit(k)


def hll_distinct(df: DataFrame, key_col: str, b: int = 10,
                 seed: str = "hll",
                 with_exact: bool = False) -> DataFrame:
    """HyperLogLog-style distinct count → one row
    ``(estimate, m, zero_registers[, exact])``.

    Flajolet's estimator on ``m = 2^b`` registers: bucket = low ``b`` bits
    of a 60-bit md5 hash, register = max over bucket of the leading-zero
    rank of the remaining ``60-b`` bits, ``E = α_m·m²/Σ 2^{-M_j}`` with the
    linear-counting small-range correction (``E ≤ 2.5m`` and empty
    registers present ⇒ ``m·ln(m/V)``). One groupBy (≤ m rows survive each
    task — mergeable), one tiny final agg. Deterministic: md5, not a
    seeded RNG, so the DuckDB oracle reproduces every register and the
    estimate bit-for-bit. Nulls hash a sentinel and count as one key.
    """
    regs = hll_registers(df, key_col, b=b, seed=seed)
    est = hll_estimate_from_registers(regs, b)
    if with_exact:
        key = F.coalesce(F.col(key_col).cast("string"), F.lit("\x00null"))
        exact = df.select(key.alias("_k")).distinct().count()
        est = est.withColumn("exact", F.lit(int(exact)).cast("long"))
    return est


def hll_registers(df: DataFrame, key_col: str, b: int = 10,
                  seed: str = "hll") -> DataFrame:
    """The HLL state table ``(_idx, _M)`` — at most ``2^b`` rows, merged
    across any partitioning (or across sketches) by ``max(_M)`` per
    bucket. Exposed so incremental/streaming maintenance can persist and
    merge register tables directly (see ``streaming/sketch.py``)."""
    if not 4 <= b <= 16:
        raise ValueError(f"b must be in [4, 16], got {b}")
    m = 1 << b
    w_bits = _HASH_BITS - b
    key = F.coalesce(F.col(key_col).cast("string"), F.lit("\x00null"))
    h = _h60(key, seed)
    idx = (h % m).alias("_idx")
    rest = F.shiftright(h, b)
    # leading-zero rank of the (60-b)-bit word: W - bitlen(rest) + 1;
    # bin() has no leading zeros so length(bin(x)) IS the bit length
    rho = F.when(rest == 0, F.lit(w_bits + 1)).otherwise(
        F.lit(w_bits) - F.length(F.bin(rest)) + 1)
    return (df.select(idx, rho.alias("_rho"))
            .groupBy("_idx").agg(F.max("_rho").alias("_M")))


def hll_estimate_from_registers(regs: DataFrame, b: int) -> DataFrame:
    """Flajolet estimator over a register table (one tiny agg) →
    ``(estimate, m, zero_registers)``."""
    m = 1 << b
    alpha = 0.7213 / (1.0 + 1.079 / m)
    if m <= 16:
        alpha = 0.673
    elif m <= 32:
        alpha = 0.697
    elif m <= 64:
        alpha = 0.709
    agg = regs.agg(
        F.sum(F.pow(F.lit(2.0), -F.col("_M"))).alias("_z_present"),
        F.count("*").alias("_present"))
    est = (agg.select(
        (F.lit(float(alpha * m * m))
         / (F.col("_z_present")
            + (F.lit(m) - F.col("_present")).cast("double"))).alias("_raw"),
        (F.lit(m) - F.col("_present")).cast("long").alias("zero_registers"))
        .select(
            F.when((F.col("_raw") <= F.lit(2.5 * m))
                   & (F.col("zero_registers") > 0),
                   F.lit(float(m))
                   * F.log(F.lit(float(m))
                           / F.col("zero_registers").cast("double")))
            .otherwise(F.col("_raw")).alias("estimate"),
            F.lit(m).cast("long").alias("m"),
            "zero_registers"))
    return est


def hll_registers_by_group(df: DataFrame, group_col: str, key_col: str,
                           b: int = 10, seed: str = "hll") -> DataFrame:
    """Per-group HLL state ``(group_col, _idx, _M)`` — at most ``2^b`` rows
    PER GROUP survive each task (partial max before the shuffle), merged
    across partitions/sketches by ``max(_M)`` per (group, bucket). The
    grouped twin of :func:`hll_registers` for "distinct X per segment" at
    corpus scale."""
    if not 4 <= b <= 16:
        raise ValueError(f"b must be in [4, 16], got {b}")
    m = 1 << b
    w_bits = _HASH_BITS - b
    key = F.coalesce(F.col(key_col).cast("string"), F.lit("\x00null"))
    h = _h60(key, seed)
    rest = F.shiftright(h, b)
    rho = F.when(rest == 0, F.lit(w_bits + 1)).otherwise(
        F.lit(w_bits) - F.length(F.bin(rest)) + 1)
    return (df.select(F.col(group_col), (h % m).alias("_idx"),
                      rho.alias("_rho"))
            .groupBy(group_col, "_idx").agg(F.max("_rho").alias("_M")))


def hll_distinct_by_group(df: DataFrame, group_col: str, key_col: str,
                          b: int = 10, seed: str = "hll") -> DataFrame:
    """Approximate distinct ``key_col`` per ``group_col`` — one register
    shuffle (≤ groups × 2^b rows) + one per-group estimator agg, the same
    Flajolet + linear-counting arithmetic as the global sketch. Returns
    ``(group_col, estimate, m, zero_registers)``; deterministic md5
    hashing, so an engine-independent oracle reproduces every register."""
    m = 1 << b
    alpha = 0.7213 / (1.0 + 1.079 / m)
    if m <= 16:
        alpha = 0.673
    elif m <= 32:
        alpha = 0.697
    elif m <= 64:
        alpha = 0.709
    regs = hll_registers_by_group(df, group_col, key_col, b=b, seed=seed)
    agg = regs.groupBy(group_col).agg(
        F.sum(F.pow(F.lit(2.0), -F.col("_M"))).alias("_zp"),
        F.count(F.lit(1)).alias("_present"))
    zero = (F.lit(m) - F.col("_present")).cast("long")
    raw = (F.lit(float(alpha * m * m))
           / (F.col("_zp") + (F.lit(m) - F.col("_present")).cast("double")))
    est = (F.when((raw <= F.lit(2.5 * m)) & (zero > 0),
                  F.lit(float(m)) * F.log(F.lit(float(m))
                                          / zero.cast("double")))
           .otherwise(raw))
    return agg.select(group_col, est.alias("estimate"),
                      F.lit(m).cast("long").alias("m"),
                      zero.alias("zero_registers"))


def cms_topk_by_group(df: DataFrame, group_col: str, text_col: str = "text",
                      k: int = 10, depth: int = 4, width: int = 1024,
                      seed: str = "cms", lowercase: bool = True,
                      with_exact: bool = False) -> DataFrame:
    """Heavy hitters PER GROUP over the token stream — the grouped twin of
    :func:`cms_topk`: one count-min sketch per group (cells bounded at
    groups × depth × width with map-side partial aggregation), candidate
    tokens estimated via the cell equi-join, top ``k`` per group by
    ``(est desc, token asc)`` through a group-partitioned row_number (no
    global sort). Same deterministic md5 hashing as the global sketch, so
    an engine-independent oracle replays every cell."""
    from pyspark.sql import Window

    text = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    toks = df.select(F.col(group_col), F.explode(tokens(text)).alias("_tok"))
    key = F.coalesce(F.col("_tok").cast("string"), F.lit("\x00null"))
    buckets = F.array(*[(_h60(key, f"{seed}{j}") % width)
                        for j in range(depth)])
    sketch = (toks.select(group_col, F.posexplode(buckets)
                          .alias("row", "bucket"))
              .groupBy(group_col, "row", "bucket")
              .agg(F.count(F.lit(1)).alias("cnt")))
    cand = toks.distinct()
    probes = cand.select(group_col, "_tok",
                         F.posexplode(buckets).alias("row", "bucket"))
    est = (probes.join(sketch, on=[group_col, "row", "bucket"], how="left")
           .groupBy(group_col, "_tok")
           .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0)))
                .cast("long").alias("est")))
    if with_exact:
        exact = (toks.groupBy(group_col, "_tok")
                 .agg(F.count(F.lit(1)).alias("exact")))
        est = est.join(exact, on=[group_col, "_tok"])
    w = (Window.partitionBy(group_col)
         .orderBy(F.desc("est"), F.asc("_tok")))
    return (est.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k).drop("_rn")
            .withColumnRenamed("_tok", "token"))


def hll_overlap(a: DataFrame, b_df: DataFrame, key_col: str,
                b: int = 10, seed: str = "hll") -> DataFrame:
    """Sketch-algebra corpus overlap: |A|, |B| and |A∪B| from THREE HLL
    estimates (the union sketch is the elementwise register max — the
    mergeability that makes HLL a distributed-systems primitive), then
    inclusion-exclusion gives the intersection and Jaccard WITHOUT ever
    joining the corpora — the O(2^b)-state answer to "how much do these
    two 100-TB corpora overlap" that the exact distinct-digest join
    answers at full shuffle cost. Returns one row ``(est_a, est_b,
    est_union, est_intersection, jaccard)``.

    Deterministic md5 registers ⇒ fully oracle-replayable. Error: each
    estimate carries HLL's ~1.04/√m relative error and the intersection
    DIFFERENCES them, so small overlaps of large corpora can even go
    negative (clamped at 0, documented) — use the exact digest join when
    the overlap itself is small and precious.
    """
    ra = hll_registers(a, key_col, b=b, seed=seed)
    rb = hll_registers(b_df, key_col, b=b, seed=seed)
    ru = (ra.unionByName(rb).groupBy("_idx")
          .agg(F.max("_M").alias("_M")))

    def est(regs):
        return hll_estimate_from_registers(regs, b).select(
            F.col("estimate")).collect()[0][0]

    ea, eb, eu = est(ra), est(rb), est(ru)
    ei = max(0.0, ea + eb - eu)
    jac = ei / eu if eu > 0 else None
    spark = a.sparkSession
    return spark.createDataFrame(
        [(float(ea), float(eb), float(eu), float(ei),
          float(jac) if jac is not None else None)],
        "est_a double, est_b double, est_union double, "
        "est_intersection double, jaccard double")
