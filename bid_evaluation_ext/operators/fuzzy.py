"""Fuzzy (edit-distance) string join — entity-resolution matching.

Beyond-reference operator: match rows whose strings are within Levenshtein
distance ``max_dist`` WITHOUT an all-pairs comparison, the
blocking-then-verify shape every other candidate generator in this repo
uses (MinHash bands, SimHash chunks, IVF lists):

- **q-gram count filtering** (the classic bound): an edit operation
  destroys at most ``q`` of a string's positional q-grams, so strings
  within distance ``d`` share at least ``(len−q+1) − q·d`` q-grams as a
  MULTISET. Candidates come from one equi-join on the gram value with
  per-side gram counts, multiset-intersected via ``Σ min(count_a,
  count_b)`` per pair, filtered against BOTH strings' bounds.
- **short-string escape**: when ``len < q·(d+1)`` the bound drops below 1
  and a zero-shared-gram pair could still match — those strings instead
  block by a length window (dist ≤ d ⇒ length gap ≤ d), an equi-join on
  exploded candidate lengths. Any pair within distance d has BOTH lengths
  below ``q·(d+1)+d`` when either side is short, so the two paths
  together are EXACT (union, dedup, verify).
- **verify**: ``levenshtein() ≤ d`` on the candidates only — the same
  function DuckDB ships, so the oracle can simply run the all-pairs
  ground truth and the result sets must be identical (blocking exactness
  is part of what the oracle checks).

Scale: the gram join shuffles (gram, id, count) rows — grams of SHORT
entity strings (names, titles), not documents; frequent grams are the
skew hazard and ``max_gram_df`` optionally drops grams above a document
frequency (documented as approximate when set). Verify cost is bounded
by the candidate count.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame, functions as F

from bid_evaluation_ext.dispatch import local_cap

__all__ = ["fuzzy_join"]


def _grams(col: Column, q: int) -> Column:
    """Positional character q-grams as an array (len<q → the whole string)."""
    n = F.length(col)
    return F.when(
        n < q, F.array(col)
    ).otherwise(
        F.transform(F.sequence(F.lit(1), n - q + 1),
                    lambda i: col.substr(i, F.lit(q))))


def fuzzy_join(left: DataFrame, right: DataFrame, text_col: str = "name",
               left_id: str = "id", right_id: str = "id",
               max_dist: int = 2, q: int = 2,
               max_gram_df: Optional[int] = None,
               engine: str = "auto") -> DataFrame:
    """Pairs within Levenshtein distance ``max_dist`` →
    ``(left_id, right_id, dist)``. Exact (see module docstring) unless
    ``max_gram_df`` prunes frequent grams. Null strings never match.

    Engines (r12 opt, the set-similarity pattern): gram blocking
    degenerates on LOW-gram-diversity keyspaces (e.g. 1,000 supplier
    names share 109 distinct bigrams — the gram equi-join approaches
    all-pairs through a shuffle). ``auto`` collects both sides below
    ``SPARK_GRAFT_FUZZY_LOCAL_MAX_ROWS`` rows each (default 4,096, plus
    a DP-cell work guard) and computes the IDENTICAL output — every row
    pair within the length window scored by a batch-vectorized
    Levenshtein DP, emitted from workers per left-row block. Output
    equivalence is the module's own exactness lemma: the join route's
    candidates ⊇ all true pairs and its verify is exact levenshtein, so
    both engines emit exactly the row pairs with ``dist ≤ max_dist``
    (duplicate ids included — the join re-expands candidate id pairs to
    all row combos, which is what the row-level kernel enumerates).
    ``max_gram_df`` (approximate blocking) always takes the join route,
    as does ``engine="join"``."""
    if max_dist < 1:
        raise ValueError(f"max_dist must be >= 1, got {max_dist}")
    if q < 1:
        raise ValueError(f"q must be >= 1, got {q}")
    if engine not in ("auto", "kernel", "join"):
        raise ValueError(f"engine must be 'auto', 'kernel' or 'join', "
                         f"got {engine!r}")
    if engine == "kernel" and max_gram_df is not None:
        raise ValueError("kernel engine is exact; max_gram_df requires "
                         "the join engine")
    if engine != "join" and max_gram_df is None:
        out = _fuzzy_join_local(left, right, text_col, left_id, right_id,
                                max_dist, force=(engine == "kernel"))
        if out is not None:
            return out
        if engine == "kernel":
            raise ValueError("kernel engine exceeded its row/work caps")
    short_len = q * (max_dist + 1)

    def prep(df, id_col, side):
        return df.select(
            F.col(id_col).alias(f"{side}_id"),
            F.col(text_col).alias(f"_{side}_s"),
            F.length(text_col).alias(f"_{side}_n"),
        ).filter(F.col(f"_{side}_s").isNotNull())

    a = prep(left, left_id, "l")
    b = prep(right, right_id, "r")

    # --- long path: q-gram multiset count filtering -----------------------
    def gram_counts(df, side):
        return (df.filter(F.col(f"_{side}_n") >= short_len)
                .select(f"{side}_id", f"_{side}_n",
                        F.explode(_grams(F.col(f"_{side}_s"), q))
                        .alias("_g"))
                .groupBy(f"{side}_id", f"_{side}_n", "_g")
                .agg(F.count("*").alias(f"_c{side}")))

    ga = gram_counts(a, "l")
    gb = gram_counts(b, "r")
    if max_gram_df is not None:
        freq = gb.groupBy("_g").count().filter(F.col("count") <= max_gram_df)
        gb = gb.join(freq.select("_g"), on="_g", how="left_semi")
    shared = (ga.join(gb, on="_g")
              .groupBy("l_id", "r_id", "_l_n", "_r_n")
              .agg(F.sum(F.least("_cl", "_cr")).alias("_sh")))
    bound_l = F.col("_l_n") - q + 1 - q * max_dist
    bound_r = F.col("_r_n") - q + 1 - q * max_dist
    long_cand = (shared
                 .filter((F.abs(F.col("_l_n") - F.col("_r_n")) <= max_dist)
                         & (F.col("_sh") >= F.greatest(bound_l, F.lit(1)))
                         & (F.col("_sh") >= F.greatest(bound_r, F.lit(1))))
                 .select("l_id", "r_id"))

    # --- short path: length-window blocking -------------------------------
    cap = short_len + max_dist
    sa = a.filter(F.col("_l_n") < cap)
    sb = (b.filter(F.col("_r_n") < cap)
          .withColumn("_len", F.explode(F.sequence(
              F.col("_r_n") - max_dist, F.col("_r_n") + max_dist)))
          .filter(F.col("_len") >= 0))
    short_cand = (sa.join(sb, sa["_l_n"] == sb["_len"])
                  # only pairs where at least one side is genuinely short —
                  # both-long pairs belong to (and are exact in) the gram path
                  .filter((F.col("_l_n") < short_len)
                          | (F.col("_r_n") < short_len))
                  .select("l_id", "r_id"))

    cand = long_cand.union(short_cand).distinct()
    verified = (cand.join(a, on="l_id").join(b, on="r_id")
                .withColumn("dist", F.levenshtein("_l_s", "_r_s"))
                .filter(F.col("dist") <= max_dist)
                .select("l_id", "r_id", F.col("dist").cast("long")))
    return verified


def fellegi_sunter_score(pairs: DataFrame, comparisons: dict,
                         lower: float = 0.0,
                         upper: float = 4.0) -> DataFrame:
    """Fellegi-Sunter probabilistic record-linkage scoring (Fellegi &
    Sunter, JASA 1969 — the canonical ER decision model): each field
    comparison contributes ``ln(m/u)`` on agreement and
    ``ln((1−m)/(1−u))`` on disagreement; the summed log-likelihood ratio
    classifies pairs into ``link`` / ``possible`` / ``non_link`` by the
    two thresholds. The probabilistic upgrade over the plain edit-
    distance verify in :func:`fuzzy_join`: fields carry different
    evidence weights (a matching rare field means more than a matching
    common one).

    ``comparisons`` maps field name → ``(agree_col, m, u)`` where
    ``agree_col`` is a BOOLEAN Column over the pairs frame (exact
    equality, within-epsilon, token overlap — caller's choice; null
    agreement counts as disagreement, documented). ``m``/``u`` are the
    pinned match/non-match agreement probabilities — train them via EM
    or label audits offline; this op is the scoring pass. Map-only:
    score and class are pure projections over the candidate-pair frame
    (generation stays the blocking join's job).
    """
    import math

    if not comparisons:
        raise ValueError("need at least one field comparison")
    if not lower <= upper:
        raise ValueError(f"need lower <= upper, got {lower} > {upper}")
    score = F.lit(0.0)
    for field, (agree, m, u) in comparisons.items():
        if not 0 < m < 1 or not 0 < u < 1:
            raise ValueError(f"{field}: m/u must be in (0,1), got {m}, {u}")
        w_agree = math.log(m / u)
        w_dis = math.log((1.0 - m) / (1.0 - u))
        score = score + F.when(F.coalesce(agree, F.lit(False)),
                               F.lit(w_agree)).otherwise(F.lit(w_dis))
    cls = (F.when(score >= F.lit(float(upper)), F.lit("link"))
           .when(score >= F.lit(float(lower)), F.lit("possible"))
           .otherwise(F.lit("non_link")))
    return pairs.select("*", score.alias("fs_score"),
                        cls.alias("fs_class"))


def fellegi_sunter_em(pairs: DataFrame, agreements: dict,
                      init_m: float = 0.8, init_u: float = 0.1,
                      init_p: float = 0.3, rounds: int = 5) -> DataFrame:
    """Unsupervised EM training of the Fellegi-Sunter ``m``/``u``
    probabilities (Winkler's classic EM for record linkage — public
    methodology): per round, the E-step scores every candidate pair's
    match posterior ``g = p·Π(m|1−m) / (p·Π(m|1−m) + (1−p)·Π(u|1−u))``
    and the M-step re-estimates ``m_f = Σg·a_f/Σg``,
    ``u_f = Σ(1−g)·a_f/Σ(1−g)``, ``p = Σg/n`` — training IS aggregation:
    each round is ONE fused aggregate over the pair frame (map-side
    partial), only 2·|fields|+1 scalars visit the driver, so the pair
    count can be arbitrary. Deterministic given the init (no random
    restarts); factor multiplication follows dict order, so an engine
    replaying the arithmetic lands on the same doubles.

    ``agreements`` maps field → BOOLEAN Column (null = disagreement,
    as in :func:`fellegi_sunter_score`). Returns one row per field:
    ``(field, m, u, p, n_pairs, rounds)`` — feed the fitted ``m``/``u``
    into :func:`fellegi_sunter_score`. Estimates clamp to
    [1e-6, 1−1e-6] (EM can collapse a perfectly-separating field to
    0/1, which breaks the next round's logs/products).
    """
    if not agreements:
        raise ValueError("need at least one field comparison")
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    for nm, v in (("init_m", init_m), ("init_u", init_u),
                  ("init_p", init_p)):
        if not 0 < v < 1:
            raise ValueError(f"{nm} must be in (0,1), got {v}")
    fields = list(agreements)
    flags = pairs.select(*[
        F.coalesce(agreements[f], F.lit(False)).cast("double")
        .alias(f"_a_{i}") for i, f in enumerate(fields)])

    lo, hi = 1e-6, 1.0 - 1e-6
    m = {f: float(init_m) for f in fields}
    u = {f: float(init_u) for f in fields}
    p = float(init_p)
    n = None
    for _ in range(rounds):
        w_match = F.lit(p)
        w_non = F.lit(1.0 - p)
        for i, f in enumerate(fields):
            a = F.col(f"_a_{i}")
            w_match = w_match * (a * F.lit(m[f])
                                 + (1.0 - a) * F.lit(1.0 - m[f]))
            w_non = w_non * (a * F.lit(u[f])
                             + (1.0 - a) * F.lit(1.0 - u[f]))
        g = w_match / (w_match + w_non)
        aggs = [F.count(F.lit(1)).alias("_n"), F.sum(g).alias("_sg")]
        for i, f in enumerate(fields):
            aggs.append(F.sum(g * F.col(f"_a_{i}")).alias(f"_sga_{i}"))
            aggs.append(F.sum((1.0 - g) * F.col(f"_a_{i}"))
                        .alias(f"_sua_{i}"))
        row = flags.agg(*aggs).collect()[0]
        n, sg = int(row["_n"]), float(row["_sg"])
        if n == 0:
            raise ValueError("empty pair frame")
        # Degenerate-posterior guard: when every pair's g rounds to
        # exactly 1.0 (compounded likelihood ratios underflow w_non
        # below 1 ulp) sg == n and the u-denominator hits 0; mirror the
        # [1e-6, 1-1e-6] estimate clamps on both denominators (a no-op
        # off the boundary, so oracle arithmetic is unchanged).
        for i, f in enumerate(fields):
            m[f] = min(max(float(row[f"_sga_{i}"]) / max(sg, 1e-9), lo), hi)
            u[f] = min(max(float(row[f"_sua_{i}"]) / max(n - sg, 1e-9),
                           lo), hi)
        p = min(max(sg / n, lo), hi)

    spark = pairs.sparkSession
    return spark.createDataFrame(
        [(f, m[f], u[f], p, n, rounds) for f in fields],
        "field string, m double, u double, p double, "
        "n_pairs long, rounds long")


def _fuzzy_join_local(left: DataFrame, right: DataFrame, text_col: str,
                      left_id: str, right_id: str, max_dist: int,
                      force: bool = False):
    """Dense row-level twin of the blocking join: collect both sides,
    score every row pair within the length window with a
    batch-vectorized Levenshtein DP, emit from workers per left block.
    Returns ``None`` above the row caps / DP-cell work guard (caller
    falls back to the gram/length blocking join)."""
    import os

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as _T
    from pyspark.sql.types import LongType, StructField, StructType

    cap = local_cap("SPARK_GRAFT_FUZZY_LOCAL_MAX_ROWS", 4096)

    def _collect(df, id_col, side):
        sel = df.select(F.col(id_col).alias("_id"),
                        F.col(text_col).alias("_s"))
        sel = sel.filter(F.col("_s").isNotNull())
        return sel.toPandas() if force else sel.limit(cap + 1).toPandas()

    lp = _collect(left, left_id, "l")
    if not force and len(lp) > cap:
        return None
    rp = _collect(right, right_id, "r")
    if not force and len(rp) > cap:
        return None

    def _norm_fn(t):
        if isinstance(t, (_T.LongType, _T.IntegerType, _T.ShortType,
                          _T.ByteType)):
            return int
        if isinstance(t, (_T.DoubleType, _T.FloatType)):
            return float
        return lambda x: x

    l_type = left.schema[left_id].dataType
    r_type = right.schema[right_id].dataType
    schema = StructType([StructField("l_id", l_type),
                         StructField("r_id", r_type),
                         StructField("dist", LongType())])
    spark = left.sparkSession
    if len(lp) == 0 or len(rp) == 0:
        return spark.createDataFrame([], schema)

    def _pack(pdf, norm, pad):
        ids, lens, strs = [], [], []
        for rid, s in zip(pdf["_id"], pdf["_s"]):
            if rid is None or (isinstance(rid, float) and np.isnan(rid)):
                # null ids never survive the join route's id join-back
                continue
            ids.append(norm(rid))
            strs.append(s)
            lens.append(len(s))
        n = len(ids)
        if n == 0:
            return ids, None, None, None
        maxl = max(lens) if lens else 0
        M = np.full((n, max(maxl, 1)), pad, dtype=np.int32)
        for i, s in enumerate(strs):
            if s:
                M[i, :len(s)] = [ord(c) for c in s]
        return ids, M, np.asarray(lens, dtype=np.int32), maxl

    l_ids, Lm, Ll, _ = _pack(lp, _norm_fn(l_type), -1)
    r_ids, Rm, Rl, rmax = _pack(rp, _norm_fn(r_type), -2)
    if not l_ids or not r_ids:
        return spark.createDataFrame([], schema)
    # work guard: total DP cells across the length-window pair set —
    # above it the distributed (spillable) blocking join is the answer
    win = (np.abs(Ll[:, None].astype(np.int64) - Rl[None, :]) <= max_dist)
    cells = int((win * (Ll[:, None].astype(np.int64) * Rl[None, :])).sum())
    if not force and cells > local_cap("SPARK_GRAFT_FUZZY_LOCAL_MAX_CELLS", 2000000000):
        return None
    del win

    d = int(max_dist)
    nL = len(l_ids)
    idx_df = spark.range(nL).select(F.col("id").cast("int").alias("_li"))
    n_slots = max(1, min(int(spark.sparkContext.defaultParallelism), nL))

    def kernel(batches):
        jcols = np.arange(rmax + 1, dtype=np.int32)[None, :]
        for pdf in batches:
            o_l, o_r, o_d = [], [], []
            for li in pdf["_li"]:
                li = int(li)
                mask = np.abs(Rl - Ll[li]) <= d
                js = np.nonzero(mask)[0]
                if len(js) == 0:
                    continue
                la = int(Ll[li])
                B, lb = Rm[js], Rl[js]
                P = len(js)
                prev = np.tile(np.arange(rmax + 1, dtype=np.int32), (P, 1))
                out = np.empty(P, dtype=np.int32)
                if la == 0:
                    out[:] = lb
                else:
                    a = Lm[li]
                    done0 = lb == 0
                    for i in range(1, la + 1):
                        sub = prev[:, :-1] + (a[i - 1] != B).astype(np.int32)
                        M = np.empty_like(prev)
                        M[:, 0] = i
                        np.minimum(prev[:, 1:] + 1, sub, out=M[:, 1:])
                        cur = (np.minimum.accumulate(M - jcols, axis=1)
                               + jcols)
                        prev = cur
                    out = prev[np.arange(P), lb]
                    if done0.any():
                        out[done0] = la
                hits = np.nonzero(out <= d)[0]
                me = l_ids[li]
                for j in hits.tolist():
                    o_l.append(me)
                    o_r.append(r_ids[js[j]])
                    o_d.append(int(out[j]))
            yield pd.DataFrame({"l_id": o_l, "r_id": o_r, "dist": o_d})

    return idx_df.repartition(n_slots).mapInPandas(kernel, schema)
