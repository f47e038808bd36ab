"""Collaborative-filtering recommendations: item-item cosine neighbors.

Beyond-reference operator (classic item-based CF, Sarwar et al. WWW
2001): from an implicit-feedback interaction table (user, item), score
item pairs by the cosine of their binary user vectors

    cos(i, j) = |U_i ∩ U_j| / sqrt(|U_i| · |U_j|)

and keep each item's top-k neighbors — the precomputed similarity table
an online recommender serves lookups from.

100-TB shape: the quadratic step is per-user pair generation, bounded
by ``max_user_items``² after dropping power users (the same hub cap as
``graph.link_prediction`` / the basket operators — a crawler account
interacting with every item would otherwise create an all-pairs row
set).  Engines (r12 verdict task 4, guide §4.2/§2.3):

- ``join`` — one groupBy(user) for the cap, one pair-keyed partial-agg
  groupBy for co-counts, two degree joins, one per-item window for the
  top-k.  No collect, no cross join: the route a 100 TB interaction
  table takes.
- ``kernel`` — below ``SPARK_GRAFT_REC_LOCAL_MAX_ROWS`` collected
  interaction rows (default 4M ≈ 64 MB of id pairs; the hub cap then
  bounds pairs at ``max_user_items × rows``), the whole reduction is
  one numpy pass over the collected projection: closed-form pair
  indexing (``pairgen``), one ``np.unique`` co-count, bincount degrees,
  exact HALF_UP rounding.  The distributed route pays 4 exchanges + a
  window sort to decide about a handful of MB — pure fixed latency at
  local scale (measured ~2.9-3.3 s for a <10 MB incidence).
- ``auto`` — probe with ``limit(cap+1)``; kernel iff it fits.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import (DoubleType, IntegerType, LongType,
                               StructField, StructType)

from bid_evaluation_ext.dispatch import local_cap

from .pairgen import (group_pair_indices, half_up4 as _half_up4,
                      shifted_group_pairs)


def item_item_cosine(interactions: DataFrame, user_col: str,
                     item_col: str, k: int = 10,
                     max_user_items: int = 256,
                     min_common: int = 2,
                     engine: str = "auto") -> DataFrame:
    """Top-k cosine-similar items per item → ``(item, neighbor, common,
    cosine, rnk)`` with rnk 1..k ordered by (cosine desc, neighbor asc)
    — deterministic under ties.  ``cosine`` rounds to 4 decimals BEFORE
    ranking so the order is reproducible across engines.

    Users with more than ``max_user_items`` distinct items are dropped
    entirely (hub cap; degrees count the capped table so the cosine
    stays a true cosine on the retained data).  Pairs sharing fewer
    than ``min_common`` users are pruned before ranking.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if engine not in ("auto", "join", "kernel"):
        raise ValueError(f"engine must be auto/join/kernel, got {engine!r}")
    raw = (interactions
           .select(F.col(user_col).alias("_u"), F.col(item_col).alias("_i"))
           .filter(F.col("_u").isNotNull() & F.col("_i").isNotNull()))
    if engine != "join":
        cap = local_cap("SPARK_GRAFT_REC_LOCAL_MAX_ROWS", 4_000_000)
        pdf = (raw.toPandas() if engine == "kernel"
               else raw.limit(cap + 1).toPandas())
        if engine == "kernel" or len(pdf) <= cap:
            out = _cosine_kernel(interactions, item_col, pdf, k,
                                 max_user_items, min_common,
                                 force=engine == "kernel")
            if out is not None:
                return out
    inc = raw.distinct()
    kept = inc.join(
        inc.groupBy("_u").agg(F.count(F.lit(1)).alias("_sz"))
           .filter(F.col("_sz") <= max_user_items)
           .select("_u"),
        "_u")
    deg = kept.groupBy(F.col("_i").alias("item")).agg(
        F.count(F.lit(1)).cast("long").alias("n_users"))
    a = kept.select("_u", F.col("_i").alias("item"))
    b = kept.select("_u", F.col("_i").alias("neighbor"))
    co = (a.join(b, "_u")
          .filter(F.col("item") != F.col("neighbor"))
          .groupBy("item", "neighbor")
          .agg(F.count(F.lit(1)).cast("long").alias("common"))
          .filter(F.col("common") >= int(min_common)))
    di = deg.select(F.col("item"), F.col("n_users").alias("_ni"))
    dj = deg.select(F.col("item").alias("neighbor"),
                    F.col("n_users").alias("_nj"))
    cos = (F.round(F.col("common").cast("double")
                   / F.sqrt(F.col("_ni").cast("double")
                            * F.col("_nj").cast("double")) * 1e4) / 1e4
           + F.lit(0.0))
    w = Window.partitionBy("item").orderBy(F.desc("cosine"),
                                           F.asc("neighbor"))
    return (co.join(di, "item").join(dj, "neighbor")
            .withColumn("cosine", cos)
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
            .select("item", "neighbor", "common", "cosine", "rnk"))


def _cosine_kernel(interactions: DataFrame, item_col: str, pdf,
                   k: int, max_user_items: int, min_common: int,
                   force: bool = False) -> DataFrame | None:
    """One numpy pass over the collected ``(_u, _i)`` projection —
    value-identical to the join engine (the cosine arithmetic is the
    same IEEE ops in the same order; parity-tested).  Returns ``None``
    (→ caller falls back to the join engine) when the post-cap pair
    count exceeds ``SPARK_GRAFT_REC_LOCAL_MAX_PAIRS`` — the row cap
    alone does not bound Σ sz² when ``max_user_items`` is large."""
    spark = interactions.sparkSession
    node_t = interactions.schema[item_col].dataType
    schema = StructType([
        StructField("item", node_t), StructField("neighbor", node_t),
        StructField("common", LongType()),
        StructField("cosine", DoubleType()),
        StructField("rnk", IntegerType()),
    ])

    import pandas as pd

    def _empty():
        return spark.createDataFrame(
            pd.DataFrame({"item": [], "neighbor": [], "common": [],
                          "cosine": [], "rnk": []}), schema=schema)

    if len(pdf) == 0:
        return _empty()
    pdf = pdf.drop_duplicates(["_u", "_i"])
    u_vals, u_codes = np.unique(pdf["_u"].to_numpy(), return_inverse=True)
    i_vals, i_codes = np.unique(pdf["_i"].to_numpy(), return_inverse=True)
    n_items = len(i_vals)
    # hub cap on distinct items per user, then degrees on the CAPPED table
    u_sizes = np.bincount(u_codes, minlength=len(u_vals))
    row_keep = u_sizes[u_codes] <= int(max_user_items)
    uk, ik = u_codes[row_keep], i_codes[row_keep]
    if len(uk) == 0:
        return _empty()
    order = np.argsort(uk, kind="stable")
    uk, ik = uk[order], ik[order]
    deg = np.bincount(ik, minlength=n_items).astype(np.int64)
    counts = np.bincount(uk, minlength=uk[-1] + 1)
    counts = counts[counts > 0]
    if not force and int((counts * counts).sum()) > local_cap(
            "SPARK_GRAFT_REC_LOCAL_MAX_PAIRS", 64_000_000):
        return None
    # co-counts are symmetric: count UNORDERED pairs and mirror at the
    # end. Small (hub-capped) groups take the O(max-group) shifted-mask
    # path — ~5x less array traffic than the Σc² closed form.
    if int(counts.max()) <= 64:
        li, ri = shifted_group_pairs(uk)
        x, y = ik[li], ik[ri]            # distinct items ((u,i) distinct)
        mn, mx = np.minimum(x, y), np.maximum(x, y)
        key = mn.astype(np.int64) * n_items + mx
        ukey, cnt = np.unique(key, return_counts=True)
        keep = cnt >= int(min_common)
        ukey, cnt = ukey[keep], cnt[keep].astype(np.int64)
        if len(ukey) == 0:
            return _empty()
        mn_u, mx_u = ukey // n_items, ukey % n_items
        a_code = np.concatenate([mn_u, mx_u])
        b_code = np.concatenate([mx_u, mn_u])
        common = np.concatenate([cnt, cnt])
    else:
        left, right, _ = group_pair_indices(counts)
        sel = left != right
        ai, bi = ik[left[sel]], ik[right[sel]]
        key = ai.astype(np.int64) * n_items + bi
        ukey, common = np.unique(key, return_counts=True)
        keep = common >= int(min_common)
        ukey, common = ukey[keep], common[keep].astype(np.int64)
        if len(ukey) == 0:
            return _empty()
        a_code, b_code = ukey // n_items, ukey % n_items
    cosine = _half_up4(
        common.astype(np.float64)
        / np.sqrt(deg[a_code].astype(np.float64)
                  * deg[b_code].astype(np.float64)))
    # rank per item by (cosine desc, neighbor-value asc); np.unique codes
    # are value-sorted, so code order == value order
    srt = np.lexsort((b_code, -cosine, a_code))
    a_s, b_s, c_s, cos_s = a_code[srt], b_code[srt], common[srt], cosine[srt]
    first = np.flatnonzero(np.r_[True, a_s[1:] != a_s[:-1]])
    group_start = np.repeat(first, np.diff(np.r_[first, len(a_s)]))
    rnk = np.arange(len(a_s)) - group_start + 1
    topk = rnk <= int(k)
    out = pd.DataFrame({
        "item": i_vals[a_s[topk]], "neighbor": i_vals[b_s[topk]],
        "common": c_s[topk], "cosine": cos_s[topk],
        "rnk": rnk[topk].astype(np.int32)})
    return spark.createDataFrame(out, schema=schema)
