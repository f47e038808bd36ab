"""Spatial self-join: all pairs within a euclidean radius, grid-blocked.

Beyond-reference operator (no counterpart in ``/root/reference``): the
classic fixed-radius near-neighbor join, the 2-D analogue of the LSH /
band blocking used throughout :mod:`.dedup` — bucket space into cells of
side ``radius``, emit each LEFT point into its 3×3 cell neighborhood,
equi-join on the cell against RIGHT points in their OWN cell, then apply
the exact distance predicate. Any qualifying pair is ≤ ``radius`` apart,
so the partner's cell is one of those 9 — recall is exactly 1, and each
pair matches in exactly one (left-candidate-cell, right-own-cell) combo,
so no dedup pass is needed.

Scale shape: the join is a plain equi-join on the cell key — both sides
hash-partition on it; candidate volume is 9·n rows instead of the n²
cross product. Work per cell is |cell|² — dense hotspots (urban cores,
clustered embeddings) skew the shuffle exactly like hot join keys; AQE's
skew split handles moderate cases, and for pathological density shrink
``radius`` (cells are the salt) or pre-aggregate coincident points.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from bid_evaluation_ext.dispatch import local_cap


def radius_join(df: DataFrame, id_col: str, x_col: str, y_col: str,
                radius: float) -> DataFrame:
    """All unordered point pairs within ``radius`` (euclidean, inclusive)
    → ``(id_a, id_b, dist)`` with ``id_a < id_b`` and ``dist`` rounded to
    4 decimals. Null coordinates are excluded by contract.

    The exact predicate compares SQUARED distance against ``radius²``
    (no sqrt in the hot filter); sqrt runs once per surviving pair.
    """
    if radius <= 0:
        raise ValueError(f"radius must be positive, got {radius}")
    pts = (df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
           .select(F.col(id_col).alias("_id"),
                   F.col(x_col).cast("double").alias("_x"),
                   F.col(y_col).cast("double").alias("_y")))
    r = float(radius)
    cx = F.floor(F.col("_x") / r)
    cy = F.floor(F.col("_y") / r)

    right = pts.select(F.col("_id").alias("_idb"), F.col("_x").alias("_xb"),
                       F.col("_y").alias("_yb"), cx.alias("_cx"),
                       cy.alias("_cy"))
    offsets = F.expr("explode(array(-1L, 0L, 1L))")
    left = (pts.select("_id", "_x", "_y", cx.alias("_cx0"), cy.alias("_cy0"))
            .withColumn("_dx", offsets)
            .withColumn("_dy", F.expr("explode(array(-1L, 0L, 1L))"))
            .select(F.col("_id").alias("_ida"), F.col("_x").alias("_xa"),
                    F.col("_y").alias("_ya"),
                    (F.col("_cx0") + F.col("_dx")).alias("_cx"),
                    (F.col("_cy0") + F.col("_dy")).alias("_cy")))

    dx = F.col("_xa") - F.col("_xb")
    dy = F.col("_ya") - F.col("_yb")
    d2 = dx * dx + dy * dy
    return (left.join(right, ["_cx", "_cy"])
            .filter((F.col("_ida") < F.col("_idb")) & (d2 <= F.lit(r * r)))
            .select(F.col("_ida").alias("id_a"), F.col("_idb").alias("id_b"),
                    (F.round(F.sqrt(d2) * 1e4) / 1e4 + F.lit(0.0))
                    .alias("dist")))


def dbscan(df: DataFrame, id_col: str, x_col: str, y_col: str,
           eps: float, min_pts: int = 4,
           max_cc_iter: int = 20) -> DataFrame:
    """Grid-blocked DBSCAN (Ester et al. KDD 1996) → ``(id, role,
    cluster_id)`` with ``role ∈ {'core', 'border', 'noise'}`` and
    ``cluster_id = min(core id)`` of the cluster (null for noise).

    Pure composition of verified pieces — no new join geometry:

    1. ε-neighbor pairs from :func:`radius_join` (cell blocking,
       recall exactly 1);
    2. core points = neighbor count ≥ ``min_pts − 1`` (the point
       itself completes the classic ≥ min_pts neighborhood);
    3. clusters = connected components over CORE–CORE pairs only
       (``dedup.near_duplicate_clusters`` — min-label propagation,
       checkpoint-truncated rounds);
    4. border points attach to the smallest cluster id among their
       core neighbors (deterministic under the textbook's
       order-dependent tie — DBSCAN borders are ambiguous by
       definition; min() pins them);
    5. everything else is noise.

    Scale: steps 1-2 are the radius join's cost envelope; step 3 runs
    on core-core pairs (≤ pair count); steps 4-5 are one groupBy and
    two left joins keyed on id. Isolated core points (no core
    neighbor) form their own singleton clusters.
    """
    if min_pts < 2:
        raise ValueError(f"min_pts must be >= 2, got {min_pts}")
    from .cache import track_cached
    from .dedup import _CC_LOCAL_MAX_EDGES, near_duplicate_clusters

    pts = (df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
           .select(F.col(id_col).alias("id")))
    pairs = radius_join(df, id_col, x_col, y_col, eps)
    # the ε-pair table feeds FOUR independent consumers (degree count,
    # core-core pairs — themselves read twice by the CC engine —, the
    # border attachment, and the emptiness probe); unpersisted, each one
    # re-runs the cell-blocked self-join from the scan (measured: a
    # 4,445-line physical plan with 173 Exchanges at sf0.1). Persist the
    # symmetric pair view once; downstream branches are joins over it.
    sym = (pairs.select(F.col("id_a").alias("id"),
                        F.col("id_b").alias("nbr"))
           .unionByName(pairs.select(F.col("id_b").alias("id"),
                                     F.col("id_a").alias("nbr")))
           .persist())
    degs = sym.groupBy("id").agg(F.count(F.lit(1)).alias("_deg"))
    # core ids are read by cc_pairs (both sides), border_cl (both sides)
    # and core_cl — a tiny id-only frame; cache it too
    core = (degs.filter(F.col("_deg") >= int(min_pts) - 1).select("id")
            .persist())
    # cc_pairs feeds THREE consumers (the emptiness probe and the CC
    # engine's ids + dir_e scans) — persist, and probe with a full
    # count() so the probe job is also the one that fills the cache
    # (limit(1) would cache only the partitions it touched)
    cc_pairs = (sym.join(core, "id", "left_semi")
                .join(core.select(F.col("id").alias("nbr")), "nbr",
                      "left_semi")
                .filter(F.col("id") < F.col("nbr"))
                .persist())
    n_cc = cc_pairs.count()
    has_cc = n_cc > 0
    if has_cc:
        # engine choice from the edge count the probe already paid for:
        # small graphs (≤ SPARK_GRAFT_CC_LOCAL_MAX edges, default 2M ≈
        # 32 MB) run single-task union-find — the distributed rounds are
        # pure fixed latency there (~5 shuffled stages + checkpoint +
        # driver sync PER ROUND to label a graph union-find finishes in
        # milliseconds). Above the ceiling: twophase — grid-adjacent
        # cores form CHAINY components whose diameter grows with point
        # density, and large-star/small-star converges in O(log² n)
        # rounds vs label propagation's O(diameter) (measured 11.7 s →
        # see NOTES.md round-7 A/B).
        import os
        local_max = local_cap("SPARK_GRAFT_CC_LOCAL_MAX", _CC_LOCAL_MAX_EDGES)
        clusters = near_duplicate_clusters(
            cc_pairs, "id", "nbr", max_iter=max_cc_iter,
            algorithm="local" if n_cc <= local_max else "twophase")
    else:
        # empty frame derived from the input's id TYPE (a hardcoded
        # long schema breaks the downstream join for string ids)
        clusters = pts.limit(0).select(
            "id", F.col("id").alias("cluster_id"))
    # isolated cores (no core neighbor) cluster with themselves.
    # core_cl is consumed twice (role join + border attachment) and its
    # `clusters` input is itself a lazy join over the CC engine's cached
    # frames — persist the one-row-per-core result instead of inlining
    # that subtree twice into the final plan.
    core_cl = (core.join(clusters, "id", "left")
               .select("id", F.coalesce("cluster_id", "id")
                       .alias("cluster_id"))
               .persist())
    border_cl = (sym.join(core.select(F.col("id").alias("nbr")), "nbr",
                          "left_semi")
                 .join(core, "id", "left_anti")
                 .join(core_cl.select(F.col("id").alias("nbr"),
                                      F.col("cluster_id")), "nbr")
                 .groupBy("id")
                 .agg(F.min("cluster_id").alias("cluster_id")))
    out = (pts.join(core_cl.withColumn("_role", F.lit("core")), "id",
                    "left")
           .join(border_cl.withColumnRenamed("cluster_id", "_bcl"), "id",
                 "left"))
    out = out.select(
        "id",
        F.when(F.col("_role").isNotNull(), F.lit("core"))
        .when(F.col("_bcl").isNotNull(), F.lit("border"))
        .otherwise(F.lit("noise")).alias("role"),
        F.coalesce(F.col("cluster_id"), F.col("_bcl")).alias("cluster_id"))
    # sym/core/core_cl must stay persisted until the caller materializes
    # the returned lazy plan — register them for the harnesses'
    # release()/release_all() sweep (the repo-wide pattern)
    return track_cached(
        out, [sym, core, cc_pairs, core_cl]
        + list(getattr(clusters, "_cached_deps", [])))


def geo_radius_join(df: DataFrame, id_col: str, lat_col: str,
                    lon_col: str, radius_km: float,
                    max_abs_lat: float = 85.0) -> DataFrame:
    """All point pairs within ``radius_km`` GREAT-CIRCLE kilometers
    (haversine) → ``(id_a, id_b, dist_km)`` with ``id_a < id_b``,
    distance rounded to 4 decimals — :func:`radius_join`'s geodetic
    sibling for lat/lon data.

    Blocking: latitude bands of ``radius_km`` degrees-equivalent;
    within a band, the ring of longitudes splits into equal cells whose
    width is the EXACT haversine bound on a qualifying pair's longitude
    separation, ``2·asin(sin(r/2R) / √(cos φ_a · cos φ_b))`` with the
    geometric-mean cosine taken at the band's worst latitude and its
    cross-band partner's (one Δφ higher) — the linear ``Δλ/cos(band)``
    approximation under-covers near a band's top latitude and for
    cross-band pairs, silently dropping in-radius pairs at high
    latitude. Cells are ``360/⌊360/bound⌋`` wide (uniform around the
    ring — a truncated final cell could otherwise leave a
    wrap-straddling pair two ring indices apart). Each left point
    probes its 3×3 neighborhood — any qualifying pair shares one of
    those 9 cells, so recall is 1 and the join stays a plain
    cell-keyed equi-join. Poles are excluded (``|lat| > max_abs_lat``,
    where the cell width degenerates); the antimeridian is handled by
    probing wrapped cell indices. The exact haversine runs only on
    cell-mates.
    """
    import math as _math

    if radius_km <= 0:
        raise ValueError(f"radius_km must be positive, got {radius_km}")
    if not 0 < max_abs_lat < 90:
        raise ValueError("max_abs_lat must be in (0, 90)")
    earth_r = 6371.0
    # exact Δφ bound in degrees (+ float margin); a rounded km-per-deg
    # constant here can make bands an ulp too narrow for a pair at
    # exactly radius distance
    dlat = _math.degrees(float(radius_km) / earth_r) * 1.0001
    sin_half = _math.sin(float(radius_km) / (2.0 * earth_r))
    mal = float(max_abs_lat)
    pts = (df.filter(F.col(lat_col).isNotNull()
                     & F.col(lon_col).isNotNull()
                     & (F.abs(F.col(lat_col)) <= mal))
           .select(F.col(id_col).alias("_id"),
                   F.col(lat_col).cast("double").alias("_la"),
                   F.col(lon_col).cast("double").alias("_lo")))
    band = F.floor(F.col("_la") / F.lit(dlat))

    def _ring(band_col):
        """(cell count, cell width°) for a band: exact asin bound with
        cross-band geometric-mean cos, clamped to the |lat| filter."""
        bma = F.least(F.greatest(F.abs(band_col * dlat),
                                 F.abs((band_col + 1) * dlat)),
                      F.lit(mal))
        partner = F.least(bma + F.lit(dlat), F.lit(mal))
        cos_g = F.sqrt(F.cos(F.radians(bma)) * F.cos(F.radians(partner)))
        bound = (F.degrees(2.0 * F.asin(
            F.least(F.lit(1.0), F.lit(sin_half) / cos_g)))
            * F.lit(1.0001))
        nc = F.greatest(F.floor(F.lit(360.0) / bound).cast("long"),
                        F.lit(1))
        return nc, F.lit(360.0) / nc.cast("double")

    nc_r, w_r = _ring(band)
    cell = F.pmod(F.floor((F.col("_lo") + 180.0) / w_r).cast("long"), nc_r)
    right = pts.select(F.col("_id").alias("_idb"),
                       F.col("_la").alias("_lab"),
                       F.col("_lo").alias("_lob"),
                       band.alias("_by"), cell.alias("_bx"))
    offy = F.expr("explode(array(-1L, 0L, 1L))")
    offx = F.expr("explode(array(-1L, 0L, 1L))")
    left_band = band + F.col("_dy")
    nc_l, w_l = _ring(left_band)
    left = (pts.withColumn("_dy", offy).withColumn("_dx", offx)
            # the probed band's OWN ring geometry decides its cell width
            .withColumn("_by", left_band)
            .withColumn("_bx", F.pmod(
                F.floor((F.col("_lo") + 180.0) / w_l).cast("long")
                + F.col("_dx"), nc_l))
            .select("_id", "_la", "_lo", "_by", "_bx"))
    hav = 2.0 * F.lit(6371.0) * F.asin(F.sqrt(
        F.pow(F.sin(F.radians(F.col("_lab") - F.col("_la")) / 2), 2)
        + F.cos(F.radians("_la")) * F.cos(F.radians("_lab"))
        * F.pow(F.sin(F.radians(F.col("_lob") - F.col("_lo")) / 2), 2)))
    joined = (left.join(right, ["_by", "_bx"])
              .filter(F.col("_id") < F.col("_idb"))
              .withColumn("_d", hav)
              .filter(F.col("_d") <= float(radius_km)))
    return (joined.select(F.col("_id").alias("id_a"),
                          F.col("_idb").alias("id_b"),
                          (F.round(F.col("_d") * 1e4) / 1e4 + F.lit(0.0))
                          .alias("dist_km"))
            .distinct())
