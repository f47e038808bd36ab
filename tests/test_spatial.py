"""Grid-blocked radius join: hand cases, cell-boundary recall, and a
brute-force differential."""

import math

import pytest

from bid_evaluation_ext.operators.spatial import radius_join


def _pairs(spark, pts, r):
    df = spark.createDataFrame(pts, "pid long, x double, y double")
    return {(row["id_a"], row["id_b"]): row["dist"]
            for row in radius_join(df, "pid", "x", "y", r).collect()}


def test_hand_case(spark):
    out = _pairs(spark, [(1, 0.0, 0.0), (2, 1.0, 0.0), (3, 5.0, 0.0)], 1.5)
    assert out == {(1, 2): 1.0}


def test_cross_cell_boundary_recall(spark):
    # neighbors in DIFFERENT cells (cell side = r = 1.0) must still pair
    out = _pairs(spark, [(1, 0.9, 0.9), (2, 1.05, 1.05)], 1.0)
    assert (1, 2) in out
    assert out[(1, 2)] == pytest.approx(math.hypot(0.15, 0.15), abs=1e-4)


def test_radius_inclusive(spark):
    out = _pairs(spark, [(1, 0.0, 0.0), (2, 2.0, 0.0)], 2.0)
    assert out == {(1, 2): 2.0}


def test_brute_force_differential(spark):
    pts = [(k, (k * 37 % 19) / 2.0, (k * 53 % 23) / 2.0)
           for k in range(60)]
    r = 1.7
    expect = {}
    for i, (ka, xa, ya) in enumerate(pts):
        for kb, xb, yb in pts[i + 1:]:
            d2 = (xa - xb) ** 2 + (ya - yb) ** 2
            if d2 <= r * r:
                a, b = min(ka, kb), max(ka, kb)
                expect[(a, b)] = round(math.sqrt(d2) * 1e4) / 1e4
    got = _pairs(spark, pts, r)
    assert set(got) == set(expect)
    for k in expect:
        assert got[k] == pytest.approx(expect[k], abs=1e-4)


def test_nulls_excluded_and_validation(spark):
    df = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, None, 0.0), (3, 0.1, 0.0)],
        "pid long, x double, y double")
    out = {(row["id_a"], row["id_b"])
           for row in radius_join(df, "pid", "x", "y", 1.0).collect()}
    assert out == {(1, 3)}
    with pytest.raises(ValueError):
        radius_join(df, "pid", "x", "y", 0.0)


def test_dbscan_two_blobs_and_noise(spark):
    from bid_evaluation_ext.operators.spatial import dbscan

    rows = []
    # blob A: 5 tight points at (0,0); blob B: 5 at (100,100); 1 outlier
    for i in range(5):
        rows.append((i, 0.0 + i * 0.1, 0.0))
        rows.append((100 + i, 100.0 + i * 0.1, 100.0))
    rows.append((999, 50.0, 50.0))
    df = spark.createDataFrame(rows, "id long, x double, y double")
    out = {r["id"]: r for r in dbscan(df, "id", "x", "y", eps=1.0,
                                      min_pts=3).collect()}
    assert out[999]["role"] == "noise" and out[999]["cluster_id"] is None
    a_ids = [i for i in range(5)]
    b_ids = [100 + i for i in range(5)]
    assert all(out[i]["role"] == "core" for i in a_ids + b_ids)
    assert len({out[i]["cluster_id"] for i in a_ids}) == 1
    assert len({out[i]["cluster_id"] for i in b_ids}) == 1
    assert out[0]["cluster_id"] != out[100]["cluster_id"]
    assert out[0]["cluster_id"] == min(a_ids)


def test_dbscan_border_attaches_to_min_cluster(spark):
    from bid_evaluation_ext.operators.spatial import dbscan

    # 3 cores in a row (cluster), one point reachable from one core only
    rows = [(1, 0.0, 0.0), (2, 0.5, 0.0), (3, 1.0, 0.0),
            (10, 1.8, 0.0)]  # within eps of 3 only -> 1 neighbor -> border
    df = spark.createDataFrame(rows, "id long, x double, y double")
    out = {r["id"]: r for r in dbscan(df, "id", "x", "y", eps=1.0,
                                      min_pts=3).collect()}
    assert out[1]["role"] == "core" and out[2]["role"] == "core"
    assert out[10]["role"] == "border" and out[10]["cluster_id"] == 1
    import pytest as _p
    with _p.raises(ValueError):
        dbscan(df, "id", "x", "y", eps=1.0, min_pts=1)


def test_dbscan_no_cores_all_noise(spark):
    from bid_evaluation_ext.operators.spatial import dbscan

    rows = [(1, 0.0, 0.0), (2, 50.0, 0.0), (3, 100.0, 0.0)]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    out = dbscan(df, "id", "x", "y", eps=1.0, min_pts=3).collect()
    assert all(r["role"] == "noise" for r in out)


def _hav(a, b):
    import math
    la1, lo1 = a
    la2, lo2 = b
    p = math.pi / 180
    h = (math.sin((la2 - la1) * p / 2) ** 2
         + math.cos(la1 * p) * math.cos(la2 * p)
         * math.sin((lo2 - lo1) * p / 2) ** 2)
    return 2 * 6371.0 * math.asin(math.sqrt(h))


def test_geo_radius_join_matches_bruteforce(spark):
    from bid_evaluation_ext.operators.spatial import geo_radius_join

    pts = [(i, ((i * 13) % 140) - 70.0 + (i % 7) * 0.01,
            ((i * 29) % 360) - 180.0 + (i % 5) * 0.01)
           for i in range(120)]
    df = spark.createDataFrame(pts, "id long, lat double, lon double")
    got = {(r["id_a"], r["id_b"]) for r in
           geo_radius_join(df, "id", "lat", "lon", 150.0).collect()}
    want = {(a[0], b[0]) for i, a in enumerate(pts) for b in pts[i + 1:]
            if _hav((a[1], a[2]), (b[1], b[2])) <= 150.0}
    assert got == want


def test_geo_radius_join_antimeridian_and_distance(spark):
    from bid_evaluation_ext.operators.spatial import geo_radius_join

    pts = [(1, 0.0, 179.9), (2, 0.0, -179.9),   # ~22 km across the seam
           (3, 0.0, 0.0)]
    df = spark.createDataFrame(pts, "id long, lat double, lon double")
    out = geo_radius_join(df, "id", "lat", "lon", 100.0).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["id_a"], r["id_b"]) == (1, 2)
    import pytest as _p
    assert r["dist_km"] == _p.approx(_hav((0, 179.9), (0, -179.9)),
                                     abs=0.01)
    with _p.raises(ValueError):
        geo_radius_join(df, "id", "lat", "lon", 0)


def test_geo_radius_join_high_latitude_band_edge(spark):
    """Round-7 regression (ADVICE): near a band's top latitude the
    linear Δλ = dlat/cos(band) under-covers — the haversine-exact bound
    2·asin(sin(d/2R)/cos φ) exceeds it, and an in-radius pair could land
    2 cells apart and silently drop. Dense lat~80° grid at the 100-km
    band edges, brute-force differential."""
    from bid_evaluation_ext.operators.spatial import geo_radius_join

    pts = []
    i = 0
    # lattices straddling lat 79-81 at steps near the exact 100-km
    # longitude bound (~5.18° at 80°), plus wrap candidates
    for lat10 in range(790, 812, 2):
        for lon10 in range(-1800, -1740, 8):
            pts.append((i, lat10 / 10.0, lon10 / 10.0))
            i += 1
        for lon10 in range(1744, 1800, 8):
            pts.append((i, lat10 / 10.0, lon10 / 10.0))
            i += 1
    df = spark.createDataFrame(pts, "id long, lat double, lon double")
    got = {(r["id_a"], r["id_b"]) for r in
           geo_radius_join(df, "id", "lat", "lon", 100.0).collect()}
    want = {(a[0], b[0]) for k, a in enumerate(pts) for b in pts[k + 1:]
            if _hav((a[1], a[2]), (b[1], b[2])) <= 100.0}
    assert got == want


def test_dbscan_string_ids_no_core_pairs(spark):
    """Round-7 regression (ADVICE): with no core-core pairs the empty
    clusters frame must inherit the input's id TYPE — a hardcoded long
    schema broke the join for string ids."""
    from bid_evaluation_ext.operators.spatial import dbscan

    rows = [("a", 0.0, 0.0), ("b", 50.0, 0.0), ("c", 100.0, 0.0)]
    df = spark.createDataFrame(rows, "id string, x double, y double")
    out = {r["id"]: r for r in
           dbscan(df, "id", "x", "y", eps=1.0, min_pts=3).collect()}
    assert all(out[k]["role"] == "noise" for k in ("a", "b", "c"))

    # isolated-core path (degree >= min_pts-1 but no core NEIGHBOR pair
    # after the id < nbr cut never happens for cores; force singleton
    # cores via two tight pairs far apart with min_pts=2)
    rows2 = [("p1", 0.0, 0.0), ("p2", 0.1, 0.0),
             ("q1", 100.0, 0.0), ("q2", 100.1, 0.0)]
    df2 = spark.createDataFrame(rows2, "id string, x double, y double")
    out2 = {r["id"]: r for r in
            dbscan(df2, "id", "x", "y", eps=1.0, min_pts=2).collect()}
    assert out2["p1"]["cluster_id"] == out2["p2"]["cluster_id"] == "p1"
    assert out2["q1"]["cluster_id"] == out2["q2"]["cluster_id"] == "q1"


def test_geo_radius_join_excludes_poles(spark):
    from bid_evaluation_ext.operators.spatial import geo_radius_join

    pts = [(1, 89.0, 0.0), (2, 89.0, 10.0), (3, 50.0, 0.0),
           (4, 50.0, 0.1)]
    df = spark.createDataFrame(pts, "id long, lat double, lon double")
    out = {(r["id_a"], r["id_b"]) for r in
           geo_radius_join(df, "id", "lat", "lon", 50.0,
                           max_abs_lat=85.0).collect()}
    assert out == {(3, 4)}  # polar points dropped by contract
