"""PageRank: analytic fixed points, numpy power-iteration parity, dangling
mass, weights, and early stop."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from bid_evaluation_ext.operators.graph import pagerank


def _np_pagerank(nodes, edges, damping=0.85, iters=10):
    """Reference power iteration with the exact same formula."""
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    outw = np.zeros(n)
    for s, d, w in edges:
        outw[idx[s]] += w
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        dangling = r[outw == 0].sum()
        contrib = np.zeros(n)
        for s, d, w in edges:
            contrib[idx[d]] += r[idx[s]] * (w / outw[idx[s]])
        r = (1 - damping) / n + damping * (contrib + dangling / n)
    return {v: r[idx[v]] for v in nodes}


def _run(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src string, dst string, w double")
    return {r["node"]: r["rank"]
            for r in pagerank(df, weight="w", **kw).collect()}


def test_cycle_is_uniform(spark):
    edges = [("a", "b", 1.0), ("b", "c", 1.0), ("c", "a", 1.0)]
    got = _run(spark, edges, max_iter=5)
    for v in "abc":
        assert got[v] == pytest.approx(1 / 3, abs=1e-12)


def test_matches_numpy_power_iteration(spark):
    edges = [("a", "b", 1.0), ("a", "c", 2.0), ("b", "c", 1.0),
             ("c", "a", 1.0), ("d", "a", 1.0), ("b", "d", 3.0)]
    nodes = ["a", "b", "c", "d"]
    want = _np_pagerank(nodes, edges, iters=7)
    got = _run(spark, edges, max_iter=7)
    assert set(got) == set(nodes)
    for v in nodes:
        assert got[v] == pytest.approx(want[v], abs=1e-9)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_dangling_mass_redistributed(spark):
    # b has no out-edges: its rank must be redistributed, total stays 1
    edges = [("a", "b", 1.0), ("c", "b", 1.0)]
    want = _np_pagerank(["a", "b", "c"], edges, iters=6)
    got = _run(spark, edges, max_iter=6)
    for v in "abc":
        assert got[v] == pytest.approx(want[v], abs=1e-9)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_unweighted_counts_parallel_edges(spark):
    df = spark.createDataFrame(
        [("a", "b"), ("a", "b"), ("a", "c")], "src string, dst string")
    got = {r["node"]: r["rank"]
           for r in pagerank(df, max_iter=4).collect()}
    want = _np_pagerank(["a", "b", "c"],
                        [("a", "b", 2.0), ("a", "c", 1.0)], iters=4)
    for v in "abc":
        assert got[v] == pytest.approx(want[v], abs=1e-9)


def test_tol_early_stop_matches_converged(spark):
    edges = [("a", "b", 1.0), ("b", "a", 1.0), ("b", "c", 1.0),
             ("c", "a", 1.0)]
    full = _run(spark, edges, max_iter=60)
    early = _run(spark, edges, max_iter=60, tol=1e-10)
    for v in "abc":
        assert early[v] == pytest.approx(full[v], abs=1e-8)


def test_empty_edges(spark):
    df = spark.createDataFrame([], "src string, dst string, w double")
    assert pagerank(df, weight="w").count() == 0


class TestTriangleCounts:
    def _brute(self, edges):
        from itertools import combinations
        adj = {}
        und = set()
        for a, b in edges:
            if a == b:
                continue
            und.add((min(a, b), max(a, b)))
        for u, v in und:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
        tri = {n: 0 for n in adj}
        for n, nbrs in adj.items():
            for x, y in combinations(sorted(nbrs), 2):
                if y in adj.get(x, ()):
                    tri[n] += 1
        out = {}
        for n in adj:
            d = len(adj[n])
            cc = 2.0 * tri[n] / (d * (d - 1)) if d >= 2 else None
            out[n] = (d, tri[n], cc)
        return out

    def test_crafted_and_random(self, spark):
        import random

        from bid_evaluation_ext.operators.graph import triangle_counts

        crafted = [(1, 2), (2, 3), (1, 3),          # triangle
                   (3, 4), (4, 5),                  # tail (no triangle)
                   (2, 1), (1, 1),                  # dup direction + loop
                   (6, 7), (7, 8), (6, 8), (6, 9), (7, 9), (8, 9)]  # K4
        rng = random.Random(3)
        rand = [(rng.randint(0, 25), rng.randint(0, 25)) for _ in range(150)]
        for edges in (crafted, rand):
            df = spark.createDataFrame(edges, "a long, b long")
            got = {r["node"]: (r["degree"], r["triangles"],
                               r["clustering_coeff"])
                   for r in triangle_counts(df, "a", "b").collect()}
            want = self._brute(edges)
            assert set(got) == set(want)
            for n in want:
                d, t, cc = want[n]
                gd, gt, gcc = got[n]
                assert (gd, gt) == (d, t), n
                if cc is None:
                    assert gcc is None
                else:
                    assert gcc == pytest.approx(cc, abs=1e-12)

    def test_k4_counts(self, spark):
        from bid_evaluation_ext.operators.graph import triangle_counts

        k4 = [(i, j) for i in range(4) for j in range(i + 1, 4)]
        df = spark.createDataFrame(k4, "a long, b long")
        rows = triangle_counts(df, "a", "b").collect()
        assert all(r["triangles"] == 3 and r["degree"] == 3
                   and r["clustering_coeff"] == 1.0 for r in rows)

    def test_local_matches_join_engine(self, spark, monkeypatch):
        """r12 opt: the dense-adjacency driver kernel must be
        value-identical to the wedge-join engine — dense and sparse
        random graphs, string ids, null/self-loop/dup normalization,
        the node-cap fallback, and the env-cap routing."""
        import random

        from bid_evaluation_ext.operators.graph import triangle_counts

        rng = random.Random(7)
        dense = [(rng.randint(0, 15), rng.randint(0, 15))
                 for _ in range(160)]
        sparse = [(rng.randint(0, 200), rng.randint(0, 200))
                  for _ in range(120)]
        strs = [(f"n{u}", f"n{v}") for u, v in sparse[:60]]
        messy = [(1, 2), (2, 1), (1, 1), (None, 2), (3, None), (2, 3),
                 (1, 3)]

        def rows(df, **kw):
            return sorted(
                (r["node"], r["degree"], r["triangles"],
                 None if r["clustering_coeff"] is None
                 else round(r["clustering_coeff"], 12))
                for r in triangle_counts(df, "a", "b", **kw).collect())

        for edges, typ in ((dense, "a long, b long"),
                           (sparse, "a long, b long"),
                           (strs, "a string, b string"),
                           (messy, "a long, b long")):
            df = spark.createDataFrame(edges, typ)
            assert rows(df, engine="local") == rows(df, engine="join")

        # node cap exceeded -> auto silently falls back to the join
        # engine; edge cap 0 -> auto collects nothing and joins
        df = spark.createDataFrame(dense, "a long, b long")
        monkeypatch.setenv("SPARK_GRAFT_TRI_LOCAL_MAX_NODES", "3")
        assert rows(df) == rows(df, engine="join")
        monkeypatch.setenv("SPARK_GRAFT_TRI_LOCAL_MAX_NODES", "4096")
        monkeypatch.setenv("SPARK_GRAFT_TRI_LOCAL_MAX_EDGES", "0")
        assert rows(df) == rows(df, engine="join")
        monkeypatch.delenv("SPARK_GRAFT_TRI_LOCAL_MAX_EDGES")
        monkeypatch.delenv("SPARK_GRAFT_TRI_LOCAL_MAX_NODES")
        with pytest.raises(ValueError, match="engine"):
            triangle_counts(df, "a", "b", engine="bogus")
        # empty edge list: both engines emit zero rows
        empty = spark.createDataFrame([], "a long, b long")
        assert rows(empty, engine="local") == rows(empty,
                                                   engine="join") == []


class TestTextRank:
    def test_hub_word_ranks_first(self, spark):
        from bid_evaluation_ext.operators.graph import textrank_keywords

        d = spark.createDataFrame(
            [(1, "apple banana apple cherry apple banana")],
            "doc_id long, text string")
        rows = textrank_keywords(d, top_k=3).orderBy("rk").collect()
        assert rows[0]["word"] == "apple"
        assert [r["rk"] for r in rows] == [1, 2, 3]

    def test_matches_pagerank_on_single_doc(self, spark):
        """textrank is the grouped pagerank: on one document its ranks
        must equal running the corpus-level pagerank operator over the
        same undirected co-occurrence edge list."""
        from bid_evaluation_ext.operators.graph import (pagerank,
                                                          textrank_keywords)

        text = "a b c a b d e a c"
        toks = text.split()
        pair_counts = {}
        for x, y in zip(toks, toks[1:]):
            for s, t in ((x, y), (y, x)):
                pair_counts[(s, t)] = pair_counts.get((s, t), 0) + 1
        edges = spark.createDataFrame(
            [(s, t, float(c)) for (s, t), c in pair_counts.items()],
            "src string, dst string, w double")
        pr = {r["node"]: r["rank"]
              for r in pagerank(edges, weight="w", damping=0.85,
                                max_iter=3).collect()}
        d = spark.createDataFrame([(1, text)], "doc_id long, text string")
        tr = {r["word"]: r["rank"]
              for r in textrank_keywords(d, n_iters=3, top_k=10).collect()}
        assert set(tr) == set(pr)
        for wd, rv in tr.items():
            assert rv == pytest.approx(round(pr[wd] * 1e6) / 1e6, abs=2e-6)

    def test_docs_are_independent(self, spark):
        from bid_evaluation_ext.operators.graph import textrank_keywords

        solo = spark.createDataFrame(
            [(1, "x y x z y")], "doc_id long, text string")
        both = spark.createDataFrame(
            [(1, "x y x z y"), (2, "p q r p q p")],
            "doc_id long, text string")
        a = {(r["word"], r["rank"])
             for r in textrank_keywords(solo, top_k=5).collect()}
        b = {(r["word"], r["rank"])
             for r in textrank_keywords(both, top_k=5)
             .filter(F.col("doc_id") == 1).collect()}
        assert a == b

    def test_degenerate_docs_yield_nothing(self, spark):
        from bid_evaluation_ext.operators.graph import textrank_keywords

        d = spark.createDataFrame(
            [(1, "single"), (2, ""), (3, None), (4, "   ")],
            "doc_id long, text string")
        assert textrank_keywords(d).count() == 0

    def test_window_widens_edges(self, spark):
        from bid_evaluation_ext.operators.graph import textrank_keywords

        # with window=3, "a ... c" two apart co-occur; ranks must differ
        # from the window=2 graph on a path where that matters
        d = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        w2 = {r["word"]: r["rank"]
              for r in textrank_keywords(d, window=2, top_k=3).collect()}
        w3 = {r["word"]: r["rank"]
              for r in textrank_keywords(d, window=3, top_k=3).collect()}
        # window=2: b is the hub; window=3: a-c edge evens the graph out
        assert w2["b"] > w2["a"]
        assert w3["b"] < w2["b"]


class TestBfsDistances:
    def _bfs(self, spark, edges, seeds, **kw):
        from bid_evaluation_ext.operators.graph import bfs_distances

        e = spark.createDataFrame(edges, "src long, dst long")
        s = spark.createDataFrame([(x,) for x in seeds], "node long")
        return {r["node"]: r["dist"]
                for r in bfs_distances(e, s, **kw).collect()}

    def test_chain_and_hop_bound(self, spark):
        d = self._bfs(spark, [(1, 2), (2, 3), (3, 4)], [1], max_hops=2)
        assert d == {1: 0, 2: 1, 3: 2}  # 4 is 3 hops away — absent

    def test_min_distance_over_multiple_paths(self, spark):
        # 1→2→3 and the 1→3 shortcut: 3 must be dist 1, not 2
        d = self._bfs(spark, [(1, 2), (2, 3), (1, 3)], [1], max_hops=3)
        assert d == {1: 0, 2: 1, 3: 1}

    def test_undirected_reaches_backwards(self, spark):
        d = self._bfs(spark, [(1, 2), (2, 3)], [3], max_hops=1,
                      directed=False)
        assert d == {3: 0, 2: 1}
        assert self._bfs(spark, [(1, 2), (2, 3)], [3], max_hops=1) == {3: 0}

    def test_multi_seed_and_isolated_seed(self, spark):
        d = self._bfs(spark, [(1, 2), (5, 6)], [1, 5, 99], max_hops=1)
        assert d == {1: 0, 5: 0, 99: 0, 2: 1, 6: 1}

    def test_cycle_terminates(self, spark):
        d = self._bfs(spark, [(1, 2), (2, 1)], [1], max_hops=4)
        assert d == {1: 0, 2: 1}


class TestLabelPropagation:
    def _lpa(self, spark, edges, **kw):
        from bid_evaluation_ext.operators.graph import label_propagation

        e = spark.createDataFrame(edges, "src long, dst long")
        return {r["node"]: r["label"]
                for r in label_propagation(e, **kw).collect()}

    def test_two_cliques_converge_to_min_ids(self, spark):
        k1 = [(1, 2), (2, 3), (1, 3)]
        k2 = [(10, 11), (11, 12), (10, 12)]
        out = self._lpa(spark, k1 + k2 + [(3, 10)], max_iter=4)
        # bridge 3-10 must not merge the cliques under min-label ties
        assert out[1] == out[2] == out[3]
        assert out[10] == out[11] == out[12]
        assert out[1] != out[10]

    def test_deterministic_tie_breaks_to_min(self, spark):
        # node 3 sees labels {1, 2} once each after round 1 → takes 1
        out = self._lpa(spark, [(1, 3), (2, 3)], max_iter=1)
        assert out[3] == 1

    def test_directed_respects_edge_direction(self, spark):
        out = self._lpa(spark, [(1, 2)], max_iter=1, directed=True)
        assert out[2] == 1
        assert out[1] == 1  # no in-edges: keeps own label


class TestKCore:
    def _core(self, spark, edges, k, **kw):
        from bid_evaluation_ext.operators.graph import k_core

        e = spark.createDataFrame(edges, "src long, dst long")
        return {r["node"]: r["degree"]
                for r in k_core(e, k, **kw).collect()}

    def test_triangle_plus_tail(self, spark):
        # triangle 1-2-3 with a tail 3-4: 2-core = the triangle
        out = self._core(spark, [(1, 2), (2, 3), (1, 3), (3, 4)], 2)
        assert out == {1: 2, 2: 2, 3: 2}

    def test_cascading_peel(self, spark):
        # path 1-2-3-4-5: 2-core is empty (peeling cascades from the ends)
        out = self._core(spark, [(1, 2), (2, 3), (3, 4), (4, 5)], 2)
        assert out == {}

    def test_fixed_rounds_is_superset(self, spark):
        edges = [(1, 2), (2, 3), (3, 4), (4, 5)]
        partial = self._core(spark, edges, 2, n_rounds=1)
        # one peel removes only the endpoints; interior survives so far
        assert set(partial) == {2, 3, 4}

    def test_k1_keeps_everything_and_validation(self, spark):
        out = self._core(spark, [(1, 2), (3, 4)], 1)
        assert set(out) == {1, 2, 3, 4}
        import pytest as _pt
        with _pt.raises(ValueError):
            self._core(spark, [(1, 2)], 0)


class TestLocalEngineParity:
    """The size-guarded single-task engines must agree with the
    distributed round engines on random graphs (r12 optimization)."""

    def _random_edges(self, seed, n_nodes=40, n_edges=120):
        import random
        rng = random.Random(seed)
        return [(f"n{rng.randrange(n_nodes)}", f"n{rng.randrange(n_nodes)}")
                for _ in range(n_edges)]

    def test_bfs_local_matches_rounds(self, spark):
        from bid_evaluation_ext.operators.graph import bfs_distances

        for seed in (1, 2):
            e = spark.createDataFrame(self._random_edges(seed),
                                      "src string, dst string")
            seeds = spark.createDataFrame([("n0",), ("n1",), ("n0",)],
                                          "node string")
            for directed in (True, False):
                loc = {(r["node"], r["dist"]) for r in bfs_distances(
                    e, seeds, max_hops=3, directed=directed,
                    engine="local").collect()}
                dist = {(r["node"], r["dist"]) for r in bfs_distances(
                    e, seeds, max_hops=3, directed=directed,
                    engine="rounds").collect()}
                assert loc == dist

    def test_lpa_local_matches_rounds(self, spark):
        from bid_evaluation_ext.operators.graph import label_propagation

        for seed in (3, 4):
            e = spark.createDataFrame(self._random_edges(seed),
                                      "src string, dst string")
            for directed in (True, False):
                loc = {(r["node"], r["label"]) for r in label_propagation(
                    e, max_iter=3, directed=directed,
                    engine="local").collect()}
                dist = {(r["node"], r["label"]) for r in label_propagation(
                    e, max_iter=3, directed=directed,
                    engine="rounds").collect()}
                assert loc == dist

    def test_kcore_local_matches_rounds(self, spark):
        from bid_evaluation_ext.operators.graph import k_core

        for seed in (5, 6):
            e = spark.createDataFrame(self._random_edges(seed),
                                      "src string, dst string")
            for n_rounds in (None, 2):
                loc = {(r["node"], r["degree"]) for r in k_core(
                    e, 3, n_rounds=n_rounds, engine="local").collect()}
                dist = {(r["node"], r["degree"]) for r in k_core(
                    e, 3, n_rounds=n_rounds, engine="rounds").collect()}
                assert loc == dist

    def test_bfs_local_null_seed_and_long_ids(self, spark):
        from bid_evaluation_ext.operators.graph import bfs_distances

        e = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
        seeds = spark.createDataFrame([(1,), (None,)], "node long")
        loc = {(r["node"], r["dist"]) for r in bfs_distances(
            e, seeds, max_hops=2, engine="local").collect()}
        dist = {(r["node"], r["dist"]) for r in bfs_distances(
            e, seeds, max_hops=2, engine="rounds").collect()}
        assert loc == dist == {(1, 0), (None, 0), (2, 1), (3, 2)}

    def test_engine_validation(self, spark):
        import pytest as _pt
        from bid_evaluation_ext.operators.graph import (bfs_distances,
                                                          k_core,
                                                          label_propagation)

        e = spark.createDataFrame([(1, 2)], "src long, dst long")
        seeds = spark.createDataFrame([(1,)], "node long")
        with _pt.raises(ValueError):
            bfs_distances(e, seeds, engine="bogus")
        with _pt.raises(ValueError):
            label_propagation(e, engine="bogus")
        with _pt.raises(ValueError):
            k_core(e, 2, engine="bogus")
