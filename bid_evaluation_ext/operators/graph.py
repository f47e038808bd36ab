"""Graph operators: PageRank over an edge DataFrame.

Beyond-reference operator (no counterpart in ``/root/reference``): iterative
link analysis is the canonical "driver-coordinated loop over pure DataFrame
rounds" shape — the same execution pattern as the connected-components pass
in :mod:`.dedup`, with lineage truncated every round (localCheckpoint) so the
plan stays flat no matter how many iterations run. At 100 TB the per-round
cost is one equi-join (edges ⋈ ranks on src, both hash-partitioned on the
join key) plus one groupBy(dst) — no collect of ranks or edges, no
cartesian anything; the driver sees only the scalar dangling mass and the
convergence delta per round.

Semantics (the classic formulation, exactly mirrored by the unrolled SQL
oracle in ``__spark_entry__.py``):

    rank₀(v)   = 1 / N
    rankᵢ₊₁(v) = (1-d)/N + d · ( Σ_{(u,v)∈E} rankᵢ(u) · w(u,v)/outw(u)
                                  + dangling_massᵢ / N )

where ``outw(u)`` is u's total out-weight and ``dangling_massᵢ`` the rank
mass sitting on nodes with no out-edges (redistributed uniformly — total
rank stays 1 every round).
"""

from __future__ import annotations

from typing import Optional

import pandas as pd

from pyspark.sql import DataFrame, functions as F

from bid_evaluation_ext.dispatch import local_cap


def pagerank(edges: DataFrame, src: str = "src", dst: str = "dst",
             weight: Optional[str] = None, damping: float = 0.85,
             max_iter: int = 10, tol: Optional[float] = None) -> DataFrame:
    """PageRank over a (weighted) directed edge list → ``(node, rank)``.

    ``weight=None`` treats every edge as weight 1 (parallel edges count).
    With ``tol`` set, iteration stops early once the max absolute rank change
    of a round drops below it (one extra tiny join per round to measure);
    otherwise exactly ``max_iter`` rounds run — the mode the SQL oracle
    unrolls.
    """
    w = F.col(weight).cast("double") if weight else F.lit(1.0)
    e = edges.select(F.col(src).alias("_src"), F.col(dst).alias("_dst"),
                     w.alias("_w"))

    nodes = (e.select(F.col("_src").alias("node"))
             .union(e.select(F.col("_dst").alias("node")))
             .distinct().persist())
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0).cast("double"))

    outw = e.groupBy("_src").agg(F.sum("_w").alias("_ow")).persist()
    # edges pre-normalized once: contribution factor w/outw never changes
    norm_e = (e.join(outw, on="_src")
              .select("_src", "_dst", (F.col("_w") / F.col("_ow")).alias("_f"))
              .persist())
    has_out = outw.select(F.col("_src").alias("node"))
    # If every node has out-edges, dangling mass is identically 0 — decide
    # ONCE here and skip the per-round anti-join + collect (one Spark action
    # per iteration saved; on small graphs that action is half the runtime).
    any_dangling = outw.count() < n

    ranks = nodes.withColumn("rank", F.lit(1.0 / n).cast("double"))
    base = (1.0 - damping) / n

    for _ in range(max_iter):
        # scalar: rank mass on dangling nodes (no out-edges), redistributed
        if any_dangling:
            dangling = (ranks.join(has_out, on="node", how="left_anti")
                        .agg(F.coalesce(F.sum("rank"), F.lit(0.0)))
                        .collect()[0][0])
        else:
            dangling = 0.0
        contrib = (norm_e.join(ranks, norm_e["_src"] == ranks["node"])
                   .groupBy(F.col("_dst").alias("node"))
                   .agg(F.sum(F.col("rank") * F.col("_f")).alias("_c")))
        stepped = (
            nodes.join(contrib, on="node", how="left")
            .select(
                "node",
                (F.lit(base) + F.lit(damping)
                 * (F.coalesce(F.col("_c"), F.lit(0.0))
                    + F.lit(dangling / n))).alias("rank"),
            )
            # truncate lineage every round — the rank frame feeds the next
            # round's join twice over; without this the plan doubles per
            # iteration (see near_duplicate_clusters)
            .localCheckpoint()
        )
        if tol is not None:
            delta = (stepped.alias("a")
                     .join(ranks.alias("b"), on="node")
                     .agg(F.max(F.abs(F.col("a.rank") - F.col("b.rank"))))
                     .collect()[0][0])
            ranks = stepped
            if delta is not None and delta < tol:
                break
        else:
            ranks = stepped

    nodes.unpersist()
    outw.unpersist()
    norm_e.unpersist()
    return ranks


def triangle_counts(edges: DataFrame, a_col: str = "a", b_col: str = "b",
                    engine: str = "auto") -> DataFrame:
    """Per-node triangle counts and local clustering coefficients over an
    undirected simple graph (``(a, b)`` pairs; direction/duplicates/self
    -loops are normalized away first).

    The classic degree-ordered algorithm, join-shaped: orient every edge
    from its lower-(degree, id) endpoint to the higher one, join oriented
    edges with themselves on the wedge midpoint, then verify the closing
    edge with one more equi-join. Degree orientation bounds each node's
    out-degree by O(sqrt(m)) on any graph (arboricity bound), so the
    wedge join's fan-out — the term that explodes on celebrity nodes in
    the naive formulation — stays polynomial-free at scale. Three
    equi-joins + aggregations, no cartesian.

    Returns ``(node, degree, triangles, clustering_coeff)`` for every
    node with at least one edge (coefficient null when degree < 2).

    Engines (r12 opt, guide §1.2): the wedge join's row count is the
    WEDGE count — Θ(m^1.5) on any graph and brutal on dense ones (the
    events co-occurrence graph: 1 500 nodes, 789k edges, 263M wedges
    ⇒ ~40 s of shuffle for milliseconds of arithmetic). ``auto``
    collects the canonical edge list when it is small (≤
    ``SPARK_GRAFT_TRI_LOCAL_MAX_EDGES``, default 2M ≈ 32 MB — the
    same envelope as the CC/graph kernels) AND the node count fits a
    dense adjacency (≤ ``SPARK_GRAFT_TRI_LOCAL_MAX_NODES``, default
    4 096 ⇒ ≤ 64 MB float32), then counts triangles on the driver via
    the boolean-matrix identity ``T(i) = ((A·A) ∘ A)·1 / 2`` — BLAS
    does the 263M wedge enumerations in RAM instead of a 6 GB
    shuffle. Counts are ≤ n < 2^24, exact in float32; the coefficient
    expression is evaluated with the IDENTICAL double arithmetic as
    the Column form (parity-tested). Above either cap — or with
    ``engine="join"`` — the join formulation runs unchanged: a graph
    too big to collect is exactly the one whose wedges need
    distributed shuffle + spill.
    """
    import os

    if engine not in ("auto", "local", "join"):
        raise ValueError(f"engine must be 'auto', 'local' or 'join', "
                         f"got {engine!r}")
    a, b = F.col(a_col), F.col(b_col)
    und = (edges.filter(a.isNotNull() & b.isNotNull() & (a != b))
           .select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
           .distinct()
           .persist())
    if engine != "join":
        cap_e = local_cap("SPARK_GRAFT_TRI_LOCAL_MAX_EDGES", 2000000)
        cap_n = local_cap("SPARK_GRAFT_TRI_LOCAL_MAX_NODES", 4096)
        # Arrow toPandas, not collect(): deserializing ~1M Row objects
        # through py4j costs seconds; the Arrow hop hands back columnar
        # numpy directly (measured on the 789k-edge events graph)
        if engine == "local":
            head = und.toPandas()
        else:
            head = und.limit(cap_e + 1).toPandas()
            if len(head) > cap_e:
                head = None
        if head is not None:
            id_type = und.schema["u"].dataType
            res = _triangle_counts_local(head, cap_n,
                                         force=(engine == "local"))
            if res is not None:
                out_rows, sp = res, edges.sparkSession
                from pyspark.sql.types import (DoubleType, LongType,
                                               StructField, StructType)
                schema = StructType([
                    StructField("node", id_type),
                    StructField("degree", LongType()),
                    StructField("triangles", LongType()),
                    StructField("clustering_coeff", DoubleType()),
                ])
                und.unpersist()
                return sp.createDataFrame(out_rows, schema)
    deg = (und.select(F.col("u").alias("n"))
           .unionAll(und.select(F.col("v").alias("n")))
           .groupBy("n").agg(F.count(F.lit(1)).alias("deg"))
           .persist())
    return _triangle_counts_join(und, deg)


def _triangle_counts_local(edge_pdf, cap_n: int, force: bool = False):
    """Driver-side dense-adjacency triangle count over the collected
    canonical (u, v) edge frame: ``T(i) = ((A·A) ∘ A)·1 / 2`` with a
    float32 0/1 adjacency (common-neighbor counts ≤ n < 2^24, exact;
    the final row sum accumulates in float64). Returns
    ``[(node, degree, triangles, coeff)]`` sorted by node, or ``None``
    when the node count exceeds ``cap_n`` (caller falls back to the
    join engine). The coefficient uses the IDENTICAL double expression
    as the Column form: ``2.0 * T / (deg * (deg - 1))``."""
    import numpy as np

    if not len(edge_pdf):
        return []
    us = edge_pdf["u"].to_numpy()
    vs = edge_pdf["v"].to_numpy()
    both = np.concatenate([us, vs])
    nodes_arr, codes = np.unique(both, return_inverse=True)
    n = len(nodes_arr)
    if n > cap_n and not force:
        return None
    nodes = nodes_arr.tolist()
    ui = codes[:len(us)]
    vi = codes[len(us):]
    A = np.zeros((n, n), dtype=np.float32)
    A[ui, vi] = 1.0
    A[vi, ui] = 1.0
    deg = A.sum(axis=1, dtype=np.float64).astype(np.int64)
    tri2 = ((A @ A) * A).sum(axis=1, dtype=np.float64)
    tri = np.rint(tri2 / 2.0).astype(np.int64)
    out = []
    for i, x in enumerate(nodes):
        d, t = int(deg[i]), int(tri[i])
        coeff = (2.0 * t) / (d * (d - 1)) if d >= 2 else None
        out.append((x, d, t, coeff))
    return out


def _triangle_counts_join(und: DataFrame, deg: DataFrame) -> DataFrame:
    """The distributed degree-ordered wedge-join engine (unchanged
    shape; split out so both dispatch routes share the normalized
    inputs)."""

    du = deg.select(F.col("n").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("deg").alias("dv"))
    keyed = und.join(du, "u").join(dv, "v")
    lower_first = ((F.col("du") < F.col("dv"))
                   | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))))
    oriented = keyed.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("d"))

    e1 = oriented.alias("e1")
    e2 = oriented.alias("e2")
    wedges = (e1.join(e2, F.col("e1.d") == F.col("e2.s"))
              .select(F.col("e1.s").alias("x"), F.col("e1.d").alias("y"),
                      F.col("e2.d").alias("z")))
    closing = und.select(F.least("u", "v").alias("cu"),
                         F.greatest("u", "v").alias("cv"))
    tris = wedges.join(
        closing, (F.least("x", "z") == F.col("cu"))
        & (F.greatest("x", "z") == F.col("cv"))).select("x", "y", "z")

    per_node = (tris.select(F.explode(F.array("x", "y", "z")).alias("n"))
                .groupBy("n").agg(F.count(F.lit(1)).alias("triangles")))
    out = (deg.join(per_node, "n", "left")
           .select(F.col("n").alias("node"), F.col("deg").alias("degree"),
                   F.coalesce("triangles", F.lit(0)).cast("long")
                   .alias("triangles"),
                   F.when(F.col("deg") >= 2,
                          2.0 * F.coalesce("triangles", F.lit(0))
                          / (F.col("deg") * (F.col("deg") - 1)))
                   .alias("clustering_coeff")))
    # und/deg stay persisted: each feeds 2-3 branches of the RETURNED lazy
    # plan (unpersisting here, before materialization, would cache nothing
    # — NOTES lesson #8); both are O(edges)/O(nodes) key-only frames.
    return out


def textrank_keywords(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", window: int = 2,
                      n_iters: int = 3, damping: float = 0.85,
                      top_k: int = 5) -> DataFrame:
    """Per-document TextRank keyword extraction (Mihalcea & Tarau, EMNLP
    2004): an undirected co-occurrence graph over each document's token
    sequence (tokens within ``window`` positions share an edge, weight =
    co-occurrence count) scored by ``n_iters`` damped PageRank rounds,
    top ``top_k`` words per document returned as ``(id_col, word, rank,
    rk)``.

    Every document's graph is bounded by its own token count and is
    independent of every other document's, so the whole computation is
    embarrassingly parallel: tokenization stays native (oracle-parity
    surface), and ONE map-only Arrow kernel builds each document's
    co-occurrence graph, runs the ``n_iters`` damped rounds, and emits
    the rounded top-k — zero shuffles, zero per-round lineage
    checkpoints. (The former corpus-wide formulation paid one
    equi-join + one groupBy + an eager localCheckpoint per round — all
    fixed latency, since no round ever needs cross-document data.)
    Documents with fewer than two tokens have no edges and yield no
    keywords.

    Ranking determinism: the top-k orders by the 1e-6-ROUNDED rank with
    the word as tiebreak (raw float ranks are a cross-engine knife
    edge); ``rank`` is returned rounded the same way, which is the
    surface the unrolled SQL oracle checks. The kernel's float64
    arithmetic is the same formula the SQL oracle replays; contribution
    sums are accumulated per document in deterministic key order, and
    the +1e-9 boundary nudge (below) absorbs the ≤1e-13 sum-order
    difference vs any other association order, exactly as it absorbs
    Spark partition-order noise.
    """
    import math

    from pyspark.sql.types import (DoubleType, LongType, StringType,
                                   StructField, StructType)

    from .text import tokens

    t = tokens(F.lower(F.col(text_col)))
    toks = df.select(F.col(id_col).alias("_doc"), t.alias("_t")) \
        .filter(F.size("_t") >= 2)

    out_schema = StructType([
        StructField(id_col, toks.schema["_doc"].dataType),
        StructField("word", StringType()),
        StructField("rank", DoubleType()),
        StructField("rk", LongType()),
    ])
    n_win = int(window)
    n_rounds = int(n_iters)
    d_factor = float(damping)
    base = 1.0 - d_factor
    k_top = int(top_k)

    def _half_up(v: float) -> float:
        # exact HALF_UP on a non-negative double, matching Spark's
        # BigDecimal round(): frac = v - floor(v) is exact for v < 2^52,
        # so the >= 0.5 comparison decides on the true real value (no
        # `floor(v + 0.5)` float-addition pitfall at x.49999... inputs).
        fl = math.floor(v)
        return fl + 1.0 if v - fl >= 0.5 else float(fl)

    def _rank_docs(batches):
        for pdf in batches:
            out_doc, out_word, out_rank, out_rk = [], [], [], []
            for doc, tok in zip(pdf["_doc"], pdf["_t"]):
                tl = list(tok)
                w: dict = {}
                for off in range(1, n_win):
                    for a, b in zip(tl, tl[off:]):
                        w[(a, b)] = w.get((a, b), 0) + 1
                        w[(b, a)] = w.get((b, a), 0) + 1
                ow: dict = {}
                for (s, _dst), c in w.items():
                    ow[s] = ow.get(s, 0) + c
                nodes = sorted(ow)
                n = float(len(nodes))
                rank = {v: 1.0 / n for v in nodes}
                items = sorted(w.items())  # deterministic sum order
                for _ in range(n_rounds):
                    contrib = {v: 0.0 for v in nodes}
                    for (s, dst), c in items:
                        contrib[dst] += rank[s] * (float(c) / float(ow[s]))
                    rank = {v: base / n + d_factor * contrib[v]
                            for v in nodes}
                # +1e-3 pre-round nudge (at the 1e6 scale, i.e. +1e-9 on
                # the rank): PageRank values are RATIONALS, so scores
                # landing exactly on a x.5·1e-6 grid boundary are common
                # — there the round() outcome flips with sum-order noise
                # (~1e-10 at this scale) and a deterministic oracle
                # disagrees one run in N. The nudge is 10^7× the noise
                # and 500× smaller than the grid step, so it moves every
                # boundary rational deterministically up without
                # affecting any non-boundary value. The SQL oracle
                # applies the identical nudge.
                scored = sorted(
                    ((_half_up(rank[v] * 1e6 + 1e-3) / 1e6 + 0.0, v)
                     for v in nodes),
                    key=lambda rv: (-rv[0], rv[1]))
                for rk, (r6, wd) in enumerate(scored[:k_top], start=1):
                    out_doc.append(doc)
                    out_word.append(wd)
                    out_rank.append(r6)
                    out_rk.append(rk)
            yield pd.DataFrame({id_col: out_doc, "word": out_word,
                                "rank": out_rank, "rk": out_rk})

    return toks.mapInPandas(_rank_docs, out_schema)


#: raw-pair ceiling for the single-task graph engines (~32 MB of id
#: pairs, far below one task's memory) — the same size-adaptive dispatch
#: as the connected-components ``local`` path in :mod:`.dedup`.
#: Overridable for cluster profiles via SPARK_GRAFT_GRAPH_LOCAL_MAX.
_GRAPH_LOCAL_MAX_EDGES = 2_000_000


def _graph_local_max() -> int:
    import os

    return local_cap("SPARK_GRAFT_GRAPH_LOCAL_MAX", _GRAPH_LOCAL_MAX_EDGES)


def _fits_local(e: DataFrame, limit: int) -> bool:
    """True when ``e`` has at most ``limit`` rows, decided by a plain
    ``count()`` probe. count() prunes every column (a parquet scan
    answers it from footer metadata; a filtered scan reads only the
    filter columns), so the probe costs at most what the FIRST stage of
    any round engine pays anyway — measured cheaper than a
    ``limit(n+1).count()`` probe, whose GlobalLimit shuffles every
    surviving row to one partition."""
    return e.count() <= limit


def bfs_distances(edges: DataFrame, seeds: DataFrame,
                  src: str = "src", dst: str = "dst",
                  node_col: str = "node", max_hops: int = 3,
                  directed: bool = True,
                  engine: str = "auto") -> DataFrame:
    """Min-hop BFS distance from a seed set → ``(node, dist)`` for every
    node reachable within ``max_hops`` (seeds at 0; unreachable nodes
    absent). Frontier-expansion semantics: hop ``h`` adds exactly the
    nodes first reached at ``h``, so the emitted distance IS the minimum
    — no min-aggregation over late arrivals needed.

    Scale shape: each round is one equi-join (frontier ⋈ edges on the
    source key — frontier is the SMALL side and shrinks as the graph
    saturates; AQE broadcasts it) + one distinct + one anti-join against
    the visited set, both keyed on the node. No collect of nodes or
    edges; the driver only drives the loop counter. Lineage truncates
    every round (localCheckpoint) so the plan stays flat for any hop
    count — the same pattern as :func:`pagerank` and the
    connected-components pass in :mod:`.dedup`. Exactly ``max_hops``
    rounds run (an empty frontier still joins cheaply), the mode the
    unrolled SQL oracle replays.

    ``engine="auto"`` (default) dispatches on a bounded row probe: when
    the raw pair list fits one task (≤ SPARK_GRAFT_GRAPH_LOCAL_MAX,
    default 2M), the whole BFS runs as ONE numpy frontier-expansion
    kernel — the distributed rounds are pure fixed latency (~3 shuffled
    stages + 2 eager localCheckpoints + a driver sync per hop) on a
    graph a vectorized sweep finishes in milliseconds. Above the ceiling
    the per-round engine runs unchanged (``engine="rounds"`` forces it,
    ``"local"`` forces the kernel).
    """
    e_raw = (edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
             .filter(F.col("_s").isNotNull() & F.col("_d").isNotNull()))
    if engine not in ("auto", "local", "rounds"):
        raise ValueError(f"engine must be 'auto', 'local' or 'rounds', "
                         f"got {engine!r}")
    if engine == "local" or (engine == "auto"
                             and _fits_local(e_raw, _graph_local_max())):
        return _bfs_local(e_raw, seeds, node_col, max_hops, directed)

    e = e_raw
    if not directed:
        e = e.unionByName(e.select(F.col("_d").alias("_s"),
                                   F.col("_s").alias("_d")))
    e = e.distinct().persist()

    dist = (seeds.select(F.col(node_col).alias("node")).distinct()
            .withColumn("dist", F.lit(0).cast("long"))
            .localCheckpoint())
    frontier = dist.select("node")
    for h in range(1, max_hops + 1):
        new = (frontier.join(e, frontier["node"] == e["_s"])
               .select(F.col("_d").alias("node")).distinct()
               .join(dist.select("node"), "node", "left_anti")
               .localCheckpoint())
        dist = (dist.unionByName(
            new.withColumn("dist", F.lit(h).cast("long")))
            .localCheckpoint())
        frontier = new
    e.unpersist()
    return dist


def _bfs_local(e_raw: DataFrame, seeds: DataFrame, node_col: str,
               max_hops: int, directed: bool) -> DataFrame:
    """Single-task vectorized BFS — the small-graph engine behind
    ``bfs_distances(engine="local")``. Seed rows ride the same frame as
    the edges (marked by a boolean flag), so NO shuffle happens anywhere
    beyond the single-partition gather: no edge distinct (np.unique
    dedups candidates per hop), no seed distinct, no per-hop anti-join.
    mapInArrow, not mapInPandas: node ids are integer-coded by Arrow's
    ``dictionary_encode`` (C-speed hashing), so millions of string ids
    never materialize as Python objects. Output contract identical to
    the round engine: seeds at dist 0 (a null seed passes through at 0,
    as the null-safe rounds did), every reachable node exactly once at
    its min hop."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from pyspark.sql.types import LongType, StructField, StructType

    # seed rows carry the node in BOTH id slots plus a marker flag
    tagged = (seeds.select(F.col(node_col).alias("_s"),
                           F.col(node_col).alias("_d"),
                           F.lit(True).alias("_seed"))
              .unionByName(e_raw.withColumn("_seed", F.lit(False))))
    out_schema = StructType([
        StructField("node", e_raw.schema["_s"].dataType),
        StructField("dist", LongType()),
    ])
    hops = int(max_hops)
    und = not directed

    def _sweep(batches):
        s_ch, d_ch, m_ch = [], [], []
        for b in batches:
            s_ch.append(b.column(0))
            d_ch.append(b.column(1))
            m_ch.append(b.column(2))
        if not s_ch:
            return
        s_arr = pa.chunked_array(s_ch).combine_chunks()
        d_arr = pa.chunked_array(d_ch).combine_chunks()
        m_arr = pa.chunked_array(m_ch).combine_chunks()
        seed_vals = pc.filter(s_arr, m_arr)
        null_seed = seed_vals.null_count > 0
        seed_vals = pc.drop_null(seed_vals)
        em = pc.invert(m_arr)
        s_e = pc.filter(s_arr, em)
        d_e = pc.filter(d_arr, em)
        comb = pa.concat_arrays([s_e, d_e, seed_vals])
        enc = comb.dictionary_encode()
        codes = enc.indices.to_numpy().astype(np.int64)
        dic = enc.dictionary
        n = len(dic)
        ne = len(s_e)
        s_c, d_c = codes[:ne], codes[ne:2 * ne]
        if und and ne:
            s_c, d_c = (np.concatenate([s_c, d_c]),
                        np.concatenate([d_c, s_c]))
        seed_c = np.unique(codes[2 * ne:])
        dist = np.full(n, -1, dtype=np.int64)
        dist[seed_c] = 0
        frontier = seed_c
        for h in range(1, hops + 1):
            if not len(frontier) or not len(s_c):
                break
            in_f = np.zeros(n, dtype=bool)
            in_f[frontier] = True
            cand = np.unique(d_c[in_f[s_c]])
            new = cand[dist[cand] < 0]
            dist[new] = h
            frontier = new
        found = dist >= 0
        idx = np.nonzero(found)[0]
        node_arr = pc.take(dic, pa.array(idx))
        dist_arr = pa.array(dist[found], type=pa.int64())
        if null_seed:
            node_arr = pa.concat_arrays(
                [node_arr, pa.nulls(1, node_arr.type)])
            dist_arr = pa.concat_arrays(
                [dist_arr, pa.array([0], type=pa.int64())])
        yield pa.RecordBatch.from_arrays([node_arr, dist_arr],
                                         ["node", "dist"])

    return tagged.repartition(1).mapInArrow(_sweep, out_schema)


def label_propagation(edges: DataFrame, src: str = "src", dst: str = "dst",
                      max_iter: int = 3,
                      directed: bool = False,
                      engine: str = "auto") -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) →
    ``(node, label)`` after exactly ``max_iter`` rounds. Labels start as
    the node's own id; each round every node takes the most frequent
    label among its in-neighbors, ties broken by the SMALLEST label
    (deterministic — the property that lets the unrolled SQL oracle
    replay rounds exactly). Nodes with no in-neighbors keep their label.

    Scale shape per round: one equi-join (edges ⋈ labels on the source,
    both hash-partitioned on it) + one groupBy(node, label) count + one
    per-node argmax window (partition = node, bounded by the node's
    DISTINCT neighbor-label count, ≤ degree). Lineage truncates every
    round (localCheckpoint), same as :func:`pagerank`. Community
    detection for near-dup clusters where connected components
    over-merge via hub nodes.

    ``engine="auto"`` dispatches on a bounded row probe exactly like
    :func:`bfs_distances`: a raw pair list within
    SPARK_GRAFT_GRAPH_LOCAL_MAX runs all rounds in ONE vectorized
    kernel (``"local"``/``"rounds"`` force a path).
    """
    from pyspark.sql import Window

    e_raw = (edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
             .filter(F.col("_s").isNotNull() & F.col("_d").isNotNull()))
    if engine not in ("auto", "local", "rounds"):
        raise ValueError(f"engine must be 'auto', 'local' or 'rounds', "
                         f"got {engine!r}")
    if engine == "local" or (engine == "auto"
                             and _fits_local(e_raw, _graph_local_max())):
        return _lpa_local(e_raw, max_iter, directed)

    e = e_raw
    if not directed:
        e = e.unionByName(e.select(F.col("_d").alias("_s"),
                                   F.col("_s").alias("_d")))
    e = e.distinct().persist()
    nodes = (e.select(F.col("_s").alias("node"))
             .unionByName(e.select(F.col("_d").alias("node")))
             .distinct().persist())

    labels = nodes.select("node", F.col("node").alias("label"))
    w = Window.partitionBy("_n").orderBy(F.col("_c").desc(),
                                         F.col("label").asc())
    for _ in range(max_iter):
        votes = (e.join(labels, e["_s"] == labels["node"])
                 .groupBy(F.col("_d").alias("_n"), "label")
                 .agg(F.count(F.lit(1)).alias("_c")))
        best = (votes.withColumn("_rk", F.row_number().over(w))
                .filter(F.col("_rk") == 1)
                .select(F.col("_n").alias("node"),
                        F.col("label").alias("_new")))
        labels = (nodes.join(best, "node", "left")
                  .select("node",
                          F.coalesce(F.col("_new"),
                                     F.col("node")).alias("label"))
                  .localCheckpoint())
    e.unpersist()
    nodes.unpersist()
    return labels


def _lpa_local(e_raw: DataFrame, max_iter: int, directed: bool) -> DataFrame:
    """Single-task vectorized label propagation — the small-graph engine
    behind ``label_propagation(engine="local")``. mapInArrow: node ids
    are integer-coded by Arrow's ``dictionary_encode`` (C-speed hashing,
    no Python objects), then remapped to SORTED value order so code
    comparisons reproduce the min-label tie-break on the original
    values exactly — the sort only touches the (small) distinct-node
    dictionary, never the edge list. Votes are counted with one
    np.unique over ``dst*N + label`` composite keys per round and the
    argmax resolved by one ``np.maximum.at`` over ``count*(N+1) -
    label`` packed values — no join, no groupBy, no per-round
    checkpoint."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from pyspark.sql.types import StructField, StructType

    id_type = e_raw.schema["_s"].dataType
    out_schema = StructType([StructField("node", id_type),
                             StructField("label", id_type)])
    rounds = int(max_iter)
    und = not directed

    def _propagate(batches):
        s_ch, d_ch = [], []
        for b in batches:
            s_ch.append(b.column(0))
            d_ch.append(b.column(1))
        if not s_ch:
            return
        comb = pa.chunked_array(s_ch + d_ch).combine_chunks()
        half = len(comb) // 2
        if half == 0:
            return
        enc = comb.dictionary_encode()
        raw_codes = enc.indices.to_numpy().astype(np.int64)
        dic = enc.dictionary
        n = len(dic)
        # value-order remap: the min-label tie-break compares ORIGINAL
        # values, so codes must be rank-ordered
        order = pc.array_sort_indices(dic).to_numpy().astype(np.int64)
        rank = np.empty(n, dtype=np.int64)
        rank[order] = np.arange(n, dtype=np.int64)
        codes = rank[raw_codes]
        s_c, d_c = codes[:half], codes[half:]
        if und:
            s_c, d_c = (np.concatenate([s_c, d_c]),
                        np.concatenate([d_c, s_c]))
        pair = np.unique(s_c * n + d_c)
        s_c, d_c = pair // n, pair % n
        label = np.arange(n, dtype=np.int64)
        for _ in range(rounds):
            key = d_c * n + label[s_c]
            uk, cnt = np.unique(key, return_counts=True)
            dd, ll = uk // n, uk % n
            # argmax by (count desc, label asc) in one packed int64:
            # count*(N+1) - label is strictly ordered that way because
            # 0 <= label <= N-1 < N+1
            val = cnt * (n + 1) - ll
            best = np.full(n, -1, dtype=np.int64)
            np.maximum.at(best, dd, val)
            # nodes with no in-neighbors fall back to their OWN id
            # (the round engine's coalesce(best, node)), not the
            # previous round's label
            nxt = np.arange(n, dtype=np.int64)
            has = best >= 0
            ll_best = (-best) % (n + 1)
            nxt[has] = ll_best[has]
            label = nxt
        sorted_dic = pc.take(dic, pa.array(order))
        yield pa.RecordBatch.from_arrays(
            [sorted_dic, pc.take(sorted_dic, pa.array(label))],
            ["node", "label"])

    return e_raw.repartition(1).mapInArrow(_propagate, out_schema)


def k_core(edges: DataFrame, k: int, src: str = "src", dst: str = "dst",
           n_rounds: Optional[int] = None,
           engine: str = "auto") -> DataFrame:
    """k-core decomposition (undirected): iteratively peel nodes of
    degree < k until the remaining subgraph has min degree ≥ k; returns
    the survivors as ``(node, degree)`` (degree WITHIN the core).

    ``n_rounds=None`` peels to the fixpoint (one driver-side scalar
    count per round decides convergence); a fixed ``n_rounds`` runs
    exactly that many peels — the mode the unrolled SQL oracle replays
    (a partial peel is a well-defined superset of the core).

    Scale shape per peel: one degree groupBy + two semi-joins filtering
    the edge list to surviving endpoints — all keyed on the node /
    endpoint columns, no collect of nodes or edges, lineage truncated
    per round. Peels needed in practice ≪ nodes (each round removes
    whole degree-layers at once).

    ``engine="auto"`` dispatches on a bounded row probe exactly like
    :func:`bfs_distances`: a raw pair list within
    SPARK_GRAFT_GRAPH_LOCAL_MAX runs every peel in ONE vectorized
    kernel (``"local"``/``"rounds"`` force a path).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    e_raw = (edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
             .filter(F.col("_s").isNotNull() & F.col("_d").isNotNull()
                     & (F.col("_s") != F.col("_d"))))
    if engine not in ("auto", "local", "rounds"):
        raise ValueError(f"engine must be 'auto', 'local' or 'rounds', "
                         f"got {engine!r}")
    if engine == "local" or (engine == "auto"
                             and _fits_local(e_raw, _graph_local_max())):
        return _kcore_local(e_raw, k, n_rounds)

    e = e_raw
    e = (e.unionByName(e.select(F.col("_d").alias("_s"),
                                F.col("_s").alias("_d")))
         .distinct().localCheckpoint())

    def deg(ed):
        return ed.groupBy(F.col("_s").alias("node")).agg(
            F.count(F.lit(1)).cast("long").alias("degree"))

    rounds = 0
    while True:
        d = deg(e)
        keep = d.filter(F.col("degree") >= k).select("node")
        rounds += 1
        if n_rounds is not None:
            e = (e.join(keep, e["_s"] == keep["node"], "left_semi")
                 .join(keep, e["_d"] == keep["node"], "left_semi")
                 .localCheckpoint())
            if rounds >= n_rounds:
                return deg(e)
            continue
        n_before = e.count()
        e2 = (e.join(keep, e["_s"] == keep["node"], "left_semi")
              .join(keep, e["_d"] == keep["node"], "left_semi")
              .localCheckpoint())
        if e2.count() == n_before:
            return deg(e2)
        e = e2


def _kcore_local(e_raw: DataFrame, k: int,
                 n_rounds: Optional[int]) -> DataFrame:
    """Single-task vectorized k-core peeling — the small-graph engine
    behind ``k_core(engine="local")``. Per peel: one bincount for the
    degrees, one boolean mask over the (deduped, doubled) edge arrays —
    no semi-joins, no per-round checkpoint, no driver count action in
    fixpoint mode. mapInArrow: node ids are integer-coded by Arrow's
    ``dictionary_encode`` (C-speed hashing; degree peeling needs no
    value ordering), doubling done in code space. Output contract
    identical to the round engine: survivors as ``(node, degree)`` with
    degree counted WITHIN the remaining subgraph (nodes that lose every
    edge drop out)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType([StructField("node", e_raw.schema["_s"].dataType),
                             StructField("degree", LongType())])
    kk = int(k)
    fixed = None if n_rounds is None else int(n_rounds)

    def _peel(batches):
        s_ch, d_ch = [], []
        for b in batches:
            s_ch.append(b.column(0))
            d_ch.append(b.column(1))
        if not s_ch:
            return
        comb = pa.chunked_array(s_ch + d_ch).combine_chunks()
        half = len(comb) // 2
        if half == 0:
            return
        enc = comb.dictionary_encode()
        codes = enc.indices.to_numpy().astype(np.int64)
        dic = enc.dictionary
        n = len(dic)
        s_c0, d_c0 = codes[:half], codes[half:]
        s_c = np.concatenate([s_c0, d_c0])
        d_c = np.concatenate([d_c0, s_c0])
        pair = np.unique(s_c * n + d_c)
        s_c, d_c = pair // n, pair % n
        rounds = 0
        while True:
            deg = np.bincount(s_c, minlength=n)
            keep = deg >= kk
            mask = keep[s_c] & keep[d_c]
            rounds += 1
            if fixed is not None:
                s_c, d_c = s_c[mask], d_c[mask]
                if rounds >= fixed:
                    break
                continue
            if mask.all():
                break
            s_c, d_c = s_c[mask], d_c[mask]
        deg = np.bincount(s_c, minlength=n)
        has = deg > 0
        idx = np.nonzero(has)[0]
        yield pa.RecordBatch.from_arrays(
            [pc.take(dic, pa.array(idx)),
             pa.array(deg[has], type=pa.int64())],
            ["node", "degree"])

    return e_raw.repartition(1).mapInArrow(_peel, out_schema)


def link_prediction(incidence: DataFrame, container_col: str,
                    node_col: str, max_container_size: int = 64,
                    min_common: int = 1, engine: str = "auto") -> DataFrame:
    """Link-prediction scores between nodes that share containers, from a
    bipartite incidence table (container, node) → ``(node_a, node_b,
    common, adamic_adar, jaccard)`` with ``node_a < node_b``.

    Classic neighborhood scores (Liben-Nowell & Kleinberg CIKM 2003)
    computed on the bipartite projection: ``common`` = #shared
    containers, ``adamic_adar = Σ_shared 1/ln(|container|)`` (smaller
    shared containers are stronger evidence; |container| ≥ 2 whenever a
    pair exists, so the log is never ≤ 0), ``jaccard = common /
    (deg_a + deg_b − common)`` with degrees counted on the SAME capped
    incidence.

    Scale: the only quadratic step is per-container pair generation,
    bounded by ``max_container_size``² — hub containers (a part in
    every order) are dropped, the standard blocking device used by the
    basket/PPJoin operators.  Engines (r12 verdict task 4, guide
    §4.2/§2.3): ``join`` shuffles — one groupBy(container), one
    pair-keyed groupBy, two broadcast-ready degree joins — the 100 TB
    route; ``kernel`` (auto below ``SPARK_GRAFT_LINKPRED_LOCAL_MAX_ROWS``
    collected incidence rows, pair volume re-guarded by
    ``..._LOCAL_MAX_PAIRS``) runs the whole reduction as one numpy pass
    over the collected 2-column projection, skipping 4 exchanges of
    fixed latency at local scale.  Rounds the float scores to 4
    decimals (exact HALF_UP in both engines).
    """
    if max_container_size < 2:
        raise ValueError("max_container_size must be >= 2")
    if engine not in ("auto", "join", "kernel"):
        raise ValueError(f"engine must be auto/join/kernel, got {engine!r}")
    raw = (incidence
           .select(F.col(container_col).alias("_c"),
                   F.col(node_col).alias("_n"))
           .filter(F.col("_c").isNotNull() & F.col("_n").isNotNull()))
    if engine != "join":
        cap = local_cap("SPARK_GRAFT_LINKPRED_LOCAL_MAX_ROWS", 4_000_000)
        pdf = (raw.toPandas() if engine == "kernel"
               else raw.limit(cap + 1).toPandas())
        if engine == "kernel" or len(pdf) <= cap:
            out = _linkpred_kernel(incidence, node_col, pdf,
                                   max_container_size, min_common,
                                   force=engine == "kernel")
            if out is not None:
                return out
    inc = raw.distinct()
    sized = inc.join(
        inc.groupBy("_c").agg(F.count(F.lit(1)).alias("_sz"))
           .filter(F.col("_sz") <= max_container_size),
        "_c")
    deg = sized.groupBy(F.col("_n").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("degree"))
    a = sized.select("_c", F.col("_n").alias("node_a"), "_sz")
    b = sized.select("_c", F.col("_n").alias("node_b"))
    pairs = (a.join(b, "_c")
             .filter(F.col("node_a") < F.col("node_b"))
             .groupBy("node_a", "node_b")
             .agg(F.count(F.lit(1)).cast("long").alias("common"),
                  F.sum(1.0 / F.log(F.col("_sz").cast("double")))
                   .alias("_aa"))
             .filter(F.col("common") >= int(min_common)))
    da = deg.select(F.col("node").alias("node_a"),
                    F.col("degree").alias("_da"))
    db = deg.select(F.col("node").alias("node_b"),
                    F.col("degree").alias("_db"))
    r4 = lambda e: F.round(e * 1e4) / 1e4 + F.lit(0.0)  # noqa: E731
    return (pairs.join(da, "node_a").join(db, "node_b")
            .select("node_a", "node_b", "common",
                    r4(F.col("_aa")).alias("adamic_adar"),
                    r4(F.col("common").cast("double")
                       / (F.col("_da") + F.col("_db")
                          - F.col("common")).cast("double"))
                    .alias("jaccard")))


def _linkpred_kernel(incidence: DataFrame, node_col: str, pdf,
                     max_container_size: int, min_common: int,
                     force: bool = False):
    """One numpy pass over the collected ``(_c, _n)`` projection —
    value-identical to the join engine (same IEEE division/sqrt-free
    arithmetic; the only order-sensitive float is the Adamic–Adar sum,
    which both engines already accumulate in engine-specific order under
    the 4-decimal round; parity-tested).  Returns ``None`` → fall back
    to the join engine when post-cap pair volume exceeds
    ``SPARK_GRAFT_LINKPRED_LOCAL_MAX_PAIRS``."""
    import numpy as np

    from pyspark.sql.types import (DoubleType, LongType, StructField,
                                   StructType)

    from .pairgen import (group_pair_indices, half_up4,
                          shifted_group_pairs)

    spark = incidence.sparkSession
    node_t = incidence.schema[node_col].dataType
    schema = StructType([
        StructField("node_a", node_t), StructField("node_b", node_t),
        StructField("common", LongType()),
        StructField("adamic_adar", DoubleType()),
        StructField("jaccard", DoubleType()),
    ])

    def _empty():
        return spark.createDataFrame(
            pd.DataFrame({"node_a": [], "node_b": [], "common": [],
                          "adamic_adar": [], "jaccard": []}), schema=schema)

    if len(pdf) == 0:
        return _empty()
    pdf = pdf.drop_duplicates(["_c", "_n"])
    c_vals, c_codes = np.unique(pdf["_c"].to_numpy(), return_inverse=True)
    n_vals, n_codes = np.unique(pdf["_n"].to_numpy(), return_inverse=True)
    n_nodes = len(n_vals)
    c_sizes = np.bincount(c_codes, minlength=len(c_vals))
    row_keep = c_sizes[c_codes] <= int(max_container_size)
    ck, nk = c_codes[row_keep], n_codes[row_keep]
    if len(ck) == 0:
        return _empty()
    order = np.argsort(ck, kind="stable")
    ck, nk = ck[order], nk[order]
    deg = np.bincount(nk, minlength=n_nodes).astype(np.int64)
    counts = np.bincount(ck, minlength=ck[-1] + 1)
    counts = counts[counts > 0]
    if not force and int((counts * counts).sum()) > local_cap(
            "SPARK_GRAFT_LINKPRED_LOCAL_MAX_PAIRS", 64_000_000):
        return None
    # small (hub-capped) groups: O(max-group) shifted masks instead of
    # the Σc² closed form (~5x less array traffic); node_a < node_b is
    # the unordered (min, max) canonical — code order == value order
    if int(counts.max()) <= 64:
        sz_row = counts[np.repeat(np.arange(len(counts)), counts)]
        # size-1 groups emit no pairs; keep their (unused) weight finite
        # so numpy stays warning-free
        w_row = 1.0 / np.log(np.maximum(sz_row, 2).astype(np.float64))
        li, ri = shifted_group_pairs(ck)
        x, y = nk[li], nk[ri]
        ai, bi = np.minimum(x, y), np.maximum(x, y)
        w_inst = w_row[li]
    else:
        left, right, gid = group_pair_indices(counts)
        a_raw, b_raw = nk[left], nk[right]
        sel = a_raw < b_raw      # code order == value order (np.unique)
        ai, bi = a_raw[sel], b_raw[sel]
        w_inst = 1.0 / np.log(counts[gid[sel]].astype(np.float64))
    key = ai.astype(np.int64) * n_nodes + bi
    ukey, inv = np.unique(key, return_inverse=True)
    common = np.bincount(inv).astype(np.int64)
    aa = np.bincount(inv, weights=w_inst)
    keep = common >= int(min_common)
    ukey, common, aa = ukey[keep], common[keep], aa[keep]
    if len(ukey) == 0:
        return _empty()
    a_code, b_code = ukey // n_nodes, ukey % n_nodes
    jac = half_up4(common.astype(np.float64)
                   / (deg[a_code] + deg[b_code] - common
                      ).astype(np.float64))
    out = pd.DataFrame({
        "node_a": n_vals[a_code], "node_b": n_vals[b_code],
        "common": common, "adamic_adar": half_up4(aa), "jaccard": jac})
    return spark.createDataFrame(out, schema=schema)


def powerlaw_alpha(degrees: DataFrame, degree_col: str = "degree",
                   d_min: int = 1) -> DataFrame:
    """Continuous-approximation MLE of the power-law exponent over a
    degree (or frequency) table (Clauset–Shalizi–Newman 2009, eq. 3.1):

        α̂ = 1 + n / Σ ln(d / (d_min − 1/2)),   d ≥ d_min

    → one row ``(n, d_min, alpha, mean_deg, max_deg)`` (floats 4
    decimals).  The quick heavy-tail diagnostic for degree / token /
    item-popularity distributions — α near 2 means the usual "a few
    hubs dominate" regime where hub caps and salting earn their keep.
    ONE aggregate over the degree table (which is already an aggregate
    of the edge list); no sorting, no fitting loop.
    """
    if d_min < 1:
        raise ValueError(f"d_min must be >= 1, got {d_min}")
    d = F.col(degree_col).cast("double")
    kept = degrees.filter(d.isNotNull() & (d >= float(d_min)))
    r4 = lambda e: F.round(e * 1e4) / 1e4 + F.lit(0.0)  # noqa: E731
    denom = F.sum(F.log(d / F.lit(float(d_min) - 0.5)))
    agg = kept.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        denom.alias("_den"),
        F.avg(d).alias("_mean"),
        F.max(d).alias("_max"))
    return agg.select(
        "n", F.lit(int(d_min)).cast("long").alias("d_min"),
        F.when(F.col("_den") > 0,
               r4(F.lit(1.0) + F.col("n").cast("double") / F.col("_den")))
        .alias("alpha"),
        r4(F.col("_mean")).alias("mean_deg"),
        F.col("_max").cast("long").alias("max_deg"))
