"""Connected components over pair graphs (operators/graph.py)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from supplier_performance_data_pipeline_spark.operators.dedup import (
    near_dup_pairs,
)
from supplier_performance_data_pipeline_spark.operators.graph import (
    CC_ITERS,
    connected_components,
)
from tests.conftest import SF_ORACLE


def _pairs(spark, rows):
    return spark.createDataFrame(rows, "doc_a long, doc_b long")


def test_chain_and_island(spark):
    # 1-2-3-4 chain (diameter 3) + separate pair {10, 11}.
    cc = connected_components(
        _pairs(spark, [(1, 2), (2, 3), (3, 4), (10, 11)])
    )
    got = {r["id"]: r["component"] for r in cc.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_long_scrambled_chain_within_iters(spark):
    # Star rounds converge independent of component DIAMETER: a path
    # whose vertex ids are scrambled against the path order (the case
    # that defeats O(diameter) min-label propagation) must still
    # converge in CC_ITERS rounds.
    order = [7, 2, 11, 0, 9, 4, 12, 1, 8, 3, 10, 5, 6]
    edges = list(zip(order, order[1:]))
    cc = connected_components(_pairs(spark, edges))
    labels = {r["component"] for r in cc.collect()}
    assert labels == {0}


def test_fixed_point_on_real_pairs(spark):
    """At the driver's oracle scale the LSH pair graph must reach its
    fixed point within the CC_ITERS round pairs the oracle unrolls:
    the confirming round comes at most one pair later."""
    docs = spark.read.parquet(os.path.join(SF_ORACLE, "documents.parquet"))
    pairs = near_dup_pairs(docs).filter(
        F.col("n_matching_components") >= 4
    ).select("doc_a", "doc_b").persist()
    stats: dict = {}
    connected_components(pairs, stats_out=stats)
    assert stats["converged"] is True
    assert stats["rounds"] <= CC_ITERS + 1
    pairs.unpersist()


def test_until_converged_extends_past_iters(spark):
    """The convergence loop: a scrambled long path that one
    large/small-star round pair cannot collapse is still fully solved,
    because the loop keeps iterating to the fixed point."""
    rng_order = [
        29, 4, 41, 16, 33, 8, 45, 0, 21, 37, 12, 25, 2, 46, 18, 40,
        6, 31, 13, 44, 9, 27, 1, 35, 20, 47, 11, 38, 5, 23, 15, 42,
        7, 30, 3, 36, 19, 43, 10, 26, 14, 39, 22, 34, 17, 28, 24, 32,
    ]
    pairs = _pairs(spark, list(zip(rng_order, rng_order[1:])))
    stats: dict = {}
    full = connected_components(pairs, stats_out=stats)
    assert {r["component"] for r in full.collect()} == {0}
    assert stats["converged"] is True and stats["rounds"] > 2


def test_stats_out_telemetry(spark):
    """stats_out records the convergence telemetry the scale probes
    read (rounds INCLUDING the confirming fixed-point round, final
    star-forest edge/vertex counts) without changing results."""
    stats: dict = {}
    plain = connected_components(
        _pairs(spark, [(1, 2), (2, 3), (3, 4), (10, 11)])
    )
    probed = connected_components(
        _pairs(spark, [(1, 2), (2, 3), (3, 4), (10, 11)]),
        stats_out=stats,
    )
    assert probed.exceptAll(plain).isEmpty()
    assert plain.exceptAll(probed).isEmpty()
    assert stats["converged"] is True
    assert 1 <= stats["rounds"] <= CC_ITERS + 1
    # fixed point of {1,2,3,4} + {10,11} is the min-rooted star forest:
    # edges (2,1),(3,1),(4,1),(11,10) over 6 vertices
    assert stats["edges"] == 4
    assert stats["verts"] == 6


def test_empty_pairs_yield_empty_components(spark):
    cc = connected_components(
        _pairs(spark, []).filter("doc_a IS NOT NULL")
    )
    assert cc.count() == 0


def test_pagerank_matches_reference_iteration(spark):
    """operators/graph.py::pagerank vs a pure-Python power iteration
    with the same rounding contract, on a small asymmetric graph."""
    from supplier_performance_data_pipeline_spark.operators.graph import (
        PR_CONTRIB_SCALE,
        PR_DAMP,
        PR_ITERS,
        pagerank,
    )

    # Symmetric edge list (the operator's no-dangling contract) of a
    # star 1-2,1-3,1-4 plus a 4-5 tail — asymmetric degrees.
    und = [(1, 2), (1, 3), (1, 4), (4, 5)]
    edges = [(u, v) for u, v in und] + [(v, u) for u, v in und]
    df = spark.createDataFrame(edges, "u long, v long")
    got = {
        r.s: r.r for r in pagerank(df).collect()
    }

    nodes = sorted({x for e in edges for x in e})
    deg = {u: sum(1 for a, _ in edges if a == u) for u in nodes}
    n = len(nodes)
    r = {u: 1.0 / n for u in nodes}
    for _ in range(PR_ITERS):
        inbound = {u: [] for u in nodes}
        for u, v in edges:
            inbound[v].append(round(r[u] / deg[u], PR_CONTRIB_SCALE))
        # exact decimal sum == math.fsum here (each term is a 12dp
        # decimal; sum of 5 such terms is exact in double)
        r = {
            v: round((1.0 - PR_DAMP) / n + PR_DAMP * sum(sorted(inbound[v])), 9)
            for v in nodes
        }
    for u in nodes:
        assert abs(got[u] - r[u]) < 1e-9, (u, got[u], r[u])
    # hub outranks leaves, tail outranks pure leaves
    assert got[1] == max(got.values())
    assert got[4] > got[2] == got[3]


def test_bfs_distances_on_a_path_graph(spark):
    """bfs_distances on a 5-node path: exact hop distances within the
    round budget, absent beyond it."""
    from supplier_performance_data_pipeline_spark.operators.graph import (
        bfs_distances,
    )

    und = [(1, 2), (2, 3), (3, 4), (4, 5)]
    edges = spark.createDataFrame(
        und + [(v, u) for u, v in und], "u long, v long"
    )
    got = {r.node: r.dist for r in bfs_distances(edges, 1, rounds=3).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}  # node 5 is 4 hops: not reached
    full = {r.node: r.dist for r in bfs_distances(edges, 1, rounds=4).collect()}
    assert full[5] == 4


def test_triangle_count_matches_brute_force(spark):
    """Degree-oriented wedge counting vs itertools brute force on
    seeded pseudo-random graphs (including a hub star that punishes a
    wrong orientation and a complete K5)."""
    import hashlib
    from itertools import combinations

    from supplier_performance_data_pipeline_spark.operators.graph import (
        triangle_count,
    )

    def rand_graph(seed: str, n: int, keep_mod: int) -> list[tuple[int, int]]:
        # Deterministic pseudo-random subset of all pairs.
        out = []
        for x, y in combinations(range(n), 2):
            h = int(hashlib.md5(f"{seed}|{x}|{y}".encode()).hexdigest()[:8], 16)
            if h % keep_mod == 0:
                out.append((x, y))
        return out

    cases = [
        rand_graph("a", 12, 2),
        rand_graph("b", 15, 3),
        list(combinations(range(5), 2)),             # K5: C(5,3)=10
        [(0, i) for i in range(1, 9)] + [(1, 2)],    # hub star + one edge
        [(0, 1)],                                    # single edge
    ]
    for edges in cases:
        adj = {}
        for x, y in edges:
            adj.setdefault(x, set()).add(y)
            adj.setdefault(y, set()).add(x)
        expected = sum(
            1
            for a, b, c in combinations(sorted(adj), 3)
            if b in adj[a] and c in adj[a] and c in adj[b]
        )
        df = spark.createDataFrame(edges, "x long, y long")
        row = triangle_count(df).collect()[0]
        assert row["n_triangles"] == expected, (edges, row, expected)
        assert row["n_edges"] == len(edges)
        assert row["n_nodes"] == len(adj)
