"""Graph metrics (operators/graph_metrics.py) vs driver-side
references — per-vertex triangle counts against the brute closed-wedge
count, BFS hops against a queue BFS — on seeded random graphs plus a
hand-checkable fixture.
"""

from collections import deque

import numpy as np
from pyspark.sql import functions as F

from covertree_spark.operators.graph_metrics import bfs_hops, triangle_counts


def rand_edges(seed, n=120, m=420):
    rng = np.random.default_rng(seed)
    e = rng.integers(0, n, size=(m, 2))
    e = e[e[:, 0] != e[:, 1]]
    return {(min(a, b), max(a, b)) for a, b in e.tolist()}


def edges_df(spark, pairs):
    return spark.createDataFrame(
        [(a, b) for a, b in sorted(pairs)], "src bigint, dst bigint"
    )


def nodes_df(spark, n):
    return spark.range(n).select(F.col("id"))


def ref_triangles(pairs, n):
    adj = [set() for _ in range(n)]
    for a, b in pairs:
        adj[a].add(b)
        adj[b].add(a)
    t = [0] * n
    # enumerate each triangle once as x<y<z
    for x in range(n):
        nx = sorted(v for v in adj[x] if v > x)
        for i, y in enumerate(nx):
            for z in nx[i + 1 :]:
                if z in adj[y]:
                    t[x] += 1
                    t[y] += 1
                    t[z] += 1
    return t


def ref_bfs(pairs, n, src):
    adj = [[] for _ in range(n)]
    for a, b in pairs:
        adj[a].append(b)
        adj[b].append(a)
    hop = [-1] * n
    hop[src] = 0
    dq = deque([src])
    while dq:
        u = dq.popleft()
        for v in adj[u]:
            if hop[v] == -1:
                hop[v] = hop[u] + 1
                dq.append(v)
    return hop


def test_triangles_match_reference(spark):
    n = 120
    pairs = rand_edges(3, n=n)
    got = {
        r["id"]: r["triangles"]
        for r in triangle_counts(
            edges_df(spark, pairs), nodes=nodes_df(spark, n)
        ).collect()
    }
    want = ref_triangles(pairs, n)
    assert got == {i: want[i] for i in range(n)}


def test_triangles_hand_fixture(spark):
    # K4 on {0,1,2,3} (every vertex in 3 triangles) + a pendant vertex
    pairs = {(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3), (3, 4)}
    got = {
        r["id"]: r["triangles"]
        for r in triangle_counts(
            edges_df(spark, pairs), nodes=nodes_df(spark, 5)
        ).collect()
    }
    assert got == {0: 3, 1: 3, 2: 3, 3: 3, 4: 0}


def test_bfs_matches_reference(spark):
    n = 120
    pairs = rand_edges(5, n=n)
    got = {
        r["id"]: r["hop"]
        for r in bfs_hops(
            edges_df(spark, pairs), source=0, nodes=nodes_df(spark, n)
        ).collect()
    }
    want = ref_bfs(pairs, n, 0)
    assert got == {i: want[i] for i in range(n)}


def test_bfs_path_and_unreachable(spark):
    # path 0-1-2-3, isolated 4
    pairs = {(0, 1), (1, 2), (2, 3)}
    got = {
        r["id"]: r["hop"]
        for r in bfs_hops(
            edges_df(spark, pairs), source=0, nodes=nodes_df(spark, 5)
        ).collect()
    }
    assert got == {0: 0, 1: 1, 2: 2, 3: 3, 4: -1}


def test_operator_persists_released_with_query_scope(spark):
    """triangle_counts, walk_mass and lloyd_kmeans register their
    persisted intermediates with the active ReleaseScope, so releasing
    the query leaves no cached RDD behind."""
    from covertree_spark.operators.graph_metrics import walk_mass
    from covertree_spark.operators.kmeans import lloyd_kmeans
    from covertree_spark.plans.session import ReleaseScope

    def persisted():
        # ids, not a count: the context cleaner may drop earlier tests'
        # unreferenced checkpoint RDDs while this query runs
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    edges = edges_df(spark, rand_edges(5, n=40, m=120))
    X = np.random.default_rng(5).normal(size=(60, 3))
    pts = spark.createDataFrame(
        [(i, [float(v) for v in x]) for i, x in enumerate(X)],
        "id bigint, vec array<float>",
    )
    before = persisted()
    with ReleaseScope() as rs:
        triangle_counts(edges, nodes_df(spark, 40)).collect()
        walk_mass(edges, nodes_df(spark, 40), rounds=2).collect()
        assign, _ = lloyd_kmeans(pts, 3, iters=2)
        assign.collect()
    assert persisted() - before
    assert rs.release() == 5
    assert not persisted() - before
