"""Graph operator tests: hand-computed triangle censuses, the
orientation's count-each-triangle-once guarantee on adversarial
shapes, and agreement with a naive all-triples check on random
graphs."""

from __future__ import annotations

from itertools import combinations

from big_data_bowl_2026_analytics_spark.operators.graph import (
    cooccurrence_edges,
    triangle_stats,
)


def _stats(spark, edge_list):
    edges = spark.createDataFrame(sorted(edge_list), "a long, b long")
    return triangle_stats(edges).collect()[0]


def test_triangle_k4(spark):
    # K4: 4 nodes, 6 edges, 4 triangles, 12 wedges, clustering 1.0
    k4 = [(a, b) for a, b in combinations(range(4), 2)]
    row = _stats(spark, k4)
    assert (row.n_nodes, row.n_edges, row.n_wedges, row.n_triangles) == (
        4,
        6,
        12,
        4,
    )
    assert row.global_clustering == 1.0


def test_star_has_no_triangles(spark):
    # A hub with 5 leaves: 10 wedges at the hub, zero close.
    star = [(0, i) for i in range(1, 6)]
    row = _stats(spark, star)
    assert row.n_triangles == 0
    assert row.n_wedges == 10
    assert row.max_degree == 5
    assert row.global_clustering == 0.0


def test_empty_wedges_yield_null_coefficient(spark):
    # A single edge: no wedges — the coefficient must be NULL (not a
    # division error) on both engines.
    row = _stats(spark, [(1, 2)])
    assert row.n_triangles == 0 and row.n_wedges == 0
    assert row.global_clustering is None


def test_matches_naive_on_random_graph(spark):
    import random

    rnd = random.Random(13)
    nodes = list(range(30))
    edge_set = {
        tuple(sorted(rnd.sample(nodes, 2))) for _ in range(120)
    }
    naive = sum(
        1
        for a, b, c in combinations(sorted({n for e in edge_set for n in e}), 3)
        if (a, b) in edge_set and (b, c) in edge_set and (a, c) in edge_set
    )
    row = _stats(spark, edge_set)
    assert row.n_triangles == naive
    assert naive > 0  # the fixture actually contains triangles


def test_cooccurrence_edges_dedup_across_groups(spark):
    df = spark.createDataFrame(
        [(1, 10), (1, 20), (2, 10), (2, 20), (2, 30)], "g long, v long"
    )
    got = {(r.a, r.b) for r in cooccurrence_edges(df, "g", "v").collect()}
    # (10,20) co-occurs in both groups but appears once
    assert got == {(10, 20), (10, 30), (20, 30)}


def _ranks(spark, edge_list, n_iter=5):
    from big_data_bowl_2026_analytics_spark.operators.graph import pagerank

    edges = spark.createDataFrame(sorted(edge_list), "a long, b long")
    return {r.v: r.pr for r in pagerank(edges, n_iter=n_iter).collect()}


def test_pagerank_mass_conserved(spark):
    # No dangling nodes on an undirected graph: total rank mass stays
    # exactly 1 (up to float) at every fixed iteration count.
    import random

    rnd = random.Random(3)
    edge_set = {tuple(sorted(rnd.sample(range(20), 2))) for _ in range(60)}
    # connect everything so no isolated-node edge cases hide
    edge_set |= {(i, i + 1) for i in range(19)}
    for k in (1, 5):
        pr = _ranks(spark, edge_set, n_iter=k)
        assert abs(sum(pr.values()) - 1.0) < 1e-9
        assert len(pr) == 20


def test_pagerank_uniform_on_regular_graph(spark):
    # Every node of a cycle has degree 2: PageRank stays exactly
    # uniform at every iteration.
    n = 12
    cycle = {(i, (i + 1) % n) if i < (i + 1) % n else ((i + 1) % n, i) for i in range(n)}
    pr = _ranks(spark, cycle)
    for v in pr.values():
        assert abs(v - 1.0 / n) < 1e-12


def test_pagerank_star_center_dominates(spark):
    # Star graph: the hub aggregates every leaf's full rank each
    # round; leaves split the hub's. Hand-checkable ordering.
    star = {(0, i) for i in range(1, 9)}
    pr = _ranks(spark, star)
    assert pr[0] > pr[1]
    leaves = [pr[i] for i in range(1, 9)]
    assert max(leaves) - min(leaves) < 1e-12  # symmetry preserved


def test_pagerank_matches_numpy_reference(spark):
    # independent implementation: dense power iteration in numpy must
    # agree with the distributed operator to float precision.
    import random

    import numpy as np

    rnd = random.Random(29)
    n = 25
    edge_set = {tuple(sorted(rnd.sample(range(n), 2))) for _ in range(70)}
    edge_set |= {(i, i + 1) for i in range(n - 1)}  # connected
    A = np.zeros((n, n))
    for a, b in edge_set:
        A[a, b] = A[b, a] = 1.0
    deg = A.sum(axis=1)
    M = A / deg[:, None]  # row-stochastic: row u spreads pr(u)/deg(u)
    pr = np.full(n, 1.0 / n)
    for _ in range(5):
        pr = 0.15 / n + 0.85 * (M.T @ pr)
    got = _ranks(spark, edge_set, n_iter=5)
    assert len(got) == n
    for v in range(n):
        assert abs(got[v] - pr[v]) < 1e-12


def test_local_checkpoint_keeps_origin_size_estimate(spark):
    """A lazy ``localCheckpoint`` frame inherits its origin plan's
    ``sizeInBytes``, so the planner can auto-broadcast it. The graph
    operators keep explicit broadcast hints for a different reason: an
    aggregate's estimate scales with its input, so a small aggregate
    over a large edge frame still looks too big to broadcast."""
    from pyspark.sql import functions as F

    def size(df):
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())

    small = spark.range(1000).groupBy((F.col("id") % 1000).alias("k")).count()
    ck = small.localCheckpoint(eager=False)
    assert size(ck) == size(small) > 0

    big_input = spark.range(100_000_000).groupBy((F.col("id") % 10).alias("k"))
    wide = big_input.count().localCheckpoint(eager=False)
    threshold = int(spark.conf.get("spark.sql.autoBroadcastJoinThreshold").rstrip("b"))
    assert size(wide) > threshold

    key = "spark.sql.adaptive.enabled"
    prior = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        probe = spark.range(10_000_000).withColumnRenamed("id", "k")
        plan = probe.join(ck, "k")._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
    finally:
        spark.conf.set(key, prior)
