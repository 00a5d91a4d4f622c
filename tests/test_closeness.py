"""Harmonic closeness vs pure-Python BFS oracles."""

from __future__ import annotations

import math

from sparkgraph.algorithms.closeness import harmonic_closeness_sampled
from sparkgraph.graph import Graph

from tests.fixtures import GRAPH_MAIN, count_jobs
from tests.oracles import bfs_oracle

INF = float("inf")


def _harmonic_oracle(pairs, pivots, normalize=True):
    nodes = sorted({v for e in pairs for v in e})
    n = len(nodes)
    acc = {v: 0.0 for v in nodes}
    for p in pivots:
        dist = bfs_oracle(pairs, p)
        for v, d in dist.items():
            if 0 < d < INF:
                acc[v] += 1.0 / d
    scale = n / len(pivots)
    denom = max(n - 1, 1) if normalize else 1
    return {v: acc[v] * scale / denom for v in nodes}


def _got(spark, pairs, **kw):
    g = Graph(spark.createDataFrame(pairs, "src long, dst long"))
    res = harmonic_closeness_sampled(g, **kw)
    assert res.converged
    return {r.id: r.closeness for r in res.state.collect()}


def test_exact_when_pivots_cover_all_vertices(spark):
    nodes = sorted({v for e in GRAPH_MAIN for v in e})
    got = _got(spark, GRAPH_MAIN, pivots=nodes)
    want = _harmonic_oracle(GRAPH_MAIN, nodes)
    assert set(got) == set(want)
    for v in want:
        assert math.isclose(got[v], want[v], rel_tol=1e-9), v
    # isolated-in-sample sanity: pair components score tiny but nonzero
    assert got[100] > 0 and got[max(got, key=got.get)] == max(got.values())


def test_sampled_pivots_match_python_replay(spark):
    k = 4
    nodes = sorted({v for e in GRAPH_MAIN for v in e})
    got = _got(spark, GRAPH_MAIN, k=k)
    want = _harmonic_oracle(GRAPH_MAIN, nodes[:k])  # default = k smallest ids
    for v in want:
        assert math.isclose(got[v], want[v], rel_tol=1e-9), v


def test_eccentricity_matches_bfs(spark):
    from sparkgraph.algorithms.closeness import eccentricity_sampled

    nodes = sorted({v for e in GRAPH_MAIN for v in e})
    g = Graph(spark.createDataFrame(GRAPH_MAIN, "src long, dst long"))
    got = {
        r.pivot: r.eccentricity
        for r in eccentricity_sampled(g, pivots=nodes).state.collect()
    }
    for p in nodes:
        dist = bfs_oracle(GRAPH_MAIN, p)
        assert got[p] == max(int(d) for d in dist.values() if d < INF), p
    # diameter lower bound from the full sample IS the diameter
    want_diam = max(
        max(int(d) for d in bfs_oracle(GRAPH_MAIN, p).values() if d < INF)
        for p in nodes
    )
    assert max(got.values()) == want_diam == 7
    g.unpersist()


def test_unnormalized_scale(spark):
    nodes = sorted({v for e in GRAPH_MAIN for v in e})
    got = _got(spark, GRAPH_MAIN, pivots=nodes, normalize=False)
    want = _harmonic_oracle(GRAPH_MAIN, nodes, normalize=False)
    for v in want:
        assert math.isclose(got[v], want[v], rel_tol=1e-9), v


def test_landmark_distances_match_bfs(spark):
    from sparkgraph.algorithms.closeness import landmark_distances

    nodes = sorted({v for e in GRAPH_MAIN for v in e})
    lms = nodes[:4]
    g = Graph(spark.createDataFrame(GRAPH_MAIN, "src long, dst long"))
    got = {
        (r.id, r.landmark): r.dist
        for r in landmark_distances(g, landmarks=lms).state.collect()
    }
    want = {}
    for lm in lms:
        for v, d in bfs_oracle(GRAPH_MAIN, lm).items():
            if d < INF:
                want[(v, lm)] = d
    assert got == want


def test_landmark_estimate_upper_bounds_true_distance(spark):
    from sparkgraph.algorithms.closeness import (
        landmark_distance_estimate,
        landmark_distances,
    )

    nodes = sorted({v for e in GRAPH_MAIN for v in e})
    g = Graph(spark.createDataFrame(GRAPH_MAIN, "src long, dst long"))
    labels = landmark_distances(g, k=6).state
    pairs = [(u, v) for u in nodes[:6] for v in nodes[:6] if u != v]
    pdf = spark.createDataFrame(pairs, "u long, v long")
    est = {
        (r.u, r.v): r.dist_est
        for r in landmark_distance_estimate(labels, pdf).collect()
    }
    for (u, v), e in est.items():
        true = bfs_oracle(GRAPH_MAIN, u).get(v, INF)
        assert e >= true, (u, v)  # triangle-inequality upper bound
        assert e < INF
    # a pair with a landmark ON the shortest path is exact: landmark = u
    lms = nodes[:6]
    for (u, v), e in est.items():
        if u in lms:
            assert e == bfs_oracle(GRAPH_MAIN, u)[v], (u, v)


def test_landmark_jobs_per_bfs_level_do_not_grow(spark):
    """A BFS level is a bounded number of Spark jobs: on a path, 8 more
    levels cost at most 4 jobs each."""
    from sparkgraph.algorithms.closeness import landmark_distances

    jobs = {}
    for depth in (8, 16):
        g = Graph(spark.createDataFrame([(i, i + 1) for i in range(depth)], "src long, dst long"))
        jobs[depth], res = count_jobs(
            spark, f"landmarks-{depth}",
            lambda: landmark_distances(g, landmarks=[0]),
        )
        assert res.converged and res.supersteps == depth + 1
    assert jobs[16] - jobs[8] <= 4 * 8, jobs
