"""Assortativity, ego network, modularity vs pure-Python oracles."""

from __future__ import annotations

import math
from collections import defaultdict, deque

from pyspark.sql import functions as F

from sparkgraph.algorithms.structure import (
    degree_assortativity,
    ego_network,
    modularity,
)
from sparkgraph.graph import Graph
from sparkgraph.io.edgelist import edges_from_pairs

from tests.fixtures import GRAPH_MAIN, GRAPH_MAIN_TRI, count_jobs
from tests.oracles import components_oracle


def _adj(pairs):
    adj = defaultdict(set)
    for s, d in pairs:
        if s != d:
            adj[s].add(d)
            adj[d].add(s)
    return adj


def _assortativity_oracle(pairs):
    adj = _adj(pairs)
    deg = {v: len(n) for v, n in adj.items()}
    du = [deg[u] for u, ns in adj.items() for _ in ns]
    dv = [deg[w] for u, ns in adj.items() for w in ns]
    m = len(du)
    mean = (sum(du) + sum(dv)) / (2.0 * m)
    num = sum(a * b for a, b in zip(du, dv)) / m - mean * mean
    den = (sum(a * a for a in du) + sum(b * b for b in dv)) / (2.0 * m) - mean * mean
    return num / den


def _ego_oracle(pairs, center, radius):
    adj = _adj(pairs)
    dist = {center: 0}
    q = deque([center])
    while q:
        u = q.popleft()
        if dist[u] == radius:
            continue
        for w in adj[u]:
            if w not in dist:
                dist[w] = dist[u] + 1
                q.append(w)
    ball = set(dist)
    return {
        (min(u, v), max(u, v))
        for u, ns in adj.items()
        for v in ns
        if u in ball and v in ball and u < v
    }


def _modularity_oracle(pairs, labels):
    adj = _adj(pairs)
    m2 = sum(len(n) for n in adj.values())
    intra2 = defaultdict(int)
    degsum = defaultdict(int)
    for u, ns in adj.items():
        for v in ns:
            degsum[labels[u]] += 1
            if labels[u] == labels[v]:
                intra2[labels[u]] += 1
    return sum(
        intra2[c] / m2 - (degsum[c] / m2) ** 2 for c in degsum
    )


def test_bipartite_projection_matches_oracle(spark):
    from sparkgraph.graph import project_bipartite

    # orders 0..5 x suppliers: supplier s is in order k iff (s + k) % 3 == 0
    rows = [(k, s) for k in range(6) for s in range(9) if (s + k) % 3 == 0]
    edges = spark.createDataFrame(rows, "src long, dst long")
    got = {
        (r.src, r.dst): r.weight
        for r in project_bipartite(edges, min_weight=2).collect()
    }
    co = defaultdict(int)
    by_k = defaultdict(set)
    for k, s in rows:
        by_k[k].add(s)
    for members in by_k.values():
        ms = sorted(members)
        for i, a in enumerate(ms):
            for b in ms[i + 1:]:
                co[(a, b)] += 1
    want = {p: float(w) for p, w in co.items() if w >= 2}
    assert got == want
    # cap drops mega-groups entirely
    capped = project_bipartite(edges, min_weight=1, max_group_size=2).count()
    assert capped == 0  # every order here touches 3 suppliers > cap


def test_assortativity_matches_oracle(spark):
    for pairs in (GRAPH_MAIN, GRAPH_MAIN_TRI):
        g = Graph(edges_from_pairs(spark, pairs), num_partitions=4)
        got = degree_assortativity(g).collect()[0]["assortativity"]
        # engine rounds to 9 dp, so compare with a matching absolute tolerance
        assert math.isclose(got, _assortativity_oracle(pairs), abs_tol=1e-9)
        g.unpersist()


def test_ego_network_matches_bfs_ball(spark):
    g = Graph(edges_from_pairs(spark, GRAPH_MAIN), num_partitions=4)
    for center, radius in [(1, 1), (1, 2), (3, 2), (12, 1), (100, 3)]:
        got = {(r.u, r.v) for r in ego_network(g, center, radius).collect()}
        assert got == _ego_oracle(GRAPH_MAIN, center, radius), (center, radius)
    g.unpersist()


def test_ego_network_jobs_grow_linearly_in_radius(spark):
    """Each BFS level runs a bounded number of Spark jobs, so on a path
    (one new vertex per level) doubling the radius from 8 to 16 adds about
    twice the jobs that 4 to 8 added, not the quadratic growth of a ball
    whose frontier re-runs every earlier level."""
    g = Graph(edges_from_pairs(spark, [(i, i + 1) for i in range(24)]), num_partitions=4)
    jobs = {
        r: count_jobs(spark, f"ego-{r}", lambda: ego_network(g, 0, r).count())[0]
        for r in (4, 8, 16)
    }
    assert jobs[16] - jobs[8] <= 2.5 * (jobs[8] - jobs[4]), jobs
    g.unpersist()


def test_local_clustering_matches_bruteforce(spark):
    from sparkgraph.algorithms.structure import local_clustering

    import random

    rnd = random.Random(11)
    pairs = [(a, b) for a, b in {(rnd.randrange(25), rnd.randrange(25)) for _ in range(120)} if a != b]
    g = Graph(edges_from_pairs(spark, pairs), num_partitions=4)
    got = {r.id: (r.triangles, r.lcc) for r in local_clustering(g).collect()}
    adj = _adj(pairs)
    for v, ns in adj.items():
        t = sum(1 for a in ns for b in ns if a < b and b in adj[a])
        d = len(ns)
        lcc = round(t / (d * (d - 1) / 2.0), 9) if d >= 2 else 0.0
        assert got[v] == (t, lcc), v
    g.unpersist()


def test_modularity_of_components_matches_oracle(spark):
    # components as the partition: no inter-community edges, Q = 1 - Σ(a_c/2m)²
    g = Graph(edges_from_pairs(spark, GRAPH_MAIN), num_partitions=4)
    comp = components_oracle(GRAPH_MAIN)
    labels = spark.createDataFrame(list(comp.items()), "id long, label long")
    got = modularity(g, labels).collect()[0]["modularity"]
    assert math.isclose(got, _modularity_oracle(GRAPH_MAIN, comp), rel_tol=1e-8)
    # degenerate partition: everything in one community -> Q = 0
    one = labels.select("id", F.lit(0).alias("label"))
    assert abs(modularity(g, one).collect()[0]["modularity"]) < 1e-12
    g.unpersist()


def test_two_hop_sizes_match_bfs_oracle(spark):
    import random

    from sparkgraph.algorithms.structure import two_hop_sizes

    rng = random.Random(31)
    n = 40
    pairs = list({(rng.randrange(n), rng.randrange(n)) for _ in range(100)})
    pairs = [(a, b) for a, b in pairs if a != b]
    g = Graph(edges_from_pairs(spark, pairs), num_partitions=4)
    got = {r.id: (r.n_1hop, r.n_2hop) for r in two_hop_sizes(g).collect()}
    adj = _adj(pairs)
    for v, nbrs in adj.items():
        ball = set(nbrs)
        for m in nbrs:
            ball |= set(adj[m])
        ball.discard(v)
        assert got[v] == (len(nbrs), len(ball)), v
    assert set(got) == set(adj)
    g.unpersist()


def test_two_hop_max_degree_cap_undercounts_through_hubs_only(spark):
    from sparkgraph.algorithms.structure import two_hop_sizes

    # star: center 0 with 6 leaves, plus a path 1-7-8. Capping middle
    # vertices at degree <= 2 removes ONLY paths through the center.
    pairs = [(0, i) for i in range(1, 7)] + [(1, 7), (7, 8)]
    g = Graph(edges_from_pairs(spark, pairs), num_partitions=2)
    exact = {r.id: r.n_2hop for r in two_hop_sizes(g).collect()}
    capped = {r.id: r.n_2hop for r in two_hop_sizes(g, max_degree=2).collect()}
    assert exact[1] == 8  # {0, 7} direct + leaves 2..6 via center + 8 via 7
    assert capped[1] == 3  # {0, 7, 8}: center-mediated hops are gone
    assert capped[8] == exact[8] == 2  # path end untouched by the cap
    g.unpersist()
