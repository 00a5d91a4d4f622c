"""triangle_list, graph_diff, reciprocity vs pure-Python oracles."""

from __future__ import annotations

import random
from collections import defaultdict

from sparkgraph.algorithms.triangles import triangle_count, triangle_list
from sparkgraph.graph import Graph, graph_diff, reciprocity
from sparkgraph.io.edgelist import edges_from_pairs

from tests.fixtures import GRAPH_MAIN


def _tri_oracle(pairs):
    adj = defaultdict(set)
    for a, b in pairs:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    out = set()
    for a in adj:
        for b in adj[a]:
            if b > a:
                for c in adj[a] & adj[b]:
                    if c > b:
                        out.add((a, b, c))
    return out


def test_triangle_list_matches_bruteforce(spark):
    rnd = random.Random(5)
    for trial in range(2):
        pairs = [
            (a, b)
            for a, b in {(rnd.randrange(18), rnd.randrange(18)) for _ in range(70)}
        ]
        g = Graph(edges_from_pairs(spark, pairs), num_partitions=4)
        got = {(r.x, r.y, r.z) for r in triangle_list(g).collect()}
        want = _tri_oracle(pairs)
        assert got == want, trial
        assert len(got) == triangle_count(g)
        g.unpersist()


def test_graph_diff_tags_added_and_removed(spark):
    old = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "src long, dst long")
    new = spark.createDataFrame([(2, 3), (3, 4), (4, 5), (5, 6)], "src long, dst long")
    got = {(r.src, r.dst, r.change) for r in graph_diff(old, new).collect()}
    assert got == {(4, 5, "added"), (5, 6, "added"), (1, 2, "removed")}
    # identical snapshots -> empty diff
    assert graph_diff(old, old).count() == 0


def test_reciprocity_dyad_census(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 4), (4, 3), (5, 5), (1, 3)],
        "src long, dst long",
    )
    r = reciprocity(edges).collect()[0]
    # mutual: {1,2}, {3,4}; asym: {2,3}, {1,3}; self-loop ignored
    assert (r.n_mutual_pairs, r.n_asym_pairs, r.reciprocity) == (2, 2, 0.5)
    # fully asymmetric fixture
    r2 = reciprocity(edges_from_pairs(spark, GRAPH_MAIN)).collect()[0]
    assert r2.n_mutual_pairs >= 0 and abs(
        r2.reciprocity
        - round(r2.n_mutual_pairs / max(r2.n_mutual_pairs + r2.n_asym_pairs, 1), 6)
    ) < 1e-9


def test_four_clique_count_matches_bruteforce(spark):
    from itertools import combinations

    from sparkgraph.algorithms.triangles import four_clique_count

    rnd = random.Random(11)
    for trial in range(2):
        pairs = [
            (a, b)
            for a, b in {(rnd.randrange(14), rnd.randrange(14)) for _ in range(60)}
        ]
        adj = defaultdict(set)
        for a, b in pairs:
            if a != b:
                adj[a].add(b)
                adj[b].add(a)
        want = sum(
            1
            for q in combinations(sorted(adj), 4)
            if all(b in adj[a] for a, b in combinations(q, 2))
        )
        g = Graph(edges_from_pairs(spark, pairs), num_partitions=4)
        got = four_clique_count(g).collect()[0].n_four_cliques
        assert got == want, trial
        g.unpersist()

    # complete graph K6 has C(6,4)=15 four-cliques
    k6 = [(a, b) for a in range(6) for b in range(a + 1, 6)]
    g = Graph(edges_from_pairs(spark, k6), num_partitions=2)
    assert four_clique_count(g).collect()[0].n_four_cliques == 15
    g.unpersist()


def test_butterfly_count_matches_bruteforce(spark):
    from itertools import combinations

    from sparkgraph.graph import butterfly_count

    rnd = random.Random(3)
    for trial in range(2):
        pairs = sorted({(rnd.randrange(8), 100 + rnd.randrange(8)) for _ in range(28)})
        df = spark.createDataFrame(pairs, "src long, dst long")
        got = butterfly_count(df).collect()[0].n_butterflies
        # brute force: pairs of dst sharing >= 2 src
        nbrs = defaultdict(set)
        for s, d in pairs:
            nbrs[d].add(s)
        want = sum(
            1
            for a, b in combinations(sorted(nbrs), 2)
            for _ in combinations(nbrs[a] & nbrs[b], 2)
        )
        assert got == want, trial
    # complete bipartite K(2,2) is exactly one butterfly
    k22 = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 10), (2, 11)], "src long, dst long"
    )
    assert butterfly_count(k22).collect()[0].n_butterflies == 1
