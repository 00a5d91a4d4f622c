"""Label propagation determinism + exact triangle counting vs brute force."""

import random

import pytest

from sparkgraph.algorithms import label_propagation, triangle_count
from sparkgraph.algorithms import triangles as triangles_mod
from sparkgraph.graph import Graph
from sparkgraph.io.edgelist import edges_from_pairs

from tests.fixtures import GRAPH_CHAIN, GRAPH_DOUBLED, GRAPH_MAIN, GRAPH_MAIN_TRI
from tests.oracles import lpa_oracle, triangles_oracle


def test_lpa_matches_simulation(spark):
    for pairs in (GRAPH_MAIN, GRAPH_CHAIN):
        g = Graph(edges_from_pairs(spark, pairs), num_partitions=4)
        got = {r.id: r.label for r in label_propagation(g, max_iter=10).state.collect()}
        assert got == lpa_oracle(pairs, max_iter=10)
        g.unpersist()


def test_weighted_lpa_matches_simulation(spark):
    from collections import defaultdict

    from tests.oracles import symmetrize

    def weighted_oracle(pairs, wfn, max_iter=10):
        sym = symmetrize(pairs)
        adj = defaultdict(list)
        for s, d in sym:
            adj[s].append((d, wfn(s, d)))
        nodes = sorted({v for e in sym for v in e})
        label = {v: v for v in nodes}
        for _ in range(max_iter):
            new = {}
            for v in nodes:
                votes: dict[int, float] = defaultdict(float)
                for u, w in adj[v]:
                    votes[label[u]] += w
                new[v] = max(votes.items(), key=lambda kv: (kv[1], -kv[0]))[0]
            if new == label:
                break
            label = new
        return label

    wfn = lambda s, d: float(1 + (s + d) % 3)  # noqa: E731 — symmetric weight
    wpairs = [(s, d, wfn(s, d)) for s, d in GRAPH_MAIN]
    g = Graph(spark.createDataFrame(wpairs, "src long, dst long, weight double"))
    got = {
        r.id: r.label
        for r in label_propagation(g, max_iter=10, weighted=True).state.collect()
    }
    assert got == weighted_oracle(GRAPH_MAIN, wfn)
    g.unpersist()
    # unit weights reduce exactly to multiplicity voting
    g1 = Graph(edges_from_pairs(spark, GRAPH_MAIN), num_partitions=4)
    got1 = {
        r.id: r.label
        for r in label_propagation(g1, max_iter=10, weighted=True).state.collect()
    }
    assert got1 == lpa_oracle(GRAPH_MAIN, max_iter=10)
    g1.unpersist()


def test_lpa_deterministic_across_partitionings(spark):
    outs = []
    for p in (1, 4):
        g = Graph(edges_from_pairs(spark, GRAPH_MAIN), num_partitions=p)
        outs.append(
            {r.id: r.label for r in label_propagation(g, max_iter=7).state.collect()}
        )
        g.unpersist()
    assert outs[0] == outs[1]


def test_triangles_zero_on_triangle_free_fixture(spark):
    g = Graph(edges_from_pairs(spark, GRAPH_MAIN), num_partitions=4)
    assert triangle_count(g) == 0
    g.unpersist()


def test_triangles_one_after_closing_edge(spark):
    g = Graph(edges_from_pairs(spark, GRAPH_MAIN_TRI), num_partitions=4)
    assert triangle_count(g) == 1  # {1,3,4}
    g.unpersist()


def test_triangles_parallel_edges_deduped(spark):
    # Doubled edges must not inflate the simple-graph triangle count.
    g = Graph(edges_from_pairs(spark, GRAPH_DOUBLED + [(1, 3), (3, 1)]), num_partitions=4)
    assert triangle_count(g) == 1
    g.unpersist()


def _random_pairs(rng, n=12, m=25):
    pairs = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
    return [(s, d) for s, d in pairs if s != d]


def test_triangles_random_graphs_vs_bruteforce(spark):
    rng = random.Random(42)
    for trial in range(3):
        pairs = _random_pairs(rng)
        g = Graph(edges_from_pairs(spark, pairs), num_partitions=4)
        assert triangle_count(g) == triangles_oracle(pairs), f"trial {trial}: {pairs}"
        g.unpersist()


def test_triangles_sparse_path_vs_bruteforce(spark, monkeypatch):
    """Every fixture fits the bitset kernel's vertex ceiling; a ceiling of 0
    sends them down the sparse (oriented-list intersection) path instead."""
    monkeypatch.setattr(triangles_mod, "BITSET_MAX_VERTICES", 0)
    rng = random.Random(42)
    cases = [_random_pairs(rng) for _ in range(3)]
    cases.append(GRAPH_DOUBLED + [(1, 3), (3, 1)])
    for pairs in cases:
        g = Graph(edges_from_pairs(spark, pairs), num_partitions=4)
        assert triangle_count(g) == triangles_oracle(pairs), pairs
        g.unpersist()


def _persisted_rdds(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


@pytest.mark.parametrize("ceiling", [triangles_mod.BITSET_MAX_VERTICES, 0])
def test_triangle_count_releases_what_it_persists(spark, monkeypatch, ceiling):
    monkeypatch.setattr(triangles_mod, "BITSET_MAX_VERTICES", ceiling)
    g = Graph(edges_from_pairs(spark, GRAPH_MAIN_TRI), num_partitions=4)
    before = _persisted_rdds(spark)
    assert triangle_count(g) == 1
    assert _persisted_rdds(spark) == before
    g.unpersist()


def test_triangle_count_bitset_releases_on_failure(spark, monkeypatch):
    def fail(*args, **kwargs):
        raise RuntimeError("broadcast failed")

    monkeypatch.setattr(type(spark.sparkContext), "broadcast", fail)
    g = Graph(edges_from_pairs(spark, GRAPH_MAIN_TRI), num_partitions=4)
    before = _persisted_rdds(spark)
    with pytest.raises(RuntimeError, match="broadcast failed"):
        triangle_count(g)
    assert _persisted_rdds(spark) == before
    g.unpersist()
