"""CSR Arrow kernel ≡ relational PageRank (drop-in strategy equivalence)."""

import math

import pytest

from sparkgraph.algorithms import pagerank
from sparkgraph.graph import Graph
from sparkgraph.io.edgelist import edges_from_pairs
from sparkgraph.io.synth import powerlaw_edges
from sparkgraph.kernels import pagerank_csr
from sparkgraph.kernels.csr import packed_graph

from tests.fixtures import GRAPH_CHAIN, GRAPH_MAIN


@pytest.mark.parametrize("pairs", [GRAPH_MAIN, GRAPH_CHAIN], ids=["main", "chain"])
def test_csr_equals_relational_reference_mode(spark, pairs):
    g = Graph(edges_from_pairs(spark, pairs), num_partitions=4)
    rel = {r.id: r.value for r in pagerank(g, iterations=12).state.collect()}
    csr = {r.id: r.value for r in pagerank_csr(g, iterations=12).state.collect()}
    assert set(rel) == set(csr)
    assert all(math.isclose(rel[v], csr[v], rel_tol=1e-12) for v in rel)
    g.unpersist()


def test_csr_convergence_mode(spark):
    g = Graph(edges_from_pairs(spark, GRAPH_MAIN), num_partitions=4)
    res = pagerank_csr(g, mode="convergence", tol=1e-10)
    assert res.converged
    rel = pagerank(g, mode="convergence", tol=1e-10)
    a = {r.id: r.value for r in res.state.collect()}
    b = {r.id: r.value for r in rel.state.collect()}
    assert all(math.isclose(a[v], b[v], abs_tol=1e-9) for v in a)
    g.unpersist()


def test_csr_on_skewed_graph(spark):
    g = Graph(powerlaw_edges(spark, 20_000, 2_000), num_partitions=4)
    rel = {r.id: r.value for r in pagerank(g, iterations=5).state.collect()}
    csr = {r.id: r.value for r in pagerank_csr(g, iterations=5).state.collect()}
    assert all(math.isclose(rel[v], csr[v], rel_tol=1e-10) for v in rel)
    g.unpersist()


def test_csr_envelope_guard(spark):
    g = Graph(edges_from_pairs(spark, GRAPH_CHAIN), num_partitions=4)
    with pytest.raises(ValueError, match="envelope"):
        pagerank_csr(g, max_broadcast_vertices=2)
    # a pack cached under the default envelope is checked again per call
    packed_graph(g)
    with pytest.raises(ValueError, match="envelope"):
        pagerank_csr(g, max_broadcast_vertices=2)
    g.unpersist()
