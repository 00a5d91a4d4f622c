"""SSSP/CC CSR kernels ≡ relational algorithms."""

import math

import pytest

from sparkgraph.algorithms import connected_components, pagerank, sssp
from sparkgraph.graph import Graph
from sparkgraph.io.edgelist import edges_from_pairs
from sparkgraph.io.synth import powerlaw_edges
import sparkgraph.kernels.csr as csr_kernel
from sparkgraph.kernels import cc_csr, pagerank_csr, sssp_csr

from tests.fixtures import GRAPH_MAIN


def test_sssp_csr_equals_relational(spark):
    g = Graph(edges_from_pairs(spark, GRAPH_MAIN), num_partitions=4)
    rel = {r.id: r.dist for r in sssp(g, source=1).state.collect()}
    csr = {r.id: r.dist for r in sssp_csr(g, source=1).state.collect()}
    assert set(rel) == set(csr)
    for v in rel:
        assert (math.isinf(rel[v]) and math.isinf(csr[v])) or rel[v] == csr[v]
    g.unpersist()


def test_sssp_csr_weighted(spark):
    edges = spark.createDataFrame(
        [(1, 3, 5.0), (1, 2, 1.0), (2, 3, 1.0)], "src long, dst long, weight double"
    )
    g = Graph(edges, num_partitions=2)
    got = {r.id: r.dist for r in sssp_csr(g, source=1).state.collect()}
    assert got == {1: 0.0, 2: 1.0, 3: 2.0}
    g.unpersist()


def test_sssp_csr_absent_source(spark):
    g = Graph(edges_from_pairs(spark, GRAPH_MAIN), num_partitions=4)
    got = {r.id: r.dist for r in sssp_csr(g, source=999).state.collect()}
    assert all(math.isinf(d) for d in got.values())
    g.unpersist()


def test_cc_csr_equals_relational_fixture_and_powerlaw(spark):
    for edges in (
        edges_from_pairs(spark, GRAPH_MAIN),
        powerlaw_edges(spark, 5_000, 800),
    ):
        g = Graph(edges, num_partitions=4)
        rel = {r.id: r.component for r in connected_components(g).state.collect()}
        csr = {r.id: r.component for r in cc_csr(g).state.collect()}
        assert rel == csr
        g.unpersist()


@pytest.mark.parametrize("kernel", ["pagerank", "sssp", "cc"])
def test_coalesced_pack_equals_relational(spark, monkeypatch, kernel):
    """A 4-partition pack read through the kernels' ONE coalesced task: that
    task's Arrow batch holds all four pack rows, and every one must send its
    messages."""
    # 40k symmetrized edges in 10k-edge pack rows: a 4-partition pack
    monkeypatch.setattr(csr_kernel, "PACK_EDGES_PER_PARTITION", 10_000)
    g = Graph(powerlaw_edges(spark, 20_000, 2_000), num_partitions=4)
    assert csr_kernel.packed_graph(g).parts == 4
    if kernel == "pagerank":
        rel = {r.id: r.value for r in pagerank(g, iterations=5).state.collect()}
        got = {r.id: r.value for r in pagerank_csr(g, iterations=5).state.collect()}
        assert set(got) == set(rel)
        assert all(math.isclose(rel[v], got[v], rel_tol=1e-12) for v in rel)
    elif kernel == "sssp":
        src = min(r.id for r in g.vertices.collect())
        rel = {r.id: r.dist for r in sssp(g, source=src).state.collect()}
        assert {r.id: r.dist for r in sssp_csr(g, source=src).state.collect()} == rel
    else:
        rel = {r.id: r.component for r in connected_components(g).state.collect()}
        assert {r.id: r.component for r in cc_csr(g).state.collect()} == rel
    g.unpersist()


def test_cc_csr_exact_for_ids_beyond_2_53(spark):
    """Labels stay int64: ids near 2^62, which float64 cannot tell apart,
    get the same components as the relational algorithm."""
    base = 2**62
    g = Graph(edges_from_pairs(spark, [(base + s, base + d) for s, d in GRAPH_MAIN]),
              num_partitions=4)
    rel = {r.id: r.component for r in connected_components(g).state.collect()}
    assert {r.id: r.component for r in cc_csr(g).state.collect()} == rel
    g.unpersist()
