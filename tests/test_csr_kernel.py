"""CSR Arrow kernel ≡ relational PageRank (drop-in strategy equivalence)."""

import math

import pytest

from sparkgraph.algorithms import pagerank
from sparkgraph.graph import Graph
from sparkgraph.io.edgelist import edges_from_pairs
from sparkgraph.io.synth import powerlaw_edges
from sparkgraph.kernels import cc_csr, pagerank_csr, sssp_csr
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


def _jobs(spark, group, fn) -> tuple[int, object]:
    """Spark jobs ``fn`` starts, counted through a job group that no other
    call uses, and its result."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        res = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status tracker reads the listener bus's output
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    return len(sc.statusTracker().getJobIdsForGroup(group)), res


def test_csr_job_count_does_not_grow_with_supersteps(spark):
    """On a cached pack a kernel call runs its supersteps inside one task, so
    its Spark job count does not depend on how many supersteps it runs."""
    g = Graph(edges_from_pairs(spark, GRAPH_CHAIN), num_partitions=4)
    packed_graph(g)
    j2, r2 = _jobs(spark, "pagerank-2", lambda: pagerank_csr(g, iterations=2))
    j8, r8 = _jobs(spark, "pagerank-8", lambda: pagerank_csr(g, iterations=8))
    assert (r2.supersteps, r8.supersteps) == (2, 8)
    assert j2 == j8 > 0
    j_near, r_near = _jobs(spark, "sssp-near", lambda: sssp_csr(g, source=1))
    j_far, r_far = _jobs(spark, "sssp-far", lambda: sssp_csr(g, source=5))
    assert r_near.supersteps < r_far.supersteps
    assert j_near == j_far > 0
    g.unpersist()


def test_csr_result_contract(spark):
    """Every CSR kernel reports one metric per superstep, the halting metric
    of its last one, and a JSON-serializable ``converged``."""
    g = Graph(edges_from_pairs(spark, GRAPH_MAIN), num_partitions=4)
    tol = 1e-8
    pr = pagerank_csr(g, mode="convergence", tol=tol)
    sp = sssp_csr(g, source=1)
    cc = cc_csr(g)
    for res in (pr, sp, cc):
        assert len(res.metrics) == res.supersteps > 0
        assert type(res.converged) is bool and res.converged
        assert [m.superstep for m in res.metrics] == list(range(1, res.supersteps + 1))
    assert pr.metrics[-1].delta < tol
    assert sp.metrics[-1].changed == 0 and cc.metrics[-1].changed == 0
    g.unpersist()
