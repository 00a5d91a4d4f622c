"""PageRank vs numpy-free pure-Python oracle (FIXTURES.md §4)."""

import logging
import math

import pytest

from sparkgraph.algorithms import pagerank, top_k
from sparkgraph.graph import Graph
from sparkgraph.io.edgelist import edges_from_pairs
from sparkgraph.kernels.csr import pagerank_csr

from tests.fixtures import GRAPH_CHAIN, GRAPH_DOUBLED, GRAPH_MAIN
from tests.oracles import pagerank_oracle


def _run(spark, pairs, **kw):
    g = Graph(edges_from_pairs(spark, pairs), num_partitions=4)
    res = pagerank(g, **kw)
    out = {r.id: r.value for r in res.state.collect()}
    g.unpersist()
    return out, res


@pytest.mark.parametrize("pairs", [GRAPH_MAIN, GRAPH_CHAIN], ids=["main", "chain"])
def test_reference_mode_matches_oracle(spark, pairs):
    got, res = _run(spark, pairs, mode="reference", iterations=30)
    want = pagerank_oracle(pairs, iterations=30)
    assert set(got) == set(want)
    assert all(math.isclose(got[v], want[v], abs_tol=1e-6) for v in want)
    assert res.supersteps == 30


def test_values_identical_with_callers_aqe_on_and_off(spark):
    # truncation plans statically either way; the caller's AQE setting only
    # changes how the apply join is planned — values stay bit-equal
    key = "spark.sql.adaptive.enabled"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "true")
        on, _ = _run(spark, GRAPH_MAIN, mode="reference", iterations=15)
        spark.conf.set(key, "false")
        off, _ = _run(spark, GRAPH_MAIN, mode="reference", iterations=15)
    finally:
        spark.conf.set(key, before)
    assert on == off


def test_convergence_mode(spark):
    got, res = _run(spark, GRAPH_MAIN, mode="convergence", tol=1e-9)
    want = pagerank_oracle(GRAPH_MAIN, init="uniform", tol=1e-9)
    assert res.converged
    assert all(math.isclose(got[v], want[v], abs_tol=1e-6) for v in want)
    # Damped PR on a graph with no dangling mass sums to 1 at the fixpoint.
    assert math.isclose(sum(got.values()), 1.0, abs_tol=1e-6)


@pytest.mark.parametrize("kernel", [pagerank, pagerank_csr], ids=["relational", "csr"])
def test_unconverged_convergence_mode_warns(spark, caplog, kernel):
    g = Graph(edges_from_pairs(spark, GRAPH_MAIN), num_partitions=4)
    with caplog.at_level(logging.WARNING, logger="sparkgraph"):
        res = kernel(g, mode="convergence", tol=1e-12, max_iter=3)
    assert not res.converged and res.supersteps == 3
    assert any("max_iter ceiling" in r.message for r in caplog.records)
    caplog.clear()
    with caplog.at_level(logging.WARNING, logger="sparkgraph"):
        assert kernel(g, mode="reference", iterations=3).converged
    assert not any("ceiling" in r.message for r in caplog.records)
    g.unpersist()


def test_modes_agree_at_fixpoint(spark):
    # residual after k damped updates ≈ C·0.85^k; 80 iters ⇒ < 1e-6 here
    ref, _ = _run(spark, GRAPH_CHAIN, mode="reference", iterations=80)
    conv, _ = _run(spark, GRAPH_CHAIN, mode="convergence", tol=1e-9)
    assert all(math.isclose(ref[v], conv[v], abs_tol=1e-6) for v in ref)


def test_uniform_parallel_edges_leave_pr_invariant(spark):
    """GRAPH_DOUBLED = every edge twice ⇒ degrees double uniformly ⇒ the
    contribution value/deg per parallel edge halves ⇒ identical PR. This
    pins the loader's keep-parallel-edges semantics into the algorithm."""
    single, _ = _run(spark, GRAPH_MAIN, mode="reference", iterations=30)
    doubled, _ = _run(spark, GRAPH_DOUBLED, mode="reference", iterations=30)
    assert all(math.isclose(single[v], doubled[v], abs_tol=1e-9) for v in single)


def test_degrees_double_on_doubled_graph(spark):
    g1 = Graph(edges_from_pairs(spark, GRAPH_MAIN), num_partitions=4)
    g2 = Graph(edges_from_pairs(spark, GRAPH_DOUBLED), num_partitions=4)
    d1 = {r.id: r.deg for r in g1.degrees.collect()}
    d2 = {r.id: r.deg for r in g2.degrees.collect()}
    assert d2 == {v: 2 * d for v, d in d1.items()}


def test_top_k_report(spark):
    got, res = _run(spark, GRAPH_MAIN, mode="reference", iterations=30)
    g = Graph(edges_from_pairs(spark, GRAPH_MAIN), num_partitions=4)
    r = pagerank(g, mode="reference", iterations=30)
    rows = top_k(r.state, 25).collect()
    assert len(rows) == 23  # only 23 vertices exist
    vals = [r.value for r in rows]
    assert vals == sorted(vals, reverse=True)


def test_metrics_recorded(spark):
    _, res = _run(spark, GRAPH_CHAIN, mode="reference", iterations=5)
    assert [m.superstep for m in res.metrics] == [1, 2, 3, 4, 5]
    assert all(m.seconds >= 0 for m in res.metrics)
