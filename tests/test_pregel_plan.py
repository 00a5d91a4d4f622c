"""Plan shape of the superstep loops: truncated loop state keeps its hash
partitioning on ``id``, so the ``groupBy`` gather is a superstep's only
shuffle, PageRank's state comes straight out of that gather (its scatter is
its only join), and truncation leaves the caller's AQE setting as it found
it. ``SuperstepLoop.start``, ``SuperstepLoop.relax`` and
``SuperstepLoop.propagate`` truncate inside ``sparkgraph.pregel``, so the
plans are recorded there."""

import math
from importlib import import_module

import pytest
from pyspark.sql import functions as F

from sparkgraph.algorithms import (
    connected_components, katz_centrality, label_propagation, pagerank, sssp,
)
from sparkgraph.algorithms.dag import longest_path_layers
from sparkgraph.algorithms.pagerank import ppr_batch
from sparkgraph.algorithms.temporal import temporal_earliest_arrival
from sparkgraph.graph import Graph
from sparkgraph.io.edgelist import edges_from_pairs
from sparkgraph.pregel import Checkpointer, truncate_lineage

from tests.fixtures import GRAPH_MAIN
from tests.oracles import pagerank_oracle

AQE = "spark.sql.adaptive.enabled"
# the package re-exports the functions under the modules' names
lpa_mod = import_module("sparkgraph.algorithms.lpa")
pregel_mod = import_module("sparkgraph.pregel")


@pytest.fixture
def graph(spark):
    g = Graph(edges_from_pairs(spark, GRAPH_MAIN), num_partitions=4)
    yield g
    g.unpersist()


def _nodes(plan):
    """Physical plan nodes reached through ``children()``. A persisted input
    (InMemoryTableScan) is a leaf: its cached plan is not walked."""
    out = [plan]
    kids = plan.children()
    for i in range(kids.size()):
        out += _nodes(kids.apply(i))
    return out


def _exchanges(df):
    plan = df._jdf.queryExecution().executedPlan()
    return [
        n.outputPartitioning().toString()
        for n in _nodes(plan)
        if n.getClass().getSimpleName() == "ShuffleExchangeExec"
    ]


def _joins(df):
    plan = df._jdf.queryExecution().executedPlan()
    names = [n.getClass().getSimpleName() for n in _nodes(plan)]
    return [n for n in names if n.endswith("JoinExec") or n == "CartesianProductExec"]


def _recording(monkeypatch, *modules):
    """Wrap ``truncate_lineage`` in ``modules`` to keep every DataFrame it
    cuts: the first is the initial (or restored) state, then one per
    superstep."""
    seen = []

    def record(df, eager=True):
        seen.append(df)
        return truncate_lineage(df, eager=eager)

    for module in modules:
        monkeypatch.setattr(module, "truncate_lineage", record)
    return seen


def test_truncated_state_reports_hash_partitioning_on_id(graph):
    state = truncate_lineage(graph.vertices.join(graph.degrees, "id"))
    part = state._jdf.queryExecution().executedPlan().outputPartitioning()
    assert part.getClass().getSimpleName() == "HashPartitioning"
    assert part.toString().startswith("hashpartitioning(id#")


def test_pagerank_superstep_has_one_exchange_keyed_on_dst(graph, monkeypatch):
    warm = pagerank(graph, iterations=1).state
    for kwargs in (
        {"mode": "reference", "iterations": 1},
        {"mode": "reference", "iterations": 1, "weighted": True},
        {"mode": "convergence", "max_iter": 1},
        {"mode": "reference", "iterations": 1, "reset_to": 1},
        {"mode": "convergence", "max_iter": 1, "initial_state": warm},
    ):
        seen = _recording(monkeypatch, pregel_mod)
        pagerank(graph, **kwargs)
        assert len(seen) == 2, kwargs  # initial state, superstep 1
        # the scatter is the only join: the new state is the gather's output
        assert _joins(seen[1]) == ["ShuffledHashJoinExec"], kwargs
        (exchange,) = _exchanges(seen[1])
        assert exchange.startswith("hashpartitioning(dst#"), kwargs


@pytest.mark.parametrize(
    "run, cut, keys",
    [
        (lambda g: katz_centrality(g, iterations=1), 1, ["dst"]),
        # The cross-join init is not truncated, so superstep 2 is the pin. The
        # state is keyed (seed, id), so the scatter join re-exchanges it on src.
        (lambda g: ppr_batch(g, [1, 2], iterations=2), 1, ["seed", "src"]),
    ],
    ids=["katz", "ppr_batch"],
)
def test_propagate_superstep_has_one_join(graph, monkeypatch, run, cut, keys):
    graph.edges_sym.count()
    seen = _recording(monkeypatch, pregel_mod)
    run(graph)
    assert _joins(seen[cut]) == ["ShuffledHashJoinExec"]
    exchanges = _exchanges(seen[cut])
    assert sorted(e[len("hashpartitioning("):].split("#")[0] for e in exchanges) == keys


def _temporal(g):
    ts = g.edges.select("src", "dst", F.col("weight").alias("ts"))
    return temporal_earliest_arrival(ts, [1], max_iter=1)


def _dag(g):
    return longest_path_layers(g.edges.filter(F.col("src") < F.col("dst")), max_iter=1)


@pytest.mark.parametrize(
    "run",
    [
        lambda g: sssp(g, 1, max_iter=1),
        lambda g: connected_components(g, max_iter=1),
        _temporal,
        _dag,
    ],
    ids=["sssp", "cc", "temporal", "dag"],
)
def test_fixpoint_superstep_has_one_exchange(graph, monkeypatch, run):
    # Until the cached edge table is built, its scan reports no partitioning
    # and the scatter join would shuffle it once; any earlier job on the
    # graph (its degrees, a PageRank) builds it.
    graph.edges_sym.count()
    seen = _recording(monkeypatch, pregel_mod)
    run(graph)
    assert len(seen) == 2  # initial state, superstep 1
    (exchange,) = _exchanges(seen[1])
    assert exchange.startswith("hashpartitioning(dst#")


def test_lpa_first_superstep_exchanges_only_its_gathers(graph, monkeypatch):
    # the initial label is not a bare alias of id, so the truncated state
    # stays partitioned on id and neither join re-exchanges it
    graph.edges_sym.count()
    seen = _recording(monkeypatch, pregel_mod, lpa_mod)
    label_propagation(graph, max_iter=1)
    assert len(seen) == 2  # initial state, superstep 1
    gathers = _exchanges(seen[1])  # groupBy(dst, label), then groupBy(id)
    assert len(gathers) == 2, gathers


@pytest.mark.parametrize("mode", ["reference", "convergence"])
def test_pagerank_keeps_every_vertex_with_self_loops_and_parallel_edges(spark, mode):
    """The state is the gather's output, so it relies on every vertex getting
    a message: parallel edges count once per copy, a self-loop messages its
    vertex twice (7 has nothing else), and an isolated pair messages each
    other."""
    pairs = [(1, 2), (1, 2), (2, 3), (3, 3), (3, 4), (5, 6), (7, 7)]
    g = Graph(edges_from_pairs(spark, pairs), num_partitions=4)
    res = pagerank(g, mode=mode, iterations=30, tol=1e-10)
    got = {r.id: r.value for r in res.state.collect()}
    assert set(got) == {r.id for r in g.vertices.collect()}
    if mode == "reference":
        want = pagerank_oracle(pairs, iterations=30)
    else:
        want = pagerank_oracle(pairs, init="uniform", tol=1e-10)
    assert all(math.isclose(got[v], want[v], abs_tol=1e-9) for v in want)
    g.unpersist()


def test_resumed_superstep_has_one_exchange(graph, monkeypatch, tmp_path):
    ckdir = str(tmp_path / "cc")
    connected_components(graph, max_iter=1, checkpointer=Checkpointer(ckdir, every=1))
    seen = _recording(monkeypatch, pregel_mod)
    res = connected_components(graph, checkpointer=Checkpointer(ckdir, every=1), resume=True)
    assert res.converged
    # the restored Parquet state is hash-partitioned inside its truncation …
    (restore,) = _exchanges(seen[0])
    assert restore.startswith("hashpartitioning(id#")
    # … so the first superstep after the resume only shuffles its gather
    assert len(_exchanges(seen[1])) == 1


@pytest.mark.parametrize("caller", ["true", "false"])
def test_truncate_restores_callers_aqe(spark, caller):
    before = spark.conf.get(AQE)
    spark.conf.set(AQE, caller)
    try:
        truncate_lineage(spark.range(4))
        assert spark.conf.get(AQE) == caller
        with pytest.raises(Exception, match="boom"):
            truncate_lineage(spark.range(1).select(F.raise_error(F.lit("boom"))))
        assert spark.conf.get(AQE) == caller
    finally:
        spark.conf.set(AQE, before)
