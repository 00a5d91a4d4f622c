"""DAG layering / topological order vs pure-python replays."""

import logging
import random

import pytest

from sparkgraph.algorithms.dag import longest_path_layers, topological_order


def _edges_df(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def _layers_oracle(pairs):
    """Longest-path layers by relaxation to fixpoint."""
    verts = {v for e in pairs for v in e}
    layer = {v: 0 for v in verts}
    changed = True
    while changed:
        changed = False
        for s, d in pairs:
            if layer[s] + 1 > layer[d]:
                layer[d] = layer[s] + 1
                changed = True
    return layer


def _random_dag(rnd, n, m):
    """Random pairs oriented low→high id — acyclic by construction."""
    pairs = {(a, b) for a, b in ((rnd.randrange(n), rnd.randrange(n)) for _ in range(m)) if a != b}
    return sorted((min(a, b), max(a, b)) for a, b in pairs)


def test_layers_match_oracle_random_dags(spark):
    rnd = random.Random(5)
    for trial in range(3):
        pairs = _random_dag(rnd, 30, 120)
        res = longest_path_layers(_edges_df(spark, pairs))
        assert res.converged
        got = {r.id: r.layer for r in res.state.collect()}
        assert got == _layers_oracle(pairs), trial


def test_deep_chain_supersteps_equal_depth(spark):
    pairs = [(i, i + 1) for i in range(12)]
    res = longest_path_layers(_edges_df(spark, pairs))
    got = {r.id: r.layer for r in res.state.collect()}
    assert got == {i: i for i in range(13)}
    # relaxation settles in depth supersteps (+1 empty-frontier check)
    assert res.supersteps == 13


def test_cycle_raises(spark, caplog):
    pairs = [(0, 1), (1, 2), (2, 0), (2, 3)]
    with caplog.at_level(logging.WARNING, logger="sparkgraph"):
        with pytest.raises(ValueError, match="cycle"):
            longest_path_layers(_edges_df(spark, pairs))
    # a proven cycle is not an iteration ceiling: no "raise max_iter" advice
    assert not any("ceiling" in r.message for r in caplog.records)


def test_shallow_max_iter_warns_not_raises(spark, caplog):
    # depth-12 chain with max_iter=3: unconverged but NOT provably cyclic
    pairs = [(i, i + 1) for i in range(12)]
    with caplog.at_level(logging.WARNING, logger="sparkgraph"):
        res = longest_path_layers(_edges_df(spark, pairs), max_iter=3)
    assert not res.converged
    assert any("max_iter ceiling" in r.message for r in caplog.records)


def test_topological_order_is_valid_and_deterministic(spark):
    rnd = random.Random(9)
    pairs = _random_dag(rnd, 25, 90)
    rows = topological_order(_edges_df(spark, pairs)).collect()
    pos = {r.id: r.pos for r in rows}
    layers = _layers_oracle(pairs)
    verts = sorted(layers, key=lambda v: (layers[v], v))
    # pos is exactly the (layer, id) lexicographic rank, 1-based, a permutation
    assert pos == {v: i + 1 for i, v in enumerate(verts)}
    for s, d in pairs:
        assert pos[s] < pos[d]
