"""Sampled Brandes betweenness vs the pure-Python oracle."""

import math
import random

import pytest

from sparkgraph.algorithms.betweenness import betweenness_sampled
from sparkgraph.graph import Graph
from tests.oracles import betweenness_oracle


def _close(got: dict, want: dict, tol: float = 1e-9) -> bool:
    return set(got) == set(want) and all(
        math.isclose(got[k], want[k], rel_tol=0, abs_tol=tol) for k in want
    )


def _run(spark, pairs, **kw):
    g = Graph(spark.createDataFrame(pairs, "src long, dst long"))
    res = betweenness_sampled(g, **kw)
    return {r.id: r.betweenness for r in res.state.collect()}


def test_star_center_dominates(spark):
    pairs = [(0, i) for i in range(1, 8)]
    got = _run(spark, pairs, pivots=list(range(8)))  # all sources = exact
    want = betweenness_oracle(pairs)
    assert _close(got, want)
    assert got[0] == 1.0  # the center lies on every pair's only path
    assert all(got[i] == 0.0 for i in range(1, 8))


def test_path_graph_exact(spark):
    pairs = [(i, i + 1) for i in range(5)]
    got = _run(spark, pairs, pivots=list(range(6)))
    assert _close(got, betweenness_oracle(pairs))


def test_sampled_matches_oracle_with_same_pivots(spark):
    rng = random.Random(5)
    n = 30
    pairs = list({(rng.randrange(n), rng.randrange(n)) for _ in range(70)})
    pairs = [(a, b) for a, b in pairs if a != b]
    pivots = [0, 1, 2, 3]
    got = _run(spark, pairs, pivots=pivots)
    want = betweenness_oracle(pairs, pivots=pivots)
    assert _close(got, want, tol=1e-7)


def test_multiplicity_of_shortest_paths(spark):
    # 0-1-3, 0-2-3: two shortest paths 0→3; each middle carries sigma 1/2
    pairs = [(0, 1), (0, 2), (1, 3), (2, 3)]
    got = _run(spark, pairs, pivots=[0, 1, 2, 3], normalize=False)
    want = betweenness_oracle(pairs, normalize=False)
    assert _close(got, want)
    assert math.isclose(got[1], 0.5) and math.isclose(got[2], 0.5)


def test_sigma_partition_math_pins_measured_envelope():
    """Unit-pins the partition derivation (no Spark needed): the measured
    138 M-sym-edge OOM→fix pair (BENCH.md round 4 — 32 partitions OOM'd,
    96 completed) must fall out of the default math, and small graphs must
    keep the session default untouched."""
    from sparkgraph.algorithms.betweenness import (
        SIGMA_ROWS_PER_PARTITION,
        sigma_shuffle_partitions,
    )

    assert SIGMA_ROWS_PER_PARTITION == 100_000
    # the LiveJournal config: k=2 pivots x 4.8M vertices -> 96 partitions
    assert sigma_shuffle_partitions(4_800_000, 2, 32) == 96
    # never below the session default (small/gate graphs: plans unchanged)
    assert sigma_shuffle_partitions(3_000, 8, 32) == 32
    assert sigma_shuffle_partitions(3_000, 8, 200) == 200
    # scales linearly in both k and n
    assert sigma_shuffle_partitions(4_800_000, 8, 32) == 384
    assert sigma_shuffle_partitions(48_000_000, 2, 32) == 960
    # degenerate inputs stay sane
    assert sigma_shuffle_partitions(0, 0, 16) == 16


def test_sized_aggregation_path_is_value_identical(spark, monkeypatch):
    """Force the derived count ABOVE the session default (tiny
    SIGMA_ROWS_PER_PARTITION) so the explicit repartition-before-groupBy path
    executes, and pin its values against the default-path run — the
    envelope sizing must never change results, only the physical plan."""
    from sparkgraph.algorithms import betweenness

    rng = random.Random(11)
    n = 24
    pairs = list({(rng.randrange(n), rng.randrange(n)) for _ in range(60)})
    pairs = [(a, b) for a, b in pairs if a != b]
    pivots = [0, 1, 2]
    base = _run(spark, pairs, pivots=pivots)
    monkeypatch.setattr(betweenness, "SIGMA_ROWS_PER_PARTITION", 2)
    sized = _run(spark, pairs, pivots=pivots)
    assert _close(sized, base, tol=1e-9)


def test_depth_ceiling_reports_not_converged(spark):
    """A ``max_depth`` that cuts a live BFS frontier makes the result a
    truncation, and ``converged`` says so (as in harmonic closeness)."""
    g = Graph(spark.createDataFrame([(i, i + 1) for i in range(4)], "src long, dst long"))
    assert betweenness_sampled(g, pivots=[0], max_depth=1).converged is False
    assert betweenness_sampled(g, pivots=[0]).converged is True
