"""Temporal earliest-arrival reachability vs a pure-Python fixpoint oracle."""

import random

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from sparkgraph.algorithms.temporal import temporal_earliest_arrival
from sparkgraph.pregel import Checkpointer

INF = float("inf")


def _py_earliest(edges, sources, t_start=-INF, strict=False):
    verts = {u for u, _, _ in edges} | {v for _, v, _ in edges}
    arr = {v: (t_start if v in sources else INF) for v in verts}
    while True:
        improved = False
        for u, v, t in edges:
            ok = t > arr[u] if strict else t >= arr[u]
            if ok and t < arr[v]:
                arr[v] = t
                improved = True
        if not improved:
            return arr


def _run(spark, edges, sources, **kw):
    df = spark.createDataFrame(
        [(int(u), int(v), float(t)) for u, v, t in edges], "src long, dst long, ts double"
    )
    res = temporal_earliest_arrival(df, sources, **kw)
    return {r.id: r.arrival for r in res.state.collect()}, res


def test_chain_respects_time(spark):
    # 1 -(t=5)-> 2 -(t=3)-> 3 : 3 is unreachable (time decreases);
    # 2 -(t=7)-> 4 works.
    edges = [(1, 2, 5), (2, 3, 3), (2, 4, 7)]
    got, res = _run(spark, edges, [1])
    assert got == {1: -INF, 2: 5.0, 3: INF, 4: 7.0}
    assert res.converged


def test_matches_python_oracle_random(spark):
    rng = random.Random(7)
    edges = [
        (rng.randrange(12), rng.randrange(12), rng.randrange(20))
        for _ in range(60)
    ]
    got, _ = _run(spark, edges, [0, 5])
    assert got == _py_earliest(edges, {0, 5})


def test_strict_mode(spark):
    # equal-time two-hop: allowed non-strict, blocked strict
    edges = [(1, 2, 4), (2, 3, 4)]
    got, _ = _run(spark, edges, [1])
    assert got[3] == 4.0
    got_strict, _ = _run(spark, edges, [1], strict=True)
    assert got_strict[3] == INF
    rng = random.Random(11)
    r_edges = [
        (rng.randrange(10), rng.randrange(10), rng.randrange(8))
        for _ in range(50)
    ]
    got_r, _ = _run(spark, r_edges, [2], strict=True)
    assert got_r == _py_earliest(r_edges, {2}, strict=True)


def test_t_start_cutoff(spark):
    # source can only leave on edges at or after t_start
    edges = [(1, 2, 3), (1, 3, 10)]
    got, _ = _run(spark, edges, [1], t_start=5.0)
    assert got == {1: 5.0, 2: INF, 3: 10.0}


def test_earliest_beats_hop_count(spark):
    # direct edge at t=9 vs two-hop arriving at t=4: earliest wins
    edges = [(1, 4, 9), (1, 2, 1), (2, 4, 4)]
    got, _ = _run(spark, edges, [1])
    assert got[4] == 4.0


def test_empty_sources_raise(spark):
    df = spark.createDataFrame([(1, 2, 1.0)], "src long, dst long, ts double")
    with pytest.raises(ValueError):
        temporal_earliest_arrival(df, [])


def test_refused_resume_releases_its_edge_table(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 2.0), (3, 4, 2.0)], "src long, dst long, ts double"
    )
    ckdir = str(tmp_path / "temporal")
    temporal_earliest_arrival(df, [1], checkpointer=Checkpointer(ckdir, every=1))
    # the table the loop persists: its plan is found again by sameResult
    e = df.select("src", "dst", F.col("ts").cast("double")).repartition(
        int(spark.conf.get("spark.sql.shuffle.partitions")), F.col("src")
    )
    assert e.storageLevel == StorageLevel.NONE
    with pytest.raises(ValueError, match="strict"):
        temporal_earliest_arrival(
            df, [1], strict=True, checkpointer=Checkpointer(ckdir, every=1), resume=True
        )
    assert e.storageLevel == StorageLevel.NONE
