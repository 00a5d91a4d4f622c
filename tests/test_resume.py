"""Checkpoint/resume: a restarted driver continues from the last completed
superstep and lands on bit-identical state (upgrade over the reference's
restart-from-superstep-0, master/master.go:431-445)."""

import json
import math
import os

import pytest

from sparkgraph.algorithms import connected_components, pagerank, sssp
from sparkgraph.graph import Graph
from sparkgraph.io.edgelist import edges_from_pairs
from sparkgraph.pregel import Checkpointer

from tests.fixtures import GRAPH_MAIN


def _graph(spark):
    return Graph(edges_from_pairs(spark, GRAPH_MAIN), num_partitions=4)


def test_pagerank_resume_equals_uninterrupted(spark, tmp_path):
    g = _graph(spark)
    straight = {
        r.id: r.value
        for r in pagerank(g, mode="reference", iterations=10).state.collect()
    }

    ckdir = str(tmp_path / "pr")
    # "crash" after superstep 4 …
    pagerank(g, mode="reference", iterations=4,
             checkpointer=Checkpointer(ckdir, every=2))
    # … restart and run to 10
    res = pagerank(g, mode="reference", iterations=10,
                   checkpointer=Checkpointer(ckdir, every=2), resume=True)
    resumed = {r.id: r.value for r in res.state.collect()}
    assert res.supersteps == 10
    assert all(math.isclose(straight[v], resumed[v], rel_tol=1e-12) for v in straight)
    # metrics history spans the whole run, including pre-crash supersteps
    assert [m.superstep for m in res.metrics] == list(range(1, 11))
    g.unpersist()


def test_sssp_resume_preserves_frontier(spark, tmp_path):
    g = _graph(spark)
    straight = {r.id: r.dist for r in sssp(g, source=1).state.collect()}
    ckdir = str(tmp_path / "sssp")
    sssp(g, source=1, max_iter=2, checkpointer=Checkpointer(ckdir, every=1))
    res = sssp(g, source=1, checkpointer=Checkpointer(ckdir, every=1), resume=True)
    resumed = {r.id: r.dist for r in res.state.collect()}
    assert resumed == straight
    g.unpersist()


def test_manifest_carries_partition_lineage_and_metrics(spark, tmp_path):
    g = _graph(spark)
    ckdir = str(tmp_path / "m")
    pagerank(g, mode="reference", iterations=3, checkpointer=Checkpointer(ckdir, every=3))
    names = sorted(os.listdir(ckdir))
    assert names == ["superstep=000003"]
    with open(os.path.join(ckdir, names[0], "_manifest.json")) as f:
        man = json.load(f)
    assert man["algorithm"] == "pagerank"
    assert man["superstep"] == 3
    assert sum(p["rows"] for p in man["partitions"]) == 23
    assert all("value_hash" in p for p in man["partitions"])
    assert len(man["metrics"]) == 3
    g.unpersist()


def test_pagerank_refuses_a_cc_checkpoint(spark, tmp_path):
    g = _graph(spark)
    ckdir = str(tmp_path / "cc")
    connected_components(g, max_iter=2, checkpointer=Checkpointer(ckdir, every=1))
    with pytest.raises(ValueError, match="connected_components checkpoint"):
        pagerank(g, mode="reference", iterations=5,
                 checkpointer=Checkpointer(ckdir, every=1), resume=True)
    g.unpersist()


def test_pagerank_refuses_other_damping(spark, tmp_path):
    g = _graph(spark)
    ckdir = str(tmp_path / "pr")
    pagerank(g, mode="reference", iterations=2, damping=0.85,
             checkpointer=Checkpointer(ckdir, every=2))
    with pytest.raises(ValueError, match="damping"):
        pagerank(g, mode="reference", iterations=5, damping=0.5,
                 checkpointer=Checkpointer(ckdir, every=2), resume=True)
    g.unpersist()


def test_resume_without_checkpoint_starts_fresh(spark, tmp_path):
    g = _graph(spark)
    res = pagerank(g, mode="reference", iterations=2,
                   checkpointer=Checkpointer(str(tmp_path / "none"), every=5),
                   resume=True)
    assert res.supersteps == 2
    g.unpersist()
