"""Incremental (warm-started) PageRank over an edge stream."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from sparkgraph.algorithms import pagerank
from sparkgraph.graph import Graph
from sparkgraph.io.edgelist import edges_from_pairs
from sparkgraph.streaming import stream_edges_from_files, streaming_pagerank

from tests.fixtures import GRAPH_MAIN

BATCH1 = GRAPH_MAIN[:12]
BATCH2 = GRAPH_MAIN[12:]


def _write_edges(path, pairs):
    path.write_text("".join(f"{s} {d}\n" for s, d in pairs))


def test_warm_start_converges_fast_and_agrees(spark):
    g = Graph(edges_from_pairs(spark, GRAPH_MAIN), num_partitions=4)
    cold = pagerank(g, mode="convergence", tol=1e-6)
    warm = pagerank(
        g, mode="convergence", tol=1e-6,
        initial_state=cold.state.select("id", "value"),
    )
    assert warm.supersteps <= 2 < cold.supersteps
    got = {r.id: r.value for r in warm.state.collect()}
    want = {r.id: r.value for r in cold.state.collect()}
    for v in want:
        assert math.isclose(got[v], want[v], abs_tol=2e-6), v
    g.unpersist()


def test_warm_start_cc_agrees_with_cold(spark):
    from sparkgraph.algorithms import connected_components

    g1 = Graph(edges_from_pairs(spark, BATCH1), num_partitions=4)
    labels1 = connected_components(g1).state.select("id", "component")
    g = Graph(edges_from_pairs(spark, GRAPH_MAIN), num_partitions=4)
    warm = connected_components(g, initial_labels=labels1)
    cold = connected_components(g)
    got = {r.id: r.component for r in warm.state.collect()}
    want = {r.id: r.component for r in cold.state.collect()}
    assert got == want
    g1.unpersist()
    g.unpersist()


def test_streaming_cc_incremental(spark, tmp_path):
    from sparkgraph.streaming import streaming_connected_components
    from sparkgraph.algorithms import connected_components

    src_dir = tmp_path / "cc_in"
    src_dir.mkdir()
    work = str(tmp_path / "cc_work")
    _write_edges(src_dir / "part1.txt", BATCH1)
    q1 = streaming_connected_components(stream_edges_from_files(spark, str(src_dir)), work)
    q1.awaitTermination()
    _write_edges(src_dir / "part2.txt", BATCH2)
    q2 = streaming_connected_components(stream_edges_from_files(spark, str(src_dir)), work)
    q2.awaitTermination()

    final = {r.id: r.component for r in spark.read.parquet(f"{work}/labels").collect()}
    acc = Graph(spark.read.parquet(f"{work}/edges"), num_partitions=4)
    want = {r.id: r.component for r in connected_components(acc).state.collect()}
    assert final == want


def test_streaming_pagerank_incremental(spark, tmp_path):
    src_dir = tmp_path / "edges_in"
    src_dir.mkdir()
    work = str(tmp_path / "pr_work")

    # batch 0: first half of the graph, cold start
    _write_edges(src_dir / "part1.txt", BATCH1)
    q1 = streaming_pagerank(stream_edges_from_files(spark, str(src_dir)), work)
    q1.awaitTermination()
    assert [h["batch_id"] for h in q1.history] == [0]
    cold_steps = q1.history[0]["supersteps"]

    # batch 1: rest of the graph arrives; warm-started from batch-0 scores
    _write_edges(src_dir / "part2.txt", BATCH2)
    q2 = streaming_pagerank(stream_edges_from_files(spark, str(src_dir)), work)
    q2.awaitTermination()
    assert len(q2.history) == 1
    warm_steps = q2.history[0]["supersteps"]

    # NOTE: part1 is re-read by the fresh query (no checkpointLocation), but
    # Graph semantics keep parallel edges — dedupe via the batch comparison
    # below being on the SAME accumulated table the query built.
    final = {r.id: r.value for r in spark.read.parquet(f"{work}/scores").collect()}

    acc = Graph(spark.read.parquet(f"{work}/edges"), num_partitions=4)
    want = {
        r.id: r.value
        for r in pagerank(acc, mode="convergence", tol=1e-6).state.collect()
    }
    assert set(final) == set(want)
    for v in want:
        assert math.isclose(final[v], want[v], abs_tol=2e-6), v
    # the second batch perturbs an existing graph: warm start must not be
    # slower than the cold run on a same-scale graph
    assert warm_steps <= cold_steps + 2


def test_streaming_triangle_count_incremental(spark, tmp_path):
    """Per-batch delta counting (affected-seeded, like incremental k-truss)
    must track the batch recount of the accumulated graph exactly —
    including triangles closed ACROSS batches and duplicate re-sends."""
    from sparkgraph.algorithms.triangles import triangle_count
    from sparkgraph.streaming import streaming_triangle_count

    src_dir = tmp_path / "tri_in"
    src_dir.mkdir()
    work = str(tmp_path / "tri_work")
    # batch 0: a triangle + an open wedge
    _write_edges(src_dir / "p1.txt", [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6)])
    q1 = streaming_triangle_count(stream_edges_from_files(spark, str(src_dir)), work)
    q1.awaitTermination()
    assert q1.history[-1]["total"] == 1
    # batch 1: closes the wedge, adds a new triangle sharing edge (1,2), and
    # re-sends a duplicate edge (must not recount)
    _write_edges(src_dir / "p2.txt", [(4, 6), (2, 7), (1, 7), (1, 2)])
    q2 = streaming_triangle_count(stream_edges_from_files(spark, str(src_dir)), work)
    q2.awaitTermination()
    total = q2.history[-1]["total"]
    acc = Graph(
        spark.read.parquet(f"{work}/edges").select("src", "dst", "weight"),
        num_partitions=4,
    )
    assert total == triangle_count(acc) == 3
    got = {r.batch_id: r.n_triangles for r in spark.read.parquet(f"{work}/count").collect()}
    assert got[max(got)] == 3


def test_streaming_triangle_count_checkpoint_recovery(spark, tmp_path):
    """Restart-from-checkpoint regression (ADVICE r3): a recovered query has
    an EMPTY driver-side history but batch numbering continues — the
    published total must be the sum of PERSISTED per-batch deltas, not a
    restart from the recovered batch's delta."""
    from sparkgraph.streaming import streaming_triangle_count

    src_dir = tmp_path / "tri_in"
    src_dir.mkdir()
    work = str(tmp_path / "tri_work")
    ckpt = str(tmp_path / "tri_ckpt")
    _write_edges(src_dir / "p1.txt", [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6)])
    q1 = streaming_triangle_count(
        stream_edges_from_files(spark, str(src_dir)), work, checkpoint_dir=ckpt
    )
    q1.awaitTermination()
    assert q1.history[-1]["total"] == 1
    # new file, NEW query object sharing the checkpoint: only p2 is
    # processed (as batch 1), with history starting empty — the recovery
    # scenario. Old code published total = delta = 2 here.
    _write_edges(src_dir / "p2.txt", [(4, 6), (2, 7), (1, 7)])
    q2 = streaming_triangle_count(
        stream_edges_from_files(spark, str(src_dir)), work, checkpoint_dir=ckpt
    )
    q2.awaitTermination()
    assert [h["batch_id"] for h in q2.history] == [1]  # numbering continued
    assert q2.history[-1]["delta"] == 2
    assert q2.history[-1]["total"] == 3
    got = {r.batch_id: r.n_triangles for r in spark.read.parquet(f"{work}/count").collect()}
    assert got == {1: 3}


def test_streaming_pr_cc_checkpoint_recovery_warm_start(spark, tmp_path):
    """Recovery twin of the triangle test for PR + CC: a query restarted
    from checkpoint (empty driver history, batch numbering continuing) must
    STILL warm-start from the published on-disk state — r3 keyed the warm
    start on the in-memory history list, so recovered queries cold-started."""
    from sparkgraph.algorithms import connected_components
    from sparkgraph.streaming import streaming_connected_components

    src_dir = tmp_path / "rec_in"
    src_dir.mkdir()
    work_pr, ck_pr = str(tmp_path / "prw"), str(tmp_path / "prc")
    work_cc, ck_cc = str(tmp_path / "ccw"), str(tmp_path / "ccc")

    _write_edges(src_dir / "p1.txt", BATCH1)
    q = streaming_pagerank(
        stream_edges_from_files(spark, str(src_dir)), work_pr, checkpoint_dir=ck_pr
    )
    q.awaitTermination()
    q = streaming_connected_components(
        stream_edges_from_files(spark, str(src_dir)), work_cc, checkpoint_dir=ck_cc
    )
    q.awaitTermination()

    _write_edges(src_dir / "p2.txt", BATCH2)
    q2 = streaming_pagerank(
        stream_edges_from_files(spark, str(src_dir)), work_pr, checkpoint_dir=ck_pr
    )
    q2.awaitTermination()
    assert [h["batch_id"] for h in q2.history] == [1]  # recovery, not re-bin
    # warm start across the restart: a small perturbation converges in a
    # handful of supersteps, far under a cold run's dozens
    assert q2.history[0]["supersteps"] <= 12

    q3 = streaming_connected_components(
        stream_edges_from_files(spark, str(src_dir)), work_cc, checkpoint_dir=ck_cc
    )
    q3.awaitTermination()
    assert [h["batch_id"] for h in q3.history] == [1]

    # published results equal the batch recompute on the accumulated edges
    import math as _math

    acc = Graph(spark.read.parquet(f"{work_pr}/edges"), num_partitions=4)
    want = {
        r.id: r.value
        for r in pagerank(acc, mode="convergence", tol=1e-6).state.collect()
    }
    got = {r.id: r.value for r in spark.read.parquet(f"{work_pr}/scores").collect()}
    assert set(got) == set(want)
    for v in want:
        assert _math.isclose(got[v], want[v], abs_tol=2e-6), v

    acc_cc = Graph(spark.read.parquet(f"{work_cc}/edges"), num_partitions=4)
    want_cc = {r.id: r.component for r in connected_components(acc_cc).state.collect()}
    got_cc = {r.id: r.component for r in spark.read.parquet(f"{work_cc}/labels").collect()}
    assert got_cc == want_cc
