"""Katz centrality (Katz 1953): x ← β + α·Aᵀx, fixed truncated iteration.

Added link-graph surface (no reference analogue): Katz scores count all walks
into a vertex with exponentially decaying weight α^len — the classic
"influence including distant upstream dependents" measure, complementary to
PageRank's random-surfer normalization (no degree division, so high-degree
neighbors are not diluted).

Truncated fixed-iteration form (x₀ = 0): after T supersteps the score equals
Σ_{l=1..T} α^(l-1)·β·(#walks of length l-1 into v ... ) — exactly the degree-T
Taylor prefix of (I − αAᵀ)⁻¹β𝟙. Convergence of the full series needs
α < 1/λ_max; the truncated form is well-defined for any α and is what the
gate pins. Same scatter/gather plan shape as pagerank: persisted
pre-partitioned symmetrized edges never re-exchange; state builds the hash
side (``hint("shuffle_hash")``); per-superstep map-side partial aggregation;
lineage truncated eagerly every superstep, as in pagerank.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sparkgraph.graph import Graph
from sparkgraph.pregel import PregelResult, SuperstepLoop, truncate_lineage


def katz_centrality(
    graph: Graph,
    alpha: float = 0.05,
    beta: float = 1.0,
    iterations: int = 10,
) -> PregelResult:
    """Returns state ``(id, value)`` — truncated Katz scores on the
    symmetrized multigraph (parallel edges count, matching pagerank's
    degree semantics)."""
    n = graph.num_vertices
    if n == 0:
        raise ValueError("graph has no vertices (empty or comment-only input)")
    edges = graph.edges_sym
    loop = SuperstepLoop(
        "katz", {"alpha": alpha, "beta": beta, "iterations": iterations}
    )
    state = truncate_lineage(
        graph.vertices.select("id", F.lit(0.0).alias("value"))
    )
    # built once, as in pagerank; every vertex gets a message along each of
    # its edges, so the aggregate is the whole new state
    scatter = [F.col("id").alias("src"), "value"]
    dst_as_id = F.col("dst").alias("id")
    update = (F.lit(beta) + F.lit(alpha) * F.sum("value")).alias("value")
    step = 0
    while step < iterations:
        loop.step_started()
        step += 1
        msgs = edges.join(state.select(*scatter).hint("shuffle_hash"), "src")
        # eager, every superstep (see pagerank)
        state = truncate_lineage(msgs.groupBy(dst_as_id).agg(update))
        loop.step_done(state, step)
    return loop.finish(state, step, True, result=state.select("id", "value"))
