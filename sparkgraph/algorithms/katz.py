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
the supersteps run in ``SuperstepLoop.propagate``, as pagerank's do.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sparkgraph.graph import Graph
from sparkgraph.pregel import PregelResult, SuperstepLoop


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
    loop = SuperstepLoop(
        "katz", {"alpha": alpha, "beta": beta, "iterations": iterations}
    )
    step, state = loop.start(
        graph.vertices.select("id", F.lit(0.0).alias("value")), graph.num_partitions
    )
    # built once, as in pagerank; every vertex gets a message along each of
    # its edges, so the aggregate is the whole new state
    scatter = [F.col("id").alias("src"), "value"]
    update = (F.lit(beta) + F.lit(alpha) * F.sum("value")).alias("value")
    state, step, converged = loop.propagate(
        graph.edges_sym, state, step, iterations, scatter, [update], None
    )
    return loop.finish(state, step, converged, result=state.select("id", "value"))
