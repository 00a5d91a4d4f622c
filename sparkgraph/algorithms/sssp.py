"""Single-source shortest paths as a frontier-driven min-plus Pregel loop.

Implements the *intended* semantics of the reference's SSSP vertex program
(worker/sssp.go:20-44): init dist(source)=0, dist(v)=+∞, relax
``min(dist(u) + w(u,v))`` each superstep, halt when no distance improves.
The shipped reference code path is inert — vertices init to 0 instead of +∞
(worker/worker.go:174,205) and the source id is never forwarded
(master/master.go:271-292) — see SURVEY.md §2-note-2; we implement the
Malewicz et al. 2010 §5.2 semantics the reference cites (README.md:2).

With the loader's unit weights (worker/worker.go:165) this is BFS hop count
on the symmetrized graph. Unreachable vertices keep dist=+∞ (Infinity).

Scale notes: only the *frontier* (vertices improved last superstep) scatters —
the message volume is O(frontier out-degree), not O(E), per superstep; the
edge table stays partitioned by src across all supersteps.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sparkgraph.graph import Graph
from sparkgraph.pregel import (
    MAX_FIXPOINT_ITERS, Checkpointer, PregelResult, SuperstepLoop, warn_unconverged,
)

_INF = float("inf")


def sssp(
    graph: Graph,
    source: int,
    max_iter: int = MAX_FIXPOINT_ITERS,
    checkpointer: Checkpointer | None = None,
    resume: bool = False,
    track_parents: bool = False,
) -> PregelResult:
    """Returns state ``(id, dist: double)`` — +∞ for unreachable vertices.

    ``track_parents``: adds a ``parent`` column (shortest-path tree — follow
    parents to reconstruct the path). Deterministic: a vertex's parent is set
    when its distance strictly improves, to the smallest-id predecessor among
    that superstep's best proposals (min over the (dist, src) pair); the
    source and unreachable vertices carry NULL."""
    loop = SuperstepLoop("sssp", {"source": source}, checkpointer, resume)
    init = graph.vertices.select(
        "id",
        F.when(F.col("id") == source, 0.0).otherwise(F.lit(_INF)).alias("dist"),
        (F.col("id") == source).alias("changed"),
    )
    if track_parents:
        init = init.withColumn("parent", F.lit(None).cast("long"))
    step, state = loop.start(init, graph.num_partitions)

    # The loop body's Columns are built once: each one is a Py4J round trip.
    scatter = [F.col("id").alias("src"), F.col("dist").alias("fdist")]
    # Scatter from the frontier only: propose dist + weight to neighbors.
    proposal = F.col("fdist") + F.col("weight")
    if track_parents:
        # min over (msg, via): best distance, smallest-id predecessor
        gather = F.min(
            F.struct(proposal.alias("msg"), F.col("src").alias("via"))
        ).alias("m")
        mdist = F.col("m.msg")
    else:
        gather = F.min(proposal).alias("mdist")
        mdist = F.col("mdist")
    best = F.coalesce(mdist, F.lit(_INF))
    improved = best < F.col("dist")
    apply = [
        F.col("id"),
        F.least("dist", best).alias("dist"),
        improved.alias("changed"),
    ]
    if track_parents:
        apply.append(
            F.when(improved, F.col("m.via")).otherwise(F.col("parent")).alias("parent")
        )

    state, step, converged = loop.relax(
        graph.edges_sym, state, step, max_iter, scatter, gather, apply
    )
    if not converged:
        warn_unconverged(loop.algorithm, step, max_iter)
    result_cols = ["id", "dist"] + (["parent"] if track_parents else [])
    return loop.finish(state, step, converged, result=state.select(*result_cols))
