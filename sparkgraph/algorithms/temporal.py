"""Time-respecting reachability on temporal edge tables.

Added link-graph surface (no reference analogue — the reference's graphs are
static edge lists, worker/worker.go:146-199): edges carry a timestamp and a
path must traverse non-decreasing times — the *earliest-arrival* problem of
Wu et al., Path Problems in Temporal Graphs, VLDB 2014 §3.1. The classic
motivating case for link graphs is information/contagion flow: u can only
pass to v along an edge that happens AFTER u itself was reached.

Implemented as the same frontier-driven min-relaxation Pregel discipline as
:mod:`sparkgraph.algorithms.sssp` — state is the earliest arrival time per
vertex; only vertices improved last superstep scatter, the temporal edge
table stays hash-partitioned by ``src`` for every superstep, and the message
reduce is a map-side-combined ``min``. Supersteps are bounded by the longest
minimal temporal path (hops), not |E|; each superstep's message volume is
O(frontier out-degree).

Unlike static SSSP the relaxation key is the EDGE time, not a running sum:
an edge (u, v, t) is usable iff t ≥ arrival(u) (strict > with
``strict=True`` — e.g. one forwarding step takes nonzero time), and taking
it lands at v at time t. ``min`` over usable edge times is monotone, so the
fixpoint is exact and order-independent, and a vertex's arrival only ever
decreases — the standard Pregel convergence argument applies unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparkgraph.pregel import (
    MAX_FIXPOINT_ITERS, Checkpointer, PregelResult, SuperstepLoop, warn_unconverged,
)

_INF = float("inf")


def temporal_earliest_arrival(
    edges: DataFrame,
    sources: list[int],
    t_start: float = float("-inf"),
    strict: bool = False,
    max_iter: int = MAX_FIXPOINT_ITERS,
    checkpointer: Checkpointer | None = None,
    resume: bool = False,
) -> PregelResult:
    """Earliest-arrival times from a source set over directed temporal edges.

    ``edges``: (src: long, dst: long, ts: double) — directed; pass both
    directions for an undirected contact sequence. ``sources`` arrive at
    ``t_start`` (default −∞: a source may take any of its edges). Returns
    state ``(id, arrival: double)`` over every vertex appearing as an
    endpoint; +∞ for temporally unreachable vertices. ``strict``: a path
    must use strictly increasing times across consecutive edges.
    """
    if not sources:
        raise ValueError("temporal_earliest_arrival needs >= 1 source")
    spark = edges.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    loop = SuperstepLoop(
        "temporal_earliest_arrival",
        {"sources": sorted(sources), "t_start": t_start, "strict": strict},
        checkpointer,
        resume,
    )
    e = (
        edges.select("src", "dst", F.col("ts").cast("double"))
        .repartition(n_parts, F.col("src"))
        .persist()
    )
    try:
        verts = (
            e.select(F.col("src").alias("id"))
            .unionByName(e.select(F.col("dst").alias("id")))
            .distinct()
        )
        is_src = F.col("id").isin([int(s) for s in sources])
        init = verts.select(
            "id",
            F.when(is_src, float(t_start)).otherwise(F.lit(_INF)).alias("arrival"),
            is_src.alias("changed"),
        )
        step, state = loop.start(init, n_parts)

        scatter = [F.col("id").alias("src"), F.col("arrival").alias("fa")]
        usable = F.col("ts") > F.col("fa") if strict else F.col("ts") >= F.col("fa")
        # min skips the NULLs of unusable edges: a vertex reached by none of
        # them gets NULL, the same as no message at all
        gather = F.min(F.when(usable, F.col("ts"))).alias("ma")
        best = F.coalesce("ma", F.lit(_INF))
        apply = [
            "id",
            F.least("arrival", best).alias("arrival"),
            (best < F.col("arrival")).alias("changed"),
        ]
        state, step, converged = loop.relax(
            e, state, step, max_iter, scatter, gather, apply
        )
        if not converged:
            warn_unconverged(loop.algorithm, step, max_iter)
    finally:
        e.unpersist()
    return loop.finish(
        state, step, converged, result=state.select("id", "arrival")
    )
