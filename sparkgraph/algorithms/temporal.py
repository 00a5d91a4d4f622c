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
    MAX_FIXPOINT_ITERS,
    Checkpointer,
    PregelResult,
    SuperstepLoop,
    truncate_lineage,
    warn_unconverged,
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
    e = (
        edges.select("src", "dst", F.col("ts").cast("double"))
        .repartition(n_parts, F.col("src"))
        .persist()
    )
    verts = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    loop = SuperstepLoop(
        "temporal_earliest_arrival",
        {"sources": sorted(sources), "t_start": t_start, "strict": strict},
        checkpointer,
        resume,
    )

    restored = loop.try_resume(spark, ["id", "arrival", "changed"], n_parts)
    if restored is not None:
        start_step, state = restored
    else:
        start_step = 0
        is_src = F.col("id").isin([int(s) for s in sources])
        state = truncate_lineage(
            verts.select(
                "id",
                F.when(is_src, float(t_start)).otherwise(F.lit(_INF)).alias("arrival"),
                is_src.alias("changed"),
            )
        )

    usable = F.col("ts") > F.col("fa") if strict else F.col("ts") >= F.col("fa")
    step = start_step
    converged = False
    while step < max_iter:
        loop.step_started()
        frontier = state.filter("changed").select(
            F.col("id").alias("src"), F.col("arrival").alias("fa")
        )
        msgs = (
            e.join(frontier.hint("shuffle_hash"), "src")
            .filter(usable)
            .select(F.col("dst").alias("id"), F.col("ts").alias("msg"))
        )
        mins = msgs.groupBy("id").agg(F.min("msg").alias("ma"))
        improved = F.coalesce("ma", F.lit(_INF)) < F.col("arrival")
        new_state = truncate_lineage(
            state.drop("changed")
            .join(mins, "id", "left")
            .select(
                "id",
                F.least("arrival", F.coalesce("ma", F.lit(_INF))).alias("arrival"),
                improved.alias("changed"),
            ),
            eager=False,  # the changed-count below materializes it: one job
        )
        changed = new_state.filter("changed").count()
        step += 1
        state = new_state
        loop.step_done(state, step, changed=changed)
        if changed == 0:
            converged = True
            break

    if not converged:
        warn_unconverged("temporal_earliest_arrival", step, max_iter)
    e.unpersist()
    return loop.finish(
        state, step, converged, result=state.select("id", "arrival")
    )
