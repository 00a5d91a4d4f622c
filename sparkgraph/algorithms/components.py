"""Connected components via hash-min label propagation (Pregel style).

The reference has no CC program (SURVEY.md §2C) — this reuses its SSSP-shaped
min-combiner machinery: every vertex starts labeled with its own id, each
superstep broadcasts the label to neighbors, keeps the min, and halts when no
label changes. Component label = min vertex id in the component (FIXTURES.md
§4). Frontier-optimized like SSSP: only vertices whose label improved scatter.

Scale notes: rounds needed = graph diameter. For very-high-diameter graphs a
large-star/small-star contraction (Kiveris et al. 2014) converges in
O(log² n) rounds; hash-min with frontier pruning is the right default for
social/link graphs whose diameter is small.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sparkgraph.graph import Graph
from sparkgraph.pregel import (
    MAX_FIXPOINT_ITERS, Checkpointer, PregelResult, SuperstepLoop, warn_unconverged,
)


def connected_components(
    graph: Graph,
    max_iter: int = MAX_FIXPOINT_ITERS,
    checkpointer: Checkpointer | None = None,
    resume: bool = False,
    initial_labels=None,
) -> PregelResult:
    """Returns state ``(id, component: long)`` — component = min id reachable.

    ``initial_labels``: optional ``(id, component)`` warm start for an
    incrementally growing graph (the previous run's labels). Correct because
    hash-min converges to the min over initial labels within each component,
    and an old component's label is a real vertex id inside the (now larger)
    component — new edges only ever merge. New vertices start at their own
    id; stale ids are dropped."""
    loop = SuperstepLoop("connected_components", {}, checkpointer, resume)
    base = graph.vertices
    if initial_labels is not None:
        warm = initial_labels.select("id", F.col("component").alias("warm"))
        base = base.join(warm, "id", "left").select(
            "id", F.coalesce("warm", F.col("id")).alias("component")
        )
    else:
        # not a bare alias: with `id AS component` the plan is partitioned
        # on `component` or `id`, the checkpoint keeps only the first, and
        # every superstep's joins would re-exchange the state
        base = base.select("id", F.least("id", "id").alias("component"))
    init = base.withColumn("changed", F.lit(True))
    step, state = loop.start(init, graph.num_partitions)

    # The loop body's Columns are built once: each one is a Py4J round trip.
    scatter = [F.col("id").alias("src"), F.col("component").alias("flabel")]
    gather = F.min("flabel").alias("mlabel")
    best = F.coalesce("mlabel", F.col("component"))
    apply = [
        "id",
        F.least("component", best).alias("component"),
        (best < F.col("component")).alias("changed"),
    ]

    state, step, converged = loop.relax(
        graph.edges_sym, state, step, max_iter, scatter, gather, apply
    )
    if not converged:
        warn_unconverged(loop.algorithm, step, max_iter)
    return loop.finish(state, step, converged, result=state.select("id", "component"))
