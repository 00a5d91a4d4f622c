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
    MAX_FIXPOINT_ITERS,
    Checkpointer,
    PregelResult,
    SuperstepLoop,
    truncate_lineage,
    warn_unconverged,
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
    spark = graph.spark
    edges = graph.edges_sym
    loop = SuperstepLoop("connected_components", {}, checkpointer, resume)

    restored = loop.try_resume(
        spark, ["id", "component", "changed"], graph.num_partitions
    )
    if restored is not None:
        start_step, state = restored
    else:
        start_step = 0
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
        state = truncate_lineage(base.withColumn("changed", F.lit(True)))

    # The loop body's Columns are built once: each one is a Py4J round trip.
    scatter = [F.col("id").alias("src"), F.col("component").alias("flabel")]
    dst_as_id = F.col("dst").alias("id")
    gather = F.min("flabel").alias("mlabel")
    best = F.coalesce("mlabel", F.col("component"))
    apply = [
        "id",
        F.least("component", best).alias("component"),
        (best < F.col("component")).alias("changed"),
    ]

    step = start_step
    converged = False
    while step < max_iter:
        loop.step_started()
        frontier = state.filter("changed").select(*scatter)
        msgs = edges.join(frontier.hint("shuffle_hash"), "src")
        mins = msgs.groupBy(dst_as_id).agg(gather)
        new_state = state.join(mins, "id", "left").select(*apply)
        # lazy truncation: the changed-count is the superstep's single action
        # (materializes the checkpoint as a side effect — one job, not two)
        new_state = truncate_lineage(new_state, eager=False)
        changed = new_state.filter("changed").count()
        step += 1
        state = new_state
        loop.step_done(state, step, changed=changed)
        if changed == 0:
            converged = True
            break

    if not converged:
        warn_unconverged("connected_components", step, max_iter)
    return loop.finish(state, step, converged, result=state.select("id", "component"))
