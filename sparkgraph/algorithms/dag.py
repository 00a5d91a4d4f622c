"""DAG layering and deterministic topological order.

Added link-graph surface (no reference analogue): build/dependency graphs —
the condensation of an import graph (scc.condensation), or any id-ascending
orientation — are DAGs, and the questions asked of them ("how deep is the
build?", "what can compile in parallel?", "give me a stable build order")
are exactly longest-path layering. Layer(v) = length of the longest path
ending at v; every edge goes from a lower layer to a strictly higher one,
so the layers ARE the maximal parallel schedule (everything in a layer is
mutually independent) and its height is the critical-path length.

Spark shape: the same frontier discipline as SSSP (sssp.py) with max-plus
in place of min-plus — only vertices whose layer grew last superstep
scatter, so superstep cost is O(frontier out-degree) and the loop runs
exactly ``depth`` supersteps on a DAG. Cycle detection is definitive, not
heuristic: a longest path in an acyclic graph has at most |V|−1 edges, so
any vertex still improving after |V|−1 supersteps proves a cycle and the
loop raises rather than returning wrong layers (run scc.condensation first
to collapse cycles).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sparkgraph.pregel import (
    MAX_FIXPOINT_ITERS,
    PregelResult,
    SuperstepLoop,
    truncate_lineage,
    warn_unconverged,
)


def longest_path_layers(
    edges: DataFrame, max_iter: int = MAX_FIXPOINT_ITERS
) -> PregelResult:
    """Layers of the DAG given as a DIRECTED edge table ``(src, dst)``.

    Returns state ``(id, layer: long)`` over all edge endpoints; sources
    (no in-edges) sit at layer 0. Raises ``ValueError`` if the input has a
    directed cycle (proven by non-convergence within |V|−1 supersteps — no
    DAG path is longer). A ``max_iter`` below that bound merely warns, as
    a deep-but-acyclic graph is then indistinguishable from a cycle.
    """
    e = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    e = truncate_lineage(e.repartition("src"), eager=False)
    verts = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    loop = SuperstepLoop("dag_layers", {})
    step, state = loop.start(
        verts.select("id", F.lit(0).cast("long").alias("layer"), F.lit(True).alias("changed")),
        int(e.sparkSession.conf.get("spark.sql.shuffle.partitions")),
    )
    n_verts = state.count()
    cycle_bound = max(n_verts - 1, 1)

    scatter = [F.col("id").alias("src"), F.col("layer").alias("flayer")]
    gather = F.max(F.col("flayer") + F.lit(1)).alias("mlayer")
    best = F.coalesce("mlayer", F.lit(-1))
    apply = [
        "id",
        F.greatest("layer", best).alias("layer"),
        (best > F.col("layer")).alias("changed"),
    ]
    state, step, converged = loop.relax(
        e, state, step, min(max_iter, cycle_bound + 1), scatter, gather, apply
    )
    if not converged and max_iter > cycle_bound:
        raise ValueError(
            f"longest_path_layers: still relaxing after {step} supersteps "
            f"on {n_verts} vertices — the input has a directed cycle; "
            "collapse it first (algorithms.scc.condensation)"
        )
    if not converged:
        warn_unconverged(loop.algorithm, step, max_iter)
    return loop.finish(state, step, converged, result=state.select("id", "layer"))


def topological_order(
    edges: DataFrame, max_iter: int = MAX_FIXPOINT_ITERS
) -> DataFrame:
    """Deterministic total topological order ``(id, layer, pos)``:
    ``pos`` ranks by ``(layer, id)`` and is a valid topological position
    because every edge strictly increases ``layer``.

    Scale shape: NO global window — ranks are computed within each layer
    (``row_number`` partitioned by ``layer``, the natural parallel unit)
    and shifted by per-layer offsets from a depth-sized cumulative table
    that is broadcast back; depth ≪ |V|, so the only global object is a
    few-hundred-row offset map, never a single-partition sort of V rows.
    """
    layers = longest_path_layers(edges, max_iter).state
    within = F.row_number().over(Window.partitionBy("layer").orderBy("id"))
    ranked = layers.select("id", "layer", (within - 1).alias("r"))
    offsets = (
        layers.groupBy("layer")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "layer",
            (
                F.sum("n").over(
                    Window.orderBy("layer").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                )
            ).alias("off"),
        )
        .fillna(0, subset=["off"])
    )
    return ranked.join(F.broadcast(offsets), "layer").select(
        "id", "layer", (F.col("r") + F.col("off") + 1).cast("long").alias("pos")
    )
