"""Sampled betweenness centrality (Brandes, pivot-sampled) on the simple
undirected graph.

Added link-graph surface (no reference analogue): "which files sit on the
most dependency paths" — the classic broker-node query. Exact betweenness is
O(V·E); the standard scale answer (Brandes 2001 + Bader/Madduri sampling) is
k pivot sources, unbiasedly scaled by n/k.

Spark shape: ALL pivots advance in one level-synchronous loop — state is
keyed (pivot, id), so k BFS trees ride one frontier join per superstep
(message volume = Σ frontier degrees across pivots, map-side combined).
The backward dependency accumulation walks depths max→1 the same way. Total
supersteps = 2 × BFS depth, independent of k.

Pivots default to the k smallest vertex ids — DETERMINISTIC on purpose (the
oracle gate and tests replay it); pass explicit ``pivots`` for production
random sampling.

Memory envelope (measured, BENCH.md round 4): the per-depth sigma
aggregation's hash maps scale with |BFS level| / shuffle_partitions — on a
138 M sym-edge graph, 32 partitions OOM'd a 16 g JVM while 96 partitions
completed in 378 s. Since round 5 that knob turns ITSELF:
``sigma_shuffle_partitions`` derives the aggregation's partition count from
the k·n state-row bound (the measured 138 M-edge config falls out of the
default math — 2 pivots × 4.8 M vertices / 1e5 rows-per-partition = 96),
and the forward/backward aggregations repartition to it whenever it exceeds
the session default. Partitions before heap, now in code.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from sparkgraph.graph import Graph
from sparkgraph.pregel import (
    MAX_FIXPOINT_ITERS,
    PregelResult,
    SuperstepLoop,
    truncate_lineage,
    warn_unconverged,
)

# Measured on the 138 M-sym-edge LiveJournal run (BENCH.md round 4): 1e5
# (pivot, id) groups per partition kept the per-depth hash maps inside a
# 16 g executor; 3e5 (the 32-partition config) OOM'd it.
SIGMA_ROWS_PER_PARTITION = 100_000


def sigma_shuffle_partitions(
    n_vertices: int,
    k_pivots: int,
    session_partitions: int,
    rows_per_partition: int = SIGMA_ROWS_PER_PARTITION,
) -> int:
    """Partition count for the per-depth sigma/dependency aggregations.

    The aggregation state is keyed (pivot, id), so a depth level holds at
    most k·n groups; sizing partitions to ``rows_per_partition`` groups each
    bounds every partition's hash map regardless of graph size. Never goes
    BELOW the session default (small graphs keep their existing plans)."""
    need = math.ceil(max(1, k_pivots * n_vertices) / rows_per_partition)
    return max(int(session_partitions), need)


def betweenness_sampled(
    graph: Graph,
    k: int = 8,
    pivots: list[int] | None = None,
    normalize: bool = True,
    max_depth: int = MAX_FIXPOINT_ITERS,
) -> PregelResult:
    """Returns state ``(id, betweenness: double)`` — Brandes dependency sums
    from ``k`` pivot sources, scaled by n/k (unbiased estimator of the exact
    all-sources value; exact when the pivots cover every vertex).
    Endpoint convention: endpoints excluded (Brandes), undirected halving
    applied. ``normalize`` divides by (n-1)(n-2)/2. ``converged`` is False
    iff ``max_depth`` cut a live BFS frontier."""
    spark = graph.spark
    sym = truncate_lineage(
        graph.simple_sym()
        .select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .repartition(graph.num_partitions, "src")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    verts = sym.select(F.col("src").alias("id")).distinct()
    n = verts.count()
    if n == 0:
        raise ValueError("graph has no vertices")
    if pivots is None:
        pivots = [r.id for r in verts.orderBy("id").limit(k).collect()]
    k = len(pivots)
    session_p = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    sigma_p = sigma_shuffle_partitions(n, k, session_p, SIGMA_ROWS_PER_PARTITION)
    sized = sigma_p > session_p
    loop = SuperstepLoop(
        "betweenness",
        {"k": k, "normalize": normalize, "sigma_partitions": sigma_p},
    )

    # forward phase: (pivot, id, depth, sigma = #shortest paths), the path
    # counts of a level summed over its predecessors. Past the session
    # default, the sigma and dependency aggregations pre-shuffle onto the
    # derived partition count, keyed by their grouping columns, so each
    # groupBy reuses that distribution with bounded per-partition hash maps.
    sources = spark.createDataFrame([(p,) for p in pivots], "pivot long").select(
        "pivot", F.col("pivot").alias("id"), F.lit(0).alias("depth"),
        F.lit(1.0).alias("sigma"),
    )
    state, step, complete = loop.reach(
        sym, sources, ["pivot"], 0, max_depth,
        gather=F.sum("sigma").alias("sigma"), partitions=sigma_p if sized else None,
    )
    if not complete:
        warn_unconverged("betweenness", step, max_depth, knob="max_depth", unit="BFS levels")
    depth = step - 1 if complete else step  # the last level of a complete BFS is empty

    # backward phase: delta(u) += sigma(u)/sigma(v) * (1 + delta(v)) over
    # tree edges u→v with depth(v) = depth(u)+1, walking depths max→1
    state = state.persist(StorageLevel.MEMORY_AND_DISK)
    delta = state.select("pivot", "id", F.lit(0.0).alias("delta"))
    su = state.select(
        "pivot", F.col("id").alias("src"), F.col("depth").alias("du"),
        F.col("sigma").alias("sigu"),
    )
    sv = state.select(
        "pivot", F.col("id").alias("dst"), F.col("depth").alias("dv"),
        F.col("sigma").alias("sigv"),
    )
    tree = truncate_lineage(
        sym.join(su, "src")
        .join(sv, ["pivot", "dst"])
        .filter(F.col("dv") == F.col("du") + 1)
        .select("pivot", "src", "dst", "du", "dv", "sigu", "sigv")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    for d in range(depth - 1, -1, -1):
        loop.step_started()
        dl = delta.select(
            "pivot", F.col("id").alias("dst"), F.col("delta").alias("dv_delta")
        )
        contrib = tree.filter(F.col("du") == d).join(dl, ["pivot", "dst"])
        if sized:
            contrib = contrib.repartition(sigma_p, F.col("pivot"), F.col("src"))
        contrib = contrib.groupBy("pivot", F.col("src").alias("id")).agg(
            F.sum((F.col("sigu") / F.col("sigv")) * (1.0 + F.col("dv_delta"))).alias("inc")
        )
        delta = truncate_lineage(
            delta.join(contrib, ["pivot", "id"], "left").select(
                "pivot", "id",
                (F.col("delta") + F.coalesce("inc", F.lit(0.0))).alias("delta"),
            )
        )
        step += 1
        loop.step_done(delta, step)

    # exclude the pivot itself; undirected halving; n/k sampling scale-up
    scale = (n / float(k)) * 0.5
    bc = (
        delta.filter(F.col("id") != F.col("pivot"))
        .groupBy("id")
        .agg((F.sum("delta") * scale).alias("betweenness"))
    )
    out = verts.join(bc, "id", "left").select(
        "id", F.coalesce("betweenness", F.lit(0.0)).alias("betweenness")
    )
    if normalize:
        denom = (n - 1) * (n - 2) / 2.0
        out = out.select(
            "id", (F.col("betweenness") / F.lit(max(denom, 1.0))).alias("betweenness")
        )
    state.unpersist()
    tree.unpersist()
    sym.unpersist()
    return loop.finish(out, step, converged=complete, result=out)
