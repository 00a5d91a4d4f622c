"""Sampled harmonic closeness centrality, eccentricity, and landmark
distance labeling on the simple undirected graph.

Added link-graph surface (no reference analogue; completes the centrality
family next to PageRank/HITS/betweenness): harmonic centrality
``H(v) = Σ_{u≠v} 1/d(u,v)`` handles disconnected graphs gracefully
(unreachable pairs contribute 0 instead of poisoning the mean), which is the
right variant for a link graph with many components (Boldi & Vigna 2014,
"Axioms for centrality").

Exact H is all-pairs BFS — O(V·E). The scale path is the same pivot-sampling
trick as betweenness: k sources, unbiased scale-up by n/k, and ALL pivots
advance in ONE level-synchronous frontier loop (state keyed (pivot, id), so
supersteps = BFS depth, independent of k). Pivots default to the k smallest
ids — deterministic so the oracle gate can replay them; pass random pivots in
production. All three operators share ``_pivot_bfs`` — one loop, three
projections (Σ1/depth, max depth, the raw (id, landmark, dist) table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from sparkgraph.graph import Graph
from sparkgraph.pregel import (
    MAX_FIXPOINT_ITERS,
    PregelResult,
    SuperstepLoop,
    truncate_lineage,
    warn_unconverged,
)


def _pivot_bfs(
    graph: Graph,
    k: int,
    pivots: list[int] | None,
    max_depth: int,
    algorithm: str,
) -> tuple[DataFrame, DataFrame, int, list[int], SuperstepLoop, int, bool]:
    """Shared multi-pivot level-synchronous BFS over the simple undirected
    graph (``SuperstepLoop.reach`` keyed by pivot). Returns ``(state, verts,
    n, pivots, loop, step, complete)`` where state is the first-seen table
    ``(pivot, id, depth)`` (lineage-truncated — the symmetrized edge cache is
    already released) and ``complete`` is False iff the depth ceiling cut a
    live frontier (the BFS, and anything derived from it, is then a
    truncation)."""
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
    loop = SuperstepLoop(algorithm, {"k": len(pivots)})

    sources = graph.spark.createDataFrame([(p,) for p in pivots], "pivot long").select(
        "pivot", F.col("pivot").alias("id"), F.lit(0).alias("depth")
    )
    state, step, complete = loop.reach(sym, sources, ["pivot"], 0, max_depth)
    sym.unpersist()
    if not complete:
        warn_unconverged(algorithm, step, max_depth, knob="max_depth", unit="BFS levels")
    return state, verts, n, pivots, loop, step, complete


def harmonic_closeness_sampled(
    graph: Graph,
    k: int = 8,
    pivots: list[int] | None = None,
    normalize: bool = True,
    max_depth: int = MAX_FIXPOINT_ITERS,
) -> PregelResult:
    """Returns state ``(id, closeness: double)`` — ``(n/k)·Σ_{p∈pivots, p≠v}
    1/d(p,v)``, exact when the pivots cover every vertex; ``normalize``
    divides by (n-1) (the max possible H, all vertices adjacent)."""
    state, verts, n, pivots, loop, step, complete = _pivot_bfs(
        graph, k, pivots, max_depth, "closeness"
    )
    scale = n / float(len(pivots))
    h = (
        state.filter(F.col("depth") > 0)
        .groupBy("id")
        .agg((F.sum(1.0 / F.col("depth")) * scale).alias("closeness"))
    )
    out = verts.join(h, "id", "left").select(
        "id", F.coalesce("closeness", F.lit(0.0)).alias("closeness")
    )
    if normalize:
        out = out.select(
            "id", (F.col("closeness") / F.lit(max(n - 1, 1))).alias("closeness")
        )
    return loop.finish(out, step, converged=complete, result=out)


def eccentricity_sampled(
    graph: Graph,
    k: int = 8,
    pivots: list[int] | None = None,
    max_depth: int = MAX_FIXPOINT_ITERS,
) -> PregelResult:
    """Per-pivot eccentricity (max BFS depth within the pivot's component) via
    the same one-loop multi-pivot BFS; ``max(eccentricity)`` over the sample
    is the standard LOWER bound on the graph diameter (exact when a
    peripheral vertex is sampled). Returns state ``(pivot, eccentricity)``."""
    state, _, _, _, loop, step, complete = _pivot_bfs(
        graph, k, pivots, max_depth, "eccentricity"
    )
    out = state.groupBy("pivot").agg(F.max("depth").alias("eccentricity"))
    return loop.finish(out, step, converged=complete, result=out)


def landmark_distances(
    graph: Graph,
    k: int = 8,
    landmarks: list[int] | None = None,
    max_depth: int = MAX_FIXPOINT_ITERS,
) -> PregelResult:
    """Landmark distance labeling: the BFS distance from each of k landmarks
    to every vertex it reaches, as state ``(id, landmark, dist)`` — the
    standard sublinear approximate-shortest-path index for web-scale graphs
    (d(u,v) ≈ min over landmarks of d(u,l)+d(l,v), an upper bound that is
    exact when a landmark lies on a shortest path; Potamias et al. 2009,
    "Fast shortest path distance estimation in large networks"). Landmarks
    default to the k smallest ids (deterministic, oracle-replayable); in
    production pass high-degree or high-PageRank vertices — better coverage.

    Scale shape: one level-synchronous multi-source frontier loop shared
    with closeness/eccentricity — supersteps = BFS depth regardless of k;
    the output is k·n rows max, written once and reused by every distance
    query (build-once index, like ``similarity.ivf_index``)."""
    state, _, _, _, loop, step, complete = _pivot_bfs(
        graph, k, landmarks, max_depth, "landmark_distances"
    )
    out = state.select(
        "id", F.col("pivot").alias("landmark"), F.col("depth").alias("dist")
    )
    return loop.finish(out, step, converged=complete, result=out)


def landmark_distance_estimate(
    labels: DataFrame, pairs: DataFrame
) -> DataFrame:
    """Approximate distances for ``pairs (u, v)`` from a prebuilt landmark
    label table: min over shared landmarks of d(u,l) + d(l,v). Two
    hash-joins against the (small, landmark-keyed) label table — no BFS at
    query time. Unreachable-by-any-shared-landmark pairs are dropped."""
    lu = labels.select(F.col("id").alias("u"), "landmark", F.col("dist").alias("du"))
    lv = labels.select(F.col("id").alias("v"), "landmark", F.col("dist").alias("dv"))
    return (
        pairs.join(lu, "u")
        .join(lv, ["v", "landmark"])
        .groupBy("u", "v")
        .agg(F.min(F.col("du") + F.col("dv")).alias("dist_est"))
    )
