"""k-truss decomposition (edge-support peeling) on the simple graph.

Added link-graph surface (no reference analogue): the k-truss is the maximal
subgraph whose every edge sits in ≥ k−2 triangles of the subgraph — the
standard cohesive-subgraph notion one step stronger than k-core (Cohen 2008).
On a dependency graph it isolates genuinely interlocked module clusters
where plain components/cores over-merge.

Support is computed ONCE from the shared degree-oriented triangle
enumeration (``triangles._triangles``: oriented out-degree O(√E), no hub
wedge blow-up) and then maintained INCREMENTALLY: each peel round
enumerates only the triangles incident to the edges dropped that round (one
adjacency expansion + one semi-join, deduped per triangle) and decrements
the support of their surviving member edges. Round cost is
O(affected wedges), not O(full triangle pass) — the bulk-peel drop sequence
is identical to a full recount (support after the decrement equals a fresh
count on the shrunken graph), so results are bit-equal round-by-round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparkgraph.algorithms.triangles import _triangles
from sparkgraph.graph import Graph
from sparkgraph.pregel import PregelResult, SuperstepLoop, truncate_lineage


def _triangle_corner_edges(e: DataFrame) -> DataFrame:
    """Canonical (u<v) simple edge set → one row per (triangle, member edge):
    columns (u, v). Enumeration is degree-oriented; output edges canonical."""
    tri = _triangles(e)
    return (
        tri.select(F.least("ta", "tb").alias("u"), F.greatest("ta", "tb").alias("v"))
        .unionByName(
            tri.select(F.least("tb", "tc").alias("u"), F.greatest("tb", "tc").alias("v"))
        )
        .unionByName(
            tri.select(F.least("ta", "tc").alias("u"), F.greatest("ta", "tc").alias("v"))
        )
    )


def k_truss(
    graph: Graph, k: int, max_iter: int = 100, core_prune: bool = True
) -> PregelResult:
    """Returns state ``(u, v)`` — the canonical edges of the k-truss (possibly
    empty). ``converged`` is True iff the peel reached its fixpoint within
    ``max_iter`` rounds.

    ``core_prune`` (default on) first peels the graph to its (k−1)-core and
    drops every edge outside it. Sound: each k-truss edge closes ≥ k−2
    triangles inside the truss, so every truss vertex has degree ≥ k−1
    there — the truss is a subgraph of the (k−1)-core, and peeling is
    confluent, so the fixpoint is identical. The point is the COST of the
    one full triangle enumeration that seeds the support counts: its
    shuffle volume is the oriented wedge count of whatever graph it is
    given, and the degree-peel (a frontier loop whose rounds cost
    O(removed-frontier degree) — kcore.py) shrinks a 138 M-edge power-law
    graph by orders of magnitude before any wedge is materialized. The
    measured alternative is a disk-full abort at LJ scale (round-5 BENCH:
    k=20's 19-core barely prunes and the enumeration wrote >79 GB of
    shuffle; k=100's 99-core keeps 0.8% of the edges and the full
    decomposition converges in 52 min on one box). When a low k over a
    dense core is genuinely required, shard the seeding enumeration by the
    oriented edge's `a`-prefix (run `_triangle_corner_edges` per hash
    bucket of `a` and sum supports) — each shard's wedge volume divides by
    the bucket count while the union is exactly the full count.
    """
    if k < 2:
        raise ValueError("k-truss requires k >= 2")
    loop = SuperstepLoop("k_truss", {"k": k, "max_iter": max_iter})
    e = truncate_lineage(graph.simple_undirected())
    if core_prune and k >= 3:
        from sparkgraph.algorithms.kcore import k_core

        core = k_core(graph, k - 1).state  # (id,) vertices of the (k−1)-core
        e = truncate_lineage(
            e.join(core.withColumnRenamed("id", "u").hint("shuffle_hash"), "u", "left_semi")
            .join(core.withColumnRenamed("id", "v").hint("shuffle_hash"), "v", "left_semi")
        )
    need = k - 2
    # one full enumeration builds the initial support; every later round only
    # touches triangles incident to that round's dropped edges
    support = _triangle_corner_edges(e).groupBy("u", "v").agg(
        F.count(F.lit(1)).alias("s")
    )
    es = truncate_lineage(
        e.join(support, ["u", "v"], "left").select(
            "u", "v", F.coalesce("s", F.lit(0)).alias("s")
        )
    )
    step = 0
    converged = False
    while step < max_iter:
        loop.step_started()
        weak = truncate_lineage(es.filter(F.col("s") < need).select("u", "v"))
        n_weak = weak.count()
        step += 1
        if n_weak == 0:
            loop.step_done(es, step, changed=0)
            converged = True
            break
        live = es.join(weak, ["u", "v"], "left_anti")
        # triangles of the PRE-drop graph containing >= 1 weak edge: expand
        # one endpoint's adjacency, confirm the closing edge, dedupe per
        # canonical triple (a triangle with 2-3 weak member edges must
        # decrement each survivor exactly once)
        sym = es.select(F.col("u").alias("a"), F.col("v").alias("b")).unionByName(
            es.select(F.col("v").alias("a"), F.col("u").alias("b"))
        )
        t1 = weak.join(
            sym.select(F.col("a").alias("u"), F.col("b").alias("w")), "u"
        )
        t2 = t1.join(
            sym.select(F.col("a").alias("v"), F.col("b").alias("w")),
            ["v", "w"],
            "left_semi",
        )
        tris = (
            t2.select(F.array_sort(F.array("u", "v", "w")).alias("t"))
            .distinct()
            .select(
                F.col("t")[0].alias("x"),
                F.col("t")[1].alias("y"),
                F.col("t")[2].alias("z"),
            )
        )
        members = (
            tris.select(F.col("x").alias("u"), F.col("y").alias("v"))
            .unionByName(tris.select(F.col("y").alias("u"), F.col("z").alias("v")))
            .unionByName(tris.select(F.col("x").alias("u"), F.col("z").alias("v")))
        )
        dec = members.groupBy("u", "v").agg(F.count(F.lit(1)).alias("d"))
        es = truncate_lineage(
            live.join(dec, ["u", "v"], "left").select(
                "u", "v", (F.col("s") - F.coalesce("d", F.lit(0))).alias("s")
            )
        )
        loop.step_done(es, step, changed=n_weak)
        if es.isEmpty():
            converged = True
            break

    out = es.select("u", "v")
    return loop.finish(out, step, converged, result=out)
