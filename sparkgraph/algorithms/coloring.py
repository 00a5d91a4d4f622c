"""Distributed greedy graph coloring via Jones–Plassmann (Jones & Plassmann
1993, "A parallel graph coloring heuristic").

Added link-graph surface (no reference analogue): a proper coloring is the
standard conflict-scheduling primitive — color classes are sets of vertices
safe to update in parallel (chromatic scheduling for asynchronous graph
algorithms, register/partition assignment, conflict-free batch planning).
Complements the MIS operator: JP is effectively iterated MIS where winners
also pick the smallest color unused by their already-colored neighbors.

Semantics (deterministic, replayable — same policy as MIS/walks): every
vertex draws a FIXED priority ``(mix(id), id)`` (xxhash production default,
SQL-expressible affine mixer for the oracle gate; ties break by id, so any
mixer yields a proper coloring). Per round, every UNCOLORED vertex whose
key is strictly smaller than all uncolored neighbors' keys colors itself
with the minimum excludant (mex) of its already-colored neighbors' colors.
Rounds needed = longest decreasing-priority path — O(log n / log log n)
expected on bounded-degree graphs.

Scale shape per round: one neighbor-min aggregation over the live subgraph
(map-side combined), one join against the colored table + in-array mex (no
windows), two semi-joins to shrink the live edge set. No collects beyond
the loop's two scalar counts; no quadratic constructions.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sparkgraph.algorithms.mis import MIS_AFFINE_MOD, _priority
from sparkgraph.graph import Graph
from sparkgraph.pregel import (
    MAX_FIXPOINT_ITERS,
    PregelResult,
    SuperstepLoop,
    truncate_lineage,
    warn_unconverged,
)


def greedy_coloring(
    graph: Graph, mixer: str = "xxhash", max_iter: int = MAX_FIXPOINT_ITERS
) -> PregelResult:
    """Returns state ``(id, color: int)`` — a proper coloring of the simple
    undirected graph (no edge joins two equal colors). Deterministic for a
    given mixer; independent of partitioning. ``converged`` is True iff
    every vertex was colored within ``max_iter`` rounds."""
    sym = truncate_lineage(graph.simple_sym())
    live = truncate_lineage(sym.select(F.col("u").alias("id")).distinct())
    loop = SuperstepLoop("coloring", {"mixer": mixer, "max_iter": max_iter})

    # FIXED priority permutation (round-independent — the classic JP setup,
    # and what lets the oracle unroll without per-round priority tables)
    def key_of(df):
        return df.select(
            "id",
            F.struct(
                _priority(mixer, F.col("id"), 0).cast("long").alias("p"),
                F.col("id").cast("long").alias("i"),
            ).alias("key"),
        )

    sentinel = F.struct(
        F.lit(MIS_AFFINE_MOD).cast("long").alias("p"),
        F.lit(0).cast("long").alias("i"),
    )
    spark = graph.spark
    colored = truncate_lineage(
        spark.createDataFrame([], "id long, color int")
    )
    live_edges = sym
    step = 0
    converged = False
    while step < max_iter:
        loop.step_started()
        n_live = live.count()
        if n_live == 0:
            converged = True
            break
        pri = key_of(live)
        lp = pri.select(F.col("id").alias("u"), F.col("key").alias("ukey"))
        nbr_min = (
            live_edges.join(lp.hint("shuffle_hash"), "u")
            .select(F.col("v").alias("id"), F.col("ukey").alias("nkey"))
            .groupBy("id")
            .agg(F.min("nkey").alias("min_nkey"))
        )
        winners = truncate_lineage(
            pri.join(nbr_min, "id", "left")
            .filter(F.col("key") < F.coalesce(F.col("min_nkey"), sentinel))
            .select("id")
        )
        # mex over already-colored neighbors: distinct sorted colors, then
        # one in-array fold — acc advances past every color it meets
        nbr_colors = (
            sym.join(winners.withColumnRenamed("id", "u"), "u", "left_semi")
            .join(
                colored.select(F.col("id").alias("v"), "color").hint("shuffle_hash"),
                "v",
            )
            .groupBy(F.col("u").alias("id"))
            .agg(F.array_sort(F.collect_set("color")).alias("cs"))
        )
        new_colored = truncate_lineage(
            winners.join(nbr_colors, "id", "left")
            .select(
                "id",
                F.aggregate(
                    F.coalesce(F.col("cs"), F.array().cast("array<int>")),
                    F.lit(0),
                    lambda acc, x: F.when(x == acc, acc + 1).otherwise(acc),
                ).cast("int").alias("color"),
            )
        )
        colored = truncate_lineage(colored.unionByName(new_colored))
        live = truncate_lineage(live.join(winners, "id", "left_anti"))
        live_edges = truncate_lineage(
            live_edges.join(live.withColumnRenamed("id", "u"), "u", "left_semi").join(
                live.withColumnRenamed("id", "v"), "v", "left_semi"
            )
        )
        step += 1
        loop.step_done(colored, step, changed=n_live - live.count())

    if not converged:
        warn_unconverged("coloring", step, max_iter)
    # totality over V: vertices outside the simple undirected graph
    # (isolated once self-loops/duplicates drop) never enter the JP loop —
    # color 0 is trivially proper for them, and downstream joins against
    # graph.vertices stay null-free.
    isolated = (
        graph.vertices.join(
            sym.select(F.col("u").alias("id")).distinct(), "id", "left_anti"
        ).select("id", F.lit(0).cast("int").alias("color"))
    )
    colored = colored.unionByName(isolated)
    return loop.finish(colored, step, converged, result=colored)
