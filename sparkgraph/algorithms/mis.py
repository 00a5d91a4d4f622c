"""Maximal independent set via Luby's algorithm (Luby 1985), derandomized.

Added link-graph surface (no reference analogue): an MIS is the standard
symmetry-breaking primitive (scheduling non-conflicting work over a conflict
graph, coloring seeds, landmark selection). Luby's round: every live vertex
draws a priority; a vertex joins the MIS iff its (priority, id) pair is
strictly smaller than every live neighbor's; winners and their neighbors
leave the graph. O(log n) rounds in expectation.

Determinism instead of RNG (same policy as algorithms.walks): priority is a
pure function ``mix(vertex, round)`` — ``xxhash`` (production default) or the
SQL-expressible ``affine`` mixer, so the oracle gate can replay every round.
Ties (same priority) break by vertex id via lexicographic (pri, id)
comparison, so ANY mixer yields a valid MIS — the mixer only affects how
many rounds symmetry-breaking takes.

Per round: one frontier-style join to compute neighbor minima (map-side
combined), two semi-joins to shrink the live graph — no collects, no windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparkgraph.graph import Graph
from sparkgraph.pregel import PregelResult, SuperstepLoop, truncate_lineage

MIS_AFFINE_V = 2654435761
MIS_AFFINE_S = 40503
MIS_AFFINE_MOD = 2**20  # small on purpose: collisions exercise the id tie-break


def _priority(mixer: str, vertex, rnd: int):
    if mixer == "xxhash":
        return F.pmod(F.xxhash64(vertex, F.lit(rnd)), F.lit(MIS_AFFINE_MOD))
    if mixer == "affine":
        # pmod the id into [0, 2^31) before multiplying — raw xxhash64-range
        # ids overflow int64 under ANSI mode (cf. louvain.PARITY_BOUND);
        # identity for ids < 2^31, so gate replays are unchanged
        return (
            F.pmod(vertex, F.lit(2**31)) * F.lit(MIS_AFFINE_V)
            + F.lit(rnd * MIS_AFFINE_S)
        ) % F.lit(MIS_AFFINE_MOD)
    raise ValueError(f"unknown mixer {mixer!r}")


def maximal_independent_set(
    graph: Graph, mixer: str = "xxhash", max_iter: int = 200
) -> PregelResult:
    """Returns state ``(id,)`` — an inclusion-maximal independent set of the
    simple graph. ``converged`` is True iff every vertex was decided within
    ``max_iter`` rounds."""
    edges = truncate_lineage(graph.simple_sym())
    live = truncate_lineage(edges.select(F.col("u").alias("id")).distinct())
    loop = SuperstepLoop("mis", {"mixer": mixer, "max_iter": max_iter})

    mis_parts: list[DataFrame] = []
    step = 0
    converged = False
    while step < max_iter:
        loop.step_started()
        n_live = live.count()
        if n_live == 0:
            converged = True
            break
        # lexicographic (priority, id) key as a struct — struct min/compare is
        # field-wise lexicographic, valid for ANY id range (an encoded
        # pri*2^32+id long would let ids ≥ 2^32 bleed into the priority field)
        pri = live.select(
            "id",
            F.struct(
                _priority(mixer, F.col("id"), step).cast("long").alias("p"),
                F.col("id").cast("long").alias("i"),
            ).alias("key"),
        )
        lp = pri.select(F.col("id").alias("u"), F.col("key").alias("ukey"))
        nbr_min = (
            edges.join(lp.hint("shuffle_hash"), "u")
            .select(F.col("v").alias("id"), F.col("ukey").alias("nkey"))
            .groupBy("id")
            .agg(F.min("nkey").alias("min_nkey"))
        )
        # no-neighbor sentinel: any real priority < MIS_AFFINE_MOD
        sentinel = F.struct(
            F.lit(MIS_AFFINE_MOD).cast("long").alias("p"),
            F.lit(0).cast("long").alias("i"),
        )
        winners = truncate_lineage(
            pri.join(nbr_min, "id", "left")
            .filter(F.col("key") < F.coalesce(F.col("min_nkey"), sentinel))
            .select("id")
        )
        mis_parts.append(winners)
        # winners + their neighbors leave the graph
        removed = winners.unionByName(
            edges.join(winners.withColumnRenamed("id", "u"), "u", "left_semi")
            .select(F.col("v").alias("id"))
            .distinct()
        ).distinct()
        live = truncate_lineage(live.join(removed, "id", "left_anti"))
        edges = truncate_lineage(
            edges.join(live.withColumnRenamed("id", "u"), "u", "left_semi").join(
                live.withColumnRenamed("id", "v"), "v", "left_semi"
            )
        )
        n_after = live.count()
        step += 1
        loop.step_done(live, step, changed=n_live - n_after)

    out = mis_parts[0] if mis_parts else live.limit(0)
    for part in mis_parts[1:]:
        out = out.unionByName(part)
    return loop.finish(out, step, converged, result=out)
