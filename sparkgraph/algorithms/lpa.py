"""Synchronous label propagation (community detection), deterministic.

The reference has no LPA program (SURVEY.md §2C); this fills the gap required
by BASELINE.json. Spec (deterministic so runs are reproducible across
partitionings — SURVEY.md §7 risk (ii)):

  * init: label(v) = v;
  * each superstep, EVERY vertex synchronously adopts the most frequent label
    among its neighbors on the symmetrized multigraph (parallel edges count
    as multiplicity); ties broken by the SMALLEST label;
  * fixed iteration cap (default 10) with early exit when no label changes —
    synchronous LPA can oscillate on bipartite structures, so the cap is part
    of the algorithm's contract, not a safety valve.

Spark plan per superstep: scatter join + ``groupBy(dst, label).count`` +
argmax via ``max(struct(cnt, -label))`` — two hash aggregates, no window sort.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sparkgraph.graph import Graph
from sparkgraph.pregel import Checkpointer, PregelResult, SuperstepLoop, truncate_lineage


def label_propagation(
    graph: Graph,
    max_iter: int = 10,
    checkpointer: Checkpointer | None = None,
    resume: bool = False,
    weighted: bool = False,
) -> PregelResult:
    """Returns state ``(id, label: long)``.

    ``weighted``: neighbors vote with their edge weight instead of
    multiplicity (the natural semantics on a co-change/co-occurrence graph:
    a pair that changed together 50 times should pull harder than one that
    did once). Determinism note: weight sums compare exactly when weights
    are integer-valued (exact in doubles); with arbitrary floats, near-tied
    votes can flip on summation order — prefer integer-valued weights."""
    edges = graph.edges_sym
    loop = SuperstepLoop("label_propagation", {"max_iter": max_iter}, checkpointer, resume)
    # not a bare alias (see connected_components): the state stays
    # partitioned on id, so superstep 1 does not re-exchange it
    init = graph.vertices.select("id", F.least("id", "id").alias("label"))
    step, state = loop.start(init, graph.num_partitions)

    while step < max_iter:
        loop.step_started()
        src_labels = state.select(F.col("id").alias("src"), "label")
        msgs = edges.join(src_labels.hint("shuffle_hash"), "src").select(
            F.col("dst").alias("id"), "label", "weight"
        )
        vote = F.sum("weight") if weighted else F.count(F.lit(1))
        counts = msgs.groupBy("id", "label").agg(vote.alias("cnt"))
        # Most frequent label, min-label tie-break: max of (cnt, -label).
        winners = counts.groupBy("id").agg(
            F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("nl"))).alias("w")
        ).select("id", (-F.col("w.nl")).alias("new_label"))
        new_state = state.join(winners, "id", "left").select(
            "id",
            F.coalesce("new_label", "label").alias("label"),
            (F.coalesce("new_label", "label") != F.col("label")).alias("changed"),
        )
        # lazy truncation: the changed-count materializes the checkpoint —
        # one job per superstep instead of checkpoint + count
        new_state = truncate_lineage(new_state, eager=False)
        changed = new_state.filter("changed").count()
        step += 1
        state = new_state.drop("changed")
        loop.step_done(state, step, changed=changed)
        if changed == 0:
            break

    return loop.finish(state, step, converged=True, result=state.select("id", "label"))
