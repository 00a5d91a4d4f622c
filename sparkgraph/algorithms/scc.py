"""Strongly connected components on the DIRECTED edge table.

New directed surface beyond the reference (its loader symmetrizes everything,
worker/worker.go:164-199, so the reference cannot ask this question at all) —
but a code link graph is directed: import cycles ARE the SCCs, and "which
files form a dependency knot" is a first-class query at 10¹²-file scale.

Algorithm: iterative coloring (Orzan's MapReduce SCC / FW-BW-style
label-and-peel, standard for Pregel-class systems):

  round: 0) TRIM — vertices with no in-edge or no out-edge inside the
            remaining subgraph are singleton SCCs by definition; peel them
            iteratively (this alone dissolves DAG periphery/tails, the case
            where pure coloring degrades to one-singleton-per-round);
         1) FORWARD min-label fixpoint over the remainder —
            color(v) = min id that reaches v (including itself);
         2) roots r (color(r) = r) seed a BACKWARD reachability sweep that
            stays INSIDE one color class: everything backward-reachable from
            r within color r is exactly the SCC of r;
         3) peel those vertices off; repeat.

Every round peels ≥1 SCC per color class; trim and both sweeps are frontier
loops (message volume = changed/peeled vertices only). ``max_rounds`` caps
adversarial structures (e.g. nested cycles chained one-per-round) and
``converged`` reports truncation honestly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from sparkgraph.pregel import (
    MAX_FIXPOINT_ITERS,
    PregelResult,
    SuperstepLoop,
    truncate_lineage,
    warn_unconverged,
)


def strongly_connected_components(
    edges: DataFrame, max_rounds: int = 50, max_iter: int = MAX_FIXPOINT_ITERS
) -> PregelResult:
    """``edges(src, dst)`` directed → state ``(id, scc: long)``, scc = min
    vertex id in the strongly connected component (singletons included).
    If ``max_rounds`` truncates the peel, still-unresolved vertices carry
    ``scc = NULL`` (never a guess) and ``converged`` is False."""
    e = edges.select("src", "dst").distinct().persist(StorageLevel.MEMORY_AND_DISK)
    verts = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    loop = SuperstepLoop("scc", {"max_rounds": max_rounds})

    # forward coloring: a changed vertex sends its color; the min wins
    fwd_scatter = [F.col("id").alias("src"), F.col("color").alias("fcol")]
    fwd_gather = F.min("fcol").alias("mcol")
    offered = F.coalesce("mcol", F.col("color"))
    fwd_apply = [
        "id",
        F.least("color", offered).alias("color"),
        (offered < F.col("color")).alias("changed"),
    ]

    done = None  # (id, scc) accumulated labels
    active = truncate_lineage(verts)
    step = 0
    rounds = 0
    converged = False
    while rounds < max_rounds:
        if active.isEmpty():
            converged = True
            break
        rounds += 1

        def _restrict(act):
            return truncate_lineage(
                e.join(act.withColumnRenamed("id", "src").hint("shuffle_hash"),
                       "src", "left_semi")
                .join(act.withColumnRenamed("id", "dst").hint("shuffle_hash"),
                      "dst", "left_semi")
            )

        # 0) trim: no in-edge or no out-edge in the live subgraph ⇒ singleton
        ae = _restrict(active)
        while step < max_iter:
            loop.step_started()
            has_out = ae.select(F.col("src").alias("id")).distinct()
            has_in = ae.select(F.col("dst").alias("id")).distinct()
            keep = truncate_lineage(has_out.intersect(has_in))
            trimmed = active.join(keep, "id", "left_anti")
            n_trim = trimmed.count()
            step += 1
            loop.step_done(active, step, changed=n_trim)
            if n_trim == 0:
                break
            singles = trimmed.select("id", F.col("id").alias("scc"))
            done = singles if done is None else truncate_lineage(
                done.unionByName(singles)
            )
            active = keep
            ae = _restrict(active)
        if active.isEmpty():
            converged = True
            break

        # 1) forward min-label fixpoint (frontier-pruned, like hash-min CC)
        color = truncate_lineage(
            active.select("id", F.col("id").alias("color"),
                          F.lit(True).alias("changed"))
        )
        color, step, _ = loop.relax(
            ae, color, step, max_iter, fwd_scatter, fwd_gather, fwd_apply
        )

        # 2) backward sweep from roots, confined to each root's color class:
        #    member(v) ⇐ edge v→u, member(u), color(v) = color(u). The BFS
        #    runs over the reversed same-color edges, keyed by color; a vertex
        #    only ever meets its own color, so (color, id) visits like id.
        csrc = color.select(F.col("id").alias("src"), F.col("color").alias("csrc"))
        cdst = color.select(F.col("id").alias("dst"), F.col("color").alias("cdst"))
        back = truncate_lineage(
            ae.join(csrc, "src").join(cdst, "dst").filter(
                F.col("csrc") == F.col("cdst")
            ).select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        roots = color.filter(F.col("id") == F.col("color")).select(
            "id", "color", F.lit(0).alias("depth")
        )
        member, step, _ = loop.reach(back, roots, ["color"], step, max_iter)

        labeled = member.select("id", F.col("color").alias("scc"))
        done = labeled if done is None else done.unionByName(labeled)
        done = truncate_lineage(done)
        active = truncate_lineage(active.join(member, "id", "left_anti"))

    if not converged and active.isEmpty():
        converged = True  # max_rounds hit exactly as the last SCC peeled
    if not converged:
        unresolved = active.select(
            "id", F.lit(None).cast("long").alias("scc")
        )
        done = unresolved if done is None else done.unionByName(unresolved)
    state = done if done is not None else verts.select(
        "id", F.col("id").alias("scc")
    )
    e.unpersist()
    if not converged:
        # which ceiling fired? the inner fixpoints share the global ``step``
        # budget (max_iter supersteps); the peel itself is capped by
        # max_rounds — blame the knob that actually truncated the run.
        if step >= max_iter:
            warn_unconverged("scc", step, max_iter)
        else:
            warn_unconverged(
                "scc", rounds, max_rounds, knob="max_rounds", unit="peel rounds"
            )
    return loop.finish(state, step, converged, result=state)


def condensation(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Condensation DAG of a directed graph: one row ``(scc_src, scc_dst,
    n_edges)`` per ordered pair of DISTINCT strongly connected components
    joined by at least one original edge, with the collapsed-edge count.

    ``labels`` is the ``(id, scc)`` state from
    ``strongly_connected_components`` (NULL labels from a truncated peel are
    dropped — the condensation is only defined over resolved vertices). The
    result is acyclic by construction (an scc_src→scc_dst→scc_src cycle
    would merge the two components).

    Scale shape: two hash joins of the E-sized edge table against the
    V-sized label table (state side shuffle-hashed), one map-side-combined
    count — no per-vertex iteration; runs AFTER the SCC fixpoint as a single
    relational pass. Link-graph reading: the module DAG over dependency
    cycles — which clusters of mutually-importing files feed which."""
    lab = labels.filter(F.col("scc").isNotNull())
    e = edges.select("src", "dst").distinct()
    ls = lab.select(F.col("id").alias("src"), F.col("scc").alias("scc_src"))
    ld = lab.select(F.col("id").alias("dst"), F.col("scc").alias("scc_dst"))
    return (
        e.join(ls.hint("shuffle_hash"), "src")
        .join(ld.hint("shuffle_hash"), "dst")
        .filter(F.col("scc_src") != F.col("scc_dst"))
        .groupBy("scc_src", "scc_dst")
        .agg(F.count(F.lit(1)).alias("n_edges"))
    )
