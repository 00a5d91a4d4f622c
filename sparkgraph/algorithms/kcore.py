"""k-core decomposition (iterative peeling) on the simple undirected graph.

No analogue in the reference (SURVEY.md §2C) — standard link-graph surface:
the k-core is the maximal subgraph where every vertex has degree ≥ k within
the subgraph. Decremental peeling: compute full degrees ONCE, then each round
remove the sub-k frontier and subtract only the edges incident to it from the
survivors' degrees — O(E + Σ removals) aggregate work instead of the naive
O(E·rounds) full recount (each round still scans the persisted edge table but
shuffles/aggregates only the frontier-incident edges).

``max_iter`` caps rounds for reproducible fixed-round semantics (pathological
chains need O(V) rounds; real link graphs converge in a handful).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sparkgraph.graph import Graph
from sparkgraph.pregel import PregelResult, SuperstepLoop, truncate_lineage


def k_core(graph: Graph, k: int, max_iter: int = 50) -> PregelResult:
    """Returns state ``(id,)`` — the vertices of the k-core (possibly empty).
    ``converged`` is True iff the peeling reached its fixpoint (an empty
    sub-k frontier) within ``max_iter`` rounds."""
    sym = graph.simple_sym().persist()
    loop = SuperstepLoop("k_core", {"k": k, "max_iter": max_iter})

    # full degrees once; thereafter only decrements
    deg = truncate_lineage(
        sym.groupBy(F.col("u").alias("id")).agg(F.count(F.lit(1)).alias("deg"))
    )
    step = 0
    converged = False
    while step < max_iter:
        loop.step_started()
        frontier = deg.filter(F.col("deg") < k).select("id")
        n_removed = frontier.count()
        if n_removed == 0:
            converged = True
            break
        survivors = deg.filter(F.col("deg") >= k)
        # subtract one per edge into the removed frontier (scatter from the
        # frontier only — message volume is O(frontier degree), not O(E))
        dec = (
            sym.join(
                frontier.withColumnRenamed("id", "v").hint("shuffle_hash"), "v"
            )
            .groupBy(F.col("u").alias("id"))
            .agg(F.count(F.lit(1)).alias("dec"))
        )
        deg = truncate_lineage(
            survivors.join(dec, "id", "left").select(
                "id", (F.col("deg") - F.coalesce("dec", F.lit(0))).alias("deg")
            )
        )
        step += 1
        loop.step_done(deg, step, changed=n_removed)

    alive = deg.select("id")
    sym.unpersist()
    return loop.finish(alive, step, converged, result=alive)


def coreness(graph: Graph, max_iter: int = 100) -> PregelResult:
    """Full k-core decomposition: the core number of EVERY vertex at once,
    via h-index iteration (Lü et al. 2016, "Vital nodes identification in
    complex networks"): c₀(v) = deg(v), then c_{t+1}(v) = H-index of
    {c_t(u) : u ∈ N(v)} — monotonically non-increasing, fixpoint = coreness.

    One peel-free relational round: scatter neighbor values, rank them
    descending per vertex (window), h = max(min(rank, value)). Rounds to
    fixpoint are small in practice (≤ graph's core height). Rounds are
    FRONTIER-RESTRICTED: h(v) can only change if a neighbor's value changed
    last round, so each round rescoreS only neighbors-of-changed — round
    cost is O(adjacency of the active set), not O(E), and the measured
    changed-decay (BENCH.md: 3.46 M → 0 over 46 rounds at 138 M sym edges)
    makes the tail rounds near-free. Results are bit-identical to the
    full-rescore loop round-by-round. Prefer ``k_core`` when only one
    threshold matters. Returns state ``(id, coreness: long)``."""
    sym = graph.simple_sym().repartition(graph.num_partitions, "u").persist()
    loop = SuperstepLoop("coreness", {"max_iter": max_iter})

    state = truncate_lineage(
        sym.groupBy(F.col("u").alias("id")).agg(F.count(F.lit(1)).alias("c"))
    )
    from pyspark.sql import Window

    step = 0
    converged = False
    frontier = None  # ids whose value changed last round; None = first round
    while step < max_iter:
        loop.step_started()
        if frontier is None:
            active = state.select(F.col("id").alias("u"))
        else:
            # h(v) can only move if a neighbor moved: rescore only
            # neighbors-of-changed (sym is symmetric, so one u-keyed join)
            active = (
                sym.join(
                    frontier.select(F.col("id").alias("u")).hint("shuffle_hash"),
                    "u",
                )
                .select(F.col("v").alias("u"))
                .distinct()
            )
        nbr = (
            sym.join(active.hint("shuffle_hash"), "u", "left_semi")
            .join(
                state.select(F.col("id").alias("v"), F.col("c").alias("cv")).hint(
                    "shuffle_hash"
                ),
                "v",
            )
            .select("u", "cv")
        )
        rn = F.row_number().over(Window.partitionBy("u").orderBy(F.desc("cv")))
        h = (
            nbr.select("u", "cv", rn.alias("rn"))
            .groupBy(F.col("u").alias("id"))
            .agg(F.max(F.least(F.col("rn"), F.col("cv"))).alias("h"))
        )
        new_state = truncate_lineage(
            state.join(h, "id", "left").select(
                "id",
                F.coalesce("h", "c").alias("c"),
                (F.coalesce("h", "c") != F.col("c")).alias("chg"),
            ),
            eager=False,  # the changed-count materializes it; the frontier
            # filter right after reads the same cached checkpoint
        )
        changed = new_state.filter("chg").count()
        frontier = new_state.filter("chg").select("id")
        new_state = new_state.drop("chg")
        step += 1
        loop.step_done(new_state, step, changed=changed)
        state = new_state
        if changed == 0:
            converged = True
            break

    out = state.withColumnRenamed("c", "coreness")
    sym.unpersist()
    return loop.finish(out, step, converged, result=out)
