"""PageRank as iterative DataFrame scatter/gather (reference operator A13).

Reference semantics (worker/pagerank.go:19-49, SURVEY.md §2-note-1):
  * runs on the symmetrized unit-weight multigraph (worker/worker.go:164-199);
  * update ``x ← 0.15/N + 0.85 · Σ_{u→v} x_u / deg(u)`` (pagerank.go:30),
    N = distinct endpoints (worker/worker.go:532-534);
  * fixture ("reference") mode: values start at 0 (worker/worker.go:171) and
    exactly 30 damped updates execute (messages sent supersteps 0..29, updates
    applied 1..30) — the truncated Neumann series;
  * no dangling-node mass exists: after symmetrization every vertex has
    out-degree ≥ 1 (SURVEY.md §1.4.4).

Two halting modes:
  * mode="reference": fixed ``iterations`` updates from the zeros vector —
    bit-faithful to the fixture graphs;
  * mode="convergence": start from the uniform 1/N vector and stop when
    ``max |x_k − x_{k−1}| < tol`` (BASELINE.json's 1e-6 metric). The damped
    fixpoint is unique, so both modes agree in the limit.

Spark plan per superstep: one scatter join (edge table pre-partitioned by
``src``, never reshuffled) + one ``groupBy(dst)`` whose map-side partial
aggregation subsumes the reference's per-VM message combiner
(worker/worker.go:269-284). The shuffle IS the barrier. The aggregate is the
new state: on the symmetrized multigraph every vertex receives one message
per incident edge end, so its message count is its degree (its weight sum
the weighted degree) and no vertex needs a state join to be kept.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparkgraph.graph import Graph
from sparkgraph.pregel import Checkpointer, PregelResult, SuperstepLoop, warn_unconverged


def pagerank(
    graph: Graph,
    mode: str = "reference",
    iterations: int = 30,
    tol: float = 1e-6,
    max_iter: int = 200,
    damping: float = 0.85,
    checkpointer: Checkpointer | None = None,
    resume: bool = False,
    reset_to: int | None = None,
    weighted: bool = False,
    initial_state: DataFrame | None = None,
) -> PregelResult:
    """Returns state ``(id, value)``; ``result.metrics`` carries per-superstep
    wall time and (in convergence mode) the max-abs delta. The supersteps run
    in ``SuperstepLoop.propagate``: one Spark job each, the delta's in
    convergence mode. A convergence run that stops at ``max_iter`` above
    ``tol`` logs the convergence-guard warning and returns
    ``converged=False``.

    ``reset_to``: personalized PageRank — the teleport mass (1−damping) lands
    entirely on this vertex instead of uniformly on all N (random walk with
    restart). Scores are the restart vertex's proximity distribution.

    ``weighted``: contributions proportional to edge weight
    (``value·w/Σw(out)``) instead of the reference's uniform ``value/deg``
    (weights are hard-coded 1.0 in the reference loader, worker/worker.go:165
    — both modes agree on unit-weight graphs).

    ``initial_state``: optional ``(id, value)`` warm start (convergence
    mode) — e.g. the previous scores of an incrementally growing graph. The
    damped iteration converges to the same fixpoint from any start, so this
    trades no correctness for far fewer supersteps when the graph changed
    little. Vertices absent from it start at the cold init; stale ids are
    dropped."""
    if mode not in ("reference", "convergence"):
        raise ValueError(f"unknown mode {mode!r}")
    n = graph.num_vertices
    if n == 0:
        raise ValueError("graph has no vertices (empty or comment-only input)")
    if reset_to is None:
        teleport_col = F.lit((1.0 - damping) / n)
    else:
        teleport_col = F.when(
            F.col("id") == reset_to, F.lit(1.0 - damping)
        ).otherwise(F.lit(0.0))

    loop = SuperstepLoop(
        "pagerank",
        {"mode": mode, "iterations": iterations, "tol": tol, "damping": damping,
         "n": n, "reset_to": reset_to},
        checkpointer,
        resume,
    )

    init_value = 0.0 if mode == "reference" else 1.0 / n
    base = (
        graph.weighted_degrees.withColumnRenamed("wdeg", "deg")
        if weighted
        else graph.degrees
    )
    if initial_state is not None:
        warm = initial_state.select("id", F.col("value").alias("warm"))
        base = base.join(warm, "id", "left")
        value_col = F.coalesce("warm", F.lit(init_value))
    else:
        value_col = F.lit(init_value)
    init = base.select(
        "id", F.col("deg").cast("double").alias("deg"), value_col.alias("value")
    )
    step, state = loop.start(init, graph.num_partitions)

    # The loop body's Columns are built once: each one is a Py4J round trip.
    # Scatter (A5): contribution value/deg along every symmetrized edge.
    scatter = [F.col("id").alias("src"), (F.col("value") / F.col("deg")).alias("contrib")]
    msg = (F.col("contrib") * F.col("weight")) if weighted else F.col("contrib")
    # Gather (A6+A7): partial aggregation before the shuffle. Every vertex gets
    # a message along each of its symmetrized edges, so the aggregate is the
    # whole state: message count (weight sum) = degree (weighted degree).
    gather = [
        (F.sum("weight") if weighted else F.count(F.lit(1)).cast("double")).alias("deg"),
        F.sum(msg).alias("msum"),
    ]
    # Apply (A8): damped update.
    apply = ["id", "deg", (teleport_col + F.lit(damping) * F.col("msum")).alias("value")]
    delta = None
    if mode == "convergence":
        prev = ["id", F.col("value").alias("prev")]
        delta = (prev, F.max(F.abs(F.col("value") - F.col("prev"))), tol)
    rounds = iterations if mode == "reference" else max_iter
    state, step, converged = loop.propagate(
        graph.edges_sym, state, step, rounds, scatter, gather, apply, delta
    )
    if not converged:
        warn_unconverged(loop.algorithm, step, max_iter)
    return loop.finish(state, step, converged, result=state.select("id", "value"))


def ppr_batch(
    graph: Graph,
    sources: list[int],
    iterations: int = 30,
    damping: float = 0.85,
) -> DataFrame:
    """Personalized PageRank for MANY restart vertices in ONE loop:
    ``(seed, id, value)`` — the batch analog of ``pagerank(reset_to=s)``
    run |sources| times, at one scatter join per superstep instead of
    |sources|. Reference-mode semantics per seed (zeros init, exactly
    ``iterations`` damped updates on the symmetrized unit multigraph).

    Scale shape: state is |V| × |seeds| rows keyed ``(seed, id)``; each
    superstep is ONE equi-join of the pre-partitioned edge table against
    the state on ``src`` (the edge side streams once regardless of seed
    count) + one map-side-combined ``groupBy(seed, dst)`` sum. This is the
    production shape for "proximity scores for a panel of query nodes"
    (seed-set expansion, related-files-for-these-k-files): per-seed loops
    re-pay the edge scan |seeds| times; the batch pays it once. Memory is
    the state size — for |seeds| beyond ~hundreds shard the seed list and
    union results.

    NOTE: a seed id absent from the graph contributes an all-zero
    distribution (its teleport predicate never matches) — no error is
    raised, mirroring ``pagerank(reset_to=...)``; anti-join your seed list
    against ``graph.vertices`` first if typo'd ids must be caught."""
    if not sources:
        raise ValueError("sources must be non-empty")
    seeds = graph.spark.createDataFrame(
        [(int(s),) for s in sorted(set(sources))], "seed long"
    )
    state = graph.degrees.crossJoin(F.broadcast(seeds)).select(
        "seed", "id", F.col("deg").cast("double").alias("deg"),
        F.lit(0.0).alias("value"),
    )
    # built once, as in pagerank; every (seed, vertex) pair gets a message
    # along each of the vertex's edges, so the aggregate is the whole state
    scatter = [
        "seed",
        F.col("id").alias("src"),
        (F.col("value") / F.col("deg")).alias("contrib"),
    ]
    key = ["seed", F.col("dst").alias("id")]
    teleport = F.when(
        F.col("dst") == F.col("seed"), F.lit(1.0 - damping)
    ).otherwise(F.lit(0.0))
    gather = [
        F.count(F.lit(1)).cast("double").alias("deg"),
        (teleport + F.lit(damping) * F.sum("contrib")).alias("value"),
    ]
    state, _, _ = SuperstepLoop("ppr_batch").propagate(
        graph.edges_sym, state, 0, iterations, scatter, gather, None, key=key
    )
    return state.select("seed", "id", "value")


def top_k(result: DataFrame, k: int = 25) -> DataFrame:
    """Reference result report (A12): top-k by value descending
    (master/master.go:334-340 prints top-25 via a max-heap). Spark compiles
    this to TakeOrderedAndProject — no full sort.
    """
    return result.orderBy(F.desc("value"), F.asc("id")).limit(k)
