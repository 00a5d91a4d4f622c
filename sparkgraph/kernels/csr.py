"""CSR-packed Arrow gather-scatter kernels (reference operator A4's CSR
variant, BASELINE.json north_star: "vectorized Arrow UDFs over CSR-packed
edge partitions ... a hash-partitioned edge table joined to a
broadcast-or-shuffled vertex-state table").

Strategy: pack each partition of the symmetrized edge table ONCE into dense
numpy index arrays (the per-partition CSR the reference builds as Go maps,
worker/worker.go:152-212) and persist it. A call of ``pagerank_csr``,
``sssp_csr`` or ``cc_csr`` is ONE ``_run``: broadcast the initial dense
vertex state once, run one ``mapInArrow`` task over the whole pack
(``coalesce(1)``), decode every pack row once into ``(src_idx, dst_idx, w)``
arrays, and run every superstep inside that task — PageRank sums
``contrib[src]`` per ``dst`` with one ``np.bincount`` per pack row, SSSP/CC
take the minimum of ``value[src] (+ w)`` from frontier sources with
``np.minimum.at`` (the reference's per-VM combiner, worker.go:269-284) —
until the kernel halts or hits its ceiling. The task yields one row: the
final state, and the seconds and delta / changed count of every superstep.
So a call runs the same Spark jobs whatever its superstep count: the UDF
boundary is crossed once per call, not once per superstep (*Accelerating
Python UDFs in Vectorized Query Execution*, CIDR 2022). One task beat the
parent's per-superstep jobs even where those read the pack through 8 tasks
(docs/SCALE.md "Kernel choice").

Costs of the one task: it holds the whole pack, about 24 B per symmetrized
edge (int64 src/dst index + float64 weight), plus a few dense vectors in one
Python worker; a task failure reruns the whole loop; ``metrics.seconds`` is
the in-task compute time of each superstep (job launch and pack decode are
outside it).

Scale envelope — this is a FAST PATH, not the scale path: the kernels
materialize the dense state vector on the driver and in one task, so their
contract is graphs up to 10⁷ vertices (80 MB vector — the measured-safe bound
on this class of driver; ``packed_graph`` raises beyond it, callers may
consciously raise the limit to ~10⁸/800 MB where their driver allows). The
relational engine (sparkgraph.algorithms) is the 100 TB path: state never
leaves the cluster, and it is what the CLI and gate use by default. Both
produce identical results (tested to 1e-12).
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
import pyarrow as pa

from sparkgraph.graph import Graph
from sparkgraph.pregel import MAX_FIXPOINT_ITERS, PregelResult, SuperstepMetrics, warn_unconverged

PACK_EDGES_PER_PARTITION = 500_000
_PACK_COLUMNS = (("src_idx", np.int64), ("dst_idx", np.int64), ("w", np.float64))


def _pack_partitions(edges_sym, ids: np.ndarray):
    """edges (src,dst,weight) → one packed row per partition: dense-index
    arrays + weights (the per-partition CSR reused across all supersteps)."""

    def pack_rows(batches):
        srcs, dsts, ws = [], [], []
        for b in batches:
            srcs.append(b.column("src").to_numpy(zero_copy_only=False))
            dsts.append(b.column("dst").to_numpy(zero_copy_only=False))
            ws.append(b.column("weight").to_numpy(zero_copy_only=False))
        src = np.concatenate(srcs) if srcs else np.empty(0, dtype=np.int64)
        dst = np.concatenate(dsts) if dsts else np.empty(0, dtype=np.int64)
        w = np.concatenate(ws) if ws else np.empty(0, dtype=np.float64)
        src_idx = np.searchsorted(ids, src).astype(np.int64)
        dst_idx = np.searchsorted(ids, dst).astype(np.int64)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array([src_idx.tobytes()], type=pa.large_binary()),
                pa.array([dst_idx.tobytes()], type=pa.large_binary()),
                pa.array([w.astype(np.float64).tobytes()], type=pa.large_binary()),
            ],
            names=["src_idx", "dst_idx", "w"],
        )

    return edges_sym.select("src", "dst", "weight").mapInArrow(
        pack_rows, "src_idx binary, dst_idx binary, w binary"
    )


def _pack_rows(batches: Iterator[pa.RecordBatch]) -> list[tuple[np.ndarray, ...]]:
    """Every pack row of a task as ``(src_idx, dst_idx, w)`` arrays, in pack-row
    order. A coalesced task's Arrow batch holds several pack rows; the arrays
    are zero-copy views of the batch buffers."""
    return [
        tuple(np.frombuffer(b.column(name)[i].as_buffer(), dtype=dtype)
              for name, dtype in _PACK_COLUMNS)
        for b in batches
        for i in range(b.num_rows)
    ]


class PackedGraph:
    """The CSR pack shared by every kernel: sorted id universe + persisted
    per-partition index arrays, sized by edge volume."""

    def __init__(self, graph: Graph, max_broadcast_vertices: int = 10_000_000):
        self.graph = graph
        self.ids = np.sort(graph.vertices.toPandas()["id"].to_numpy(dtype=np.int64))
        self.n = len(self.ids)
        if self.n == 0:
            raise ValueError("graph has no vertices")
        self.check_envelope(max_broadcast_vertices)
        self.parts = max(1, min(
            graph.num_partitions, -(-graph.num_sym_edges // PACK_EDGES_PER_PARTITION)
        ))
        # coalesce, NOT repartition: the kernels combine messages per
        # destination over ANY edge grouping, so the pack needs no src-hash
        # shuffle at all — a narrow merge of the already-persisted edges_sym
        # partitions (guide §2.4: remove shuffles outright). Measured: 4M-edge
        # pack 5.6s → 1.8s. The 500k target (was 2M) keeps the pack job
        # parallel; the kernels read it back through one task.
        self.packed = _pack_partitions(
            graph.edges_sym.coalesce(self.parts), self.ids
        ).persist()
        self.packed.count()

    def check_envelope(self, max_broadcast_vertices: int) -> None:
        if self.n > max_broadcast_vertices:
            raise ValueError(f"{self.n} vertices exceeds the dense-vector envelope "
                             f"({max_broadcast_vertices}); use the relational algorithms")

    def unpersist(self):
        self.packed.unpersist()


def packed_graph(graph: Graph, max_broadcast_vertices: int = 10_000_000) -> PackedGraph:
    """Session-cached CSR pack for ``graph``: the pack is a derived index of
    the (already persisted) symmetrized edge view — exactly the class of
    reuse ``Graph.edges_sym``/``Graph.degrees`` already provide for the
    relational algorithms, extended to the kernel twins. Repeat kernel calls
    on the same Graph object (pagerank_csr then sssp_csr, or repeated
    invocations in one session) skip the re-pack; the cache dies with the
    Graph object / session and holds one pack per Graph, never keyed on
    input paths — nothing survives across runs. ``Graph.unpersist()``
    releases the cached pack too. The envelope is checked on every call,
    cached pack or not."""
    pg = graph.__dict__.get("_csr_pack_cache")
    if pg is None:
        pg = graph._csr_pack_cache = PackedGraph(graph, max_broadcast_vertices)
    pg.check_envelope(max_broadcast_vertices)
    return pg


def _run(pg: PackedGraph, init: tuple, prepare: Callable[[list], Callable],
         limit: int, done: bool = False) -> tuple[np.ndarray, list, list, bool]:
    """Run up to ``limit`` supersteps of one kernel inside ONE task over the
    whole pack. ``init`` — a tuple of arrays whose first is the dense result
    vector — is broadcast once; the task decodes every pack row once,
    ``prepare(rows)`` builds the kernel's ``superstep(state) -> (state,
    metric, done)`` over them, and the loop halts inside the task when a
    superstep reports ``done`` (or at once if ``done`` is already true).
    Returns the final result vector, the in-task seconds and the metric of
    every superstep run, and whether the loop halted."""
    bc = pg.graph.spark.sparkContext.broadcast(init)

    def loop(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        superstep = prepare(_pack_rows(batches))
        state, halted = bc.value, done
        seconds, metric = [], []
        while not halted and len(seconds) < limit:
            t0 = time.perf_counter()
            state, m, halted = superstep(state)
            seconds.append(time.perf_counter() - t0)
            metric.append(m)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array([state[0].tobytes()], type=pa.large_binary()),
                pa.array([np.array(seconds, dtype=np.float64).tobytes()], type=pa.large_binary()),
                pa.array([np.array(metric, dtype=np.float64).tobytes()], type=pa.large_binary()),
                pa.array([halted]),
            ],
            names=["state", "seconds", "metric", "done"],
        )

    try:
        # toPandas is the Arrow transfer; collect() would pickle the blobs
        row = pg.packed.coalesce(1).mapInArrow(
            loop, "state binary, seconds binary, metric binary, done boolean"
        ).toPandas().iloc[0]
    finally:
        bc.destroy()
    return (
        np.frombuffer(row["state"], dtype=init[0].dtype),
        np.frombuffer(row["seconds"], dtype=np.float64).tolist(),
        np.frombuffer(row["metric"], dtype=np.float64).tolist(),
        bool(row["done"]),
    )


def _state_frame(pg: PackedGraph, col: str, values: np.ndarray):
    """(id, col) result frame of a dense vector: long for integer labels,
    double otherwise."""
    sql_type = "long" if values.dtype.kind == "i" else "double"
    return pg.graph.spark.createDataFrame(
        pd.DataFrame({"id": pg.ids, col: values}), f"id long, {col} {sql_type}"
    )


def pagerank_csr(
    graph: Graph,
    mode: str = "reference",
    iterations: int = 30,
    tol: float = 1e-6,
    max_iter: int = 200,
    damping: float = 0.85,
    max_broadcast_vertices: int = 10_000_000,
) -> PregelResult:
    """PageRank FAST PATH on CSR-packed partitions with a broadcast state
    vector — single-box/moderate-graph accelerator, ≤ 10⁷ vertices by
    contract (see module docstring; ``algorithms.pagerank`` is the scale
    path). Same semantics/signature as ``algorithms.pagerank`` (reference +
    convergence modes); returns state ``(id, value)``.
    """
    if mode not in ("reference", "convergence"):
        raise ValueError(f"unknown mode {mode!r}")
    pg = packed_graph(graph, max_broadcast_vertices)
    n = pg.n
    teleport = (1.0 - damping) / n
    convergence = mode == "convergence"

    def prepare(rows):
        # the same integer count as Graph.degrees: every symmetrized edge once
        deg = np.zeros(n, dtype=np.int64)
        for src_idx, _, _ in rows:
            deg += np.bincount(src_idx, minlength=n)

        def superstep(state):
            (x,) = state
            contrib = x / deg
            # one bincount per pack row, summed in pack-row order
            gathered = np.zeros(n)
            for src_idx, dst_idx, _ in rows:
                gathered += np.bincount(dst_idx, weights=contrib[src_idx], minlength=n)
            new_x = teleport + damping * gathered
            delta = float(np.max(np.abs(new_x - x)))
            return (new_x,), delta, convergence and delta < tol

        return superstep

    x0 = np.full(n, 1.0 / n) if convergence else np.zeros(n)
    x, seconds, deltas, done = _run(pg, (x0,), prepare, max_iter if convergence else iterations)
    metrics = [
        SuperstepMetrics(superstep=i + 1, seconds=round(s, 6), delta=d if convergence else None)
        for i, (s, d) in enumerate(zip(seconds, deltas))
    ]
    if convergence and not done:
        warn_unconverged("pagerank_csr", len(metrics), max_iter)
    return PregelResult(state=_state_frame(pg, "value", x), supersteps=len(metrics),
                        converged=done or not convergence, metrics=metrics)


def _frontier_min(pg: PackedGraph, init: np.ndarray, init_frontier: np.ndarray,
                  weighted: bool, max_iter: int, out_col: str) -> PregelResult:
    """Shared frontier min-combiner kernel (SSSP: msg = val+w; CC: msg = val)
    in ``init``'s dtype. Per superstep only frontier sources send; the next
    frontier is the set of vertices whose value fell."""

    def prepare(rows):
        def superstep(state):
            val, frontier = state
            new_val = val.copy()
            for src_idx, dst_idx, w in rows:
                active = frontier[src_idx]
                msg = val[src_idx[active]]
                if weighted:
                    msg = msg + w[active]
                np.minimum.at(new_val, dst_idx[active], msg)
            frontier = new_val < val
            changed = int(frontier.sum())
            return (new_val, frontier), changed, changed == 0

        return superstep

    # an empty frontier is a true fixpoint
    val, seconds, changed, converged = _run(pg, (init, init_frontier), prepare, max_iter,
                                            done=not init_frontier.any())
    if not converged:
        warn_unconverged(f"csr_frontier_min[{out_col}]", len(seconds), max_iter)
    metrics = [
        SuperstepMetrics(superstep=i + 1, seconds=round(s, 6), changed=int(c))
        for i, (s, c) in enumerate(zip(seconds, changed))
    ]
    return PregelResult(state=_state_frame(pg, out_col, val), supersteps=len(metrics),
                        converged=converged, metrics=metrics)


def sssp_csr(graph: Graph, source: int, max_iter: int = MAX_FIXPOINT_ITERS) -> PregelResult:
    """SSSP on the CSR pack — same semantics as ``algorithms.sssp``
    (intended Pregel min-plus; +inf for unreachable)."""
    pg = packed_graph(graph)
    init = np.full(pg.n, np.inf)
    pos = np.searchsorted(pg.ids, source)
    if pos < pg.n and pg.ids[pos] == source:
        init[pos] = 0.0
    return _frontier_min(pg, init, np.isfinite(init), weighted=True,
                         max_iter=max_iter, out_col="dist")


def cc_csr(graph: Graph, max_iter: int = MAX_FIXPOINT_ITERS) -> PregelResult:
    """Connected components (hash-min) on the CSR pack — label = min id in
    component, as ``long``. Labels stay int64 throughout, so every id is
    exact (no float64 2^53 limit)."""
    pg = packed_graph(graph)
    return _frontier_min(pg, pg.ids, np.ones(pg.n, dtype=bool), weighted=False,
                         max_iter=max_iter, out_col="component")
