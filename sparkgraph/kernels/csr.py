"""CSR-packed Arrow gather-scatter kernels (reference operator A4's CSR
variant, BASELINE.json north_star: "vectorized Arrow UDFs over CSR-packed
edge partitions ... a hash-partitioned edge table joined to a
broadcast-or-shuffled vertex-state table").

Strategy: pack each partition of the symmetrized edge table ONCE into dense
numpy index arrays (the per-partition CSR the reference builds as Go maps,
worker/worker.go:152-212) and persist it. Every superstep of
``pagerank_csr``, ``sssp_csr`` and ``cc_csr`` is one ``_gather``: broadcast
the dense vertex state, run one ``mapInArrow`` pass in which the kernel's
vectorized ``message`` turns each pack row into ``(dst_idx, value)`` pairs
(PageRank ``contrib[src]``; SSSP/CC ``value[src] (+ w)`` from frontier
sources), and combine each task's pairs into ONE partial (``np.bincount`` /
``np.minimum.at`` — the reference's per-VM combiner, worker.go:269-284).
The driver sum/min-merges the partials, which arrive as PACKED BLOBS (one
binary row per task; the pack is read through few enough tasks that a
superstep collects ≤ ~4M entries), applies the kernel's update on the dense
gathered vector and rebroadcasts. There is no shuffle merge: at 2.9M and
6.7M vertices on 4 cores a ``groupBy(idx)`` merge of every pack partition's
partial ran 2-3x slower than the one-task driver merge for all three kernels
(docs/SCALE.md, scripts/csr_scale_bench.py).

Scale envelope — this is a FAST PATH, not the scale path: the kernels
materialize the dense state vector on the driver and broadcast it each
superstep, so their contract is graphs up to 10⁷ vertices (80 MB vector — the
measured-safe bound on this class of driver; ``packed_graph`` raises beyond
it, callers may consciously raise the limit to ~10⁸/800 MB where their
driver allows). The relational engine (sparkgraph.algorithms) is the 100 TB
path: state never leaves the cluster, and it is what the CLI and gate use by
default. Both produce identical results (tested to 1e-12).
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import functions as F

from sparkgraph.graph import Graph
from sparkgraph.pregel import MAX_FIXPOINT_ITERS, PregelResult, SuperstepMetrics, warn_unconverged

PACK_EDGES_PER_PARTITION = 500_000
# (idx, value) entries one superstep collects at most
_DRIVER_COMBINE_ENTRIES = 4_000_000


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


def _column(batch: pa.RecordBatch, name: str, dtype) -> np.ndarray:
    return np.frombuffer(batch.column(name)[0].as_py(), dtype=dtype)


def _blob_batch(idx: np.ndarray, vals: np.ndarray):
    return pa.RecordBatch.from_arrays(
        [
            pa.array([idx.astype(np.int64).tobytes()], type=pa.large_binary()),
            pa.array([vals.astype(np.float64).tobytes()], type=pa.large_binary()),
        ],
        names=["idx_b", "val_b"],
    )


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
        n_edges = graph.edges_sym.count()
        self.parts = max(
            1, min(graph.num_partitions, -(-n_edges // PACK_EDGES_PER_PARTITION))
        )
        # coalesce, NOT repartition: the kernel's per-partition bincount +
        # driver add/min-merge is correct under ANY edge grouping, so the
        # pack needs no src-hash shuffle at all — a narrow merge of the
        # already-persisted edges_sym partitions (guide §2.4: remove shuffles
        # outright). Measured: 4M-edge pack 5.6s → 1.8s. The 500k target
        # (was 2M) trades a little per-superstep blob-collect volume
        # (parts × touched-dst rows) for pack/scatter parallelism.
        self.packed = _pack_partitions(
            graph.edges_sym.coalesce(self.parts), self.ids
        ).persist()
        self.packed.count()
        # A superstep reads the pack through few enough tasks that it
        # collects ≤ _DRIVER_COMBINE_ENTRIES entries (one partial per task).
        # coalesce() is a narrow merge of the persisted blob rows, so the
        # pack stays wide and cached while the loop reads it narrow.
        merge_parts = max(1, min(self.parts, _DRIVER_COMBINE_ENTRIES // self.n))
        self.loop_packed = (
            self.packed.coalesce(merge_parts) if merge_parts < self.parts else self.packed
        )

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


def _gather(pg: PackedGraph, state, message: Callable[[object, pa.RecordBatch], tuple],
            add: bool) -> np.ndarray:
    """One superstep over the pack: broadcast ``state``, let
    ``message(state, pack_row)`` turn every pack row into ``(dst_idx, value)``
    messages, combine them per task into one partial and merge the partials
    on the driver into the dense gathered vector — the sum (``add``) or the
    minimum of the messages each vertex received; 0 / +inf where none
    arrived."""
    n = pg.n
    identity = 0.0 if add else np.inf
    bc = pg.graph.spark.sparkContext.broadcast(state)

    def combine(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # accumulate across every pack row in the task's partition and emit
        # ONE partial — a coalesced task's Arrow batch holds several pack
        # rows, and a message reads one
        st = bc.value
        acc = None
        for b in batches:
            for i in range(b.num_rows):
                dst_idx, vals = message(st, b.slice(i, 1))
                if add:
                    sums = np.bincount(dst_idx, weights=vals, minlength=n)
                    acc = sums if acc is None else acc + sums
                else:
                    if acc is None:
                        acc = np.full(n, identity)
                    np.minimum.at(acc, dst_idx, vals)
        if acc is not None:
            touched = np.nonzero(acc != identity)[0]
            yield _blob_batch(touched, acc[touched])

    gathered = np.full(n, identity)
    try:
        # toPandas is the Arrow transfer; collect() would pickle the blobs
        pdf = pg.loop_packed.mapInArrow(combine, "idx_b binary, val_b binary").toPandas()
        op = np.add if add else np.minimum
        for idx_b, val_b in zip(pdf["idx_b"], pdf["val_b"]):
            op.at(gathered, np.frombuffer(idx_b, dtype=np.int64),
                  np.frombuffer(val_b, dtype=np.float64))
    finally:
        bc.destroy()
    return gathered


def _state_frame(pg: PackedGraph, col: str, values: np.ndarray):
    """(id, col) result frame of a dense vector."""
    return pg.graph.spark.createDataFrame(
        pd.DataFrame({"id": pg.ids, col: values}), f"id long, {col} double"
    )


def _contributions(contrib: np.ndarray, b: pa.RecordBatch):
    return _column(b, "dst_idx", np.int64), contrib[_column(b, "src_idx", np.int64)]


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
    ids, n = pg.ids, pg.n

    # degree on the symmetrized multigraph, as a dense vector (Arrow path)
    deg_pdf = graph.degrees.toPandas()
    deg = np.zeros(n)
    deg[np.searchsorted(ids, deg_pdf["id"].to_numpy(dtype=np.int64))] = deg_pdf["deg"]

    teleport = (1.0 - damping) / n
    x = np.zeros(n) if mode == "reference" else np.full(n, 1.0 / n)
    limit = iterations if mode == "reference" else max_iter
    metrics: list[SuperstepMetrics] = []
    step, converged = 0, mode == "reference"
    while step < limit:
        t0 = time.monotonic()
        # contribution per source, precomputed
        new_x = teleport + damping * _gather(pg, x / deg, _contributions, add=True)
        delta = float(np.max(np.abs(new_x - x)))
        x = new_x
        step += 1
        metrics.append(
            SuperstepMetrics(
                superstep=step,
                seconds=round(time.monotonic() - t0, 6),
                delta=delta if mode == "convergence" else None,
            )
        )
        if mode == "convergence" and delta < tol:
            converged = True
            break

    return PregelResult(state=_state_frame(pg, "value", x), supersteps=step,
                        converged=converged, metrics=metrics)


def _frontier_min(pg: PackedGraph, init: np.ndarray, weighted: bool,
                  max_iter: int, out_col: str) -> PregelResult:
    """Shared frontier min-combiner kernel (SSSP: msg = val+w; CC: msg = val).
    Per superstep only frontier sources send; the next frontier is the set
    of vertices whose value fell."""

    def message(st, b: pa.RecordBatch):
        v, frontier = st
        src_idx = _column(b, "src_idx", np.int64)
        active = frontier[src_idx]
        msg = v[src_idx[active]]
        if weighted:
            msg = msg + _column(b, "w", np.float64)[active]
        return _column(b, "dst_idx", np.int64)[active], msg

    val = init
    frontier = np.isfinite(val)
    metrics: list[SuperstepMetrics] = []
    step = 0
    while step < max_iter and frontier.any():
        t0 = time.monotonic()
        new_val = np.minimum(val, _gather(pg, (val, frontier), message, add=False))
        frontier = new_val < val
        val = new_val
        step += 1
        metrics.append(
            SuperstepMetrics(
                superstep=step,
                seconds=round(time.monotonic() - t0, 6),
                changed=int(frontier.sum()),
            )
        )

    converged = not frontier.any()  # empty frontier = true fixpoint
    if not converged:
        warn_unconverged(f"csr_frontier_min[{out_col}]", step, max_iter)
    return PregelResult(state=_state_frame(pg, out_col, val), supersteps=step,
                        converged=converged, metrics=metrics)


def sssp_csr(graph: Graph, source: int, max_iter: int = MAX_FIXPOINT_ITERS) -> PregelResult:
    """SSSP on the CSR pack — same semantics as ``algorithms.sssp``
    (intended Pregel min-plus; +inf for unreachable)."""
    pg = packed_graph(graph)
    init = np.full(pg.n, np.inf)
    pos = np.searchsorted(pg.ids, source)
    if pos < pg.n and pg.ids[pos] == source:
        init[pos] = 0.0
    return _frontier_min(pg, init, weighted=True, max_iter=max_iter, out_col="dist")


def cc_csr(graph: Graph, max_iter: int = MAX_FIXPOINT_ITERS) -> PregelResult:
    """Connected components (hash-min) on the CSR pack — label = min id in
    component, returned as double-typed 'component' converted to long. The
    2^53 id check reads the pack's ids, so it runs after packing: a refused
    graph keeps its pack cached until ``Graph.unpersist()``."""
    pg = packed_graph(graph)
    # labels as float64 to share the min kernel; ids are exactly representable
    # up to 2^53 — guard the envelope explicitly
    if pg.ids[-1] >= 2**53 or pg.ids[0] <= -(2**53):
        raise ValueError("vertex ids exceed the float64-exact range (2^53); "
                         "use the relational connected_components")
    res = _frontier_min(pg, pg.ids.astype(np.float64), weighted=False,
                        max_iter=max_iter, out_col="component")
    out = res.state.select("id", F.col("component").cast("long").alias("component"))
    return PregelResult(state=out, supersteps=res.supersteps,
                        converged=res.converged, metrics=res.metrics)
