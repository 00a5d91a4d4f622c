"""Time the three CSR kernels on one seeded power-law graph of a few million
vertices; each kernel call reads the whole pack through one task.

``--repo`` imports ``sparkgraph`` from another checkout (e.g. a ``git
archive`` of an earlier commit), so two versions run the same script on the
same input; the printed digests are SHA-256 of each kernel's id-sorted output
and must agree between checkouts that compute the same thing.

Usage: SPARK_GRAFT_DRIVER_MEM=6g python scripts/csr_scale_bench.py
           [--edges 6000000] [--verts 3500000] [--iters 5] [--repo PATH]
Prints one JSON line. The defaults give 2.88 M vertices and 12 M symmetrized
edges in 24 pack partitions; one run takes 2-4 minutes on 4 cores.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time

import numpy as np


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--edges", type=int, default=6_000_000)
    ap.add_argument("--verts", type=int, default=3_500_000)
    ap.add_argument("--iters", type=int, default=5)
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--repo", default=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    args = ap.parse_args()
    # Spark's Python workers import sparkgraph from their working directory
    sys.path.insert(0, args.repo)
    os.chdir(args.repo)
    from sparkgraph.graph import Graph
    from sparkgraph.io.synth import powerlaw_edges
    from sparkgraph.kernels.csr import cc_csr, packed_graph, pagerank_csr, sssp_csr
    from sparkgraph.session import get_spark

    spark = get_spark("csr-scale", master=f"local[{args.cores}]", shuffle_partitions=2 * args.cores)
    g = Graph(powerlaw_edges(spark, args.edges, args.verts), num_partitions=32)
    g.edges_sym.count()
    t0 = time.monotonic()
    pg = packed_graph(g)
    out = {"vertices": pg.n, "pack_parts": pg.parts, "pack_s": round(time.monotonic() - t0, 2)}
    for name, col, fn in [
        ("pagerank", "value", lambda: pagerank_csr(g, mode="reference", iterations=args.iters)),
        ("sssp", "dist", lambda: sssp_csr(g, source=0)),  # vertex 0 is the hub
        ("cc", "component", lambda: cc_csr(g)),
    ]:
        t0 = time.monotonic()
        res = fn()
        seconds = time.monotonic() - t0
        pdf = res.state.toPandas().sort_values("id")
        steps = sorted(m.seconds for m in res.metrics)
        out[name] = {
            "seconds": round(seconds, 2),
            "supersteps": res.supersteps,
            "converged": res.converged,
            "median_step_s": round(steps[len(steps) // 2], 3),
            "digest": hashlib.sha256(pdf[col].to_numpy(dtype=np.float64).tobytes()).hexdigest()[:16],
        }
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
