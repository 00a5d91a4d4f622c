"""Phase-isolation benchmark (guide §1.4): times each headliner's internal
phases separately (setup vs iteration loop vs verify), using the noop sink
where a DataFrame is the product, so optimization work targets the real
bottleneck. NOT the frozen driver bench — see bench.py for the official
numbers; this file only feeds OPTIMIZATION_r06.md.

Usage: python bench_extra.py [phase ...]   (default: all)
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS as in bench.py.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from sparkgraph.session import get_spark
from sparkgraph.graph import Graph
from sparkgraph.algorithms import pagerank, sssp, connected_components, random_walks
from sparkgraph.algorithms.triangles import triangle_count
from sparkgraph.io.synth import powerlaw_edges
from sparkgraph.text import minhash_lsh_neardup_pairs, simhash, simhash_pairs
import __spark_entry__ as entrymod

POWERLAW_EDGES = int(os.environ.get("BENCH_POWERLAW_EDGES", 2_000_000))
POWERLAW_VERTS = int(os.environ.get("BENCH_POWERLAW_VERTS", 200_000))

T: dict[str, float] = {}


def timed(name: str, fn):
    t0 = time.monotonic()
    out = fn()
    T[name] = round(time.monotonic() - t0, 3)
    print(f"  {name}: {T[name]}s", flush=True)
    return out


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("sparkgraph-bench-extra")
    want = set(sys.argv[1:])

    def on(phase: str) -> bool:
        return not want or phase in want

    if on("pagerank"):
        spark.sparkContext.setJobDescription("pagerank: phases")
        g = Graph(entrymod.bipartite_edges(spark, sf_dir))
        timed("bip_graph_setup", lambda: g.edges_sym.count())
        timed("bip_degrees", lambda: g.degrees.count())
        pagerank(g, mode="reference", iterations=2).state.count()  # warm
        r = timed("pagerank10_bip", lambda: pagerank(g, mode="reference", iterations=10))
        timed("pagerank10_bip_action", lambda: r.state.count())
        print("  superstep secs:", [m.seconds for m in r.metrics], flush=True)
        g.unpersist()

    if on("powerlaw"):
        spark.sparkContext.setJobDescription("powerlaw: phases")
        g = Graph(powerlaw_edges(spark, POWERLAW_EDGES, POWERLAW_VERTS))
        timed("pl_graph_setup", lambda: g.edges_sym.count())
        pagerank(g, mode="reference", iterations=2).state.count()  # warm
        r = timed("pagerank10_pl", lambda: pagerank(g, mode="reference", iterations=10))
        print("  superstep secs:", [m.seconds for m in r.metrics], flush=True)
        g.unpersist()

    if on("csr"):
        from sparkgraph.kernels import pagerank_csr
        from sparkgraph.kernels.csr import packed_graph

        spark.sparkContext.setJobDescription("csr: phases")
        g = Graph(powerlaw_edges(spark, POWERLAW_EDGES, POWERLAW_VERTS))
        g.edges_sym.count()
        # the session-cached pack, so the timed PageRank below does not repack
        pg = timed("csr_pack", lambda: packed_graph(g))
        print(f"  csr parts={pg.parts} n={pg.n}", flush=True)
        r = timed("pagerank10_csr", lambda: pagerank_csr(g, mode="reference", iterations=10))
        timed("pagerank10_csr_action", lambda: r.state.count())
        print("  csr superstep secs:", [m.seconds for m in r.metrics], flush=True)
        g.unpersist()

    if on("walks"):
        spark.sparkContext.setJobDescription("walks: phases")
        g = Graph(powerlaw_edges(spark, POWERLAW_EDGES, POWERLAW_VERTS))
        g.edges_sym.count()
        w = timed("walks10_build_plan", lambda: random_walks(g, 10))
        timed("walks10_action", lambda: w.count())
        g.unpersist()

    if on("sssp_cc"):
        spark.sparkContext.setJobDescription("sssp/cc: phases")
        g = Graph(entrymod.bipartite_edges(spark, sf_dir))
        g.edges_sym.count()
        sssp(g, source=1).state.count()  # warm
        r = timed("sssp_bip", lambda: sssp(g, source=1))
        timed("sssp_bip_action", lambda: r.state.count())
        print("  sssp supersteps:", len(r.metrics), [m.seconds for m in r.metrics], flush=True)
        r = timed("cc_bip", lambda: connected_components(g))
        timed("cc_bip_action", lambda: r.state.count())
        print("  cc supersteps:", len(r.metrics), [m.seconds for m in r.metrics], flush=True)
        g.unpersist()

    if on("triangles"):
        spark.sparkContext.setJobDescription("triangles: phases")
        g = Graph(entrymod.supplier_edges(spark, sf_dir))
        timed("tri_simple_count", lambda: g.simple_undirected().count())
        timed("triangles_auto", lambda: triangle_count(g))
        timed("triangles_auto_2nd", lambda: triangle_count(g))

    if on("minhash"):
        from sparkgraph.text import shingles, minhash_lsh_candidates

        spark.sparkContext.setJobDescription("minhash: phases")
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        timed("mh_shingles", lambda: noop(shingles(docs, "doc_id", "text", 3)))
        timed("mh_candidates", lambda: minhash_lsh_candidates(docs, "doc_id", "text", 3).count())
        timed("mh_full", lambda: minhash_lsh_neardup_pairs(docs, threshold=0.5).count())

    if on("simhash"):
        spark.sparkContext.setJobDescription("simhash: phases")
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        timed("sh_sig", lambda: noop(simhash(docs)))
        timed("sh_full", lambda: simhash_pairs(simhash(docs)).count())

    if on("embed"):
        from sparkgraph.similarity import (
            embedding_near_dup_pairs_lsh,
            hyperplane_banded_candidates,
            hyperplane_signature,
        )

        spark.sparkContext.setJobDescription("embed: phases")
        emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        dim = emb.select("embedding").first()[0].__len__()
        print(f"  emb rows={emb.count()} dim={dim}", flush=True)
        timed("emb_sig_one_seed", lambda: noop(hyperplane_signature(emb, dim, 16, 7)))
        timed("emb_candidates", lambda: hyperplane_banded_candidates(emb, dim).count())
        timed("emb_full", lambda: embedding_near_dup_pairs_lsh(emb, threshold=0.4).count())

    print(json.dumps({"phases": T}))
    spark.stop()


if __name__ == "__main__":
    main()
