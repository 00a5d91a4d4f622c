"""Command-line entry point — the reference client's job surface
(client/client.go:38-49: ``<Application> <DatasetFilename> [source]``) plus
the new engine's extras, shippable via spark-submit:

    spark-submit --py-files sparkgraph.zip -m sparkgraph.cli ...   # cluster
    python -m sparkgraph.cli pagerank --input edges.txt            # local

Subcommands: pagerank | sssp | cc | scc | lpa | triangles | hits | kcore |
closeness | katz | walks (first-order or node2vec --p/--q) | stats | ingest |
coupling (Martin ca/ce/instability) | rules (co-change support/confidence).
Input: an edge-list text file (reference format), a parquet edge table
(src,dst[,weight]), or — for ``ingest``/``coupling``/``rules`` — a sources table
(repo,path,commit,lang,content) from which the code graph is derived.

Build the --py-files archive with ``scripts/package.sh`` (zips the package).
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import functions as F


def _load_graph(spark, args):
    from sparkgraph.graph import Graph
    from sparkgraph.io.edgelist import read_edgelist

    if args.input.endswith(".parquet") or args.format == "parquet":
        edges = spark.read.parquet(args.input)
    else:
        edges = read_edgelist(spark, args.input)
    return Graph(edges, num_partitions=args.partitions)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="sparkgraph")
    sub = p.add_subparsers(dest="cmd", required=True)

    def common(sp, source=False):
        sp.add_argument("--master", default=None, help="spark master (default local[N])")
        sp.add_argument("--partitions", type=int, default=None)
        sp.add_argument("--input", required=True)
        sp.add_argument("--format", choices=["text", "parquet"], default="text")
        sp.add_argument("--output", default=None, help="parquet output path")
        sp.add_argument("--top", type=int, default=25)
        sp.add_argument("--checkpoint-dir", default=None)
        sp.add_argument("--resume", action="store_true")
        if source:
            sp.add_argument("--source", type=int, required=True)

    sp = sub.add_parser("pagerank")
    common(sp)
    sp.add_argument("--mode", choices=["reference", "convergence"], default="reference")
    sp.add_argument("--iterations", type=int, default=30)
    sp.add_argument("--tol", type=float, default=1e-6)
    sp.add_argument("--kernel", choices=["relational", "csr"], default="relational")
    common(sub.add_parser("sssp"), source=True)
    common(sub.add_parser("cc"))
    common(sub.add_parser("scc"))
    lp = sub.add_parser("lpa")
    common(lp)
    lp.add_argument("--max-iter", type=int, default=10)
    common(sub.add_parser("triangles"))
    h = sub.add_parser("hits")
    common(h)
    h.add_argument("--iterations", type=int, default=10)
    kc = sub.add_parser("kcore")
    common(kc)
    kc.add_argument("--k", type=int, required=True)
    st = sub.add_parser("stats")
    common(st)
    cl = sub.add_parser("closeness")
    common(cl)
    cl.add_argument("--pivots", type=int, default=8, help="BFS pivot sample size")
    wk = sub.add_parser("walks")
    common(wk)
    wk.add_argument("--walk-len", type=int, default=10)
    wk.add_argument("--mixer", choices=["xxhash", "affine"], default="xxhash")
    wk.add_argument("--p", type=float, default=None,
                    help="node2vec return parameter (with --q: second-order walks)")
    wk.add_argument("--q", type=float, default=None,
                    help="node2vec in-out parameter")
    kz = sub.add_parser("katz")
    common(kz)
    kz.add_argument("--alpha", type=float, default=0.005)
    kz.add_argument("--iterations", type=int, default=10)
    lv = sub.add_parser("louvain")
    common(lv)
    lv.add_argument("--rounds", type=int, default=8, help="move rounds per level")
    lv.add_argument("--levels", type=int, default=3, help="max coarsening levels")
    lm = sub.add_parser("landmarks")
    common(lm)
    lm.add_argument("--k", type=int, default=8, help="number of landmarks")
    co = sub.add_parser("coloring")
    common(co)
    co.add_argument("--mixer", choices=["xxhash", "affine"], default="xxhash")
    ms = sub.add_parser("mst")
    common(ms)
    ms.add_argument("--weight-col", default="weight",
                    help="edge weight column (parquet input); text inputs use 1.0")
    th = sub.add_parser("twohop")
    common(th)
    th.add_argument("--max-degree", type=int, default=None,
                    help="cap middle-vertex degree (bounds the Σdeg² join)")
    mo = sub.add_parser("motif")
    common(mo)
    mo.add_argument("--pattern", required=True,
                    help="e.g. '(a)-[]->(b); (b)-[]->(c); !(a)-[]->(c)'")
    tp = sub.add_parser("topo")
    common(tp)
    tr = sub.add_parser("truss")
    common(tr)
    tr.add_argument("--k", type=int, required=True)
    ing = sub.add_parser("ingest")
    ing.add_argument("--master", default=None)
    ing.add_argument("--input", required=True, help="sources table (parquet)")
    ing.add_argument("--output", required=True, help="output dir for vertices/edges")
    ing.add_argument("--max-commit-files", type=int, default=100)
    cp = sub.add_parser("coupling")
    cp.add_argument("--master", default=None)
    cp.add_argument("--input", required=True, help="sources table (parquet)")
    cp.add_argument("--top", type=int, default=25)
    ru = sub.add_parser("rules")
    ru.add_argument("--master", default=None)
    ru.add_argument("--input", required=True, help="sources table (parquet)")
    ru.add_argument("--top", type=int, default=25)
    ru.add_argument("--min-support", type=int, default=2)
    ru.add_argument("--max-commit-files", type=int, default=100)

    args = p.parse_args(argv)

    from sparkgraph.session import get_spark
    from sparkgraph.pregel import Checkpointer

    spark = get_spark("sparkgraph-cli", master=args.master)
    try:
        if args.cmd == "ingest":
            from sparkgraph.derive import derive_code_edges
            from sparkgraph.ingest import (
                check_id_collisions,
                commit_memberships,
                ingest_sources,
                verify_sha_invariant,
            )

            src = spark.read.parquet(args.input)
            verts = ingest_sources(src)
            bad_sha = verify_sha_invariant(src, verts)
            collisions = check_id_collisions(verts)
            if bad_sha or collisions:
                print(json.dumps({"error": "ingest invariant violated",
                                  "sha_mismatches": bad_sha, "id_collisions": collisions}))
                return 2
            edges = derive_code_edges(verts, commit_memberships(src), args.max_commit_files)
            verts.drop("content").write.mode("overwrite").parquet(f"{args.output}/vertices")
            edges.write.mode("overwrite").parquet(f"{args.output}/edges")
            print(json.dumps({"vertices": verts.count(), "edges": edges.count(),
                              "sha_mismatches": 0, "id_collisions": 0}))
            return 0

        if args.cmd in ("coupling", "rules"):
            from sparkgraph.derive import (
                cochange_rules,
                coupling_metrics,
                derive_import_edges,
            )
            from sparkgraph.ingest import commit_memberships, ingest_sources

            src = spark.read.parquet(args.input)
            verts = ingest_sources(src)
            if args.cmd == "coupling":
                rows = (
                    coupling_metrics(derive_import_edges(verts), verts)
                    .orderBy(F.desc("ca"), "repo", "path")
                    .limit(args.top)
                    .collect()
                )
                print(json.dumps([{"repo": r.repo, "path": r.path, "ca": r.ca,
                                   "ce": r.ce, "instability": r.instability}
                                  for r in rows]))
            else:
                named = (
                    cochange_rules(commit_memberships(src),
                                   args.max_commit_files, args.min_support)
                    .join(verts.select(F.col("id").alias("src"), "repo",
                                       F.col("path").alias("path_a")), "src")
                    .join(verts.select(F.col("id").alias("dst"),
                                       F.col("path").alias("path_b")), "dst")
                    .orderBy(F.desc("confidence"), F.desc("support"),
                             "path_a", "path_b")
                    .limit(args.top)
                    .collect()
                )
                print(json.dumps([{"repo": r.repo, "path_a": r.path_a,
                                   "path_b": r.path_b, "support": r.support,
                                   "confidence": r.confidence}
                                  for r in named]))
            return 0

        g = _load_graph(spark, args)
        ck = Checkpointer(args.checkpoint_dir) if args.checkpoint_dir else None

        if args.cmd == "pagerank":
            if args.kernel == "csr":
                from sparkgraph.kernels import pagerank_csr
                res = pagerank_csr(g, mode=args.mode, iterations=args.iterations, tol=args.tol)
            else:
                from sparkgraph.algorithms import pagerank
                res = pagerank(g, mode=args.mode, iterations=args.iterations,
                               tol=args.tol, checkpointer=ck, resume=args.resume)
            out = res.state
        elif args.cmd == "sssp":
            from sparkgraph.algorithms import sssp
            res = sssp(g, source=args.source, checkpointer=ck, resume=args.resume)
            # unreachable vertices keep dist=+inf: JSON-unserializable and
            # useless in a report — drop them, and report NEAREST first
            out = res.state.filter(F.col("dist") != float("inf")).withColumnRenamed(
                "dist", "value"
            )
        elif args.cmd == "cc":
            from sparkgraph.algorithms import connected_components
            res = connected_components(g, checkpointer=ck, resume=args.resume)
            out = res.state.withColumnRenamed("component", "value")
        elif args.cmd == "scc":
            from sparkgraph.algorithms.scc import strongly_connected_components
            res = strongly_connected_components(g.edges.select("src", "dst"))
            out = res.state.withColumnRenamed("scc", "value")
        elif args.cmd == "lpa":
            from sparkgraph.algorithms import label_propagation
            res = label_propagation(g, max_iter=args.max_iter, checkpointer=ck,
                                    resume=args.resume)
            out = res.state.withColumnRenamed("label", "value")
        elif args.cmd == "triangles":
            from sparkgraph.algorithms import triangle_count
            print(json.dumps({"triangles": triangle_count(g)}))
            return 0
        elif args.cmd == "hits":
            from sparkgraph.algorithms.hits import hits
            res = hits(g.edges, iterations=args.iterations)
            out = res.state.withColumnRenamed("auth", "value")
        elif args.cmd == "kcore":
            from sparkgraph.algorithms.kcore import k_core
            res = k_core(g, args.k)
            out = res.state.select("id", F.lit(1.0).alias("value"))
        elif args.cmd == "stats":
            from sparkgraph.algorithms import connected_components

            max_deg = g.degrees.agg(F.max("deg")).collect()[0][0]
            n_comp = (
                connected_components(g).state.select("component").distinct().count()
            )
            nv = g.num_vertices
            print(json.dumps({
                "n_vertices": nv,
                "n_input_edges": g.edges.count(),
                "n_sym_edges": g.num_sym_edges,
                "max_degree": max_deg,
                "avg_degree": round(g.num_sym_edges / nv, 3) if nv else None,
                "n_components": n_comp,
            }))
            return 0
        elif args.cmd == "katz":
            from sparkgraph.algorithms import katz_centrality
            res = katz_centrality(g, alpha=args.alpha, iterations=args.iterations)
            out = res.state
        elif args.cmd == "closeness":
            from sparkgraph.algorithms import harmonic_closeness_sampled
            res = harmonic_closeness_sampled(g, k=args.pivots)
            out = res.state.withColumnRenamed("closeness", "value")
        elif args.cmd == "walks":
            from sparkgraph.algorithms import random_walks
            from sparkgraph.algorithms.walks import node2vec_walks
            if (args.p is None) != (args.q is None):
                print("--p and --q must be given together", file=sys.stderr)
                return 2
            if args.p is not None:
                trace = node2vec_walks(
                    g, args.walk_len, p=args.p, q=args.q, mixer=args.mixer
                )
            else:
                trace = random_walks(g, args.walk_len, mixer=args.mixer)
            if args.output:
                trace.write.mode("overwrite").parquet(args.output)
            n = trace.count()
            print(json.dumps({"walks": n // (args.walk_len + 1), "trace_rows": n}))
            return 0
        elif args.cmd == "louvain":
            from sparkgraph.algorithms.louvain import louvain
            from sparkgraph.algorithms.structure import modularity

            res = louvain(g, rounds_per_level=args.rounds, max_levels=args.levels)
            if args.output:
                res.state.write.mode("overwrite").parquet(args.output)
            q = modularity(g, res.state).collect()[0][0]
            n_comm = res.state.select("label").distinct().count()
            print(json.dumps({
                "supersteps": res.supersteps,
                "converged": res.converged,
                "n_communities": n_comm,
                "modularity": round(float(q), 6),
            }))
            return 0
        elif args.cmd == "mst":
            from sparkgraph.algorithms.mst import minimum_spanning_forest

            e = g.edges
            if args.weight_col not in e.columns:
                e = e.withColumn(args.weight_col, F.lit(1.0))
            res = minimum_spanning_forest(e, weight_col=args.weight_col)
            if args.output:
                res.state.write.mode("overwrite").parquet(args.output)
            agg = res.state.agg(
                F.count(F.lit(1)).alias("n"), F.sum("weight").alias("w")
            ).collect()[0]
            print(json.dumps({
                "supersteps": res.supersteps,
                "converged": res.converged,
                "msf_edges": agg["n"],
                "msf_weight": float(agg["w"] or 0.0),
            }))
            return 0
        elif args.cmd == "twohop":
            from sparkgraph.algorithms.structure import two_hop_sizes

            out = two_hop_sizes(g, max_degree=args.max_degree)
            if args.output:
                out.write.mode("overwrite").parquet(args.output)
            rows = out.orderBy(F.desc("n_2hop"), F.asc("id")).limit(args.top).collect()
            print(json.dumps({
                "top": [
                    {"id": r.id, "n_1hop": r.n_1hop, "n_2hop": r.n_2hop}
                    for r in rows
                ],
            }))
            return 0
        elif args.cmd == "motif":
            from sparkgraph.algorithms.motifs import find

            out = find(g.edges, args.pattern)
            if args.output:
                out.write.mode("overwrite").parquet(args.output)
            n = out.count()
            sample = [r.asDict(recursive=True) for r in out.limit(args.top).collect()]
            print(json.dumps({"pattern": args.pattern, "matches": n, "sample": sample}))
            return 0
        elif args.cmd == "topo":
            from sparkgraph.algorithms.dag import topological_order

            out = topological_order(g.edges.select("src", "dst"))
            if args.output:
                out.write.mode("overwrite").parquet(args.output)
            depth = out.agg(F.max("layer")).collect()[0][0]
            rows = out.orderBy("pos").limit(args.top).collect()
            print(json.dumps({
                "depth": depth,
                "order": [
                    {"id": r.id, "layer": r.layer, "pos": r.pos} for r in rows
                ],
            }))
            return 0
        elif args.cmd == "truss":
            from sparkgraph.algorithms.truss import k_truss

            res = k_truss(g, args.k)
            if args.output:
                res.state.write.mode("overwrite").parquet(args.output)
            print(json.dumps({
                "k": args.k,
                "edges_kept": res.state.count(),
                "supersteps": res.supersteps,
                "converged": res.converged,
            }))
            return 0
        elif args.cmd == "coloring":
            from sparkgraph.algorithms.coloring import greedy_coloring

            res = greedy_coloring(g, mixer=args.mixer)
            if args.output:
                res.state.write.mode("overwrite").parquet(args.output)
            n_colors = res.state.select("color").distinct().count()
            print(json.dumps({
                "supersteps": res.supersteps,
                "converged": res.converged,
                "n_colors": n_colors,
            }))
            return 0
        elif args.cmd == "landmarks":
            from sparkgraph.algorithms import landmark_distances

            res = landmark_distances(g, k=args.k)
            if args.output:
                res.state.write.mode("overwrite").parquet(args.output)
            print(json.dumps({
                "supersteps": res.supersteps,
                "landmarks": args.k,
                "label_rows": res.state.count(),
            }))
            return 0
        else:  # pragma: no cover
            raise AssertionError(args.cmd)

        if args.output:
            out.write.mode("overwrite").parquet(args.output)
        # reference result report: top-k by value descending (A12);
        # sssp reports nearest-first (ascending distance)
        order = F.asc("value") if args.cmd == "sssp" else F.desc("value")
        rows = out.orderBy(order, F.asc("id")).limit(args.top).collect()
        print(json.dumps({
            "supersteps": res.supersteps,
            "converged": res.converged,
            "top": [{"id": r.id, "value": r.value} for r in rows],
        }))
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
