"""The benchmark workloads.

Each workload generates its inputs once per seed (constructor, untimed),
runs one repetition of its job against freshly built plans (``rep``, timed:
from reading the input table until the last result is collected), and checks
a repetition's outputs against the oracles (``check``, untimed). Every call
into the engine sits inside a span named ``<module>.<what>``; its output is
forced inside that span so the time lands in that layer.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import gen
import oracles
from spans import TimingCheckpointer, Tracer
from sparkgraph.algorithms import connected_components, pagerank, sssp
from sparkgraph.derive import derive_cochange_edges, derive_import_edges
from sparkgraph.graph import Graph
from sparkgraph.ingest import commit_memberships, ingest_sources, verify_sha_invariant
from sparkgraph.kernels.csr import packed_graph, pagerank_csr
from sparkgraph.pregel import partition_lineage


@dataclass
class Rep:
    """One repetition: collected outputs for the checks, per-call results for
    the layer metrics, and the persisted frames to release afterwards."""

    run_id: str
    traced: bool
    job_s: float = 0.0
    out: dict = field(default_factory=dict)
    results: dict = field(default_factory=dict)  # span id -> PregelResult
    stats: dict = field(default_factory=dict)
    graph: Graph | None = None
    held: list = field(default_factory=list)
    ckpt: list = field(default_factory=list)
    after: object = None  # untimed post-processing: collect outputs, extras

    def keep(self, df):
        df = df.persist()
        self.held.append(df)
        return df

    def release(self) -> None:
        for df in self.held:
            df.unpersist()
        for cp in self.ckpt:
            cp.release()
        if self.graph is not None:
            self.graph.unpersist()


def _build_graph(rep: Rep, tr: Tracer, edges) -> Graph:
    with tr.span("graph.build"):
        g = Graph(edges)
        rep.stats["sym_edges"] = g.edges_sym.count()
        rep.stats["vertices"] = g.num_vertices
    with tr.span("graph.degrees"):
        g.degrees.count()
    rep.graph = g
    return g


def _graph_extras(rep: Rep) -> None:
    """Traced-run descriptors of the built graph (extra jobs, untimed)."""
    g = rep.graph
    rows = [p["rows"] for p in partition_lineage(g.edges_sym, ["src", "dst"])]
    rep.stats["partition_skew"] = max(rows) / (sum(rows) / len(rows))
    rep.stats["max_degree"] = g.degrees.agg(F.max("deg")).collect()[0][0]


def _record(rep: Rep, sp: dict, res, start: int = 0) -> None:
    """Keep a superstep loop's result for the layer metrics, and note on its
    span how many supersteps this call ran (a resumed call starts at
    ``start``)."""
    rep.results[sp["id"]] = res
    sp["supersteps"] = res.supersteps - start


def _collect(res, col: str) -> pd.DataFrame:
    return res.state.select("id", col).toPandas()


class Workload:
    name = ""
    params: dict = {}

    def __init__(self, spark, data_dir: str, seed: int):
        self.spark = spark
        self.seed = seed
        tag = hashlib.sha1(json.dumps(self.params, sort_keys=True).encode()).hexdigest()[:8]
        self.dir = os.path.join(data_dir, "inputs", f"{self.name}-seed{seed}-{tag}")
        self._oracle = None

    def oracle(self, rep: Rep) -> dict:
        if self._oracle is None:
            self._oracle = self.compute_oracle(rep)
        return self._oracle


class Codegraph(Workload):
    name = "codegraph"
    params = {
        "n_files": 800, "n_repos": 20, "cap": 40,
        "pagerank_iterations": 5, "checkpoint_every": 2, "stop_after": 2,
    }

    def __init__(self, spark, data_dir, seed):
        super().__init__(spark, data_dir, seed)
        p = self.params
        self.truth = gen.sources(seed, p["n_files"], p["n_repos"], p["cap"])
        self.path = os.path.join(self.dir, "sources")
        self.ckpt_root = os.path.join(data_dir, "checkpoints")
        gen.write_parquet(self.truth.pop("table"), self.path)

    def rep(self, rep: Rep, tr: Tracer) -> None:
        spark, p = self.spark, self.params
        with tr.span("ingest.sources"):
            src = spark.read.parquet(self.path)
            vertices = rep.keep(ingest_sources(src))
            rep.stats["items"] = vertices.count()
        with tr.span("ingest.sha_verify"):
            rep.out["sha_mismatches"] = verify_sha_invariant(src, vertices)
        with tr.span("ingest.memberships"):
            members = rep.keep(commit_memberships(src))
            members.count()
        with tr.span("derive.import"):
            imports = rep.keep(derive_import_edges(vertices))
            rep.stats["import_edges"] = imports.count()
        with tr.span("derive.cochange"):
            cochange = rep.keep(derive_cochange_edges(members, p["cap"]))
            cochange.count()
        g = _build_graph(rep, tr, imports.unionByName(cochange).select("src", "dst", "weight"))
        with tr.span("algorithms.pagerank") as sp:
            res = pagerank(g, mode="reference", iterations=p["pagerank_iterations"])
            rep.out["pagerank"] = _collect(res, "value")
        _record(rep, sp, res)
        # connected components with durable checkpoints, stopped early and
        # resumed to convergence from the last checkpoint
        ckdir = os.path.join(self.ckpt_root, rep.run_id)
        cp = TimingCheckpointer(ckdir, p["checkpoint_every"], tr)
        rep.ckpt.append(cp)
        with tr.span("algorithms.cc", phase="interrupted") as sp:
            sp["supersteps"] = connected_components(
                g, max_iter=p["stop_after"], checkpointer=cp
            ).supersteps
        with tr.span("algorithms.cc", phase="resume") as sp:
            res = connected_components(g, checkpointer=cp, resume=True)
            rep.out["cc"] = _collect(res, "component")
        _record(rep, sp, res, start=cp.restored_from or 0)
        rep.out["cc_run"] = (cp.restored_from, res.converged)
        rep.stats["checkpoint_bytes"] = cp.bytes
        # untimed from here: the outputs the checks need
        rep.after = lambda: self._after(rep, vertices, imports, cochange, ckdir)

    def _after(self, rep, vertices, imports, cochange, ckdir) -> None:
        shutil.rmtree(ckdir, ignore_errors=True)
        rep.out["vertices"] = vertices.select("id", "repo", "path").toPandas()
        rep.out["imports"] = imports.select("src", "dst").toPandas()
        rep.out["cochange"] = cochange.select("src", "dst").toPandas()
        if rep.traced:
            _graph_extras(rep)
            # the denominators are the generator's counts: every reference it
            # wrote is extractable, and it knows which commits exceed the cap
            t = self.truth
            rep.stats["import_resolved_frac"] = rep.stats["import_edges"] / t["n_refs"]
            rep.stats["commits_capped_frac"] = t["n_capped"] / t["n_commits"]

    def compute_oracle(self, rep: Rep) -> dict:
        """Maps the generator's file indices to the engine's vertex ids
        (xxhash64 of repo and path) through the ingested vertex table."""
        v = rep.out["vertices"]
        by_key = dict(zip(zip(v["repo"], v["path"]), v["id"]))
        found = [k in by_key for k in self.truth["files"]]
        ids = np.array([by_key.get(k, 0) for k in self.truth["files"]], dtype=np.int64)
        imp = np.array(self.truth["imports"], dtype=np.int64).reshape(-1, 2)
        co = np.array(self.truth["cochange"], dtype=np.int64).reshape(-1, 2)
        imp_ids, co_ids = ids[imp], np.sort(ids[co], axis=1)
        src = np.concatenate([imp_ids[:, 0], co_ids[:, 0]])
        dst = np.concatenate([imp_ids[:, 1], co_ids[:, 1]])
        g = oracles.SymGraph(src, dst)
        return {
            "files_found": all(found) and len(v) == len(found),
            "imports": {tuple(e) for e in imp_ids.tolist()},
            "cochange": {tuple(e) for e in co_ids.tolist()},
            "g": g,
            "pagerank": oracles.pagerank(g, self.params["pagerank_iterations"]),
            "cc": oracles.components(g),
        }

    def check(self, rep: Rep) -> list[str]:
        o, out = self.oracle(rep), rep.out
        g = o["g"]
        imports = set(zip(out["imports"]["src"], out["imports"]["dst"]))
        cochange = set(zip(out["cochange"]["src"], out["cochange"]["dst"]))
        return _failures({
            "ingest.sha_mismatches": lambda: out["sha_mismatches"] == 0,
            "ingest.vertices": lambda: o["files_found"],
            "derive.import": lambda: imports == o["imports"],
            "derive.cochange": lambda: cochange == o["cochange"],
            "algorithms.pagerank": lambda: oracles.close(
                oracles.aligned(g, out["pagerank"], "value"), o["pagerank"]
            ),
            # resumed state equal to an uninterrupted run's
            "algorithms.cc": lambda: np.array_equal(
                oracles.aligned(g, out["cc"], "component"), o["cc"]
            ) and out["cc_run"] == (self.params["stop_after"], True),
        })


class Powerlaw(Workload):
    """Hub-skewed graph: relational and CSR PageRank, SSSP from the top hub.
    No checkpoints."""

    name = "powerlaw"
    params = {
        "input_edges": 100_000, "vertices": 10_000, "alpha": 0.6, "pagerank_iterations": 5,
    }

    def __init__(self, spark, data_dir, seed):
        super().__init__(spark, data_dir, seed)
        p = self.params
        table = gen.powerlaw(seed, p["input_edges"], p["vertices"], p["alpha"])
        self.src = table.column("src").to_numpy()
        self.dst = table.column("dst").to_numpy()
        deg = pd.Series(np.concatenate([self.src, self.dst])).value_counts()
        self.hub = int(deg.index[0])
        self.path = os.path.join(self.dir, "edges")
        gen.write_parquet(table, self.path)

    def rep(self, rep: Rep, tr: Tracer) -> None:
        iters = self.params["pagerank_iterations"]
        rep.stats["items"] = len(self.src)
        g = _build_graph(rep, tr, self.spark.read.parquet(self.path))
        with tr.span("algorithms.pagerank") as sp:
            res = pagerank(g, mode="reference", iterations=iters)
            rep.out["pagerank"] = _collect(res, "value")
        _record(rep, sp, res)
        with tr.span("kernels.csr.pack"):
            packed_graph(g)
        with tr.span("kernels.csr.pagerank"):
            res = pagerank_csr(g, mode="reference", iterations=iters)
            rep.out["pagerank_csr"] = _collect(res, "value")
        with tr.span("algorithms.sssp") as sp:
            res = sssp(g, self.hub)
            rep.out["sssp"] = _collect(res, "dist")
        _record(rep, sp, res)
        if rep.traced:
            rep.after = lambda: _graph_extras(rep)

    def compute_oracle(self, rep: Rep) -> dict:
        g = oracles.SymGraph(self.src, self.dst)
        return {
            "g": g,
            "pagerank": oracles.pagerank(g, self.params["pagerank_iterations"]),
            "sssp": oracles.bfs(g, self.hub),
        }

    def check(self, rep: Rep) -> list[str]:
        o, out = self.oracle(rep), rep.out
        g = o["g"]
        return _failures({
            "algorithms.pagerank": lambda: oracles.close(
                oracles.aligned(g, out["pagerank"], "value"), o["pagerank"]
            ),
            "kernels.csr.pagerank": lambda: oracles.close(
                oracles.aligned(g, out["pagerank_csr"], "value"),
                oracles.aligned(g, out["pagerank"], "value"),
            ),
            "algorithms.sssp": lambda: np.array_equal(
                oracles.aligned(g, out["sssp"], "dist"), o["sssp"]
            ),
        })


def _failures(checks: dict) -> list[str]:
    """Names of the checks that fail; a check that raises (a result that
    does not cover the vertex set, say) fails too."""
    bad = []
    for name, check in checks.items():
        try:
            ok = check()
        except Exception as e:  # noqa: BLE001
            print(f"perfbench: check {name} raised {e!r}", file=sys.stderr)
            ok = False
        if not ok:
            bad.append(name)
    return bad


WORKLOADS = {w.name: w for w in (Codegraph, Powerlaw)}
