"""Seeded input generators for the benchmark workloads.

Everything here is numpy + pyarrow: the engine only ever sees the parquet
tables these functions write, never the generator. Each generator also
returns the ground truth the oracles need (which imports resolve, which
commits exceed the co-change cap), so the correctness checks do not reuse
the engine's own regexes or joins.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ("py", "c", "java")
EXT = {"py": "py", "c": "c", "java": "java"}
# Unresolvable references (stdlib / third-party modules): extracted by the
# import regexes but never matching a file stem inside the repo.
EXTERNAL = ("os", "sys", "json", "stdio", "string", "util")


def _zipf_weights(n: int, alpha: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** alpha
    return w / w.sum()


def _import_line(lang: str, module: str, repo: str) -> str:
    if lang == "py":
        return f"import {module}"
    if lang == "c":
        return f'#include "{module}.h"'
    return f"import org.{repo}.{module};"


def _filler(lang: str, k: int) -> str:
    if lang == "py":
        return f"def f{k}(x):\n    return x * {k} + len(str(x))\n"
    if lang == "c":
        return f"int f{k}(int x) {{\n    return x * {k} + 1;\n}}\n"
    return f"class C{k} {{\n    int f(int x) {{ return x * {k}; }}\n}}\n"


def sources(seed: int, n_files: int, n_repos: int, cap: int) -> dict:
    """``sources(repo, path, commit, lang, content)``: one row per (file,
    commit) membership. Repo sizes follow a Zipf law; each file imports a
    few modules of its own repo (popular modules more often) plus some
    external ones; commits touch a handful of files, and a few mega-commits
    touch more than ``cap`` files so the co-change cap has work to do."""
    rng = np.random.default_rng(seed)
    sizes = np.maximum(3, rng.multinomial(n_files, _zipf_weights(n_repos, 1.1)))
    rows_repo, rows_path, rows_commit, rows_lang, rows_content = [], [], [], [], []
    files = []  # (repo, path) per global file index
    imports = []  # (src file index, dst file index) that resolve, self excluded
    n_refs = 0
    commits = []  # list of file-index lists
    for r, size in enumerate(sizes):
        repo = f"repo{r:04d}"
        base = len(files)
        langs = rng.choice(len(LANGS), size=size, p=(0.5, 0.25, 0.25))
        popular = _zipf_weights(size, 0.8)
        contents = []
        for j in range(size):
            lang = LANGS[langs[j]]
            files.append((repo, f"{repo}/pkg{j % 7}/m{j}.{EXT[lang]}"))
            k = int(rng.integers(1, 6))
            targets = rng.choice(size, size=k, p=popular)
            n_ext = int(rng.integers(0, 3))
            modules = [f"m{t}" for t in targets] + list(rng.choice(EXTERNAL, size=n_ext))
            n_refs += len(modules)
            for t in set(int(t) for t in targets) - {j}:
                imports.append((base + j, base + t))
            body = [_import_line(lang, m, repo) for m in modules]
            body += [_filler(lang, int(x)) for x in rng.integers(0, 1000, size=6)]
            contents.append("\n".join(body) + "\n")
        # every file joins one small "home" commit; a few extra commits
        # re-touch random files; about one repo in twenty gets a mega-commit
        order = rng.permutation(size)
        cuts = np.cumsum(rng.integers(2, 9, size=size))
        cuts = cuts[cuts < size]
        repo_commits = [list(base + c) for c in np.split(order, cuts)]
        for _ in range(size // 8):
            repo_commits.append(list(base + rng.choice(size, size=min(size, 4), replace=False)))
        if size > cap and rng.random() < 0.6:
            m = int(rng.integers(cap + 1, size + 1))
            repo_commits.append(list(base + rng.choice(size, size=m, replace=False)))
        for c, members in enumerate(repo_commits):
            cid = f"{r:04d}{c:05d}" + rng.bytes(12).hex()
            for f in members:
                j = f - base
                rows_repo.append(repo)
                rows_path.append(files[f][1])
                rows_commit.append(cid)
                rows_lang.append(LANGS[langs[j]])
                rows_content.append(contents[j])
        commits.extend(repo_commits)
    table = pa.table(
        {
            "repo": rows_repo,
            "path": rows_path,
            "commit": rows_commit,
            "lang": rows_lang,
            "content": rows_content,
        }
    )
    cochange = set()
    for members in commits:
        if len(members) <= cap:
            ms = sorted(set(members))
            cochange.update((a, b) for i, a in enumerate(ms) for b in ms[i + 1:])
    return {
        "table": table,
        "files": files,
        "imports": sorted(set(imports)),
        "cochange": sorted(cochange),
        "n_refs": n_refs,
        "n_commits": len(commits),
        "n_capped": sum(len(m) > cap for m in commits),
    }


def powerlaw(seed: int, n_edges: int, n_vertices: int, alpha: float = 0.8) -> pa.Table:
    """``edges(src, dst)``: both endpoints drawn from a Zipf-like law over a
    shuffled id space, so a few hubs carry most edges. Self-loops dropped,
    parallel edges kept (the engine's multigraph semantics)."""
    rng = np.random.default_rng(seed)
    p = _zipf_weights(n_vertices, alpha)
    ids = rng.permutation(n_vertices).astype(np.int64) * 7 + 11
    src = ids[rng.choice(n_vertices, size=n_edges, p=p)]
    dst = ids[rng.choice(n_vertices, size=n_edges, p=p)]
    keep = src != dst
    return pa.table({"src": src[keep], "dst": dst[keep]})


def write_parquet(table: pa.Table, path: str, files: int = 4) -> None:
    """Write ``table`` as a directory of ``files`` parquet parts (so Spark
    reads it with one split per core), atomically: a killed run never leaves
    a half-written input behind."""
    if os.path.isdir(path):
        return
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), os.path.join(tmp, f"part-{i}.parquet"))
    os.replace(tmp, path)
