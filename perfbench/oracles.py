"""Vectorized correctness oracles (numpy), run outside timing.

All of them take plain ``(src, dst)`` int64 arrays of the DIRECTED input
edges and apply the engine's documented semantics: the graph is the
symmetrized multigraph (every edge in both directions, parallel edges kept),
vertices are the distinct endpoints.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


class SymGraph:
    """Symmetrized multigraph over compact indices ``0..n-1``."""

    def __init__(self, src: np.ndarray, dst: np.ndarray):
        self.ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
        self.n = len(self.ids)
        s, d = inv[: len(src)], inv[len(src):]
        self.src = np.concatenate([s, d])
        self.dst = np.concatenate([d, s])
        self.deg = np.bincount(self.src, minlength=self.n).astype(np.float64)

    def index(self, ids: np.ndarray) -> np.ndarray:
        idx = np.searchsorted(self.ids, ids)
        assert np.array_equal(self.ids[idx], ids), "result ids are not the vertex set"
        return idx


def pagerank(g: SymGraph, iterations: int, damping: float = 0.85) -> np.ndarray:
    """Reference-mode power iteration: zero start, ``iterations`` supersteps;
    scores in ``g.ids`` order."""
    x = np.zeros(g.n)
    for _ in range(iterations):
        contrib = x[g.src] / g.deg[g.src]
        x = (1.0 - damping) / g.n + damping * np.bincount(g.dst, contrib, minlength=g.n)
    return x


def components(g: SymGraph) -> np.ndarray:
    """Min vertex id per connected component (label propagation on indices:
    the id order equals the index order, so the min index is the min id)."""
    label = np.arange(g.n)
    while True:
        new = label.copy()
        np.minimum.at(new, g.dst, label[g.src])
        # pointer jumping: adopt the label of your label (still a member of
        # the same component, so the fixpoint is unchanged)
        new = new[new]
        if np.array_equal(new, label):
            return g.ids[label]
        label = new


def bfs(g: SymGraph, source: int) -> np.ndarray:
    """Unit-weight shortest-path distances from ``source`` (inf if unreachable)."""
    dist = np.full(g.n, np.inf)
    frontier = np.array([g.index(np.array([source]))[0]])
    dist[frontier] = 0.0
    level = 0.0
    seen = np.zeros(g.n, dtype=bool)
    seen[frontier] = True
    order = np.argsort(g.src, kind="stable")
    starts = np.searchsorted(g.src[order], np.arange(g.n + 1))
    while len(frontier):
        level += 1.0
        lens = starts[frontier + 1] - starts[frontier]
        offs = np.repeat(starts[frontier] - np.cumsum(lens) + lens, lens)
        nbrs = g.dst[order[offs + np.arange(lens.sum())]]
        nbrs = np.unique(nbrs[~seen[nbrs]])
        seen[nbrs] = True
        dist[nbrs] = level
        frontier = nbrs
    return dist


def aligned(g: SymGraph, pdf: pd.DataFrame, col: str) -> np.ndarray:
    """``pdf(id, col)`` reordered to ``g.ids``; fails unless it covers
    exactly the vertex set."""
    pdf = pdf.sort_values("id")
    ids = pdf["id"].to_numpy(dtype=np.int64)
    if len(ids) != g.n or not np.array_equal(ids, g.ids):
        raise AssertionError(f"{col}: result has {len(ids)} rows for {g.n} vertices")
    return pdf[col].to_numpy()


def close(a: np.ndarray, b: np.ndarray) -> bool:
    """The PageRank tolerance: agree to 1e-6 relative (values are ~1/N)."""
    return bool(np.allclose(a, b, rtol=1e-6, atol=1e-12))
