"""Reference results the benchmark checks the engine's outputs against.

Each oracle works on the raw input edge arrays (the same generated inputs
the engine receives) with numpy or networkx, never with engine code, and
applies the reference semantics itself: GAPBS squish (self-loops dropped,
duplicates removed), vertex universe = max raw id + 1, PageRank as in
apps/pagerank.gt (no dangling redistribution), CC label = min vertex id,
synchronous LPA with a min-label tie-break, k-truss support >= k - 2.
The loops follow tests/oracles.py, vectorized for benchmark-sized graphs.
"""

from __future__ import annotations

import networkx as nx
import numpy as np


def universe(src: np.ndarray, dst: np.ndarray) -> int:
    """FindMaxNodeID + 1 over the RAW edge list (before squish)."""
    if len(src) == 0:
        return 0
    return int(max(src.max(), dst.max())) + 1


def squish(src: np.ndarray, dst: np.ndarray, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Drop self-loops and duplicate pairs; sorted by (src, dst)."""
    keep = src != dst
    key = np.unique(src[keep] * n + dst[keep])
    return key // n, key % n


def symmetrize(src: np.ndarray, dst: np.ndarray, n: int) -> tuple[np.ndarray, np.ndarray]:
    """E ∪ Eᵀ, squished — the undirected view CC/LPA/TC are defined on."""
    return squish(np.concatenate([src, dst]), np.concatenate([dst, src]), n)


def pagerank(
    src: np.ndarray,
    dst: np.ndarray,
    *,
    damp: float = 0.85,
    tol: float | None = None,
    iters: int = 100,
) -> tuple[np.ndarray, int, float]:
    """Jacobi PageRank; stops after `iters` supersteps, or earlier once the
    L1 change is <= tol. Returns (rank, supersteps, final L1 change)."""
    n = universe(src, dst)
    s, d = squish(src, dst, n)
    deg = np.bincount(s, minlength=n).astype(np.float64)
    rank = np.full(n, 1.0 / n)
    beta = (1.0 - damp) / n
    err = float("nan")
    for i in range(iters):
        contrib = np.divide(rank, deg, out=np.zeros(n), where=deg > 0)
        new = beta + damp * np.bincount(d, weights=contrib[s], minlength=n)
        err = float(np.abs(new - rank).sum())
        rank = new
        if tol is not None and err <= tol:
            return rank, i + 1, err
    return rank, iters, err


def components(src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """Per-vertex component label = min vertex id of its component."""
    n = universe(src, dst)
    g = nx.Graph()
    g.add_nodes_from(range(n))
    g.add_edges_from(zip(src.tolist(), dst.tolist()))
    labels = np.arange(n, dtype=np.int64)
    for comp in nx.connected_components(g):
        members = np.fromiter(comp, dtype=np.int64)
        labels[members] = members.min()
    return labels


def label_propagation(src: np.ndarray, dst: np.ndarray, rounds: int) -> np.ndarray:
    """Synchronous LPA: each vertex takes its neighbours' most frequent
    label, ties to the smallest; isolated vertices keep their own id."""
    n = universe(src, dst)
    s, d = symmetrize(src, dst, n)
    labels = np.arange(n, dtype=np.int64)
    for _ in range(rounds):
        key, cnt = np.unique(d * n + labels[s], return_counts=True)
        v, lab = key // n, key % n
        order = np.lexsort((lab, -cnt, v))
        v, lab = v[order], lab[order]
        first = np.ones(len(v), dtype=bool)
        first[1:] = v[1:] != v[:-1]
        new = labels.copy()
        new[v[first]] = lab[first]
        labels = new
    return labels


def _undirected(src: np.ndarray, dst: np.ndarray) -> nx.Graph:
    g = nx.Graph()
    g.add_edges_from((u, v) for u, v in zip(src.tolist(), dst.tolist()) if u != v)
    return g


def triangles(src: np.ndarray, dst: np.ndarray) -> int:
    """Triangles of the symmetrized simple graph."""
    return sum(nx.triangles(_undirected(src, dst)).values()) // 3


def k_truss(src: np.ndarray, dst: np.ndarray, k: int) -> set[tuple[int, int, int]]:
    """{(u, v, support)} for the k-truss edges, u < v, support counted
    inside the truss."""
    h = nx.k_truss(_undirected(src, dst), k)
    out = set()
    for u, v in h.edges():
        a, b = (u, v) if u < v else (v, u)
        out.add((a, b, len(set(h[u]) & set(h[v]))))
    return out
