"""Vectorized NumPy oracles for the benchmark's output checks.

Each oracle reads the workload's ``truth_edges`` (src, dst) arrays and
reproduces the semantics FIXTURES.md F6 pins:

- FogPageRank: ``rank_t(v) = rank_{t-1}(v) + sum_{u->v}(0.85*rank_{t-1}(u)/outdeg(u) + 0.15)``,
  rank_0 = 1, self-loops and duplicate edges kept;
- ConnectedComponents: min vertex id per weakly connected component, plus
  the number of synchronous hash-min rounds the frontier engine takes;
- triangles: distinct undirected triangles.

Vertex sets follow the engine: every id that appears as src or dst.
"""

from __future__ import annotations

import numpy as np


def vertex_index(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(ids, src_pos, dst_pos): sorted distinct ids and each endpoint's
    position among them."""
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    return ids, inv[: len(src)], inv[len(src):]


def fog_pagerank(src: np.ndarray, dst: np.ndarray, iters: int, d: float = 0.85) -> tuple[np.ndarray, np.ndarray]:
    ids, s, t = vertex_index(src, dst)
    outdeg = np.bincount(s, minlength=len(ids)).astype(np.float64)
    rank = np.ones(len(ids))
    for _ in range(iters):
        contrib = d * rank[s] / outdeg[s] + (1.0 - d)
        rank = rank + np.bincount(t, weights=contrib, minlength=len(ids))
    return ids, rank


def undirected_pairs(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(ids, a, b): distinct directed pairs of the symmetrized,
    self-loop-free graph, as positions into ids."""
    ids, s, t = vertex_index(src, dst)
    keep = s != t
    a = np.concatenate([s[keep], t[keep]])
    b = np.concatenate([t[keep], s[keep]])
    key = np.unique(a.astype(np.int64) * len(ids) + b)
    return ids, key // len(ids), key % len(ids)


def connected_components(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray, int]:
    """(ids, component, rounds): hash-min to its fixpoint. ``rounds``
    counts the synchronous rounds including the final one that changes
    nothing, which is when the engine's frontier empties."""
    ids, a, b = undirected_pairs(src, dst)
    comp = ids.copy()
    rounds = 0
    while True:
        rounds += 1
        best = comp.copy()
        np.minimum.at(best, a, comp[b])
        if np.array_equal(best, comp):
            return ids, comp, rounds
        comp = best


def triangle_count(src: np.ndarray, dst: np.ndarray) -> int:
    """Distinct undirected triangles, by wedge enumeration over edges
    oriented from lower to higher (degree, id)."""
    ids, a, b = undirected_pairs(src, dst)
    n = len(ids)
    half = a < b
    a, b = a[half], b[half]
    deg = np.bincount(np.concatenate([a, b]), minlength=n)
    rank = np.lexsort((np.arange(n), deg))
    pos = np.empty(n, dtype=np.int64)
    pos[rank] = np.arange(n)
    lo = np.where(pos[a] < pos[b], a, b)
    hi = np.where(pos[a] < pos[b], b, a)
    order = np.lexsort((hi, lo))
    lo, hi = lo[order], hi[order]
    starts = np.searchsorted(lo, np.arange(n + 1))
    # wedge (p; q1, q2) for every pair of out-neighbours of p: edge index
    # j pairs with every later index in the same row
    row_end = starts[lo + 1]
    later = row_end - np.arange(len(lo)) - 1
    first = np.repeat(np.arange(len(lo)), later)
    offs = np.arange(len(first)) - np.repeat(np.cumsum(later) - later, later)
    second = first + 1 + offs
    q1, q2 = hi[first], hi[second]
    und = np.sort(np.stack([a, b]), axis=0)
    edge_keys = np.sort(und[0].astype(np.int64) * n + und[1])
    wedge_keys = np.minimum(q1, q2).astype(np.int64) * n + np.maximum(q1, q2)
    found = np.searchsorted(edge_keys, wedge_keys)
    found = np.minimum(found, len(edge_keys) - 1)
    return int(np.count_nonzero(edge_keys[found] == wedge_keys))
