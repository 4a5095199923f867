"""Vectorised numpy oracles with the engine's definitions.

Same semantics as ``linkgraph.oracles`` (power iteration with uniform
dangling redistribution; min-id components; synchronous label propagation
with min-label ties; exact triangle count), written over edge arrays so they
finish in seconds on the benchmark's graphs.
"""

from __future__ import annotations

import numpy as np


def pagerank(num_vertices: int, src: np.ndarray, dst: np.ndarray, iters: int,
             damping: float = 0.85) -> np.ndarray:
    V = num_vertices
    out_deg = np.bincount(src, minlength=V).astype(np.float64)
    dangling = out_deg == 0
    r = np.full(V, 1.0 / V)
    for _ in range(iters):
        contrib = np.bincount(dst, weights=r[src] / out_deg[src], minlength=V)
        r = (1.0 - damping) / V + damping * (contrib + r[dangling].sum() / V)
    return r


def _undirected(num_vertices: int, src: np.ndarray, dst: np.ndarray):
    keep = src != dst
    a = np.concatenate([src[keep], dst[keep]])
    b = np.concatenate([dst[keep], src[keep]])
    key = np.unique(a * num_vertices + b)
    return key // num_vertices, key % num_vertices


def components(num_vertices: int, src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """Label = least vertex id of the component (undirected view)."""
    a, b = _undirected(num_vertices, src, dst)
    labels = np.arange(num_vertices, dtype=np.int64)
    while True:
        nxt = labels.copy()
        np.minimum.at(nxt, b, labels[a])
        nxt = nxt[nxt]  # pointer jumping: same fixpoint, fewer rounds
        if np.array_equal(nxt, labels):
            return labels
        labels = nxt


def labelprop(num_vertices: int, src: np.ndarray, dst: np.ndarray,
              max_iter: int) -> np.ndarray:
    """Synchronous rounds; new label = most frequent neighbour label, ties to
    the least label; stops early when a round changes nothing."""
    a, b = _undirected(num_vertices, src, dst)
    labels = np.arange(num_vertices, dtype=np.int64)
    for _ in range(max_iter):
        key = np.unique(b * num_vertices + labels[a], return_counts=True)
        v, lab, cnt = key[0] // num_vertices, key[0] % num_vertices, key[1]
        order = np.lexsort((lab, -cnt, v))
        v, lab = v[order], lab[order]
        first = np.r_[True, v[1:] != v[:-1]]
        new = labels.copy()
        new[v[first]] = lab[first]
        if np.array_equal(new, labels):
            break
        labels = new
    return labels


def triangles(num_vertices: int, src: np.ndarray, dst: np.ndarray) -> int:
    """Exact undirected triangle count, via (degree, id)-ordered orientation."""
    a, b = _undirected(num_vertices, src, dst)
    fwd = a < b
    a, b = a[fwd], b[fwd]
    deg = np.bincount(np.concatenate([a, b]), minlength=num_vertices)
    lo_first = (deg[a] < deg[b]) | ((deg[a] == deg[b]) & (a < b))
    lo, hi = np.where(lo_first, a, b), np.where(lo_first, b, a)
    order = np.argsort(lo, kind="stable")
    lo, hi = lo[order], hi[order]
    starts = np.searchsorted(lo, np.arange(num_vertices + 1))
    out = [set(hi[starts[v]:starts[v + 1]].tolist()) for v in range(num_vertices)]
    return sum(len(out[u] & out[w]) for u, w in zip(lo.tolist(), hi.tolist()))
