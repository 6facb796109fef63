"""Independent answers the benchmark checks every operator call against.

SCC, WCC, LPA and triangle oracles are the repository's test oracles
(`tests/oracles.py`: Kosaraju, union-find, synchronous LPA, brute-force
triangles). PageRank uses the vectorized numpy power iteration below, run
for the same fixed number of iterations as the engine, because the test
oracle's per-edge Python loop is too slow at benchmark sizes.
"""

from __future__ import annotations

import numpy as np

from tests.oracles import cc_unionfind, kosaraju_scc, lpa_sync, triangles_brute

__all__ = [
    "cc_unionfind",
    "kosaraju_scc",
    "lpa_sync",
    "pagerank_fixed",
    "ranks_match",
    "triangles_brute",
]


def pagerank_fixed(
    edges: list[tuple[int, int]], vertices: list[int], iters: int, damping: float = 0.85
) -> dict[int, float]:
    """`iters` power iterations from the uniform vector: duplicate edges
    count once, self-loops are dropped, dangling mass is spread uniformly."""
    ids = np.unique(np.concatenate([np.asarray(vertices, dtype=np.int64), np.asarray(edges, dtype=np.int64).ravel()]))
    pairs = np.unique(np.asarray(edges, dtype=np.int64), axis=0)
    pairs = pairs[pairs[:, 0] != pairs[:, 1]]
    src = np.searchsorted(ids, pairs[:, 0])
    dst = np.searchsorted(ids, pairs[:, 1])
    n = len(ids)
    outdeg = np.bincount(src, minlength=n)
    w = 1.0 / outdeg[src]
    dangling = outdeg == 0
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        contrib = np.bincount(dst, weights=r[src] * w, minlength=n)
        r = (1.0 - damping) / n + damping * (contrib + r[dangling].sum() / n)
    return dict(zip(ids.tolist(), r.tolist()))


def ranks_match(got: dict[int, float], want: dict[int, float], rtol: float = 1e-6) -> bool:
    """Same vertex set and every rank within `rtol` of the oracle."""
    if got.keys() != want.keys():
        return False
    keys = sorted(want)
    return bool(np.allclose([got[k] for k in keys], [want[k] for k in keys], rtol=rtol, atol=0.0))
