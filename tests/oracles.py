"""Independent oracles for graph algorithms (pure python/numpy —
deliberately different algorithms from the engine's internals, per
SURVEY.md §5)."""

from __future__ import annotations

from collections import Counter, defaultdict

import numpy as np


def kosaraju_scc(edges: list[tuple[int, int]], vertices: list[int]) -> dict[int, int]:
    """SCC via Kosaraju (two DFS passes); returns {vertex: min member id}."""
    adj = defaultdict(list)
    radj = defaultdict(list)
    vset = set(vertices)
    for s, d in edges:
        if s in vset and d in vset and s != d:
            adj[s].append(d)
            radj[d].append(s)
    visited = set()
    order = []
    for root in vertices:
        if root in visited:
            continue
        stack = [(root, iter(adj[root]))]
        visited.add(root)
        while stack:
            v, it = stack[-1]
            advanced = False
            for w in it:
                if w not in visited:
                    visited.add(w)
                    stack.append((w, iter(adj[w])))
                    advanced = True
                    break
            if not advanced:
                order.append(v)
                stack.pop()
    comp = {}
    for root in reversed(order):
        if root in comp:
            continue
        members = []
        stack = [root]
        comp[root] = root
        while stack:
            v = stack.pop()
            members.append(v)
            for w in radj[v]:
                if w not in comp:
                    comp[w] = root
                    stack.append(w)
        m = min(members)
        for v in members:
            comp[v] = m
    return comp


def pagerank_numpy(
    edges: list[tuple[int, int]],
    vertices: list[int],
    damping: float = 0.85,
    iters: int = 200,
    tol: float = 1e-12,
) -> dict[int, float]:
    """Dense power iteration with uniform dangling redistribution."""
    ids = sorted(set(vertices))
    idx = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    eset = {(s, d) for s, d in edges if s != d}
    out = Counter(s for s, _ in eset)
    r = np.full(n, 1.0 / n)
    targets = defaultdict(list)
    for s, d in eset:
        targets[idx[s]].append(idx[d])
    dangling = np.array([out[v] == 0 for v in ids])
    for _ in range(iters):
        contrib = np.zeros(n)
        for si, ds in targets.items():
            share = r[si] / len(ds)
            for di in ds:
                contrib[di] += share
        dm = r[dangling].sum()
        new = (1 - damping) / n + damping * (contrib + dm / n)
        if np.abs(new - r).max() < tol:
            r = new
            break
        r = new
    return {v: float(r[idx[v]]) for v in ids}


def cc_unionfind(edges: list[tuple[int, int]], vertices: list[int]) -> dict[int, int]:
    parent = {v: v for v in vertices}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in edges:
        if s in parent and d in parent:
            rs, rd = find(s), find(d)
            if rs != rd:
                parent[max(rs, rd)] = min(rs, rd)
    return {v: find(v) for v in vertices}


def lpa_sync(edges: list[tuple[int, int]], vertices: list[int], rounds: int = 5) -> dict[int, int]:
    """Synchronous LPA, majority neighbor label, min-label tie-break —
    mirrors the engine's deterministic convention exactly."""
    und = defaultdict(set)
    for s, d in edges:
        if s != d:
            und[s].add(d)
            und[d].add(s)
    lab = {v: v for v in vertices}
    for _ in range(rounds):
        new = {}
        for v in vertices:
            nbrs = und.get(v)
            if not nbrs:
                new[v] = lab[v]
                continue
            votes = Counter(lab[w] for w in nbrs)
            best = max(votes.items(), key=lambda kv: (kv[1], -kv[0]))
            new[v] = best[0]
        lab = new
    return lab


def triangles_brute(edges: list[tuple[int, int]]) -> tuple[int, dict[int, int]]:
    und = defaultdict(set)
    for s, d in edges:
        if s != d:
            und[s].add(d)
            und[d].add(s)
    per = Counter()
    total = 0
    for v in und:
        nb = sorted(w for w in und[v] if w > v)
        for i, a in enumerate(nb):
            for b in nb[i + 1 :]:
                if b in und[a]:
                    total += 1
                    per[v] += 1
                    per[a] += 1
                    per[b] += 1
    return total, dict(per)


def ppr_numpy(
    edges: list[tuple[int, int]],
    sources: list[int],
    damping: float = 0.85,
    iters: int = 10,
) -> dict[int, float]:
    """Personalized PageRank: restart and dangling mass both teleport to
    the uniform distribution over `sources`."""
    eset = {(s, d) for s, d in edges if s != d}
    ids = sorted({s for s, _ in eset} | {d for _, d in eset})
    idx = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    p = np.zeros(n)
    for v in sources:
        p[idx[v]] = 1.0 / len(sources)
    out = Counter(s for s, _ in eset)
    targets = defaultdict(list)
    for s, d in eset:
        targets[idx[s]].append(idx[d])
    dangling = np.array([out[v] == 0 for v in ids])
    r = p.copy()
    for _ in range(iters):
        contrib = np.zeros(n)
        for si, ds in targets.items():
            share = r[si] / len(ds)
            for di in ds:
                contrib[di] += share
        dm = r[dangling].sum()
        r = (1 - damping) * p + damping * (contrib + dm * p)
    return {v: r[idx[v]] for v in ids}


def kcore_peel(edges: list[tuple[int, int]], k: int) -> set[int]:
    """k-core by peeling to fixpoint on the undirected simple graph."""
    und = defaultdict(set)
    for s, d in edges:
        if s != d:
            und[s].add(d)
            und[d].add(s)
    alive = set(und)
    while True:
        drop = {v for v in alive if len(und[v] & alive) < k}
        if not drop:
            return alive
        alive -= drop


def bfs_dist(edges: list[tuple[int, int]], sources: list[int]) -> dict[int, int]:
    """Multi-source directed BFS hop distances (python deque oracle)."""
    from collections import deque

    adj = defaultdict(list)
    for s, d in edges:
        if s != d:
            adj[s].append(d)
    dist = {v: 0 for v in sources}
    q = deque(sources)
    while q:
        v = q.popleft()
        for w in adj[v]:
            if w not in dist:
                dist[w] = dist[v] + 1
                q.append(w)
    return dist


def hits_numpy(
    edges: list[tuple[int, int]], ids: list[int], iters: int = 10
) -> dict[int, tuple[float, float]]:
    """Dense HITS from the uniform hub start, L1-normalized each half-step;
    duplicate edges keep multiplicity. Returns {vertex: (auth, hub)}."""
    idx = {x: i for i, x in enumerate(ids)}
    n = len(ids)
    A = np.zeros((n, n))
    for s, d in edges:
        A[idx[s], idx[d]] += 1.0
    h = np.full(n, 1.0 / n)
    for _ in range(iters):
        a = A.T @ h
        a /= a.sum()
        h = A @ a
        h /= h.sum()
    return {x: (float(a[idx[x]]), float(h[idx[x]])) for x in ids}
