"""PageRank / CC / LPA / triangles vs independent numpy/python oracles
(SURVEY.md §2.11, north_rule companion algorithms)."""

import os

import numpy as np
import pytest

from detectingscc_spark.operators.components import connected_components
from detectingscc_spark.operators.lpa import label_propagation
from detectingscc_spark.operators.pagerank import pagerank
from detectingscc_spark.operators.triangles import triangle_count, triangle_count_per_vertex
from detectingscc_spark.plans.superstep import SuperstepRunner
from detectingscc_spark.sources.gtgraph import gtgraph_meta, read_gtgraph

from .conftest import FIXTURE_DATA
from .oracles import cc_unionfind, hits_numpy, lpa_sync, pagerank_numpy, triangles_brute


@pytest.fixture(scope="module")
def g128(spark):
    path = os.path.join(FIXTURE_DATA, "sample128.gr")
    v, _ = gtgraph_meta(spark, path)
    edges = read_gtgraph(spark, path)
    erows = [(r["src"], r["dst"]) for r in edges.collect()]
    return edges, erows, v


def test_pagerank_allclose(spark, g128):
    edges, erows, v = g128
    verts = spark.range(1, v + 1)
    got = {r["id"]: r["rank"] for r in pagerank(spark, edges, verts, tol=1e-12).collect()}
    exp = pagerank_numpy(erows, list(range(1, v + 1)))
    assert set(got) == set(exp)
    ga = np.array([got[i] for i in sorted(got)])
    ea = np.array([exp[i] for i in sorted(exp)])
    assert np.allclose(ga, ea, atol=1e-6)
    assert abs(ga.sum() - 1.0) < 1e-9  # dangling mass conserved


def test_connected_components(spark, g128):
    edges, erows, v = g128
    verts = spark.range(1, v + 1)
    got = {r["id"]: r["cc_id"] for r in connected_components(spark, edges, verts).collect()}
    exp = cc_unionfind([(s, d) for s, d in erows], list(range(1, v + 1)))
    assert got == exp


def test_lpa_deterministic(spark, g128):
    edges, erows, v = g128
    verts = spark.range(1, v + 1)
    got = {r["id"]: r["label"] for r in label_propagation(spark, edges, verts, rounds=4).collect()}
    exp = lpa_sync(erows, list(range(1, v + 1)), rounds=4)
    assert got == exp


def test_triangles(spark, g128):
    edges, erows, v = g128
    total_exp, per_exp = triangles_brute(erows)
    assert triangle_count(spark, edges) == total_exp
    got = {r["id"]: r["triangles"] for r in triangle_count_per_vertex(spark, edges).collect()}
    for vid, cnt in per_exp.items():
        assert got[vid] == cnt
    assert sum(got.values()) == 3 * total_exp


def test_triangle_count_releases_oriented_frame(spark):
    """triangle_count returns an int, so nothing can read its persisted
    oriented frame afterwards: no persistent RDD the call creates
    outlives it. (Earlier tests' frames may be freed meanwhile, so the
    check is on RDD ids, not on the bare count.)"""
    import gc
    import random

    rng = random.Random(3)
    erows = [(rng.randrange(40), rng.randrange(40)) for _ in range(200)]
    edges = spark.createDataFrame(erows, "src long, dst long")
    sc = spark.sparkContext

    def persistent_ids():
        gc.collect()
        return set(sc._jsc.getPersistentRDDs().keys())

    before = persistent_ids()
    assert triangle_count(spark, edges) == triangles_brute(erows)[0]
    assert persistent_ids() <= before


def test_personalized_pagerank_allclose(spark, g128):
    from detectingscc_spark.operators.pagerank import personalized_pagerank

    from .oracles import ppr_numpy

    edges, erows, v = g128
    src_ids = sorted({s for s, _ in erows} | {d for _, d in erows})
    sources = [i for i in src_ids if i % 5 == 0]
    sdf = spark.createDataFrame([(i,) for i in sources], "id long")
    got = {r["id"]: r["rank"] for r in personalized_pagerank(spark, edges, sdf, fixed_iters=10).collect()}
    exp = ppr_numpy(erows, sources, iters=10)
    assert set(got) == set(exp)
    ga = np.array([got[i] for i in sorted(got)])
    ea = np.array([exp[i] for i in sorted(exp)])
    assert np.allclose(ga, ea, atol=1e-9)
    assert abs(ga.sum() - 1.0) < 1e-9  # mass conserved (teleport to S)
    # mass is confined to vertices reachable from S
    assert all(got[i] >= 0.0 for i in got)


def test_kcore_fixpoint_matches_peeling_oracle(spark, g128):
    from detectingscc_spark.operators.kcore import kcore

    from .oracles import kcore_peel

    edges, erows, v = g128
    for k in (2, 3):
        got = {r["id"] for r in kcore(spark, edges, k=k).collect()}
        assert got == kcore_peel(erows, k)


def test_kcore_query_fixed_rounds_reaches_fixpoint(spark):
    """q_kcore pins rounds=8 for the unrolled SQL oracle; assert 8 rounds
    IS the fixpoint on the derived sf0.001 graph (so the fixed-depth
    query equals true 3-core semantics there)."""
    from detectingscc_spark.graph import derived_edges
    from detectingscc_spark.operators.kcore import kcore

    from .oracles import kcore_peel

    e = derived_edges(spark, "/root/testdata/sf0.001")
    erows = [(r["src"], r["dst"]) for r in e.collect()]
    got = {r["id"] for r in kcore(spark, e, k=3, rounds=8).collect()}
    assert got == kcore_peel(erows, 3)


def test_bfs_distances_vs_python(spark, g128):
    from detectingscc_spark.operators.bfs import bfs_distances

    from .oracles import bfs_dist

    edges, erows, v = g128
    sources = [i for i in range(1, v + 1) if i % 16 == 0]
    sdf = spark.createDataFrame([(i,) for i in sources], "id long")
    got = {r["id"]: r["dist"] for r in bfs_distances(spark, edges, sdf).collect()}
    assert got == bfs_dist(erows, sources)


class _SlotLog(SuperstepRunner):
    """A runner that records the slot name of every tick."""

    def __init__(self, spark):
        super().__init__(spark)
        self.slots: list[str] = []

    def tick(self, name, df, **kwargs):
        self.slots.append(name)
        return super().tick(name, df, **kwargs)


def _bfs(spark, edges, runner, hops):
    from detectingscc_spark.operators.bfs import bfs_distances

    src = spark.createDataFrame([(1,)], "id long")
    out = bfs_distances(spark, edges, src, max_hops=hops, runner=runner)
    return {r["id"]: r["dist"] for r in out.collect()}


def _landmarks(spark, edges, runner, hops):
    from detectingscc_spark.operators.centrality import landmark_distances

    lm = spark.createDataFrame([(1,)], "id long")
    rows = landmark_distances(spark, edges, lm, max_hops=hops, runner=runner).collect()
    assert {r["lm"] for r in rows} == {1}
    return {r["id"]: r["dist"] for r in rows}


def _fb(spark, edges, runner, hops):
    from detectingscc_spark.operators.scc import strongly_connected_components

    out = strongly_connected_components(spark, edges, runner=runner, max_bfs_hops=hops)
    return {r["id"]: r["scc_id"] for r in out.collect()}


def _coloring(spark, edges, runner, hops):
    from detectingscc_spark.operators.coloring import scc_coloring

    out = scc_coloring(spark, edges, runner=runner, max_bfs_hops=hops)
    return {r["id"]: r["scc_id"] for r in out.collect()}


# every caller of `operators/bfs.py::reach`: (run, the visited set's slot
# name, SCC engine?). BFS and landmarks walk the path 1 -> ... -> 61; the
# SCC engines a 61-cycle, whose one SCC their BFS covers in 60 hops
REACH_CALLERS = {
    "bfs_distances": (_bfs, "settled", False),
    "landmark_distances": (_landmarks, "settled", False),
    "strongly_connected_components": (_fb, "bfs", True),
    "scc_coloring": (_coloring, "vis", True),
}
DEEP_V = 61


def _deep_graph(spark, cycle):
    erows = [(i, i + 1) for i in range(1, DEEP_V)] + ([(DEEP_V, 1)] if cycle else [])
    return spark.createDataFrame(erows, "src long, dst long"), erows


@pytest.mark.parametrize("caller", sorted(REACH_CALLERS))
def test_bfs_deep_path_compacts(spark, caller):
    """A 60-hop walk compacts the visited set 7+ times (every
    COMPACT_EVERY=8 live fragments), the results stay exact, and only
    the frames the result reads stay live: the empty last hop's slot is
    released, and an SCC engine keeps only its `done_*` fragments."""
    from .oracles import bfs_dist, kosaraju_scc

    run, name, is_scc = REACH_CALLERS[caller]
    edges, erows = _deep_graph(spark, cycle=is_scc)
    runner = _SlotLog(spark)
    got = run(spark, edges, runner, 10_000 if is_scc else 64)
    if is_scc:
        assert got == kosaraju_scc(erows, list(range(1, DEEP_V + 1)))
        assert [s for s in runner._live if not s.startswith("done_")] == []
    else:
        assert got == bfs_dist(erows, [1])
        # hops 1..60 found vertices; hop 61 found none and is not live
        assert f"{name}_{DEEP_V}" in runner.slots
        assert f"{name}_{DEEP_V}" not in runner._live
    assert runner.slots.count(f"{name}_base") >= 7


@pytest.mark.parametrize("caller", sorted(REACH_CALLERS))
def test_reach_max_hops_guard(spark, caller):
    """Past `max_hops` BFS and landmarks stop at the distances they
    settled; the SCC engines raise, since a partial visited set would
    split an SCC silently."""
    run, _, is_scc = REACH_CALLERS[caller]
    edges, _ = _deep_graph(spark, cycle=is_scc)
    runner = SuperstepRunner(spark)
    if is_scc:
        with pytest.raises(RuntimeError, match="exceeded max hops"):
            run(spark, edges, runner, 8)
    else:
        assert run(spark, edges, runner, 8) == {i: i - 1 for i in range(1, 10)}


def test_ppr_isolated_source_no_mass_leak(spark, g128):
    """A source id with no incident edges must not dilute the restart
    distribution: S is semi-joined to the graph's vertex set before
    normalizing p(v), so sum(rank) == 1 every step even when callers pass
    ids outside the graph."""
    from pyspark.sql import functions as F

    from detectingscc_spark.operators.pagerank import personalized_pagerank

    edges, _, _ = g128
    sdf = spark.createDataFrame([(1,), (2,), (999999,)], "id long")  # 999999 isolated
    got = personalized_pagerank(spark, edges, sdf, fixed_iters=5)
    total = got.agg(F.sum("rank")).first()[0]
    assert abs(total - 1.0) < 1e-9, total
    # and matches the same run with only the in-graph sources
    clean = personalized_pagerank(
        spark, edges, spark.createDataFrame([(1,), (2,)], "id long"), fixed_iters=5
    )
    a = {r["id"]: r["rank"] for r in got.collect()}
    b = {r["id"]: r["rank"] for r in clean.collect()}
    assert a.keys() == b.keys()
    assert all(abs(a[k] - b[k]) < 1e-12 for k in a)


def test_clustering_coefficient_known_graph(spark):
    from detectingscc_spark.operators.triangles import clustering_coefficient

    # triangle 1-2-3 plus a pendant 4-1 (directed reps; operator
    # canonicalizes to undirected)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 4), (4, 4)], ["src", "dst"]
    )
    rows = {r["id"]: r for r in clustering_coefficient(spark, edges).collect()}
    assert set(rows) == {1, 2, 3, 4}  # self-loop-only vertices excluded
    assert rows[1]["deg"] == 3 and rows[1]["cc"] == round(2 / 6, 6)
    assert rows[2]["deg"] == 2 and rows[2]["cc"] == 1.0
    assert rows[3]["cc"] == 1.0
    assert rows[4]["deg"] == 1 and rows[4]["cc"] == 0.0


def test_degree_assortativity_vs_numpy(spark):
    from detectingscc_spark.operators.triangles import degree_assortativity

    # star S4 is maximally disassortative: r = -1
    star = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (0, 4)], ["src", "dst"]
    )
    assert degree_assortativity(spark, star).collect()[0][0] == -1.0

    # mixed graph: compare against numpy corrcoef on symmetrized pairs
    es = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (6, 4), (2, 5)]
    g = spark.createDataFrame(es, ["src", "dst"])
    got = degree_assortativity(spark, g).collect()[0][0]
    from collections import Counter

    und = {tuple(sorted(e)) for e in es}
    deg = Counter()
    for a, b in und:
        deg[a] += 1
        deg[b] += 1
    xs = [deg[a] for a, b in und] + [deg[b] for a, b in und]
    ys = [deg[b] for a, b in und] + [deg[a] for a, b in und]
    want = float(np.corrcoef(xs, ys)[0, 1])
    assert abs(got - round(want, 6)) < 2e-6


def test_hits_vs_numpy(spark):
    from detectingscc_spark.operators.hits import hits

    es = [(1, 2), (1, 3), (2, 3), (4, 3), (3, 1), (2, 2)]
    g = spark.createDataFrame(es, ["src", "dst"])
    ids = sorted({x for e in es for x in e})
    v = spark.createDataFrame([(i,) for i in ids], ["id"])
    got = {r["id"]: (r["auth"], r["hub"]) for r in hits(spark, g, v, iters=10).collect()}

    exp = hits_numpy(es, ids, iters=10)
    for x in ids:
        assert abs(got[x][0] - exp[x][0]) < 1e-9
        assert abs(got[x][1] - exp[x][1]) < 1e-9


def _naive_support(und):
    """und: set of (a,b) with a<b. Returns {(a,b): n_triangles}."""
    nbr = {}
    for a, b in und:
        nbr.setdefault(a, set()).add(b)
        nbr.setdefault(b, set()).add(a)
    return {(a, b): len(nbr[a] & nbr[b]) for a, b in und}


def _naive_ktruss(und, k):
    und = set(und)
    while True:
        sup = _naive_support(und)
        keep = {e for e in und if sup[e] >= k - 2}
        if keep == und:
            return und
        und = keep


def test_edge_support_vs_naive(spark, g128):
    from detectingscc_spark.operators.truss import edge_support

    edges, erows, v = g128
    und = {(min(a, b), max(a, b)) for a, b in erows if a != b}
    got = {(r["a"], r["b"]): r["support"] for r in edge_support(spark, edges).collect()}
    assert got == _naive_support(und)


def test_ktruss_vs_naive(spark, g128):
    from detectingscc_spark.operators.truss import ktruss

    edges, erows, v = g128
    und = {(min(a, b), max(a, b)) for a, b in erows if a != b}
    for k in (3, 4):
        got = {(r["a"], r["b"]) for r in ktruss(spark, edges, k=k).collect()}
        assert got == _naive_ktruss(und, k), f"k={k}"


def test_ktruss_fixed_rounds_matches_fixpoint(spark):
    """The oracle runs a fixed unroll depth; any depth >= convergence
    yields the unique fixpoint. Use a chain of triangles sharing edges so
    peeling actually cascades across rounds."""
    from detectingscc_spark.operators.truss import ktruss

    es = [(1, 2), (2, 3), (1, 3), (3, 4), (2, 4), (4, 5), (5, 6), (4, 6), (6, 7)]
    g = spark.createDataFrame(es, ["src", "dst"])
    fix = {(r["a"], r["b"]) for r in ktruss(spark, g, k=4).collect()}
    fixed = {(r["a"], r["b"]) for r in ktruss(spark, g, k=4, rounds=6).collect()}
    assert fix == fixed == _naive_ktruss({(min(a, b), max(a, b)) for a, b in es}, 4)


def test_link_prediction_vs_naive(spark, g128):
    import math

    from detectingscc_spark.operators.linkpred import link_prediction

    edges, erows, v = g128
    und = {(min(a, b), max(a, b)) for a, b in erows if a != b}
    nbr = {}
    for a, b in und:
        nbr.setdefault(a, set()).add(b)
        nbr.setdefault(b, set()).add(a)
    scores = {}
    ids = sorted(nbr)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if (a, b) in und:
                continue
            com = nbr[a] & nbr[b]
            if not com:
                continue
            aa = sum(1.0 / math.log(len(nbr[v_])) for v_ in com)
            jac = len(com) / (len(nbr[a]) + len(nbr[b]) - len(com))
            scores[(a, b)] = (len(com), round(jac, 6), round(aa, 6))
    want = sorted(scores.items(), key=lambda kv: (-kv[1][0], kv[0]))[:20]

    got = [
        ((r["a"], r["b"]), (r["common"], r["jaccard6"], r["adamic_adar6"]))
        for r in link_prediction(spark, edges, top_k=20).collect()
    ]
    assert [g[0] for g in got] == [w[0] for w in want]
    for (pk, gv), (_, wv) in zip(got, want):
        assert gv[0] == wv[0], pk
        assert abs(gv[1] - wv[1]) < 2e-6, pk
        assert abs(gv[2] - wv[2]) < 2e-6, pk


def test_link_prediction_center_degree_cap(spark):
    """A hub above the cap stops generating candidate pairs; pairs that
    only share the hub disappear, pairs with another center survive."""
    from detectingscc_spark.operators.linkpred import link_prediction

    hub = [(100, i) for i in range(1, 8)]          # deg(100) = 7
    tri = [(1, 2), (2, 3), (1, 3), (4, 5)]
    g = spark.createDataFrame(hub + tri, ["src", "dst"])
    capped = {(r["a"], r["b"]): r["common"]
              for r in link_prediction(spark, g, top_k=100, max_center_degree=5).collect()}
    # 4,6 share only the hub -> gone under the cap; 1,4 etc. too
    assert (4, 6) not in capped
    # 2 and 3 share neighbor 1 (deg(1)=3 <= 5)? (2,3) is an edge; (1,2) edge...
    # non-adjacent pair sharing a small center: 4 & 1 share only hub -> gone
    full = {(r["a"], r["b"]): r["common"]
            for r in link_prediction(spark, g, top_k=100).collect()}
    assert (4, 6) in full and full[(4, 6)] == 1
    assert set(capped) <= set(full)


def test_eigencentrality_vs_numpy(spark):
    from detectingscc_spark.operators.hits import eigencentrality

    es = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3), (5, 1), (2, 1)]
    g = spark.createDataFrame(es, ["src", "dst"])
    got = {r["id"]: r["score"] for r in eigencentrality(spark, g, iters=10).collect()}

    und = {(min(a, b), max(a, b)) for a, b in es if a != b}
    ids = sorted({x for e in und for x in e})
    idx = {x: i for i, x in enumerate(ids)}
    n = len(ids)
    A = np.zeros((n, n))
    for a, b in und:
        A[idx[a], idx[b]] = 1.0
        A[idx[b], idx[a]] = 1.0
    x = np.full(n, 1.0 / n)
    for _ in range(10):
        x = A @ x
        x /= x.sum()
    assert set(got) == set(ids)
    for i in ids:
        assert abs(got[i] - x[idx[i]]) < 1e-9


def test_transitive_closure_and_dag_reach(spark):
    from detectingscc_spark.operators.condensation import (
        dag_reachability,
        transitive_closure,
    )

    # chain 1->2->...->9 plus a diamond hanging off 3; long chain
    # exercises >1 doubling round (closure depth 8 -> 3 rounds)
    es = [(i, i + 1) for i in range(1, 9)] + [(3, 20), (20, 21), (21, 5)]
    g = spark.createDataFrame(es, ["src", "dst"])
    got = {(r["src"], r["dst"]) for r in transitive_closure(spark, g).collect()}

    import itertools
    adj = {}
    for a, b in es:
        adj.setdefault(a, set()).add(b)
    want = set()
    for s in adj:
        seen, stack = set(), [s]
        while stack:
            x = stack.pop()
            for y in adj.get(x, ()):
                if y not in seen:
                    seen.add(y)
                    stack.append(y)
        want |= {(s, d) for d in seen}
    assert got == want

    reach = {r["scc_id"]: r["n_desc"] for r in dag_reachability(spark, g).collect()}
    want_counts = {s: len({d for (a, d) in want if a == s}) for s in
                   {x for e in es for x in e}}
    assert reach == want_counts
    assert reach[9] == 0  # sink


def test_harmonic_centrality_vs_naive(spark, g128):
    from collections import deque

    from detectingscc_spark.operators.centrality import harmonic_centrality

    edges, erows, v = g128
    adj = {}
    for a, b in erows:
        if a != b:
            adj.setdefault(a, set()).add(b)
    ids = sorted({x for e in erows for x in e})
    lms = [i for i in ids if i % 10 == 0]
    lm_df = spark.createDataFrame([(i,) for i in lms], ["id"])

    want = {i: [0, 0.0] for i in ids}
    for lm in lms:
        dist = {lm: 0}
        q = deque([lm])
        while q:
            x = q.popleft()
            for y in adj.get(x, ()):
                if y not in dist:
                    dist[y] = dist[x] + 1
                    q.append(y)
        for node, d in dist.items():
            if d > 0:
                want[node][0] += 1
                want[node][1] += 1.0 / d
    got = {
        r["id"]: (r["n_reached"], r["harmonic6"])
        for r in harmonic_centrality(spark, edges, lm_df).collect()
    }
    assert set(got) == set(want)
    for i in ids:
        assert got[i][0] == want[i][0], i
        assert abs(got[i][1] - round(want[i][1], 6)) < 2e-6, i


def test_salsa_vs_numpy(spark):
    from detectingscc_spark.operators.hits import salsa

    es = [(1, 2), (1, 3), (2, 3), (4, 3), (3, 1), (2, 2), (1, 2)]
    g = spark.createDataFrame(es, ["src", "dst"])
    ids = sorted({x for e in es for x in e})
    v = spark.createDataFrame([(i,) for i in ids], ["id"])
    got = {r["id"]: (r["auth"], r["hub"]) for r in salsa(spark, g, v, iters=10).collect()}

    idx = {x: i for i, x in enumerate(ids)}
    n = len(ids)
    A = np.zeros((n, n))
    for s, d in es:
        A[idx[s], idx[d]] += 1.0  # duplicate edges keep multiplicity
    od = A.sum(axis=1)          # out-degree with multiplicity
    ind = A.sum(axis=0)
    Wr = np.divide(A, od[:, None], out=np.zeros_like(A), where=od[:, None] > 0)
    Wc = np.divide(A, ind[None, :], out=np.zeros_like(A), where=ind[None, :] > 0)
    h = np.full(n, 1.0 / n)
    for _ in range(10):
        a = Wr.T @ h
        a /= a.sum()
        h = Wc @ a
        h /= h.sum()
    for x in ids:
        assert abs(got[x][0] - a[idx[x]]) < 1e-9, x
        assert abs(got[x][1] - h[idx[x]]) < 1e-9, x


def test_modularity_two_cliques(spark, tmp_path):
    """Two 4-cliques joined by one bridge: LPA finds the two cliques and
    Newman modularity matches the hand formula Q = sum in_c/m - (d_c/2m)^2."""
    import itertools

    from detectingscc_spark.graph import undirected_edges
    from detectingscc_spark.operators.lpa import label_propagation

    c1, c2 = [1, 2, 3, 4], [11, 12, 13, 14]
    es = (
        [(a, b) for a, b in itertools.combinations(c1, 2)]
        + [(a, b) for a, b in itertools.combinations(c2, 2)]
        + [(4, 11)]
    )
    g = spark.createDataFrame(es, ["src", "dst"])
    labels = {r["id"]: r["label"] for r in label_propagation(spark, g, rounds=4).collect()}
    comm = {}
    for v_, l_ in labels.items():
        comm.setdefault(l_, set()).add(v_)

    und = {(min(a, b), max(a, b)) for a, b in es}
    m = len(und)
    deg = {}
    for a, b in und:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    q = 0.0
    for members in comm.values():
        inc = sum(1 for a, b in und if a in members and b in members)
        dc = sum(deg[v_] for v_ in members)
        q += inc / m - (dc / (2 * m)) ** 2

    # mirror q_modularity's computation on this fixture graph
    la = labels
    intra = {}
    dcs = {}
    for a, b in und:
        if la[a] == la[b]:
            intra[la[a]] = intra.get(la[a], 0) + 1
    for v_, d_ in deg.items():
        dcs[la[v_]] = dcs.get(la[v_], 0) + d_
    q2 = sum(intra.get(c, 0) / m - (dcs[c] / (2 * m)) ** 2 for c in dcs)
    assert abs(q - q2) < 1e-12
    assert q > 0.3  # two dense cliques -> clearly positive modularity


def test_companion_plans_have_no_cartesian_scan(spark, g128):
    """Plan audit for the round-6 companions: candidate generation must
    be hash/sort-merge joins — a CartesianProduct in edge_support or
    link_prediction means the wedge join degenerated to all-pairs. The
    only nested-loop join allowed anywhere is the broadcast of a 1-row
    scalar frame (hits/salsa/eigen normalizers, link_prediction has
    none)."""
    from detectingscc_spark.operators.linkpred import link_prediction
    from detectingscc_spark.operators.truss import edge_support

    edges, _, _ = g128
    for name, df in (
        ("edge_support", edge_support(spark, edges)),
        ("link_prediction", link_prediction(spark, edges, top_k=20)),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "PythonUDF" not in plan, name


def test_dag_layers_vs_naive(spark):
    from detectingscc_spark.operators.condensation import dag_layers

    # two roots, shared diamond, a deep tail, plus an isolated comp (99)
    es = [(1, 3), (2, 3), (3, 4), (3, 5), (4, 6), (5, 6), (6, 7), (2, 7)]
    g = spark.createDataFrame(es, ["src", "dst"])
    comps = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 5, 6, 7, 99]], ["id"])
    got = {r["id"]: r["layer"] for r in dag_layers(spark, g, comps=comps).collect()}

    import functools

    adj_in = {}
    nodes = {x for e in es for x in e} | {99}
    for a, b in es:
        adj_in.setdefault(b, set()).add(a)

    @functools.lru_cache(None)
    def layer(v):
        preds = adj_in.get(v, ())
        return 0 if not preds else 1 + max(layer(u) for u in preds)

    assert got == {v: layer(v) for v in nodes}


def test_dag_layers_cycle_raises(spark):
    import pytest

    from detectingscc_spark.operators.condensation import dag_layers

    g = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], ["src", "dst"])
    with pytest.raises(RuntimeError, match="no fixpoint"):
        dag_layers(spark, g, max_rounds=8)


def test_companion_empty_and_degenerate_inputs(spark):
    """Degenerate inputs return empty/zero frames instead of raising:
    triangle-free graph -> empty 4-truss; no shared-neighbor candidates
    -> empty link prediction; empty landmark set -> all-zero harmonic;
    self-loop-only graph -> empty eigencentrality universe."""
    from detectingscc_spark.operators.centrality import harmonic_centrality
    from detectingscc_spark.operators.hits import eigencentrality
    from detectingscc_spark.operators.linkpred import link_prediction
    from detectingscc_spark.operators.truss import ktruss

    chain = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], ["src", "dst"])
    assert ktruss(spark, chain, k=4).count() == 0

    pair = spark.createDataFrame([(1, 2)], ["src", "dst"])
    assert link_prediction(spark, pair).count() == 0

    no_lm = spark.createDataFrame([], "id long")
    rows = harmonic_centrality(spark, chain, no_lm).collect()
    assert {r["id"] for r in rows} == {1, 2, 3, 4}
    assert all(r["n_reached"] == 0 and r["harmonic6"] == 0.0 for r in rows)

    loops = spark.createDataFrame([(7, 7), (8, 8)], ["src", "dst"])
    assert eigencentrality(spark, loops).count() == 0

    from detectingscc_spark.operators.hits import hits, salsa

    empty_v = spark.createDataFrame([], "id long")
    assert hits(spark, loops.limit(0), empty_v).count() == 0
    assert salsa(spark, loops.limit(0), empty_v).count() == 0


def test_bipartiteness(spark):
    from detectingscc_spark.operators.components import bipartiteness

    # even cycle + a path: bipartite
    bip = spark.createDataFrame([(1, 2), (2, 3), (3, 4), (4, 1), (5, 6)], ["src", "dst"])
    r = bipartiteness(spark, bip).collect()[0]
    assert (r["n_components"], r["n_odd_edges"], r["is_bipartite"]) == (2, 0, True)

    # odd cycle: not bipartite; exactly one odd edge under BFS layering
    odd = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], ["src", "dst"])
    r = bipartiteness(spark, odd).collect()[0]
    assert r["is_bipartite"] is False and r["n_odd_edges"] >= 1
    assert r["n_components"] == 1
