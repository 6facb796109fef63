"""The iterative operators in both regimes of the broadcast limit.

Each operator keys its loop-invariant edges and hints its state joins
through `plans/superstep.py` (`keyed_edges`, `bc`): under
BROADCAST_ROW_LIMIT the state side is broadcast and the edges are keyed
by the aggregation key; past it the joins shuffle and the edges are keyed
by the join key. The `shuffle` regime forces the second path by setting
the limit to 0 on a graph far below the real limit. Both regimes must
match the independent oracles exactly (PageRank to 1e-6). FB-Trim SCC
also runs with its range finish switched off, so its rounds >= 2 (the
weak decomposition among them) meet both regimes.
"""

import random

import numpy as np
import pytest

from detectingscc_spark.operators.coloring import scc_coloring
from detectingscc_spark.operators.components import connected_components
from detectingscc_spark.operators.hits import hits
from detectingscc_spark.operators.lpa import label_propagation
from detectingscc_spark.operators.pagerank import pagerank
from detectingscc_spark.operators.scc import strongly_connected_components
from detectingscc_spark.plans import superstep
from detectingscc_spark.plans.superstep import SuperstepRunner

from .conftest import no_range_finish
from .oracles import cc_unionfind, hits_numpy, kosaraju_scc, lpa_sync, pagerank_numpy

N = 60
IDS = list(range(N))


def _edges(seed=1):
    """Three 20-vertex blocks with random internal arcs, chained by arcs
    from each block into the one below it: a DAG of SCCs, so FB-Trim
    needs a second round and decomposes (arcs pointing down keep the
    coloring engine's rounds few). Plus a duplicate arc and a self loop."""
    rng = random.Random(seed)
    edges = []
    for b in range(3):
        lo = 20 * b
        edges += [(lo + rng.randrange(20), lo + rng.randrange(20)) for _ in range(40)]
        if b < 2:
            edges += [(lo + 20 + rng.randrange(20), lo + rng.randrange(20)) for _ in range(3)]
    return edges + [edges[0], (7, 7)]


EDGES = _edges()


@pytest.fixture(params=["broadcast", "shuffle"])
def regime(request, monkeypatch):
    if request.param == "shuffle":
        monkeypatch.setattr(superstep, "BROADCAST_ROW_LIMIT", 0)
    assert superstep.broadcastable(N) == (request.param == "broadcast")
    return request.param


@pytest.fixture(scope="module")
def graph(spark):
    return spark.createDataFrame(EDGES, "src long, dst long"), spark.range(N)


def test_pagerank(spark, graph, regime):
    edges, verts = graph
    got = {r["id"]: r["rank"] for r in pagerank(spark, edges, verts, fixed_iters=10).collect()}
    exp = pagerank_numpy(EDGES, IDS, iters=10, tol=0.0)
    assert set(got) == set(exp)
    assert np.allclose([got[i] for i in IDS], [exp[i] for i in IDS], rtol=0, atol=1e-6)


def test_connected_components(spark, graph, regime):
    edges, verts = graph
    got = {r["id"]: r["cc_id"] for r in connected_components(spark, edges, verts).collect()}
    assert got == cc_unionfind(EDGES, IDS)


def test_label_propagation(spark, graph, regime):
    edges, verts = graph
    got = {r["id"]: r["label"] for r in label_propagation(spark, edges, verts, rounds=5).collect()}
    assert got == lpa_sync(EDGES, IDS, rounds=5)


def test_scc_coloring(spark, graph, regime):
    edges, verts = graph
    got = {r["id"]: r["scc_id"] for r in scc_coloring(spark, edges, verts).collect()}
    assert got == kosaraju_scc(EDGES, IDS)


def _scc_phases(spark, graph):
    edges, verts = graph
    runner = SuperstepRunner(spark)
    got = {
        r["id"]: r["scc_id"]
        for r in strongly_connected_components(spark, edges, verts, runner=runner).collect()
    }
    assert got == kosaraju_scc(EDGES, IDS)
    return {(m["phase"], m["superstep"]) for m in runner.metrics}


def test_strongly_connected_components(spark, graph, regime):
    # the ranges round 1 leaves are small: round 2 finishes them all
    phases = _scc_phases(spark, graph)
    assert ("finish_ranges", 2) in phases
    assert not {p for p, step in phases if step >= 2} - {"finish_ranges"}


def test_strongly_connected_components_without_finish(spark, graph, regime, monkeypatch):
    no_range_finish(monkeypatch)
    phases = _scc_phases(spark, graph)
    # the graph is built so that the residual's weak decomposition runs
    assert ("decompose", 2) in phases and ("pivots", 2) in phases
    assert "finish_ranges" not in {p for p, _ in phases}


def test_hits(spark, graph, regime):
    edges, verts = graph
    got = {r["id"]: (r["auth"], r["hub"]) for r in hits(spark, edges, verts, iters=10).collect()}
    exp = hits_numpy(EDGES, IDS, iters=10)
    for x in IDS:
        assert abs(got[x][0] - exp[x][0]) < 1e-9
        assert abs(got[x][1] - exp[x][1]) < 1e-9
