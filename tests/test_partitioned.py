"""Partitioned SCC must be exactly equivalent to the Kosaraju oracle on
both of its paths: the default range finish (FB round 1, then one
executor-side Tarjan job over every small range) and the METIS-style
local phase + contraction over an (id, part) labelling. The graph is a
seeded digraph with planted SCCs and the labelling a seeded 10-way one,
so the module needs no files outside the repository; only the two
byte-compatibility tests of the METIS sinks read the reference's files."""

import json
import os
import random
import sys
from collections import Counter

import pytest

from detectingscc_spark.operators import scc
from detectingscc_spark.operators.partitioned import scc_partitioned
from detectingscc_spark.plans.superstep import SuperstepRunner
from detectingscc_spark.sources.gtgraph import (
    gtgraph_meta,
    read_gtgraph,
    read_metis_partition,
)

from .conftest import REF_DATA
from .oracles import kosaraju_scc

METIS_PART = "/root/reference/src/MeTiSInput128.graph.part.10"
METIS_GRAPH = os.path.join(os.path.dirname(METIS_PART), "MeTiSInput128.graph")

N = 128
SCC_SIZES = (24, 16, 12, 9, 7, 5, 3, 2, 2)


def _planted_graph(seed=11):
    """Arcs on ids 1..N: a cycle plus 2 chords per vertex inside each
    block of SCC_SIZES (the planted SCCs; the chords keep BFS depth low),
    the other vertices singletons, and N/2 arcs that only point forward
    in a random order of the blocks and singletons, so they close no
    further cycle. Ids are shuffled, and a self loop is added (the
    engine drops it)."""
    rng = random.Random(seed)
    ids = list(range(1, N + 1))
    rng.shuffle(ids)
    units, pos = [], 0
    for size in SCC_SIZES:
        units.append(ids[pos:pos + size])
        pos += size
    units += [[v] for v in ids[pos:]]
    arcs = set()
    for b in units[: len(SCC_SIZES)]:
        arcs |= {(b[i], b[(i + 1) % len(b)]) for i in range(len(b))}
        arcs |= {tuple(rng.sample(b, 2)) for _ in range(2 * len(b))}
    rng.shuffle(units)
    for _ in range(N // 2):
        i, j = sorted(rng.sample(range(len(units)), 2))
        arcs.add((rng.choice(units[i]), rng.choice(units[j])))
    return sorted(arcs) + [(ids[0], ids[0])]


ARCS = _planted_graph()
WANT = kosaraju_scc(ARCS, list(range(1, N + 1)))


@pytest.fixture(scope="module")
def graph(spark):
    return spark.createDataFrame(ARCS, "src long, dst long"), spark.range(1, N + 1)


def test_planted_graph_shape():
    sizes = sorted(Counter(WANT.values()).values(), reverse=True)
    assert sizes == list(SCC_SIZES) + [1] * (N - sum(SCC_SIZES))


def _run(spark, graph, **kw):
    edges, verts = graph
    runner = SuperstepRunner(spark)
    res = scc_partitioned(spark, edges, verts, runner=runner, **kw)
    return {r["id"]: r["scc_id"] for r in res.collect()}, runner


def test_partitioned_range_finish_matches_oracle(spark, graph):
    """Default path: round 1 is one FB split, then the ranges left are
    finished by the executor-side Tarjan job. Only the result's `done_*`
    fragments stay live."""
    got, runner = _run(spark, graph)
    assert got == WANT
    finish = [m for m in runner.metrics if m["phase"] == "finish_ranges"]
    assert finish and finish[0]["superstep"] == 2 and finish[0]["vertices"] > 0
    assert runner.counters["iterations"] == 2
    assert sorted(s for s in runner._live if not s.startswith("done_")) == []


def test_partitioned_finishes_a_large_range(spark):
    """A round-1 pivot outside the giant SCC (a hub SCC with the largest
    indeg*outdeg and one arc into a 300-vertex SCC) leaves the giant SCC
    as one range; round 2 finishes it in one Tarjan task, exactly."""
    rng = random.Random(4)
    hub = [(0, c) for c in range(1, 17)] + [(c, 0) for c in range(1, 17)]
    giant = range(17, 317)
    arcs = hub + [(0, 17)] + [
        (v, w) for v in giant for w in (17 + (v - 16) % 300, rng.choice(giant), rng.choice(giant))
    ]
    edges = spark.createDataFrame(arcs, "src long, dst long")
    got, runner = _run(spark, (edges, None))
    assert got == {**{v: 0 for v in range(17)}, **{v: 17 for v in giant}}
    finish = [m for m in runner.metrics if m["phase"] == "finish_ranges"]
    assert [(m["superstep"], m["vertices"]) for m in finish] == [(2, 300)]


def test_partitioned_tiny_caps_fall_through_to_fb(spark, graph, monkeypatch):
    """Ranges over the finish caps skip the finish and go through trims,
    pivots and BFS, still exact."""
    monkeypatch.setattr(scc, "FINISH_MAX_EDGES", 1)
    monkeypatch.setattr(scc, "FINISH_MAX_VERTS", 2)
    got, runner = _run(spark, graph)
    assert got == WANT
    assert any(m["phase"] == "pivots" and m["superstep"] >= 2 for m in runner.metrics)


def test_partitioned_with_metis_labels(spark, graph, monkeypatch):
    """METIS path on a seeded 10-way labelling (one vertex unlabelled:
    it takes its own id as part). The vertex cap sits between the
    part sizes, so some parts run the local Tarjan and the others keep
    identity labels for the global phase."""
    rng = random.Random(3)
    parts = [(v, rng.randrange(10)) for v in range(2, N + 1)]
    counts = [sum(1 for _, p in parts if p == k) for k in range(10)]
    cap = sorted(counts)[5]
    assert min(counts) <= cap < max(counts)
    labels = spark.createDataFrame(parts, "id long, part long")
    monkeypatch.setattr(scc, "FINISH_MAX_VERTS", cap)
    got, _ = _run(spark, graph, partitions=labels)
    assert got == WANT


def test_cli_scc_partitioned_passes_runner_and_flags(spark, graph, tmp_path, monkeypatch):
    """`--algo scc-partitioned` runs on the CLI's runner: its counters
    reach metrics.json and --checkpoint-dir receives manifests."""
    from detectingscc_spark.__main__ import main

    graph[0].write.parquet(str(tmp_path / "edges"))
    monkeypatch.setattr(sys, "argv", [
        "detectingscc_spark", "--algo", "scc-partitioned", "--input", str(tmp_path / "edges"),
        "--output", str(tmp_path / "out"), "--checkpoint-dir", str(tmp_path / "ck"),
        "--trim-iters", "2", "--no-trim2",
    ])
    main()
    with open(tmp_path / "out" / "metrics.json") as f:
        m = json.load(f)
    # isolated vertices are absent from an edge parquet input
    with_arcs = {v for a in ARCS for v in a}
    assert m["groups"] == len({WANT[v] for v in with_arcs})
    assert m["counters"]["iterations"] == 2
    assert 0 < m["counters"]["Trimm_iterations"] <= 2
    assert any(f.startswith("manifest_") for f in os.listdir(tmp_path / "ck"))


def test_partitioned_on_corpus_graph(spark):
    from detectingscc_spark.corpus import generate_corpus
    from detectingscc_spark.ingest import ingest

    n = 500
    corpus = generate_corpus(spark, n)
    verts, edges, _ = ingest(spark, corpus)
    res = scc_partitioned(spark, edges, verts.select("id"))
    got = {r["id"]: r["scc_id"] for r in res.collect()}
    erows = [(r["src"], r["dst"]) for r in edges.collect()]
    assert got == kosaraju_scc(erows, list(range(n)))


@pytest.mark.skipif(not os.path.exists(METIS_PART), reason="needs the reference's shipped METIS labelling")
def test_metis_sink_roundtrip(spark, tmp_path):
    """write_metis_partition emits the reference's .part format: reading
    the reference's shipped labeling and writing it back is byte-stable."""
    from detectingscc_spark.sources.gtgraph import write_metis_partition

    labels = read_metis_partition(spark, METIS_PART)
    out = tmp_path / "roundtrip.part.10"
    write_metis_partition(labels, str(out))
    reread = read_metis_partition(spark, str(out))
    a = {(r["id"], r["part"]) for r in labels.collect()}
    b = {(r["id"], r["part"]) for r in reread.collect()}
    assert a == b
    with open(METIS_PART) as f:
        orig = [int(x) for x in f.read().split()]
    with open(out) as f:
        ours = [int(x) for x in f.read().split()]
    assert orig == ours


@pytest.mark.skipif(not os.path.exists(METIS_GRAPH), reason="needs the reference's 128-vertex sample and METIS graph")
def test_metis_graph_sink_byte_stable(spark, tmp_path):
    """write_metis_graph reproduces the reference's GTgraph→METIS
    converter output (/root/reference/src/MetisInput.cpp:114-131) BYTE
    FOR BYTE on the shipped 128-vertex sample: same header, same
    out-then-in neighbor order, same trailing-space line format."""
    from detectingscc_spark.sources.gtgraph import write_metis_graph

    path = os.path.join(REF_DATA, "sample128.gr")
    v, e = gtgraph_meta(spark, path)
    edges = read_gtgraph(spark, path)
    out = tmp_path / "MeTiSInput128.graph"
    write_metis_graph(edges, str(out), n_verts=v, n_edges=e)
    with open(METIS_GRAPH, "rb") as f:
        ref = f.read()
    with open(out, "rb") as f:
        ours = f.read()
    assert ours == ref


def test_metis_graph_sink_rejects_zero_based(spark, tmp_path):
    from detectingscc_spark.sources.gtgraph import write_metis_graph

    zero_based = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="1-indexed"):
        write_metis_graph(zero_based, str(tmp_path / "z.graph"), n_verts=3)


def test_metis_sink_rejects_zero_based_and_sparse_ids(spark, tmp_path):
    """The .part format is 1-indexed and dense; a 0-based engine id frame
    or a gap in the id space must fail loudly, never silently drop id 0 or
    fabricate label 0 for missing vertices."""
    from detectingscc_spark.sources.gtgraph import write_metis_partition

    zero_based = spark.createDataFrame([(0, 1), (1, 2)], "id long, part int")
    with pytest.raises(ValueError, match="1-indexed"):
        write_metis_partition(zero_based, str(tmp_path / "z.part"))

    sparse = spark.createDataFrame([(1, 1), (3, 2)], "id long, part int")
    with pytest.raises(ValueError, match="no label"):
        write_metis_partition(sparse, str(tmp_path / "s.part"))


# ---- property test: the streamed .graph sink over random digraphs ------
# The round-5 streaming rewrite introduced driver-side gap-filling for
# isolated vertices (the `nxt` loop) covered only by the 128-vertex
# byte-stable fixture; hypothesis exercises it over random small digraphs
# with isolated vertices, hubs, self-loops and duplicate edges.

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_graphs = st.integers(min_value=1, max_value=10).flatmap(
    lambda n: st.tuples(
        st.just(n),
        st.lists(
            st.tuples(
                st.integers(min_value=1, max_value=n),
                st.integers(min_value=1, max_value=n),
            ),
            min_size=0,
            max_size=25,
        ),
    )
)


def _naive_metis_graph(n_verts, erows):
    """In-memory reference writer with the sink's documented semantics:
    header `V E`, line i = ascending out-neighbors then ascending
    in-neighbors, every number followed by one space, empty line for an
    isolated vertex, duplicates kept."""
    outs = {i: [] for i in range(1, n_verts + 1)}
    ins = {i: [] for i in range(1, n_verts + 1)}
    for u, v in erows:
        outs[u].append(v)
        ins[v].append(u)
    lines = [f"{n_verts} {len(erows)}\n"]
    for i in range(1, n_verts + 1):
        nbrs = sorted(outs[i]) + sorted(ins[i])
        lines.append("".join(f"{x} " for x in nbrs) + "\n" if nbrs else "\n")
    return "".join(lines)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_graphs)
def test_metis_graph_sink_property(spark, tmp_path, g):
    from detectingscc_spark.sources.gtgraph import write_metis_graph

    n_verts, erows = g
    edges = spark.createDataFrame(
        [(u, v) for u, v in erows] or [(None, None)], "src long, dst long"
    ).where("src is not null")
    out = tmp_path / f"prop_{n_verts}_{len(erows)}.graph"
    write_metis_graph(edges, str(out), n_verts=n_verts)

    with open(out) as f:
        got = f.read()
    assert got == _naive_metis_graph(n_verts, erows)

    # information-content roundtrip: line i holds outs(i)++ins(i), so the
    # multiset of (line_vertex, neighbor) pairs over the whole file equals
    # edges ++ reversed(edges) — every edge appears exactly twice
    lines = got.splitlines()
    header_v, header_e = (int(x) for x in lines[0].split())
    assert header_v == n_verts and header_e == len(erows)
    assert len(lines) == 1 + n_verts
    seen = Counter(
        (i, int(x))
        for i, ln in enumerate(lines[1:], start=1)
        for x in ln.split()
    )
    want = Counter(erows) + Counter((v, u) for u, v in erows)
    assert seen == want
