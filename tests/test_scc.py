"""SCC exactness vs independent Kosaraju oracle on the GTgraph fixtures in
tests/data, which have the shapes of the reference's samples — golden
values in SURVEY.md §5. The 32k-vertex giant-SCC test reads the
reference's own sample2.gr and skips where it is absent."""

import os
from collections import Counter

import pytest

from detectingscc_spark.operators.scc import strongly_connected_components
from detectingscc_spark.plans.superstep import SuperstepRunner
from detectingscc_spark.sources.gtgraph import gtgraph_meta, read_gtgraph

from .conftest import FIXTURE_DATA, REF_DATA
from .oracles import kosaraju_scc

GOLDEN = {
    "sample0.gr": 4,
    "sample4.gr": 4,
    "sample5.gr": 3,
    "sample1.gr": 3,
    "sample128.gr": 13,
}


# SURVEY.md §5, one row per reference sample: V, E, #SCCs, the largest SCC's
# size, how many SCCs have that size, and singletons
SURVEY_ROWS = {
    "sample0.gr": (6, 5, 4, 3, 1, 3),
    "sample4.gr": (8, 13, 4, 3, 2, 2),
    "sample5.gr": (13, 17, 3, 11, 1, 2),
    "sample1.gr": (32, 151, 3, 30, 1, 2),
    "sample128.gr": (128, 374, 13, 113, 1, 10),
}


def test_fixture_shapes(spark):
    """Each in-repo fixture has its reference sample's SURVEY.md §5 row, so
    GOLDEN (and the CLI's 3 groups on sample1.gr) rest on the document,
    not on the engine's output."""
    assert sorted(f for f in os.listdir(FIXTURE_DATA) if f.endswith(".gr")) == sorted(SURVEY_ROWS)
    for name, (v, e, n_scc, largest, n_largest, singletons) in SURVEY_ROWS.items():
        path = os.path.join(FIXTURE_DATA, name)
        assert gtgraph_meta(spark, path) == (v, e), name
        arcs = [(r["src"], r["dst"]) for r in read_gtgraph(spark, path).collect()]
        assert len(arcs) == e, name
        sizes = Counter(Counter(kosaraju_scc(arcs, list(range(1, v + 1))).values()).values())
        assert sum(sizes.values()) == n_scc == GOLDEN[name], name
        assert max(sizes) == largest and sizes[largest] == n_largest, name
        assert sizes[1] == singletons, name
        if name == "sample0.gr":
            # the duplicate arc and arcless vertices the reference's sample0 has
            assert arcs.count((4, 1)) == 2
            assert not {3, 6} & {x for a in arcs for x in a}


def _run_scc(spark, name, data=FIXTURE_DATA, **kw):
    path = os.path.join(data, name)
    v, _ = gtgraph_meta(spark, path)
    edges = read_gtgraph(spark, path)
    vertices = spark.range(1, v + 1).withColumnRenamed("id", "id")
    result = strongly_connected_components(spark, edges, vertices, **kw)
    got = {r["id"]: r["scc_id"] for r in result.collect()}
    erows = [(r["src"], r["dst"]) for r in edges.collect()]
    expect = kosaraju_scc(erows, list(range(1, v + 1)))
    return got, expect, v


@pytest.mark.parametrize("name", ["sample0.gr", "sample4.gr", "sample5.gr"])
def test_scc_small_distributed(spark, name):
    got, expect, v = _run_scc(spark, name)
    assert len(got) == v
    assert got == expect
    assert len(set(got.values())) == GOLDEN[name]


def test_scc_sample1_distributed(spark):
    got, expect, v = _run_scc(spark, "sample1.gr")
    assert got == expect
    assert len(set(got.values())) == GOLDEN["sample1.gr"]


def test_scc_sample128_distributed(spark):
    got, expect, v = _run_scc(spark, "sample128.gr")
    assert got == expect
    assert len(set(got.values())) == GOLDEN["sample128.gr"]


def test_scc_range_finish_path(spark):
    """The ranges round 1 leaves on sample128 are all within the finish
    caps, so superstep 2 retires them all in one range finish."""
    runner = SuperstepRunner(spark)
    got, expect, _ = _run_scc(spark, "sample128.gr", runner=runner)
    assert got == expect
    assert [m["superstep"] for m in runner.metrics if m["phase"] == "finish_ranges"] == [2]


def test_scc_edgeless_residual_is_one_finish(spark):
    """Round 1 leaves only edgeless vertices: a 3-clique (the pivot's SCC)
    with a 5-arc tail in and a 5-arc tail out, which the 4-iteration trim1
    fixpoint leaves one vertex short on each side. Superstep 2 retires both
    with one finish_ranges record, without decomposition or trims."""
    arcs = [(a, b) for a in range(3) for b in range(3) if a != b]
    arcs += [(10, 11), (11, 12), (12, 13), (13, 14), (14, 0)]
    arcs += [(0, 20), (20, 21), (21, 22), (22, 23), (23, 24)]
    edges = spark.createDataFrame(arcs, "src long, dst long")
    runner = SuperstepRunner(spark)
    res = strongly_connected_components(spark, edges, runner=runner)
    got = {r["id"]: r["scc_id"] for r in res.collect()}
    assert got == kosaraju_scc(arcs, sorted({v for a in arcs for v in a}))
    step2 = [m for m in runner.metrics if m["superstep"] == 2]
    assert [m["phase"] for m in step2] == ["finish_ranges"]
    assert step2[0]["vertices"] == 2 and step2[0]["edges"] == 0


def test_scc_no_trim2(spark):
    got, expect, _ = _run_scc(spark, "sample5.gr", trim2_enabled=False)
    assert got == expect


def test_scc_corpus_ingest_end_to_end(spark):
    """corpus -> pandas-UDF extraction -> SCC, vs oracle on rule edges."""
    from detectingscc_spark.corpus import generate_corpus
    from detectingscc_spark.ingest import ingest
    from .oracles import kosaraju_scc as _k

    n = 400
    corpus = generate_corpus(spark, n)
    verts, edges, _ = ingest(spark, corpus, use_pandas=True)
    res = strongly_connected_components(spark, edges, verts.select("id"))
    got = {r["id"]: r["scc_id"] for r in res.collect()}
    erows = [(r["src"], r["dst"]) for r in edges.collect()]
    assert got == _k(erows, list(range(n)))


def _ring_chords(n=400):
    edges = [(i, (i + 1) % n) for i in range(n)]
    return edges + [(i, (i + 7) % n) for i in range(0, n, 3)], n


def _ring_hub_spokes(n=600):
    # ring 0..n-1 (one giant SCC) + hub 0 spokes to/from every 2nd vertex:
    # the hub touches ~50% of the edges
    edges = [(i, (i + 1) % n) for i in range(n)]
    for i in range(2, n, 2):
        edges += [(0, i), (i, 0)]
    return edges, n


@pytest.mark.parametrize("graph", [_ring_chords, _ring_hub_spokes], ids=["ring-chords", "ring-hub-spokes"])
def test_scc_shuffle_regime(spark, monkeypatch, graph):
    """BROADCAST_ROW_LIMIT forced to 0: every BFS hop is a shuffle
    frontier join and every visited-set probe a shuffle anti-join (AQE
    skew splitting covers the hub). Output must stay exact."""
    from detectingscc_spark.plans import superstep
    from .oracles import kosaraju_scc as _k

    monkeypatch.setattr(superstep, "BROADCAST_ROW_LIMIT", 0)
    edges, n = graph()
    df = spark.createDataFrame(edges, "src long, dst long")
    res = strongly_connected_components(spark, df)
    got = {r["id"]: r["scc_id"] for r in res.collect()}
    assert got == _k(edges, list(range(n)))
    assert len(set(got.values())) == 1  # the ring makes it one SCC


def test_entry_contract(spark):
    import __spark_entry__ as se

    df = se.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"id", "scc_id"}
    assert set(se.oracle_sql()) <= set(se.queries())


@pytest.mark.slow
@pytest.mark.skipif(
    not os.path.exists(os.path.join(REF_DATA, "sample2.gr")),
    reason="needs the reference's sample2.gr, whose bytes the golden belongs to",
)
def test_scc_sample2_giant(spark):
    """32,768-vertex giant-SCC graph (golden: 4,889 SCCs, largest 25,039)."""
    got, expect, v = _run_scc(spark, "sample2.gr", data=REF_DATA)
    assert got == expect
    assert len(set(got.values())) == 4889
