"""Coloring-variant SCC (vSlota/wSlota analog) equivalence with the
Kosaraju oracle on the GTgraph fixtures in tests/data (the shapes of the
reference's samples, SURVEY.md §5)."""

import os

import pytest

from detectingscc_spark.operators.coloring import scc_coloring
from detectingscc_spark.sources.gtgraph import gtgraph_meta, read_gtgraph

from .conftest import FIXTURE_DATA
from .oracles import kosaraju_scc


@pytest.mark.parametrize("name", ["sample0.gr", "sample5.gr", "sample128.gr"])
def test_coloring_matches_oracle(spark, name):
    path = os.path.join(FIXTURE_DATA, name)
    v, _ = gtgraph_meta(spark, path)
    edges = read_gtgraph(spark, path)
    res = scc_coloring(spark, edges, spark.range(1, v + 1))
    got = {r["id"]: r["scc_id"] for r in res.collect()}
    erows = [(r["src"], r["dst"]) for r in edges.collect()]
    assert got == kosaraju_scc(erows, list(range(1, v + 1)))
