"""Randomized + degenerate-graph equivalence: all three SCC variants must
agree with the Kosaraju oracle on seeded Erdos-Renyi digraphs and on the
degenerate shapes fixtures don't cover (no edges, self-loops only,
2-cycles, star). The FB-engine variants run a second time with the range
finish switched off (both caps 0), so FB rounds >= 2 stay under test."""

import random

import pytest

from detectingscc_spark.operators.coloring import scc_coloring
from detectingscc_spark.operators.partitioned import scc_partitioned
from detectingscc_spark.operators.scc import strongly_connected_components
from detectingscc_spark.plans.superstep import SuperstepRunner

from .conftest import no_range_finish
from .oracles import kosaraju_scc


def _phases(runner, *phases, after=1):
    return [m for m in runner.metrics if m["phase"] in phases and m["superstep"] > after]


def _labels(spark, fn, edges, verts):
    runner = SuperstepRunner(spark)
    return {r["id"]: r["scc_id"] for r in fn(spark, edges, verts, runner=runner).collect()}, runner


def _check_all_variants(spark, erows, vids):
    edges = spark.createDataFrame(erows or [(0, 0)], "src long, dst long")
    if not erows:
        edges = edges.limit(0)
    verts = spark.createDataFrame([(v,) for v in vids], "id long")
    exp = kosaraju_scc(erows, vids)
    assert _labels(spark, scc_coloring, edges, verts)[0] == exp, "coloring mismatch"
    for fn, name in ((strongly_connected_components, "fbtrim"), (scc_partitioned, "partitioned")):
        got, runner = _labels(spark, fn, edges, verts)
        assert got == exp, f"{name} mismatch"
        finished = _phases(runner, "finish_ranges")
        with pytest.MonkeyPatch.context() as mp:
            no_range_finish(mp)
            got, runner = _labels(spark, fn, edges, verts)
        assert got == exp, f"{name} mismatch without the range finish"
        assert not _phases(runner, "finish_ranges", after=0)
        # what the finish retired from round 2 on, FB rounds now retire
        if finished:
            assert _phases(runner, "pivots", "decompose"), name


@pytest.mark.parametrize("seed", [1, 7, 23])
def test_scc_random_digraph_all_variants(spark, seed):
    rng = random.Random(seed)
    n = 30
    vids = list(range(n))
    erows = sorted(
        {(rng.randrange(n), rng.randrange(n)) for _ in range(90)}
    )
    _check_all_variants(spark, erows, vids)


def test_scc_degenerate_shapes(spark):
    # no edges: every vertex its own SCC
    _check_all_variants(spark, [], [0, 1, 2, 3])
    # self-loops only (engine drops them; singleton SCCs)
    _check_all_variants(spark, [(0, 0), (1, 1)], [0, 1, 2])
    # disjoint 2-cycles + isolated vertex + star into a cycle
    erows = [(0, 1), (1, 0), (2, 3), (3, 2), (5, 6), (6, 7), (7, 5), (4, 5)]
    _check_all_variants(spark, erows, list(range(8)))


def test_scc_operators_release_working_frames(spark):
    """Once an SCC-family operator returns, its runner holds only the
    `done_*` fragments the result reads: every working frame (active
    set, residual, BFS state and levels) is released."""
    rng = random.Random(5)
    n = 300
    vids = list(range(n))
    erows = sorted({(rng.randrange(n), rng.randrange(n)) for _ in range(900)})
    edges = spark.createDataFrame(erows, "src long, dst long")
    verts = spark.createDataFrame([(v,) for v in vids], "id long")
    exp = kosaraju_scc(erows, vids)
    for fn, name in (
        (strongly_connected_components, "fbtrim"),
        (scc_coloring, "coloring"),
        (scc_partitioned, "partitioned"),
    ):
        runner = SuperstepRunner(spark)
        got = {r["id"]: r["scc_id"] for r in fn(spark, edges, verts, runner=runner).collect()}
        assert got == exp, f"{name} mismatch"
        left = sorted(s for s in runner._live if not s.startswith("done_"))
        assert left == [], f"{name} left {left} live"


def test_scc_rerun_after_range_finish_adds_no_rows(spark, tmp_path):
    """A range finish that retires every active vertex must leave an empty
    active set in the final checkpoint: a rerun on the same checkpoint
    directory resumes from it and returns the same rows, no vertex twice.
    Two 20-vertex cycles with random chords, one arc between them: round
    1 retires the pivot's cycle and round 2 finishes the other one."""
    rng = random.Random(9)
    n = 40
    vids = list(range(n))
    erows = sorted(
        {(lo + i, lo + (i + 1) % 20) for lo in (0, 20) for i in range(20)}
        | {(lo + rng.randrange(20), lo + rng.randrange(20)) for lo in (0, 20) for _ in range(20)}
        | {(25, 5)}
    )
    edges = spark.createDataFrame(erows, "src long, dst long")
    verts = spark.createDataFrame([(v,) for v in vids], "id long")
    exp = kosaraju_scc(erows, vids)
    for run in ("first", "rerun"):
        runner = SuperstepRunner(spark, checkpoint_dir=str(tmp_path / "ck"))
        rows = strongly_connected_components(spark, edges, verts, runner=runner).collect()
        if run == "first":
            assert _phases(runner, "finish_ranges")
        assert len(rows) == n, run
        assert {r["id"]: r["scc_id"] for r in rows} == exp, run
