"""Driver-action budget guard.

At cluster scale the engine's Amdahl term is the NUMBER of driver
actions (Spark jobs) per run, not any one job's size: every superstep
costs a fixed scheduling round-trip, so an accidental second eager
action per tick (a stray .count(), an un-folded Observation, an eager
sizing job) silently doubles the fixed cost long before any benchmark
at fixture scale notices. The counts below are exactly reproducible
run-to-run (69 on sample1 in each of two trials); the bounds carry
headroom for benign plan evolution while still catching a
+1-action-per-tick regression (sample1 alone runs 9 FWD + 9 BWD
iterations, so that failure mode adds >=18 jobs: 69 + 18 > 85)."""

import os

from detectingscc_spark.operators.scc import strongly_connected_components
from detectingscc_spark.sources.gtgraph import gtgraph_meta, read_gtgraph

from .conftest import FIXTURE_DATA

# measured 51 (sample0) / 69 (sample1) jobs on the tests/data fixtures:
# both finish in round 1, whose residual count rides on its tick
_BUDGET = {"sample0": 72, "sample1": 85}


def _jobs_for_scc(spark, name):
    path = os.path.join(FIXTURE_DATA, f"{name}.gr")
    v, _ = gtgraph_meta(spark, path)
    edges = read_gtgraph(spark, path)
    sc = spark.sparkContext
    group = f"action-budget-{name}"
    sc.setJobGroup(group, "driver-action budget guard")
    try:
        n = strongly_connected_components(spark, edges, spark.range(1, v + 1)).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert n == v
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_scc_driver_action_budget(spark):
    for name, budget in _BUDGET.items():
        jobs = _jobs_for_scc(spark, name)
        assert jobs <= budget, (
            f"scc on {name} submitted {jobs} Spark jobs (budget {budget}): "
            "a new eager action per tick multiplies superstep fixed cost "
            "at cluster scale — fold the count into the tick's Observation "
            "or make the frame lazy"
        )


def test_hits_driver_action_budget(spark):
    """hits() submits a LINEAR number of jobs in the iteration count:
    measured exactly 8/iteration + 16 constant (iters 1..4 -> 24/32/40/48,
    the same in each of two trials, the result's count included). The
    budget (45 for iters=3) catches a new one-job eager action per
    half-step (+6, to 46) and, worse, any superlinear growth from
    un-truncated lineage re-evaluation."""
    from detectingscc_spark.operators.hits import hits

    path = os.path.join(FIXTURE_DATA, "sample1.gr")
    v, _ = gtgraph_meta(spark, path)
    edges = read_gtgraph(spark, path)
    sc = spark.sparkContext
    group = "action-budget-hits"
    sc.setJobGroup(group, "driver-action budget guard")
    try:
        n = hits(spark, edges, spark.range(1, v + 1), iters=3).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert n == v
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= 45, (
        f"hits(iters=3) submitted {jobs} Spark jobs (budget 45, measured "
        "40 = 8/iter + 16): an eager action crept into the "
        "per-half-step path or lineage re-evaluation went superlinear"
    )


def test_dag_layers_driver_action_budget(spark):
    """dag_layers' convergence probe (the layer sum) rides as an observed
    metric of each round's `layers` tick: measured 82 jobs on a 10-edge
    chain, which needs 11 rounds. A separate sum action per round costs
    2 jobs more per round (104 before the probe moved into the tick), so
    the budget of 90 catches it."""
    from detectingscc_spark.operators.condensation import dag_layers

    chain = spark.createDataFrame([(i, i + 1) for i in range(10)], "src long, dst long")
    sc = spark.sparkContext
    group = "action-budget-daglayers"
    sc.setJobGroup(group, "driver-action budget guard")
    try:
        layers = {r["id"]: r["layer"] for r in dag_layers(spark, chain).collect()}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert layers == {i: i for i in range(11)}
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= 90, (
        f"dag_layers on a 10-edge chain submitted {jobs} Spark jobs (budget 90, "
        "measured 82): a per-round action crept in beside the layers tick"
    )
