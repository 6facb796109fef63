"""Condensation-DAG analytics: transitive closure by path doubling and
per-component descendant counts (SURVEY.md §2.11 companion family — the
natural follow-on query over the contracted graph the partitioned
engine's merge phase produces, operators/partitioned.py).

Path doubling R ← R ∪ (R ∘ R) converges in ⌈log₂(longest path)⌉ rounds
instead of the longest path itself — the standard trade for distributed
closure (each round is one self-join + distinct on the reach set).

Scale contract: the reach SET (not the input graph) is the cost — for a
web-graph condensation the closure can be quadratic in components, so
this op is intended for bounded condensations (the contraction output of
an SCC run; on sf-scale fixtures tens-to-thousands of components), with
max_rounds as the loud guard. The per-component COUNT output is always
small; only the intermediate reach frame grows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..plans.superstep import SuperstepRunner


def transitive_closure(
    spark: SparkSession,
    edges: DataFrame,
    *,
    max_rounds: int = 32,
    runner: SuperstepRunner | None = None,
) -> DataFrame:
    """All reachability pairs (src, dst), src ≠ dst, of a DAG.

    Cycles would make a (x, x) pair appear and the loop still converges
    (the closure is finite), so the DAG requirement is about output
    semantics, not termination.
    """
    runner = runner or SuperstepRunner(spark, run_id="tclosure")
    r = edges.select(
        F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst")
    ).distinct()
    r, n = runner.tick("reach", r)
    for i in range(max_rounds):
        runner.superstep = i + 1
        runner.bump("iterations")
        comp = (
            r.join(
                r.select(F.col("src").alias("dst"), F.col("dst").alias("dst2")), "dst"
            )
            .select("src", F.col("dst2").alias("dst"))
        )
        nxt = r.unionAll(comp).distinct()
        nxt, n_next = runner.tick("reach", nxt)
        converged = n_next == n
        r, n = nxt, n_next
        if converged:
            break
    else:
        raise RuntimeError(f"transitive_closure: no fixpoint within max_rounds={max_rounds}")
    result = r
    runner.release("reach")
    return result


def dag_reachability(
    spark: SparkSession,
    dag_edges: DataFrame,
    comps: DataFrame | None = None,
    **kw,
) -> DataFrame:
    """(scc_id, n_desc): number of distinct components reachable from
    each component of the condensation (0 for sinks). `comps(scc_id)`
    widens the universe to components with no DAG edges at all."""
    closure = transitive_closure(spark, dag_edges, **kw)
    counts = closure.groupBy(F.col("src").alias("scc_id")).agg(
        F.count(F.lit(1)).alias("n_desc")
    )
    universe = dag_edges.select(F.col("src").cast("long").alias("scc_id")).union(
        dag_edges.select(F.col("dst").cast("long").alias("scc_id"))
    )
    if comps is not None:
        universe = universe.union(comps.select(F.col("scc_id").cast("long")))
    return (
        universe.distinct()
        .join(counts, "scc_id", "left")
        .select("scc_id", F.coalesce(F.col("n_desc"), F.lit(0)).alias("n_desc"))
    )


def dag_layers(
    spark: SparkSession,
    dag_edges: DataFrame,
    comps: DataFrame | None = None,
    *,
    max_rounds: int = 64,
    runner: SuperstepRunner | None = None,
) -> DataFrame:
    """Longest-path layering of a DAG: (id, layer) where layer(v) = the
    longest directed path from any root (in-degree-0 node) to v — the
    level schedule a topological executor would run the condensation in.

    Iterative relaxation from all-zeros: layer ← max(layer, 1 +
    max_{u→v} layer(u)); converges in `depth` rounds (one join + one agg
    per round over a frame of 2 longs per component), with max_rounds as
    the loud non-DAG/deep-graph guard — a cycle never converges and
    raises instead of looping silently. `comps(id)` widens the universe
    to isolated components (layer 0).
    """
    runner = runner or SuperstepRunner(spark, run_id="daglayers")
    dag = dag_edges.select(
        F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst")
    ).distinct()
    dag, _ = runner.tick("dag", dag, detach=False)
    universe = dag.select(F.col("src").alias("id")).union(dag.select(F.col("dst").alias("id")))
    if comps is not None:
        universe = universe.union(comps.select(F.col("id").cast("long")))
    universe = universe.distinct()
    layers = universe.withColumn("layer", F.lit(0).cast("long"))
    layers, _ = runner.tick("layers", layers)
    # Σ layer is strictly monotone under relaxation, so the convergence
    # probe rides as an observed metric of the layers tick's own job
    prev_sum = 0
    for i in range(max_rounds):
        runner.superstep = i + 1
        runner.bump("iterations")
        cand = (
            dag.join(layers.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg((F.max("layer") + 1).alias("cand"))
        )
        nxt = (
            layers.join(cand, "id", "left")
            .select("id", F.greatest(F.col("layer"), F.coalesce(F.col("cand"), F.lit(0))).alias("layer"))
        )
        obs = Observation()
        layers, _ = runner.tick("layers", nxt.observe(obs, F.sum("layer").alias("s")), count=False)
        cur_sum = obs.get["s"] or 0
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        raise RuntimeError(
            f"dag_layers: no fixpoint within max_rounds={max_rounds} "
            "(cycle in the input, or a deeper DAG than the guard allows)"
        )
    result = layers
    runner.release("dag")
    return result
