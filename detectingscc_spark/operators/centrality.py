"""Landmark-based harmonic (closeness-family) centrality — the standard
scalable centrality estimate for web-scale link graphs (exact Brandes-
style betweenness is O(V·E); landmark methods are what runs at 100 TB).

dist(lm, v) = min directed hops from landmark lm to v. Per vertex:
  n_reached = |{lm : 0 < dist(lm, v) <= max_hops}|
  harmonic  = Σ_{lm, dist>0} 1 / dist(lm, v)
Landmarks are a deterministic id predicate, so the whole computation is
a fixed deterministic recurrence and the DuckDB oracle is one recursive
CTE with min(dist) per (lm, id) (HARMONIC_SQL in __spark_entry__ caps
the walk depth identically, so the two engines settle the same pairs).

Scale notes: all landmark BFS waves run SIMULTANEOUSLY in one keyed
frontier — per hop ONE shuffle (the frontier-edge join grouped by
(lm, dst)), never one job per landmark: `operators/bfs.py::reach` with
`lm` as the carried key, its settled (lm, id, dist) set one compacting
`Fragments` set. State is O(landmarks × reachable vertices) rows of 3
longs — the landmark count is the knob that trades accuracy for state,
exactly as in published landmark-centrality systems.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..graph import canonical_edges, vertex_universe
from ..plans.superstep import SuperstepRunner
from .bfs import reach


def landmark_distances(
    spark: SparkSession,
    edges: DataFrame,
    landmarks: DataFrame,
    *,
    max_hops: int = 32,
    runner: SuperstepRunner | None = None,
) -> DataFrame:
    """(lm: long, id: long, dist: long) for every vertex reachable from
    each landmark within `max_hops` directed hops (dist 0 = the landmark
    itself). All landmarks advance in one keyed frontier."""
    runner = runner or SuperstepRunner(spark, run_id="landmarks")
    E, _ = runner.tick("edges", canonical_edges(edges), detach=False)
    seed = landmarks.select(F.col("id").cast("long")).distinct().select(F.col("id").alias("lm"), "id")
    settled, hops, _ = reach(runner, "settled", E, seed, max_hops, dist=True)
    runner.bump("FWD_iterations", hops)
    runner.release("edges")
    return settled.view.select("lm", "id", "dist")


def harmonic_centrality(
    spark: SparkSession,
    edges: DataFrame,
    landmarks: DataFrame,
    *,
    max_hops: int = 32,
    runner: SuperstepRunner | None = None,
) -> DataFrame:
    """(id, n_reached, harmonic6) over the full vertex universe of
    `edges`: how many landmarks reach each vertex and the harmonic sum
    of those distances (self-distance 0 excluded, per the standard
    harmonic definition; unreached vertices get 0 / 0.0)."""
    md = landmark_distances(spark, edges, landmarks, max_hops=max_hops, runner=runner)
    agg = (
        md.where(F.col("dist") > 0)
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_reached"),
            F.round(F.sum(F.lit(1.0) / F.col("dist")), 6).alias("harmonic6"),
        )
    )
    return vertex_universe(edges).join(agg, "id", "left").select(
        "id",
        F.coalesce(F.col("n_reached"), F.lit(0)).alias("n_reached"),
        F.coalesce(F.col("harmonic6"), F.lit(0.0)).alias("harmonic6"),
    )
