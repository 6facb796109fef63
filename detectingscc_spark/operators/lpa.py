"""Label propagation (community detection) — north_rule companion
algorithm (SURVEY.md §2.11).

Synchronous LPA over the undirected graph: every round each vertex adopts
the most frequent label among its neighbors, ties broken by MIN label,
for a fixed number of rounds (synchronous + deterministic tie-break makes
the result exactly reproducible — required for oracle testing; classic
async LPA is nondeterministic).

One shuffle per round: groupBy(dst, label).count() then per-dst
max_by(label, struct(count, -label)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..graph import canonical_edges, symmetric_edges, undirected_edges, vertex_universe
from ..plans.superstep import SuperstepRunner, bc


def label_propagation(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    *,
    rounds: int = 5,
    runner: SuperstepRunner | None = None,
) -> DataFrame:
    """Return (id: long, label: long) after `rounds` synchronous rounds."""
    runner = runner or SuperstepRunner(spark, run_id="lpa")
    lab, n_verts = runner.tick(
        "label", vertex_universe(canonical_edges(edges), vertices).select("id", F.col("id").alias("label"))
    )
    # the vote join is on src and both vote aggs group by dst
    sym = runner.keyed_edges("edges", symmetric_edges(undirected_edges(edges)), "dst", "src", n_verts)

    for i in range(rounds):
        runner.superstep = i + 1
        runner.bump("iterations")
        # label side broadcast-hinted from the driver-known vertex count
        # (the detached frame's stats are reset by design)
        votes = (
            sym.join(bc(lab.select(F.col("id").alias("src"), F.col("label").alias("nl")), n_verts), "src")
            .groupBy("dst", "nl")
            .agg(F.count("*").alias("c"))
            .groupBy("dst")
            .agg(F.expr("max_by(nl, struct(c, -nl))").alias("winner"))
            .select(F.col("dst").alias("id"), "winner")
        )
        new_lab = lab.join(bc(votes, n_verts), "id", "left").select(
            "id", F.coalesce(F.col("winner"), F.col("label")).alias("label")
        )
        lab, _ = runner.tick("label", new_lab, count=False)
        runner.log("lpa_round")
    runner.release("edges")
    return lab.select("id", "label")
