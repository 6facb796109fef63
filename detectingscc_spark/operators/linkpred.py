"""Neighborhood-overlap link prediction — common neighbors, Jaccard,
Adamic-Adar (standard web/link-graph analysis; SURVEY.md §2.11 companion
family, absent from the reference).

For every NON-adjacent vertex pair (a < b) of the undirected simple view
that shares at least one neighbor:
  common  = |N(a) ∩ N(b)|                 (exact integer)
  jaccard = common / (|N(a)| + |N(b)| - common)
  adamic_adar = Σ_{v ∈ N(a)∩N(b)} 1 / ln(deg(v))
(deg(v) >= 2 for any common neighbor, so ln(deg) is never 0.)

One wedge self-join generates exactly the candidate pairs (no all-pairs
product): pairs materialize only through a shared center v, costing
Σ_v deg(v)² shuffle rows. That sum is hub-dominated, so the production
knob `max_center_degree` drops centers above a degree cap — the standard
top-k-link-prediction mitigation (a hub shared by everyone carries ~no
signal and its 1/ln(deg) weight is ~0) — turning the cost into
Σ_{deg(v)<=cap} deg(v)². The oracle-checked query runs uncapped for
exactness.

Ranking is by (common DESC, a, b) — a total, all-integer order, so the
top-k cut is deterministic and engine-portable; the double-valued scores
ride along rounded to 6dp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..graph import symmetric_edges, undirected_degrees, undirected_edges


def link_prediction(
    spark: SparkSession,
    edges: DataFrame,
    top_k: int = 20,
    *,
    max_center_degree: int | None = None,
) -> DataFrame:
    """Top-k predicted links: (a, b, common, jaccard6, adamic_adar6)."""
    und = undirected_edges(edges)
    nbrs = symmetric_edges(und).select(F.col("src").alias("id"), F.col("dst").alias("nbr"))
    deg = undirected_degrees(und)
    centers = nbrs.join(deg, "id")
    if max_center_degree is not None:
        centers = centers.where(F.col("deg") <= max_center_degree)
    # wedge through center v=id: every unordered candidate pair exactly
    # once per shared neighbor
    n1 = centers.select(F.col("id").alias("v"), F.col("nbr").alias("a"), F.col("deg").alias("dv"))
    n2 = centers.select(F.col("id").alias("v"), F.col("nbr").alias("b"))
    cand = (
        n1.join(n2, "v")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).alias("common"),
            F.sum(F.lit(1.0) / F.log(F.col("dv").cast("double"))).alias("aa"),
        )
        .join(und, ["a", "b"], "left_anti")
    )
    da = deg.select(F.col("id").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("id").alias("b"), F.col("deg").alias("db"))
    scored = cand.join(da, "a").join(db, "b").select(
        "a",
        "b",
        "common",
        F.round(
            F.col("common").cast("double") / (F.col("da") + F.col("db") - F.col("common")), 6
        ).alias("jaccard6"),
        F.round("aa", 6).alias("adamic_adar6"),
    )
    return scored.orderBy(F.col("common").desc(), "a", "b").limit(top_k)
