"""Edge triangle support and k-truss decomposition — link-graph
companion family (SURVEY.md §2.11; absent from the reference, standard
cohesive-subgraph analysis on web/link graphs).

The k-truss of the undirected simple view of the link graph is the
maximal subgraph in which every edge participates in >= k-2 triangles
(triangles counted within the surviving subgraph). Peeling: compute
per-edge support, drop edges below threshold, repeat. Each round is
exact integer arithmetic, so a fixed-round run unrolls into SQL CTEs
(KTRUSS_SQL in __spark_entry__ mirrors it round by round) and the
fixpoint result is unique regardless of enumeration order.

Scale notes: per-round support recomputation runs the triangle kernel
(`oriented` + `closed_wedges`, operators/triangles.py) on a MATERIALIZED
monotone-shrinking residual edge set — each round re-orients the
(smaller) residual rather than re-scanning the full edge table. One
support-agg job + one residual checkpoint per round through the
SuperstepRunner (lineage truncated, counts ride as tick observations).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..graph import undirected_degrees, undirected_edges
from ..plans.superstep import SuperstepRunner
from .triangles import closed_wedges, oriented


def _support(und: DataFrame) -> DataFrame:
    """(a, b, support) for every canonical undirected edge (a < b):
    the number of triangles the edge lies in. Edges in no triangle get
    support 0. Input must already be canonical (a < b, distinct) — the
    orientation is built directly on it (no re-canonicalizing
    distinct), so each peel round costs one degree agg + the wedge
    join, both on the shrinking residual."""
    tris = closed_wedges(oriented(und, undirected_degrees(und)))
    # each triangle credits its three edges, re-canonicalized to (a < b)
    credits = (
        tris.select(F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b"))
        .unionAll(tris.select(F.least("u", "w").alias("a"), F.greatest("u", "w").alias("b")))
        .unionAll(tris.select(F.least("v", "w").alias("a"), F.greatest("v", "w").alias("b")))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("support"))
    )
    return und.join(credits, ["a", "b"], "left").select(
        "a", "b", F.coalesce(F.col("support"), F.lit(0)).alias("support")
    )


def edge_support(spark: SparkSession, edges: DataFrame) -> DataFrame:
    """Per-edge triangle support over the full graph: (a, b, support)."""
    return _support(undirected_edges(edges))


def ktruss(
    spark: SparkSession,
    edges: DataFrame,
    k: int = 4,
    *,
    rounds: int | None = None,
    max_rounds: int = 64,
    runner: SuperstepRunner | None = None,
) -> DataFrame:
    """Surviving edges of the k-truss: (a: long, b: long), a < b.

    rounds=None (default) peels to fixpoint (bounded by max_rounds,
    raising if unconverged — the coloring-engine guard discipline);
    rounds=r runs exactly r peeling rounds, the fixed-depth form the
    DuckDB oracle unrolls. The fixpoint is unique, so any r >= the
    convergence depth yields it too.
    """
    if k < 2:
        raise ValueError(f"ktruss: k must be >= 2, got {k}")
    runner = runner or SuperstepRunner(spark, run_id=f"ktruss{k}")
    resid = undirected_edges(edges)
    resid, n_edges = runner.tick("resid", resid)
    thresh = k - 2
    n_iters = rounds if rounds is not None else max_rounds
    for i in range(n_iters):
        runner.superstep = i + 1
        runner.bump("iterations")
        survivors = _support(resid).where(F.col("support") >= thresh).select("a", "b")
        survivors, n_next = runner.tick("resid", survivors)
        converged = n_next == n_edges
        resid, n_edges = survivors, n_next
        if rounds is None and converged:
            break
        if n_next == 0:
            break
    else:
        if rounds is None:
            raise RuntimeError(f"ktruss: no fixpoint within max_rounds={max_rounds}")
    result = resid.select("a", "b")
    runner.release("resid")
    return result
