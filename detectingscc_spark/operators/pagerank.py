"""PageRank as iterative DataFrame supersteps (north_rule companion
algorithm; absent from the reference — SURVEY.md §2.11).

rank_{t+1}(v) = (1-d)/N + d * (Σ_{u→v} rank_t(u)/outdeg(u) + dangling_t/N)

Dangling mass (vertices with outdeg 0) is redistributed uniformly, so
Σ rank = 1 at every step. Converges to allclose(1e-6) vs a dense numpy
power-iteration oracle (tests/test_pagerank.py).

Scale notes: `contrib` is the one shuffle per iteration (groupBy dst);
edges are pre-partitioned by src and carry out_deg folded in so each
iteration joins rank (N rows) once with edges and aggregates. Dangling
mass is a scalar agg. Lineage truncated per iteration via the runner.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..graph import canonical_edges, vertex_universe
from ..plans.superstep import SuperstepRunner, bc


def pagerank(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    *,
    damping: float = 0.85,
    tol: float = 1e-9,
    max_iters: int = 100,
    fixed_iters: int | None = None,
    runner: SuperstepRunner | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Return (id: long, rank: double). Duplicate edges count once
    (graph semantics follow the SCC engine: dedup, keep self-loops out)."""
    runner = runner or SuperstepRunner(spark, checkpoint_dir=checkpoint_dir, run_id="pagerank")
    E = canonical_edges(edges)
    verts = vertex_universe(E, vertices)
    outdeg = E.groupBy("src").count().select(F.col("src").alias("id"), F.col("count").alias("od"))
    # fold the dangling marker into the vertex frame ONCE: the per-
    # iteration dangling-mass sum becomes a filter over the rank state
    # (same rows in the same stream order as the old semi-join — the
    # summed doubles are identical) instead of a join per iteration
    verts = verts.join(
        outdeg.select("id", F.lit(True).alias("has_out")), "id", "left"
    ).select("id", F.coalesce(F.col("has_out"), F.lit(False)).alias("has_out"))
    verts = verts.select("id", (~F.col("has_out")).alias("dang"))
    verts, n = runner.tick("verts", verts, detach=False)

    # fold outdeg into the edge table once: each edge carries 1/outdeg(src);
    # the contrib join is on src and its aggregation groups by dst
    Ew = E.join(outdeg, E["src"] == outdeg["id"]).select("src", "dst", (F.lit(1.0) / F.col("od")).alias("w"))
    Ew = runner.keyed_edges("edges", Ew, "dst", "src", n)

    rank = verts.select("id", (F.lit(1.0) / F.lit(n)).alias("rank"), "dang")
    rank, _ = runner.tick("rank", rank)

    iters = fixed_iters if fixed_iters is not None else max_iters
    for i in range(iters):
        runner.superstep = i + 1
        runner.bump("iterations")
        # dangling mass folded into the same plan as a broadcast 1-row
        # cross join -> ONE job per iteration instead of three
        dm = (
            rank.where(F.col("dang"))
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm"))
        )
        # rank side broadcast-hinted from the driver-known vertex count;
        # past the limit the join falls back to shuffling ONLY the rank
        # side (Ew stays partitioned by the join key src)
        contrib = (
            Ew.join(bc(rank.select("id", "rank"), n).withColumnRenamed("id", "src"), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("w")).alias("c"))
            .select(F.col("dst").alias("id"), "c")
        )
        new_rank = (
            verts.join(bc(contrib, n), "id", "left")
            .crossJoin(F.broadcast(dm))
            .select(
                "id",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping)
                    * (F.coalesce(F.col("c"), F.lit(0.0)) + F.col("dm") / F.lit(float(n)))
                ).alias("rank"),
                "dang",
            )
        )
        new_rank, _ = runner.tick("rank_next", new_rank, count=(fixed_iters is None))
        if fixed_iters is None:
            delta = (
                new_rank.select("id", "rank")
                .join(rank.select("id", F.col("rank").alias("prev")), "id")
                .agg(F.max(F.abs(F.col("rank") - F.col("prev"))))
                .first()[0]
            )
            runner.log("pagerank_iter", delta=float(delta))
            runner.promote("rank_next", "rank")
            rank = new_rank
            if delta < tol:
                break
        else:
            runner.promote("rank_next", "rank")
            rank = new_rank
        runner.maybe_checkpoint({"rank": rank})
    result = rank.select("id", "rank")
    for s in ("verts", "edges"):
        runner.release(s)
    return result


def personalized_pagerank(
    spark: SparkSession,
    edges: DataFrame,
    sources: DataFrame,
    *,
    damping: float = 0.85,
    fixed_iters: int = 10,
    runner: SuperstepRunner | None = None,
) -> DataFrame:
    """Random-walk-with-restart PageRank personalized to a source set.

    rank_{t+1}(v) = (1-d)*p(v) + d * (Σ_{u→v} rank_t(u)/outdeg(u) + dangling_t*p(v))

    where p(v) = 1/|S| for v in `sources` (a DataFrame with an `id`
    column) and 0 elsewhere; the restart AND the dangling mass both teleport
    to the source set, so Σ rank = 1 every step and mass never leaks to
    vertices unreachable from S. Fixed-depth deterministic recurrence —
    the DuckDB oracle unrolls it (PPR_SQL in __spark_entry__) mirroring
    this expression order, like the global-pagerank oracle.

    Scale notes: identical plan shape to `pagerank` — the per-iteration
    shuffle is the contrib groupBy(dst); p rides as a column of the
    vertex frame (no extra shuffle); the dangling sum is a scalar agg
    folded into the same job via a broadcast 1-row cross join.
    """
    runner = runner or SuperstepRunner(spark, run_id="ppr")
    E = canonical_edges(edges)
    verts = vertex_universe(E)
    # restrict S to vertices of the graph BEFORE counting: a source with
    # no incident edges would otherwise make sum(p) < 1 and leak restart
    # mass (vp below only assigns p(v) over the edge-derived vertex set)
    S = (
        sources.select(F.col("id").cast("long"))
        .distinct()
        .join(verts, "id", "left_semi")
    )
    n_src = S.count()
    if n_src == 0:
        raise ValueError("personalized_pagerank: no sources present in the graph")
    outdeg = E.groupBy("src").count().select(F.col("src").alias("id"), F.col("count").alias("od"))
    # p(v) and the dangling marker folded into the vertex frame once
    # (the pagerank() round-7 fold: the per-iteration dangling-mass sum
    # becomes a filter over the rank state instead of a join)
    vp = (
        verts.join(S.withColumn("in_s", F.lit(1)), "id", "left")
        .join(outdeg.select("id", F.lit(True).alias("has_out")), "id", "left")
        .select(
            "id",
            (F.coalesce(F.col("in_s"), F.lit(0)) / F.lit(float(n_src))).alias("p"),
            F.coalesce(~F.col("has_out"), F.lit(True)).alias("dang"),
        )
    )
    vp, n_v = runner.tick("verts", vp, detach=False)

    Ew = E.join(outdeg, E["src"] == outdeg["id"]).select("src", "dst", (F.lit(1.0) / F.col("od")).alias("w"))
    Ew = runner.keyed_edges("edges", Ew, "dst", "src", n_v)

    rank = vp.select("id", F.col("p").alias("rank"), "dang")
    rank, _ = runner.tick("rank", rank)

    for i in range(fixed_iters):
        runner.superstep = i + 1
        runner.bump("iterations")
        dm = (
            rank.where(F.col("dang"))
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm"))
        )
        contrib = (
            Ew.join(bc(rank.select("id", "rank"), n_v).withColumnRenamed("id", "src"), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("w")).alias("c"))
            .select(F.col("dst").alias("id"), "c")
        )
        new_rank = (
            vp.join(bc(contrib, n_v), "id", "left")
            .crossJoin(F.broadcast(dm))
            .select(
                "id",
                (
                    F.lit(1.0 - damping) * F.col("p")
                    + F.lit(damping)
                    * (F.coalesce(F.col("c"), F.lit(0.0)) + F.col("dm") * F.col("p"))
                ).alias("rank"),
                "dang",
            )
        )
        new_rank, _ = runner.tick("rank_next", new_rank, count=False)
        runner.promote("rank_next", "rank")
        rank = new_rank
    result = rank.select("id", "rank")
    for s in ("verts", "edges"):
        runner.release(s)
    return result
