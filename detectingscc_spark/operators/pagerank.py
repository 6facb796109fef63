"""PageRank and personalized PageRank as one power-iteration loop of
DataFrame supersteps (north_rule companion algorithm; absent from the
reference — SURVEY.md §2.11).

rank_{t+1}(v) = teleport(v) + d * (Σ_{u→v} rank_t(u)/outdeg(u) + dangling share)

Both operators build a vertex frame (id, p, dang) — p the start rank and
restart distribution, dang the no-out-edge marker — and run `_iterate`,
the one loop; they differ only in its teleport expression. Dangling mass
(vertices with outdeg 0) is redistributed by p, so Σ rank = 1 at every
step. Converges to allclose(1e-6) vs a dense numpy power-iteration
oracle (tests/test_companion_algos.py).

`push` is the one sparse matrix application, shared with HITS, SALSA
and eigenvector centrality (operators/hits.py): a join of the state
with the keyed edges and one aggregation, the one shuffle of an
iteration. `out_degree_fold` folds 1/outdeg(src) into the edge table
once, so an iteration never joins the degrees. Dangling mass is a
scalar agg in the same plan. Lineage is truncated per iteration by the
runner's tick.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..graph import canonical_edges, vertex_universe
from ..plans.superstep import SuperstepRunner, bc


def push(
    edges: DataFrame,
    x: DataFrame,
    n: int,
    key_in: str,
    key_out: str,
    weight: str | None = None,
    total: DataFrame | None = None,
) -> DataFrame:
    """One lazy matrix application: (id, s) with s(v) = Σ x(u) [/ t] [· w]
    over the rows of `edges` whose `key_in` is u and `key_out` is v.

    x(id, s) is the state; it is broadcast-hinted from `n`, the
    driver-known bound on its rows (past the limit only x is shuffled,
    the edges stay keyed). `weight` names an edge column w. `total` is a
    1-row frame (t), a carried normalizer: each term is divided by t
    before the weight multiplies it. Only vertices that receive a term
    have a row."""
    j = edges.join(bc(x, n).withColumnRenamed("id", key_in), key_in)
    s = F.col("s")
    if total is not None:
        j = j.crossJoin(F.broadcast(total))
        s = s / F.col("t")
    if weight is not None:
        s = s * F.col(weight)
    return j.groupBy(F.col(key_out).alias("id")).agg(F.sum(s).alias("s"))


def out_degree_fold(E: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The out-degree fold: (E(src, dst) plus w = 1/outdeg(src),
    has_out(id, has_out) over the vertices with an out-edge). Every row
    of E counts toward the degree."""
    outdeg = E.groupBy("src").count().select(F.col("src").alias("id"), F.col("count").alias("od"))
    Ew = E.join(outdeg, E["src"] == outdeg["id"]).select("src", "dst", (F.lit(1.0) / F.col("od")).alias("w"))
    return Ew, outdeg.select("id", F.lit(True).alias("has_out"))


def _dangling() -> Column:
    """`dang` of a vertex frame left-joined with out_degree_fold's has_out."""
    return F.coalesce(~F.col("has_out"), F.lit(True)).alias("dang")


def _iterate(runner, Ew, vp, n, teleport, iters, tol=None) -> DataFrame:
    """The one PageRank loop over the vertex frame vp(id, p, dang) of `n`
    rows, which reads the runner's "verts" slot, and the weighted edges
    Ew(src, dst, w). Rank starts at p; each superstep is
    rank = teleport(c, dm) over vp's columns, with c the pushed rank
    (0.0 where none arrives) and dm the dangling mass. With `tol` the
    loop also stops once no rank moved by `tol` or more. Releases the
    slots it reads; returns (id, rank)."""
    Ew = runner.keyed_edges("edges", Ew, "dst", "src", n)
    rank, _ = runner.tick("rank", vp.select("id", F.col("p").alias("rank"), "dang"))
    for i in range(iters):
        runner.superstep = i + 1
        runner.bump("iterations")
        # dangling mass folded into the same plan as a broadcast 1-row
        # cross join -> ONE driver action per iteration
        dm = rank.where(F.col("dang")).agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm"))
        c = push(Ew, rank.select("id", F.col("rank").alias("s")), n, "src", "dst", "w")
        nxt = (
            vp.join(bc(c, n), "id", "left")
            .crossJoin(F.broadcast(dm))
            .select("id", teleport(F.coalesce(F.col("s"), F.lit(0.0)), F.col("dm")).alias("rank"), "dang")
        )
        if tol is not None:
            # the largest rank move rides the tick as an observed metric:
            # the old rank joins the new one's plan
            obs = Observation()
            nxt = (
                nxt.join(bc(rank.select("id", F.col("rank").alias("prev")), n), "id")
                .observe(obs, F.max(F.abs(F.col("rank") - F.col("prev"))).alias("delta"))
                .drop("prev")
            )
        rank, _ = runner.tick("rank", nxt, count=False)
        if tol is not None:
            delta = obs.get["delta"]
            runner.log("pagerank_iter", delta=float(delta))
            if delta < tol:
                break
        runner.maybe_checkpoint({"rank": rank})
    for s in ("verts", "edges"):
        runner.release(s)
    return rank.select("id", "rank")


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
    (graph semantics follow the SCC engine: dedup, keep self-loops out).

    Teleport (1-d)/N to every vertex, dangling mass shared uniformly:
    rank_{t+1}(v) = (1-d)/N + d * (c(v) + dangling_t/N)."""
    runner = runner or SuperstepRunner(spark, checkpoint_dir=checkpoint_dir, run_id="pagerank")
    E = canonical_edges(edges)
    Ew, has_out = out_degree_fold(E)
    verts = vertex_universe(E, vertices).join(has_out, "id", "left").select("id", _dangling())
    verts, n = runner.tick("verts", verts, detach=False)
    vp = verts.select("id", (F.lit(1.0) / F.lit(n)).alias("p"), "dang")

    def teleport(c, dm):
        return F.lit((1.0 - damping) / n) + F.lit(damping) * (c + dm / F.lit(float(n)))

    if fixed_iters is not None:
        return _iterate(runner, Ew, vp, n, teleport, fixed_iters)
    return _iterate(runner, Ew, vp, n, teleport, max_iters, tol)


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
    this expression order, like the global-pagerank oracle. Runs the
    same loop, so the same plan, as `pagerank`; p rides as a column of
    the vertex frame.
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
    S, n_src = runner.tick("sources", S, detach=False)
    if n_src == 0:
        runner.release("sources")
        raise ValueError("personalized_pagerank: no sources present in the graph")
    Ew, has_out = out_degree_fold(E)
    vp = (
        verts.join(S.withColumn("in_s", F.lit(1)), "id", "left")
        .join(has_out, "id", "left")
        .select("id", (F.coalesce(F.col("in_s"), F.lit(0)) / F.lit(float(n_src))).alias("p"), _dangling())
    )
    vp, n = runner.tick("verts", vp, detach=False)
    runner.release("sources")

    def teleport(c, dm):
        return F.lit(1.0 - damping) * F.col("p") + F.lit(damping) * (c + dm * F.col("p"))

    return _iterate(runner, Ew, vp, n, teleport, fixed_iters)
