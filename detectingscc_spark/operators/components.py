"""Connected components (undirected / weak) via hash-min label propagation
with pointer jumping.

Reuses the reference's two label-propagation primitives — pull-min over
edges (/root/reference/src/scc_kernels.cu:496-521) and path shortcutting
`range[v] = range[range[v]]` (/root/reference/src/scc_kernels.cu:523-536)
— but over the UNION of edges and reversed edges, which turns the
reference's "safe refinement" into true WCC (SURVEY.md §2.5).

Output: (id: long, cc_id: long), cc_id = min member id. Pointer jumping
makes convergence O(log diameter) supersteps instead of O(diameter).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..graph import canonical_edges, symmetric_edges, undirected_edges, vertex_universe
from ..plans.superstep import SuperstepRunner, bc


def label_step(
    runner: SuperstepRunner, slot: str, edges: DataFrame, lab: DataFrame, n: int, agg: str
) -> tuple[DataFrame, int]:
    """One label-propagation superstep over (id, label): the reference's
    pull-extremum plus pointer jump (pull-min `propagateRange1` with
    `propagateRange2`, /root/reference/src/scc_kernels.cu:496-536; pull-max
    `colorPropagation`, :539-564). `agg` is "min" or "max".

    Two pointer jumps run FIRST, as broadcast self-lookups against the
    MATERIALIZED labels `lab` (a post-pull self-join would re-evaluate the
    whole un-materialized pull subtree twice per tick). Then one pull over
    `edges` (join on dst, aggregate by src) and the combine with the
    current labels. Label-side joins are broadcast-hinted from the
    driver-known row count `n` (the detached frame's stats are reset by
    design). Labels move monotonically, and any refinement order reaches
    the same unique fixpoint, so callers stop when the label sum repeats.
    The sum rides as an observed metric of the tick's own materialization
    job: one driver action per step. Returns (labels, label sum)."""
    ext, pull = (F.least, F.min) if agg == "min" else (F.greatest, F.max)
    cur = lab
    for _ in range(2):
        cur = cur.join(
            bc(lab.select(F.col("id").alias("label"), F.col("label").alias("ll")), n), "label", "left"
        ).select("id", ext(F.col("label"), F.coalesce(F.col("ll"), F.col("label"))).alias("label"))
    nbr = (
        edges.join(bc(cur.select(F.col("id").alias("dst"), F.col("label").alias("nl")), n), "dst")
        .groupBy("src")
        .agg(pull("nl").alias("nx"))
        .select(F.col("src").alias("id"), "nx")
    )
    new = cur.join(bc(nbr, n), "id", "left").select(
        "id", ext(F.col("label"), F.coalesce(F.col("nx"), F.col("label"))).alias("label")
    )
    obs = Observation()
    lab, _ = runner.tick(slot, new.observe(obs, F.sum("label").alias("s")), count=False)
    return lab, obs.get["s"]


def connected_components(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    *,
    max_iters: int = 50,
    runner: SuperstepRunner | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    runner = runner or SuperstepRunner(spark, checkpoint_dir=checkpoint_dir, run_id="cc")
    lab, n_verts = runner.tick(
        "label", vertex_universe(canonical_edges(edges), vertices).select("id", F.col("id").alias("label"))
    )
    sym = runner.keyed_edges("edges", symmetric_edges(undirected_edges(edges)), "src", "dst", n_verts)
    prev_sum = None  # labels monotone non-increasing; sum fixpoint = converged
    for i in range(max_iters):
        runner.superstep = i + 1
        runner.bump("iterations")
        lab, new_sum = label_step(runner, "label", sym, lab, n_verts, "min")
        runner.log("cc_iter", label_sum=int(new_sum))
        runner.maybe_checkpoint({"label": lab})
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    result = lab.select("id", F.col("label").alias("cc_id"))
    runner.release("edges")
    return result


def bipartiteness(
    spark: SparkSession,
    edges: DataFrame,
    *,
    max_hops: int = 64,
    runner: SuperstepRunner | None = None,
) -> DataFrame:
    """Bipartiteness check of the undirected simple view via BFS-forest
    parity: one row (n_components, n_odd_edges, is_bipartite).

    A graph is bipartite iff some (equivalently any) BFS forest has no
    edge joining two vertices of equal layer parity. Roots = each WCC's
    canonical min-id label (connected_components), so every vertex is
    reached by exactly one root; all component BFS waves advance in ONE
    keyed frontier (operators/centrality.py::landmark_distances over the
    symmetrized edges). Odd edges are counted, not just detected — the
    count is the natural 'how far from bipartite' report number and
    makes the all-integer DuckDB oracle exact.
    """
    from .centrality import landmark_distances

    und = undirected_edges(edges)
    cc = connected_components(spark, edges, runner=runner)
    roots = cc.select(F.col("cc_id").alias("id")).distinct()
    dist = landmark_distances(spark, symmetric_edges(und), roots, max_hops=max_hops)
    parity = dist.select("id", (F.col("dist") % 2).alias("p"))
    odd = (
        und.join(parity.select(F.col("id").alias("a"), F.col("p").alias("pa")), "a")
        .join(parity.select(F.col("id").alias("b"), F.col("p").alias("pb")), "b")
        .where(F.col("pa") == F.col("pb"))
    )
    n_comp = roots.agg(F.count(F.lit(1)).alias("n_components"))
    return (
        odd.agg(F.count(F.lit(1)).alias("n_odd_edges"))
        .crossJoin(F.broadcast(n_comp))
        .select(
            "n_components",
            "n_odd_edges",
            (F.col("n_odd_edges") == 0).alias("is_bipartite"),
        )
    )
