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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.superstep import SuperstepRunner
from .scc import _bc


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
    E = (
        edges.select(F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    und = E.unionByName(E.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct()

    verts = E.select(F.col("src").alias("id")).union(E.select(F.col("dst").alias("id"))).distinct()
    if vertices is not None:
        verts = verts.union(vertices.select(F.col("id").cast("long"))).distinct()

    from pyspark.sql import Observation

    from .scc import BROADCAST_ROW_LIMIT

    lab = verts.select("id", F.col("id").alias("label"))
    lab, n_verts = runner.tick("label", lab)

    # In the broadcast regime (label frame under the broadcast limit) the
    # pull join is broadcast-hash, so partitioning the PERSISTED edge
    # frame by the pull's AGG key (src) carries through the join and
    # makes every iteration's aggregation exchange-free (persist — unlike
    # localCheckpoint — preserves partitioning). Past it the pull is a
    # sort-merge join on dst, where dst partitioning saves reshuffling
    # the edge table every iteration instead.
    und_key = "src" if n_verts <= BROADCAST_ROW_LIMIT else "dst"
    und, _ = runner.tick(
        "edges", und.repartition(und_key), truncate=False, count=False, detach=False
    )
    prev_sum = None  # labels monotone non-increasing; sum fixpoint = converged

    for i in range(max_iters):
        runner.superstep = i + 1
        runner.bump("iterations")
        # pointer jumps FIRST, as broadcast self-lookups against the
        # MATERIALIZED previous labels (broadcast-hinted from the
        # driver-known vertex count — the detached frame's stats are
        # reset by design). The old post-pull self-join re-evaluated the
        # whole un-materialized pull subtree twice per tick; any
        # refinement order reaches the same unique fixpoint (component
        # min id), detected by the same monotone label-sum observation.
        cur = lab
        for _j in range(2):
            cur = cur.join(
                _bc(lab.select(F.col("id").alias("label"), F.col("label").alias("ll")), n_verts),
                "label",
                "left",
            ).select(
                "id",
                F.least(F.col("label"), F.coalesce(F.col("ll"), F.col("label"))).alias("label"),
            )
        nbr = (
            und.join(_bc(cur.select(F.col("id").alias("dst"), F.col("label").alias("nl")), n_verts), "dst")
            .groupBy("src")
            .agg(F.min("nl").alias("nmin"))
            .select(F.col("src").alias("id"), "nmin")
        )
        l1 = cur.join(_bc(nbr, n_verts), "id", "left").select(
            "id", F.least(F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))).alias("label")
        )
        # convergence sum rides as an observed metric of the tick's own
        # materialization job — one driver action per iteration, not three
        obs = Observation(f"cc_{i}")
        lab, _ = runner.tick("label", l1.observe(obs, F.sum("label").alias("s")), count=False)
        new_sum = obs.get["s"]
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
    from .kcore import undirected_edges

    und = undirected_edges(edges)
    sym = und.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionAll(
        und.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    cc = connected_components(spark, edges, runner=runner)
    roots = cc.select(F.col("cc_id").alias("id")).distinct()
    dist = landmark_distances(spark, sym, roots, max_hops=max_hops)
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
