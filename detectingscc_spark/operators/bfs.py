"""Multi-source BFS shortest hop-distance (link-graph primitive), and
`reach`, the one frontier kernel every BFS of the engine runs.

dist(v) = min hops from any source to v along directed edges; vertices
unreachable from the source set are absent from the output. A bounded
run (`max_hops`) is a fixed-depth deterministic recurrence, so the
DuckDB oracle expresses it directly as a recursive CTE with min(dist)
(BFS_DIST_SQL in __spark_entry__).

`reach` is the reference's frontier expansion (`fwd`/`bwd`, `fwdColoring`,
/root/reference/src/scc_kernels.cu:360-416,584-610) as ONE join per hop:
the frontier joins the edges, the reached ids are deduplicated and
anti-joined with the visited set, and the new level is materialized as
one fragment of a compacting `Fragments` set (plans/superstep.py), so a
64-hop run never carries a 64-leaf union in its plan. Frontier and
visited set are broadcast while their driver-known counts allow. The FB
and coloring SCC engines, `bfs_distances` and `landmark_distances` all
call it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..graph import canonical_edges
from ..plans.superstep import Fragments, SuperstepRunner, bc


def reach(
    runner: SuperstepRunner,
    name: str,
    edges: DataFrame,
    seed: DataFrame,
    max_hops: int,
    *,
    dist: bool = False,
) -> tuple[Fragments, int, int]:
    """Expand `seed` along `edges(src, dst, ...)` for at most `max_hops`
    hops; returns (visited, hops, frontier rows left).

    `seed` has an `id` column plus key columns. A key the edges share
    (FB's `dir`) joins with `src`, so each key value walks only its own
    edges; any other key (landmarks' `lm`) rides along, so each value is
    its own BFS. The visited set is keyed by all seed columns and holds
    the seed as fragment `<name>_0` and hop h as `<name>_h`. With `dist`,
    every visited row also carries its hop count. `hops` counts the hop
    joins run, including the empty one that ends a walk on its own;
    rows are left only when `max_hops` stopped the walk. Counters and
    `runner.superstep` are the caller's."""
    keys = seed.columns
    shared = [c for c in keys if c in edges.columns]
    out = [F.col("dst").alias("id") if c == "id" else c for c in keys]
    vis = Fragments(runner, name)
    front, f_cnt = vis.add(seed.withColumn("dist", F.lit(0).cast("long")) if dist else seed)
    hops = 0
    while f_cnt and hops < max_hops:
        hops += 1
        level = (
            edges.join(bc(front.select(*keys).withColumnRenamed("id", "src"), f_cnt), [*shared, "src"])
            .select(*out)
            .distinct()
            .join(bc(vis.view.select(*keys), vis.count), keys, "left_anti")
        )
        if dist:
            level = level.withColumn("dist", F.lit(hops).cast("long"))
        front, f_cnt = vis.add(level)
    return vis, hops, f_cnt


def bfs_distances(
    spark: SparkSession,
    edges: DataFrame,
    sources: DataFrame,
    *,
    max_hops: int = 64,
    runner: SuperstepRunner | None = None,
) -> DataFrame:
    """Return (id: long, dist: long) for every vertex reachable from
    `sources` (an `id` DataFrame) within `max_hops` directed hops;
    sources themselves have dist 0."""
    runner = runner or SuperstepRunner(spark, run_id="bfs")
    E, _ = runner.tick("edges", canonical_edges(edges), detach=False)
    seed = sources.select(F.col("id").cast("long")).distinct()
    settled, hops, _ = reach(runner, "settled", E, seed, max_hops, dist=True)
    runner.bump("FWD_iterations", hops)
    runner.release("edges")
    return settled.view.select("id", "dist")
