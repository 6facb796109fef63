"""Multi-source BFS shortest hop-distance (link-graph primitive; the
directed single-direction specialization of the SCC engine's frontier
machinery, exposed as its own operator).

dist(v) = min hops from any source to v along directed edges; vertices
unreachable from the source set are absent from the output. A bounded
run (`max_hops`) is a fixed-depth deterministic recurrence, so the
DuckDB oracle expresses it directly as a recursive CTE with min(dist)
(BFS_DIST_SQL in __spark_entry__).

Scale notes: per hop ONE shuffle — the frontier-edge join grouped by
dst; the settled-distance frame is only probed with a left_anti join
(new = reached minus settled), never rewritten. The settled view is a
compacted base plus at most COMPACT_EVERY materialized per-hop
fragments (the same discipline as operators/scc.py::_bfs_join) — a
64-hop run never carries a 64-leaf union in its plan. Frontiers shrink
once the wavefront passes the graph's bulk.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..graph import canonical_edges
from ..plans.superstep import SuperstepRunner


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

    seed = sources.select(F.col("id").cast("long")).distinct().withColumn(
        "dist", F.lit(0).cast("long")
    )
    seed, f_cnt = runner.tick("settled_0", seed)
    # settled view = one compacted base + up to COMPACT_EVERY materialized
    # per-hop fragments (lazy union) probed by the anti-join; each hop
    # issues exactly ONE driver action (the `new` tick), plus one
    # re-checkpoint of the base every COMPACT_EVERY hops so a deep run's
    # plan never accumulates a hop-count-deep union
    COMPACT_EVERY = 8
    frag_slots: list[str] = ["settled_0"]
    settled_view = seed
    front = seed.select("id")

    hops = 0
    while f_cnt and hops < max_hops:
        hops += 1
        runner.superstep = hops
        runner.bump("FWD_iterations")
        reached = (
            E.join(front.withColumnRenamed("id", "src"), "src")
            .select(F.col("dst").alias("id"))
            .distinct()
        )
        new = reached.join(settled_view.select("id"), "id", "left_anti").withColumn(
            "dist", F.lit(hops).cast("long")
        )
        new, n_cnt = runner.tick(f"settled_{hops}", new)
        if n_cnt == 0:
            break
        frag_slots.append(f"settled_{hops}")
        settled_view = settled_view.unionByName(new)
        if len(frag_slots) >= COMPACT_EVERY:
            # detach=False: the settled set only grows by unions (additive
            # stats); the detach Row round trip would tax every anti-join
            # scan of exactly the frame this compaction makes cheap
            settled_view, _ = runner.tick(
                "settled_base", settled_view, count=False, detach=False
            )
            # newest fragment stays alive: it is the live frontier for the
            # next hop's join (its blocks must not be dropped)
            for s in frag_slots[:-1]:
                runner.release(s)
            frag_slots = frag_slots[-1:]
        front = new.select("id")
        f_cnt = n_cnt
    result = settled_view.select("id", "dist")
    runner.release("edges")
    return result
