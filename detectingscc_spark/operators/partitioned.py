"""Partitioned SCC: partition-local Tarjan plus a global phase — the
Spark-native re-architecture of the reference's `detectSCC`
(/root/reference/src/scc_WCC.cu:1000-1577).

The reference runs METIS-partition-confined FB rounds, then materializes
per-vertex reachability closures as host std::sets and intersects them
pairwise up a partition-merge tree (/root/reference/src/scc_WCC.cu:
1276-1329, 1345-1528) — quadratic memory and a 10,001-edge device cap.

Default (no `partitions`): plain `strongly_connected_components`. Its
partitions are the FB engine's own ranges: one FB round splits the graph
into the pivot's SCC and its forward-only, backward-only and unreached
ranges, and no SCC crosses a range — so every range is a partition that
provably confines its SCCs, which a METIS edge cut can only approximate.
From round 2 on the engine finishes every range within its caps
(`scc.FINISH_MAX_EDGES` / `scc.FINISH_MAX_VERTS`) in ONE executor-side
Tarjan job keyed by range and emits its labels as final; no contraction
is needed. On the 5k-file corpus graph (seed 42) round 1 leaves 5
vertices in 2 ranges, so the call is one FB round plus one finish.

With `partitions=(id, part)` (the METIS analog, the reference's
src/load.cpp:115-130) the labels are data and need not confine SCCs,
so the merge is ONE contraction — the "predicate relaxation"
translation SURVEY.md §3.3 calls for:

  1. local phase: Tarjan per part-induced subgraph (`scc.tarjan_groups`
     keyed by part); local label = min member id of the part-local SCC.
     A part over either finish cap keeps identity labels (a no-op
     contraction) and the global phase absorbs it, so a pathological
     labelling degrades to global-engine throughput instead of OOMing
     an executor.
  2. contraction: every edge (u,v) -> (L(u), L(v)); local SCCs are always
     subsets of global SCCs, so contracting them preserves the SCC
     structure (the condensation-of-subgraph lemma).
  3. global phase: the distributed FB-Trim engine on the contracted
     graph; final scc_id(v) = scc_id(L(v)), which stays the min member id
     because local labels are themselves min member ids.

Equivalence with the global engine is tested (tests/test_partitioned.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..graph import canonical_edges, vertex_universe
from ..plans.superstep import SuperstepRunner
from .scc import small_groups, strongly_connected_components, tarjan_groups


def scc_partitioned(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    *,
    partitions: DataFrame | None = None,
    n_parts: int | None = None,
    **scc_kwargs,
) -> DataFrame:
    """(id, scc_id) with scc_id = min member id; identical to
    strongly_connected_components, computed partition-first.

    Default: the FB engine itself, whose range finish is the local phase.
    `partitions`: optional (id, part) label table for the METIS-style
    local phase + contraction; a vertex it does not label takes its own
    id as part (any labelling is valid, see the module docstring).

    `n_parts` is accepted and ignored (benchmark callers pass it).
    """
    if partitions is None:
        return strongly_connected_components(spark, edges, vertices, **scc_kwargs)

    # both phases tick on the global engine's runner: every job is tagged
    runner = scc_kwargs["runner"] = scc_kwargs.get("runner") or SuperstepRunner(spark, scc_kwargs.get("checkpoint_dir"))
    E = canonical_edges(edges)
    vp = vertex_universe(E, vertices).join(
        partitions.select(F.col("id").cast("long"), F.col("part").cast("long")), "id", "left"
    ).select("id", F.coalesce("part", "id").alias("part"))
    # ---- phase 1: partition-local SCC (Tarjan per part, executor-side) ----
    local_edges = (
        E.join(vp.select(F.col("id").alias("src"), F.col("part").alias("sp")), "src")
        .join(vp.select(F.col("id").alias("dst"), F.col("part").alias("dp")), "dst")
        .where(F.col("sp") == F.col("dp"))
        .select(F.col("sp").alias("part"), "src", "dst")
    )
    small = small_groups(local_edges, vp, "part")
    # a part over either cap keeps identity labels: contraction maps its
    # edges to themselves, so the global phase sees its full subgraph
    local = (
        tarjan_groups(local_edges, vp, small, "part").select("id", F.col("scc_id").alias("lbl"))
        .unionByName(vp.join(small, "part", "left_anti").select("id", F.col("id").alias("lbl")))
    )
    # the lazy result reads `local`, so its slot stays live
    local, _ = runner.tick("local", local, count=False, detach=False)

    # ---- phase 2: contract local SCCs, run the global engine ----------
    lu = local.select(F.col("id").alias("src"), F.col("lbl").alias("lsrc"))
    lv = local.select(F.col("id").alias("dst"), F.col("lbl").alias("ldst"))
    condensed = (
        E.join(lu, "src").join(lv, "dst")
        .select(F.col("lsrc").alias("src"), F.col("ldst").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    # materialize the contraction once: the global engine's setup reads
    # its edge input several times (canonicalize, vertex derivation,
    # round-1 residual) and would otherwise re-run the two label joins
    # + distinct per read
    condensed, _ = runner.tick("condensed", condensed, count=False, detach=False)
    cond_verts = local.select(F.col("lbl").alias("id")).distinct()
    global_scc = strongly_connected_components(spark, condensed, cond_verts, **scc_kwargs)
    runner.release("condensed")

    # ---- map back -----------------------------------------------------
    return local.join(global_scc.withColumnRenamed("id", "lbl"), "lbl").select("id", "scc_id")
