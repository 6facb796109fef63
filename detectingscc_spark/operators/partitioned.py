"""Partitioned SCC: partition-local compute + condensation merge — the
Spark-native re-architecture of the reference's `detectSCC`
(/root/reference/src/scc_WCC.cu:1000-1577).

The reference runs METIS-partition-confined FB rounds, then materializes
per-vertex reachability closures as host std::sets and intersects them
pairwise up a partition-merge tree (/root/reference/src/scc_WCC.cu:
1276-1329, 1345-1528) — quadratic memory and a 10,001-edge device cap.
Here the merge is replaced by ONE contraction, which is exactly the
"predicate relaxation" translation SURVEY.md §3.3 calls for:

  1. local phase: Tarjan per partition-induced subgraph inside
     applyInPandas (each partition's subgraph fits one executor by
     construction — the same assumption detectSCC makes of a METIS part);
     local label = min member id of the partition-local SCC.
  2. contraction: every edge (u,v) -> (L(u), L(v)); local SCCs are always
     subsets of global SCCs, so contracting them preserves the SCC
     structure (the condensation-of-subgraph lemma).
  3. global phase: the distributed FB-Trim engine on the (much smaller)
     contracted graph; final scc_id(v) = scc_id(L(v)), which stays the
     min member id because local labels are themselves min member ids.

Degradation: the local phase assumes a partition-induced subgraph fits
one Arrow cogroup batch — the same assumption detectSCC makes of a METIS
part. Unlike the reference (which would abort), a part whose edge or
vertex count exceeds `max_local_edges` / `max_local_verts` is NOT sent
to the Tarjan kernel: its vertices keep identity labels (lbl = id, a
no-op contraction) and the distributed global phase absorbs the whole
part. Pathological partitionings therefore degrade to global-engine
throughput instead of OOMing an executor; correctness is unaffected
because contracting nothing is always valid.

Equivalence with the global engine is tested (tests/test_partitioned.py).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..graph import canonical_edges, vertex_universe
from .scc import _tarjan_local, strongly_connected_components


def scc_partitioned(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    *,
    n_parts: int = 32,
    partitions: DataFrame | None = None,
    max_local_edges: int = 5_000_000,
    max_local_verts: int = 5_000_000,
    **scc_kwargs,
) -> DataFrame:
    """(id, scc_id) with scc_id = min member id; identical to
    strongly_connected_components, computed partition-first.

    `partitions`: optional (id, part) label table (the METIS analog,
    /root/reference/src/load.cpp:115-130); default hash partitioning
    id % n_parts. Parts larger than max_local_edges / max_local_verts
    bypass the Arrow-batch local phase (identity labels) and are handled
    entirely by the distributed global phase — see module docstring.
    """
    E = canonical_edges(edges)
    verts = vertex_universe(E, vertices)

    if partitions is not None:
        vp = verts.join(
            partitions.select(F.col("id").cast("long"), F.col("part").cast("long")), "id", "left"
        ).select("id", F.coalesce("part", F.col("id") % n_parts).alias("part"))
        # ---- phase 1: partition-local SCC (Tarjan per subgraph, Arrow) ----
        local_edges = (
            E.join(vp.select(F.col("id").alias("src"), F.col("part").alias("sp")), "src")
            .join(vp.select(F.col("id").alias("dst"), F.col("part").alias("dp")), "dst")
            .where(F.col("sp") == F.col("dp"))
            .select(F.col("sp").alias("part"), "src", "dst")
        )
    else:
        # default hash partitioning is a PURE FUNCTION of the id — derive
        # the part labels as expressions instead of two label-table joins
        # (same rows, two exchanges fewer; the METIS-label path above
        # keeps the join form because its labels are data)
        vp = verts.select("id", (F.col("id") % n_parts).cast("long").alias("part"))
        local_edges = E.where(
            (F.col("src") % n_parts) == (F.col("dst") % n_parts)
        ).select((F.col("src") % n_parts).cast("long").alias("part"), "src", "dst")

    # graceful degradation: a part too big for one Arrow batch is exempted
    # from the local phase (identity labels) and left to the global engine.
    # ONE job decides: edge rows and vertex rows union (tagged) into a
    # single ≤ n_parts-row agg — every part appears in vp, so no outer
    # join is needed. Empty on healthy inputs.
    sizes = (
        local_edges.select("part", F.lit(1).alias("e"))
        .unionByName(vp.select("part", F.lit(0).alias("e")))
        .groupBy("part")
        .agg(F.sum("e").alias("ne"), F.sum(1 - F.col("e")).alias("nv"))
    )
    oversized = [
        int(r["part"])
        for r in sizes.where(
            (F.col("ne") > max_local_edges) | (F.col("nv") > max_local_verts)
        )
        .select("part")
        .collect()
    ]

    def local_scc(key, epdf: pd.DataFrame, vpdf: pd.DataFrame) -> pd.DataFrame:
        ids = vpdf["id"].tolist()
        rows = list(zip(epdf["src"].tolist(), epdf["dst"].tolist())) if len(epdf) else []
        labels = _tarjan_local(rows, ids)
        return pd.DataFrame({"id": ids, "lbl": [labels[v] for v in ids]})

    vp_small, le_small = vp, local_edges
    if oversized:
        vp_small = vp.where(~F.col("part").isin(oversized))
        le_small = local_edges.where(~F.col("part").isin(oversized))
    local = (
        le_small.groupBy("part")
        .cogroup(vp_small.groupBy("part"))
        .applyInPandas(local_scc, "id long, lbl long")
    )
    if oversized:
        # identity labels: contraction maps the part's edges to themselves,
        # so the global phase sees the part's full subgraph unchanged
        local = local.unionByName(
            vp.where(F.col("part").isin(oversized)).select("id", F.col("id").alias("lbl"))
        )
    local = local.persist()
    local.count()

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
    condensed = condensed.localCheckpoint(eager=True)
    cond_verts = local.select(F.col("lbl").alias("id")).distinct()
    global_scc = strongly_connected_components(spark, condensed, cond_verts, **scc_kwargs)

    # ---- map back -----------------------------------------------------
    out = (
        local.join(global_scc.withColumnRenamed("id", "lbl"), "lbl")
        .select("id", "scc_id")
    )
    return out
