"""HITS (hubs & authorities, Kleinberg 1999), SALSA and eigenvector
centrality — link-graph companions to PageRank (north-rule tier; the
reference's domain is link-graph analytics, SURVEY.md §2.11).

Synchronous power iteration on the adjacency matrix pair:
  auth_k(v) = sum_{(u,v) in E} hub_{k-1}(u),  then L1-normalize
  hub_k(u)  = sum_{(u,v) in E} auth_k(v),     then L1-normalize
L1 normalization (not L2) keeps every operation a plain sum/division —
no sqrt — so the DuckDB oracle (unrolled CTE chain in __spark_entry__)
mirrors the arithmetic op-for-op and the final round(8) absorbs
double-sum reordering, exactly the proven PageRank-oracle pattern.

Every half-step is `pagerank.push` (the sparse matrix application the
PageRank loop runs) ticked by the runner: one tagged, traced slot per
half-step, one driver action. The state between half-steps is the
UN-normalized push (id, s) — only vertices actually receiving score —
plus its L1 total as a 1-row frame; push divides by that total per edge
row, (s/t)*w, before the sum, so the normalized full-universe frame
coalesce(s, 0)/t is built once at the end instead of every half-step.
Duplicate edges contribute multiplicity, matching the reference
loader's keep-duplicates semantics (the reference's src/load.cpp:43).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..graph import symmetric_edges, undirected_degrees, undirected_edges
from ..plans.superstep import SuperstepRunner
from .pagerank import out_degree_fold, push


def _normalized(v: DataFrame, x: DataFrame, total: DataFrame, out: str) -> DataFrame:
    """Full-universe normalized scores: coalesce(s, 0)/t over verts."""
    return (
        v.join(x, "id", "left")
        .crossJoin(F.broadcast(total))
        .select("id", (F.coalesce(F.col("s"), F.lit(0.0)) / F.col("t")).alias(out))
    )


def _half_step(runner, slot, edges, x, n, key_in, key_out, weight=None, total=None):
    """`push` materialized as slot `slot` (its previous value released);
    returns (pushed frame, its 1-row L1 total)."""
    x, _ = runner.tick(slot, push(edges, x, n, key_in, key_out, weight, total), count=False)
    return x, x.agg(F.sum("s").alias("t"))


def _hub_authority(spark: SparkSession, run_id: str, edges: DataFrame, verts: DataFrame,
                   iters: int, salsa: bool = False) -> DataFrame:
    """(id, auth, hub) after `iters` alternating auth/hub half-steps over
    edges(src, dst) from the uniform hub start; `salsa` weights the auth
    push by 1/outdeg(src) and the hub push by 1/indeg(dst). The edges are
    persisted twice — the dual forward/backward adjacency layout the
    reference itself keeps: the auth push joins on src and aggregates by
    dst, the hub push the reverse. Cost: the edge bytes twice, the
    CSR+CSC trade. The result reads the slots "verts", "auth" and "hub",
    which stay live."""
    if iters < 1:
        raise ValueError(f"{run_id}: iters must be >= 1, got {iters}")
    e = edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
    )
    runner = SuperstepRunner(spark, run_id=run_id)
    v, n = runner.tick("verts", verts.select(F.col("id").cast("long").alias("id")), detach=False)
    if n == 0:
        # ANSI mode constant-folds the 1/n seed at plan time, so an empty
        # universe must short-circuit rather than build a 1/0 literal
        return v.select("id", F.lit(0.0).alias("auth"), F.lit(0.0).alias("hub"))
    w_auth = w_hub = None
    if salsa:
        # the PageRank out-degree fold gives w_out; duplicate edges keep
        # multiplicity in both the degree and the push
        ew, _ = out_degree_fold(e)
        indeg = e.groupBy("dst").agg(F.count(F.lit(1)).alias("ind"))
        e = ew.join(indeg, "dst").select(
            "src", "dst", F.col("w").alias("w_out"), (F.lit(1.0) / F.col("ind")).alias("w_in")
        )
        w_auth, w_hub = "w_out", "w_in"
    try:
        auth_e = runner.keyed_edges("auth_e", e, "dst", "src", n)
        hub_e = runner.keyed_edges("hub_e", e, "src", "dst", n)
        hub = v.select("id", (F.lit(1.0) / F.lit(float(n))).alias("s"))
        h_t = None
        for _ in range(iters):
            auth, a_t = _half_step(runner, "auth", auth_e, hub, n, "src", "dst", w_auth, h_t)
            hub, h_t = _half_step(runner, "hub", hub_e, auth, n, "dst", "src", w_hub, a_t)
    finally:
        # the result reads only the live verts/auth/hub slots, never the
        # edge copies
        runner.release("auth_e")
        runner.release("hub_e")
    return (
        _normalized(v, auth, a_t, "auth")
        .join(_normalized(v, hub, h_t, "hub"), "id")
        .select("id", "auth", "hub")
    )


def hits(
    spark: SparkSession,
    edges: DataFrame,
    verts: DataFrame,
    iters: int = 10,
) -> DataFrame:
    """(id, auth, hub) after `iters` L1-normalized sync iterations.

    Vertices with no in-edges have auth 0 (and symmetrically for hub);
    both columns are defined over the full vertex universe `verts(id)`.
    """
    return _hub_authority(spark, "hits", edges, verts, iters)


def eigencentrality(
    spark: SparkSession,
    edges: DataFrame,
    iters: int = 10,
) -> DataFrame:
    """Eigenvector centrality of the undirected simple view: (id, score)
    after `iters` L1-normalized power iterations x ← A·x / ‖A·x‖₁ from
    the uniform start. L1 (not L2) keeps every op a sum/division so the
    unrolled-CTE DuckDB oracle mirrors it exactly (the HITS pattern —
    one half-step per iteration over the symmetric view)."""
    und = undirected_edges(edges)
    runner = SuperstepRunner(spark, run_id="eigen")
    v, n = runner.tick("verts", undirected_degrees(und).select("id"), detach=False)
    if n == 0:
        # see _hub_authority: the 1/n seed would constant-fold to 1/0 under ANSI
        return v.select("id", F.lit(0.0).alias("score"))
    try:
        # every iteration reads the symmetrized table: persist it once
        sym = runner.keyed_edges("sym", symmetric_edges(und), "dst", "src", n)
        x = v.select("id", (F.lit(1.0) / F.lit(float(n))).alias("s"))
        total = None
        for _ in range(iters):
            x, total = _half_step(runner, "score", sym, x, n, "src", "dst", total=total)
    finally:
        runner.release("sym")
    return _normalized(v, x, total, "score")


def salsa(
    spark: SparkSession,
    edges: DataFrame,
    verts: DataFrame,
    iters: int = 10,
) -> DataFrame:
    """SALSA (Lempel & Moran 2000): HITS with COLUMN-normalized pushes —
    each push divides a vertex's score by its degree before sending, so
    the walk is the stochastic hub<->authority random walk rather than
    the raw adjacency power iteration. (id, auth, hub) after `iters`
    L1-normalized sync iterations over the vertex universe `verts(id)`.

    Same half-steps as hits(), with the degree weights folded into the
    edge table ONCE (w_out = 1/outdeg(src), w_in = 1/indeg(dst)); each
    push sums (s/t)*w.
    """
    return _hub_authority(spark, "salsa", edges, verts, iters, salsa=True)
